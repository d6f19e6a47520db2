"""Git-like ontology diff + three-way merge as set algebra over
DataFrames.

Reference semantics: /root/reference/powerbi_ontology/ontology_diff.py
— dict-keyed add/remove/modify walks (:240-574) and an
added-from-theirs three-way merge (:601-720).  Here ``FAMILIES``
describes every element family once and each family is one full-outer
join; the whole corpus (every (repo, dataset) pair) diffs in a single
job instead of one Python process per ontology pair.

Change row: keys… + (change_type, element_type, element_name, path,
old_value, new_value, details) — field-for-field the reference's
``Change`` record (:46-68).

Scale notes: joins shuffle on (keys, element-key); properties are
semi-joined to common entities first (the reference never reports
properties of added/removed entities).  A family's Change rows come
out of one ``inline`` projection after the join (narrow).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

CHANGE_COLS = [
    "change_type",
    "element_type",
    "element_name",
    "path",
    "old_value",
    "new_value",
    "details",
]


class Family(NamedTuple):
    """One element family of the Change grammar.  SQL texts run over
    the joined row: the coalesced key columns under their plain names,
    each side's other columns prefixed ``s_`` / ``t_`` (``{s}`` in
    ``summary`` is that prefix)."""

    element_type: str
    key: dict[str, str]  # join column → its SQL over a side; last = element
    path: str
    summary: str  # old/new value of a removed/added element
    fields: tuple[tuple[str, str, str], ...]  # modified: column, path suffix, detail
    details: str | None  # side column behind added/removed details


#: The Change grammar (ontology_diff.py:240-574): family-dict key → spec,
#: in diff order.
FAMILIES = {
    "entities": Family(
        "entity", {"entity": "entity"}, "entity",
        "concat('type=', {s}entity_type, ', properties=', "
        "CAST({s}n_properties AS STRING))",
        (("entity_type", ".entity_type", "Entity type changed"),
         ("description", ".description", "Description updated")),
        "description",
    ),
    "properties": Family(
        "property", {"entity": "entity", "property": "property"},
        "concat(entity, '.', property)",
        "concat('type=', {s}data_type, ', required=', {s}required)",
        (("data_type", ".data_type", "Data type changed"),
         ("required", ".required", "Required flag changed"),
         ("unique", ".unique", "Unique flag changed")),
        "description",
    ),
    "relationships": Family(
        "relationship",
        {"rel_key": "concat_ws('→', from_entity, to_entity)"}, "rel_key",
        "concat('type=', {s}relationship_type, ', cardinality=', {s}cardinality)",
        (("relationship_type", ".type", "Relationship type changed"),
         ("cardinality", ".cardinality", "Cardinality changed")),
        "description",
    ),
    "business_rules": Family(
        "rule", {"name": "name"}, "concat('rule:', name)",
        "concat('condition=', {s}condition, ', action=', {s}action)",
        (("condition", ".condition", "Condition changed"),
         ("action", ".action", "Action changed"),
         ("classification", ".classification", "Classification changed")),
        "description",
    ),
    "metadata": Family(
        "metadata", {"key": "key"}, "concat('metadata:', key)",
        "{s}value", (("value", "", ""),), None,
    ),
}


def _side(df: DataFrame, fam: Family, keys: Sequence[str], p: str) -> DataFrame:
    """``df`` with the family's key columns and every other column
    prefixed ``p``; booleans render as 'True'/'False' (the reference's
    str(bool))."""
    cols = {k: F.col(k) for k in keys}
    cols.update({k: F.expr(sql) for k, sql in fam.key.items()})
    for f in df.schema.fields:
        if f.name not in cols:
            c = F.col(f.name)
            if isinstance(f.dataType, BooleanType):
                c = F.initcap(c.cast("string"))
            cols[f.name] = c
    return df.select([c.alias(p + n) for n, c in cols.items()])


def _diff_family(
    fam: Family, src: DataFrame, tgt: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """One full-outer join on (keys…, family key) and one projection
    that emits every Change row of the family."""
    on = [*keys, *fam.key]
    j = _side(src, fam, keys, "s_").join(
        _side(tgt, fam, keys, "t_"),
        [F.col(f"s_{k}").eqNullSafe(F.col(f"t_{k}")) for k in on],
        "full_outer",
    )
    j = j.select(
        *[F.coalesce(F.col(f"s_{k}"), F.col(f"t_{k}")).alias(k) for k in on],
        *j.columns,
    )
    el = list(fam.key)[-1]

    def change(when: str, ctype: str, path: str, old: str, new: str, det: str):
        return (
            f"CASE WHEN {when} THEN named_struct('change_type', '{ctype}', "
            f"'element_type', '{fam.element_type}', 'element_name', {el}, "
            f"'path', {path}, 'old_value', {old}, 'new_value', {new}, "
            f"'details', {det}) END"
        )

    def details(p: str) -> str:
        return f"coalesce({p}{fam.details}, '')" if fam.details else "''"

    both = f"s_{el} IS NOT NULL AND t_{el} IS NOT NULL"
    none = "CAST(NULL AS STRING)"
    changes = [
        change(f"s_{el} IS NULL", "added", fam.path, none,
               fam.summary.format(s="t_"), details("t_")),
        change(f"t_{el} IS NULL", "removed", fam.path,
               fam.summary.format(s="s_"), none, details("s_")),
        *[
            change(f"{both} AND NOT (s_{c} <=> t_{c})", "modified",
                   f"concat({fam.path}, '{suffix}')", f"s_{c}", f"t_{c}",
                   f"'{detail}'")
            for c, suffix, detail in fam.fields
        ],
    ]
    return j.select(
        *keys, F.expr(f"inline(array_compact(array({', '.join(changes)})))")
    )


def diff_ontologies(
    src: dict[str, DataFrame],
    tgt: dict[str, DataFrame],
    keys: Sequence[str] = (),
) -> DataFrame:
    """Full diff (ontology_diff.py:217-238) of every family whose frame
    both sides carry, in FAMILIES order, unioned into one changes DF.
    Properties are diffed within the entities common to both sides
    (the reference never reports properties of added/removed
    entities)."""
    parts = []
    for frame, fam in FAMILIES.items():
        if frame not in src or frame not in tgt:
            continue
        s, t = src[frame], tgt[frame]
        if frame == "properties":
            on = [*keys, "entity"]
            common = src["entities"].select(*on).join(
                tgt["entities"].select(*on), on, "inner"
            )
            s, t = s.join(common, on, "left_semi"), t.join(common, on, "left_semi")
        parts.append(_diff_family(fam, s, t, keys))
    return reduce(DataFrame.unionByName, parts)


def diff_summary(changes: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Counts by change_type × element_type (ontology_diff.py:84-97)."""
    return changes.cube(*keys, "change_type", "element_type").count()


def diff_all_pairs(
    families: dict[str, DataFrame],
    pair_col: str = "repo",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Diff every ordered ontology pair in ONE job — the cross-dashboard
    analog of the reference CLI's per-pair Python loop
    (cli.py:137-154), re-expressed as a join fan-out so the cluster
    sees one DAG instead of O(P²) driver-scheduled jobs.

    Each family frame must carry ``pair_col`` (the ontology identity,
    default ``repo``).  ``pairs`` restricts which (src, tgt) pairs are
    diffed; by default all ``src < tgt`` pairs of the distinct keys in
    ``families["entities"]``.

    Scale note: all-pairs is inherently quadratic in ontologies — each
    family row is replicated once per pair it participates in.  At
    corpus scale pass an explicit ``pairs`` frame (e.g. the candidate
    pairs from canonicalize.py's MinHash-LSH blocking, or a
    same-org/same-team catalog join) so the fan-out is linear in the
    candidate set; the pair list is broadcast either way.

    PRECONDITION: each ``pair_col`` value identifies ONE ontology —
    the diff keys are (src_repo, tgt_repo) only, so if a single repo
    carried several datasets their same-named elements would full-outer
    join across datasets and emit spurious changes.  The ontology
    families extracted from the synthetic corpus satisfy this (each
    repo has one model dataset; its Standalone DAX rows produce no
    ontology elements); for genuinely multi-dataset inputs pass a
    composite identity as ``pair_col`` (e.g.
    ``concat_ws('/', repo, dataset)``) instead.

    Returns (src_repo, tgt_repo) + CHANGE_COLS.
    """
    keys = ["src_repo", "tgt_repo"]
    if pairs is None:
        ids = families["entities"].select(pair_col).distinct()
        pairs = (
            ids.select(F.col(pair_col).alias("src_repo"))
            .crossJoin(ids.select(F.col(pair_col).alias("tgt_repo")))
            .where(F.col("src_repo") < F.col("tgt_repo"))
        )
    pairs = pairs.select("src_repo", "tgt_repo")

    def bind(df: DataFrame, side: str) -> DataFrame:
        return df.join(
            F.broadcast(pairs), df[pair_col] == F.col(side), "inner"
        ).drop(pair_col)

    src = {k: bind(df, "src_repo") for k, df in families.items()}
    tgt = {k: bind(df, "tgt_repo") for k, df in families.items()}
    return diff_ontologies(src, tgt, keys)


# --- three-way merge ---------------------------------------------------------


def merge_conflicts(
    our_changes: DataFrame, their_changes: DataFrame, keys: Sequence[str] = ()
) -> DataFrame:
    """Paths changed on both sides = conflicts
    (ontology_diff.py:617-618): inner join on path."""
    a = our_changes.select(*keys, "path", "element_type").dropDuplicates()
    b = their_changes.select(*keys, "path").dropDuplicates()
    return a.join(b, [*keys, "path"], "inner")


def merge_element_family(
    ours: DataFrame,
    theirs: DataFrame,
    their_changes: DataFrame,
    conflicts: DataFrame,
    family: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """ours ∪ (theirs-ADDED elements whose path isn't conflicting) —
    the reference merge strategy (ontology_diff.py:642-720,
    ours-priority) for the ``FAMILIES[family]`` element frames."""
    fam = FAMILIES[family]
    added = (
        their_changes.where(
            (F.col("element_type") == fam.element_type)
            & (F.col("change_type") == "added")
        )
        .select(*keys, F.col("element_name"), "path")
        .join(conflicts.select(*keys, "path"), [*keys, "path"], "left_anti")
        .select(*keys, "element_name")
    )
    key_expr = F.expr(list(fam.key.values())[-1])
    theirs_new = theirs.withColumn("_ek", key_expr).join(
        added.withColumnRenamed("element_name", "_ek"), [*keys, "_ek"], "left_semi"
    ).drop("_ek")
    return ours.unionByName(theirs_new)


def merge_ontologies(
    base: dict[str, DataFrame],
    ours: dict[str, DataFrame],
    theirs: dict[str, DataFrame],
    keys: Sequence[str] = (),
) -> tuple[dict[str, DataFrame], DataFrame]:
    """Three-way merge (ontology_diff.py:601-640): diff(base,ours) ×
    diff(base,theirs) → conflicts; additions from theirs unioned into
    ours unless conflicting.  Returns (merged family dict, conflicts)."""
    our_changes = diff_ontologies(base, ours, keys)
    their_changes = diff_ontologies(base, theirs, keys)
    conflicts = merge_conflicts(our_changes, their_changes, keys)

    merged = {
        f: merge_element_family(
            ours[f], theirs[f], their_changes, conflicts, f, keys
        )
        for f in ("entities", "relationships", "business_rules")
    }
    # properties follow their merged entities: ours' props + props of
    # entities newly adopted from theirs
    adopted = merged["entities"].join(
        ours["entities"].select(*keys, "entity"), [*keys, "entity"], "left_anti"
    )
    merged["properties"] = ours["properties"].unionByName(
        theirs["properties"].join(adopted, [*keys, "entity"], "left_semi")
    )
    if "metadata" in base:
        # precedence base < theirs < ours (ontology_diff.py:632-637)
        ranked = (
            base["metadata"].withColumn("_pri", F.lit(0))
            .unionByName(theirs["metadata"].withColumn("_pri", F.lit(1)))
            .unionByName(ours["metadata"].withColumn("_pri", F.lit(2)))
        )
        merged["metadata"] = (
            ranked.groupBy(*keys, "key")
            .agg(F.max_by("value", "_pri").alias("value"))
        )
    return merged, conflicts
