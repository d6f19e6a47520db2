"""Cross-dashboard analytics: conflicts, duplicate logic, canonical
definitions, semantic debt.

The reference does all of this with O(n²) nested Python loops over
object lists (/root/reference/powerbi_ontology/analyzer.py:79-295,
/root/reference/powerbi_ontology/semantic_debt.py:306-530); here every
family is a hash self-join or group-by.

Dashboard identity ("source") = ``repo || '/' || dataset``.

Scale notes:
- a hot name (thousands of dashboards defining "Total Sales") would
  explode a self-join, so the pairwise conflict families join distinct
  (name, fingerprint) groups (`_fingerprint_group_pairs`) and
  `max_group` caps each group's members (pair output is inherently
  quadratic per group pair; the cap is a policy choice surfaced to the
  caller).
- group-by families (duplicates, canonical, debt counts) are
  partial-aggregated map-side by Catalyst.
- SequenceMatcher similarity (rule conflicts) runs in an Arrow-batched
  UDF over the *grouped* conditions — exact pairwise scoring only
  inside name blocks, never across the corpus (the LSH blocking
  variant for unbounded blocks lives in canonicalize.py).
"""

from __future__ import annotations

from difflib import SequenceMatcher

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window

from powerbi_ontology_extractor_spark.functions.naming import normalize_formula
from powerbi_ontology_extractor_spark.functions.salt import CAP, capped_collect


def _src() -> Column:
    return F.concat_ws("/", F.col("repo"), F.col("dataset"))


def _with_src(df: DataFrame) -> DataFrame:
    # cross-dashboard analytics operate on model-extracted rows only
    # (the reference analyzes SemanticModel objects; standalone lang='dax'
    # corpus rows have no dashboard identity)
    return df.where(F.col("dataset") != "Standalone").withColumn("src", _src())


def _fingerprint_group_pairs(
    e: DataFrame, key: str, max_group: int, fp: str = "props", item: str = "src"
) -> DataFrame:
    """(key, item1, fp1, item2, fp2) over ``e``'s (key, item, fp)
    rows: one row per item pair of the same key with DIFFERENT
    fingerprints ``fp``, oriented item1 <= item2.

    The join pairs distinct (key, fp) FINGERPRINT GROUPS, never raw
    item rows, so a hot key with one dominant structure emits zero
    pairs instead of a quadratic self-join.  Each group's items are the
    ``max_group`` smallest (capped_collect); pair output is inherently
    |g1|×|g2| per group pair, so the cap is the surfaced policy."""
    groups = capped_collect(e, [key, fp], [item], max_group)
    a, b = groups.alias("a"), groups.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col(f"a.{fp}") < F.col(f"b.{fp}")),
        )
        .select(
            F.col(f"a.{key}").alias(key),
            F.col(f"a.{fp}").alias("fp_a"),
            F.col(f"b.{fp}").alias("fp_b"),
            F.explode(F.col(f"a.{item}")).alias("item_a"),
            F.col(f"b.{item}").alias("items_b"),
        )
        .select(
            key, "fp_a", "fp_b", "item_a",
            F.explode(F.col("items_b")).alias("item_b"),
        )
    )
    swap = F.col("item_a") > F.col("item_b")
    return pairs.select(
        key,
        F.least("item_a", "item_b").alias(f"{item}1"),
        F.when(swap, F.col("fp_b")).otherwise(F.col("fp_a")).alias(f"{fp}1"),
        F.greatest("item_a", "item_b").alias(f"{item}2"),
        F.when(swap, F.col("fp_a")).otherwise(F.col("fp_b")).alias(f"{fp}2"),
    )


def measure_conflicts(measures: DataFrame, max_group: int = CAP) -> DataFrame:
    """Same measure name (case-insensitive), different formulas — one
    row per conflicting *pair* (analyzer.py:79-121).

    Severity heuristic (analyzer.py:319-335): equal case-insensitively →
    LOW; both have '>' and first extracted integer thresholds differ by
    >20 → HIGH; else MEDIUM.

    Pairs come from the (concept, formula) fingerprint groups
    (_fingerprint_group_pairs, items ``struct(src, name)``): a hot
    concept with one dominant formula emits no pairs, and each group's
    items are its ``max_group`` smallest.  A pair is oriented by its
    (src, name) order; two rows of one (src, name) never pair.
    """
    m = _with_src(measures).select(
        F.lower(F.col("measure")).alias("concept"),
        F.struct("src", F.col("measure").alias("name")).alias("member"),
        F.col("dax_formula").alias("formula"),
    )
    pairs = _fingerprint_group_pairs(
        m, "concept", max_group, fp="formula", item="member"
    ).where(F.col("member1") != F.col("member2"))
    f1, f2 = F.col("formula1"), F.col("formula2")
    th1 = F.regexp_extract(f1, r"[><=]+\s*(\d+)", 1)
    th2 = F.regexp_extract(f2, r"[><=]+\s*(\d+)", 1)
    severity = (
        F.when(F.lower(f1) == F.lower(f2), "LOW")
        .when(
            f1.contains(">")
            & f2.contains(">")
            & (th1 != "")
            & (th2 != "")
            & (F.abs(th1.cast("long") - th2.cast("long")) > 20),
            "HIGH",
        )
        .otherwise("MEDIUM")
    )
    return pairs.select(
        "concept",
        F.col("member1.src").alias("dashboard1"),
        f1.alias("definition1"),
        F.col("member2.src").alias("dashboard2"),
        f2.alias("definition2"),
        severity.alias("severity"),
        F.concat(
            F.lit("'"),
            F.col("concept"),
            F.lit("' defined differently in "),
            F.col("member1.src"),
            F.lit(" vs "),
            F.col("member2.src"),
        ).alias("description"),
    )


def entity_structure_conflicts(
    properties: DataFrame, max_group: int = CAP
) -> DataFrame:
    """Same entity name (ci), different {property→type} maps — pairwise
    (analyzer.py:123-150).  The map compare is a sorted-struct-array
    equality (order-insensitive, as the reference's dict compare);
    pairs come from the fingerprint groups (_fingerprint_group_pairs),
    src exemplars per group capped at ``max_group``."""
    e = (
        _with_src(properties)
        .groupBy(F.lower(F.col("entity")).alias("concept"), "src")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("property", "data_type"))
            ).alias("props"),
        )
    )
    pairs = _fingerprint_group_pairs(e, "concept", max_group)
    n1 = F.size(F.col("props1")).cast("string")
    n2 = F.size(F.col("props2")).cast("string")
    return pairs.select(
        "concept",
        F.col("src1").alias("dashboard1"),
        F.concat(n1, F.lit(" properties")).alias("definition1"),
        F.col("src2").alias("dashboard2"),
        F.concat(n2, F.lit(" properties")).alias("definition2"),
        F.lit("MEDIUM").alias("severity"),
        F.concat(
            F.lit("Entity '"),
            F.col("concept"),
            F.lit("' has different properties across dashboards"),
        ).alias("description"),
    )


def duplicate_logic(measures: DataFrame) -> DataFrame:
    """Group by normalized formula; >1 occurrence ⇒ duplication
    (analyzer.py:154-200).

    Hot-key shape: a formula shared by 10⁶ dashboards is one group, so
    the src, name and formula lists are capped_collect-ed (salted
    two-phase, sorted, capped); ``n_dashboards`` is the exact group
    size, so counts never depend on the cap, and ``dax_formula`` is the
    least formula of the group.
    """
    m = _with_src(measures).select(
        "src",
        F.col("measure").alias("name"),
        F.col("dax_formula").alias("formula"),
        normalize_formula(F.col("dax_formula")).alias("norm"),
    )
    g = (
        capped_collect(m, ["norm"], ["src", "name", "formula"])
        .select(
            F.col("src").alias("dashboards"),
            F.col("name").alias("names"),
            F.try_element_at("formula", F.lit(1)).alias("dax_formula"),
            F.col("n").alias("n_dashboards"),
        )
        .where(F.col("n_dashboards") > 1)
    )
    same_name = F.size(F.array_distinct(F.col("names"))) == 1
    return g.select(
        F.when(same_name, F.element_at("names", 1))
        .otherwise(
            F.concat(
                F.element_at("names", 1),
                F.lit(" (and "),
                (F.col("n_dashboards") - 1).cast("string"),
                F.lit(" others)"),
            )
        )
        .alias("measure_name"),
        "dashboards",
        "dax_formula",
        "n_dashboards",
        F.when(
            same_name,
            F.concat(
                F.lit("Same measure '"),
                F.element_at("names", 1),
                F.lit("' duplicated across "),
                F.col("n_dashboards").cast("string"),
                F.lit(" dashboards"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("Same logic with different names: "),
                F.array_join("names", ", "),
            )
        )
        .alias("description"),
    )


def canonical_definitions(measures: DataFrame) -> DataFrame:
    """Per multiply-defined measure name: the *mode* of the normalized
    formula is the suggested canonical; confidence = mode_count / total
    (analyzer.py:240-295).  mode-per-group = count → row_number window.
    ``dashboards_using`` and ``alternative_sources`` are sorted and
    capped at salt.CAP (capped_collect), so neither depends on
    partitioning.  A null measure name is one group like any other.
    """
    m = _with_src(measures).select(
        F.lower(F.col("measure")).alias("name"),
        "src",
        F.col("dax_formula").alias("formula"),
        normalize_formula(F.col("dax_formula")).alias("norm"),
    )
    # a KPI name used by 10⁶ dashboards must not funnel one reducer:
    # exemplar srcs capped, exact cnt carried
    counts = capped_collect(m, ["name", "norm"], ["src"]).select(
        "name", "norm", F.col("n").alias("cnt"), F.col("src").alias("srcs")
    )
    # the windows run over (name, norm) AGGREGATES (distinct formulas
    # per name), not raw rows — cardinality-bounded, not a skew risk;
    # both partition by name, so the total shares the rank's exchange
    by_name = Window.partitionBy("name")
    ranked = (
        counts.withColumn("total", F.sum("cnt").over(by_name))
        .where(F.col("total") > 1)
        .withColumn(
            "rk", F.row_number().over(by_name.orderBy(F.desc("cnt"), "norm"))
        )
    )
    winners = ranked.where(F.col("rk") == 1).select(
        "name",
        F.col("norm").alias("suggested_definition"),
        F.col("srcs").alias("dashboards_using"),
        (F.col("cnt") / F.col("total")).alias("confidence"),
    )
    alternatives = capped_collect(
        ranked.where(F.col("rk") > 1).select("name", F.explode("srcs").alias("src")),
        ["name"],
        ["src"],
    ).select(F.col("name").alias("alt_name"), F.col("src").alias("alt_srcs"))
    # null-safe: a plain key join infers isnotnull(name) on the
    # alternatives side only, and that filter, pushed down to the scan,
    # makes the two capped_collect subtrees differ (planned twice)
    return winners.join(
        alternatives, F.col("name").eqNullSafe(F.col("alt_name")), "left"
    ).select(
        *winners.columns,
        F.coalesce(F.col("alt_srcs"), F.array()).alias("alternative_sources"),
    )


def semantic_debt(conflicts: DataFrame, duplications: DataFrame) -> DataFrame:
    """$50K × conflicts + $10K × duplications, counts by severity
    (analyzer.py:202-238) — one scalar row."""
    by_sev = (
        conflicts.groupBy("severity")
        .count()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("severity", "count"))
            ).alias("conflicts_by_severity")
        )
    )
    n_conf = conflicts.select(F.count("*").alias("total_conflicts"))
    n_dup = duplications.select(F.count("*").alias("total_duplications"))
    return (
        n_conf.crossJoin(n_dup)
        .crossJoin(by_sev)
        .select(
            "total_conflicts",
            "total_duplications",
            F.lit(50000.0).alias("cost_per_conflict"),
            (
                F.col("total_conflicts") * 50000.0
                + F.col("total_duplications") * 10000.0
            ).alias("total_cost"),
            "conflicts_by_severity",
        )
    )


# --- semantic_debt.py-family conflicts (ontology-level) ----------------------


def entity_conflicts_debt(
    properties: DataFrame, max_group: int = CAP
) -> DataFrame:
    """Same entity name (exact), different property *sets*; severity by
    overlap ratio |∩|/|∪| (<0.5 CRITICAL, <0.8 WARNING, else INFO)
    (semantic_debt.py:334-386,506-526).  Jaccard via array_intersect /
    array_union on pre-aggregated name sets.

    Skew shape: conflicts only exist between *distinct* property sets,
    so the join pairs (name, props) FINGERPRINT GROUPS, not raw (name,
    src) rows.  An entity named "Date" defined identically in 10⁵
    dashboards — the expected hot key at corpus scale — collapses to
    ONE group and emits zero pairs instead of 10¹⁰ joined-then-filtered
    rows; distinct definitions per name are few
    (_fingerprint_group_pairs; src exemplars per group capped at
    ``max_group``).  Equivalent to a (src < src) self-join filtered on
    a non-empty only_in: same-group pairs are exactly the ones that
    filter drops."""
    e = (
        _with_src(properties)
        .groupBy(F.col("entity").alias("name"), "src")
        .agg(F.array_sort(F.collect_set("property")).alias("props"))
    )
    pairs = _fingerprint_group_pairs(e, "name", max_group)
    p1, p2 = F.col("props1"), F.col("props2")
    only1 = F.array_sort(F.array_except(p1, p2))
    only2 = F.array_sort(F.array_except(p2, p1))
    common = F.size(F.array_intersect(p1, p2))
    total = F.size(F.array_union(p1, p2))
    ratio = common / total
    severity = (
        F.when(total == 0, "INFO")
        .when(ratio < 0.5, "CRITICAL")
        .when(ratio < 0.8, "WARNING")
        .otherwise("INFO")
    )
    return (
        pairs.where((F.size(only1) > 0) | (F.size(only2) > 0))
        .select(
            F.lit("entity_conflict").alias("conflict_type"),
            severity.alias("severity"),
            "name",
            F.array("src1", "src2").alias("sources"),
            only1.alias("only_in_1"),
            only2.alias("only_in_2"),
            ratio.alias("overlap_ratio"),
        )
    )


def property_type_conflicts(properties: DataFrame) -> DataFrame:
    """Same (entity, property), >1 distinct type — always CRITICAL
    (semantic_debt.py:388-422)."""
    return (
        _with_src(properties)
        .groupBy("entity", "property")
        .agg(
            F.count_distinct("data_type").alias("n_types"),
            F.array_sort(F.collect_set("data_type")).alias("types"),
            F.array_sort(F.collect_set("src")).alias("sources"),
        )
        .where(F.col("n_types") > 1)
        .select(
            F.lit("type_conflict").alias("conflict_type"),
            F.lit("CRITICAL").alias("severity"),
            F.concat_ws(".", "entity", "property").alias("name"),
            "sources",
            "types",
        )
    )


def relationship_conflicts(relationships: DataFrame) -> DataFrame:
    """Same (from, to) endpoints, >1 distinct cardinality — WARNING
    (semantic_debt.py:424-460)."""
    return (
        _with_src(relationships)
        .groupBy("from_entity", "to_entity")
        .agg(
            F.count_distinct("cardinality").alias("n_cards"),
            F.array_sort(F.collect_set("cardinality")).alias("cardinalities"),
            F.array_sort(F.collect_set("src")).alias("sources"),
        )
        .where(F.col("n_cards") > 1)
        .select(
            F.lit("relationship_conflict").alias("conflict_type"),
            F.lit("WARNING").alias("severity"),
            F.concat_ws(" → ", "from_entity", "to_entity").alias("name"),
            "sources",
            "cardinalities",
        )
    )


@F.pandas_udf(DoubleType())
def _seq_similarity(a: pd.Series, b: pd.Series) -> pd.Series:
    """difflib SequenceMatcher ratio, Arrow-batched
    (semantic_debt.py:528-530)."""
    return pd.Series(
        [
            SequenceMatcher(None, (x or "").lower(), (y or "").lower()).ratio()
            for x, y in zip(a, b)
        ]
    )


def rule_conflicts(
    business_rules: DataFrame, similarity_threshold: float = 0.8
) -> DataFrame:
    """Same rule name, >1 distinct condition; severity by
    SequenceMatcher similarity of the first two distinct conditions
    (semantic_debt.py:462-504).  Exact similarity only runs *inside*
    name groups — the group-by is the blocking step.

    The distinct conditions and sources of a hot rule name are
    capped_collect-ed (salted two-phase, sorted, capped) — the severity
    probe only reads the first two sorted conditions, which the cap
    never disturbs."""
    g = (
        capped_collect(
            _with_src(business_rules), ["name"], ["condition", "src"], distinct=True
        )
        .select(
            "name",
            F.col("condition").alias("conditions"),
            F.col("src").alias("sources"),
        )
        .where(F.size("conditions") > 1)
    )
    sim = _seq_similarity(
        F.element_at("conditions", 1), F.element_at("conditions", 2)
    )
    return g.withColumn("similarity", sim).select(
        F.lit("rule_conflict").alias("conflict_type"),
        F.when(F.col("similarity") < similarity_threshold, "CRITICAL")
        .otherwise("WARNING")
        .alias("severity"),
        "name",
        "sources",
        "conditions",
        "similarity",
    )


def analyze_debt(
    properties: DataFrame,
    relationships: DataFrame,
    business_rules: DataFrame,
    similarity_threshold: float = 0.8,
) -> DataFrame:
    """Union of the four ontology-level conflict families
    (semantic_debt.py:306-332), normalized to a common schema."""
    common = ["conflict_type", "severity", "name", "sources"]
    return (
        entity_conflicts_debt(properties)
        .select(*common)
        .unionByName(property_type_conflicts(properties).select(*common))
        .unionByName(relationship_conflicts(relationships).select(*common))
        .unionByName(
            rule_conflicts(business_rules, similarity_threshold).select(*common)
        )
    )
