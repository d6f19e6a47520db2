"""Diff / three-way merge / schema drift vs reference semantics
(ontology_diff.py, schema_mapper.py)."""

import pytest
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.operators import diff as D
from powerbi_ontology_extractor_spark.operators import drift as M
from powerbi_ontology_extractor_spark.operators.contracts import (
    permissions_from_dashboard,
    relevant_business_rules,
)

ENT_SCHEMA = (
    "entity string, description string, entity_type string, n_properties int"
)
PROP_SCHEMA = (
    "entity string, property string, data_type string, required boolean, "
    "unique boolean, description string"
)
REL_SCHEMA = (
    "from_entity string, to_entity string, relationship_type string, "
    "cardinality string, description string"
)
RULE_SCHEMA = (
    "name string, condition string, action string, classification string, "
    "description string"
)


def _onto(spark, entities, props, rels=(), rules=(), meta=()):
    return {
        "entities": spark.createDataFrame(entities, ENT_SCHEMA),
        "properties": spark.createDataFrame(props, PROP_SCHEMA),
        "relationships": spark.createDataFrame(list(rels), REL_SCHEMA),
        "business_rules": spark.createDataFrame(list(rules), RULE_SCHEMA),
        "metadata": spark.createDataFrame(list(meta), "key string, value string"),
    }


@pytest.fixture(scope="module")
def pair(spark):
    src = _onto(
        spark,
        entities=[("A", "a-desc", "standard", 2), ("B", "", "fact", 1)],
        props=[
            ("A", "x", "String", True, False, ""),
            ("A", "y", "Integer", False, False, ""),
            ("B", "z", "String", False, False, ""),
        ],
        rels=[("A", "B", "has", "one-to-many", "")],
        rules=[("r1", "x > 1", "filter", "", "")],
        meta=[("k1", "v1"), ("k2", "v2")],
    )
    tgt = _onto(
        spark,
        entities=[("A", "a-desc2", "dimension", 2), ("C", "", "standard", 1)],
        props=[
            ("A", "x", "Decimal", True, False, ""),   # type change
            ("A", "y", "Integer", True, False, ""),   # required change
            ("C", "w", "String", False, False, ""),
        ],
        rels=[("A", "B", "has", "many-to-many", "")],
        rules=[("r1", "x > 5", "filter", "", ""), ("r2", "y = 1", "", "", "")],
        meta=[("k1", "v1"), ("k3", "v3")],
    )
    return src, tgt


def test_diff_full(spark, pair):
    src, tgt = pair
    changes = D.diff_ontologies(src, tgt).collect()
    by_path = {}
    for c in changes:
        by_path.setdefault(c["path"], []).append(c)

    # entity add/remove
    assert by_path["C"][0]["change_type"] == "added"
    assert by_path["C"][0]["new_value"] == "type=standard, properties=1"
    assert by_path["B"][0]["change_type"] == "removed"
    # entity modifications
    assert by_path["A.entity_type"][0]["old_value"] == "standard"
    assert by_path["A.entity_type"][0]["new_value"] == "dimension"
    assert by_path["A.description"][0]["change_type"] == "modified"
    # property modifications within common entity A
    assert by_path["A.x.data_type"][0]["new_value"] == "Decimal"
    assert by_path["A.y.required"][0]["old_value"] == "False"
    assert by_path["A.y.required"][0]["new_value"] == "True"
    # properties of removed entity B / added entity C are NOT reported
    assert "B.z" not in by_path and "C.w" not in by_path
    # relationship modification
    assert by_path["A→B.cardinality"][0]["new_value"] == "many-to-many"
    # rules
    assert by_path["rule:r1.condition"][0]["new_value"] == "x > 5"
    assert by_path["rule:r2"][0]["change_type"] == "added"
    # metadata
    assert by_path["metadata:k2"][0]["change_type"] == "removed"
    assert by_path["metadata:k3"][0]["change_type"] == "added"


@pytest.fixture(scope="module")
def every_cell(spark):
    """A pair whose diff reaches every (family, change_type, field)
    cell of the Change grammar, incl. a null description (details ''),
    a boolean flipped to NULL and the properties of an added/removed
    entity (never reported)."""
    src = _onto(
        spark,
        entities=[("A", "a", "standard", 2), ("B", "b", "fact", 1),
                  ("D", None, "standard", 1)],
        props=[
            ("A", "x", "String", True, False, ""),
            ("A", "y", "Integer", False, False, ""),
            ("A", "u", "String", False, False, ""),
            ("A", "gone", "String", False, False, "old"),
            ("D", "p", "String", True, False, ""),
            ("B", "z", "String", False, False, ""),
        ],
        rels=[("A", "B", "has", "one-to-many", "r"),
              ("A", "D", "has", "many-to-one", ""),
              ("D", "A", "uses", "one-to-one", "gone")],
        rules=[("r1", "x > 1", "filter", "", ""),
               ("r2", "a = 1", "flag", "PII", ""),
               ("r3", "b = 2", "alert", "", "bye")],
        meta=[("k1", "v1"), ("k2", "v2"), ("k4", "v4")],
    )
    tgt = _onto(
        spark,
        entities=[("A", "a2", "dimension", 2), ("C", None, "standard", 1),
                  ("D", None, "standard", 1)],
        props=[
            ("A", "x", "Decimal", True, False, ""),
            ("A", "y", "Integer", True, False, ""),
            ("A", "u", "String", False, True, ""),
            ("A", "new", "Boolean", False, False, "fresh"),
            ("D", "p", "String", None, False, ""),
            ("C", "w", "String", False, False, ""),
        ],
        rels=[("A", "B", "has", "many-to-many", "r"),
              ("A", "D", "refers", "many-to-one", ""),
              ("C", "A", "has", "one-to-many", "new")],
        rules=[("r1", "x > 5", "filter", "", ""),
               ("r2", "a = 1", "block", "Confidential", ""),
               ("r4", "c = 3", "", "", "hi")],
        meta=[("k1", "v1"), ("k3", "v3"), ("k4", "v5")],
    )
    return src, tgt


EVERY_CELL_CHANGES = [
    ("added", "entity", "C", "C", None, "type=standard, properties=1", ""),
    ("added", "metadata", "k3", "metadata:k3", None, "v3", ""),
    ("added", "property", "new", "A.new", None,
     "type=Boolean, required=False", "fresh"),
    ("added", "relationship", "C→A", "C→A", None,
     "type=has, cardinality=one-to-many", "new"),
    ("added", "rule", "r4", "rule:r4", None, "condition=c = 3, action=", "hi"),
    ("modified", "entity", "A", "A.description", "a", "a2",
     "Description updated"),
    ("modified", "entity", "A", "A.entity_type", "standard", "dimension",
     "Entity type changed"),
    ("modified", "metadata", "k4", "metadata:k4", "v4", "v5", ""),
    ("modified", "property", "p", "D.p.required", "True", None,
     "Required flag changed"),
    ("modified", "property", "u", "A.u.unique", "False", "True",
     "Unique flag changed"),
    ("modified", "property", "x", "A.x.data_type", "String", "Decimal",
     "Data type changed"),
    ("modified", "property", "y", "A.y.required", "False", "True",
     "Required flag changed"),
    ("modified", "relationship", "A→B", "A→B.cardinality", "one-to-many",
     "many-to-many", "Cardinality changed"),
    ("modified", "relationship", "A→D", "A→D.type", "has", "refers",
     "Relationship type changed"),
    ("modified", "rule", "r1", "rule:r1.condition", "x > 1", "x > 5",
     "Condition changed"),
    ("modified", "rule", "r2", "rule:r2.action", "flag", "block",
     "Action changed"),
    ("modified", "rule", "r2", "rule:r2.classification", "PII",
     "Confidential", "Classification changed"),
    ("removed", "entity", "B", "B", "type=fact, properties=1", None, "b"),
    ("removed", "metadata", "k2", "metadata:k2", "v2", None, ""),
    ("removed", "property", "gone", "A.gone", "type=String, required=False",
     None, "old"),
    ("removed", "relationship", "D→A", "D→A",
     "type=uses, cardinality=one-to-one", None, "gone"),
    ("removed", "rule", "r3", "rule:r3", "condition=b = 2, action=alert",
     None, "bye"),
]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=str)


def test_diff_every_cell_exact_rows(spark, every_cell):
    """The exact Change rows, unkeyed and keyed (diff_all_pairs)."""
    src, tgt = every_cell
    changes = D.diff_ontologies(src, tgt)
    assert changes.columns == D.CHANGE_COLS
    assert _rows(changes) == sorted(EVERY_CELL_CHANGES, key=str)
    fams = {
        k: _with_repo(src[k], "r1").unionByName(_with_repo(tgt[k], "r2"))
        for k in src
    }
    keyed = D.diff_all_pairs(fams)
    assert keyed.columns == ["src_repo", "tgt_repo", *D.CHANGE_COLS]
    assert _rows(keyed) == sorted(
        (("r1", "r2", *c) for c in EVERY_CELL_CHANGES), key=str
    )


def test_diff_summary(spark, pair):
    src, tgt = pair
    changes = D.diff_ontologies(src, tgt)
    summ = {
        (r["change_type"], r["element_type"]): r["count"]
        for r in D.diff_summary(changes).collect()
        if r["change_type"] is not None and r["element_type"] is not None
    }
    assert summ[("added", "entity")] == 1
    assert summ[("removed", "entity")] == 1
    assert summ[("modified", "property")] == 2


def test_three_way_merge(spark):
    base = _onto(
        spark,
        entities=[("A", "", "standard", 1)],
        props=[("A", "x", "String", False, False, "")],
        rules=[("r1", "x > 1", "filter", "", "")],
        meta=[("k", "base"), ("only_base", "b")],
    )
    ours = _onto(
        spark,
        entities=[("A", "", "standard", 1), ("B", "", "standard", 1)],
        props=[
            ("A", "x", "String", False, False, ""),
            ("B", "y", "String", False, False, ""),
        ],
        rules=[("r1", "x > 1", "filter", "", "")],
        meta=[("k", "ours"), ("only_base", "b")],
    )
    theirs = _onto(
        spark,
        entities=[("A", "", "standard", 1), ("B", "", "fact", 2), ("C", "", "standard", 1)],
        props=[
            ("A", "x", "String", False, False, ""),
            ("B", "y", "String", False, False, ""),
            ("B", "y2", "String", False, False, ""),
            ("C", "z", "String", False, False, ""),
        ],
        rules=[("r1", "x > 1", "filter", "", ""), ("r3", "z = 1", "", "", "")],
        meta=[("k", "theirs"), ("extra", "t")],
    )
    merged, conflicts = D.merge_ontologies(base, ours, theirs)
    ent_names = {r["entity"] for r in merged["entities"].collect()}
    # C (theirs-only, non-conflicting) adopted; B conflicting (added in
    # both) → ours wins, not duplicated
    assert ent_names == {"A", "B", "C"}
    b_rows = merged["entities"].where(F.col("entity") == "B").collect()
    assert len(b_rows) == 1 and b_rows[0]["entity_type"] == "standard"  # ours
    # properties: C's props adopted, B keeps ours' single prop
    props = {(r["entity"], r["property"]) for r in merged["properties"].collect()}
    assert ("C", "z") in props and ("B", "y") in props and ("B", "y2") not in props
    # rules: r3 adopted
    rules = {r["name"] for r in merged["business_rules"].collect()}
    assert rules == {"r1", "r3"}
    # conflict recorded on path B
    assert "B" in {r["path"] for r in conflicts.collect()}
    # metadata precedence base < theirs < ours
    meta = {r["key"]: r["value"] for r in merged["metadata"].collect()}
    assert meta["k"] == "ours" and meta["extra"] == "t" and meta["only_base"] == "b"


def test_three_way_merge_exact_rows(spark):
    """Every merged family and the conflict paths, row for row:
    entities/relationships/rules adopt theirs-added, non-conflicting
    elements (never theirs' modifications); properties follow their
    entities (theirs' new property of a kept entity is not adopted);
    metadata keeps base < theirs < ours."""
    base = _onto(
        spark,
        entities=[("A", "", "standard", 1)],
        props=[("A", "x", "String", False, False, "")],
        rels=[("A", "X", "has", "one-to-many", "")],
        rules=[("r1", "x > 1", "filter", "", "")],
        meta=[("k", "base"), ("only_base", "b")],
    )
    ours = _onto(
        spark,
        entities=[("A", "", "standard", 1), ("B", "", "standard", 1)],
        props=[("A", "x", "String", False, False, ""),
               ("B", "y", "String", False, False, "")],
        rels=[("A", "X", "has", "one-to-many", ""),
              ("A", "B", "has", "one-to-one", "")],
        rules=[("r1", "x > 1", "filter", "", ""),
               ("r5", "q = 1", "flag", "", "")],
        meta=[("k", "ours"), ("only_base", "b")],
    )
    theirs = _onto(
        spark,
        entities=[("A", "", "fact", 1), ("B", "", "fact", 2),
                  ("C", "", "standard", 1)],
        props=[
            ("A", "x", "String", False, False, ""),
            ("A", "x2", "String", False, False, ""),
            ("B", "y", "String", False, False, ""),
            ("B", "y2", "String", False, False, ""),
            ("C", "z", "String", False, False, ""),
        ],
        rels=[("A", "X", "has", "one-to-many", ""),
              ("A", "B", "has", "many-to-many", ""),
              ("A", "C", "owns", "one-to-many", "")],
        rules=[("r1", "x > 9", "filter", "", ""), ("r3", "z = 1", "", "", "")],
        meta=[("k", "theirs"), ("extra", "t")],
    )
    merged, conflicts = D.merge_ontologies(base, ours, theirs)
    assert {k: _rows(df) for k, df in merged.items()} == {
        "entities": [("A", "", "standard", 1), ("B", "", "standard", 1),
                     ("C", "", "standard", 1)],
        "properties": [("A", "x", "String", False, False, ""),
                       ("B", "y", "String", False, False, ""),
                       ("C", "z", "String", False, False, "")],
        "relationships": [("A", "B", "has", "one-to-one", ""),
                          ("A", "C", "owns", "one-to-many", ""),
                          ("A", "X", "has", "one-to-many", "")],
        "business_rules": [("r1", "x > 1", "filter", "", ""),
                           ("r3", "z = 1", "", "", ""),
                           ("r5", "q = 1", "flag", "", "")],
        "metadata": [("extra", "t"), ("k", "ours"), ("only_base", "b")],
    }
    assert merged["relationships"].columns == ours["relationships"].columns
    assert conflicts.columns == ["path", "element_type"]
    assert _rows(conflicts) == [
        ("A→B", "relationship"), ("B", "entity"), ("metadata:k", "metadata")
    ]


def test_drift_rename_scenario(spark):
    """The $4.6M fixture: warehouse_location renamed to facility_id is
    NOT name-similar → stays missing (CRITICAL); location_name →
    location_nm IS similar → rename (WARNING)."""
    bindings = spark.createDataFrame(
        [
            ("W", "WarehouseLocation", "warehouse_location", "String"),
            ("W", "LocationName", "location_name", "String"),
            ("W", "Capacity", "capacity", "Integer"),
        ],
        "entity string, property string, physical_column string, expected_type string",
    )
    actual = spark.createDataFrame(
        [
            ("W", "facility_id", "String"),
            ("W", "location_nm", "String"),
            ("W", "capacity", "Decimal"),
        ],
        "entity string, column string, col_type string",
    )
    drift = M.detect_drift(bindings, actual)
    rows = {(r["drift_type"], r["column"]): r for r in drift.collect()}
    assert ("missing_column", "warehouse_location") in rows
    assert rows[("missing_column", "warehouse_location")]["severity"] == "CRITICAL"
    assert ("renamed_column", "location_name") in rows
    assert rows[("renamed_column", "location_name")]["new_column"] == "location_nm"
    assert ("type_change", "capacity") in rows
    assert rows[("type_change", "capacity")]["new_type"] == "Decimal"
    assert ("new_column", "facility_id") in rows  # not similar to missing

    sev = M.drift_severity(drift).first()
    assert sev["severity"] == "CRITICAL"

    fixes = {r["fix_type"] for r in M.suggest_fixes(drift).collect()}
    assert fixes == {"update_mapping", "add_column"}


def test_drift_snake_case_collision_is_deterministic(spark):
    """Two properties that snake_case to the SAME physical column with
    different declared types must resolve to ONE deterministic expected
    type (min) — not an arbitrary dropDuplicates survivor.  The DuckDB
    oracle (kg_oracles.drift_fixes_sql exp CTE) applies the same rule."""
    bindings = spark.createDataFrame(
        # 'Val' and 'VAL' both bind to column 'val'; min type = 'Int64'
        [
            ("E", "Val", "val", "String"),
            ("E", "VAL", "val", "Int64"),
        ],
        "entity string, property string, physical_column string, expected_type string",
    )
    actual = spark.createDataFrame(
        [("E", "val", "Int64")], "entity string, column string, col_type string"
    )
    rows = M.detect_drift(bindings, actual).collect()
    # min survivor matches the catalog → NO drift at all (a String
    # survivor would have emitted a spurious type_change)
    assert rows == []
    # and against a String catalog the single type_change row is Int64→String
    actual2 = spark.createDataFrame(
        [("E", "val", "String")], "entity string, column string, col_type string"
    )
    rows2 = M.detect_drift(bindings, actual2).collect()
    assert len(rows2) == 1
    assert rows2[0]["drift_type"] == "type_change"
    assert rows2[0]["old_type"] == "Int64"


def test_create_and_validate_bindings(spark):
    props = spark.createDataFrame(
        [("r", "d", "E", 0, "CustomerName", "String", False, False, "", "CustomerName")],
        "repo string, dataset string, entity string, pos int, property string, "
        "data_type string, required boolean, unique boolean, description string, "
        "source_column string",
    )
    b = M.create_bindings(props, keys=("repo", "dataset"))
    row = b.first()
    assert row["physical_column"] == "customer_name"
    # a stray binding for a property not in the ontology → warning
    stray = b.unionByName(
        spark.createDataFrame(
            [("r", "d", "E", "Ghost", "ghost", "String")],
            "repo string, dataset string, entity string, property string, "
            "physical_column string, expected_type string",
        )
    )
    warnings = M.validate_bindings(stray, props, keys=("repo", "dataset")).collect()
    assert len(warnings) == 1 and "Ghost" in warnings[0]["warning"]


def test_permissions_from_dashboard(spark):
    entities = spark.createDataFrame(
        [("r", "d", "Customer"), ("r", "d", "Orders")],
        "repo string, dataset string, entity string",
    )
    rels = spark.createDataFrame(
        [("r", "d", "Orders", "Calendar")],
        "repo string, dataset string, from_entity string, to_entity string",
    )
    measures = spark.createDataFrame(
        [("r", "d", "Orders", "m1", "SUM(Shipments[Qty])")],
        "repo string, dataset string, table string, measure string, dax_formula string",
    )
    perms = permissions_from_dashboard(entities, rels, measures)
    names = {r["entity"] for r in perms.collect()}
    assert names == {"Customer", "Orders", "Calendar", "Shipments"}

    rules = spark.createDataFrame(
        [("r", "d", "rule1", "Shipments", "q > 1", "filter", "", "", 1, "m1"),
         ("r", "d", "rule2", "Elsewhere", "x > 1", "filter", "", "", 1, "m2")],
        "repo string, dataset string, name string, entity string, condition string, "
        "action string, classification string, description string, priority int, "
        "source_measure string",
    )
    relevant = relevant_business_rules(rules, perms).collect()
    assert [r["name"] for r in relevant] == ["rule1"]


def _with_repo(df, repo):
    return df.withColumn("repo", F.lit(repo))


def test_diff_all_pairs_matches_per_pair(spark, pair):
    """diff_all_pairs (single-job join fan-out) must equal per-pair
    diff_ontologies for every src<tgt pair of three variants."""
    src, tgt = pair
    variants = {"r1": src, "r2": tgt, "r3": src}  # r3 identical to r1
    fams = {}
    for k in ["entities", "properties", "relationships", "business_rules"]:
        parts = [_with_repo(v[k], r) for r, v in variants.items()]
        d = parts[0]
        for p in parts[1:]:
            d = d.unionByName(p)
        fams[k] = d
    allp = D.diff_all_pairs(fams)
    got = {
        (r.src_repo, r.tgt_repo): r.n
        for r in allp.groupBy("src_repo", "tgt_repo")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    names = ["r1", "r2", "r3"]
    import itertools

    for a, b in itertools.combinations(names, 2):
        want = D.diff_ontologies(
            {k: variants[a][k] for k in fams}, {k: variants[b][k] for k in fams}
        ).count()
        assert got.get((a, b), 0) == want, (a, b)
    # r1 vs r3 are identical ontologies: no changes at all
    assert (("r1", "r3") not in got) or got[("r1", "r3")] == 0

    # explicit pair restriction: only the requested pair is diffed
    only = spark.createDataFrame(
        [("r1", "r2")], "src_repo string, tgt_repo string"
    )
    restricted = D.diff_all_pairs(fams, pairs=only)
    assert restricted.select("src_repo", "tgt_repo").distinct().collect() == [
        ("r1", "r2")
    ] or [tuple(r) for r in restricted.select("src_repo", "tgt_repo")
          .distinct().collect()] == [("r1", "r2")]


def test_diff_all_pairs_lsh_bounded(spark, pair):
    """The 100-TB path: candidate repo pairs from MinHash-LSH blocking
    over each repo's entity-name profile bound the all-pairs fan-out.
    The bounded diff must equal the unbounded diff restricted to the
    candidate set (round-4 verdict item 7)."""
    from powerbi_ontology_extractor_spark.operators.canonicalize import (
        lsh_candidate_pairs,
    )

    src, tgt = pair
    variants = {"r1": src, "r2": tgt, "r3": src, "r4": tgt}
    fams = {}
    for k in ["entities", "properties", "relationships", "business_rules"]:
        parts = [_with_repo(v[k], r) for r, v in variants.items()]
        d = parts[0]
        for p in parts[1:]:
            d = d.unionByName(p)
        fams[k] = d

    # repo profile: sorted entity names + property names → LSH blocking
    profile = (
        fams["properties"]
        .groupBy("repo")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_set(F.concat_ws(" ", "entity", "property"))
                ),
                " ",
            ).alias("profile")
        )
    )
    cands = (
        lsh_candidate_pairs(profile, "repo", "profile", unit="word", shingle_k=2)
        .select(
            F.least("id1", "id2").alias("src_repo"),
            F.greatest("id1", "id2").alias("tgt_repo"),
        )
        .dropDuplicates()
    )
    cand_set = {tuple(r) for r in cands.collect()}
    assert cand_set, "LSH blocking found no candidate repo pairs"

    bounded = D.diff_all_pairs(fams, pairs=cands)
    unbounded = D.diff_all_pairs(fams)
    restricted = unbounded.join(
        cands, ["src_repo", "tgt_repo"], "left_semi"
    )
    # exact frame equality via symmetric except-all
    assert bounded.exceptAll(restricted).count() == 0
    assert restricted.exceptAll(bounded).count() == 0
    # and the bound is real: pairs outside the candidate set are absent
    extra = unbounded.join(cands, ["src_repo", "tgt_repo"], "left_anti")
    if extra.count() > 0:
        outside = {
            tuple(r)
            for r in bounded.select("src_repo", "tgt_repo").distinct().collect()
        }
        assert outside <= cand_set
