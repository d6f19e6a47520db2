"""Cross-dashboard analytics vs reference semantics
(analyzer.py:79-341, semantic_debt.py:306-530)."""

import pytest
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.operators import analytics as A
from powerbi_ontology_extractor_spark.operators.extract import extract_all
from powerbi_ontology_extractor_spark.operators.ontology import generate_ontology
from powerbi_ontology_extractor_spark.sources.corpus import corpus_df


@pytest.fixture(scope="module")
def dfs(spark):
    c = corpus_df(spark, n_repos=2)  # repo0 (RiskScore) vs repo1 (ChurnProbability)
    model_dfs = extract_all(c)
    onto = generate_ontology(model_dfs)
    out = {**model_dfs, **onto}
    for k in ("measures", "properties", "relationships", "business_rules"):
        out[k] = out[k].persist()
    return out


def test_measure_conflicts(dfs):
    conflicts = A.measure_conflicts(dfs["measures"]).collect()
    # only 'High Risk Customer' differs between the two repos
    assert len(conflicts) == 1
    c = conflicts[0]
    assert c["concept"] == "high risk customer"
    # thresholds 80 vs 0(.7) differ by >20 → HIGH (analyzer.py:326-333)
    assert c["severity"] == "HIGH"
    assert "defined differently" in c["description"]


def test_measure_conflict_severity_low_for_case_only(spark):
    rows = [
        ("r1", "D1", "T", "M", "SUM(A[B])", "", ""),
        ("r2", "D2", "T", "M", "sum(a[b])", "", ""),
    ]
    m = spark.createDataFrame(
        rows,
        "repo string, dataset string, table string, measure string, "
        "dax_formula string, description string, folder string",
    )
    c = A.measure_conflicts(m).collect()
    assert len(c) == 1 and c[0]["severity"] == "LOW"


def test_entity_structure_conflicts(dfs):
    conflicts = A.entity_structure_conflicts(dfs["properties"]).collect()
    assert len(conflicts) == 1
    assert conflicts[0]["concept"] == "customer"
    assert conflicts[0]["severity"] == "MEDIUM"


def test_duplicate_logic(dfs):
    dups = A.duplicate_logic(dfs["measures"])
    dups.cache()
    # every measure except the conflicting one is identical across the
    # 2 repos → duplication rows with same-name branch
    row = dups.where(F.col("measure_name") == "Total Order Value").first()
    assert row is not None
    assert len(row["dashboards"]) == 2
    assert "duplicated across 2 dashboards" in row["description"]
    # the conflicting measure has different formulas → NOT a duplication
    assert (
        dups.where(F.col("measure_name") == "High Risk Customer").count() == 0
    )


def test_duplicate_logic_different_names(spark):
    rows = [
        ("r1", "D1", "T", "Revenue", "SUM(Orders[Value])", "", ""),
        ("r2", "D2", "T", "Total Rev", "SUM( Orders[Value] )", "", ""),
    ]
    m = spark.createDataFrame(
        rows,
        "repo string, dataset string, table string, measure string, "
        "dax_formula string, description string, folder string",
    )
    d = A.duplicate_logic(m).collect()
    assert len(d) == 1
    assert "(and 1 others)" in d[0]["measure_name"]
    assert "Same logic with different names" in d[0]["description"]


def test_canonical_definitions(spark):
    rows = [
        ("r1", "D1", "T", "KPI", "SUM(A[X])", "", ""),
        ("r2", "D2", "T", "KPI", "SUM(A[X])", "", ""),
        ("r3", "D3", "T", "KPI", "COUNT(A[X])", "", ""),
    ]
    m = spark.createDataFrame(
        rows,
        "repo string, dataset string, table string, measure string, "
        "dax_formula string, description string, folder string",
    )
    canon = A.canonical_definitions(m).collect()
    assert len(canon) == 1
    c = canon[0]
    assert c["suggested_definition"] == "sum(a[x])"  # mode (2 of 3)
    assert abs(c["confidence"] - 2 / 3) < 1e-9
    assert sorted(c["dashboards_using"]) == ["r1/D1", "r2/D2"]
    assert c["alternative_sources"] == ["r3/D3"]


def test_canonical_definitions_scans_measures_once(spark):
    """The per-name total is a window over the (name, norm) counts, so
    the executed plan holds one capped_collect pipeline over the
    measures scan (a groupBy total pruned the src collect and planned a
    second one).  With non-null columns, as extract_all's measures
    have, and with nullable ones: the winners/alternatives join is
    null-safe, so no isnotnull(name) is pushed into one subtree only,
    and a null-named group gets its alternatives like any other."""
    rows = [("r1", "D1", "KPI", "SUM(A[X])"), ("r2", "D2", "KPI", "SUM(A[X])"),
            ("r3", "D3", "KPI", "COUNT(A[X])")]
    for nn, data in ((" not null", rows),
                     ("", rows + [(r, d, None, f) for r, d, _, f in rows])):
        m = spark.createDataFrame(
            data,
            f"repo string{nn}, dataset string{nn}, "
            f"measure string{nn}, dax_formula string{nn}",
        ).localCheckpoint()
        df = A.canonical_definitions(m)
        got = {r["name"]: r for r in df.collect()}
        assert set(got) == ({"kpi"} if nn else {"kpi", None})
        for r in got.values():
            assert r["dashboards_using"] == ["r1/D1", "r2/D2"]
            assert r["alternative_sources"] == ["r3/D3"]
        final = df._jdf.queryExecution().executedPlan().toString()
        final = final.split("== Initial Plan ==")[0]
        assert final.count("Scan ExistingRDD") == 1, final


def test_semantic_debt(dfs):
    conflicts = A.measure_conflicts(dfs["measures"]).unionByName(
        A.entity_structure_conflicts(dfs["properties"]),
        allowMissingColumns=False,
    )
    dups = A.duplicate_logic(dfs["measures"])
    debt = A.semantic_debt(conflicts, dups).first()
    assert debt["total_conflicts"] == 2
    assert debt["cost_per_conflict"] == 50000.0
    expected = 2 * 50000.0 + debt["total_duplications"] * 10000.0
    assert debt["total_cost"] == expected
    assert debt["conflicts_by_severity"]["HIGH"] == 1
    assert debt["conflicts_by_severity"]["MEDIUM"] == 1


def test_entity_conflicts_debt(dfs):
    rows = A.entity_conflicts_debt(dfs["properties"]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["name"] == "Customer"
    # 5 common / 7 union ≈ 0.714 → WARNING band (semantic_debt.py:519-526)
    assert r["severity"] == "WARNING"
    assert r["only_in_1"] == ["RiskScore"]
    assert r["only_in_2"] == ["ChurnProbability"]


def test_property_type_conflicts(spark):
    rows = [
        ("r1", "D1", "E", 0, "p", "String", False, False, "", "p"),
        ("r2", "D2", "E", 0, "p", "Decimal", False, False, "", "p"),
    ]
    p = spark.createDataFrame(
        rows,
        "repo string, dataset string, entity string, pos int, property string, "
        "data_type string, required boolean, unique boolean, description string, "
        "source_column string",
    )
    c = A.property_type_conflicts(p).collect()
    assert len(c) == 1
    assert c[0]["severity"] == "CRITICAL"
    assert c[0]["name"] == "E.p"
    assert c[0]["types"] == ["Decimal", "String"]


def test_relationship_conflicts(spark):
    rows = [
        ("r1", "D1", "A", "x", "B", "y", "many-to-one", "single", True, "n1"),
        ("r2", "D2", "A", "x", "B", "y", "one-to-one", "single", True, "n2"),
    ]
    r = spark.createDataFrame(
        rows,
        "repo string, dataset string, from_entity string, from_property string, "
        "to_entity string, to_property string, cardinality string, "
        "cross_filter_direction string, is_active boolean, name string",
    )
    c = A.relationship_conflicts(r).collect()
    assert len(c) == 1
    assert c[0]["severity"] == "WARNING"
    assert c[0]["name"] == "A → B"


def test_rule_conflicts(dfs):
    rc = A.rule_conflicts(dfs["business_rules"]).collect()
    names = {r["name"] for r in rc}
    assert "High Risk Customer_Filter" in names
    row = next(r for r in rc if r["name"] == "High Risk Customer_Filter")
    assert row["severity"] in ("CRITICAL", "WARNING")
    assert len(row["conditions"]) == 2


def test_analyze_debt_union(dfs):
    all_conflicts = A.analyze_debt(
        dfs["properties"], dfs["relationships"], dfs["business_rules"]
    )
    types = {r["conflict_type"] for r in all_conflicts.collect()}
    assert "entity_conflict" in types
    assert "rule_conflict" in types
