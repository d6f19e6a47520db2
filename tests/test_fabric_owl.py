"""T16 FabricIQ→OWL converter + P15 trigger tags: round-trip the
synthetic corpus through extract → generate → fabric_iq_owl_triples and
assert family counts + the converter's distinctive grammar
(fabric_iq_to_owl.py:67-460)."""

import pytest
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.operators.exporters import (
    fabric_iq_business_rules,
    ontoguard_bindings,
)
from powerbi_ontology_extractor_spark.operators.extract import extract_all
from powerbi_ontology_extractor_spark.operators.fabric_owl import (
    fabric_iq_owl_triples,
    rule_triggers_sql,
    safe_uri_name_sql,
)
from powerbi_ontology_extractor_spark.operators.ontology import (
    generate_ontology,
)
from powerbi_ontology_extractor_spark.sources.corpus import corpus_df


@pytest.fixture(scope="module")
def frames(spark):
    dfs = extract_all(corpus_df(spark, n_repos=2, mega_repo_idx=-1))
    onto = generate_ontology(dfs)
    return dfs, onto


@pytest.fixture(scope="module")
def fabric_triples(spark, frames):
    dfs, onto = frames
    t = fabric_iq_owl_triples(
        onto["ontology_entities"],
        dfs["properties"],
        onto["ontology_relationships"],
        onto["business_rules"],
        bindings=ontoguard_bindings(onto["ontology_entities"], dfs["properties"]),
    )
    t.cache()
    return t


def _has(t, subj, pred, obj):
    return (
        t.where(
            (F.col("subj") == subj)
            & (F.col("pred") == pred)
            & (F.col("obj") == obj)
        ).count()
        >= 1
    )


def test_safe_uri_name_strips_specials(spark):
    df = spark.range(1).select(
        F.expr(safe_uri_name_sql("'High Risk (v2)!'")).alias("s")
    )
    assert df.first()["s"] == "High_Risk_v2"


def test_trigger_extraction(spark):
    rows = [("notify ops",), ("log incident",), ("classify_as_high",),
            ("filter",), ("alert and record",)]
    df = spark.createDataFrame(rows, "action string")
    out = [r["t"] for r in df.select(F.expr(rule_triggers_sql("action")).alias("t")).collect()]
    assert out == [
        ["NotifyOperations"],
        ["LogIncident"],
        ["UpdateClassification"],
        [],
        ["NotifyOperations", "LogIncident"],
    ]


def test_fabric_roles_and_ontoguard_properties(fabric_triples):
    # 5 roles incl. Editor/Owner (unlike owl.py's 3-role default)
    for role in ["Admin", "Analyst", "Viewer", "Editor", "Owner"]:
        assert _has(fabric_triples, f"ont:{role}", "rdfs:subClassOf", "ont:User")
    # requiresApproval exists only in the Fabric grammar
    assert _has(
        fabric_triples, "ont:requiresApproval", "rdf:type", "owl:ObjectProperty"
    )
    # appliesTo ranges over owl:Thing here (owl.py has no range triple)
    assert _has(fabric_triples, "ont:appliesTo", "rdfs:range", "owl:Thing")


def test_metadata_uses_versioned_item(fabric_triples):
    assert _has(
        fabric_triples, "ont:Dashboard_0_v1_0_0", "rdf:type", "owl:Ontology"
    )
    assert _has(
        fabric_triples,
        "ont:Dashboard_0_v1_0_0",
        "rdfs:label",
        "Dashboard 0_v1.0.0",
    )


def test_default_crud_individuals(fabric_triples):
    # read→Viewer, delete→Admin (fabric_iq_to_owl.py:367-372)
    assert _has(fabric_triples, "ont:read_Customer", "ont:requiresRole", "ont:Viewer")
    assert _has(fabric_triples, "ont:delete_Customer", "ont:requiresRole", "ont:Admin")
    assert _has(fabric_triples, "ont:create_Orders", "ont:requiresRole", "ont:Editor")
    assert _has(fabric_triples, "ont:read_Customer", "rdfs:label", "read Customer")


def test_rule_classification_role_mapping(fabric_triples):
    # SWITCH 'High' classification → Admin
    inst = "ont:Shipment_Risk_Level_Switch_HighActionInstance"
    assert _has(fabric_triples, inst, "ont:requiresRole", "ont:Admin")
    # SWITCH 'Medium' → Editor
    assert _has(
        fabric_triples,
        "ont:Shipment_Risk_Level_Switch_MediumActionInstance",
        "ont:requiresRole",
        "ont:Editor",
    )
    # CALC filter rules have no classification → default Viewer
    assert _has(
        fabric_triples,
        "ont:Metric_0_FilterActionInstance",
        "ont:requiresRole",
        "ont:Viewer",
    )


def test_rule_class_suffix_and_condition(fabric_triples):
    cls = "ont:High_Risk_Shipments_FilterAction"
    assert _has(fabric_triples, cls, "rdfs:subClassOf", "ont:Action")
    assert _has(
        fabric_triples,
        "ont:High_Risk_Shipments_FilterActionInstance",
        "ont:ruleCondition",
        "Shipment[Temperature] > 25",
    )


def test_schema_bindings(fabric_triples):
    assert _has(
        fabric_triples, "ont:Customer", "ont:schemaSource", "sql_db.dbo.customer"
    )
    assert _has(
        fabric_triples, "ont:Customer_CustomerID", "ont:sourceColumn", "CustomerID"
    )


def test_family_counts_per_dataset(fabric_triples):
    # static catalog: 3 User + 5 roles×3 + 3 Action + 4 actions×3 + 20
    # OntoGuard property triples = 53 per dataset
    one = fabric_triples.where(F.col("repo") == "org0/dashboards-0")
    static_subjects = (
        ["ont:User", "ont:Action", "ont:requiresRole", "ont:appliesTo",
         "ont:requiresApproval", "ont:allowsAction"]
        + [f"ont:{r}" for r in ["Admin", "Analyst", "Viewer", "Editor", "Owner"]]
        + [f"ont:{a}" for a in
           ["ReadAction", "WriteAction", "DeleteAction", "ExecuteAction"]]
    )
    assert one.where(F.col("subj").isin(static_subjects)).count() == 53
    # CRUD: 6 entities × 4 actions × 5 triples
    assert one.where(F.col("pred") == "ont:allowsAction").count() == 6 * 4 + \
        one.where(
            (F.col("pred") == "ont:allowsAction")
            & F.col("subj").endswith("ActionInstance")
        ).count()


def test_fabric_rule_docs_carry_triggers(spark, frames):
    dfs, onto = frames
    docs = fabric_iq_business_rules(onto["business_rules"])
    by_action = {
        r["action"]: r["triggers"]
        for r in docs.select("action", "triggers").dropDuplicates().collect()
    }
    assert by_action["classify_as_high"] == ["UpdateClassification"]
    assert by_action["filter"] == []
    src = docs.select("source").dropDuplicates().collect()
    assert all(r["source"].startswith("DAX: ") for r in src)
