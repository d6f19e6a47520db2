"""Extraction-stage semantics vs the reference extractor
(/root/reference/powerbi_ontology/extractor.py): PK first-match by
position, cardinality normalization, type mapping, wrapper tolerance,
RLS filtering, dependency extraction."""

import json

import pytest
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.operators.extract import (
    entities_df,
    extract_all,
    measures_df,
    parse_models,
    properties_df,
    relationships_df,
    security_rules_df,
)
from powerbi_ontology_extractor_spark.sources.corpus import corpus_df, verify_content_sha


def _corpus_of(spark, model: dict, wrap: bool = False):
    content = json.dumps({"model": model} if wrap else model)
    import hashlib

    sha = hashlib.sha256(content.encode()).hexdigest()
    return spark.createDataFrame(
        [("r1", "a.pbix/model.bim", "0" * 40, "model_json", content, sha)],
        "repo string, path string, commit string, lang string, content string, content_sha256 string",
    )


BASE_MODEL = {
    "name": "M1",
    "tables": [
        {
            "name": "Shipment",
            "description": "Shipment entity",
            "columns": [
                {"name": "Note", "dataType": "string", "isNullable": True},
                {"name": "ShipmentID", "dataType": "string", "isKey": True,
                 "isNullable": False},
                {"name": "AltKey", "dataType": "string", "isUnique": True,
                 "isNullable": False},
                {"name": "Temperature", "dataType": "double", "isNullable": True},
                {"name": "When", "dataType": "datetime", "isNullable": False},
                {"name": "Count", "dataType": "int64", "isNullable": False},
                {"name": "Flag", "dataType": "boolean", "isNullable": True},
                {"name": "Amount", "dataType": "decimal", "isNullable": True},
                {"name": "Mystery", "dataType": "weirdtype", "isNullable": True},
            ],
            "measures": [
                {"name": "m1",
                 "expression": "SUM(Shipment[Temperature]) // comment Shipment[Note]",
                 "displayFolder": "f", "description": "d"}
            ],
        }
    ],
    "relationships": [
        {"fromTable": "A", "fromColumn": "x", "toTable": "B", "toColumn": "y",
         "fromCardinality": "one", "toCardinality": "many"},
        {"fromTable": "A", "fromColumn": "x", "toTable": "B", "toColumn": "y",
         "fromCardinality": "one", "toCardinality": "one", "name": "AB"},
        {"fromTable": "A", "fromColumn": "x", "toTable": "B", "toColumn": "y",
         "fromCardinality": "many", "toCardinality": "many"},
        {"fromTable": "A", "fromColumn": "x", "toTable": "B", "toColumn": "y",
         "crossFilteringBehavior": "bothDirections", "isActive": False},
    ],
    "roles": [
        {"name": "R1", "tablePermissions": [
            {"name": "Shipment", "filterExpression": "Shipment[Region] = USERNAME()"},
            {"name": "Orders", "filterExpression": ""},
        ]}
    ],
}


def test_primary_key_first_match_by_position(spark):
    # ShipmentID (pos 1, isKey) precedes AltKey (pos 2, isUnique)
    m = parse_models(_corpus_of(spark, BASE_MODEL))
    e = entities_df(m).first()
    assert e["primary_key"] == "ShipmentID"
    assert e["n_properties"] == 9


def test_wrapper_tolerance(spark):
    m = parse_models(_corpus_of(spark, BASE_MODEL, wrap=True))
    assert m.first()["dataset"] == "M1"
    assert entities_df(m).count() == 1


def test_type_mapping_and_flags(spark):
    m = parse_models(_corpus_of(spark, BASE_MODEL))
    props = {r["property"]: r for r in properties_df(m).collect()}
    assert props["Note"]["data_type"] == "String"
    assert props["Temperature"]["data_type"] == "Decimal"
    assert props["When"]["data_type"] == "Date"
    assert props["Count"]["data_type"] == "Integer"
    assert props["Flag"]["data_type"] == "Boolean"
    assert props["Amount"]["data_type"] == "Decimal"
    assert props["Mystery"]["data_type"] == "String"  # default
    assert props["ShipmentID"]["unique"] and props["ShipmentID"]["required"]
    assert not props["Note"]["required"] and not props["Note"]["unique"]
    assert props["AltKey"]["unique"]


def test_cardinality_normalization(spark):
    m = parse_models(_corpus_of(spark, BASE_MODEL))
    rels = relationships_df(m).collect()
    cards = [r["cardinality"] for r in rels]
    assert cards == ["one-to-many", "one-to-one", "many-to-many", "many-to-one"]
    assert rels[3]["cross_filter_direction"] == "both"
    assert rels[0]["cross_filter_direction"] == "single"
    assert rels[3]["is_active"] is False
    assert rels[0]["is_active"] is True
    assert rels[0]["name"] == "A_B"  # default name
    assert rels[1]["name"] == "AB"


def test_rls_keeps_only_nonempty_filters(spark):
    m = parse_models(_corpus_of(spark, BASE_MODEL))
    rules = security_rules_df(m).collect()
    assert len(rules) == 1
    assert rules[0]["table"] == "Shipment"
    assert rules[0]["description"] == "RLS rule for Shipment in role R1"


def test_measure_dependencies_strip_comments(spark):
    m = parse_models(_corpus_of(spark, BASE_MODEL))
    deps = measures_df(m).first()["dependencies"]
    # comment-masked Shipment[Note] must not appear
    assert deps == ["Shipment.Temperature"]


def test_full_corpus_extraction_counts(spark):
    c = corpus_df(spark, n_repos=3)
    assert verify_content_sha(c).count() == 0
    dfs = extract_all(c)
    # 6 tables per repo
    assert dfs["entities"].count() == 18
    # 5 relationships per repo
    assert dfs["relationships"].count() == 15
    # 1 RLS rule per repo (empty filter dropped)
    assert dfs["security_rules"].count() == 3
    # hierarchies: 2 per repo; Calendar one is date-typed
    h = dfs["hierarchies"]
    assert h.count() == 6
    # substring check: 'date' not in 'calendar' → custom
    # (extractor.py:291 — a table literally named DateDim would be 'date')
    assert h.where(F.col("hierarchy_type") == "date").count() == 0
    date_h = h.where(F.col("table") == "Calendar").first()
    assert date_h["levels"] == ["Year", "Month", "Day"]


def test_extract_all_leaves_models_uncached(spark):
    """Models are parsed into an eager localCheckpoint in both modes:
    the default mode leaves no cache behind that nothing unpersists."""
    from pyspark import StorageLevel

    c = corpus_df(spark, n_repos=2)
    for materialize in (False, True):
        dfs = extract_all(c, materialize=materialize)
        assert dfs["models"].storageLevel == StorageLevel.NONE
        assert dfs["entities"].count() == 12


def test_corpus_determinism():
    from powerbi_ontology_extractor_spark.sources.corpus import synth_corpus_rows

    assert synth_corpus_rows(4, seed=42) == synth_corpus_rows(4, seed=42)
    assert synth_corpus_rows(4, seed=42) != synth_corpus_rows(4, seed=43)
