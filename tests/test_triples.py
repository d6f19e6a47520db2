"""Golden-triple grammar tests: a minimal hand-specified model whose
expected triple set is computed by hand from the reference's emission
grammar (/root/reference/powerbi_ontology/export/owl.py).

Family arithmetic for the MINI model below:
  metadata 6 + base classes 44 + entities (5+4) + properties 25
  + relationship 9 + business rule 10 + CRUD 96 + RLS prop 3
  + lineage 6  = 208 triples (202 without lineage).
"""

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.operators.extract import extract_all
from powerbi_ontology_extractor_spark.operators.ontology import generate_ontology
from powerbi_ontology_extractor_spark.operators.triples import export_triples
from powerbi_ontology_extractor_spark.pipeline import build_triples, nodes_edges

MINI = {
    "name": "Mini",
    "tables": [
        {
            "name": "Ship",
            "description": "d1",
            "columns": [
                {"name": "ID", "dataType": "string", "isKey": True,
                 "isNullable": False},
                {"name": "Temp", "dataType": "double", "isNullable": True},
            ],
            "measures": [
                {"name": "Hot",
                 "expression": "CALCULATE(COUNT(Ship[ID]), Ship[Temp] > 25)",
                 "displayFolder": "", "description": "hot desc"}
            ],
        },
        {
            "name": "Cust",
            "columns": [
                {"name": "CID", "dataType": "string", "isKey": True,
                 "isNullable": False}
            ],
        },
    ],
    "relationships": [
        {"name": "Ship_Cust", "fromTable": "Ship", "fromColumn": "CID",
         "toTable": "Cust", "toColumn": "CID"}
    ],
}


@pytest.fixture(scope="module")
def mini_triples(spark):
    content = json.dumps(MINI)
    sha = hashlib.sha256(content.encode()).hexdigest()
    corpus = spark.createDataFrame(
        [("r1", "Mini.pbix/model.bim", "0" * 40, "model_json", content, sha)],
        "repo string, path string, commit string, lang string, content string, content_sha256 string",
    )
    t = build_triples(corpus)
    t.cache()
    return t


def _has(triples, subj, pred, obj):
    return (
        triples.where(
            (F.col("subj") == subj) & (F.col("pred") == pred) & (F.col("obj") == obj)
        ).count()
        == 1
    )


def test_total_triple_count(mini_triples):
    assert mini_triples.count() == 208


def test_set_semantics_no_duplicates(mini_triples):
    n = mini_triples.count()
    assert (
        mini_triples.dropDuplicates(
            ["repo", "dataset", "subj", "pred", "obj"]
        ).count()
        == n
    )


def test_base_class_family(mini_triples):
    assert _has(mini_triples, "ont:User", "rdf:type", "owl:Class")
    assert _has(mini_triples, "ont:ReadAction", "rdfs:subClassOf", "ont:Action")
    assert _has(mini_triples, "ont:Admin", "rdfs:subClassOf", "ont:User")
    assert _has(mini_triples, "ont:requiresRole", "rdfs:range", "ont:User")


def test_entity_family(mini_triples):
    assert _has(mini_triples, "ont:Ship", "rdf:type", "owl:Class")
    assert _has(mini_triples, "ont:Ship", "rdfs:comment", "d1")
    # fact: has measures, degree 1 ≤ 3
    assert _has(mini_triples, "ont:Ship", "ont:entityType", "fact")
    assert _has(mini_triples, "ont:Cust", "ont:entityType", "standard")
    # Cust has no description → no comment triple
    assert (
        mini_triples.where(
            (F.col("subj") == "ont:Cust") & (F.col("pred") == "rdfs:comment")
        ).count()
        == 0
    )


def test_property_family(mini_triples):
    assert _has(mini_triples, "ont:Ship_ID", "rdf:type", "owl:DatatypeProperty")
    assert _has(mini_triples, "ont:Ship_ID", "rdf:type", "owl:FunctionalProperty")
    assert _has(mini_triples, "ont:Ship_ID", "rdfs:domain", "ont:Ship")
    assert _has(mini_triples, "ont:Ship_ID", "rdfs:range", "xsd:string")
    assert _has(mini_triples, "ont:Ship_Temp", "rdfs:range", "xsd:decimal")
    # required restriction: 4 triples around a deterministic bnode
    bnode_rows = mini_triples.where(
        (F.col("pred") == "owl:onProperty") & (F.col("obj") == "ont:Ship_ID")
    ).collect()
    assert len(bnode_rows) == 1
    bnode = bnode_rows[0]["subj"]
    assert bnode.startswith("_:r_")
    assert _has(mini_triples, bnode, "rdf:type", "owl:Restriction")
    assert _has(mini_triples, "ont:Ship", "rdfs:subClassOf", bnode)
    min_card = mini_triples.where(
        (F.col("subj") == bnode) & (F.col("pred") == "owl:minCardinality")
    ).first()
    assert min_card["obj"] == "1"
    assert min_card["obj_datatype"] == "xsd:nonNegativeInteger"
    # Temp is optional → no restriction
    assert (
        mini_triples.where(
            (F.col("pred") == "owl:onProperty") & (F.col("obj") == "ont:Ship_Temp")
        ).count()
        == 0
    )


def test_relationship_family(mini_triples):
    # default cardinality many-to-one → belongs_to (no name heuristic hit)
    rel = "ont:Ship_belongs_to_Cust"
    assert _has(mini_triples, rel, "rdf:type", "owl:ObjectProperty")
    assert _has(mini_triples, rel, "rdfs:domain", "ont:Ship")
    assert _has(mini_triples, rel, "rdfs:range", "ont:Cust")
    assert _has(mini_triples, rel, "ont:cardinality", "many-to-one")
    assert _has(mini_triples, rel, "ont:sourceRelationship", "Ship_Cust")


def test_business_rule_family(mini_triples):
    assert _has(mini_triples, "ont:Hot_FilterRule", "rdf:type", "owl:Class")
    assert _has(mini_triples, "ont:Hot_FilterRule", "rdfs:subClassOf", "ont:Action")
    inst = "ont:Hot_FilterRuleInstance"
    assert _has(mini_triples, inst, "rdf:type", "ont:Hot_FilterRule")
    assert _has(mini_triples, inst, "ont:appliesTo", "ont:Ship")
    assert _has(mini_triples, inst, "ont:condition", "Ship[Temp] > 25")
    assert _has(mini_triples, inst, "ont:ruleAction", "filter")
    assert _has(mini_triples, inst, "ont:sourceMeasure", "Hot")
    pri = mini_triples.where(
        (F.col("subj") == inst) & (F.col("pred") == "ont:priority")
    ).first()
    assert pri["obj"] == "1" and pri["obj_datatype"] == "xsd:integer"


def test_crud_family(mini_triples):
    crud = mini_triples.where(F.col("pred") == "ont:allowsAction")
    assert crud.count() == 2 * 4 * 3  # entities × actions × roles
    assert _has(
        mini_triples, "ont:read_Ship_Admin", "rdf:type", "ont:ReadAction"
    )
    assert _has(
        mini_triples, "ont:delete_Cust_Viewer", "ont:requiresRole", "ont:Viewer"
    )
    assert _has(
        mini_triples, "ont:create_Ship_Analyst", "rdf:type", "ont:WriteAction"
    )


def test_lineage_family(mini_triples):
    subj = "ont:measure_Hot"
    assert _has(mini_triples, subj, "ont:dependsOn", "ont:Ship_ID")
    assert _has(mini_triples, subj, "ont:dependsOn", "ont:Ship_Temp")
    assert _has(mini_triples, subj, "ont:dependsOn", "ont:Ship")  # Ship.*
    assert _has(mini_triples, subj, "ont:measureType", "FILTER")
    assert _has(mini_triples, subj, "ont:inTable", "ont:Ship")


def test_metadata_family(mini_triples):
    onto = "ont:Mini_Ontology"
    assert _has(mini_triples, onto, "rdf:type", "owl:Ontology")
    assert _has(mini_triples, onto, "owl:versionInfo", "1.0.0")
    assert _has(mini_triples, onto, "ont:meta_source_model", "Mini")


def test_nodes_edges(mini_triples):
    nodes, edges = nodes_edges(mini_triples)
    assert nodes.where(F.col("node") == "ont:Ship").first()["node_type"] == "owl:Class"
    assert (
        edges.where(
            (F.col("src") == "ont:measure_Hot") & (F.col("rel") == "ont:dependsOn")
        ).count()
        == 3
    )
    # no literal objects leak into edges
    assert edges.where(F.col("dst") == "d1").count() == 0


def test_write_outputs_parquet_roundtrip(mini_triples, tmp_path):
    from powerbi_ontology_extractor_spark.pipeline import write_outputs

    out = str(tmp_path / "kg_out")
    write_outputs(mini_triples, out, repo_buckets=4)
    spark = mini_triples.sparkSession
    t = spark.read.parquet(f"{out}/triples")
    nodes, edges = nodes_edges(mini_triples)
    assert t.count() == mini_triples.count()
    assert spark.read.parquet(f"{out}/nodes").count() == nodes.count()
    assert spark.read.parquet(f"{out}/edges").count() == edges.count()


def test_write_outputs_iceberg_needs_catalog(mini_triples, tmp_path):
    """fmt='iceberg' routes through DataFrameWriterV2; without an
    Iceberg runtime it must surface Spark's catalog error, not silently
    fall back to parquet."""
    from powerbi_ontology_extractor_spark.pipeline import write_outputs

    with pytest.raises(Exception) as exc:
        write_outputs(mini_triples, "nocat.db", repo_buckets=2, fmt="iceberg")
    msg = str(exc.value).lower()
    assert "catalog" in msg or "iceberg" in msg or "not found" in msg


def test_dax_sanitization_in_condition(spark):
    model = {
        "name": "S",
        "tables": [
            {
                "name": "T",
                "columns": [{"name": "A", "dataType": "string"}],
                "measures": [
                    {"name": "m",
                     "expression": 'CALCULATE(SUM(T[A]), T[A] = "x;y\x00z")',
                     "displayFolder": "", "description": ""}
                ],
            }
        ],
    }
    content = json.dumps(model)
    sha = hashlib.sha256(content.encode()).hexdigest()
    corpus = spark.createDataFrame(
        [("r", "p", "0" * 40, "model_json", content, sha)],
        "repo string, path string, commit string, lang string, content string, content_sha256 string",
    )
    t = build_triples(corpus)
    cond = t.where(F.col("pred") == "ont:condition").first()
    assert ";" not in cond["obj"] and "\x00" not in cond["obj"]


def test_ntriples_serialization(mini_triples):
    from powerbi_ontology_extractor_spark.operators.triples import (
        ntriples_lines,
    )

    lines = {r["ntriple"] for r in ntriples_lines(mini_triples).collect()}
    assert len(lines) == mini_triples.count()
    assert (
        "<http://example.com/ontologies/Mini#Ship> "
        "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<http://www.w3.org/2002/07/owl#Class> ." in lines
    )
    # literal with datatype
    assert any(
        '"1"^^<http://www.w3.org/2001/XMLSchema#nonNegativeInteger>' in l
        for l in lines
    )
    # bnode subjects pass through; every line terminates with " ."
    assert any(l.startswith("_:r_") for l in lines)
    assert all(l.endswith(" .") for l in lines)
    # plain literal
    assert (
        '<http://example.com/ontologies/Mini#Ship> '
        '<http://www.w3.org/2000/01/rdf-schema#label> "Ship" .' in lines
    )


def test_ntriples_escapes_quotes_and_backslashes(spark):
    """Quote/backslash escaping in literals (the Java-replacement
    unescaping pitfall the DuckDB oracle caught), and LF/CR, which
    N-Triples forbids raw inside a literal (multi-line DAX conditions)."""
    from powerbi_ontology_extractor_spark.operators.triples import (
        ntriples_lines,
    )

    t = spark.createDataFrame(
        [("r", "D", "ont:x", "rdfs:comment", 'say "hi" \\ done', True, ""),
         ("r", "D", "ont:y", "ont:condition", "A > 1\r\nB", True, "")],
        "repo string, dataset string, subj string, pred string, "
        "obj string, obj_is_literal boolean, obj_datatype string",
    )
    lines = sorted(r["ntriple"] for r in ntriples_lines(t).collect())
    assert '"say \\"hi\\" \\\\ done"' in lines[0]
    assert '"A > 1\\r\\nB"' in lines[1]
    assert all("\n" not in l and "\r" not in l for l in lines)


def test_object_preds_match_oracle_constant(spark):
    """The graph-census oracle (kg_oracles.graph_tables_sql) derives
    obj_is_literal from pred alone — legal only while the pred→
    object-ness map stays FUNCTIONAL across the emission grammar.  Pin
    both properties on the full corpus build: no pred carries both
    literal and URI objects, and the URI-pred set equals
    kg_oracles.OBJECT_PREDS exactly."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    import kg_oracles
    from powerbi_ontology_extractor_spark.sources.corpus import corpus_df

    t = build_triples(corpus_df(spark, n_repos=6))
    mixed = (
        t.groupBy("pred")
        .agg(F.count_distinct("obj_is_literal").alias("k"))
        .where(F.col("k") > 1)
        .collect()
    )
    assert mixed == []
    obj_preds = sorted(
        r["pred"]
        for r in t.where(~F.col("obj_is_literal"))
        .select("pred")
        .distinct()
        .collect()
    )
    assert obj_preds == sorted(kg_oracles.OBJECT_PREDS)


def test_emission_plan_one_projection_per_frame(spark):
    """The grammar renders each input frame in ONE projection: on the
    6-repo fixture, export_triples(dedup=False) scans every checkpointed
    export frame exactly once, with one Generate per frame and no Join
    (the constant catalog and CRUD combos are spec rows, not literal
    frames joined in); ontology_doc_triples likewise unions one
    projection per doc frame."""
    import os

    from powerbi_ontology_extractor_spark.operators import ontology_io as OI
    from powerbi_ontology_extractor_spark.operators.triples import EXPORT_FRAMES
    from powerbi_ontology_extractor_spark.sources.corpus import read_corpus
    from tests.parity_cases import doc_corpus
    from tests.test_ontology_doc import DOC

    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "kg_corpus_6.parquet",
    )
    md = extract_all(read_corpus(spark, fixture), materialize=True)
    od = generate_ontology(md, materialize=True)
    plan = export_triples(od, md, dedup=False)._jdf.queryExecution()
    plan = plan.optimizedPlan().toString()
    scans = [l for l in plan.splitlines() if "LogicalRDD" in l]
    assert len(scans) == len(EXPORT_FRAMES), plan
    assert plan.count("Generate inline(") == len(EXPORT_FRAMES), plan
    assert "Join" not in plan, plan

    doc = OI.ontology_doc_triples(doc_corpus(spark, DOC))._jdf.queryExecution()
    doc = doc.optimizedPlan().toString()
    assert doc.count("Generate inline(") == 7, doc
    assert "Join" not in doc, doc
