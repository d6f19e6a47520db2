"""Canonicalized end-to-end pipeline, contract triples."""

import pytest
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.operators.contracts import contract_triples
from powerbi_ontology_extractor_spark.pipeline import (
    build_triples,
    build_triples_canonicalized,
    nodes_edges,
)
from powerbi_ontology_extractor_spark.sources.corpus import corpus_df


def test_canonicalized_pipeline(spark):
    c = corpus_df(spark, n_repos=3)
    canon, mapping = build_triples_canonicalized(c)
    canon = canon.persist()
    plain_count = build_triples(c).count()
    assert canon.count() == plain_count
    # the same entity name exists in every repo → cross-repo canonical
    # linking must assign one shared canonical IRI per entity cluster
    m = mapping.where(F.col("entity") == "Orders").collect()
    assert len(m) == 3
    assert len({r["canonical_iri"] for r in m}) == 1
    # rewritten triples reference canonical IRIs with provenance intact
    rewritten = canon.where(F.col("subj") != F.col("subj_orig"))
    assert rewritten.count() > 0
    ex = rewritten.first()
    assert ex["subj"].startswith("ont:canonical_")
    # node/edge materialization works on the canonical graph
    nodes, edges = nodes_edges(canon.select(
        "repo", "dataset", "subj", "pred", "obj", "obj_is_literal", "obj_datatype"
    ))
    assert nodes.where(F.col("node").startswith("ont:canonical_")).count() > 0


def test_contract_triples_permissions(spark):
    read_set = spark.createDataFrame(
        [("r", "d", "Customer", "entity")],
        "repo string, dataset string, entity string, source string",
    )
    t_read = contract_triples(read_set, "bot", "Viewer", "read").collect()
    t_write = contract_triples(read_set, "bot", "Admin", "write").collect()
    by_pred = {r["pred"]: r for r in t_read}
    assert by_pred["rdf:type"]["obj"] == "ont:ReadAction"
    assert by_pred["ont:appliesTo"]["obj"] == "ont:Customer"
    assert by_pred["ont:allowsAction"]["obj"] == "read"
    assert {r["pred"]: r for r in t_write}["rdf:type"]["obj"] == "ont:WriteAction"
    assert {r["pred"]: r for r in t_write}["ont:requiresRole"]["obj"] == "ont:Admin"


def test_contract_caller_strings_are_literals(spark):
    """A caller's string reaches the triples verbatim: quotes,
    backslashes and placeholder-like text are bound once, as literals."""
    read_set = spark.createDataFrame(
        [("r", "d", "Customer", "entity")],
        "repo string, dataset string, entity string, sources string",
    )
    agent = "o'brien\\{role} {permission}"
    t = contract_triples(read_set, agent, "Data {agent}", "read").collect()
    by_pred = {r["pred"]: r["obj"] for r in t}
    assert by_pred["ont:grantedBy"] == agent
    assert by_pred["ont:requiresRole"] == "ont:Data_{agent}"
    assert t[0]["subj"] == "ont:contract_o'brien\\{role}_{permission}_read_Customer"
