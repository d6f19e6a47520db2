"""Canonicalization: connected components vs a union-find oracle,
MinHash-LSH blocking behavior, the rename heuristic vs its Python
reference, end-to-end entity linking + rewrite."""

import random

import pytest
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.operators.canonicalize import (
    _large_star,
    _small_star,
    connected_components,
    entity_canonical_mapping,
    lsh_candidate_pairs,
    rewrite_triples_canonical,
    similar_names_sql,
)
from powerbi_ontology_extractor_spark.operators.extract import extract_all
from powerbi_ontology_extractor_spark.operators.ontology import generate_ontology
from powerbi_ontology_extractor_spark.sources.corpus import corpus_df
from tests.test_streaming_manifest import _jobs


def _union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    groups = {}
    for n in nodes:
        groups.setdefault(find(n), set()).add(n)
    return {frozenset(g) for g in groups.values()}


def _spark_components(spark, edges):
    df = spark.createDataFrame(edges, "u string, v string")
    result = connected_components(df).collect()
    groups = {}
    for r in result:
        groups.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(g) for g in groups.values()}, result


def test_cc_simple_chain(spark):
    parts, result = _spark_components(
        spark, [("b", "a"), ("c", "b"), ("d", "c"), ("x", "y")]
    )
    assert parts == {frozenset({"a", "b", "c", "d"}), frozenset({"x", "y"})}
    # representative is the lexicographic min
    comp_of = {r["node"]: r["component"] for r in result}
    assert comp_of["d"] == "a" and comp_of["y"] == "x"


def test_cc_self_loop_and_duplicate_edges(spark):
    parts, _ = _spark_components(
        spark, [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")]
    )
    assert parts == {frozenset({"a", "b"})}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cc_random_vs_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    expected = _union_find_components(edges, {n for e in edges for n in e})
    actual, _ = _spark_components(spark, edges)
    assert actual == expected


def _hard_graph(kind):
    if kind == "empty":
        return []
    if kind == "star":  # the hub is neither the smallest nor the largest
        return [("n050", f"n{i:03d}") for i in range(100) if i != 50]
    # a 256-node path with shuffled labels, fed in shuffled order and
    # direction: large-star/small-star needs several iterations
    rng = random.Random(3)
    nodes = [f"n{i:03d}" for i in range(256)]
    rng.shuffle(nodes)
    edges = [
        (a, b) if rng.random() < 0.5 else (b, a) for a, b in zip(nodes, nodes[1:])
    ]
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("kind", ["empty", "star", "path"])
def test_cc_hard_graphs_vs_union_find(spark, kind):
    edges = _hard_graph(kind)
    expected = _union_find_components(edges, {n for e in edges for n in e})
    actual, result = _spark_components(spark, edges)
    assert actual == expected
    comp_of = {r["node"]: r["component"] for r in result}
    assert all(comp_of[n] == min(g) for g in actual for n in g)


def test_star_step_plans_no_join(spark):
    """A large-star + small-star step is windows over the edges: no join."""
    e = spark.createDataFrame([("b", "a"), ("c", "b")], "u string, v string")
    plan = _small_star(_large_star(e))._jdf.queryExecution().optimizedPlan()
    assert "Join" not in plan.toString()


# measured on corpus_df(4) at local[8]: 8 jobs checkpoint the scored
# edges, each of the 2 star iterations 4, the mapping's collect 6
# (42 with the input plan re-run and a convergence job per iteration)
JOBS_PER_MAPPING = 22


def test_entity_mapping_job_count(spark):
    """One entity_canonical_mapping call runs the LSH and scoring plan
    once (nodes come from the checkpointed edges) and no convergence job
    of its own (the fingerprint rides on each iteration's eager
    checkpoint as an Observation)."""
    md = extract_all(corpus_df(spark, n_repos=4), materialize=True)
    od = generate_ontology(md, materialize=True)
    jobs = _jobs(spark, "canon", lambda: entity_canonical_mapping(
        od["ontology_entities"], md["properties"]).collect())
    assert len(jobs) <= JOBS_PER_MAPPING, jobs


def test_lsh_blocks_near_duplicates(spark):
    docs = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy dogs"),  # near-dup of a
        ("c", "completely different content about spark dataframes"),
    ]
    df = spark.createDataFrame(docs, "id string, text string")
    pairs = {
        (r["id1"], r["id2"])
        for r in lsh_candidate_pairs(df, "id", "text", num_hashes=64, bands=16).collect()
    }
    assert ("a", "b") in pairs
    assert ("a", "c") not in pairs and ("b", "c") not in pairs


def _similar_names_ref(x, y):
    """The reference's rename heuristic (schema_mapper.py:353-369) in
    Python: containment OR (len-diff ≤3 AND common-char ratio >0.7)."""
    x = (x or "").lower().replace("_", "").replace("-", "")
    y = (y or "").lower().replace("_", "").replace("-", "")
    if not x or not y:
        return False
    if x in y or y in x:
        return True
    if abs(len(x) - len(y)) <= 3:
        common = sum(1 for ch in x if ch in y)
        return common / max(len(x), len(y)) > 0.7
    return False


def _name_pairs(n, seed=7):
    """The three canonical cases, a few fixed edge cases and ``n`` seeded
    name pairs around the heuristic's edges: case, ``_``/``-``,
    length differences of exactly 3 and 4, common ratios of exactly 0.7,
    empty strings, nulls and non-ASCII letters."""
    rng = random.Random(seed)
    alphabet = "abcdeABCDE_-éÜñßж"

    def word(k):
        return "".join(rng.choice(alphabet) for _ in range(k))

    pairs = [("Customer", "Customers"), ("warehouse_location", "warehouselocation"),
             ("Revenue", "Profit"), ("", "x"), (None, "x"), ("x", None),
             (None, None), ("__", "a"), ("abcdefghij", "abcdefgxyz"),
             ("abcdefg", "abcdefgxyz")]
    for _ in range(n):
        x = word(rng.randint(0, 12))
        kind = rng.randrange(6)
        if kind == 0:
            y = word(rng.randint(0, 12))
        elif kind == 1:  # length difference of exactly 3 or 4
            y = "".join(rng.sample(x, len(x))) + word(rng.choice([3, 4]))
        elif kind == 2:  # 7 of 10 characters shared: ratio exactly 0.7
            x = "abcdefghij"
            y = "".join(rng.sample("abcdefg", 7)) + "xyz"
        elif kind == 3:  # case and separator noise
            y = "".join(c.swapcase() if rng.random() < 0.5 else c for c in x)
            y = y.replace("_", rng.choice(["", "-", "__"]))
        elif kind == 4:  # substitutions
            y = "".join(rng.choice(alphabet) if rng.random() < 0.3 else c for c in x)
        else:
            y = rng.choice(["", None, "_-"])
        pairs.append((x, y) if rng.random() < 0.5 else (y, x))
    return pairs


def test_similar_names_heuristic(spark):
    """similar_names_sql equals the Python reference on the three
    canonical cases and 500 seeded random pairs."""
    pairs = _name_pairs(500)
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i int, a string, b string"
    )
    got = dict(df.select("i", similar_names_sql("a", "b").alias("s")).collect())
    expected = {i: _similar_names_ref(a, b) for i, (a, b) in enumerate(pairs)}
    assert [got[i] for i in range(3)] == [True, True, False]
    assert got == expected
    # the seeded pairs reach both outcomes and the ratio's boundary
    assert 50 < sum(expected.values()) < len(pairs) - 50
    assert ("abcdefghij", "abcdefgxyz") in pairs


@pytest.fixture(scope="module")
def linked(spark):
    entities = spark.createDataFrame(
        [
            ("r1", "D1", "Customer", "", "Customer", "CustomerID", 3, "standard"),
            ("r2", "D2", "Customers", "", "Customers", "CustomerID", 3, "standard"),
            ("r3", "D3", "Product", "", "Product", "ProductID", 2, "standard"),
        ],
        "repo string, dataset string, entity string, description string, "
        "source_table string, primary_key string, n_properties int, entity_type string",
    )
    props = spark.createDataFrame(
        [
            ("r1", "D1", "Customer", "CustomerID"),
            ("r1", "D1", "Customer", "Name"),
            ("r1", "D1", "Customer", "RiskScore"),
            ("r2", "D2", "Customers", "CustomerID"),
            ("r2", "D2", "Customers", "Name"),
            ("r2", "D2", "Customers", "Segment"),
            ("r3", "D3", "Product", "ProductID"),
            ("r3", "D3", "Product", "Price"),
        ],
        "repo string, dataset string, entity string, property string",
    )
    return entity_canonical_mapping(entities, props).collect()


def test_entity_linking_merges_near_duplicates(linked):
    by_entity = {r["entity"]: r for r in linked}
    assert (
        by_entity["Customer"]["canonical_iri"]
        == by_entity["Customers"]["canonical_iri"]
    )
    assert (
        by_entity["Product"]["canonical_iri"]
        != by_entity["Customer"]["canonical_iri"]
    )


def test_rewrite_triples(spark, linked):
    mapping = spark.createDataFrame(linked)
    triples = spark.createDataFrame(
        [
            ("r1", "D1", "ont:Customer", "rdf:type", "owl:Class", False, ""),
            ("r2", "D2", "ont:Customers", "rdf:type", "owl:Class", False, ""),
            ("r1", "D1", "ont:X", "ont:appliesTo", "ont:Customer", False, ""),
            ("r1", "D1", "ont:Customer", "rdfs:label", "Customer", True, ""),
        ],
        "repo string, dataset string, subj string, pred string, obj string, "
        "obj_is_literal boolean, obj_datatype string",
    )
    out = rewrite_triples_canonical(triples, mapping).collect()
    subj_of = {(r["repo"], r["subj_orig"]): r["subj"] for r in out}
    # both repos' Customer IRIs rewritten to the SAME canonical IRI
    assert subj_of[("r1", "ont:Customer")] == subj_of[("r2", "ont:Customers")]
    assert subj_of[("r1", "ont:Customer")].startswith("ont:canonical_")
    # object URI rewritten; literal object untouched
    by = {(r["repo"], r["pred"]): r for r in out}
    assert by[("r1", "ont:appliesTo")]["obj"].startswith("ont:canonical_")
    assert by[("r1", "rdfs:label")]["obj"] == "Customer"
