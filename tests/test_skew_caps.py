"""Pathological-skew caps: the degenerate inputs a 100-TB corpus WILL
contain (empty docs → one SimHash bucket; zero embedding vectors → one
LSH bucket; a hot entity name defined in thousands of dashboards) must
complete in bounded pairs, not quadratic ones.

Round-4 verdict items 1a-1c: every candidate-pair join now goes through
the capped groupBy-and-explode shape (capped_bucket_pairs) or the
fingerprint-group pre-aggregation (analytics), so these fixtures bound
the pair fan-out by policy instead of data luck.
"""

import pytest
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.functions.salt import capped_collect
from powerbi_ontology_extractor_spark.operators import analytics as A
from powerbi_ontology_extractor_spark.operators import dedup as DD
from powerbi_ontology_extractor_spark.operators.canonicalize import (
    capped_bucket_pairs,
)
from powerbi_ontology_extractor_spark.operators.text import simhash32_signatures

N_HOT = 5000


def test_capped_bucket_pairs_two_phase_is_exact_prefix(spark):
    # one degenerate bucket of 500 ids; cap 100 → pairs are exactly the
    # C(100,2) pairs of the 100 lexicographically-smallest ids (the
    # salted two-phase slice must equal the single-phase global prefix)
    banded = spark.createDataFrame(
        [(f"id{i:04d}", 0, 7) for i in range(500)],
        "id string, band int, band_hash long",
    )
    pairs = capped_bucket_pairs(
        banded, ["band", "band_hash"], F.struct(F.col("id")), max_bucket=100
    ).select(F.col("p1.id").alias("id1"), F.col("p2.id").alias("id2"))
    rows = pairs.collect()
    assert len(rows) == 100 * 99 // 2
    seen = {r["id1"] for r in rows} | {r["id2"] for r in rows}
    assert seen == {f"id{i:04d}" for i in range(100)}
    assert all(r["id1"] < r["id2"] for r in rows)
    # the helper underneath, on one hot key (2,000 rows, 300 distinct
    # values, nulls mixed in) and one small key: each item's two-phase
    # prefix equals the single-phase sorted prefix, n the exact count
    rows = [(0, f"v{i * 7919 % 300:03d}", None if i % 50 == 0 else i % 170)
            for i in range(2000)]
    rows += [(1, "b", 2), (1, "a", 2), (1, "a", 1)]
    df = spark.createDataFrame(rows, "k int, v string, w int")
    for distinct in (False, True):
        got = {r["k"]: r for r in capped_collect(
            df, ["k"], ["v", "w"], 100, distinct=distinct).collect()}
        for k in (0, 1):
            kept = [r for r in rows if r[0] == k]
            assert got[k]["n"] == len(kept)
            for i, c in ((1, "v"), (2, "w")):
                vals = [r[i] for r in kept if r[i] is not None]
                if distinct:
                    vals = set(vals)
                assert got[k][c] == sorted(vals)[:100]


def test_exact_duplicate_groups_mega_duplicate_bounded(spark):
    # 12,000 copies of one text: the exact copy count survives, the id
    # list is the CAP smallest ids
    n = 12_000
    d = spark.range(n).selectExpr(
        "CAST((id * 7) % 12000 AS BIGINT) AS doc_id", "'same text' AS text"
    )
    (g,) = DD.exact_duplicate_groups(d).collect()
    assert g["n_docs"] == n
    assert g["doc_ids"] == list(range(10_000))


def test_simhash_empty_docs_bounded(spark):
    # N_HOT empty docs all hash to signature 0 → one bucket per chunk;
    # uncapped this is ~12.5M pairs; capped it is ≤ C(200,2).  Same
    # path as the q_docs_simhash_pairs query: 32-bit signatures, k=3.
    rows = [(i, "") for i in range(N_HOT)]
    rows += [(N_HOT + 1, "the quick brown fox jumps over the lazy dog")]
    rows += [(N_HOT + 2, "the quick brown fox jumps over the lazy hog")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = DD.hamming_pairs(
        simhash32_signatures(d), max_hamming=3, max_bucket=200
    )
    cap_pairs = 200 * 199 // 2
    assert 0 < pairs.count() <= cap_pairs + 1
    # the genuine near-dup pair (1 bit apart) survives the degenerate
    # flood, which fills every chunk bucket the two share at value 0
    real = pairs.where(F.col("id1") > N_HOT).collect()
    assert [(r["id1"], r["id2"], r["hamming"]) for r in real] == [
        (N_HOT + 1, N_HOT + 2, 1)
    ]


def test_embedding_zero_vectors_bounded(spark):
    # N_HOT all-zero vectors collide into one (band, bucket) key in
    # every band; the cap bounds candidates, and cosine(0,0)=0 keeps
    # them out of the result; the genuine near-identical pair survives
    dim = 8
    rows = [(i, [0.0] * dim) for i in range(N_HOT)]
    rows += [(N_HOT + 1, [1.0, 0.2, 0.1, 0.0, 0.3, 0.9, 0.5, 0.4])]
    rows += [(N_HOT + 2, [1.0, 0.21, 0.1, 0.0, 0.3, 0.9, 0.5, 0.4])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = DD.embedding_near_duplicates(
        e, threshold=0.99, planes=4, max_bucket=200
    ).collect()
    assert {(r["id1"], r["id2"]) for r in got} == {
        (str(N_HOT + 1), str(N_HOT + 2))
    }


def test_fingerprint_matches_boilerplate_bounded(spark):
    # N_HOT identical docs share every winnow hash → each posting list
    # holds all N_HOT ids; uncapped that is ~12.5M pairs per hash,
    # capped it is ≤ C(cap, 2) distinct pairs total (the same 200
    # smallest ids survive every hash's slice), and a genuine partial
    # overlap outside the flood still surfaces
    from powerbi_ontology_extractor_spark.operators import text as TX

    boiler = "common license header appearing verbatim in every file"
    rows = [(i, boiler) for i in range(N_HOT)]
    rows += [(N_HOT + 1, f"alpha preamble. {boiler} alpha tail.")]
    rows += [(N_HOT + 2, f"beta preamble. {boiler} beta tail.")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = TX.fingerprint_matches(
        TX.engine_native_fingerprints(d, k=10, window=4), min_shared=3,
        max_bucket=200,
    ).collect()
    cap_pairs = 200 * 199 // 2
    assert 0 < len(got) <= cap_pairs + 2 * 200 + 1
    assert (N_HOT + 1, N_HOT + 2) in {(r["id1"], r["id2"]) for r in got}


@pytest.fixture(scope="module")
def hot_props(spark):
    # entity 'Date' bound identically in N_HOT dashboards (ONE
    # fingerprint group → zero same-group pairs) plus two dashboards
    # with a divergent property set
    rows = []
    for i in range(N_HOT):
        for p in ("Year", "Month"):
            rows.append((f"r{i:05d}", "D", "Date", 0, p, "Int64",
                         False, False, "", p))
    for src in ("x0", "x1"):
        for p in ("Year", "Week"):
            rows.append((src, "D", "Date", 0, p, "Int64",
                         False, False, "", p))
    return spark.createDataFrame(
        rows,
        "repo string, dataset string, entity string, pos int, "
        "property string, data_type string, required boolean, "
        "unique boolean, description string, source_column string",
    )


def test_entity_conflicts_debt_hot_name_bounded(hot_props):
    # pairs exist ONLY across the two distinct property sets:
    # N_HOT × 2 rows, not C(N_HOT+2, 2) ≈ 12.5M
    rows = A.entity_conflicts_debt(hot_props).collect()
    assert len(rows) == N_HOT * 2
    assert all(r["only_in_1"] == ["Month"] or r["only_in_2"] == ["Month"]
               for r in rows)
    # and the exemplar cap is a live policy: max_group=50 bounds output
    capped = A.entity_conflicts_debt(hot_props, max_group=50).collect()
    assert len(capped) == 50 * 2


def test_entity_structure_conflicts_hot_name_bounded(hot_props):
    rows = A.entity_structure_conflicts(hot_props).collect()
    assert len(rows) == N_HOT * 2
    r = rows[0]
    assert r["definition1"] == "2 properties"
    assert r["definition2"] == "2 properties"
    assert r["dashboard1"] < r["dashboard2"]


def test_measure_conflicts_hot_concept_capped(spark):
    """One concept defined by two formulas in 3,000 dashboards each:
    max_group=50 gives exactly the 50×50 pairs of each formula group's
    50 smallest dashboards (a per-group prefix, not a hash sample)."""
    n = 3000
    rows = [
        (f"{p}{i:05d}", "D", "T", "Total Sales", formula, "", "")
        for p, formula in (("a", "SUM(T[x])"), ("b", "SUM(T[y])"))
        for i in range(n)
    ]
    m = spark.createDataFrame(
        rows,
        "repo string, dataset string, table string, measure string, "
        "dax_formula string, description string, folder string",
    )
    got = A.measure_conflicts(m, max_group=50).collect()
    assert len(got) == 50 * 50
    assert {(r["dashboard1"], r["dashboard2"]) for r in got} == {
        (f"a{i:05d}/D", f"b{j:05d}/D") for i in range(50) for j in range(50)
    }
    assert {(r["definition1"], r["definition2"]) for r in got} == {
        ("SUM(T[x])", "SUM(T[y])")
    }


def test_minhash_identical_docs_verify_distinct_pairs(spark):
    """500 identical documents collide in all 32 bands; each band's
    bucket is capped to the 200 smallest (string) ids.  The gram joins
    receive each of the C(200,2) = 19,900 candidate pairs once (the
    per-band pairs, 32 × 19,900 = 636,800 rows, are deduplicated before
    them), every join's output equals its candidate input (one gram row
    per id), and the rows do not depend on the shuffle partitioning."""
    from plan_audit import join_output_rows

    text = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    d = spark.createDataFrame(
        [(i, text) for i in range(500)], "doc_id long, text string"
    )
    smallest = sorted(str(i) for i in range(500))[:200]
    expected = {(a, b) for a in smallest for b in smallest if a < b}
    assert len(expected) == 19_900

    keys = ["spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled"]
    saved = {k: spark.conf.get(k) for k in keys}
    out = []
    try:
        for parts in ("3", "17"):
            spark.conf.set(keys[0], parts)
            spark.conf.set(keys[1], "false")
            df = DD.minhash_near_duplicates(d)
            rows = sorted(map(tuple, df.collect()))
            assert join_output_rows(df) == [19_900, 19_900]
            out.append(rows)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert {(a, b) for a, b, _ in out[0]} == expected
    assert all(j == 1.0 for _, _, j in out[0])
    assert out[0] == out[1]
