"""Training-data operators: dedup (exact/minhash/simhash/embedding)
and text analysis — over the generated documents test table plus
synthetic edge cases."""

import itertools
import re

import pytest
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.operators import dedup as DD
from powerbi_ontology_extractor_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").persist()


def test_exact_dedup_roundtrip(spark):
    d = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    groups = DD.exact_duplicate_groups(d).collect()
    assert len(groups) == 1 and groups[0]["doc_ids"] == [1, 2]


def test_ngram_jaccard_values(spark):
    d = spark.createDataFrame(
        [("a b c d", "a b c d"), ("a b c d", "x y z w"), ("a b c d e", "a b c d f")],
        "t1 string, t2 string",
    )
    g = DD.word_ngrams(DD.word_ngrams(d, "t1", 2), "t2", 2)
    j = DD.ngram_jaccard(F.col("t1"), F.col("t2")).alias("j")
    vals = [round(r["j"], 4) for r in g.select(j).collect()]
    assert vals[0] == 1.0
    assert vals[1] == 0.0
    # bigrams of 'a b c d e' = {ab,bc,cd,de}; of 'a b c d f' = {ab,bc,cd,df}
    # intersection 3, union 5 → 0.6
    assert vals[2] == 0.6


def _py_ngrams(text: str, n: int) -> list[str]:
    """Python twin of word_ngrams: Spark's trim strips only spaces, Java's
    \\s is ASCII whitespace, split keeps leading/trailing empty tokens,
    array_distinct keeps first occurrences."""
    toks = re.split(r"\s+", text.lower().strip(" "), flags=re.ASCII)
    grams = [" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)]
    return list(dict.fromkeys(grams))


def _py_jaccard(a: list[str], b: list[str]) -> float:
    union = set(a) | set(b)
    return len(set(a) & set(b)) / len(union) if union else 1.0


GRAM_CASES = [
    "",
    "two words",
    "\tfoo bar baz",
    "\nfoo bar baz qux",
    "foo bar baz\n",
    "  Foo   BAR baz  ",
    "a b c a b c a b c",
    "a b c a b c d",
    "Größe Straße ÉCOLE naïve café",
    "größe straße école naïve",
    "non\u00a0breaking space here",
    "日本語 の テキスト です",
]


@pytest.mark.parametrize("n", [1, 3])
def test_word_ngrams_match_python_twin(spark, n):
    """word_ngrams / ngram_jaccard against their Python twins on the
    edge cases: empty text, fewer than n tokens, leading tab/newline,
    repeated grams, non-ASCII words."""
    d = spark.createDataFrame(list(enumerate(GRAM_CASES)), "id int, text string")
    g = DD.word_ngrams(d, "text", n)
    grams = {r["id"]: r["text"] for r in g.collect()}
    assert grams == {i: _py_ngrams(t, n) for i, t in enumerate(GRAM_CASES)}
    pairs = g.alias("a").crossJoin(g.alias("b")).select(
        F.col("a.id").alias("i"), F.col("b.id").alias("j"),
        DD.ngram_jaccard(F.col("a.text"), F.col("b.text")).alias("jac"),
    )
    got = {(r["i"], r["j"]): r["jac"] for r in pairs.collect()}
    want = {
        (i, j): _py_jaccard(grams[i], grams[j])
        for i, j in itertools.product(grams, repeat=2)
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-12 for k in want)


def _lambda_bodies(plan: str):
    """The argument text of every lambdafunction(...) in a plan string."""
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        yield plan[m.end():i - 1]


def test_tokenizer_runs_once_per_document(spark, sf_dir):
    """The gram lambda reads a projected token column: no split( inside
    any lambdafunction of the optimized plans of the MinHash verify and
    the adjacent-doc n-gram Jaccard query (a computed token expression
    there re-tokenizes the text once per gram)."""
    import __spark_entry__ as entry

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (
        DD.minhash_near_duplicates(docs),
        entry.queries()["q_docs_ngram_jaccard_adjacent"](spark, sf_dir),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = list(_lambda_bodies(plan))
        assert any("concat_ws" in b for b in bodies), plan  # the gram lambda
        assert not any("split(" in b for b in bodies), plan


def test_minhash_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    d = spark.createDataFrame(
        [
            (1, base),
            (2, base + "extra tail words"),
            (3, "completely different document about spark physical plans " * 5),
        ],
        "doc_id long, text string",
    )
    pairs = DD.minhash_near_duplicates(d, jaccard_threshold=0.5).collect()
    assert {(r["id1"], r["id2"]) for r in pairs} == {("1", "2")}


def test_results_independent_of_shuffle_partitions(spark, docs):
    """Dedup and canonicalization output must not depend on how the
    shuffles are partitioned (every cap slices by sorted id).  AQE
    coalescing is off so the two settings really run different
    partition counts."""
    from powerbi_ontology_extractor_spark.operators.analytics import (
        canonical_definitions,
    )
    from powerbi_ontology_extractor_spark.operators.canonicalize import (
        entity_canonical_mapping,
    )
    from powerbi_ontology_extractor_spark.operators.extract import extract_all
    from powerbi_ontology_extractor_spark.operators.ontology import (
        generate_ontology,
    )
    from powerbi_ontology_extractor_spark.sources.corpus import corpus_df

    md = extract_all(corpus_df(spark, n_repos=4), materialize=True)
    od = generate_ontology(md, materialize=True)
    # measure 'KPI': one winning formula in three dashboards and two
    # single-dashboard alternatives whose rank order (formula 'a…' from
    # dashboard z, then 'b…' from dashboard a) is not source order
    kpi = [("w", "D", "T", "KPI", "SUM(x)", "", "", []) for w in "pqr"]
    kpi += [("z", "D", "T", "KPI", "a(x)", "", "", []),
            ("a", "D", "T", "KPI", "b(x)", "", "", [])]
    measures = md["measures"].unionByName(
        spark.createDataFrame(kpi, md["measures"].schema)
    )
    # the documents have no byte-identical pairs: re-insert every 10th
    # under a shifted id so the exact groups are non-empty
    text = docs.select("doc_id", "text")
    dup_docs = text.unionByName(
        text.where(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )

    def run():
        return [
            sorted(map(tuple, df.collect()))
            for df in (
                DD.exact_duplicate_groups(dup_docs),
                DD.minhash_near_duplicates(docs, jaccard_threshold=0.5),
                entity_canonical_mapping(od["ontology_entities"], md["properties"]),
                # alternative_sources as emitted, not re-sorted
                canonical_definitions(measures),
            )
        ]

    keys = ["spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled"]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        out = []
        for parts in ("3", "17"):
            spark.conf.set(keys[0], parts)
            spark.conf.set(keys[1], "false")
            out.append(run())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert all(out[0])  # each operator produced rows
    assert out[0] == out[1]
    alternatives = {r[0]: r[4] for r in out[0][3]}
    assert alternatives["kpi"] == ["a/D", "z/D"]
    assert all(a == sorted(a) for a in alternatives.values())


def test_simhash_near_duplicates(spark):
    # the 32-bit signatures of 1 and 2 agree; 3 is 7 bits from both
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    d = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("theta", "thetaX", 1)),
            (3, "qq ww ee rr " * 8),
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, "the quick brown fox jumps over the lazy hog"),
        ],
        "doc_id long, text string",
    )
    pairs = DD.hamming_pairs(TX.simhash32_signatures(d), max_hamming=3).collect()
    assert {(r["id1"], r["id2"]): r["hamming"] for r in pairs} == {
        (1, 2): 0,
        (4, 5): 1,
    }


def test_hamming_pairs_default_width_is_32_bits(spark):
    # 250 random 32-bit signatures plus a pair 2 bits apart, one bit in
    # each 16-bit half: with no width argument every chunk must cover
    # real signature bits, or the pair drowns in an all-zero chunk
    # bucket and is capped away
    import random

    rng = random.Random(11)
    sigs = [(i, rng.getrandbits(32)) for i in range(250)]
    base = rng.getrandbits(32)
    sigs += [(1000, base), (1001, base ^ (1 << 3) ^ (1 << 20))]
    got = DD.hamming_pairs(
        spark.createDataFrame(sigs, "id long, sig long"), max_hamming=3
    ).collect()
    truth = {
        (a, b): bin(x ^ y).count("1")
        for a, x in sigs for b, y in sigs
        if a < b and bin(x ^ y).count("1") <= 3
    }
    assert {(r["id1"], r["id2"]): r["hamming"] for r in got} == truth
    assert truth[(1000, 1001)] == 2


def test_simhash_identical_is_zero(spark):
    d = spark.createDataFrame(
        [(1, "same words here"), (2, "same words here")], "doc_id long, text string"
    )
    pairs = DD.hamming_pairs(TX.simhash32_signatures(d), max_hamming=0).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0


def test_embedding_near_duplicates(spark):
    v = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, v, 0),
        (2, [0.999, 0.01, 0.0, 0.0], 0),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0], 1),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = DD.embedding_near_duplicates(e, threshold=0.99, planes=4).collect()
    assert {(r["id1"], r["id2"]) for r in pairs} == {("1", "2")}


def test_token_counts(spark):
    d = spark.createDataFrame(
        [("hello world",), ("  a  b   c ",), ("",)], "text string"
    )
    got = [r["n"] for r in d.select(TX.token_count(F.col("text")).alias("n")).collect()]
    assert got == [2, 3, 0]


def test_language_id(spark):
    d = spark.createDataFrame(
        [
            ("the cat is in the house and it is warm",),
            ("der hund ist nicht in das haus und die katze",),
            ("le chat est dans la maison et les chiens",),
            ("zzz qqq xxx",),
        ],
        "text string",
    )
    got = [r["l"] for r in d.select(TX.language_id(F.col("text")).alias("l")).collect()]
    assert got == ["en", "de", "fr", "unknown"]


def test_language_id_on_documents_table(docs):
    """The synthetic documents table draws from ONE shared English-ish
    vocabulary regardless of its lang label, so ground-truth accuracy is
    not recoverable from content; assert instead that the classifier is
    total (every row gets a prediction from the closed set)."""
    preds = docs.select(TX.language_id(F.col("text")).alias("p"))
    valid = set(TX.LANG_PROFILES) | {"unknown"}
    got = {r["p"] for r in preds.dropDuplicates().collect()}
    assert got <= valid
    assert preds.where(F.col("p").isNull()).count() == 0


def test_quality_features_and_score(spark):
    d = spark.createDataFrame(
        [
            (1, "The cat is on the mat and it is a good day for walking."),
            (2, "!!! ??? ,,, ;;; ###"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    feats = TX.quality_features(d).collect()
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[1]["n_tokens"] == 14 and by_id[1]["stopword_ratio"] > 0.3
    assert by_id[3]["n_tokens"] == 0 and by_id[3]["stopword_ratio"] == 0.0
    assert by_id[3]["punct_ratio"] == 0.0
    assert by_id[2]["punct_ratio"] > 0.5


def test_fingerprints_and_matches(spark):
    shared = "common shared passage that appears in both documents verbatim"
    d = spark.createDataFrame(
        [
            (1, f"intro one. {shared} tail one."),
            (2, f"different intro. {shared} other tail."),
            (3, "totally unrelated text with nothing in common at all"),
        ],
        "doc_id long, text string",
    )
    fp = TX.engine_native_fingerprints(d, k=10, window=4)
    matches = TX.fingerprint_matches(fp, min_shared=3).collect()
    assert {(r["id1"], r["id2"]) for r in matches} == {(1, 2)}


def test_docs_scale_smoke(docs):
    """Run the headline text ops over the real documents table."""
    n = docs.count()
    feats = TX.quality_features(docs)
    assert feats.count() == n
    groups = DD.exact_duplicate_groups(docs)
    assert (groups.agg(F.sum("n_docs")).first()[0] or 0) <= n


def test_embedding_near_dup_banded_recall(spark):
    """Banded hyperplane LSH must achieve (near-)exact recall vs the
    brute-force truth at cosine ≥ 0.9 — the single-wide-signature
    design caught only ~a fifth of moderate-angle true pairs."""
    import numpy as _np

    rng = _np.random.RandomState(7)
    base = rng.normal(size=(30, 32))
    rows = []
    vid = 0
    for i in range(30):
        v = base[i] / _np.linalg.norm(base[i])
        rows.append((vid, v.tolist())); vid += 1
        # planted near-dup at cosine ~0.93-0.98
        nd = v + rng.normal(scale=0.05, size=32)
        nd = nd / _np.linalg.norm(nd)
        rows.append((vid, nd.tolist())); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # brute-force truth
    vecs = dict(rows)
    truth = set()
    for i in vecs:
        for j in vecs:
            if i < j:
                a, b = _np.array(vecs[i]), _np.array(vecs[j])
                if float(a @ b) >= 0.9:
                    truth.add((str(i), str(j)))
    got = {
        (r["id1"], r["id2"])
        for r in DD.embedding_near_duplicates(df, threshold=0.9).collect()
    }
    assert truth, "fixture must plant true pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"recall {recall:.2f}, missed {sorted(truth - got)[:5]}"
    # precision is exact by construction (cosine verify)
    assert got <= truth
