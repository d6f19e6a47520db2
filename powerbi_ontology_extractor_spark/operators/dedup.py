"""Document deduplication for large-scale training-data pipelines.

Strategies over a documents table (id + text) or an embeddings table
(id + vector):

- exact:      salted two-phase groupBy on md5(text), JVM-side
- MinHash-LSH: shingle → minhash signature (numpy Arrow UDF) → band →
               capped bucket pairs → distinct candidates → exact-Jaccard
               verify against per-document gram arrays
- SimHash:    Hamming-≤k pairs of token-hash fingerprints (the 32-bit
               text.simhash32_signatures) found by the pigeonhole band
               trick (split into k+1 chunks; any pair within distance k
               shares ≥1 exact chunk)
- n-gram Jaccard: exact verification metric over gram arrays built once
               per document (applied to LSH candidates; never all-pairs)
- embedding cosine: banded random-hyperplane LSH → exact cosine verify

Scale notes: nothing here is O(n²).  Every candidate-generation step is
a groupBy on a band/chunk key with bucket-size caps; exact verification
only touches candidate pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from powerbi_ontology_extractor_spark.functions.salt import capped_collect
from powerbi_ontology_extractor_spark.operators.canonicalize import (
    capped_bucket_pairs,
    lsh_candidate_pairs,
)


def exact_duplicate_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_docs,
    doc_ids).  md5 chosen for cross-engine comparability.  A
    mega-duplicate document is a hot key: ``n_docs`` is its exact copy
    count, ``doc_ids`` the salt.CAP smallest ids (capped_collect)."""
    d = docs.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_hash")
    )
    return capped_collect(d, ["content_hash"], ["doc_id"]).select(
        "content_hash", F.col("n").alias("n_docs"), F.col("doc_id").alias("doc_ids")
    ).where(F.col("n_docs") > 1)


def word_ngrams(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """``df`` with ``text_col`` replaced by its distinct word-n-gram
    array, fully JVM-side.  Tokens: lower-case, strip spaces (``trim``
    strips only ' ', so a leading tab or newline leaves an empty first
    token), split on whitespace runs; then sliding n-grams via transform
    over an index sequence → array_distinct.  Fewer than n tokens give
    one gram of them all.  The gram unit of ngram_jaccard and the
    MinHash verify stage.

    The tokens are their own projection: the gram lambda is evaluated
    once per gram, so a tokenizer expression inside it would re-split
    the whole text per gram (O(words²) per document).  Catalyst does not
    collapse the two projections, as the lambda reads the tokens
    twice."""
    keep = [c for c in df.columns if c != text_col]
    toks = F.col(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    return df.select(
        *keep, F.split(F.trim(F.lower(toks)), r"\s+").alias(text_col)
    ).select(*keep, grams.alias(text_col))


def ngram_jaccard(ga: F.Column, gb: F.Column) -> F.Column:
    """Exact Jaccard between two distinct gram arrays (``word_ngrams``):
    |union| = |a| + |b| − |a ∩ b| for distinct arrays, so one
    array_intersect per pair and no array_union; two empty arrays
    score 1.0."""
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(ga) + F.size(gb) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def _parallelism_floor(df: DataFrame) -> DataFrame:
    """Repartition to core count ONLY when the plan has fewer
    partitions (guide §2/§6): a one-file/one-row-group input otherwise
    caps every narrow stage (signature UDFs, band explodes, partial
    collects, per-pair verifies) at the scan's 1-2 partitions —
    measured 17 s of the 20 s sf1.0 minhash wall serialized on ≤2
    cores.  At real scale inputs have thousands of splits, so the
    condition is false and nothing is re-shuffled or collapsed.
    Deterministic-safe here: every downstream cap slices by sorted id,
    so results do not depend on the physical partitioning."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    jaccard_threshold: float = 0.7,
    ngram_n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH blocking, then exact n-gram
    Jaccard verification of each distinct candidate pair.  Doc ids must
    be unique: a repeated id pairs with itself and joins once per copy.
    Output: (id1, id2, jaccard), one row per pair."""
    d = docs.select(
        F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text")
    )
    d = _parallelism_floor(d)
    # word shingles: char shingles over a shared vocabulary collapse the
    # whole corpus into a handful of LSH buckets (quadratic pair blowup).
    # The candidates are DISTINCT pairs: a pair colliding in k bands
    # would otherwise be joined and verified k times (7,304 rows for 257
    # pairs on 5,000 sf0.1 docs; 636,800 for 19,900 on 500 identical docs)
    cands = lsh_candidate_pairs(
        d, "id", "text", num_hashes=num_hashes, bands=bands,
        unit="word", shingle_k=ngram_n,
    )
    # grams once per DOCUMENT, not once per candidate side inside the
    # join condition (guide §2.3 "project before the exchange" applied
    # to an opaque expression)
    g = word_ngrams(d, "text", ngram_n)
    t1 = g.select(F.col("id").alias("id1"), F.col("text").alias("g1"))
    t2 = g.select(F.col("id").alias("id2"), F.col("text").alias("g2"))
    return (
        cands.join(t1, "id1")
        .join(t2, "id2")
        .select(
            "id1", "id2", ngram_jaccard(F.col("g1"), F.col("g2")).alias("jaccard")
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def hamming_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Pairs within Hamming distance ≤ k via the pigeonhole principle:
    split the 32-bit signature into k+1 chunks; any pair at distance ≤k
    agrees exactly on ≥1 chunk → groupBy chunk value finds all of them.
    ``sigs`` carries (id, sig) — any orderable id type, sig a long
    holding a 32-bit signature (text.simhash32_signatures).

    Candidate generation is the capped groupBy-and-explode shape
    (capped_bucket_pairs), NOT a key-equality self-join: every
    empty/near-empty doc gets signature 0 and would land in ONE
    degenerate (chunk_idx, 0) bucket — quadratic pairs under a
    self-join.  The cap truncates such buckets to ``max_bucket``
    members (id-sorted, deterministic); the sig rides in the payload
    struct so no join-back is needed.  Output: (id1, id2, hamming)."""
    chunks = max_hamming + 1
    width = 32 // chunks
    # chunk count is a plain Python int → unroll (shift amounts must be
    # literals for shiftrightunsigned)
    def chunk_val(ci: int) -> F.Column:
        return F.shiftrightunsigned(F.col("sig"), ci * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(ci).alias("chunk_idx"),
                chunk_val(ci).alias("chunk_val"),
            )
            for ci in range(chunks)
        ]
    )
    banded = sigs.select(
        "id", "sig", F.explode(chunk_structs).alias("c")
    ).select("id", "sig", F.col("c.chunk_idx"), F.col("c.chunk_val"))
    cands = (
        capped_bucket_pairs(
            banded,
            ["chunk_idx", "chunk_val"],
            F.struct(F.col("id"), F.col("sig")),
            max_bucket=max_bucket,
        )
        .select(
            F.col("p1.id").alias("id1"),
            F.col("p2.id").alias("id2"),
            F.col("p1.sig").alias("sig1"),
            F.col("p2.sig").alias("sig2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    hamming = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2")))
    return (
        cands.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


# --- embedding near-dup --------------------------------------------------------


def cosine_similarity_col(a: F.Column, b: F.Column) -> F.Column:
    """Cosine between two array<float/double> columns — built-in
    zip_with/aggregate, JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def _plane_matrix(dim: int, planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(dim, planes))


def hyperplane_bucket_udf(planes: int = 16, seed: int = 42):
    """Arrow UDF: vector → int bucket id (sign pattern across random
    hyperplanes).  The plane matrix is built lazily from the first
    batch's dimensionality and cached per worker."""

    state: dict[int, np.ndarray] = {}

    @F.pandas_udf(IntegerType())
    def bucket(vec: pd.Series) -> pd.Series:
        out = []
        for v in vec:
            if v is None or len(v) == 0:
                out.append(-1)
                continue
            arr = np.asarray(v, dtype=float)
            m = state.get(arr.shape[0])
            if m is None:
                m = _plane_matrix(arr.shape[0], planes, seed)
                state[arr.shape[0]] = m
            bits = (arr @ m) >= 0
            out.append(int(bits.dot(1 << np.arange(planes))))
        return pd.Series(out, dtype="int32")

    return bucket


def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 8,
    bands: int = 8,
    seed: int = 42,
    max_bucket: int = 200,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold, blocked by BANDED
    random-hyperplane LSH: ``bands`` independent sign signatures of
    ``planes`` hyperplanes each; a pair is a candidate if it collides in
    ANY band (OR-amplification), then exact cosine filters.

    Recall math (hyperplane LSH: per-plane agreement prob 1-θ/π): at
    cosine 0.95 (θ≈0.32) one 16-plane signature catches only ~19% of
    true pairs; 8 bands × 8 planes catch 1-(1-0.43)^8 ≈ 98.9%.  A
    single wide signature is precision-biased; dedup needs recall — the
    exact cosine verify restores precision.

    Candidate generation is the capped groupBy-and-explode shape
    (capped_bucket_pairs) rather than a (band, bucket) self-join: a
    duplicate-heavy bucket (the very thing dedup looks for) or all-zero
    vectors collapsing into one signature would make the self-join
    quadratic.  Buckets are truncated at ``max_bucket`` (id-sorted,
    deterministic); vectors ride in the payload struct — bounded at
    max_bucket × dim floats per bucket — so no join-back is needed.
    Output: (id1, id2, cosine).
    """
    e = _parallelism_floor(
        embeddings.select(
            F.col(id_col).cast("string").alias("id"), F.col(vec_col).alias("vec")
        )
    )
    # one bucket column per band (independent plane matrices via seed
    # offsets); explode into (band, bucket) rows → one shuffle
    banded = e.select(
        "id",
        "vec",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        hyperplane_bucket_udf(planes, seed + 1000 * bi)(
                            F.col("vec")
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "vec", F.col("bb.band"), F.col("bb.bucket"))
    cands = (
        capped_bucket_pairs(
            banded,
            ["band", "bucket"],
            F.struct(F.col("id"), F.col("vec")),
            max_bucket=max_bucket,
        )
        .select(
            F.col("p1.id").alias("id1"),
            F.col("p2.id").alias("id2"),
            F.col("p1.vec").alias("v1"),
            F.col("p2.vec").alias("v2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    return (
        cands.withColumn("cosine", cosine_similarity_col(F.col("v1"), F.col("v2")))
        .where(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )
