"""Entity canonicalization at web scale:
MinHash-LSH blocking → batched candidate scoring → connected components
(large-star/small-star) → canonical IRI assignment → triple rewrite.

The reference only groups by *exact* (normalized) name/formula
(/root/reference/powerbi_ontology/analyzer.py:98,169,253) and offers a
pairwise rename heuristic
(/root/reference/powerbi_ontology/schema_mapper.py:353-369).  At 10^12
files exact grouping misses near-duplicates and pairwise scoring is
O(n²) — so this module:

1. computes MinHash signatures over character shingles in a
   numpy-vectorized Arrow UDF (one matrix op per batch);
2. blocks candidates by LSH band buckets (groupBy — only items sharing
   a band hash are ever paired; bucket size capped against
   pathological skew);
3. scores candidate pairs with the reference's own similarity
   heuristics (containment / common-char ratio) as one SQL expression
   — exact scoring only *inside* blocks, no Python UDF;
4. contracts the accepted-pair graph to components with the
   large-star/small-star iterative DataFrame algorithm (Kiveris et al.,
   "Connected Components in MapReduce and Beyond", SOCC'14), each star
   step one window min; every iteration is one eager local checkpoint,
   whose job also fills the convergence fingerprint (an Observation);
5. assigns each component the lexicographically-least member IRI as its
   canonical IRI and rewrites triples through the mapping (two hash
   joins).
"""

from __future__ import annotations

import zlib
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

from powerbi_ontology_extractor_spark.functions.salt import capped_collect

_MERSENNE = (1 << 61) - 1


def _hash_params(num_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


def make_minhash_udf(
    num_hashes: int = 64,
    shingle_k: int = 4,
    seed: int = 42,
    unit: str = "char",
):
    """Returns an Arrow-batched UDF: Series[str] → Series[list[long]].

    ``unit``: 'char' (character k-shingles — right for short strings
    like formulas/names) or 'word' (word k-shingles — right for
    documents, where char shingles from a shared vocabulary make
    everything look similar and LSH degenerates into one giant bucket).

    Signature math is one (num_shingles × num_hashes) numpy broadcast
    per document — no per-character Python.
    """
    a, b = _hash_params(num_hashes, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def minhash(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            t = (t or "").lower()
            if unit == "word":
                toks = t.split()
                if len(toks) < shingle_k:
                    shingles = {" ".join(toks)} if toks else {""}
                else:
                    shingles = {
                        " ".join(toks[i : i + shingle_k])
                        for i in range(len(toks) - shingle_k + 1)
                    }
            elif len(t) < shingle_k:
                shingles = {t} if t else {""}
            else:
                shingles = {t[i : i + shingle_k] for i in range(len(t) - shingle_k + 1)}
            x = np.fromiter(
                (zlib.crc32(s.encode("utf-8")) for s in shingles),
                dtype=np.int64,
                count=len(shingles),
            )
            sig = ((np.outer(x, a) + b) % _MERSENNE).min(axis=0)
            out.append(sig.tolist())
        return pd.Series(out)

    return minhash


def capped_bucket_pairs(
    banded: DataFrame,
    bucket_cols: Sequence[str],
    payload: F.Column,
    max_bucket: int = 200,
) -> DataFrame:
    """In-bucket candidate pairs with a fully memory-bounded cap.

    ``banded`` carries one row per (item, bucket); ``payload`` is a
    struct whose FIRST field is the orderable item id (extra fields ride
    along so callers need no join-back).  Per bucket the payload list is
    the ``max_bucket`` smallest payloads, collected by
    :func:`~powerbi_ontology_extractor_spark.functions.salt.capped_collect`
    (salted two-phase, exactly the single-phase prefix), so even a
    degenerate bucket (every empty doc hashing to one key) never
    funnels one aggregation buffer.  Pair explosion is JVM-side;
    sortedness gives p1.id < p2.id for free.  Returns (p1, p2) struct
    columns; callers dropDuplicates on ids (an item pair can share
    several buckets).
    """
    buckets = capped_collect(
        banded.select(*bucket_cols, payload.alias("items")),
        bucket_cols,
        ["items"],
        max_bucket,
    ).where(F.size("items") > 1)
    items = F.col("items")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(items) - 1),
            lambda i: F.transform(
                F.slice(items, i + 1, F.size(items)),
                lambda y: F.struct(
                    F.element_at(items, i).alias("p1"), y.alias("p2")
                ),
            ),
        )
    )
    return buckets.select(F.explode(pair_structs).alias("pp")).select(
        "pp.p1", "pp.p2"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 200,
    unit: str = "char",
    shingle_k: int = 4,
) -> DataFrame:
    """(id1, id2) candidate pairs sharing ≥1 LSH band bucket.

    Buckets larger than ``max_bucket`` are truncated (skew guard — a
    bucket of B items emits B² pairs); the capped collect is salted
    two-phase (capped_bucket_pairs) so even a degenerate bucket never
    funnels one aggregation buffer.  A pair colliding in k bands is
    emitted once (dropDuplicates): ids must be unique, and every caller
    verifies or links each distinct pair once.
    """
    rows_per_band = num_hashes // bands
    minhash = make_minhash_udf(num_hashes, shingle_k=shingle_k, unit=unit)
    sigs = df.select(
        F.col(id_col).alias("id"), minhash(F.col(text_col)).alias("sig")
    )
    banded = sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "band_hash"),
    )
    pairs = capped_bucket_pairs(
        banded,
        ["band", "band_hash"],
        F.struct(F.col("id")),
        max_bucket=max_bucket,
    )
    return pairs.select(
        F.col("p1.id").alias("id1"), F.col("p2.id").alias("id2")
    ).dropDuplicates()


def similar_names_sql(a: str, b: str) -> F.Column:
    """The reference's rename heuristic (schema_mapper.py:353-369) on
    columns ``a`` and ``b``, as one SQL expression: after lower-casing
    and stripping ``_``/``-``, an empty or null name is never similar;
    otherwise containment, or a length difference ≤3 with more than 70%
    of the first name's characters (code points) found in the second,
    over the longer length."""
    x, y = (f"replace(replace(lower(`{c}`), '_', ''), '-', '')" for c in (a, b))
    return F.expr(
        f"""CASE
        WHEN coalesce({x}, '') = '' OR coalesce({y}, '') = '' THEN false
        WHEN instr({y}, {x}) > 0 OR instr({x}, {y}) > 0 THEN true
        WHEN abs(char_length({x}) - char_length({y})) <= 3 THEN
            size(filter(sequence(1, char_length({x})),
                        _pos -> instr({y}, substring({x}, _pos, 1)) > 0))
            / greatest(char_length({x}), char_length({y})) > 0.7
        ELSE false END"""
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor strictly larger than u to
    m(u) = min(Γ(u) ∪ {u}); m(u) ≤ u < v, so no self-loop is emitted."""
    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.select("u", "v", m.alias("m"))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small, then connect every smaller neighbor
    (and u itself) to m(u) = min(Γ(u) ∪ {u}): one window, and per edge
    the pair (v, m) and (u, m)."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = F.min("v").over(Window.partitionBy("u")).alias("m")
    pairs = F.array(
        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
    )
    return (
        oriented.select("u", "v", m)
        .select(F.inline(pairs))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
    )


def connected_components(
    edges: DataFrame, src: str = "u", dst: str = "v", max_iter: int = 25
) -> DataFrame:
    """(node, component) for the undirected graph given by ``edges``.

    Alternates large-star / small-star until two iterations in a row
    have the same edge count and order-insensitive xxhash64 sum.  Each
    iteration is one eager localCheckpoint (cuts the quadratic lineage
    of iterative DataFrame jobs), whose job also fills the fingerprint
    as an ``Observation``: convergence runs no job of its own.  Nodes
    come from the checkpointed input, so the caller's plan runs once;
    an entity with no accepted edge is the caller's to keep canonical.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .localCheckpoint(eager=True)
    )
    # every node as a self-edge: a component's min has no out-edge
    nodes = e.select("u", F.col("u").alias("v")).unionByName(
        e.select(F.col("v").alias("u"), "v")
    )

    prev = None
    for _ in range(max_iter):
        fp = Observation()
        e = (
            _small_star(_large_star(e))
            .observe(
                fp,
                F.count("*").alias("n"),
                # decimal sum: overflow-safe under ANSI mode
                F.coalesce(
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        cur = fp.get
        if cur == prev:
            break
        prev = cur

    # post-state: every edge points node → component-min (v < u)
    return (
        e.unionByName(nodes)
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("component"))
    )


def _entity_rows(entities: DataFrame, properties: DataFrame) -> DataFrame:
    """(id, repo, dataset, entity, blocking_text, props) per entity:
    ``props`` its sorted property names, ``blocking_text`` the LSH
    input ``lower(entity) || prop names``."""
    props = properties.groupBy("repo", "dataset", "entity").agg(
        F.array_sort(F.collect_set("property")).alias("props")
    )
    return (
        entities.join(props, ["repo", "dataset", "entity"], "left")
        .withColumn("props", F.coalesce(F.col("props"), F.array()))
        .select(
            F.concat_ws(
                "||", F.col("repo"), F.col("dataset"), F.col("entity")
            ).alias("id"),
            "repo",
            "dataset",
            "entity",
            F.concat(
                F.lower(F.col("entity")),
                F.lit(" "),
                F.lower(F.array_join("props", " ")),
            ).alias("blocking_text"),
            "props",
        )
    )


def _accepted_pairs(
    ents: DataFrame, cands: DataFrame, min_prop_jaccard: float
) -> DataFrame:
    """The (id1, id2) candidate pairs that pass the reference's name
    heuristic and have property-set Jaccard ≥ ``min_prop_jaccard``."""
    a, b = (
        ents.select(*(F.col(c).alias(f"{c}{i}") for c in ("id", "entity", "props")))
        for i in (1, 2)
    )
    union = F.array_union("props1", "props2")
    prop_jaccard = F.when(F.size(union) == 0, F.lit(1.0)).otherwise(
        F.size(F.array_intersect("props1", "props2")) / F.size(union)
    )
    return (
        cands.join(a, "id1")
        .join(b, "id2")
        .where(similar_names_sql("entity1", "entity2"))
        .where(prop_jaccard >= min_prop_jaccard)
        .select("id1", "id2")
    )


def entity_canonical_mapping(
    entities: DataFrame,
    properties: DataFrame,
    name_bands: int = 32,
    num_hashes: int = 64,
    min_prop_jaccard: float = 0.5,
) -> DataFrame:
    """Cross-repo entity linking → canonical IRI per entity.

    Candidate generation: LSH over ``lower(entity) || prop names``;
    acceptance: the reference's name heuristic AND property-set Jaccard
    ≥ ``min_prop_jaccard``.  Returns
    (repo, dataset, entity, entity_iri, canonical_iri).

    Band geometry: blocking recall must dominate the *acceptance*
    threshold, or near-threshold true pairs are dropped before scoring.
    With b bands of r rows the collision curve is 1-(1-s^r)^b; the
    default 32×2 puts the 50%-collision point at s≈0.17, so pairs whose
    shingle similarity is near the 0.5 acceptance bar collide with
    probability >0.999 (16×4 put the knee AT 0.5 and deterministically
    missed same-name entities differing by one property — verified by
    the exact brute-force oracle in the driver correctness gate).
    The extra bands only widen candidate generation; acceptance
    filtering is unchanged.
    """
    ents = _entity_rows(entities, properties)
    cands = lsh_candidate_pairs(
        ents, "id", "blocking_text", num_hashes=num_hashes, bands=name_bands
    )
    comp = connected_components(
        _accepted_pairs(ents, cands, min_prop_jaccard), "id1", "id2"
    )
    mapping = ents.join(comp, ents["id"] == comp["node"], "left").select(
        "repo",
        "dataset",
        "entity",
        F.concat(F.lit("ont:"), F.translate("entity", " -.", "___")).alias(
            "entity_iri"
        ),
        F.coalesce(F.col("component"), F.col("id")).alias("canonical_key"),
    )
    return mapping.withColumn(
        "canonical_iri",
        F.concat(
            F.lit("ont:canonical_"),
            F.substring(F.sha1(F.col("canonical_key")), 1, 16),
        ),
    ).drop("canonical_key")


def rewrite_triples_canonical(
    triples: DataFrame, mapping: DataFrame
) -> DataFrame:
    """Rewrite subj/obj entity IRIs to canonical IRIs (two hash joins on
    (repo, dataset, iri); literals untouched).  Adds provenance columns
    subj_orig/obj_orig for lineage."""
    m = mapping.select(
        "repo", "dataset", F.col("entity_iri").alias("iri"), "canonical_iri"
    ).dropDuplicates(["repo", "dataset", "iri"])
    t = (
        triples.join(
            m.withColumnRenamed("iri", "subj").withColumnRenamed(
                "canonical_iri", "subj_canon"
            ),
            ["repo", "dataset", "subj"],
            "left",
        )
        .join(
            m.withColumnRenamed("iri", "obj").withColumnRenamed(
                "canonical_iri", "obj_canon"
            ),
            ["repo", "dataset", "obj"],
            "left",
        )
    )
    return t.select(
        "repo",
        "dataset",
        F.coalesce("subj_canon", "subj").alias("subj"),
        "pred",
        F.when(F.col("obj_is_literal"), F.col("obj"))
        .otherwise(F.coalesce("obj_canon", "obj"))
        .alias("obj"),
        "obj_is_literal",
        "obj_datatype",
        F.col("subj").alias("subj_orig"),
        F.col("obj").alias("obj_orig"),
    )
