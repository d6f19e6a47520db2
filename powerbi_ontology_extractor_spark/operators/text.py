"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

Everything is pure Spark expressions (whole-stage codegen, no Python
UDF).  SimHash and the winnow fingerprint hash with a polynomial char
hash that DuckDB mirrors exactly (bottom of this module).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles (n-gram heuristic seeds).  The
# point is the *operator shape* (per-language hit-rate scoring + argmax),
# not lexicographic completeness.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans", "que", "une", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "por", "con"],
    "it": ["il", "la", "di", "che", "e", "un", "per", "non", "con", "del"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of lowercased trimmed text; empty text → []"""
    t = F.trim(F.lower(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def _lang_score(text: Column, words: list[str]) -> Column:
    toks = tokens_col(text)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(words))
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits / F.size(toks)
    )


def language_id(text: Column, min_score: float = 0.05) -> Column:
    """Heuristic language ID: per-language stopword hit rate, argmax;
    below ``min_score`` → 'unknown'.  Pure when-chain over array
    predicates — no Python."""
    scores = [(lang, _lang_score(text, words)) for lang, words in LANG_PROFILES.items()]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("unknown")
    # build reverse so earlier languages win ties (deterministic order)
    for lang, score in reversed(scores):
        expr = F.when((score == best) & (best >= min_score), lang).otherwise(expr)
    return expr


EN_STOPWORDS = LANG_PROFILES["en"] + [
    "a", "an", "on", "at", "by", "be", "as", "are", "was", "this",
]


def quality_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality features: length, token stats, punctuation /
    digit / uppercase ratios, stopword ratio, mean word length — the
    standard pretraining-corpus filters, all codegen expressions."""
    t = F.col(text_col)
    toks = tokens_col(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    safe = lambda c: F.when(n_chars == 0, F.lit(0.0)).otherwise(c)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[!-/:-@\[-`{-~]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(EN_STOPWORDS)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        safe(n_punct / n_chars).alias("punct_ratio"),
        safe(n_digit / n_chars).alias("digit_ratio"),
        safe(n_upper / n_chars).alias("upper_ratio"),
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise(n_stop / n_tokens)
        .alias("stopword_ratio"),
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise(
            F.aggregate(
                toks, F.lit(0), lambda acc, x: acc + F.length(x)
            ).cast("double")
            / n_tokens
        )
        .alias("mean_word_len"),
    )


# --- engine-native (cross-engine) hashing ------------------------------------
#
# SimHash and winnowing hash with a 31-based polynomial char hash mod
# 2^32 whose fold is expressible IDENTICALLY in Spark SQL and DuckDB
# SQL, which puts the whole signature grammar on the hard
# value-compared oracle path (and keeps the hashing JVM-side /
# whole-stage-codegen — no Python at all).  The DuckDB strings are
# RENDERED from the same templates: edit the template, both engines
# follow.
#
# DuckDB rendering rules (hard-won): stage each list-valued step as a
# real subquery column — a lateral alias or re-inlined expression is
# macro-expanded per lambda iteration (O(n²) blowup); list_reduce has
# no init accumulator, so the init rides as list_prepend.

POLY_SPARK = (
    "aggregate(split({tok}, ''), CAST(7 AS BIGINT),"
    " (acc, c) -> pmod(acc * 31 + ascii(c), CAST(4294967296 AS BIGINT)))"
)
POLY_DUCK = (
    "list_reduce(list_prepend(CAST(7 AS BIGINT),"
    " list_transform(string_split({tok}, ''), c -> CAST(ord(c) AS BIGINT))),"
    " (a, b) -> (a * 31 + b) % 4294967296)"
)

# token-hash list over whitespace tokens of lowercased trimmed text
SIMHASH_THS_SPARK = (
    "transform(filter(split(trim(lower(coalesce({text}, ''))), '\\\\s+'),"
    " x -> x != ''), t -> " + POLY_SPARK.format(tok="t") + ")"
)
SIMHASH_THS_DUCK = (
    "list_transform(list_filter(string_split_regex("
    "trim(lower(coalesce({text}, ''))), '\\s+'), x -> x != ''),"
    " t -> " + POLY_DUCK.format(tok="t") + ")"
)
# 32-bit majority-vote signature over a precomputed token-hash column
SIMHASH_SIG_SPARK = (
    "CASE WHEN size({ths}) = 0 THEN CAST(0 AS BIGINT) ELSE "
    "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, j) -> acc + "
    "IF(2 * size(filter({ths}, h -> (h >> j) & 1 = 1)) > size({ths}), "
    "shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))) END"
)
SIMHASH_SIG_DUCK = (
    "CASE WHEN len({ths}) = 0 THEN CAST(0 AS BIGINT) ELSE "
    "CAST(list_sum(list_transform(range(0, 32), j -> "
    "CASE WHEN 2 * len(list_filter({ths}, h -> (h >> j) & 1 = 1)) > len({ths}) "
    "THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) END"
)

WINNOW_GRAMS_SPARK = (
    "CASE WHEN length({t}) = 0 THEN CAST(array() AS ARRAY<BIGINT>) "
    "WHEN length({t}) < {k} THEN array(" + POLY_SPARK.format(tok="{t}") + ") "
    "ELSE transform(sequence(1, length({t}) - {k} + 1),"
    " i -> " + POLY_SPARK.format(tok="substring({t}, i, {k})") + ") END"
)
WINNOW_FPS_SPARK = (
    "CASE WHEN size({g}) = 0 THEN {g} "
    "WHEN size({g}) <= {w} THEN array(array_min({g})) "
    "ELSE array_sort(array_distinct(transform("
    "sequence(1, size({g}) - {w} + 1),"
    " i -> array_min(slice({g}, i, {w}))))) END"
)
WINNOW_GRAMS_DUCK = (
    "CASE WHEN length({t}) = 0 THEN CAST([] AS BIGINT[]) "
    "WHEN length({t}) < {k} THEN [" + POLY_DUCK.format(tok="{t}") + "] "
    "ELSE list_transform(range(1, length({t}) - {k} + 2),"
    " i -> " + POLY_DUCK.format(tok="substring({t}, i, {k})") + ") END"
)
WINNOW_FPS_DUCK = (
    "CASE WHEN len({g}) = 0 THEN {g} "
    "WHEN len({g}) <= {w} THEN [list_aggregate({g}, 'min')] "
    "ELSE list_sort(list_distinct(list_transform("
    "range(1, len({g}) - {w} + 2),"
    " i -> list_aggregate(list_slice({g}, i, i + {w} - 1), 'min')))) END"
)


def simhash32_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sig): 32-bit polynomial-hash SimHash as pure Spark SQL
    expressions (codegen; zero Python), so DuckDB can mirror it
    (simhash32_duck_sql).  Token hashes are staged as a real column so the
    32 per-bit passes share one computed list; the result is lazily
    localCheckpoint-ed because the pigeonhole consumer
    (dedup.hamming_pairs) explodes per-chunk structs referencing sig —
    Catalyst's Generate-over-Project collapse would otherwise inline
    the full signature expression once per chunk (see
    engine_native_fingerprints)."""
    sigs = (
        docs.select(
            F.col(id_col).alias("id"),
            F.expr(SIMHASH_THS_SPARK.format(text=text_col)).alias("_ths"),
        )
        .select("id", F.expr(SIMHASH_SIG_SPARK.format(ths="_ths")).alias("sig"))
    )
    return sigs.localCheckpoint(eager=False)


def simhash32_duck_sql(text_col: str = "text", table: str = "documents") -> str:
    """DuckDB mirror of simhash32_signatures, rendered from the same
    templates: (doc_id, sig) subquery text."""
    return (
        f"SELECT doc_id, {SIMHASH_SIG_DUCK.format(ths='ths')} AS sig "
        f"FROM (SELECT doc_id, {SIMHASH_THS_DUCK.format(text=text_col)} AS ths "
        f"FROM {table})"
    )


def engine_native_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    window: int = 12,
) -> DataFrame:
    """(doc_id, fingerprints): winnowing over the polynomial char hash
    as pure Spark SQL expressions (Schleimer et al.: k-gram hashes, min
    per sliding window, dedup), mirrored by winnow_duck_sql.  Grams
    are staged as a real column so the window-min pass is O(n·w).

    The result is lazily localCheckpoint-ed: Catalyst's
    Generate-over-Project collapse substitutes projected aliases into a
    downstream explode UNCONDITIONALLY (no multi-reference guard, unlike
    Project-over-Project), which re-evaluates the staged grams array
    once per window index — measured 20× slower on the 500-doc fixture.
    The checkpoint makes the plan boundary opaque, so fps is computed
    exactly once per document regardless of the consumer shape."""
    fps = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("_t"),
        )
        .withColumn(
            "_grams", F.expr(WINNOW_GRAMS_SPARK.format(t="_t", k=k))
        )
        .select(
            "doc_id",
            F.expr(WINNOW_FPS_SPARK.format(g="_grams", w=window)).alias(
                "fingerprints"
            ),
        )
    )
    return fps.localCheckpoint(eager=False)


def winnow_duck_sql(
    text_col: str = "text",
    table: str = "documents",
    k: int = 20,
    window: int = 12,
) -> str:
    """DuckDB mirror of engine_native_fingerprints: (doc_id, fps)
    subquery text, each list step staged as a nested subquery."""
    return (
        f"SELECT doc_id, {WINNOW_FPS_DUCK.format(g='grams', w=window)} AS fps "
        f"FROM (SELECT doc_id, {WINNOW_GRAMS_DUCK.format(t='t', k=k)} AS grams "
        f"FROM (SELECT doc_id, lower(coalesce({text_col}, '')) AS t "
        f"FROM {table}))"
    )


def fingerprint_matches(
    fp: DataFrame, min_shared: int = 2, max_bucket: int = 200
) -> DataFrame:
    """Documents sharing ≥ min_shared fingerprints: explode → capped
    in-bucket pair explosion per hash → groupBy pair → count (inverted
    index — never all-pairs).

    A boilerplate k-gram that every document contains (license header,
    markup scaffolding) puts the whole corpus into ONE hash's posting
    list, where a hash-equality self-join is quadratic.
    capped_bucket_pairs truncates each posting list to the
    ``max_bucket`` smallest doc ids (salted two-phase collect, so the
    aggregation buffers stay memory-bounded even on that one hot hash);
    shared counts are exact wherever posting lists fit the cap, a
    documented truncation on hot boilerplate hashes beyond it."""
    from powerbi_ontology_extractor_spark.operators.canonicalize import (
        capped_bucket_pairs,
    )

    x = fp.select("doc_id", F.explode("fingerprints").alias("h"))
    pairs = capped_bucket_pairs(
        x, ["h"], F.struct(F.col("doc_id")), max_bucket=max_bucket
    )
    return (
        pairs.groupBy(
            F.col("p1.doc_id").alias("id1"), F.col("p2.doc_id").alias("id2")
        )
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
