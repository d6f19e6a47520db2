"""Extraction stage: corpus rows → semantic-model DataFrames.

The reference materializes a ``SemanticModel`` object graph per file
(/root/reference/powerbi_ontology/extractor.py:113-151).  Here the
whole corpus is parsed in one declarative pass: ``from_json`` with a
permissive fixed schema (JVM-side, whole-stage codegen — no Python at
all for model JSON), then ``explode`` per family.  Dynamic-JSON
tolerance (the ``{"model": {...}}`` wrapper of
utils/pbix_reader.py:253-262) is handled with ``get_json_object``
before the typed parse.

Grain: every output DataFrame carries ``(repo, dataset)`` so that all
downstream cross-dashboard analytics join on those keys.

Scale notes: the parse is a narrow map over the corpus scan — filters
on ``lang`` push down to the source; only (repo, path, content) columns
are read (column pruning).  No shuffle until the pattern-detection
joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from powerbi_ontology_extractor_spark.functions.naming import map_pbix_type

COLUMN_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("dataType", StringType()),
        StructField("isKey", BooleanType()),
        StructField("isUnique", BooleanType()),
        StructField("isNullable", BooleanType()),
        StructField("description", StringType()),
    ]
)

MEASURE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("expression", StringType()),
        StructField("displayFolder", StringType()),
        StructField("description", StringType()),
    ]
)

HIERARCHY_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField(
            "levels",
            ArrayType(StructType([StructField("name", StringType())])),
        ),
    ]
)

TABLE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("description", StringType()),
        StructField("columns", ArrayType(COLUMN_SCHEMA)),
        StructField("measures", ArrayType(MEASURE_SCHEMA)),
        StructField("hierarchies", ArrayType(HIERARCHY_SCHEMA)),
    ]
)

RELATIONSHIP_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("fromTable", StringType()),
        StructField("fromColumn", StringType()),
        StructField("toTable", StringType()),
        StructField("toColumn", StringType()),
        StructField("fromCardinality", StringType()),
        StructField("toCardinality", StringType()),
        StructField("crossFilteringBehavior", StringType()),
        StructField("isActive", BooleanType()),
    ]
)

ROLE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField(
            "tablePermissions",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType()),
                        StructField("filterExpression", StringType()),
                    ]
                )
            ),
        ),
    ]
)

MODEL_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("tables", ArrayType(TABLE_SCHEMA)),
        StructField("relationships", ArrayType(RELATIONSHIP_SCHEMA)),
        StructField("roles", ArrayType(ROLE_SCHEMA)),
    ]
)

# parse-site schema: MODEL_SCHEMA + a corrupt-record column so malformed
# JSON is detectable (PERMISSIVE from_json yields an all-null struct, not
# a null struct, so `IS NULL` alone cannot discriminate)
PARSE_SCHEMA = StructType(
    list(MODEL_SCHEMA.fields) + [StructField("_corrupt_record", StringType())]
)
_PARSE_OPTS = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"}

DAX_ROW_SCHEMA = StructType(
    [
        StructField("table", StringType()),
        StructField("name", StringType()),
        StructField("expression", StringType()),
    ]
)


def _nz(col: Column, default: str = "") -> Column:
    return F.coalesce(col, F.lit(default))


def parse_models(corpus: DataFrame) -> DataFrame:
    """corpus → one row per model artifact with a typed ``model`` struct.

    Columns: (repo, path, commit, dataset, model).
    ``dataset`` = model name (default 'Unknown', extractor.py:128-130).
    """
    model_str = F.coalesce(
        F.get_json_object(F.col("content"), "$.model"), F.col("content")
    )
    return (
        corpus.where(F.col("lang") == "model_json")
        .select(
            "repo",
            "path",
            "commit",
            F.from_json(model_str, PARSE_SCHEMA, _PARSE_OPTS).alias("parsed"),
        )
        # per-artifact failure isolation: unparseable JSON → corrupt-record
        # column set → row dropped here, never a failed task (the
        # reference isolates failures per file, cli.py:276-281)
        .where(
            F.col("parsed").isNotNull()
            & F.col("parsed._corrupt_record").isNull()
        )
        .select(
            "repo",
            "path",
            "commit",
            F.col("parsed").dropFields("_corrupt_record").alias("model"),
        )
        .withColumn("dataset", _nz(F.col("model.name"), "Unknown"))
    )


def entities_df(models: DataFrame) -> DataFrame:
    """One row per table: (repo, dataset, entity, description,
    source_table, primary_key, n_properties).

    primary_key = first column *by array position* with isKey or
    isUnique (extractor.py:183-187 — order-sensitive first match, which
    in Spark must use array position, not row order).
    """
    t = models.select(
        "repo", "dataset", F.explode(F.coalesce(F.col("model.tables"), F.array())).alias("t")
    )
    key_cols = F.filter(
        _nz_arr(F.col("t.columns")),
        lambda c: F.coalesce(c["isKey"], F.lit(False))
        | F.coalesce(c["isUnique"], F.lit(False)),
    )
    return t.select(
        "repo",
        "dataset",
        _nz(F.col("t.name"), "Unknown").alias("entity"),
        _nz(F.col("t.description")).alias("description"),
        _nz(F.col("t.name"), "Unknown").alias("source_table"),
        # try_element_at: tables may have no key column (ANSI element_at
        # throws on the empty array)
        F.try_element_at(key_cols, F.lit(1))["name"].alias("primary_key"),
        F.size(_nz_arr(F.col("t.columns"))).alias("n_properties"),
    )


def _nz_arr(col: Column) -> Column:
    return F.coalesce(col, F.array())


def properties_df(models: DataFrame) -> DataFrame:
    """Exploded columns: (repo, dataset, entity, pos, property,
    data_type, required, unique, description, source_column).

    required = (isNullable is False)  — missing isNullable ⇒ optional
    unique   = isUnique or isKey      (extractor.py:171-180)
    """
    c = models.select(
        "repo",
        "dataset",
        F.explode(F.coalesce(F.col("model.tables"), F.array())).alias("t"),
    ).select(
        "repo",
        "dataset",
        _nz(F.col("t.name"), "Unknown").alias("entity"),
        F.posexplode(_nz_arr(F.col("t.columns"))).alias("pos", "c"),
    )
    return c.select(
        "repo",
        "dataset",
        "entity",
        "pos",
        _nz(F.col("c.name")).alias("property"),
        map_pbix_type(F.coalesce(F.col("c.dataType"), F.lit("string"))).alias(
            "data_type"
        ),
        (F.col("c.isNullable") == F.lit(False)).alias("required"),
        (
            F.coalesce(F.col("c.isUnique"), F.lit(False))
            | F.coalesce(F.col("c.isKey"), F.lit(False))
        ).alias("unique"),
        _nz(F.col("c.description")).alias("description"),
        _nz(F.col("c.name")).alias("source_column"),
    ).withColumn("required", F.coalesce(F.col("required"), F.lit(False)))


def relationships_df(models: DataFrame) -> DataFrame:
    """(repo, dataset, from_entity, from_property, to_entity,
    to_property, cardinality, cross_filter_direction, is_active, name).

    Cardinality normalization per extractor.py:216-229 (default
    many-to-one); crossFilteringBehavior bothDirections → both.
    """
    r = models.select(
        "repo", "dataset", F.explode(F.coalesce(F.col("model.relationships"), F.array())).alias("r")
    ).where(F.col("r").isNotNull())
    fc, tc = F.col("r.fromCardinality"), F.col("r.toCardinality")
    cardinality = (
        F.when((fc == "one") & (tc == "many"), "one-to-many")
        .when((fc == "one") & (tc == "one"), "one-to-one")
        .when((fc == "many") & (tc == "many"), "many-to-many")
        .otherwise("many-to-one")
    )
    return r.select(
        "repo",
        "dataset",
        _nz(F.col("r.fromTable")).alias("from_entity"),
        _nz(F.col("r.fromColumn")).alias("from_property"),
        _nz(F.col("r.toTable")).alias("to_entity"),
        _nz(F.col("r.toColumn")).alias("to_property"),
        cardinality.alias("cardinality"),
        F.when(
            F.col("r.crossFilteringBehavior") == "bothDirections", "both"
        )
        .otherwise("single")
        .alias("cross_filter_direction"),
        F.coalesce(F.col("r.isActive"), F.lit(True)).alias("is_active"),
        F.coalesce(
            F.col("r.name"),
            F.concat_ws("_", _nz(F.col("r.fromTable")), _nz(F.col("r.toTable"))),
        ).alias("name"),
    )


def measure_dependencies(formula: Column) -> Column:
    """Table/column dependencies, extractor flavor (extractor.py:345-363):
    strip string literals + comments, match ``'Table Name'[Column]``,
    dedupe.  Pure JVM regex — arrays zipped by match index.
    Reference returns a Python set (unordered); we sort for determinism.
    """
    cleaned = F.regexp_replace(formula, '"[^"]*"', "")
    cleaned = F.regexp_replace(cleaned, "//[^\n]*", "")
    cleaned = F.regexp_replace(cleaned, r"(?s)/\*.*?\*/", "")
    pat = r"'?(\w[\w ]*)'?\[(\w+)\]"
    tables = F.regexp_extract_all(cleaned, F.lit(pat), 1)
    columns = F.regexp_extract_all(cleaned, F.lit(pat), 2)
    pairs = F.transform(
        F.arrays_zip(tables.alias("t"), columns.alias("c")),
        lambda x: F.concat(F.trim(x["t"]), F.lit("."), x["c"]),
    )
    return F.array_sort(F.array_distinct(pairs))


def measures_df(models: DataFrame, corpus: DataFrame | None = None) -> DataFrame:
    """All measures: model-embedded ones (explode of tables.measures,
    pbix_reader.py:356-386 JSON path semantics) plus standalone
    ``lang='dax'`` corpus rows (tiny JSON ``{table,name,expression}``).

    Columns: (repo, dataset, table, measure, dax_formula, description,
    folder, dependencies).
    """
    m = (
        models.select("repo", "dataset", F.explode(F.coalesce(F.col("model.tables"), F.array())).alias("t"))
        .select(
            "repo",
            "dataset",
            _nz(F.col("t.name"), "Unknown").alias("table"),
            F.explode(_nz_arr(F.col("t.measures"))).alias("m"),
        )
        .select(
            "repo",
            "dataset",
            "table",
            _nz(F.col("m.name")).alias("measure"),
            _nz(F.col("m.expression")).alias("dax_formula"),
            _nz(F.col("m.description")).alias("description"),
            _nz(F.col("m.displayFolder")).alias("folder"),
        )
    )
    if corpus is not None:
        standalone = (
            corpus.where(F.col("lang") == "dax")
            .select(
                "repo",
                F.from_json(F.col("content"), DAX_ROW_SCHEMA).alias("d"),
            )
            .select(
                "repo",
                F.lit("Standalone").alias("dataset"),
                _nz(F.col("d.table")).alias("table"),
                _nz(F.col("d.name")).alias("measure"),
                _nz(F.col("d.expression")).alias("dax_formula"),
                F.lit("").alias("description"),
                F.lit("").alias("folder"),
            )
        )
        m = m.unionByName(standalone)
    return m.withColumn("dependencies", measure_dependencies(F.col("dax_formula")))


def hierarchies_df(models: DataFrame) -> DataFrame:
    """(repo, dataset, table, hierarchy, levels, hierarchy_type) —
    type 'date' iff 'date' in lower(table) (extractor.py:286-293)."""
    h = models.select(
        "repo", "dataset", F.explode(F.coalesce(F.col("model.tables"), F.array())).alias("t")
    ).select(
        "repo",
        "dataset",
        _nz(F.col("t.name")).alias("table"),
        F.explode(_nz_arr(F.col("t.hierarchies"))).alias("h"),
    )
    return h.select(
        "repo",
        "dataset",
        "table",
        _nz(F.col("h.name")).alias("hierarchy"),
        F.transform(
            _nz_arr(F.col("h.levels")), lambda l: _nz(l["name"])
        ).alias("levels"),
        F.when(F.lower(F.col("table")).contains("date"), "date")
        .otherwise("custom")
        .alias("hierarchy_type"),
    )


def security_rules_df(models: DataFrame) -> DataFrame:
    """RLS rules: roles × tablePermissions, keep non-empty filters
    (extractor.py:297-331).  Columns: (repo, dataset, role, table,
    dax_filter, description)."""
    r = models.select(
        "repo", "dataset", F.explode(F.coalesce(F.col("model.roles"), F.array())).alias("role")
    ).select(
        "repo",
        "dataset",
        _nz(F.col("role.name")).alias("role"),
        F.explode(_nz_arr(F.col("role.tablePermissions"))).alias("p"),
    )
    return (
        r.where(_nz(F.col("p.filterExpression")) != "")
        .select(
            "repo",
            "dataset",
            "role",
            _nz(F.col("p.name")).alias("table"),
            F.col("p.filterExpression").alias("dax_filter"),
        )
        .withColumn(
            "description",
            F.concat(
                F.lit("RLS rule for "),
                F.col("table"),
                F.lit(" in role "),
                F.col("role"),
            ),
        )
    )


def extract_all(
    corpus: DataFrame, materialize: bool = False
) -> dict[str, DataFrame]:
    """Run the whole extraction stage; returns the model DataFrames.

    ``models`` is parsed once into an eager localCheckpoint because
    every family derives from it (the reference memoizes the parsed
    model the same way, pbix_reader.py:118-127); nothing is left cached.

    ``materialize=True`` additionally localCheckpoints every family —
    the stage-boundary pattern the full pipeline uses: the downstream
    triple-emission union fans out into ~40 branches, and without a
    barrier each branch would re-scan the parsed models (dozens of
    extra stages; at cluster scale this boundary is an Iceberg write,
    see plans/manifest).
    """
    # materialized BEFORE the family fan-out: with materialize=True the
    # families checkpoint concurrently, and a lazy cache gets stampeded
    # — every concurrent job re-parses all model JSON (measured: 30-40
    # parses per artifact, anti-scaling)
    models = parse_models(corpus).localCheckpoint(eager=True)
    out = {
        "models": models,
        "entities": entities_df(models),
        "properties": properties_df(models),
        "relationships": relationships_df(models),
        "measures": measures_df(models, corpus),
        "hierarchies": hierarchies_df(models),
        "security_rules": security_rules_df(models),
        "datasets": models.select("repo", "dataset", "path").dropDuplicates(
            ["repo", "dataset"]
        ),
    }
    if materialize:
        # checkpoint the FLAT family frames in ONE concurrent round
        # (they all derive from the already-materialized models
        # checkpoint, so the round costs max(job latency), not sum).
        # Rationale: the ~40-branch triple emission scans its inputs
        # repeatedly; scanning small flat frames instead of the big
        # nested models struct cuts the re-read volume ~6× — this box
        # (and any real executor) is memory-bandwidth-bound on that
        # re-scan, which is what caps N→4N scaling efficiency.
        keys = [
            "measures",
            "datasets",
            "properties",
            "relationships",
            "security_rules",
        ]
        out.update(zip(keys, checkpoint_parallel([out[k] for k in keys])))
    return out


def ckpt_coalesce_target(df: DataFrame) -> int:
    """Partition target for stage-boundary checkpoints: ~core count,
    clamped to [4, 64] (an A/B of fixed 8/16/32 showed no reliable win;
    host noise dominates)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return max(min(cores, 64), 4)


def checkpoint_one(d: DataFrame, target: int) -> DataFrame:
    """coalesce + eager localCheckpoint of one frame.  coalesce never
    RAISES a partition count, so the cap needs no getNumPartitions
    probe — that call forced a physical-planning pass per frame BEFORE
    the concurrent round (measured ~3 s of serial driver wedge at 400
    repos in the round-5 job timeline)."""
    return d.coalesce(target).localCheckpoint(eager=True)


def checkpoint_parallel(dfs: list[DataFrame]) -> list[DataFrame]:
    """Eager-localCheckpoint several DataFrames concurrently — Spark
    accepts concurrent job submission, so the stage-boundary barrier
    costs max(job latency), not sum.

    Each frame is coalesced to ~core-count partitions first: the
    boundary tables are orders of magnitude smaller than the corpus,
    and the ~40 downstream emission stages each pay per-task scheduling
    overhead per partition."""
    from concurrent.futures import ThreadPoolExecutor

    if not dfs:
        return []
    target = ckpt_coalesce_target(dfs[0])

    with ThreadPoolExecutor(max_workers=len(dfs)) as ex:
        return list(ex.map(lambda d: checkpoint_one(d, target), dfs))
