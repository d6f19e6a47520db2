"""Report-layout parsing → report→uses→dataset, visual→binds→field edges.

The reference reads ``Report/Layout`` (UTF-16 JSON) but never consumes
it (/root/reference/powerbi_ontology/utils/pbix_reader.py:534-565 —
latent surface); the north star requires the report/visual edge
families.

Layout shape (observed Power BI layout schema)::

    {"sections": [{"name": "...", "visualContainers": [
        {"config": "<json string with singleVisual.visualType and
                     projections.<role>[].queryRef>"}]}]}

Two-level ``from_json`` (the config cell is a JSON *string* inside the
outer JSON) — all JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from powerbi_ontology_extractor_spark.functions.naming import safe_name_sql
from powerbi_ontology_extractor_spark.operators.triples import (
    LIT,
    Frame,
    T,
    _iri,
    _when,
    emit_frames,
)

LAYOUT_SCHEMA = StructType(
    [
        StructField(
            "sections",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType()),
                        StructField(
                            "visualContainers",
                            ArrayType(
                                StructType([StructField("config", StringType())])
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)

CONFIG_SCHEMA = StructType(
    [
        StructField(
            "singleVisual",
            StructType(
                [
                    StructField("visualType", StringType()),
                    StructField(
                        "projections",
                        MapType(
                            StringType(),
                            ArrayType(
                                StructType(
                                    [StructField("queryRef", StringType())]
                                )
                            ),
                        ),
                    ),
                ]
            ),
        )
    ]
)


def visual_bindings_df(corpus: DataFrame) -> DataFrame:
    """(repo, path, page, visual_idx, visual_type, role, query_ref) —
    one row per field binding."""
    r = corpus.where(F.col("lang") == "report_json").select(
        "repo",
        "path",
        F.from_json(F.col("content"), LAYOUT_SCHEMA).alias("layout"),
    )
    sections = r.select(
        "repo", "path", F.explode("layout.sections").alias("s")
    ).select(
        "repo",
        "path",
        F.col("s.name").alias("page"),
        F.posexplode(F.coalesce(F.col("s.visualContainers"), F.array())).alias(
            "visual_idx", "vc"
        ),
    )
    visuals = sections.select(
        "repo",
        "path",
        "page",
        "visual_idx",
        F.from_json(F.col("vc.config"), CONFIG_SCHEMA)["singleVisual"].alias("v"),
    )
    return visuals.select(
        "repo",
        "path",
        "page",
        "visual_idx",
        F.col("v.visualType").alias("visual_type"),
        F.explode_outer(
            F.coalesce(F.col("v.projections"), F.create_map())
        ).alias("role", "refs"),
    ).select(
        "repo",
        "path",
        "page",
        "visual_idx",
        "visual_type",
        "role",
        F.explode_outer("refs").alias("ref"),
    ).select(
        "repo",
        "path",
        "page",
        "visual_idx",
        "visual_type",
        "role",
        F.col("ref.queryRef").alias("query_ref"),
    )


_REPORT = f"concat('ont:report_', {safe_name_sql('path')})"
_VISUAL = (f"concat('ont:visual_', {safe_name_sql('path')}, '_', "
           f"{safe_name_sql('page')}, '_', cast(visual_idx AS string))")

# one frame per row grain: report, visual, field binding
REPORT = Frame({"_report": _REPORT}, [
    T("_report", "'rdf:type'", "'ont:Report'"),
    T("_report", "'ont:usesDataset'", _iri("dataset")),
])
VISUAL = Frame({"_visual": _VISUAL, "_report": _REPORT}, [
    T("_visual", "'rdf:type'", "'ont:Visual'"),
    T("_visual", "'ont:visualType'", "visual_type", LIT),
    T("_visual", "'ont:onPage'", "page", LIT),
    T("_visual", "'ont:inReport'", "_report"),
])
# queryRef 'Table.Column' → the property IRI ont:<Table>_<Column> (same
# scheme as property emission)
BINDING = Frame({"_visual": _VISUAL}, [
    T("_visual", "'ont:bindsField'", _when("query_ref IS NOT NULL", _iri("query_ref"))),
])


def report_triples(corpus: DataFrame, models: DataFrame) -> DataFrame:
    """report→uses→dataset + visual→binds→field triples."""
    b = visual_bindings_df(corpus)
    datasets = models.select("repo", "dataset").dropDuplicates()
    df = b.join(F.broadcast(datasets), "repo", "left").withColumn(
        "dataset", F.coalesce(F.col("dataset"), F.lit("Unknown"))
    )
    return emit_frames([
        (REPORT, df.dropDuplicates(["repo", "path", "dataset"])),
        (VISUAL, df.dropDuplicates(
            ["repo", "path", "page", "visual_idx", "dataset"])),
        (BINDING, df),
    ])
