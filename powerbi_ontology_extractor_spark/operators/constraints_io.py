"""Constraint ingestion: ontology-JSON sidecars + suggested enhancements
→ the property/entity constraint frames consumed by the T7/T8 triple
emitters in :mod:`operators.triples`.

Reference semantics: the reference attaches ``Constraint(type, value,
message)`` objects to properties and entities when an ontology JSON
document is loaded (/root/reference/powerbi_ontology/mcp_server.py:268-296,
cli.py:352-357) and emits them at export time
(export/owl.py:264-309).  ``Constraint.value`` is polymorphic in Python
(dict for range, list for enum, scalar otherwise); a distributed parse
needs a closed schema, so the engine's sidecar contract carries the
same information in tagged fields (``min``/``max``/``pattern``/
``values``/``target``/``value``) — the *emitted triples* follow the
reference grammar exactly.

Scale notes: sidecar parsing is the same narrow ``from_json`` map as
model parsing (filter on ``lang`` pushes to the scan); no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

CONSTRAINT_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("pattern", StringType()),
        StructField("min", DoubleType()),
        StructField("max", DoubleType()),
        StructField("values", ArrayType(StringType())),
        StructField("target", StringType()),
        StructField("value", StringType()),
        StructField("message", StringType()),
    ]
)

SIDECAR_SCHEMA = StructType(
    [
        StructField("dataset", StringType()),
        StructField(
            "entities",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType()),
                        StructField(
                            "properties",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("name", StringType()),
                                        StructField(
                                            "constraints",
                                            ArrayType(CONSTRAINT_SCHEMA),
                                        ),
                                    ]
                                )
                            ),
                        ),
                        StructField(
                            "constraints", ArrayType(CONSTRAINT_SCHEMA)
                        ),
                    ]
                )
            ),
        ),
    ]
)

def _sidecar_entities(corpus: DataFrame) -> DataFrame:
    return (
        corpus.where(F.col("lang") == "ontology_json")
        .select(
            "repo",
            F.from_json(F.col("content"), SIDECAR_SCHEMA).alias("doc"),
        )
        .where(F.col("doc").isNotNull())
        .select(
            "repo",
            F.coalesce(F.col("doc.dataset"), F.lit("Unknown")).alias("dataset"),
            F.explode(F.coalesce(F.col("doc.entities"), F.array())).alias("e"),
        )
    )


def sidecar_property_constraints(corpus: DataFrame) -> DataFrame:
    """One row per (entity, property, constraint) from ontology-JSON
    sidecars (mcp_server.py:268-281 property-constraint load path)."""
    e = _sidecar_entities(corpus)
    p = e.select(
        "repo",
        "dataset",
        F.coalesce(F.col("e.name"), F.lit("Unknown")).alias("entity"),
        F.explode(F.coalesce(F.col("e.properties"), F.array())).alias("p"),
    ).select(
        "repo",
        "dataset",
        "entity",
        F.coalesce(F.col("p.name"), F.lit("")).alias("property"),
        F.explode(F.coalesce(F.col("p.constraints"), F.array())).alias("c"),
    )
    return p.select(
        "repo",
        "dataset",
        "entity",
        "property",
        F.coalesce(F.col("c.type"), F.lit("")).alias("constraint_type"),
        F.col("c.pattern").alias("pattern"),
        F.col("c.min").alias("min_value"),
        F.col("c.max").alias("max_value"),
        F.col("c.values").alias("enum_values"),
        F.col("c.target").alias("reference"),
        F.col("c.message").alias("message"),
    )


def sidecar_entity_constraints(corpus: DataFrame) -> DataFrame:
    """One row per (entity, constraint) — the entity-level constraint
    load path (mcp_server.py:284-296) feeding T8 bnode emission."""
    e = _sidecar_entities(corpus)
    return e.select(
        "repo",
        "dataset",
        F.coalesce(F.col("e.name"), F.lit("Unknown")).alias("entity"),
        F.explode(F.coalesce(F.col("e.constraints"), F.array())).alias("c"),
    ).select(
        "repo",
        "dataset",
        "entity",
        F.coalesce(F.col("c.type"), F.lit("")).alias("constraint_type"),
        F.coalesce(F.col("c.value"), F.lit("")).alias("value"),
        F.coalesce(F.col("c.message"), F.lit("")).alias("message"),
    )


def enhancement_property_constraints(enhancements: DataFrame) -> DataFrame:
    """Adapt ``suggest_enhancements`` output (ontology_generator.py:314-366
    suggested_value dicts) to the property-constraint frame.  Suggested
    constraints carry no enum/reference/message fields."""
    null_s = F.lit(None).cast("string")
    return enhancements.select(
        "repo",
        "dataset",
        "entity",
        "property",
        F.col("constraint_type"),
        F.col("pattern"),
        F.col("min_value"),
        F.col("max_value"),
        F.lit(None).cast(ArrayType(StringType())).alias("enum_values"),
        null_s.alias("reference"),
        null_s.alias("message"),
    )
