"""Schema binding + drift detection (the "$4.6M mistake" detector).

Reference semantics: /root/reference/powerbi_ontology/schema_mapper.py
— snake_case auto-bindings (:77-116), binding validation (:118-160),
drift = expected−actual / actual−expected with a rename heuristic over
the missing×new cross product (:162-254; the reference mutates its
lists mid-loop — we implement the intended *set* semantics and pin
them with tests), and fix suggestions (:256-302).

Spark shape: one job drifts EVERY bound entity against the live
catalog — full-outer join on (entity, column), anti-join legs for
missing/new, a (missing × new) candidate cross-join filtered by the
similarity heuristic for renames.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from powerbi_ontology_extractor_spark.functions.naming import snake_case
from powerbi_ontology_extractor_spark.operators.canonicalize import (
    similar_names_sql,
)


def create_bindings(
    properties: DataFrame,
    keys: Sequence[str] = (),
    physical_table_col: str | None = None,
) -> DataFrame:
    """Auto-bindings: every property maps to its snake_case column
    (schema_mapper.py:96-103).  Output: keys… + (entity, property,
    physical_column, expected_type)."""
    b = properties.select(
        *keys,
        "entity",
        "property",
        snake_case(F.col("property")).alias("physical_column"),
        F.col("data_type").alias("expected_type"),
    )
    if physical_table_col:
        b = b.withColumn("physical_source", F.col(physical_table_col))
    return b


def validate_bindings(
    bindings: DataFrame, properties: DataFrame, keys: Sequence[str] = ()
) -> DataFrame:
    """Mapped-but-missing-property warnings (schema_mapper.py:140-147):
    anti-join of bindings against ontology properties."""
    return (
        bindings.join(
            properties.select(*keys, "entity", "property"),
            [*keys, "entity", "property"],
            "left_anti",
        )
        .select(
            *keys,
            "entity",
            "property",
            F.concat(
                F.lit("Property '"),
                F.col("property"),
                F.lit("' mapped but not found in entity '"),
                F.col("entity"),
                F.lit("'"),
            ).alias("warning"),
        )
    )


def detect_drift(
    bindings: DataFrame,
    actual_schema: DataFrame,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Column-level drift rows.

    bindings: keys… + (entity, property, physical_column, expected_type)
    actual_schema: keys… + (entity, column, col_type)

    Output: keys… + (entity, drift_type ∈ {missing_column, new_column,
    type_change, renamed_column}, column, new_column, old_type,
    new_type, severity).
    """
    # deterministic type per physical column: two properties that
    # snake_case to the same column with different declared types must
    # not leave an arbitrary dropDuplicates survivor (the DuckDB oracle
    # applies the same min() rule — kg_oracles.drift_fixes_sql)
    exp = (
        bindings.select(
            *keys, "entity", F.col("physical_column").alias("column"),
            "expected_type",
        )
        .groupBy(*keys, "entity", "column")
        .agg(F.min("expected_type").alias("expected_type"))
    )
    act = actual_schema.select(*keys, "entity", "column", "col_type")

    missing = exp.join(act, [*keys, "entity", "column"], "left_anti")
    new = act.join(exp, [*keys, "entity", "column"], "left_anti")

    # rename heuristic: missing × new within the same entity, filtered
    # by the reference's name-similarity check; each side claimed once
    # (set semantics of schema_mapper.py:208-217's intent)
    cand = (
        missing.select(*keys, "entity", F.col("column").alias("missing_col"))
        .join(
            new.select(*keys, "entity", F.col("column").alias("new_col")),
            [*keys, "entity"],
        )
        .where(similar_names_sql("missing_col", "new_col"))
    )
    w_m = Window.partitionBy(*keys, "entity", "missing_col").orderBy("new_col")
    w_n = Window.partitionBy(*keys, "entity", "new_col").orderBy("missing_col")
    renamed = (
        cand.withColumn("r1", F.row_number().over(w_m))
        .where(F.col("r1") == 1)
        .withColumn("r2", F.row_number().over(w_n))
        .where(F.col("r2") == 1)
        .select(*keys, "entity", "missing_col", "new_col")
    )

    missing_final = missing.join(
        renamed.select(*keys, "entity", F.col("missing_col").alias("column")),
        [*keys, "entity", "column"],
        "left_anti",
    )
    new_final = new.join(
        renamed.select(*keys, "entity", F.col("new_col").alias("column")),
        [*keys, "entity", "column"],
        "left_anti",
    )
    type_changes = (
        exp.join(act, [*keys, "entity", "column"], "inner")
        .where(F.col("expected_type") != F.col("col_type"))
    )

    null_s = F.lit(None).cast("string")
    rows = (
        missing_final.select(
            *keys, "entity", F.lit("missing_column").alias("drift_type"),
            "column", null_s.alias("new_column"),
            null_s.alias("old_type"), null_s.alias("new_type"),
            F.lit("CRITICAL").alias("severity"),
        )
        .unionByName(
            renamed.select(
                *keys, "entity", F.lit("renamed_column").alias("drift_type"),
                F.col("missing_col").alias("column"),
                F.col("new_col").alias("new_column"),
                null_s.alias("old_type"), null_s.alias("new_type"),
                F.lit("WARNING").alias("severity"),
            )
        )
        .unionByName(
            type_changes.select(
                *keys, "entity", F.lit("type_change").alias("drift_type"),
                "column", null_s.alias("new_column"),
                F.col("expected_type").alias("old_type"),
                F.col("col_type").alias("new_type"),
                F.lit("WARNING").alias("severity"),
            )
        )
        .unionByName(
            new_final.select(
                *keys, "entity", F.lit("new_column").alias("drift_type"),
                "column", null_s.alias("new_column"),
                null_s.alias("old_type"),
                F.col("col_type").alias("new_type"),
                F.lit("INFO").alias("severity"),
            )
        )
    )
    return rows


def drift_severity(drift: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Per-entity severity rollup (schema_mapper.py:220-227):
    missing → CRITICAL else type/rename → WARNING else INFO."""
    return drift.groupBy(*keys, "entity").agg(
        F.when(
            F.sum((F.col("drift_type") == "missing_column").cast("int")) > 0,
            "CRITICAL",
        )
        .when(
            F.sum(
                F.col("drift_type").isin("type_change", "renamed_column").cast("int")
            )
            > 0,
            "WARNING",
        )
        .otherwise("INFO")
        .alias("severity"),
        F.count("*").alias("n_drifts"),
    )


def suggest_fixes(drift: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Fix rows per drift row (schema_mapper.py:256-302)."""
    fix_type = F.when(F.col("drift_type") == "new_column", "add_column").otherwise(
        "update_mapping"
    )
    description = (
        F.when(
            F.col("drift_type") == "renamed_column",
            F.concat(
                F.lit("Update mapping: "), F.col("column"),
                F.lit(" -> "), F.col("new_column"),
            ),
        )
        .when(
            F.col("drift_type") == "missing_column",
            F.concat(
                F.lit("Column '"), F.col("column"),
                F.lit("' not found. Check if renamed or deleted."),
            ),
        )
        .when(
            F.col("drift_type") == "new_column",
            F.concat(
                F.lit("New column '"), F.col("column"),
                F.lit("' found. Consider adding to ontology."),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("Type changed for '"), F.col("column"), F.lit("': "),
                F.col("old_type"), F.lit(" -> "), F.col("new_type"),
            )
        )
    )
    return drift.select(
        *keys, "entity", fix_type.alias("fix_type"),
        F.col("column").alias("property"), description.alias("description"),
    )
