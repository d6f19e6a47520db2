"""Secondary export sinks (SURVEY §2.5 T17–T19) as DataFrame shapes.

The reference renders these driver-side from object graphs; here each
is a distributed projection/aggregation producing one JSON document per
entity (or rule), so a 10^8-entity corpus exports in parallel.

- Fabric IQ (export/fabric_iq.py:32-107): the reference's per-entity
  correlated rescan over all relationships (:97-105, O(E·R)) becomes a
  groupBy(from_entity) + left join.
- JSON Schema draft-07 (export/json_schema.py:31-99): per-entity
  ``to_json(struct(...))`` with required[] accumulation.
- OntoGuard (export/ontoguard.py:66-153): validation rules, schema
  bindings (default source ``sql_db.dbo.<snake>``; PK = first unique
  property), and firewall rules (name ~ risk|alert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.functions.naming import snake_case

KEYS = ["repo", "dataset"]


def fabric_iq_entities(
    entities: DataFrame, properties: DataFrame, relationships: DataFrame
) -> DataFrame:
    """One JSON doc per entity with its properties and outgoing
    relationships pre-aggregated (replaces the reference's correlated
    per-entity scan of every relationship)."""
    props = properties.groupBy(*KEYS, "entity").agg(
        F.to_json(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("property").alias("name"),
                        F.col("data_type").alias("type"),
                        F.col("required"),
                        F.col("unique"),
                    )
                )
            )
        ).alias("properties_json")
    )
    rels = relationships.groupBy(
        *KEYS, F.col("from_entity").alias("entity")
    ).agg(
        F.to_json(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("to_entity").alias("target"),
                        F.col("relationship_type").alias("type"),
                        F.col("cardinality"),
                    )
                )
            )
        ).alias("relationships_json")
    )
    return (
        entities.join(props, [*KEYS, "entity"], "left")
        .join(rels, [*KEYS, "entity"], "left")
        .select(
            *KEYS,
            "entity",
            "entity_type",
            F.coalesce("properties_json", F.lit("[]")).alias("properties_json"),
            F.coalesce("relationships_json", F.lit("[]")).alias(
                "relationships_json"
            ),
        )
    )


def json_schema_docs(entities: DataFrame, properties: DataFrame) -> DataFrame:
    """Draft-07 JSON Schema per entity: type map + required[]."""
    type_map = {
        "String": "string",
        "Integer": "integer",
        "Decimal": "number",
        "Boolean": "boolean",
        "Date": "string",
        "DateTime": "string",
    }
    json_type = F.lit("string")
    for k, v in reversed(list(type_map.items())):
        json_type = F.when(F.col("data_type") == k, v).otherwise(json_type)
    agg = properties.withColumn("json_type", json_type).groupBy(
        *KEYS, "entity"
    ).agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "property",
                        F.struct(F.col("json_type").alias("type")).alias("spec"),
                    )
                )
            )
        ).alias("props"),
        F.array_sort(
            F.collect_list(F.when(F.col("required"), F.col("property")))
        ).alias("required"),
    )
    return entities.join(agg, [*KEYS, "entity"], "left").select(
        *KEYS,
        "entity",
        F.to_json(
            F.struct(
                F.lit("http://json-schema.org/draft-07/schema#").alias("$schema"),
                F.col("entity").alias("title"),
                F.lit("object").alias("type"),
                F.col("props").alias("properties"),
                F.coalesce(F.col("required"), F.array()).alias("required"),
            )
        ).alias("json_schema"),
    )


def fabric_iq_business_rules(business_rules: DataFrame) -> DataFrame:
    """One Fabric IQ rule doc per business rule with trigger tags (P15)
    (export/fabric_iq.py:128-148 + :234-243 trigger extraction)."""
    from powerbi_ontology_extractor_spark.operators.fabric_owl import (
        rule_triggers_sql,
    )

    src = F.when(
        F.coalesce(F.col("source_measure"), F.lit("")) != "",
        F.concat(F.lit("DAX: "), F.col("source_measure")),
    ).otherwise("Manual")
    return business_rules.select(
        *KEYS,
        "name",
        src.alias("source"),
        "entity",
        "condition",
        "action",
        "classification",
        F.expr(rule_triggers_sql("action")).alias("triggers"),
        "description",
        "priority",
    )


def ontoguard_bindings(entities: DataFrame, properties: DataFrame) -> DataFrame:
    """Schema bindings: expected snake_case columns, default physical
    source ``sql_db.dbo.<snake(entity)>``, PK = first unique property by
    position (export/ontoguard.py:100-130)."""
    cols = properties.withColumn("physical", snake_case(F.col("property")))
    agg = cols.groupBy(*KEYS, "entity").agg(
        F.array_sort(F.collect_list("physical")).alias("expected_columns"),
        F.min_by(
            F.col("physical"), F.when(F.col("unique"), F.col("pos"))
        ).alias("primary_key"),
    )
    return (
        entities.select(*KEYS, "entity")
        .join(agg, [*KEYS, "entity"], "left")
        .select(
            *KEYS,
            "entity",
            F.concat(F.lit("sql_db.dbo."), snake_case(F.col("entity"))).alias(
                "physical_source"
            ),
            F.coalesce("expected_columns", F.array()).alias("expected_columns"),
            "primary_key",
        )
    )


def ontoguard_firewall_rules(business_rules: DataFrame) -> DataFrame:
    """Firewall rules = business rules whose name mentions risk/alert
    (export/ontoguard.py:138-153)."""
    return business_rules.where(
        F.lower(F.col("name")).rlike("risk|alert")
    ).select(
        *KEYS,
        F.col("name").alias("rule_name"),
        "entity",
        "condition",
        "action",
    )
