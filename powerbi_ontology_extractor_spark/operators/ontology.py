"""Ontology generation: model DataFrames → ontology DataFrames.

Reference semantics: /root/reference/powerbi_ontology/ontology_generator.py
- entity typing via pattern detection (:258-312) applied in order
  date_table → dimension → fact, each overwriting (:400-406), over a
  base classification (:368-374);
- relationship-type heuristics (:376-398);
- measures → business rules through the DAX parser (:166-171,236-256).

Spark shape: entity typing needs no shuffle — it reads every signal
(relationship degree, measure count, date-like columns) from the
parsed model row's own arrays; the other outputs are projections or
explodes of one input frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.functions.dax import parse_measures


def _name_is_datey(entity: Column) -> Column:
    lc = F.lower(entity)
    return lc.contains("date") | lc.contains("calendar") | lc.contains("time")


def ontology_entities_from_models(models: DataFrame) -> DataFrame:
    """Shuffle-free entity typing: every signal the pattern detectors
    need (relationship degree, measure count, date-like columns) lives
    INSIDE the model row's own arrays, so the whole computation is one
    narrow map over the parsed models — no groupBys, no joins.

    Exact reference semantics, including two duplicate-table-name
    quirks the fuzz-parity suite caught (ontology_generator.py):
    - the fact detector's measure_count is NAME-GLOBAL (`measure.table
      == entity.name` over the whole model's measure list, :299-303);
    - `_apply_patterns` (:400-406) finds the FIRST entity with the
      pattern's name, so for duplicate names the first instance ends at
      the LAST-fired pattern across ALL instances (patterns append
      date_table→dimension→fact per instance, in table order) and the
      later instances keep the base classification (:368-374).
    """
    tables_arr = F.coalesce(F.col("model.tables"), F.array())
    t = models.select(
        "repo",
        "dataset",
        F.coalesce(F.col("model.relationships"), F.array()).alias("rels"),
        tables_arr.alias("tables"),
        F.posexplode(tables_arr).alias("pos", "t"),
    )
    name = F.coalesce(F.col("t.name"), F.lit("Unknown"))
    cols = F.coalesce(F.col("t.columns"), F.array())

    def tname(x):
        return F.coalesce(x["name"], F.lit("Unknown"))

    # reference counts relationship ROWS matching (from==e OR to==e),
    # so a self-loop contributes once (ontology_generator.py:287-290)
    degree = F.size(
        F.filter(
            F.col("rels"),
            lambda r: (F.coalesce(r["fromTable"], F.lit("")) == name)
            | (F.coalesce(r["toTable"], F.lit("")) == name),
        )
    )
    date_kw = lambda c: (
        F.lower(F.coalesce(c["name"], F.lit(""))).contains("year")
        | F.lower(F.coalesce(c["name"], F.lit(""))).contains("month")
        | F.lower(F.coalesce(c["name"], F.lit(""))).contains("day")
        | F.lower(F.coalesce(c["name"], F.lit(""))).contains("quarter")
        | F.lower(F.coalesce(c["name"], F.lit(""))).contains("week")
    )
    n_props = F.size(cols)
    # indices of every instance sharing this row's name, in table order
    same_idx = F.filter(
        F.sequence(F.lit(0), F.size(F.col("tables")) - 1),
        lambda i: tname(F.try_element_at(F.col("tables"), i + 1)) == name,
    )
    first_pos = F.try_element_at(same_idx, F.lit(1))
    # name-global measure count (sums across duplicate instances)
    global_mc = F.aggregate(
        same_idx,
        F.lit(0),
        lambda acc, i: acc
        + F.size(
            F.coalesce(
                F.try_element_at(F.col("tables"), i + 1)["measures"], F.array()
            )
        ),
    )

    def fired(i):
        """Per-instance LAST-fired pattern (append order date_table →
        dimension → fact, so fact wins within an instance)."""
        inst = F.try_element_at(F.col("tables"), i + 1)
        icols = F.coalesce(inst["columns"], F.array())
        return (
            F.when((global_mc > 0) & (degree <= 3), "fact")
            .when((degree >= 3) & (F.size(icols) < 20), "dimension")
            .when(
                _name_is_datey(name) & F.exists(icols, date_kw), "date_table"
            )
        )

    fired_list = F.filter(
        F.transform(same_idx, fired), lambda x: x.isNotNull()
    )
    chosen = F.try_element_at(fired_list, F.lit(-1))  # last-fired overall
    base = F.when(_name_is_datey(name), "date").otherwise("standard")
    entity_type = F.when(
        F.col("pos") == first_pos, F.coalesce(chosen, base)
    ).otherwise(base)
    key_cols = F.filter(
        cols,
        lambda c: F.coalesce(c["isKey"], F.lit(False))
        | F.coalesce(c["isUnique"], F.lit(False)),
    )
    return t.select(
        "repo",
        "dataset",
        name.alias("entity"),
        F.coalesce(F.col("t.description"), F.lit("")).alias("description"),
        name.alias("source_table"),
        F.try_element_at(key_cols, F.lit(1))["name"].alias("primary_key"),
        n_props.alias("n_properties"),
        entity_type.alias("entity_type"),
    )


def ontology_relationships_df(relationships: DataFrame) -> DataFrame:
    """Relationships + semantic relationship_type (:376-398)."""
    fl, tl = F.lower(F.col("from_entity")), F.lower(F.col("to_entity"))
    rel_type = (
        F.when(fl.contains("customer") & tl.contains("order"), "has")
        .when(fl.contains("order") & tl.contains("customer"), "belongs_to")
        .when(fl.contains("product") & tl.contains("order"), "contained_in")
        .when(fl.contains("shipment") & tl.contains("customer"), "belongs_to")
        .when(F.col("cardinality") == "one-to-many", "has")
        .when(F.col("cardinality") == "many-to-one", "belongs_to")
        .otherwise("related_to")
    )
    return relationships.select(
        "repo",
        "dataset",
        "from_entity",
        "from_property",
        "to_entity",
        "to_property",
        rel_type.alias("relationship_type"),
        "cardinality",
        F.concat(
            F.lit("Relationship from "),
            F.col("from_entity"),
            F.lit(" to "),
            F.col("to_entity"),
        ).alias("description"),
        F.col("name").alias("source_relationship"),
    )


def business_rules_df(parsed_measures: DataFrame) -> DataFrame:
    """Explode parsed rules into BusinessRule rows (:236-256):
    entity = rule.entity or measure.table;
    description = rule.description or measure.description."""
    r = parsed_measures.where(F.col("dataset") != "Standalone").select(
        "repo",
        "dataset",
        "table",
        F.col("measure").alias("source_measure"),
        F.col("description").alias("measure_description"),
        F.explode("rules").alias("rule"),
    )
    nz = lambda c: F.nullif(c, F.lit(""))
    return r.select(
        "repo",
        "dataset",
        F.col("rule.name").alias("name"),
        F.coalesce(nz(F.col("rule.entity")), F.col("table")).alias("entity"),
        F.col("rule.condition").alias("condition"),
        F.col("rule.action").alias("action"),
        F.col("rule.classification").alias("classification"),
        F.coalesce(
            nz(F.col("rule.description")), F.col("measure_description")
        ).alias("description"),
        F.col("rule.priority").alias("priority"),
        "source_measure",
    )


def suggest_enhancements(properties: DataFrame) -> DataFrame:
    """Constraint suggestions from property-name heuristics (:314-366).
    Tagged-struct suggested_value (Spark needs a closed type for the
    reference's untyped dict)."""
    p = F.lower(F.col("property"))
    is_numeric = F.col("data_type").isin("Integer", "Decimal")
    sugg = F.array_compact(
        F.array(
            F.when(
                p.contains("email") & (F.col("data_type") == "String"),
                F.struct(
                    F.lit("regex").alias("ctype"),
                    F.lit(r"^[^\s@]+@[^\s@]+\.[^\s@]+$").alias("pattern"),
                    F.lit(None).cast("double").alias("min"),
                    F.lit(None).cast("double").alias("max"),
                ),
            ),
            F.when(
                p.contains("url") | p.contains("website"),
                F.struct(
                    F.lit("regex").alias("ctype"),
                    F.lit(r"^https?://").alias("pattern"),
                    F.lit(None).cast("double").alias("min"),
                    F.lit(None).cast("double").alias("max"),
                ),
            ),
            F.when(
                is_numeric & p.contains("age"),
                F.struct(
                    F.lit("range").alias("ctype"),
                    F.lit(None).cast("string").alias("pattern"),
                    F.lit(0.0).alias("min"),
                    F.lit(150.0).alias("max"),
                ),
            ),
            F.when(
                is_numeric
                & ~p.contains("age")
                & (p.contains("score") | p.contains("rating")),
                F.struct(
                    F.lit("range").alias("ctype"),
                    F.lit(None).cast("string").alias("pattern"),
                    F.lit(0.0).alias("min"),
                    F.lit(100.0).alias("max"),
                ),
            ),
        )
    )
    return (
        properties.withColumn("suggestion", F.explode(sugg))
        .select(
            "repo",
            "dataset",
            "entity",
            "property",
            F.lit("validation_constraint").alias("type"),
            F.col("suggestion.ctype").alias("constraint_type"),
            F.col("suggestion.pattern").alias("pattern"),
            F.col("suggestion.min").alias("min_value"),
            F.col("suggestion.max").alias("max_value"),
        )
    )


def generate_ontology(
    model_dfs: dict[str, DataFrame], materialize: bool = False
) -> dict[str, DataFrame]:
    """Full ontology stage over the extraction outputs.

    ``materialize=True`` localCheckpoints the outputs that the triple
    fan-out consumes more than once (stage-boundary pattern; at cluster
    scale this is an Iceberg write, see plans/manifest).
    """
    # localCheckpoint, NOT persist: building the columnar cache over the
    # UDF-produced array<struct> column is pathologically slow (~20×);
    # the checkpoint materializes once and cuts the lineage
    parsed = parse_measures(model_dfs["measures"])
    onto_entities = ontology_entities_from_models(model_dfs["models"])
    if materialize:
        # one concurrent barrier round: the UDF-produced parsed_measures
        # (3 downstream consumers) and the flat entity frame (entity +
        # CRUD emission both scan it — flat rows beat re-reading the
        # nested models struct twice)
        from powerbi_ontology_extractor_spark.operators.extract import (
            checkpoint_parallel,
        )

        parsed, onto_entities = checkpoint_parallel([parsed, onto_entities])
    else:
        parsed = parsed.localCheckpoint(eager=True)
    return {
        "parsed_measures": parsed,
        "ontology_entities": onto_entities,
        "ontology_relationships": ontology_relationships_df(
            model_dfs["relationships"]
        ),
        "business_rules": business_rules_df(parsed),
        "enhancements": suggest_enhancements(model_dfs["properties"]),
    }
