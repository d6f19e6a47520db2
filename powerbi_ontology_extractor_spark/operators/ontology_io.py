"""Ontology-JSON document import: the reference CLI's
``import ontology.json → export OWL`` path (cli.py:183,341-409
``_dict_to_ontology`` + the exporter), re-expressed as one distributed
parse producing the family frames the triple emitters already consume.

The document shape is exactly ``_ontology_to_dict`` output
(cli.py:284-340): name/version/source, entities[*].properties[*] with
``constraints`` whose ``value`` is POLYMORPHIC (dict for range, list
for enum, scalar otherwise).  A closed from_json schema cannot hold
that, so parsing uses Spark 4 ``VariantType``: ``parse_json`` once,
then ``variant_get``/``try_variant_get`` with per-type target types —
dynamic JSON stays JVM-side, no Python.

Corpus rows use ``lang='ontology_doc'``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LANG = "ontology_doc"


def _docs(corpus: DataFrame) -> DataFrame:
    return (
        corpus.where(F.col("lang") == LANG)
        .select("repo", "path", F.try_parse_json(F.col("content")).alias("v"))
        .where(F.col("v").isNotNull())
        .select(
            "repo",
            "path",
            F.coalesce(
                F.try_variant_get(F.col("v"), "$.name", "string"),
                F.lit("Unnamed"),
            ).alias("dataset"),
            F.coalesce(
                F.try_variant_get(F.col("v"), "$.version", "string"),
                F.lit("1.0"),
            ).alias("version"),
            F.coalesce(
                F.try_variant_get(F.col("v"), "$.source", "string"), F.lit("")
            ).alias("source"),
            F.col("v"),
        )
    )


def _vs(col: Column, path: str, default: str = "") -> Column:
    return F.coalesce(F.try_variant_get(col, path, "string"), F.lit(default))


def _ents(corpus: DataFrame) -> DataFrame:
    return _docs(corpus).select(
        "repo",
        "dataset",
        F.explode_outer(
            F.try_variant_get(F.col("v"), "$.entities", "array<variant>")
        ).alias("e"),
        "v",
    )


def doc_datasets(corpus: DataFrame) -> DataFrame:
    return _docs(corpus).select("repo", "dataset", "path").dropDuplicates(
        ["repo", "dataset"]
    )


def doc_entities(corpus: DataFrame) -> DataFrame:
    """ontology_entities-shaped frame (entity_type comes FROM the doc —
    no pattern detection re-run, matching _dict_to_ontology)."""
    e = F.col("e")
    return (
        _ents(corpus)
        .where(e.isNotNull())
        .select(
            "repo",
            "dataset",
            _vs(e, "$.name", "Unnamed").alias("entity"),
            _vs(e, "$.description").alias("description"),
            _vs(e, "$.source_table").alias("source_table"),
            F.lit(None).cast("string").alias("primary_key"),
            F.coalesce(
                F.size(
                    F.try_variant_get(e, "$.properties", "array<variant>")
                ),
                F.lit(0),
            ).alias("n_properties"),
            _vs(e, "$.entity_type", "standard").alias("entity_type"),
        )
    )


def _props(corpus: DataFrame) -> DataFrame:
    e = F.col("e")
    return (
        _ents(corpus)
        .where(e.isNotNull())
        .select(
            "repo",
            "dataset",
            _vs(e, "$.name", "Unnamed").alias("entity"),
            F.explode_outer(
                F.try_variant_get(e, "$.properties", "array<variant>")
            ).alias("p"),
        )
        .where(F.col("p").isNotNull())
    )


def doc_properties(corpus: DataFrame) -> DataFrame:
    p = F.col("p")
    return _props(corpus).select(
        "repo",
        "dataset",
        "entity",
        F.lit(0).alias("pos"),
        _vs(p, "$.name").alias("property"),
        _vs(p, "$.data_type", "String").alias("data_type"),
        F.coalesce(
            F.try_variant_get(p, "$.required", "boolean"), F.lit(False)
        ).alias("required"),
        F.coalesce(
            F.try_variant_get(p, "$.unique", "boolean"), F.lit(False)
        ).alias("unique"),
        _vs(p, "$.description").alias("description"),
        _vs(p, "$.source_column").alias("source_column"),
    )


def doc_relationships(corpus: DataFrame) -> DataFrame:
    """ontology_relationships-shaped (relationship_type/cardinality come
    from the doc with _dict_to_ontology's defaults)."""
    r = F.col("r")
    return (
        _docs(corpus)
        .select(
            "repo",
            "dataset",
            F.explode_outer(
                F.try_variant_get(F.col("v"), "$.relationships", "array<variant>")
            ).alias("r"),
        )
        .where(r.isNotNull())
        .select(
            "repo",
            "dataset",
            _vs(r, "$.from_entity").alias("from_entity"),
            _vs(r, "$.from_property").alias("from_property"),
            _vs(r, "$.to_entity").alias("to_entity"),
            _vs(r, "$.to_property").alias("to_property"),
            _vs(r, "$.relationship_type", "related_to").alias(
                "relationship_type"
            ),
            _vs(r, "$.cardinality", "one-to-many").alias("cardinality"),
            _vs(r, "$.description").alias("description"),
            F.lit("").alias("source_relationship"),
        )
    )


def doc_business_rules(corpus: DataFrame) -> DataFrame:
    b = F.col("b")
    return (
        _docs(corpus)
        .select(
            "repo",
            "dataset",
            F.explode_outer(
                F.try_variant_get(
                    F.col("v"), "$.business_rules", "array<variant>"
                )
            ).alias("b"),
        )
        .where(b.isNotNull())
        .select(
            "repo",
            "dataset",
            _vs(b, "$.name").alias("name"),
            _vs(b, "$.entity").alias("entity"),
            _vs(b, "$.condition").alias("condition"),
            _vs(b, "$.action").alias("action"),
            _vs(b, "$.classification").alias("classification"),
            _vs(b, "$.description").alias("description"),
            F.coalesce(
                F.try_variant_get(b, "$.priority", "int"), F.lit(1)
            ).alias("priority"),
            F.lit("").alias("source_measure"),
        )
    )


def doc_property_constraints(corpus: DataFrame) -> DataFrame:
    """Polymorphic Constraint rows (owl.py:264-309 input): the variant
    ``value`` is probed per target type — dict(min/max) for range,
    array for enum, scalar string otherwise; the emitters pick the
    field that matches the constraint type."""
    c = F.col("c")
    return (
        _props(corpus)
        .select(
            "repo", "dataset", "entity",
            _vs(F.col("p"), "$.name").alias("property"),
            F.explode_outer(
                F.try_variant_get(F.col("p"), "$.constraints", "array<variant>")
            ).alias("c"),
        )
        .where(c.isNotNull())
        .select(
            "repo",
            "dataset",
            "entity",
            "property",
            _vs(c, "$.type").alias("constraint_type"),
            # regex: value may be the pattern string or {"pattern": ...}
            # (owl.py:285-287)
            F.coalesce(
                F.try_variant_get(c, "$.value.pattern", "string"),
                F.try_variant_get(c, "$.value", "string"),
            ).alias("pattern"),
            F.try_variant_get(c, "$.value.min", "double").alias("min_value"),
            F.try_variant_get(c, "$.value.max", "double").alias("max_value"),
            # enum: list, or scalar promoted to a 1-list (owl.py:289-291)
            F.coalesce(
                F.try_variant_get(c, "$.value", "array<string>"),
                F.when(
                    F.try_variant_get(c, "$.value", "string").isNotNull(),
                    F.array(F.try_variant_get(c, "$.value", "string")),
                ),
            ).alias("enum_values"),
            F.try_variant_get(c, "$.value", "string").alias("reference"),
            _vs(c, "$.message").alias("message"),
        )
    )


def doc_entity_constraints(corpus: DataFrame) -> DataFrame:
    e, c = F.col("e"), F.col("c")
    return (
        _ents(corpus)
        .where(e.isNotNull())
        .select(
            "repo",
            "dataset",
            _vs(e, "$.name", "Unnamed").alias("entity"),
            F.explode_outer(
                F.try_variant_get(e, "$.constraints", "array<variant>")
            ).alias("c"),
        )
        .where(c.isNotNull())
        .select(
            "repo",
            "dataset",
            "entity",
            _vs(c, "$.type").alias("constraint_type"),
            F.coalesce(
                F.try_variant_get(c, "$.value", "string"), F.lit("")
            ).alias("value"),
            _vs(c, "$.message").alias("message"),
        )
    )


def ontology_doc_triples(
    corpus: DataFrame, roles: list[str] | None = None
) -> DataFrame:
    """Full OWL export of loaded ontology docs — the cli import→export
    round trip (cli.py:176-199): the doc's own metadata (label = the
    doc's name, NOT name+'_Ontology'; comment 'Ontology from {source}';
    version; ont:meta_<key> per metadata entry) beside the OntoGuard
    catalog, then the doc frames through the extraction pipeline's
    grammar, T7/T8 constraints included."""
    from powerbi_ontology_extractor_spark.functions.naming import safe_name_sql
    from powerbi_ontology_extractor_spark.operators.triples import (
        CATALOG,
        DEFAULT_ROLES,
        GRAMMAR,
        LIT,
        TRIPLE_COLS,
        Frame,
        T,
        emit_frames,
    )

    meta = Frame(
        {"_onto": f"concat('ont:', {safe_name_sql('dataset')})"},
        [
            T("_onto", "'rdf:type'", "'owl:Ontology'"),
            T("_onto", "'rdfs:label'", "dataset", LIT),
            T("_onto", "'rdfs:comment'", "concat('Ontology from ', source)", LIT),
            T("_onto", "'owl:versionInfo'", "nullif(version, '')", LIT),
            T("_onto", "concat('ont:meta_', x.key)", "x.value", LIT,
              each="map_entries(try_variant_get(v, '$.metadata', "
                   "'map<string,string>'))"),
            *CATALOG.rows,
        ],
        CATALOG.per_role,
    )
    return emit_frames(
        [
            (meta, _docs(corpus)),
            (GRAMMAR["ontology_entities"], doc_entities(corpus)),
            (GRAMMAR["properties"], doc_properties(corpus)),
            (GRAMMAR["ontology_relationships"], doc_relationships(corpus)),
            (GRAMMAR["business_rules"], doc_business_rules(corpus)),
            (GRAMMAR["property_constraints"], doc_property_constraints(corpus)),
            (GRAMMAR["entity_constraints"], doc_entity_constraints(corpus)),
        ],
        roles or DEFAULT_ROLES,
    ).dropDuplicates(TRIPLE_COLS)
