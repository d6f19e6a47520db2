"""Agent-permission contract building as semi-joins / unions.

Reference semantics:
/root/reference/powerbi_ontology/contract_builder.py:70-230 —
permission generation from a dashboard (entity ∪ relationship
endpoints ∪ measure-dependency tables, :113-151), relevant-rule
selection (:219-230), and contract→OWL triple emission mirroring
export/contract_to_owl.py:69-111.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.functions.dax import identify_dependencies
from powerbi_ontology_extractor_spark.functions.naming import safe_name_sql
from powerbi_ontology_extractor_spark.operators.triples import (
    LIT,
    Frame,
    T,
    _iri,
    emit_frames,
)


def permissions_from_dashboard(
    entities: DataFrame, relationships: DataFrame, measures: DataFrame
) -> DataFrame:
    """Suggested read-set per (repo, dataset): entity names ∪
    relationship endpoints ∪ measure-dependency tables
    (contract_builder.py:113-151) — union of 3 projections + distinct.
    Output: (repo, dataset, entity, sources) where ``sources`` is the
    sorted comma-joined provenance set (deterministic, unlike a
    dropDuplicates survivor — required for the DuckDB oracle)."""
    from_entities = entities.select(
        "repo", "dataset", "entity", F.lit("entity").alias("source")
    )
    from_rels = (
        relationships.select(
            "repo",
            "dataset",
            F.explode(F.array("from_entity", "to_entity")).alias("entity"),
        )
        .withColumn("source", F.lit("relationship"))
    )
    deps = measures.where(F.col("dataset") != "Standalone").select(
        "repo",
        "dataset",
        F.explode(identify_dependencies(F.col("dax_formula"))).alias("dep"),
    )
    from_measures = deps.where(F.col("dep").contains(".")).select(
        "repo",
        "dataset",
        F.split(F.col("dep"), r"\.")[0].alias("entity"),
        F.lit("measure_dependency").alias("source"),
    )
    return (
        from_entities.unionByName(from_rels)
        .unionByName(from_measures)
        .groupBy("repo", "dataset", "entity")
        .agg(
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
                "sources"
            )
        )
    )


def relevant_business_rules(
    business_rules: DataFrame, read_set: DataFrame
) -> DataFrame:
    """Rules whose entity ∈ agent-readable set
    (contract_builder.py:219-230) — broadcast left-semi join."""
    return business_rules.join(
        F.broadcast(read_set.select("repo", "dataset", "entity")),
        ["repo", "dataset", "entity"],
        "left_semi",
    )


ACTION_CLASSES = {
    "read": "ont:ReadAction",
    "write": "ont:WriteAction",
    "execute": "ont:ExecuteAction",
}
# one action instance per granted entity; {agent}, {role}, {permission}
# and {action_class} are the caller's strings
CONTRACT = Frame(
    {"_subj": f"concat('ont:contract_', {safe_name_sql('{agent}')}, '_', "
              f"{{permission}}, '_', {safe_name_sql('entity')})"},
    [
        T("_subj", "'rdf:type'", "{action_class}"),
        T("_subj", "'ont:appliesTo'", _iri("entity")),
        T("_subj", "'ont:requiresRole'", _iri("{role}")),
        T("_subj", "'ont:allowsAction'", "{permission}", LIT),
        T("_subj", "'ont:grantedBy'", "{agent}", LIT),
    ],
)


def contract_triples(
    read_set: DataFrame,
    agent_name: str = "agent",
    role: str = "Viewer",
    permission: str = "read",
) -> DataFrame:
    """Contract → OWL permission triples (the grammar of
    export/contract_to_owl.py:69-111: Read/Write/ExecuteAction
    instances with appliesTo/requiresRole per granted entity)."""
    return emit_frames(
        [(CONTRACT, read_set)], agent=agent_name, role=role,
        permission=permission, action_class=ACTION_CLASSES[permission],
    )
