"""End-to-end KG-construction pipeline: corpus → triples (+ node/edge).

Mirrors the reference's `extract → generate → export` lifecycle
(/root/reference/powerbi_ontology/cli.py:63-106) as one lazy DataFrame
DAG: the whole corpus is one job, per-artifact failure isolation is the
permissive `from_json` (bad JSON → null struct → zero rows emitted,
never a thrown task), and the thread-pool batch loop
(cli.py:108-157) is simply cluster parallelism.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.functions.dax import parse_measures
from powerbi_ontology_extractor_spark.functions.layout import report_triples
from powerbi_ontology_extractor_spark.functions.mquery import m_datasource_triples
from powerbi_ontology_extractor_spark.operators.extract import (
    checkpoint_one,
    ckpt_coalesce_target,
    entities_df,
    hierarchies_df,
    measures_df,
    parse_models,
    properties_df,
    relationships_df,
    security_rules_df,
)
from powerbi_ontology_extractor_spark.operators.ontology import (
    business_rules_df,
    ontology_entities_from_models,
    ontology_relationships_df,
    suggest_enhancements,
)
from powerbi_ontology_extractor_spark.operators.constraints_io import (
    enhancement_property_constraints,
    sidecar_entity_constraints,
    sidecar_property_constraints,
)
from powerbi_ontology_extractor_spark.operators.triples import (
    DEFAULT_GENERATED_AT,
    DEFAULT_ROLES,
    GRAMMAR,
    TRIPLE_COLS,
    emit_frames,
    export_summary,
    export_triples,
)


def _assemble(
    corpus: DataFrame,
    roles: list[str] = DEFAULT_ROLES,
    generated_at: str = DEFAULT_GENERATED_AT,
) -> tuple[DataFrame, dict[str, DataFrame], dict[str, DataFrame]]:
    """corpus → (triples, model_dfs, onto_dfs): the one place the triple
    set is assembled.

    models checkpoint → ONE concurrent barrier round for every frame
    the emission fan-out consumes (flat families + Arrow-parsed
    measures + typed entities).  The barriers stop the ~40-branch
    emission union from re-scanning the parse (measured 6× wall-clock,
    and the difference between 0.61 and 0.81 N→4N scaling efficiency);
    full barriers also won at 6 and 400 repos (fresh-JVM min-of-3).
    extract_all + generate_ontology run TWO serial rounds because
    parsed_measures/ontology_entities sit behind the extract stage in
    the API; here everything derives from the models checkpoint, so one
    round suffices — round latency is pure serial time (measured ~6-10 s
    at 36k repos).

    The round is submitted as FUTURES and the driver builds the
    M-datasource and report families (inputs: corpus + datasets) WHILE
    the remaining five checkpoints execute.  py4j expression
    construction is driver-only, the checkpoint threads just block on
    the JVM, so the build hides behind the round latency.  Every other
    family renders from ``triples.GRAMMAR``, one projection per frame.

    The T7/T8 constraint families (owl.py:264-309) are the suggested
    validation constraints (ontology_generator.py:314-366 heuristics,
    as the reference's include_constraints=True export applies them)
    plus the ontology-JSON sidecar constraints (the mcp_server.py:268-296
    load path) including entity-level EntityConstraint bnodes.
    """
    # models MUST be eager-checkpointed BEFORE the concurrent round:
    # concurrent jobs over an unmaterialized cache stampede it and
    # re-parse every model JSON 30-40x
    models = parse_models(corpus).localCheckpoint(eager=True)
    measures = measures_df(models, corpus)
    # NOTE: raw `measures` is deliberately NOT in the round — the
    # export union never scans it (only parsed_measures), and
    # checkpointing it both wasted a job and derived the frame twice
    # (measured +1.9 s at local[32]/400 repos)
    frames = {
        "datasets": models.select("repo", "dataset", "path").dropDuplicates(
            ["repo", "dataset"]
        ),
        "properties": properties_df(models),
        "relationships": relationships_df(models),
        "security_rules": security_rules_df(models),
        "parsed_measures": parse_measures(measures),
        "ontology_entities": ontology_entities_from_models(models),
    }
    target = ckpt_coalesce_target(corpus)
    with ThreadPoolExecutor(max_workers=len(frames)) as ex:
        futs = {
            k: ex.submit(checkpoint_one, v, target) for k, v in frames.items()
        }
        datasets = futs["datasets"].result()
        latent = m_datasource_triples(corpus, datasets).unionByName(
            report_triples(corpus, datasets)
        )
        ckpt = {k: futs[k].result() for k in frames}
    model_dfs = {
        "models": models,
        "entities": entities_df(models),
        "hierarchies": hierarchies_df(models),
        "measures": measures,
        "datasets": datasets,
        "properties": ckpt["properties"],
        "relationships": ckpt["relationships"],
        "security_rules": ckpt["security_rules"],
    }
    onto_dfs = {
        "parsed_measures": ckpt["parsed_measures"],
        "ontology_entities": ckpt["ontology_entities"],
        "ontology_relationships": ontology_relationships_df(
            ckpt["relationships"]
        ),
        "business_rules": business_rules_df(ckpt["parsed_measures"]),
        "enhancements": suggest_enhancements(ckpt["properties"]),
    }
    pcs = enhancement_property_constraints(onto_dfs["enhancements"]).unionByName(
        sidecar_property_constraints(corpus)
    )
    constraints = emit_frames([
        (GRAMMAR["property_constraints"], pcs),
        (GRAMMAR["entity_constraints"], sidecar_entity_constraints(corpus)),
    ])
    triples = (
        export_triples(onto_dfs, model_dfs, roles, generated_at, dedup=False)
        .unionByName(constraints)
        .unionByName(latent)
    )
    return triples.dropDuplicates(TRIPLE_COLS), model_dfs, onto_dfs


def build_triples(
    corpus: DataFrame,
    roles: list[str] = DEFAULT_ROLES,
    generated_at: str = DEFAULT_GENERATED_AT,
) -> DataFrame:
    """corpus (repo, path, commit, lang, content) → triples DF."""
    return _assemble(corpus, roles, generated_at)[0]


def build_triples_canonicalized(
    corpus: DataFrame,
    roles: list[str] = DEFAULT_ROLES,
    generated_at: str = DEFAULT_GENERATED_AT,
    min_prop_jaccard: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Full north-star path: ``build_triples`` + cross-repo entity
    canonicalization (MinHash-LSH blocking → connected components →
    canonical IRIs) applied BEFORE node/edge materialization.

    Returns (canonical_triples, mapping).  Canonical triples carry
    subj_orig/obj_orig provenance columns.
    """
    from powerbi_ontology_extractor_spark.operators.canonicalize import (
        entity_canonical_mapping,
        rewrite_triples_canonical,
    )

    triples, model_dfs, onto_dfs = _assemble(corpus, roles, generated_at)
    mapping = entity_canonical_mapping(
        onto_dfs["ontology_entities"],
        model_dfs["properties"],
        min_prop_jaccard=min_prop_jaccard,
    )
    return rewrite_triples_canonical(triples, mapping), mapping


def nodes_edges(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Materialize the graph as node/edge tables (north-star output;
    replaces the reference's networkx DiGraph at
    utils/visualizer.py:39-68).

    nodes: every URI subject/object with its rdf:type (if any)
    edges: every URI→URI triple (non-literal objects)

    Each triple yields two node candidates, (subj, obj if rdf:type) and
    (obj if URI, null); one aggregation per (repo, dataset, node) keeps
    the least type, so the node table plans one exchange and no join.
    """
    uri_obj = ~F.col("obj_is_literal")
    candidates = F.array(
        F.struct(
            F.col("subj").alias("node"),
            F.when(F.col("pred") == "rdf:type", F.col("obj")).alias("node_type"),
        ),
        F.struct(
            F.when(uri_obj, F.col("obj")).alias("node"),
            F.lit(None).cast("string").alias("node_type"),
        ),
    )
    nodes = (
        triples.select("repo", "dataset", F.inline(candidates))
        .where(F.col("node").isNotNull())
        .groupBy("repo", "dataset", "node")
        .agg(F.min("node_type").alias("node_type"))
    )
    edges = triples.where(uri_obj).select(
        "repo",
        "dataset",
        F.col("subj").alias("src"),
        F.col("pred").alias("rel"),
        F.col("obj").alias("dst"),
    )
    return nodes, edges


def _write(df: DataFrame, target: str, fmt: str) -> None:
    """Format-pluggable table write.

    - ``parquet`` (default): path-based, overwrite.
    - ``iceberg``: catalog-table based (``target`` is a table name like
      ``catalog.db.triples``) — requires an Iceberg runtime/catalog on
      the session (spark.sql.catalog.* conf); on a bare sandbox this
      raises Spark's own missing-catalog error rather than silently
      degrading.  The DataFrameWriterV2 ``createOrReplace`` carries the
      repartition through as the write distribution.
    """
    if fmt == "iceberg":
        df.writeTo(target).using("iceberg").createOrReplace()
    else:
        df.write.mode("overwrite").format(fmt).save(target)


def write_outputs(
    triples: DataFrame,
    out_dir: str,
    repo_buckets: int = 64,
    fmt: str = "parquet",
) -> None:
    """Persist triples + node/edge tables.

    Cluster posture: Iceberg tables partitioned by ``bucket(repo)``
    (``fmt="iceberg"`` with ``out_dir`` = ``catalog.db`` prefix);
    locally parquet with an explicit repartition on the same key so the
    file layout matches what a 1000-executor write would produce.
    """
    sep = "." if fmt == "iceberg" else "/"
    t = triples.repartition(repo_buckets, "repo")
    _write(t, f"{out_dir}{sep}triples", fmt)
    nodes, edges = nodes_edges(triples)
    small = max(repo_buckets // 4, 1)
    _write(nodes.repartition(small, "repo"), f"{out_dir}{sep}nodes", fmt)
    _write(edges.repartition(small, "repo"), f"{out_dir}{sep}edges", fmt)


__all__ = [
    "build_triples",
    "nodes_edges",
    "write_outputs",
    "export_summary",
]
