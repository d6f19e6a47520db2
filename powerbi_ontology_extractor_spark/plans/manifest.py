"""Resumable staged execution with a per-stage manifest.

North-rule requirement: "every stage checkpoints per-partition lineage
and triple counts for resumable runs".  The reference has no
counterpart (single-process, rerun-from-scratch); this module gives the
pipeline restartability semantics:

- each stage writes its output table to ``<run_dir>/<stage>`` (parquet)
  and appends a manifest record: stage name, status, row count, the
  row count of every written file (lineage: one file per write task),
  the output schema, the input-corpus sha fingerprint, wall ms;
- the counts come from the parquet footers of the written files, read
  on the driver, and every reload (fresh or resumed) reads the output
  with the recorded schema, so describing and reloading an output
  starts no Spark job;
- a restarted run verifies the manifest + output existence + the corpus
  fingerprint and SKIPS completed stages (idempotent re-run);
- a changed corpus fingerprint invalidates all downstream stages.

The manifest itself is a JSON-lines file (tiny, driver-written,
atomic-rename per append) — the equivalent of an Iceberg ``_manifest``
table.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class StageRecord:
    """One stage's manifest line.

    ``partition_rows`` holds the row count of each written
    ``part-*.parquet`` file, in file-name order, read from the file
    footers; each file is one write task's output.  ``partitions`` is
    the file count and ``rows`` their sum.  An empty output is the one
    empty file task 0 writes, so it records ``[0]``.  ``schema`` is the
    output's ``StructType`` as JSON, the schema every reload reads with;
    a record without one (written before the field existed) is never
    treated as completed, so its stage is recomputed.
    """

    stage: str
    status: str  # completed | failed
    rows: int
    partitions: int
    partition_rows: list[int]
    corpus_fingerprint: str
    wall_ms: int
    out_path: str
    schema: str = ""


class ManifestRunner:
    """Run (stage_name → DataFrame-producing fn) steps with skip-on-
    restart semantics."""

    def __init__(self, spark: SparkSession, run_dir: str):
        self.spark = spark
        self.run_dir = run_dir
        self.manifest_path = os.path.join(run_dir, "_manifest.jsonl")
        os.makedirs(run_dir, exist_ok=True)

    # -- manifest io -----------------------------------------------------

    def records(self) -> list[StageRecord]:
        if not os.path.exists(self.manifest_path):
            return []
        out = []
        with open(self.manifest_path) as f:
            for line in f:
                if line.strip():
                    out.append(StageRecord(**json.loads(line)))
        return out

    def _append(self, rec: StageRecord) -> None:
        tmp = self.manifest_path + ".tmp"
        lines = [json.dumps(asdict(r)) for r in self.records()] + [
            json.dumps(asdict(rec))
        ]
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, self.manifest_path)

    def completed(self, corpus_fingerprint: str) -> dict[str, StageRecord]:
        return {
            r.stage: r
            for r in self.records()
            if r.status == "completed"
            and r.schema
            and r.corpus_fingerprint == corpus_fingerprint
            and os.path.exists(os.path.join(r.out_path, "_SUCCESS"))
        }

    # -- fingerprint -----------------------------------------------------

    @staticmethod
    def corpus_fingerprint(corpus: DataFrame) -> str:
        """Order-insensitive fingerprint over the per-row sha256 column
        (the per-row content invariant doubles as the lineage id)."""
        row = corpus.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("content_sha256").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).first()
        return f"{row['n']}:{row['h']}"

    # -- execution ---------------------------------------------------------

    def run_stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        corpus_fingerprint: str,
        partition_cols: list[str] | None = None,
        num_partitions: int | None = None,
    ) -> DataFrame:
        """Produce-or-reload one stage.  Completed (same fingerprint,
        output intact) → reload parquet with the recorded schema, skip
        compute."""
        out_path = os.path.join(self.run_dir, name)
        done = self.completed(corpus_fingerprint)
        if name in done:
            return self._reload(out_path, done[name].schema)

        t0 = time.perf_counter()
        df = fn()
        writer_df = df
        if partition_cols and num_partitions:
            writer_df = df.repartition(num_partitions, *partition_cols)
        writer_df.write.mode("overwrite").parquet(out_path)
        part_rows = [
            pq.read_metadata(f).num_rows
            for f in sorted(glob.glob(os.path.join(out_path, "part-*.parquet")))
        ]
        schema = df.schema.json()
        rec = StageRecord(
            stage=name,
            status="completed",
            rows=sum(part_rows),
            partitions=len(part_rows),
            partition_rows=part_rows,
            corpus_fingerprint=corpus_fingerprint,
            wall_ms=int((time.perf_counter() - t0) * 1000),
            out_path=out_path,
            schema=schema,
        )
        self._append(rec)
        return self._reload(out_path, schema)

    def _reload(self, out_path: str, schema: str) -> DataFrame:
        return self.spark.read.schema(
            StructType.fromJson(json.loads(schema))
        ).parquet(out_path)


def run_pipeline_resumable(
    spark: SparkSession,
    corpus: DataFrame,
    run_dir: str,
    repo_buckets: int = 16,
) -> dict[str, DataFrame]:
    """The full KG pipeline as resumable stages: corrupt-row quarantine →
    triples (``pipeline.build_triples``) → nodes/edges, each persisted
    with manifest records.

    A rerun after a crash (or a no-op rerun) recomputes nothing whose
    output is intact for the same corpus fingerprint.
    """
    from powerbi_ontology_extractor_spark.pipeline import build_triples, nodes_edges
    from powerbi_ontology_extractor_spark.sources.corpus import verify_content_sha

    runner = ManifestRunner(spark, run_dir)
    fp = runner.corpus_fingerprint(corpus)

    # bad-row quarantine: rows failing the content-sha invariant are
    # excluded from every stage and surfaced in their own table
    bad = runner.run_stage("corrupt_rows", lambda: verify_content_sha(corpus), fp)
    good = corpus.join(
        bad.select("repo", "path"), ["repo", "path"], "left_anti"
    )

    triples = runner.run_stage(
        "triples", lambda: build_triples(good), fp, partition_cols=["repo"],
        num_partitions=repo_buckets,
    )
    nodes = runner.run_stage(
        "nodes", lambda: nodes_edges(triples)[0], fp,
        partition_cols=["repo"], num_partitions=max(repo_buckets // 4, 1),
    )
    edges = runner.run_stage(
        "edges", lambda: nodes_edges(triples)[1], fp,
        partition_cols=["repo"], num_partitions=max(repo_buckets // 4, 1),
    )
    return {"triples": triples, "nodes": nodes, "edges": edges, "corrupt_rows": bad}
