"""Resumable manifest runs and the batch gap sessionizer."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from __spark_entry__ import sessionize_batch
from powerbi_ontology_extractor_spark.plans.manifest import (
    ManifestRunner,
    run_pipeline_resumable,
)
from powerbi_ontology_extractor_spark.sources.corpus import corpus_df


def test_sessionize_batch(spark):
    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:10:00", 2.0),
        (1, "2024-01-01 12:00:00", 3.0),  # >30min gap → new session
        (2, "2024-01-01 09:00:00", 5.0),
    ]
    e = spark.createDataFrame(rows, "user_id long, ts string, value double").select(
        "user_id", F.to_timestamp("ts").alias("ts"), "value"
    )
    s = sessionize_batch(e).collect()
    by_user = {}
    for r in s:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    first = sorted(by_user[1], key=lambda r: r["session_start"])[0]
    assert first["n_events"] == 2 and first["total_value"] == 3.0
    assert len(by_user[2]) == 1


def test_manifest_resume(spark, tmp_path):
    run_dir = str(tmp_path / "run")
    c = corpus_df(spark, n_repos=2)
    out = run_pipeline_resumable(spark, c, run_dir, repo_buckets=4)
    n1 = out["triples"].count()
    assert n1 > 0
    assert out["corrupt_rows"].count() == 0

    manifest = ManifestRunner(spark, run_dir)
    recs = {r.stage: r for r in manifest.records()}
    assert set(recs) == {"corrupt_rows", "triples", "nodes", "edges"}
    assert recs["triples"].rows == n1
    assert recs["triples"].status == "completed"
    assert sum(recs["triples"].partition_rows) == n1

    # staged = bulk: the triples stage is exactly build_triples' set
    from powerbi_ontology_extractor_spark.operators.triples import TRIPLE_COLS
    from powerbi_ontology_extractor_spark.pipeline import build_triples

    staged = out["triples"].select(*TRIPLE_COLS)
    bulk = build_triples(c).select(*TRIPLE_COLS)
    assert bulk.exceptAll(staged).count() == 0
    assert staged.exceptAll(bulk).count() == 0

    # tamper-proof resume: delete nothing, rerun → same outputs, no new
    # manifest rows (stages skipped)
    before = len(manifest.records())
    out2 = run_pipeline_resumable(spark, c, run_dir, repo_buckets=4)
    assert out2["triples"].count() == n1
    assert len(ManifestRunner(spark, run_dir).records()) == before

    # different corpus → fingerprint change → recompute (new records)
    c2 = corpus_df(spark, n_repos=3)
    out3 = run_pipeline_resumable(spark, c2, run_dir, repo_buckets=4)
    assert out3["triples"].count() > n1
    assert len(ManifestRunner(spark, run_dir).records()) > before


def _jobs(spark, group, fn):
    """Call sites of the Spark jobs ``fn`` runs, read by job group from
    the driver's status tracker and status store."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    return sorted(
        store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)
    )


@pytest.fixture(scope="module")
def staged_run(spark, tmp_path_factory):
    """One fresh staged run of corpus_df(2), shared by the manifest
    bookkeeping tests below (run in file order; the last rewrites the
    manifest)."""
    run_dir = str(tmp_path_factory.mktemp("staged") / "run")
    c = corpus_df(spark, n_repos=2)
    run_pipeline_resumable(spark, c, run_dir, repo_buckets=4)
    return c, run_dir


def test_manifest_counts_from_written_files(spark, staged_run):
    """partition_rows holds each written part file's footer row count,
    in file-name order; an empty output records its one empty file."""
    import glob

    import pyarrow.parquet as pq

    _, run_dir = staged_run
    recs = {r.stage: r for r in ManifestRunner(spark, run_dir).records()}
    for rec in recs.values():
        files = sorted(glob.glob(os.path.join(rec.out_path, "part-*.parquet")))
        assert rec.partition_rows == [pq.read_metadata(f).num_rows for f in files]
        assert rec.partitions == len(files)
        assert rec.rows == sum(rec.partition_rows)
        assert rec.rows == spark.read.parquet(rec.out_path).count()
        recorded = StructType.fromJson(json.loads(rec.schema))
        written = spark.read.parquet(rec.out_path).schema
        assert [(f.name, f.dataType) for f in recorded] == [
            (f.name, f.dataType) for f in written
        ]
    assert recs["corrupt_rows"].partition_rows == [0]


def test_manifest_resume_runs_only_the_fingerprint(spark, staged_run):
    """A no-op resume neither counts nor infers a schema: its jobs are
    exactly the corpus fingerprint's."""
    c, run_dir = staged_run
    fp = _jobs(spark, "fp", lambda: ManifestRunner.corpus_fingerprint(c))
    assert fp
    resume = _jobs(
        spark, "resume",
        lambda: run_pipeline_resumable(spark, c, run_dir, repo_buckets=4),
    )
    assert resume == fp


def test_manifest_recovery_runs_no_bookkeeping_job(spark, staged_run):
    """Recomputing lost stages runs no manifest.py job besides the
    fingerprint's: row counts come from the written files."""
    c, run_dir = staged_run
    runner = ManifestRunner(spark, run_dir)
    before = {r.stage: r.rows for r in runner.records()}
    fp = _jobs(spark, "fp2", lambda: ManifestRunner.corpus_fingerprint(c))
    for stage in ("nodes", "edges"):
        os.remove(os.path.join(run_dir, stage, "_SUCCESS"))
    recover = _jobs(
        spark, "recover",
        lambda: run_pipeline_resumable(spark, c, run_dir, repo_buckets=4),
    )
    assert [j for j in recover if "manifest.py" in j] == fp
    redone = runner.records()[len(before):]
    assert [r.stage for r in redone] == ["nodes", "edges"]
    assert all(r.rows == before[r.stage] for r in redone)


def test_manifest_record_without_schema_is_recomputed(spark, staged_run):
    """A manifest line written before the schema field existed is not a
    completed stage: the rerun recomputes it (no schema inference) and
    records the schema."""
    c, run_dir = staged_run
    runner = ManifestRunner(spark, run_dir)
    with open(runner.manifest_path) as f:
        lines = [json.loads(line) for line in f if line.strip()]
    n = len(lines)
    with open(runner.manifest_path, "w") as f:
        for rec in lines:
            rec.pop("schema", None)
            f.write(json.dumps(rec) + "\n")
    out = run_pipeline_resumable(spark, c, run_dir, repo_buckets=4)
    redone = runner.records()[n:]
    assert [r.stage for r in redone] == ["corrupt_rows", "triples", "nodes", "edges"]
    assert all(r.schema for r in redone)
    assert out["triples"].count() == {r.stage: r.rows for r in redone}["triples"]


def test_manifest_quarantines_corrupt_rows(spark, tmp_path):
    run_dir = str(tmp_path / "runq")
    c = corpus_df(spark, n_repos=2)
    # corrupt one row's recorded sha
    bad = c.withColumn(
        "content_sha256",
        F.when(F.col("lang") == "report_json", F.lit("deadbeef")).otherwise(
            F.col("content_sha256")
        ),
    )
    out = run_pipeline_resumable(spark, bad, run_dir, repo_buckets=4)
    assert out["corrupt_rows"].count() == 2  # one report per repo
    # quarantined rows contribute no triples
    assert (
        out["triples"].where(F.col("pred") == "ont:bindsField").count() == 0
    )
