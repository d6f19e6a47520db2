"""Structured Streaming ingestion + resumable manifest runs."""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from powerbi_ontology_extractor_spark.plans.manifest import (
    ManifestRunner,
    run_pipeline_resumable,
)
from powerbi_ontology_extractor_spark.sources.corpus import corpus_df
from powerbi_ontology_extractor_spark.streaming.ingest import (
    incremental_triples,
    sessionize_batch,
    stream_corpus,
    windowed_event_counts,
)


def test_windowed_event_counts_batch(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(events)
    rows = out.collect()
    assert len(rows) > 0
    assert out.agg(F.sum("n")).first()[0] == events.count()
    # window bounds are exactly 1 hour apart
    r = rows[0]
    assert (r["window_end"] - r["window_start"]).total_seconds() == 3600


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


def test_incremental_triples_stream(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus")
    out_dir = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "ckpt")
    c = corpus_df(spark, n_repos=2)
    c.write.mode("overwrite").parquet(corpus_dir)

    q = incremental_triples(
        stream_corpus(spark, corpus_dir), out_dir, ckpt, available_now=True
    )
    q.awaitTermination(240)
    got = spark.read.parquet(out_dir)
    from powerbi_ontology_extractor_spark.pipeline import build_triples

    expected = build_triples(c).count()
    assert got.count() == expected
    assert "batch_id" in got.columns

    # second AvailableNow run over the same data: checkpoint makes it a
    # no-op (exactly-once)
    q2 = incremental_triples(
        stream_corpus(spark, corpus_dir), out_dir, ckpt, available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == expected


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


def test_sessionize_stateful_matches_batch(spark, sf_dir, tmp_path):
    """Parity: the applyInPandasWithState gap sessionizer must emit
    exactly the sessions the batch (lag + cumsum) twin computes on the
    bench events table — minus each user's final session, which stays
    open in the stream and is only closed by the processing-time
    timeout (never fired under a single availableNow batch)."""
    from pyspark.sql.window import Window

    from powerbi_ontology_extractor_spark.streaming.ingest import (
        sessionize_stream,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "value"
    )

    def norm(df):
        return {
            (
                r["user_id"],
                r["start_epoch"],
                r["end_epoch"],
                r["n_events"],
                round(r["total_value"], 4),
            )
            for r in df.select(
                "user_id",
                F.unix_timestamp("session_start").alias("start_epoch"),
                F.unix_timestamp("session_end").alias("end_epoch"),
                F.col("n_events").cast("long").alias("n_events"),
                "total_value",
            ).collect()
        }

    batch = sessionize_batch(events)
    w = Window.partitionBy("user_id")
    expected_df = batch.withColumn(
        "_max_start", F.max("session_start").over(w)
    ).where(F.col("session_start") != F.col("_max_start"))
    expected = norm(expected_df)
    assert len(expected) > 0  # the fixture has multi-session users

    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_parity")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # ProcessingTimeTimeout keeps the query alive waiting for state
    # timeouts even after availableNow drained the input, so neither
    # awaitTermination nor processAllAvailable returns promptly — poll
    # the sink for the expected emission count, then stop explicitly
    import time

    deadline = time.time() + 240
    while (
        time.time() < deadline
        and spark.table("sess_parity").count() < len(expected)
    ):
        time.sleep(2)
    got = norm(spark.table("sess_parity"))
    q.stop()

    assert got == expected


def test_sessionize_event_time_shuffled_replay(spark, sf_dir, tmp_path):
    """Event-time parity under a scrambled-arrival replay (round-4
    verdict item 6): the EventTimeTimeout sessionizer must emit EXACTLY
    the batch twin's sessions — all of them, final ones included —
    no matter how arrival order is shuffled across micro-batches,
    because sessions close on the watermark, not wall-clock.  Files are
    hash-chunked (each micro-batch mixes early and late events) and two
    sentinel files advance the watermark past every last_event + gap,
    then trigger the timeout sweep."""
    import os
    import shutil
    import time

    from powerbi_ontology_extractor_spark.streaming.ingest import (
        sessionize_stream_event_time,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        # watermarks require TIMESTAMP (the parquet column is NTZ)
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    bounds = events.agg(
        F.min(F.unix_timestamp("ts")).alias("lo"),
        F.max(F.unix_timestamp("ts")).alias("hi"),
    ).first()
    gap_minutes = 30
    delay_s = int(bounds["hi"] - bounds["lo"]) + gap_minutes * 60 + 60

    def norm(df):
        return {
            (
                r["user_id"],
                r["start_epoch"],
                r["end_epoch"],
                r["n_events"],
                round(r["total_value"], 4),
            )
            for r in df.select(
                "user_id",
                F.unix_timestamp("session_start").alias("start_epoch"),
                F.unix_timestamp("session_end").alias("end_epoch"),
                F.col("n_events").cast("long").alias("n_events"),
                "total_value",
            ).collect()
        }

    expected = norm(sessionize_batch(events, gap_minutes))
    assert len(expected) > 0

    # hash-chunk the events: every chunk holds a mix of early and late
    # event times, so per-batch arrival order is thoroughly scrambled
    n_chunks = 4
    chunked = events.withColumn(
        "_chunk", F.pmod(F.xxhash64("user_id", "ts"), F.lit(n_chunks))
    )
    src = tmp_path / "events_shuffled"
    src.mkdir()
    staging = tmp_path / "staging"
    sentinel_ts = bounds["hi"] + delay_s + gap_minutes * 60 + 10
    t0 = time.time()

    def place(df, idx):
        d = str(staging / f"c{idx}")
        df.coalesce(1).write.parquet(d)
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = src / f"{idx:02d}.parquet"
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (t0 + idx, t0 + idx))  # strict mtime order:
        # sentinels MUST arrive last or the watermark drops real events

    for i in range(n_chunks):
        place(chunked.where(F.col("_chunk") == i).drop("_chunk"), i)
    sentinel = spark.createDataFrame(
        [(-999, sentinel_ts, 0.0)], "user_id long, epoch long, value double"
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"), "value")
    place(sentinel, n_chunks)      # advances the watermark
    sentinel2 = sentinel.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND"))
    place(sentinel2, n_chunks + 1)  # fires the timeout sweep

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionize_stream_event_time(
            stream, gap_minutes=gap_minutes, watermark=f"{delay_s} seconds"
        )
        .writeStream.format("memory")
        .queryName("sess_event_time")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {t for t in norm(spark.table("sess_event_time")) if t[0] != -999}
    q.stop()

    assert got == expected
