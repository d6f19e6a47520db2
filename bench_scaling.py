#!/usr/bin/env python
"""Scaling-efficiency evidence for the north rule: the same KG job at
two CLUSTER SIZES — N vs 4N executors — on the same input.

The sandbox has no real cluster, so executors are emulated with
Spark's ``local-cluster[n_executors, cores, mem]`` master: every
executor is its own JVM process (matching multi-executor memory and
scheduling behavior far better than ``local[n]`` threads — single-JVM
thread counts >4 on this box suffer severe shared-cache contention).
The engine zip is shipped via ``addPyFile`` — the same artifact
``spark-submit --py-files dist/pbi_kg.zip`` would distribute.

efficiency = (throughput_4N / throughput_N) / 4

Each measurement is a fresh driver+executor process tree; levels are
interleaved and min-of-k is reported (the host is noisy).
Prints one JSON line; ``--update-bench`` rewrites BENCH.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))

WORKER = r"""
import json, sys, time, os
sys.path.insert(0, os.environ["PBI_KG_REPO"])
from pyspark.sql import SparkSession

n_exec = int(sys.argv[1]); corpus_path = sys.argv[2]
cores_per_exec = int(os.environ.get("PBI_KG_EXEC_CORES", "1"))
mem_mb = int(os.environ.get("PBI_KG_EXEC_MEM_MB", "6144"))
# Shuffle sizing (identical at BOTH cluster sizes): the flagship's one
# exchange is the full-row set-dedup (~760 MB at 36k repos); its hash
# tables must fit in cache, not DRAM.  With n_exec*2 partitions the
# final aggregate ran 8 tasks x ~780 MB tables — DRAM-random-access
# that the executors contend on (measured: 4-exec emission 90.7 s).
# 64 partitions x ~12 MB advisory-coalesced tables are cache-resident
# (measured: 4-exec wall 135.7 -> 99.2 s; 1-exec unchanged).  On a real
# cluster this is the standard  partitions ≈ shuffle_bytes / ~16 MB
# sizing rule.
shuffle_parts = os.environ.get("PBI_KG_SHUFFLE_PARTS", "64")
advisory = os.environ.get("PBI_KG_ADVISORY_PART_BYTES", "16m")
spark = (
    SparkSession.builder
    .master(f"local-cluster[{n_exec},{cores_per_exec},{mem_mb}]")
    .appName(f"scaling-{n_exec}x")
    .config("spark.sql.shuffle.partitions", shuffle_parts)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
# ship the engine exactly as spark-submit --py-files would
spark.sparkContext.addPyFile(os.path.join(os.environ["PBI_KG_REPO"], "dist", "pbi_kg.zip"))
from powerbi_ontology_extractor_spark.pipeline import build_triples
from powerbi_ontology_extractor_spark.sources.corpus import corpus_df

build_triples(corpus_df(spark, n_repos=4, num_partitions=4)).count()  # warm codegen
corpus = spark.read.parquet(corpus_path)
t0 = time.perf_counter()
n = build_triples(corpus).count()
wall = time.perf_counter() - t0
print(json.dumps({"executors": n_exec, "cores_per_exec": cores_per_exec,
                  "triples": n, "wall_sec": round(wall, 3),
                  "triples_per_sec": round(n / wall, 1)}))
spark.stop()
"""


def _ensure_corpus(n_repos: int, partitions: int) -> str:
    # partitioned by lang: the pipeline scans the corpus once per
    # artifact kind (model/dax/m/report/sidecar), and lang rows
    # interleave per repo — without the partition, every `lang =`
    # filter re-reads the whole content column.  This is the cluster
    # layout read_corpus documents (Iceberg partition/metadata pruning
    # on lang).
    path = f"/tmp/pbi_kg_scaling_corpus_bylang_{n_repos}_{partitions}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "from powerbi_ontology_extractor_spark import get_spark\n"
        "from powerbi_ontology_extractor_spark.sources.corpus import corpus_df\n"
        "spark = get_spark(parallelism=8)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "corpus_df(spark, n_repos=%d, num_partitions=%d)"
        ".write.mode('overwrite').partitionBy('lang').parquet(%r)\n"
        % (REPO, n_repos, partitions, path)
    )
    subprocess.run([sys.executable, "-c", script], check=True, cwd=REPO,
                   capture_output=True)
    return path


def _run_once(n_exec: int, corpus_path: str) -> dict:
    env = dict(os.environ, PBI_KG_REPO=REPO)
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(n_exec), corpus_path],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_repos = int(os.environ.get("SPARK_GRAFT_SCALING_REPOS", "6000"))
    n_lo = int(os.environ.get("SPARK_GRAFT_SCALING_LO_EXEC", "1"))
    n_hi = int(os.environ.get("SPARK_GRAFT_SCALING_HI_EXEC", "4"))
    trials = int(os.environ.get("SPARK_GRAFT_SCALING_TRIALS", "3"))
    # rebuild the zip every run: a stale one would ship old engine code
    subprocess.run(["sh", os.path.join(REPO, "make_pyfiles.sh")], check=True)
    corpus_path = _ensure_corpus(n_repos, partitions=32)

    lo_runs, hi_runs = [], []
    for _ in range(trials):
        lo_runs.append(_run_once(n_lo, corpus_path))
        hi_runs.append(_run_once(n_hi, corpus_path))
    lo = min(lo_runs, key=lambda r: r["wall_sec"])
    hi = min(hi_runs, key=lambda r: r["wall_sec"])
    lo["trials"] = [r["wall_sec"] for r in lo_runs]
    hi["trials"] = [r["wall_sec"] for r in hi_runs]
    speedup = hi["triples_per_sec"] / lo["triples_per_sec"]
    efficiency = speedup / (n_hi / n_lo)
    result = {
        "metric": "scaling_efficiency",
        "value": round(efficiency, 3),
        "unit": "ratio",
        "n_repos": n_repos,
        "lo": lo,
        "hi": hi,
        "speedup": round(speedup, 2),
        "target": 0.8,
    }
    print(json.dumps(result))
    if "--append-history" in sys.argv:
        with open(os.path.join(REPO, "BENCH_SCALING_HISTORY.jsonl"), "a") as f:
            f.write(json.dumps(result) + "\n")
    if "--update-bench" in sys.argv:
        _write_bench_md(result)


def _write_bench_md(r: dict) -> None:
    lo, hi = r["lo"], r["hi"]
    md = f"""## Scaling efficiency (north-rule evidence)

Same job (`build_triples` over a {r['n_repos']}-repo synthetic corpus,
{r['n_repos'] * 13} artifacts), same parquet input, two cluster sizes.
Executors are separate JVM processes via ``local-cluster[n, {lo['cores_per_exec']},
mem]`` (the sandbox stand-in for N vs 4N executors); the engine ships
to executors as ``dist/pbi_kg.zip`` (the ``spark-submit --py-files``
artifact). Min of {len(lo['trials'])} interleaved fresh-process trials
(noisy shared host; all trials listed).

| cluster size | wall (s) | trials (s) | triples | triples/s |
|---|---|---|---|---|
| {lo['executors']} executor(s) × {lo['cores_per_exec']} cores | {lo['wall_sec']} | {lo['trials']} | {lo['triples']} | {lo['triples_per_sec']} |
| {hi['executors']} executor(s) × {hi['cores_per_exec']} cores | {hi['wall_sec']} | {hi['trials']} | {hi['triples']} | {hi['triples_per_sec']} |

speedup {lo['executors']}→{hi['executors']} executors: **{r['speedup']}×** of 4× ideal →
**scaling efficiency {r['value']}** (target ≥ 0.8).
"""
    path = os.path.join(REPO, "BENCH.md")
    head = "# BENCH — engine throughput vs BASELINE.md"
    if os.path.exists(path):
        with open(path) as f:
            head = f.read().split("## Scaling efficiency")[0].rstrip()
    with open(path, "w") as f:
        f.write(head + "\n\n" + md)


if __name__ == "__main__":
    main()
