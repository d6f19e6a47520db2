#!/usr/bin/env python3
"""Benchmark of the KG-construction engine; see perfbench/README.md.

Run from the repository root:

    python3 perfbench/run.py --workload kg_staged --seed 1 --seconds 5 --trace 0

One run: start a Spark session, run the workload's set-up (seeded
inputs, prepared frames, warm-up calls), then run timed iterations for
``--seconds`` (at least one).  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics
plus a span table and a span JSON file under ``perfbench/.cache``.
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
PACKAGE = "powerbi_ontology_extractor_spark"


def metric_units(key: str) -> dict[str, str]:
    """Metric name -> unit, in the order BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


# Per-layer names of the legs, where a leg is one layer's public call.
LEG_LAYERS = {
    "canon_debt": {"leg1": "canonicalize.mapping_s"},
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def peak_rss_mb() -> float:
    """VmHWM of this process plus the JVM it started."""
    me = os.getpid()
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(d)], comm[int(d)] = int(fields[1]), name

    def descends(pid: int) -> bool:
        while pid > 1:
            pid = parent.get(pid, 0)
            if pid == me:
                return True
        return False

    pids = [me] + [p for p in parent if comm[p] == "java" and descends(p)]
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs; for perfbench/selftest.py only")
    return p.parse_args(argv)


def prepare_environment() -> str:
    """Keep every file the run writes inside the checkout, and put the
    package on the path of the driver and its Python workers."""
    tmp = os.path.join(CACHE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path[:0] = [ROOT, HERE]
    return tmp


class Ops:
    """Counts legs attempted and failed; a leg fails when its call
    raises or its output check fails."""

    def __init__(self, n_legs: int):
        self.n_legs = n_legs
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def iteration(self, wl, spark, i, tracer, legs_out: list) -> None:
        self.attempted += self.n_legs
        try:
            with tracer.span(f"iteration {i}"):
                legs, errors = wl.iteration(spark, i, tracer)
        except Exception:  # the run goes on; every leg of it counts as failed
            traceback.print_exc()
            self.failed += self.n_legs
            self.errors.append(f"iteration {i} raised")
            return
        self.failed += len({leg for leg, _ in errors})
        self.errors += [f"iteration {i} {leg}: {e}" for leg, e in errors]
        legs_out.append(legs)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run(args) -> dict:
    from inputs import canary_ok
    from spans import Tracer
    from workloads import LEGS, WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](CACHE, args.seed, args.smoke, max(cores(), 4))
    ops = Ops(len(LEGS))
    load = {"before": loadavg()}

    with tracer.span("session"):
        t = time.perf_counter()
        from powerbi_ontology_extractor_spark import get_spark

        spark = get_spark(app_name="perfbench", parallelism=cores())
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        input_errors = [] if canary_ok() else ["corpus generator output changed"]
        canary_s = time.perf_counter() - t
        with tracer.span("setup"):
            input_errors += wl.setup(spark, tracer)
        # the benchmark's own input and output checks are not set-up cost
        setup_s = time.perf_counter() - _T0 - canary_s - wl.aside_s

        samples: list = []
        start, i = time.perf_counter(), 0
        while True:
            ops.iteration(wl, spark, i, tracer, samples)
            i += 1
            if time.perf_counter() - start >= args.seconds:
                break
        rss = peak_rss_mb()
        metrics: dict[str, float] = {}
        if args.trace:
            with tracer.span("layers"):
                metrics.update(wl.layers(spark, tracer))
    finally:
        stop_spark(spark)
    load["after"] = loadavg()

    ops.errors += input_errors
    if not samples:
        raise SystemExit("perfbench: no iteration completed")
    if args.trace:
        metrics["session.start_s"] = session_s
        for leg, name in LEG_LAYERS.get(wl.name, {}).items():
            metrics[name] = statistics.median(s[leg] for s in samples)
        # tracing overhead = trace.leg1_s here minus leg1_s untraced
        metrics["trace.leg1_s"] = statistics.median(s["leg1"] for s in samples)
        it = {s.id: s.end - s.start for s in tracer.spans if s.name.startswith("iteration ")}
        leg_cover = sum(c.end - c.start for c in tracer.spans if c.parent in it)
        metrics["trace.legs_share"] = leg_cover / sum(it.values())
        # a layer the workload never calls reports 0
        out = {k: {"value": metrics.get(k, 0.0), "unit": u}
               for k, u in metric_units("per_layer").items()}
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        path = os.path.join(
            CACHE, "traces", f"{wl.name}-s{args.seed}-{tracer.run_id}.json")
        tracer.counters.update(metrics)
        tracer.counters["loadavg"] = load
        tracer.dump(path)
        print(tracer.table())
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    else:
        values = {
            "setup_s": setup_s,
            "ops_ok_ratio": (ops.attempted - ops.failed) / max(ops.attempted, 1),
        }
        for leg in LEGS:
            values[f"{leg}_s"] = statistics.median(s[leg] for s in samples)
        out = {k: {"value": values[k], "unit": u}
               for k, u in metric_units("end_to_end").items()}
    for e in ops.errors[:40]:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({"workload": wl.name, "seed": args.seed, "iterations": len(samples),
                      "peak_rss_mb": round(rss, 1), "loadavg": load, "info": wl.info(),
                      "layer_metrics": sorted(metrics)}))
    return {
        "correct": not ops.errors,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": out,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not all(os.path.isfile(os.path.join(ROOT, p)) for p in (
            f"{PACKAGE}/__init__.py", "kg_oracles.py", "BENCHMARK.json")):
        print(f"perfbench: {PACKAGE}/, kg_oracles.py and BENCHMARK.json must be in {ROOT}",
              file=sys.stderr)
        return 2
    tmp = prepare_environment()
    try:
        result = run(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(os.path.join(CACHE, "runs", str(os.getpid())), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
