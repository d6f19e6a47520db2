"""Wide fuzz-parity sweep: seeded-random models 0..N-1 through the
LIVE reference exporter (tests/reference_harness) vs the engine's
triple build; prints any divergent seed.

This is the heavyweight sibling of tests/test_reference_fuzz.py (which
pins 12 seeds in the default suite): run it when the emission grammar
or the DAX regexes change.  Round-5 record: 150 seeds, 0 divergences,
0 reference crashes (~13.5 min on local[8]).

Usage:  python examples/fuzz_sweep.py [N]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from tests.parity_cases import engine_model_set, mask_date
from tests.reference_harness import reference_triples
from tests.test_reference_fuzz import _random_model

N = int(sys.argv[1]) if len(sys.argv) > 1 else 150

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

os.makedirs("/tmp/fuzzsweep", exist_ok=True)
bad = []
t0 = time.time()
for seed in range(N):
    model = _random_model(seed)
    pbix = f"/tmp/fuzzsweep/f{seed}.pbix"
    try:
        ref, _ = reference_triples(model, pbix)
    except Exception as ex:  # reference itself crashed on this model
        print(f"seed {seed}: REFERENCE RAISED {type(ex).__name__}: {ex}")
        continue
    ref = mask_date(ref)
    eng = engine_model_set(spark, json.dumps(model), pbix)
    if ref != eng:
        bad.append(seed)
        print(f"seed {seed}: DIVERGED  missing={sorted(ref - eng)[:6]} "
              f"extra={sorted(eng - ref)[:6]}")
    if seed % 25 == 24:
        print(f"... {seed + 1}/{N} done ({time.time() - t0:.0f}s)", flush=True)

print(f"SWEEP DONE: {N} seeds, divergent: {bad}")
spark.stop()
