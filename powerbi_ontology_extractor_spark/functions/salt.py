"""Explicit skew salting: two-phase aggregation over hot keys.

AQE's skew-join splitting covers joins, but a `groupBy` on a hot key
(every dashboard defining "Total Sales"; one mega-repo with 100× the
measures) still funnels one reducer.  The north rule calls for explicit
salting: phase 1 aggregates on (key, salt) — salt derived from stable
row identity, `pmod(xxhash64(id cols), buckets)` — phase 2 merges the
per-salt partials.  Works for any algebraic aggregate; the analytics
layer salts its hot-key aggregations with ``with_salt``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, id_cols: Sequence[str], buckets: int = 16) -> DataFrame:
    """Deterministic salt column from stable row identity (NOT rand() —
    retries/resumes must reproduce)."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in id_cols]), F.lit(buckets))
    )
