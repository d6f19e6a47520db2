"""The one bounded hot-key collect: salted two-phase capped lists.

AQE's skew-join splitting covers joins, but a `groupBy` on a hot key
(every dashboard defining "Total Sales"; a boilerplate hash in every
document; a degenerate LSH bucket) still funnels one reducer, and an
unbounded `collect_list` holds the whole group in one aggregation
buffer.  Every hot-key collect of the package goes through
:func:`capped_collect`: phase 1 aggregates on (key, salt), the salt
derived from the items themselves — ``pmod(xxhash64(items), SALTS)``,
NOT rand(), so retries and resumes reproduce — and keeps a sorted
slice of ``cap`` per item; phase 2 merges the per-salt slices and
slices again.  The exact group size rides beside the bounded lists as
``n`` ("Every Row Counts", CIDR 2019): counts never depend on the cap.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: phase-1 fan-out of one hot key
SALTS = 16
#: default bound on each collected list
CAP = 10_000


def capped_collect(
    df: DataFrame,
    keys: Sequence[str],
    items: Sequence[str],
    cap: int = CAP,
    distinct: bool = False,
) -> DataFrame:
    """(*keys, n, *items): per key the exact row count ``n`` and, per
    item column, the sorted prefix of at most ``cap`` of its non-null
    values (of its distinct values when ``distinct``).

    The prefix is EXACTLY the single-phase ``slice(array_sort(
    collect_list(item)), 1, cap)``: each of the global ``cap`` smallest
    values is among the ``cap`` smallest of its own salt, so it survives
    phase 1, and the merge slice re-derives the global prefix.  No
    aggregation buffer holds more than max(|group| / SALTS, SALTS × cap)
    values of one item.  An unused ``n`` is pruned by Catalyst."""
    collect = F.collect_set if distinct else F.collect_list
    merge = F.array_distinct if distinct else (lambda c: c)
    partial = (
        df.withColumn("_salt", F.pmod(F.xxhash64(*items), F.lit(SALTS)))
        .groupBy(*keys, "_salt")
        .agg(
            F.count("*").alias("n"),
            *[F.slice(F.array_sort(collect(c)), 1, cap).alias(c) for c in items],
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        *[
            F.slice(F.array_sort(merge(F.flatten(F.collect_list(c)))), 1, cap).alias(c)
            for c in items
        ],
    )
