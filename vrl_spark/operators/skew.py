"""Explicit skew handling (north_rule: "partitioning / shuffle / skew
handled explicitly").

``salted_agg``, composable with AQE's runtime skew splitting, is
two-phase aggregation for skewed group keys. Phase 1 aggregates on
(key, salt) — the hot key fans out over ``salt_buckets`` reducers;
phase 2 merges the partials on key alone. Phase 2 moves only
``buckets`` rows per key, so the hot key can no longer pin a single
reducer. Works for any algebraic aggregate (sum/count/min/max; avg via
sum+count).

The pages host distribution is the test skew: 40% of rows share one
host (sources/pages.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs``: out_name -> (fn, col) with fn in {count, sum, min, max}.
    The result is EXACTLY equal to the plain groupBy (checked by the
    dedicated oracle query) — salting changes the shuffle shape only.
    """
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(buckets))
    partial_aggs = []
    final_aggs = []
    for out, (fn, col) in aggs.items():
        p = f"_p_{out}"
        if fn == "count":
            partial_aggs.append(F.count(F.lit(1) if col == "*" else F.col(col)).alias(p))
            final_aggs.append(F.sum(p).alias(out))
        elif fn == "sum":
            partial_aggs.append(F.sum(col).alias(p))
            final_aggs.append(F.sum(p).alias(out))
        elif fn == "min":
            partial_aggs.append(F.min(col).alias(p))
            final_aggs.append(F.min(p).alias(out))
        elif fn == "max":
            partial_aggs.append(F.max(col).alias(p))
            final_aggs.append(F.max(p).alias(out))
        else:
            raise ValueError(f"non-algebraic aggregate {fn!r} can't be salted")
    phase1 = df.withColumn("_salt", salt).groupBy(*key_cols, "_salt").agg(*partial_aggs)
    return phase1.groupBy(*key_cols).agg(*final_aggs)
