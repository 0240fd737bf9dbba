"""As-of (nearest-predecessor) join: attach to each fact row the most
recent dimension row at-or-before its timestamp — the log-pipeline
enrichment VRL's get_enrichment_table_record family can't express
(reference enrichment tables are point/date-range lookups,
src/stdlib/get_enrichment_table_record.rs; an as-of needs ORDER over
the dim's history).

Spark lowering — the scalable shape, NOT a range join:

    union(left tagged 1, right tagged 0)
      -> ONE hash shuffle on the key
      -> ONE sort per partition (ts, tag)
      -> last(payload, ignorenulls) carry-forward window
      -> filter back to left rows

A range-join formulation explodes to |left| x |right-versions| before
picking the max; the carry-forward union is O(|left| + |right|) with a
single Exchange and a single sort that every carried column shares.
Skewed keys sort longer but never replicate rows. DuckDB's native
ASOF JOIN verifies the semantics in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Left as-of join (backward, inclusive): every left row, plus the
    payload of the latest right row with ``right_ts <= left_ts`` for
    the same key — or nulls when no predecessor exists.

    Right payload = every right column that is neither a key nor its
    timestamp; names must not collide with left columns. ``matched_ts``
    reports the matched right row's timestamp. Right rows should be
    unique per (key, ts) — with duplicates the survivor is
    unspecified (same caveat as DuckDB ASOF JOIN).
    """
    payload = [c for c in right.columns if c not in set(on) | {right_ts}]
    clash = [c for c in payload if c in left.columns]
    if clash:
        raise ValueError(f"right payload columns collide with left: {clash}")
    reserved = {"matched_ts", "_ts", "_is_left"}
    taken = reserved & (set(left.columns) | set(right.columns))
    if taken:
        raise ValueError(
            f"columns {sorted(taken)} are reserved by asof_join; rename them"
        )
    if not payload:
        raise ValueError("right side has no payload columns")

    left_extra = [c for c in left.columns if c not in set(on) | {left_ts}]
    l2 = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        *left_extra,
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in payload],
    )
    r2 = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_extra],
        *payload,
    )
    # (ts asc, tag asc): a right row at the exact left timestamp sorts
    # first, so backward-inclusive ties match it
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_ts").asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the matched right ROW as one struct: a right row is
    # non-null as a whole even when a payload FIELD is legitimately
    # NULL, so last(ignorenulls) skips interleaved left rows without
    # also skipping null payload values (which per-column carry would,
    # silently mixing fields from different right rows)
    r_row = F.when(
        F.col("_is_left") == 0,
        F.struct(F.col("_ts").alias("_mts"),
                 *[F.col(c).alias(c) for c in payload]),
    )
    carried = F.last(r_row, ignorenulls=True).over(w)
    out = (
        l2.unionByName(r2)
        .select(*on, "_ts", "_is_left", *left_extra,
                carried.getField("_mts").alias("matched_ts"),
                *[carried.getField(c).alias(c) for c in payload])
        .where(F.col("_is_left") == 1)
        .select(*on, "_ts", *left_extra, "matched_ts", *payload)
    )
    return out.withColumnRenamed("_ts", left_ts)
