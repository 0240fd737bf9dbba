"""Enrichment tables — VRL's host-side enrichment semantics made
relational.

The reference defines the CONTRACT (the `Function` trait plugin
surface, src/compiler/function.rs:25-90; Vector's enrichment tables
implement find_table_row with key equality, case-insensitive option,
and date-range conditions). Spark lowering:

- `find_table_row`  -> broadcast LEFT join, FIRST match wins
  (deterministic: lowest dim order), optional case-insensitive keys,
  optional ``between`` date-range condition.

Scale contract: the fact stream is NEVER shuffled, windowed, or
sorted. First-match-wins is resolved INSIDE the (small) broadcast
dim: dim rows are pre-grouped per equality key into an ordered array
of candidate structs, the join is a plain broadcast equi-join (no
fan-out — one dim row per key after grouping), and the winning
candidate is picked per fact row with ``F.get(F.filter(...), 0)``.
(The round-1 version windowed over fact_id post-join — a full
fact-stream shuffle at 100 TB.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def find_table_row(
    facts: DataFrame,
    table: DataFrame,
    on: list[tuple[str, str]],
    order_col: str,
    case_insensitive: bool = False,
    date_range: tuple[str, str, str] | None = None,
) -> DataFrame:
    """Left-join ``table`` onto ``facts`` with first-match-wins.

    on: [(fact_col, dim_col), ...] equality conditions (non-empty).
    order_col: dim column defining "first" (table order in Vector).
    date_range: (fact_ts_col, dim_from_col, dim_to_col) inclusive.

    Output schema: all fact columns, then all dim columns (NULL on
    miss), exactly like a deduplicated broadcast left join.
    """
    dim_cols = table.columns
    dim = table.withColumn("_dim_order", F.col(order_col))

    # Group the dim per (normalized) key into an ordered candidate
    # array. sort_array on structs compares field-by-field, so putting
    # _dim_order first gives a total order = Vector's table order.
    keys = []
    for i, (_, dc) in enumerate(on):
        k: Column = F.col(dc)
        if case_insensitive:
            k = F.lower(k)
        keys.append(k.alias(f"_k{i}"))
    cand = F.struct(F.col("_dim_order"), *[F.col(c) for c in dim_cols])
    grouped = dim.groupBy(*keys).agg(
        F.sort_array(F.collect_list(cand)).alias("_cands")
    )

    cond = None
    for i, (fc, _) in enumerate(on):
        lhs: Column = F.col(fc)
        if case_insensitive:
            lhs = F.lower(lhs)
        c = lhs == F.col(f"_k{i}")
        cond = c if cond is None else cond & c

    joined = facts.join(F.broadcast(grouped), cond, "left")

    cands = F.col("_cands")
    if date_range is not None:
        ts, lo, hi = date_range
        ts_col = F.col(ts)
        hit = F.get(
            F.filter(cands, lambda r: ts_col.between(r[lo], r[hi])), F.lit(0)
        )
    else:
        hit = F.get(cands, F.lit(0))

    # Generate barrier: bind the chosen candidate once, then project
    # its fields as cheap attribute reads (see functions/parse.materialize).
    from vrl_spark.functions.parse import materialize

    step = materialize(joined, _hit=hit).drop(
        "_cands", *[f"_k{i}" for i in range(len(on))]
    )
    return step.select(
        "*", *[F.col("_hit").getField(c).alias(c) for c in dim_cols]
    ).drop("_hit")
