"""Link-graph analytics for web corpora: PageRank over a host/page
edge list — the canonical iterative web-corpus computation (used for
crawl prioritization and as a quality prior in corpus curation).

Not in the reference (VRL is per-event); this extends the iterative-
DataFrame-loop discipline established by dedup.dedup_clusters:

- per-iteration cost: one equi-join (edges x ranks) + one groupBy(dst)
  — both shuffles on node ids, never on payloads
- shuffles are sized to the edge list (~2M edges per partition) by
  explicit hash repartitions on the join/group keys, so every join
  side is co-partitioned and no exchange falls back to the session's
  corpus-sized ``spark.sql.shuffle.partitions`` (which the loops never
  set: the setting is session-global and would leak into concurrent
  queries)
- ranks are localCheckpoint-ed per iteration (lineage would otherwise
  grow exponentially; on a real cluster use checkpoint() to reliable
  storage)
- per-iteration scalars (PageRank's dangling mass, HITS' L1 totals)
  are folded INTO the plan as 1-row broadcast crossJoins — zero
  driver collects inside the loops; the only per-round action is the
  localCheckpoint materialization itself
- every checkpoint is EAGER: a broadcast build must never be the
  first job to materialize a lazily checkpointed frame. When it is,
  the broadcast-exchange thread and the DAG scheduler take the RDD's
  lock and its checkpoint-data lock in opposite orders, and the JVM
  can deadlock (seen under PageRank's dangling-mass broadcast)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _on_edges(edges, src_col, dst_col, loop_fn) -> DataFrame:
    """Shared iterative-loop harness: the normalized edge list, hash-
    partitioned by ``src`` into a partition count sized to it and
    checkpointed once, is what the loop reads every round."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    parts = int(max(1, min(2048, e.count() // 2_000_000 + 1)))
    return loop_fn(e.repartition(parts, "src").localCheckpoint(), parts)


def _nodes(e: DataFrame, parts: int) -> DataFrame:
    """Every node of the edge list once, hash-partitioned by node."""
    return (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .repartition(parts, "node")
        .distinct()
        .localCheckpoint()
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank) after ``iterations`` synchronous PageRank steps.

    rank'(v) = (1-d)/N + d * (sum over u->v of rank(u)/out(u)
                              + dangling_mass / N)

    Nodes = union of sources and destinations; duplicate edges should
    be deduped by the caller if they are not intended as weights
    (each copy contributes).
    """
    return _on_edges(
        edges, src_col, dst_col,
        lambda e, parts: _pr_loop(e, damping, iterations, parts),
    )


def _pr_loop(e: DataFrame, d: float, iterations: int, parts: int) -> DataFrame:
    # eager checkpoints (see the module docstring): each round's
    # dangling-mass broadcast reads only materialized frames
    nodes = _nodes(e, parts)
    n = nodes.count()
    out_deg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("out")
    ).localCheckpoint()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        # dangling mass as a 1-row broadcast, not a driver collect:
        # the scalar folds into the SAME job the checkpoint runs, so
        # each round is exactly one action and the agg subplan never
        # executes twice
        dangling = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(out_deg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("out")).alias("c"))
            .repartition(parts, "node")
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - d) / n)
                    + d * (F.coalesce(F.col("inflow"), F.lit(0.0))
                           + F.col("_dang") / n)
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def hits(
    edges: DataFrame,
    iterations: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, hub, authority) after ``iterations`` HITS steps
    (Kleinberg), L1-normalized each round (same principal direction
    as the classic L2 variant, but every step is rational arithmetic
    — exactly replicable in the SQL oracle):

        authority'(v) = sum over u->v of hub(u)     (then / L1 sum)
        hub'(v)       = sum over v->u of authority'(u)  (then / L1 sum)

    Same loop discipline as pagerank: two equi-join+groupBy steps per
    iteration, an eager localCheckpoint per round;
    each L1 normalization total rides as a 1-row broadcast crossJoin
    inside the round's single action — no driver collects.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    return _on_edges(
        edges, src_col, dst_col,
        lambda e, parts: _hits_loop(e, iterations, parts),
    )


def _hits_loop(e: DataFrame, iterations: int, parts: int) -> DataFrame:
    # eager checkpoints, as in _pr_loop: each L1-total broadcast
    # reads only materialized frames
    nodes = _nodes(e, parts)
    by_dst = e.repartition(parts, "dst").localCheckpoint()

    def normalized(scores: DataFrame, col: str) -> DataFrame:
        # L1 total as a 1-row broadcast folded into the round's job
        # (zero-sum/empty guard keeps the division defined, as the
        # old driver-side `or 1.0` did)
        total = scores.agg(
            F.coalesce(F.sum(col), F.lit(0.0)).alias("_l1")
        ).select(
            F.when(F.col("_l1") == 0.0, 1.0).otherwise(F.col("_l1")).alias("_l1")
        )
        return scores.crossJoin(F.broadcast(total)).select(
            "node", (F.col(col) / F.col("_l1")).alias(col)
        ).localCheckpoint()

    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    hub = normalized(hub, "hub")
    auth = None
    for _ in range(iterations):
        auth = normalized(
            nodes.join(
                e.join(hub, e["src"] == hub["node"])
                .repartition(parts, "dst")
                .groupBy("dst")
                .agg(F.sum("hub").alias("authority"))
                .withColumnRenamed("dst", "node"),
                "node", "left",
            ).select(
                "node", F.coalesce("authority", F.lit(0.0)).alias("authority")
            ),
            "authority",
        )
        hub = normalized(
            nodes.join(
                by_dst.join(auth, by_dst["dst"] == auth["node"])
                .repartition(parts, "src")
                .groupBy("src")
                .agg(F.sum("authority").alias("hub"))
                .withColumnRenamed("src", "node"),
                "node", "left",
            ).select("node", F.coalesce("hub", F.lit(0.0)).alias("hub")),
            "hub",
        )
    return hub.join(auth, "node").select("node", "hub", "authority")
