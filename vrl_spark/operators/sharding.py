"""Seeded global shuffle + fixed-size shard assignment — the
last step of a training-data pipeline (reference: vector's sharded
file sink semantics; the permutation itself is standard LLM-pretraining
corpus assembly, not a reference operator).

A training run wants the corpus in a deterministic pseudo-random
order, cut into shards of ~equal token mass, each shard one file.
The permutation key is a salted hash of the document id — a pure
function of (seed, id), so re-runs, repartitioning, and corpus growth
never reorder existing documents relative to each other.

Shard semantics: documents sorted by (perm_key, id); a document whose
tokens start at global offset ``s`` (the cumulative token sum of all
documents before it) belongs to shard ``s // budget``. Every shard
therefore holds ~budget tokens (boundary documents are never split;
a shard can run over by at most one document). This is the scalable
formulation of greedy fixed-size sharding: unlike a sequential
first-fit fold it needs only a prefix sum, which distributes.

Scale path (the whole point): a naive ``Window.orderBy(perm)`` global
cumsum is a SINGLE-TASK funnel. Instead the prefix sum runs in two
passes, the classic distributed-scan shape:

1. bucket each row by the TOP BITS of its permutation key (monotone
   in the key, so bucket order == key order and buckets are
   uniformly sized for a uniform hash);
2. pass A: per-bucket token totals (map-side-combined agg, one tiny
   row per bucket) -> cumulative bucket offsets on that tiny frame
   (a single-task window over n_buckets rows, deliberately) ->
   broadcast back;
3. pass B: within-bucket window cumsum (partitioned by bucket) + the
   broadcast bucket offset = exact global offset.

``shard_pos`` (1-based position within the shard) is a second window
partitioned by ``shard_id`` — one more shuffle, but of uniformly
sized partitions (~budget tokens per shard by construction, no skew
key exists). The tempting alternative — a tiny per-shard min-rank
agg joined back — is WORSE at scale: that DAG branch makes Catalyst
recompute the entire pass-B subtree (scan, shuffle, sort, window)
a second time, because Spark never materializes shared subplans.
A linear chain of compatible windows computes everything once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def permutation_key(col: Column, seed: str) -> Column:
    """Deterministic permutation sort key for a seeded global shuffle:
    the first 15 hex chars of md5(seed|id) as a bigint in [0, 2^60) —
    byte-for-byte replicable in DuckDB/any engine (the same portability
    trick as the minhash family).
    """
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + "|"), col.cast("string"))), 1, 15
        ),
        16, 10,
    ).cast("long")


def _bucket_of(perm: Column, n_buckets: int) -> Column:
    """Range bucket from the permutation key's top bits. Keys are
    60-bit non-negative, so the top bits of 60 are used; the map is
    monotone in the key, which is what makes bucket-then-within-bucket
    ordering equal to the global ordering.
    """
    bits = n_buckets.bit_length() - 1
    return F.shiftright(perm, 60 - bits).cast("long")


def shard_assign(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    seed: str = "shuffle",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Seeded global shuffle + fixed-token-budget shard assignment.

    Returns ``df`` plus ``perm_key`` (the permutation sort key),
    ``shard_id`` (0-based, ~``budget`` tokens per shard) and
    ``shard_pos`` (1-based rank within the shard in permutation
    order). Deterministic: a pure function of
    (seed, id, token counts), so the oracle can pin the exact
    permutation and assignment.

    ``n_buckets`` (power of two) bounds pass-B sort width; size it so
    corpus_rows / n_buckets fits a task's sort buffer (the hash is
    uniform, so buckets are balanced — no skew key exists by
    construction).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_buckets < 2 or n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two >= 2, got {n_buckets}")

    perm = permutation_key(F.col(id_col), seed)
    tok = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    base = df.withColumn("perm_key", perm).withColumn(
        "_bucket", _bucket_of(F.col("perm_key"), n_buckets)
    ).withColumn("_tok", tok)

    # pass A: bucket totals -> cumulative offsets (tiny frame: the
    # single-task window below runs over <= n_buckets rows)
    totals = base.groupBy("_bucket").agg(F.sum("_tok").alias("_btok"))
    w_prev = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_bucket",
        F.coalesce(F.sum("_btok").over(w_prev), F.lit(0)).alias("_off_tok"),
    )

    # pass B: within-bucket cumsum + broadcast offset = global offset
    w_bucket = Window.partitionBy("_bucket").orderBy(
        F.col("perm_key").asc(), F.col(id_col).asc()
    )
    placed = (
        base.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            "_start",
            F.col("_off_tok")
            + F.sum("_tok").over(
                w_bucket.rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("_tok"),
        )
        .withColumn("shard_id", F.floor(F.col("_start") / budget).cast("long"))
    )
    # linear chain, NOT a tiny-agg branch: a branch would recompute
    # the whole pass-B subtree (see module docstring)
    w_shard = Window.partitionBy("shard_id").orderBy(
        F.col("perm_key").asc(), F.col(id_col).asc()
    )
    placed = placed.withColumn(
        "shard_pos", F.row_number().over(w_shard).cast("long")
    )
    return placed.drop("_bucket", "_tok", "_off_tok", "_start")
