"""Trained text-quality classifier: hashed n-gram features + in-Spark
full-batch logistic regression (the CCNet/fastText-style model-based
quality gate next to the hand-rule ``textstats.gopher_rules``).

VRL itself ships no trainable model — this belongs to the LLM
training-data operator family the engine adds on top of the
reference's transform semantics. The design follows the published
fastText/CCNet recipe (hashed bag-of-ngrams -> linear model):

- Features are HASHED: each word unigram/bigram maps to one of
  ``num_buckets`` ids, so the model is a fixed-width weight vector and
  the feature space never needs a vocabulary shuffle. The hash is
  md5-derived (DuckDB-portable, what oracles pin), like the minhash
  family.
- Feature VALUES are gram counts normalized by the doc's gram total.
  Linearity makes scoring a pure map-side fold: margin =
  sum_grams w[bucket(g)] / total + bias — NO per-doc bucket-count
  shuffle exists anywhere in scoring.
- Training is deterministic full-batch gradient descent on logistic
  loss (+L2): no sampling, no row-order dependence beyond float-sum
  reordering (rounded away by callers at 1e-6). A seed-sized labeled
  set trains on the driver; a larger one runs one Spark job per
  epoch, and the per-doc margins ride a 1-row broadcast crossJoin of
  the weight array.

Scale shape (the 100 TB contract): the labeled training set is
seed-sized by nature (you label thousands, not billions) — each epoch
is one pass over it with partial aggregation collapsing every task to
<= D+1 gradient cells before the wire. Scoring the full corpus is
map-only: broadcast D+1 weights, fold each doc's grams, zero shuffles,
zero Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vrl_spark.functions.parse import bind

# labeled sets up to this many rows train on the driver
DRIVER_ROWS_MAX = 100_000


def _grams(text: Column) -> Column:
    """The classifier/DSIR feature grams for a text column: word
    unigrams + adjacent bigrams, whitespace-tokenized lowercase (the
    repo-wide tokenization), as one array<string>."""

    def body(toks: Column) -> Column:
        bigrams = F.when(
            F.size(toks) >= 2,
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(toks, bigrams)

    return bind(F.split(F.lower(F.trim(text)), r"\s+"), body)


def _md5_buckets_udf(num_buckets: int):
    """Arrow-batched md5 bucket hashing over a gram array: a gram's
    bucket is ``conv(substring(md5(g), 1, 15), 16, 10) % D`` (the
    first 15 hex chars are the digest's first 60 bits, i.e. bytes[0:8]
    as a big-endian int shifted right 4; DuckDB replica:
    ``CAST(concat('0x', substr(md5(g),1,15)) AS BIGINT) % D``). The
    interpreted per-gram md5+conv JVM transform was the dominant cost
    of every featurize pass (guide §4.2)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def bks(grams_ser: pd.Series) -> pd.Series:
        import hashlib

        md5 = hashlib.md5
        out = []
        for grams in grams_ser:
            if grams is None:
                out.append(None)
                continue
            out.append([
                (int.from_bytes(md5(g.encode("utf-8")).digest()[:8],
                                "big") >> 4) % num_buckets
                for g in grams
            ])
        return pd.Series(out)

    return bks


def featurize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str | None = None,
    num_buckets: int = 128,
) -> DataFrame:
    """(id, [y], bks array<long>, total double) — the compact per-doc
    feature form both training and scoring fold over. ``total`` is the
    gram count (>= 1 always: even empty text yields one '' unigram),
    so count-normalization never divides by zero.

    NULL-text rows are DROPPED (no features -> no score): scoring
    them via a coalesced '' would hand garbage docs a hash-collision-
    determined probability that can pass quality gates, and the
    DuckDB oracle lane (unnest over a NULL token list) emits no row
    for them either."""
    from vrl_spark.functions.parse import materialize

    # the gram array crosses a materialize barrier so the UDF receives
    # a plain attribute and the tokenization runs once per row
    base = materialize(
        df.where(F.col(text_col).isNotNull()), _grams=_grams(F.col(text_col))
    )
    bks = _md5_buckets_udf(num_buckets)(F.col("_grams"))
    cols = [F.col(id_col), bks.alias("bks")]
    if label_col is not None:
        cols.insert(1, F.col(label_col).cast("double").alias("y"))
    out = base.select(*cols)
    return out.withColumn("total", F.size("bks").cast("double"))


def weight_array(
    weights: DataFrame, num_buckets: int | None = None
) -> DataFrame:
    """Fold the (bucket, weight) frame into ONE row holding the dense
    weight array indexed BY BUCKET ID (bias = the highest bucket id,
    in the last slot). Broadcast-crossJoined into per-doc scoring —
    the collect-free scalar pattern. Built by bucket-id lookup, not
    sort position, so a sparse frame (zero-weight FEATURE buckets
    missing) scores correctly with 0.0 holes instead of silently
    shifting every weight down. The bias row must be present — it is
    what sizes the array (the bucket-id space is not otherwise
    recoverable from a sparse frame) — and an EMPTY frame raises at
    evaluation rather than scoring every document NULL. Pass
    ``num_buckets`` to also ENFORCE the bucket space: a frame whose
    max bucket differs (bias row filtered away, or weights trained
    under a different width) raises instead of silently misreading
    the top feature weight as the bias."""
    bad = F.col("_mx").isNull()
    msg = "empty weights frame: nothing to score with"
    if num_buckets is not None:
        bad = bad | (F.col("_mx") != num_buckets)
        msg = (
            "empty weights frame or bucket-space mismatch: expected "
            f"bias at bucket {num_buckets} (bias row filtered out, or "
            "trained with a different num_buckets?)"
        )
    return weights.groupBy().agg(
        F.map_from_arrays(
            F.collect_list("bucket"), F.collect_list("weight")
        ).alias("_m"),
        F.max("bucket").alias("_mx"),
    ).select(
        F.when(
            bad,
            F.raise_error(msg),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.col("_mx")),
                lambda i: F.coalesce(
                    F.try_element_at(F.col("_m"), i), F.lit(0.0)
                ),
            )
        ).alias("w_arr")
    )


def bucket_sum(bks: Column, w_arr: Column) -> Column:
    """Map-side fold of gram buckets through a dense weight array
    (shared by the classifier margin and dsir importance scoring).
    Feature lookups are hard-bounded BELOW the bias slot: a bucket id
    at/beyond the frame's bias row (mismatched num_buckets) reads 0.0
    — never the bias, never an ANSI INVALID_ARRAY_INDEX task
    failure."""
    return F.aggregate(
        bks,
        F.lit(0.0),
        lambda a, b: F.when(
            (b + 1).cast("int") < F.size(w_arr),
            a + F.coalesce(
                F.try_element_at(w_arr, (b + 1).cast("int")), F.lit(0.0)
            ),
        ).otherwise(a),
    )


def _margin(bks: Column, total: Column, w_arr: Column) -> Column:
    """Map-side margin: fold the gram buckets through the weight
    array, normalize by the gram total, add the bias (last slot)."""
    return bucket_sum(bks, w_arr) / total + F.element_at(w_arr, F.size(w_arr))


def train_logistic(
    feats: DataFrame,
    num_buckets: int = 128,
    epochs: int = 3,
    lr: float = 5.0,
) -> DataFrame:
    """Full-batch logistic GD over a featurized frame (must carry
    ``y``). Returns the (bucket, weight) frame — ``num_buckets`` + 1
    rows, bias at bucket id ``num_buckets``.

    w <- w - lr * sum_docs (sigmoid(margin) - y) * x / n

    with x_b = cnt_b / total. Deterministic: zero init, no sampling;
    the only cross-run wobble is float-sum ordering (~1e-15), which
    callers round away. Eager: ONE Spark job per epoch — a single
    gradient aggregation whose result is the (<= D+1)-row gradient
    vector, pulled to the driver (the sanctioned vocab-sized model
    pull: its size is num_buckets regardless of corpus size). The
    weight vector lives driver-side between epochs and enters the
    per-doc margin as an array literal, so an epoch plans NO join,
    NO broadcast build, and NO checkpoint job. (The earlier shape
    computed the residual subtree TWICE per epoch — once under the
    feature-gradient groupBy and once under a separate bias
    aggregation — and spent two more jobs on the weight-frame
    broadcast + checkpoint; the merged aggregation folds the bias
    cell in as bucket id ``num_buckets``.)"""
    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    spark = feats.sparkSession
    feats = feats.localCheckpoint()  # re-read every epoch + final score
    n_train = feats.count()
    if n_train == 0:
        raise ValueError("train_logistic needs a non-empty training set")
    if n_train <= DRIVER_ROWS_MAX:
        # fastText-sized fast path: the labeled set is seed-sized by
        # the module contract (thousands of rows regardless of corpus
        # size), so pull the featurized frame ONCE and run every GD
        # epoch vectorized on the driver — a distributed epoch costs
        # a full plan-compile + job (~0.5 s) to aggregate a few
        # hundred gradient cells. Accumulation order is kept
        # fold-identical: np.add.reduceat / np.add.at accumulate
        # strictly in-order (not pairwise), so margins match the JVM
        # per-doc fold double-for-double and the gradient sums stay
        # inside the same 1e-15 reorder wobble class as before.
        # Corpora labeled beyond ``DRIVER_ROWS_MAX`` take the
        # distributed epoch loop below.
        return _train_logistic_driver(
            spark, feats, n_train, num_buckets, epochs, lr
        )
    w = [0.0] * (num_buckets + 1)
    for _ in range(epochs):
        # the epoch's weights enter as a 1-row LOCAL relation: its
        # broadcast builds driver-side with no Spark job, and —
        # unlike a literal array, whose changing values would force a
        # fresh whole-stage-codegen compile every epoch — the
        # generated code is identical across epochs, so the codegen
        # cache hits and an epoch pays only its single gradient job
        warr = spark.createDataFrame([(w,)], "w_arr array<double>")
        resid = feats.crossJoin(F.broadcast(warr)).select(
            "bks", "total",
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(
                    -_margin(F.col("bks"), F.col("total"), F.col("w_arr"))
                ))
                - F.col("y")
            ).alias("r"),
        )
        # gradient at gram grain: each gram contributes resid/total to
        # its bucket, plus one bias cell (bucket = num_buckets) worth
        # resid per doc; partial aggregation collapses every task to
        # <= D+1 cells before the wire
        grad_rows = resid.select(
            F.explode(
                F.concat(
                    F.col("bks"),
                    F.array(F.lit(num_buckets).cast("long")),
                )
            ).alias("bucket"),
            F.col("r"),
            F.col("total"),
        ).select(
            "bucket",
            F.when(
                F.col("bucket") == num_buckets, F.col("r")
            ).otherwise(F.col("r") / F.col("total")).alias("g"),
        ).groupBy("bucket").agg((F.sum("g") / n_train).alias("g")).collect()
        for row in grad_rows:
            b = int(row["bucket"])
            w[b] = w[b] - lr * row["g"]
    return spark.createDataFrame(
        [(b, wv) for b, wv in enumerate(w)], "bucket long, weight double"
    )


def _train_logistic_driver(
    spark, feats, n_train: int, num_buckets: int, epochs: int,
    lr: float,
) -> DataFrame:
    """Driver-side vectorized epochs over the collected seed-sized
    feature frame (see train_logistic's fast-path note)."""
    import numpy as np

    pdf = feats.select("y", "bks", "total").toPandas()
    lens = np.fromiter((len(b) for b in pdf["bks"]), dtype=np.int64,
                       count=len(pdf))
    if (lens == 0).any():
        # featurize guarantees total >= 1 ('' still yields one
        # unigram); a foreign frame without that invariant would break
        # the reduceat segment math — refuse rather than miscompute
        raise ValueError(
            "train_logistic: empty bks array (featurize contract "
            "guarantees >= 1 gram per row)"
        )
    flat = np.concatenate([np.asarray(b, dtype=np.int64)
                           for b in pdf["bks"]])
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    totals = pdf["total"].to_numpy(dtype=np.float64)
    ys = pdf["y"].to_numpy(dtype=np.float64)
    bias_idx = np.full(len(lens), num_buckets, dtype=np.int64)
    # out-of-space bucket ids read 0.0 (bucket_sum's hard bound below
    # the bias slot); mask them out of gather/scatter entirely
    valid = flat < num_buckets
    w = np.zeros(num_buckets + 1, dtype=np.float64)
    for _ in range(epochs):
        gathered = np.where(valid, w[np.minimum(flat, num_buckets)], 0.0)
        sums = np.add.reduceat(gathered, starts)
        margins = sums / totals + w[num_buckets]
        r = 1.0 / (1.0 + np.exp(-margins)) - ys
        grad = np.zeros(num_buckets + 1, dtype=np.float64)
        np.add.at(grad, flat[valid],
                  np.repeat(r / totals, lens)[valid])
        np.add.at(grad, bias_idx, r)
        g = grad / n_train
        w -= lr * g
    return spark.createDataFrame(
        [(b, float(wv)) for b, wv in enumerate(w)],
        "bucket long, weight double",
    )


def score(
    feats: DataFrame,
    weights: DataFrame,
    out_col: str = "prob",
    num_buckets: int | None = None,
) -> DataFrame:
    """feats + sigmoid quality probability. Map-only: one 1-row
    broadcast crossJoin of the weight array, then a per-doc JVM fold —
    no shuffle, no Python. Pass ``num_buckets`` (the width the feats
    were hashed with) to fail loudly on a weights frame from a
    different bucket space instead of scoring through 0.0 holes."""
    warr = weight_array(weights, num_buckets)
    return feats.crossJoin(F.broadcast(warr)).withColumn(
        out_col,
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-_margin(F.col("bks"), F.col("total"), F.col("w_arr")))),
    ).drop("w_arr")


def quality_classifier(
    df: DataFrame,
    labeled: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    num_buckets: int = 128,
    epochs: int = 3,
    lr: float = 5.0,
) -> DataFrame:
    """Train on ``labeled`` (text + 0/1 label), score every row of
    ``df``. Returns (id_col, prob)."""
    tr = featurize(labeled, text_col, id_col, label_col, num_buckets)
    weights = train_logistic(tr, num_buckets, epochs, lr)
    sc = featurize(df, text_col, id_col, None, num_buckets)
    return score(sc, weights, num_buckets=num_buckets).select(id_col, "prob")
