"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

Select raw-corpus examples whose hashed-n-gram distribution looks
like a small TARGET corpus: fit bag-of-hashed-ngrams unigram models
over feature buckets on both corpora, weight every raw doc by the
log-likelihood ratio of its grams, and resample with Gumbel-top-k —
sampling without replacement with inclusion probability proportional
to the (exponentiated) importance weights.

The whole recipe is three relational jobs, each 100 TB-shaped:

- :func:`dsir_fit`: two bucket-count aggregations (target + raw)
  left-joined onto the dense bucket range (``num_buckets`` rows —
  tiny), totals as window sums over that joined tiny frame. The only
  corpus-scale work is the two counts, bounded at ``num_buckets``
  cells per task by map-side partial aggregation.
- :func:`dsir_score`: MAP-ONLY — the (bucket, log-ratio) frame folds
  into one broadcast array (classifier's dense-weight pattern) and
  every doc sums its gram lookups in place; the corpus never
  shuffles and no Python runs.
- :func:`dsir_sample`: key = log-weight + Gumbel(md5 fraction);
  top-n lowers to TakeOrderedAndProject per-partition heaps and the
  rank window runs on n rows (same shape as
  sampling.weighted_sample).

Feature space = classifier.featurize (md5-hashed word unigrams +
adjacent bigrams), so a DuckDB oracle replicates every bucket id and the fitted models with two GROUP BYs — see
the dataset_weighted_sample registry vehicle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vrl_spark.operators.classifier import (
    bucket_sum,
    featurize,
    weight_array,
)
from vrl_spark.operators.sampling import hash_frac, top_n_ranked


def dsir_fit(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 128,
    alpha: float = 1.0,
    raw_feats: DataFrame | None = None,
) -> DataFrame:
    """(bucket, weight) log-likelihood-ratio frame:
    ``weight[b] = ln p_target[b] - ln p_raw[b]`` with add-``alpha``
    smoothing over hashed unigram+bigram counts
    (``p[b] = (c_b + alpha) / (total + alpha * num_buckets)``), plus
    the bias row at bucket ``num_buckets`` with weight 0.0 that sizes
    the dense scoring array (classifier.weight_array contract).

    ``raw_feats``: a precomputed ``featurize(...)`` frame of the raw
    pool — callers that also SCORE the raw pool should featurize it
    once, persist/checkpoint it, and pass it to both fit and score;
    otherwise the raw corpus pays the md5 split+hash pass per
    consumer (Spark performs no cross-consumer common-subplan
    elimination). Each corpus's count frame is consumed ONCE here —
    the model totals come from a window sum over the joined
    ``num_buckets``-row frame (counts are integer-valued doubles, so
    the total is exact regardless of summation order), not a second
    agg pass. A precomputed frame hashed into a WIDER bucket space
    raises in-plan (the count frame carries a range guard); a frame
    hashed some other way at the SAME width is undetectable —
    featurize's output is the caller's contract.

    An empty target or raw corpus raises IN-PLAN at first action
    (p would be undefined; a NULL-weight frame would silently score
    every doc NULL). This stays a lazy plan builder — no job runs at
    call time."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    from pyspark.sql import Window

    def counts(feats: DataFrame, name: str, label: str) -> DataFrame:
        grouped = (
            feats.select(F.explode("bks").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("double").alias(name))
        )
        # range guard on the GROUPED frame (<= distinct-bucket rows,
        # not per gram): a precomputed feats frame from a wider
        # bucket space (or with NULL bucket ids — isNull spelled out,
        # a NULL comparison silently takes the otherwise branch)
        # would otherwise silently drop those counts at the bucket
        # join while excluding them from the totals
        bucket = F.col("bucket")
        return grouped.select(
            F.when(
                bucket.isNull() | (bucket < 0) | (bucket >= num_buckets),
                F.raise_error(
                    F.concat(
                        F.lit(f"dsir_fit: {label} feature bucket "),
                        F.coalesce(bucket.cast("string"), F.lit("NULL")),
                        F.lit(
                            f" outside [0, {num_buckets}) — feats "
                            "from a different num_buckets?"
                        ),
                    )
                ).cast("long"),
            ).otherwise(bucket).alias("bucket"),
            F.col(name),
        )

    if raw_feats is None:
        raw_feats = featurize(raw, text_col, id_col, None, num_buckets)
    target_feats = featurize(target, text_col, id_col, None, num_buckets)
    tc = counts(target_feats, "_tc", "target")
    rc = counts(raw_feats, "_rc", "raw")
    spark = target.sparkSession
    buckets = spark.range(num_buckets).select(F.col("id").alias("bucket"))
    # totals as window sums over the joined num_buckets-row frame
    # (single-partition window on <= num_buckets rows — trivial);
    # sum() skips NULLs, so an empty corpus surfaces as a NULL total
    w0 = Window.partitionBy()
    tt, rt = F.sum("_tc").over(w0), F.sum("_rc").over(w0)
    a, b = float(alpha), float(num_buckets)
    ratio = (
        F.log((F.coalesce(F.col("_tc"), F.lit(0.0)) + a) / (tt + a * b))
        - F.log((F.coalesce(F.col("_rc"), F.lit(0.0)) + a) / (rt + a * b))
    )
    weights = (
        buckets.join(tc, "bucket", "left")
        .join(rc, "bucket", "left")
        .select(
            F.col("bucket"),
            F.when(
                tt.isNull() | rt.isNull(),
                F.raise_error(
                    "dsir_fit: empty target or raw corpus — the "
                    "bucket models are undefined"
                ),
            ).otherwise(ratio).alias("weight"),
        )
    )
    bias = spark.range(1).select(
        F.lit(num_buckets).cast("long").alias("bucket"),
        F.lit(0.0).alias("weight"),
    )
    return weights.unionByName(bias)


def dsir_score(
    corpus: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 128,
    feats: DataFrame | None = None,
) -> DataFrame:
    """(id, log_weight) — per-doc importance log-weight
    ``sum_b count_b(x) * weight[b]`` (the log of the paper's product
    of per-gram likelihood ratios). Map-only: one 1-row broadcast
    crossJoin of the dense weight array, then a per-doc JVM fold —
    the corpus never shuffles. ``num_buckets`` must match the space
    the weights were fitted in (enforced loudly by the weight-array
    fold). NULL-text docs are dropped (featurize contract).
    ``feats``: a precomputed featurize frame (see dsir_fit) —
    validated in-plan against the bucket range (bucket_sum's bounded
    lookup would otherwise silently read 0.0 for every out-of-range
    feature of a wider-space frame); a same-width frame hashed some
    other way is undetectable and the caller's contract."""
    provided = feats is not None
    if feats is None:
        feats = featurize(corpus, text_col, id_col, None, num_buckets)
    warr = weight_array(weights, num_buckets)
    bks = F.col("bks")
    if provided:
        # stricter fold for foreign frames, fused into the ONE array
        # traversal (a separate F.exists pre-check would walk every
        # doc's gram array twice on the map-only hot path): any NULL
        # or out-of-range element raises; in-range x+1 is always
        # below the bias slot (w_arr has num_buckets+1 entries), so
        # the lookup never misreads the bias. A NULL bks row raises
        # too (F.exists/aggregate over NULL is NULL, which would
        # silently skip a condition — isNull spelled out).
        msg = F.raise_error(
            f"dsir_score: feats carry a NULL or out-of-range bucket "
            f"(outside [0, {num_buckets})) — frame from a different "
            f"num_buckets?"
        )
        fold = F.aggregate(
            bks,
            F.lit(0.0),
            lambda a, x: a + F.when(
                x.isNull() | (x < 0) | (x >= num_buckets),
                msg.cast("double"),
            ).otherwise(
                F.coalesce(
                    F.try_element_at(F.col("w_arr"), (x + 1).cast("int")),
                    F.lit(0.0),
                )
            ),
        )
        lw = F.when(bks.isNull(), msg.cast("double")).otherwise(fold)
    else:
        lw = bucket_sum(bks, F.col("w_arr"))
    return feats.crossJoin(F.broadcast(warr)).select(
        F.col(id_col),
        lw.alias("log_weight"),
    )


def _gumbel(col: Column, salt: str) -> Column:
    """Deterministic standard-Gumbel draw from md5(salt|id):
    u = (h + 0.5) / 2^32 (sampling.hash_frac with the half-step
    offset — strictly inside (0,1), so neither log can hit 0 or
    -inf), then g = -ln(-ln(u))."""
    return -F.log(-F.log(hash_frac(col, salt, offset=0.5)))


def dsir_sample(
    corpus: DataFrame,
    weights: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 128,
    salt: str = "dsir",
    feats: DataFrame | None = None,
) -> DataFrame:
    """(id, log_weight, sample_rank) — the paper's resampling step:
    Gumbel-top-k without replacement, inclusion probability
    proportional to exp(log_weight). key = log_weight + Gumbel(md5
    fraction of salt|id); the n largest keys win; fully reproducible
    (a pure function of salt, id and the fitted weights). Join the
    winning ids (n rows — broadcastable) back to the corpus for full
    rows. ``feats``: a precomputed featurize frame (see dsir_fit).

    Scale: scoring is map-only; top-n lowers to
    TakeOrderedAndProject per-partition heaps (no global sort); the
    rank window runs on n rows (sampling.top_n_ranked)."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    scored = dsir_score(
        corpus, weights, text_col, id_col, num_buckets, feats
    )
    keyed = scored.withColumn(
        "_key", F.col("log_weight") + _gumbel(F.col(id_col), salt)
    )
    return top_n_ranked(keyed, "_key", n, id_col).select(
        id_col, "log_weight", "sample_rank"
    )
