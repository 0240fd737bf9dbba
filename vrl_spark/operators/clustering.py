"""Document clustering: distributed k-means (Lloyd) over embedding
columns.

The training-data-pipeline companion to the IVF index
(operators/similarity.py): the same sampled-centroid start, but the
centroids then ITERATE to the data's actual structure — used for
corpus bucketing and as a trained coarse quantizer
for IVF (FAISS trains its inverted lists exactly this way).

Scale shape per iteration (the 100 TB contract):
- assignment: ONE broadcast join corpus x k centroids (centroids are
  k rows — never a shuffle) + ONE map-side-combined argmin shuffle
  keyed by the vector id;
- update: posexplode to (cluster, dim) grain + ONE map-side-combined
  avg shuffle — k*dim result rows, corpus-sized input but partial
  aggregation collapses each task to <= k*dim cells before the wire;
- the new k-row centroid frame is localCheckpoint'ed (eager) so the
  next round's plan does not re-derive the whole history — one Spark
  job per iteration, mirroring graph.pagerank's loop discipline.
- convergence: the per-centroid shift is folded INTO the checkpointed
  frame; reading it back is an action on k rows, not a corpus job.

Determinism: init is the smallest-md5 consistent sample
(ivf_centroids), distances are rounded to 1e-6 before the argmin
tie-break on centroid id, and means divide exact sums — identical
assignments across runs, partitionings, and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vrl_spark.operators.similarity import ivf_centroids


def l2_normalize(vec: Column) -> Column:
    """Unit-normalize a float array (zero vectors pass through).
    ``bind`` keeps the norm from re-evaluating once per element."""
    from vrl_spark.functions.parse import bind
    from vrl_spark.operators.similarity import norm

    def body(v: Column) -> Column:
        n = norm(v)

        def with_n(nn: Column) -> Column:
            return F.when(
                nn > 0,
                F.transform(v, lambda x: (x / nn).cast("float")),
            ).otherwise(v)

        return bind(n, with_n)

    return bind(vec, body)


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two float arrays (JVM fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_clusters(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment (squared L2, ties -> smallest
    centroid id). Returns (id_col, vec_col, cluster_id).

    One broadcast join + one argmin shuffle; distances rounded to
    1e-6 so tie-breaks are engine- and partitioning-stable."""
    centroids = centroids.select("centroid_id", "centroid_vec")
    scored = corpus.join(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        F.struct(
            F.round(l2_sq(F.col(vec_col), F.col("centroid_vec")), 6)
            .alias("dist"),
            F.col("centroid_id").alias("cid"),
        ).alias("_key"),
    )
    return scored.groupBy(id_col).agg(
        F.min_by(F.col(vec_col), F.col("_key")).alias(vec_col),
        F.min(F.col("_key")).getField("cid").alias("cluster_id"),
    )


def _update_centroids(
    assigned: DataFrame,
    old_centroids: DataFrame,
    vec_col: str = "embedding",
    normalize: bool = False,
) -> DataFrame:
    """Mean of member vectors per cluster; a cluster that lost all
    members keeps its previous centroid (standard empty-cluster
    guard). Output carries ``n_members`` and the per-centroid
    ``shift`` (L2^2 vs the old position) for convergence checks.
    ``normalize`` re-projects each new centroid onto the unit sphere
    BEFORE the shift is measured (spherical k-means update)."""
    dims = (
        assigned.select(
            F.col("cluster_id"),
            F.posexplode(F.col(vec_col)).alias("pos", "val"),
        )
        .groupBy("cluster_id", "pos")
        .agg(F.avg("val").alias("mean"), F.count(F.lit(1)).alias("n"))
    )
    means = dims.groupBy("cluster_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("pos"), F.col("mean")))
        ).alias("_pm"),
        F.first("n").alias("n_members"),
    ).select(
        "cluster_id",
        F.transform(F.col("_pm"), lambda s: s.getField("mean").cast("float"))
        .alias("new_vec"),
        "n_members",
    )
    if normalize:
        means = means.withColumn("new_vec", l2_normalize(F.col("new_vec")))
    return (
        old_centroids.join(
            means, F.col("centroid_id") == F.col("cluster_id"), "left"
        )
        .select(
            "centroid_id",
            F.coalesce(F.col("new_vec"), F.col("centroid_vec"))
            .alias("centroid_vec"),
            F.coalesce(F.col("n_members"), F.lit(0)).alias("n_members"),
            F.when(
                F.col("new_vec").isNotNull(),
                F.round(l2_sq(F.col("new_vec"), F.col("centroid_vec")), 9),
            ).otherwise(F.lit(0.0)).alias("shift"),
        )
    )


def kmeans(
    corpus: DataFrame,
    k: int,
    iterations: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spherical: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column; returns the final
    (id, vector, cluster_id) assignment. ``stats`` (out-param, like
    dedup_clusters) receives {"iterations", "converged",
    "max_shift", "centroids": DataFrame}.

    ``spherical=True`` runs SPHERICAL k-means: inputs are unit-
    normalized up front and centroids re-normalized every update, so
    the L2 argmin the loop optimizes is exactly the cosine argmax —
    the right training objective for a cosine-probed IVF index (FAISS
    does the same for IP/cosine indexes). The returned assignment's
    ``vec_col`` is then the normalized vector.

    Early-stops when every centroid moved < ``tol`` (squared L2).
    Eager loop: runs one Spark job per iteration at call time."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if spherical:
        corpus = corpus.select(
            F.col(id_col), l2_normalize(F.col(vec_col)).alias(vec_col)
        )
    centroids = ivf_centroids(corpus, k, id_col, vec_col).localCheckpoint()
    it, max_shift, converged = 0, None, False
    for it in range(1, iterations + 1):
        assigned = assign_clusters(corpus, centroids, id_col, vec_col)
        # checkpoint materializes the corpus-sized job; shift rides
        # along so convergence needs no second corpus pass
        centroids = _update_centroids(
            assigned, centroids, vec_col, normalize=spherical
        ).select(
            "centroid_id", "centroid_vec", "shift"
        ).localCheckpoint()
        # k-row action on the checkpointed frame — trivial
        max_shift = centroids.agg(F.max("shift")).collect()[0][0] or 0.0
        if max_shift < tol:
            converged = True
            break
    final = assign_clusters(corpus, centroids, id_col, vec_col)
    if stats is not None:
        stats["iterations"] = it
        stats["converged"] = converged
        stats["max_shift"] = max_shift
        stats["centroids"] = centroids.select("centroid_id", "centroid_vec")
    return final
