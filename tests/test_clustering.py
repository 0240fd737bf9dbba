"""k-means document clustering: planted-structure determinism,
empty-cluster guard, plan shape, and convergence accounting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vrl_spark.operators.clustering import (
    _update_centroids, assign_clusters, kmeans,
)


def _planted_blobs(spark, per_blob=40):
    """Three well-separated unit blobs in 4-d with tiny deterministic
    jitter; analytic means are exact rationals."""
    base = {0: [10.0, 0.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0, 0.0],
            2: [0.0, 0.0, 10.0, 0.0]}
    rows = []
    for b, c in base.items():
        for i in range(per_blob):
            j = (i % 5 - 2) * 0.01  # jitter in {-.02,-.01,0,.01,.02}
            rows.append((b * per_blob + i, b,
                         [c[0] + j, c[1] + j, c[2] + j, c[3] + j]))
    df = spark.createDataFrame(
        rows, "vec_id bigint, blob int, embedding array<float>"
    )
    # analytic blob means: jitter sums to zero over each blob
    return df, base


def test_kmeans_recovers_planted_blobs(spark):
    df, base = _planted_blobs(spark)
    stats = {}
    out = kmeans(df, k=3, iterations=10, stats=stats).toPandas()
    # purity: every planted blob maps to exactly one cluster
    truth = {r["vec_id"]: r["blob"] for r in df.collect()}
    by_cluster = {}
    for _, r in out.iterrows():
        by_cluster.setdefault(r["cluster_id"], set()).add(truth[r["vec_id"]])
    assert len(by_cluster) == 3
    assert all(len(v) == 1 for v in by_cluster.values())
    # converged to the analytic means (jitter cancels)
    assert stats["converged"] and stats["iterations"] <= 3
    cents = {
        r["centroid_id"]: list(r["centroid_vec"])
        for r in stats["centroids"].collect()
    }
    blob_of_centroid = {
        cid: next(iter(blobs)) for cid, blobs in by_cluster.items()
    }
    for cid, vec in cents.items():
        want = base[blob_of_centroid[cid]]
        assert vec == pytest.approx(want, abs=1e-4)


def test_kmeans_deterministic_across_partitionings(spark):
    df, _ = _planted_blobs(spark)
    a = kmeans(df, k=3, iterations=5).toPandas()
    b = kmeans(df.repartition(13), k=3, iterations=5).toPandas()
    ma = dict(zip(a["vec_id"], a["cluster_id"]))
    mb = dict(zip(b["vec_id"], b["cluster_id"]))
    assert ma == mb


def test_empty_cluster_keeps_old_centroid(spark):
    old = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [9.0, 9.0])],
        "centroid_id bigint, centroid_vec array<float>",
    )
    # every member assigned to cluster 1; cluster 2 is empty
    assigned = spark.createDataFrame(
        [(10, [1.0, 1.0], 1), (11, [3.0, 3.0], 1)],
        "vec_id bigint, embedding array<float>, cluster_id bigint",
    )
    got = {
        r["centroid_id"]: (list(r["centroid_vec"]), r["n_members"])
        for r in _update_centroids(assigned, old).collect()
    }
    assert got[1] == ([2.0, 2.0], 2)
    assert got[2] == ([9.0, 9.0], 0)  # carried over, not NaN/dropped


def test_kmeans_validates_args(spark):
    df, _ = _planted_blobs(spark, per_blob=2)
    with pytest.raises(ValueError):
        kmeans(df, k=0)
    with pytest.raises(ValueError):
        kmeans(df, k=2, iterations=0)


def test_assignment_plan_shape(spark):
    """Assignment = broadcast join + one argmin shuffle, zero Python."""
    df, _ = _planted_blobs(spark)
    from vrl_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(df, 3, "vec_id", "embedding")
    from tests.test_scale_plans import plan_of

    plan = plan_of(assign_clusters(df, cents))
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 1


def test_spherical_kmeans_unit_centroids(spark):
    """spherical=True: centroids stay on the unit sphere and the
    assignment matches cosine argmax (magnitude is ignored)."""
    import math

    # same directions, wildly different magnitudes
    rows = [
        (1, [10.0, 0.0]), (2, [0.1, 0.0]), (3, [700.0, 7.0]),
        (4, [0.0, 3.0]), (5, [0.0, 0.02]), (6, [0.3, 30.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    stats = {}
    out = kmeans(df, k=2, iterations=8, spherical=True, stats=stats)
    labels = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    # x-direction vectors cluster together regardless of magnitude
    assert labels[1] == labels[2] == labels[3]
    assert labels[4] == labels[5] == labels[6]
    assert labels[1] != labels[4]
    for r in stats["centroids"].collect():
        n = math.sqrt(sum(x * x for x in r["centroid_vec"]))
        assert n == pytest.approx(1.0, abs=1e-5)
