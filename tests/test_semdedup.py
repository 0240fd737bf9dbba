"""SemDeDup (Abbas et al. 2023): cluster-bucketed semantic dedup.
Pins: within-cluster pair recall vs a brute-force numpy reference on
a planted corpus, the paper's centroid-far keep rule, singleton
pass-through, and parameter validation."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vrl_spark.operators import similarity

DIM = 16
CENTERS = 4
THRESH = 0.92


def _planted(n_per=20, dups=6, seed=23):
    """CENTERS well-separated unit clusters; within each, ``dups``
    docs are near-copies of member 0 (tiny noise — cosine ~0.99)
    while the rest scatter (pairwise cosine well under the
    threshold). Returns rows + the numpy matrix for brute force."""
    rng = np.random.RandomState(seed)
    base = rng.randn(CENTERS, DIM)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows, mat = [], []
    i = 0
    for c in range(CENTERS):
        anchor = base[c] + rng.randn(DIM) * 0.02
        for j in range(n_per):
            if j < dups:
                v = anchor + rng.randn(DIM) * 0.01
            else:
                v = base[c] + rng.randn(DIM) * 0.35
            v = v / np.linalg.norm(v)
            rows.append((i, [float(x) for x in v]))
            mat.append(v)
            i += 1
    return rows, np.array(mat)


@pytest.fixture(scope="module")
def planted(spark):
    rows, mat = _planted()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).localCheckpoint()
    return df, mat


def _brute_pairs(mat, thresh):
    sims = np.round(mat @ mat.T, 6)
    out = set()
    for a in range(len(mat)):
        for b in range(a + 1, len(mat)):
            if sims[a, b] >= thresh:
                out.add((a, b))
    return out


def test_pairs_match_brute_force(planted, spark):
    df, mat = planted
    want = _brute_pairs(mat, THRESH)
    assert len(want) >= CENTERS * 10  # the plant produced real groups
    # explicit centroids at the planted centers: bucketing is lossless
    # and the pair set equals brute force exactly
    rng = np.random.RandomState(23)
    b = rng.randn(CENTERS, DIM)
    b /= np.linalg.norm(b, axis=1, keepdims=True)
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in b[i]]) for i in range(CENTERS)],
        ["centroid_id", "centroid_vec"],
    )
    rows = similarity.semantic_dedup_pairs(
        df, threshold=THRESH, centroids=cents
    ).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert got == want, want ^ got
    for r in rows:
        assert r.id_a < r.id_b
        assert r.cos == round(float(mat[r.id_a] @ mat[r.id_b]), 6)
    # sampled centroids (the default): bucketing can only
    # MISS pairs (a dup group split when two samples land inside one
    # planted cluster) — never invent them
    sampled = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_dedup_pairs(
            df, n_clusters=CENTERS * 2, threshold=THRESH
        ).collect()
    }
    assert sampled <= want
    assert len(sampled) >= len(want) * 0.5  # still finds real groups


def test_centroid_far_keep_rule(planted):
    df, mat = planted
    got = similarity.semantic_dedup(
        df, n_clusters=CENTERS * 2, threshold=THRESH,
    ).collect()
    assert len(got) == len(mat)  # every doc gets a verdict
    cents = {
        r.centroid_id: np.array(r.centroid_vec)
        for r in similarity.ivf_centroids(df, CENTERS * 2).collect()
    }

    def cos_to_own_centroid(i):
        # min over (-cos, id): max cosine, ties to the SMALLEST
        # centroid id — ivf_assign's rule, for any orderable id type
        best = min(
            cents, key=lambda c: (
                -round(float(mat[i] @ cents[c] /
                             (np.linalg.norm(mat[i]) *
                              np.linalg.norm(cents[c]))), 6),
                c,
            )
        )
        cv = cents[best]
        return round(
            float(mat[i] @ cv / (np.linalg.norm(mat[i]) * np.linalg.norm(cv))),
            6,
        )

    groups: dict = {}
    for r in got:
        groups.setdefault(r.group_id, []).append(r)
    multi = [g for g in groups.values() if len(g) > 1]
    assert multi, "plant produced no duplicate groups"
    for g in multi:
        keepers = [r for r in g if r.keep]
        assert len(keepers) == 1
        # the survivor is the member FARTHEST from its centroid
        # (lowest cosine, ties -> smallest id)
        want = min(
            g, key=lambda r: (cos_to_own_centroid(r.vec_id), r.vec_id)
        )
        assert keepers[0].vec_id == want.vec_id, (
            [(r.vec_id, cos_to_own_centroid(r.vec_id)) for r in g]
        )
    # singletons keep themselves
    for g in groups.values():
        if len(g) == 1:
            assert g[0].keep and g[0].group_id == g[0].vec_id


def test_validation(planted):
    df, _ = planted
    with pytest.raises(ValueError, match="threshold"):
        similarity.semantic_dedup_pairs(df, threshold=0.0)
    with pytest.raises(ValueError, match="n_clusters"):
        similarity.semantic_dedup_pairs(df, n_clusters=0)


def test_empty_centroids_raise_not_vanish(planted, spark):
    """An empty centroids frame must fail loudly, never silently
    produce zero pairs / erase duplicate groups (ivf_assign DROPS
    unassignable rows). Both entry points: the eager check in
    semantic_dedup_pairs and in semantic_dedup's precomputed-pairs
    path. (A non-empty FOREIGN frame is undetectable by design —
    documented in the semantic_dedup docstring.)"""
    df, _ = planted
    empty = spark.createDataFrame(
        [], "centroid_id long, centroid_vec array<double>"
    )
    with pytest.raises(ValueError, match="centroids frame is empty"):
        similarity.semantic_dedup_pairs(
            df, threshold=THRESH, centroids=empty
        )
    pairs = similarity.semantic_dedup_pairs(
        df, n_clusters=CENTERS * 2, threshold=THRESH
    ).localCheckpoint()
    assert pairs.count() > 0
    with pytest.raises(ValueError, match="centroids frame is empty"):
        similarity.semantic_dedup(
            df, threshold=THRESH, pairs=pairs, centroids=empty,
        )


def test_pairs_corpus_mismatch_raises_in_plan(planted, spark):
    """Pairs whose endpoints are missing from the corpus used for the
    keep rule raise in-plan (dedup_clusters emits corpus ids only, so
    the hole would otherwise silently drop the doc — and its group's
    correct survivor — from the verdict; multi_ids drives the member
    join precisely so the left-join NULL surfaces it)."""
    df, _ = planted
    stats: dict = {}
    pairs = similarity.semantic_dedup_pairs(
        df, n_clusters=CENTERS * 2, threshold=THRESH, stats=stats
    ).localCheckpoint()
    some_paired = pairs.first().id_a
    hole = df.where(F.col("vec_id") != some_paired)
    with pytest.raises(Exception, match="missing from the corpus"):
        similarity.semantic_dedup(
            hole, threshold=THRESH, pairs=pairs,
            centroids=stats["centroids"],
        ).collect()
