"""Trained quality classifier: Spark training must match a NumPy
mirror of the same full-batch GD to float precision, learn a planted
separation, and keep scoring map-only (zero shuffles)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from vrl_spark.operators import classifier


# ---------------------------------------------------------------------
# NumPy mirror (the md5 bucket hash, oracle-portable)
# ---------------------------------------------------------------------

def _bucket_md5(g: str, d: int) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % d


def _featurize_np(texts, d):
    x = np.zeros((len(texts), d))
    for i, t in enumerate(texts):
        toks = t.lower().strip().split()
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        for g in grams:
            x[i, _bucket_md5(g, d)] += 1
        x[i] /= max(len(grams), 1)
    return x


def _train_np(x, y, epochs, lr):
    n, d = x.shape
    w = np.zeros(d)
    b = 0.0
    for _ in range(epochs):
        p = 1.0 / (1.0 + np.exp(-(x @ w + b)))
        r = p - y
        w -= lr * ((x.T @ r) / n)
        b -= lr * r.mean()
    return w, b


_POS = "wellwritten cited thorough"
_NEG = "clickbait casino spammy"
_SALAD = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
).split()


def _planted_corpus(n=80):
    texts, labels = [], []
    for i in range(n):
        base = " ".join(_SALAD[(i + j) % len(_SALAD)] for j in range(10))
        lab = i % 2
        k = (i % 3) + 1
        plant = " ".join([_POS if lab else _NEG] * k)
        texts.append(f"{base} {plant}")
        labels.append(lab)
    return texts, labels


# ---------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------

def test_training_matches_numpy(spark):
    texts, labels = _planted_corpus(40)
    df = spark.createDataFrame(
        [(i, t, y) for i, (t, y) in enumerate(zip(texts, labels))],
        "doc_id long, text string, label int",
    )
    d, epochs, lr = 64, 5, 8.0

    feats = classifier.featurize(df, label_col="label", num_buckets=d)
    weights = classifier.train_logistic(feats, num_buckets=d, epochs=epochs, lr=lr)
    got = {r.bucket: r.weight for r in weights.collect()}

    x = _featurize_np(texts, d)
    w_ref, b_ref = _train_np(x, np.array(labels, dtype=float), epochs, lr)
    for b in range(d):
        assert got[b] == pytest.approx(w_ref[b], abs=1e-12)
    assert got[d] == pytest.approx(b_ref, abs=1e-12)

    scored = classifier.score(feats, weights).select("doc_id", "prob").collect()
    p_ref = 1.0 / (1.0 + np.exp(-(x @ w_ref + b_ref)))
    for r in scored:
        assert r.prob == pytest.approx(p_ref[r.doc_id], abs=1e-12)


def test_learns_planted_separation(spark):
    texts, labels = _planted_corpus(80)
    df = spark.createDataFrame(
        [(i, t, int(y)) for i, (t, y) in enumerate(zip(texts, labels))],
        "doc_id long, text string, label int",
    )
    # train on 1 in 5 docs, score everything: the holdout must separate
    labeled = df.where(F.col("doc_id") % 5 == 0)
    out = classifier.quality_classifier(
        df, labeled, num_buckets=256, epochs=10, lr=8.0
    )
    rows = {r.doc_id: r.prob for r in out.collect()}
    holdout = [(i, labels[i]) for i in range(80) if i % 5 != 0]
    acc = sum((rows[i] > 0.5) == bool(y) for i, y in holdout) / len(holdout)
    assert acc == 1.0


def test_scoring_is_map_only(spark):
    texts, labels = _planted_corpus(20)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    weights = spark.range(65).select(
        F.col("id").alias("bucket"), (F.col("id") * 0.01).alias("weight")
    )
    feats = classifier.featurize(df, num_buckets=64)
    plan = classifier.score(feats, weights)._jdf.queryExecution().executedPlan().toString()
    # the weight-array fold aggregates the 65-row frame; the per-doc
    # scoring side must stay shuffle-free (broadcast only)
    assert "hashpartitioning(doc_id" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_validation_errors(spark):
    df = spark.createDataFrame([(0, "a b", 1)], "doc_id long, text string, label int")
    feats = classifier.featurize(df, label_col="label", num_buckets=8)
    with pytest.raises(ValueError, match="epochs"):
        classifier.train_logistic(feats, num_buckets=8, epochs=0)
    empty = feats.where(F.lit(False))
    with pytest.raises(ValueError, match="non-empty"):
        classifier.train_logistic(empty, num_buckets=8, epochs=1)


def test_score_sparse_weight_frame(spark):
    # a weights frame MISSING zero-weight FEATURE buckets must score
    # exactly like the dense frame (weights are looked up by bucket
    # id, not by sort position); the bias row (bucket=num_buckets)
    # must stay — it is what sizes the array
    df = spark.createDataFrame(
        [(0, "alpha beta", 1), (1, "gamma delta", 0)],
        "doc_id long, text string, label int",
    )
    feats = classifier.featurize(df, label_col="label", num_buckets=16)
    weights = classifier.train_logistic(feats, num_buckets=16, epochs=2)
    dense = {r["doc_id"]: r["prob"]
             for r in classifier.score(feats, weights).collect()}
    sparse = weights.where(
        (F.abs(F.col("weight")) > 1e-12) | (F.col("bucket") == 16)
    )
    assert sparse.count() < weights.count()  # some buckets really drop
    got = {r["doc_id"]: r["prob"]
           for r in classifier.score(feats, sparse).collect()}
    for d, p in dense.items():
        assert abs(got[d] - p) < 1e-12, (d, got[d], p)
    # an EMPTY weights frame fails loudly, not all-NULL probabilities
    with pytest.raises(Exception, match="empty weights frame"):
        classifier.score(feats, weights.where(F.lit(False))).collect()


def test_featurize_null_text(spark):
    # NULL text rows are dropped (no features -> no score): a garbage
    # doc must not earn a collision-determined probability, and the
    # oracle lane emits no row for it either
    df = spark.createDataFrame(
        [(0, None), (1, "real words here")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in
            classifier.featurize(df, num_buckets=8).collect()}
    assert set(rows) == {1}


def test_empty_text_features(spark):
    # empty text yields one '' unigram: total == 1, never divide-by-zero
    df = spark.createDataFrame([(0, ""), (1, "   ")], "doc_id long, text string")
    feats = classifier.featurize(df, num_buckets=8).collect()
    for r in feats:
        assert r.total == 1.0
        assert len(r.bks) == 1
