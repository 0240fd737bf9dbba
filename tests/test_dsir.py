"""DSIR (Xie et al. 2023) importance resampling. Pins: exact
log-weight parity vs an independent python reference (md5 feature
family replicated with hashlib), planted-distribution separation
(target-like docs outweigh the rest and dominate the sample),
Gumbel-top-k determinism / without-replacement / n-overflow, and
validation (alpha, n, empty corpora raise loudly)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from vrl_spark.operators import dsir

B = 64  # bucket space for the tests


def _ref_buckets(text: str) -> list[int]:
    """Independent featurize reference: md5-hashed word
    unigrams + adjacent bigrams (classifier.ngram_buckets contract)."""
    toks = text.strip().lower().split() or [""]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B for g in grams
    ]


def _ref_weights(target_texts, raw_texts, alpha=1.0):
    tc, rc = [0.0] * B, [0.0] * B
    for t in target_texts:
        for b in _ref_buckets(t):
            tc[b] += 1
    for t in raw_texts:
        for b in _ref_buckets(t):
            rc[b] += 1
    tt, rt = sum(tc), sum(rc)
    return [
        math.log((tc[b] + alpha) / (tt + alpha * B))
        - math.log((rc[b] + alpha) / (rt + alpha * B))
        for b in range(B)
    ]


@pytest.fixture(scope="module")
def corpora(spark):
    """Target docs speak 'ml'; the raw pool is mostly 'web' chatter
    with every 5th doc target-like."""
    tgt = [
        (i, f"gradient descent loss model epoch {i % 3}")
        for i in range(20)
    ]
    raw = [
        (
            100 + i,
            (
                f"gradient descent model training loss {i}"
                if i % 5 == 0
                else f"cheap flights hotel deals click here {i}"
            ),
        )
        for i in range(50)
    ]
    return (
        spark.createDataFrame(tgt, ["doc_id", "text"]).localCheckpoint(),
        spark.createDataFrame(raw, ["doc_id", "text"]).localCheckpoint(),
        dict(tgt), dict(raw),
    )


def test_log_weights_match_reference(corpora, spark):
    target, raw, tgt_texts, raw_texts = corpora
    w = dsir.dsir_fit(target, raw, num_buckets=B)
    got_w = {r.bucket: r.weight for r in w.collect()}
    ref_w = _ref_weights(tgt_texts.values(), raw_texts.values())
    assert got_w[B] == 0.0  # bias row
    for b in range(B):
        assert got_w[b] == pytest.approx(ref_w[b], abs=1e-12)
    scored = dsir.dsir_score(raw, w, num_buckets=B)
    for r in scored.collect():
        want = sum(ref_w[b] for b in _ref_buckets(raw_texts[r.doc_id]))
        assert r.log_weight == pytest.approx(want, abs=1e-9)


def test_planted_separation_and_sample(corpora):
    target, raw, _, raw_texts = corpora
    w = dsir.dsir_fit(target, raw, num_buckets=B)
    scored = {
        r.doc_id: r.log_weight
        for r in dsir.dsir_score(raw, w, num_buckets=B).collect()
    }
    ml = [v for k, v in scored.items() if (k - 100) % 5 == 0]
    web = [v for k, v in scored.items() if (k - 100) % 5 != 0]
    assert min(ml) > max(web)  # clean separation on the plant
    picked = dsir.dsir_sample(raw, w, n=10, num_buckets=B)
    rows = picked.collect()
    assert len(rows) == 10
    assert len({r.doc_id for r in rows}) == 10  # without replacement
    assert sorted(r.sample_rank for r in rows) == list(range(1, 11))
    # the 10 target-like docs dominate a 10-of-50 importance sample
    got_ml = sum(1 for r in rows if (r.doc_id - 100) % 5 == 0)
    assert got_ml >= 8
    # determinism: a second build is identical
    again = dsir.dsir_sample(raw, w, n=10, num_buckets=B)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    # rank follows key = log_weight + gumbel, recomputed locally
    def key(doc_id):
        h = int(
            hashlib.md5(f"dsir|{doc_id}".encode()).hexdigest()[:8], 16
        )
        u = (h + 0.5) / 2**32
        return scored[doc_id] + (-math.log(-math.log(u)))

    want_order = sorted(scored, key=lambda d: (-key(d), d))[:10]
    got_order = [r.doc_id for r in sorted(rows, key=lambda r: r.sample_rank)]
    assert got_order == want_order


def test_n_overflow_returns_pool(corpora):
    target, raw, _, _ = corpora
    w = dsir.dsir_fit(target, raw, num_buckets=B)
    assert dsir.dsir_sample(raw, w, n=1000,
                            num_buckets=B).count() == raw.count()


def test_precomputed_feats_identical_and_guarded(corpora, spark):
    """The raw_feats/feats escape hatches produce
    byte-identical results to the internal featurize path, and a
    frame hashed into a WIDER bucket space raises in-plan instead of
    silently dropping counts (fit) or reading 0.0 holes (score)."""
    from vrl_spark.operators.classifier import featurize

    target, raw, _, _ = corpora
    rfeats = featurize(raw, num_buckets=B).localCheckpoint()
    w_pre = dsir.dsir_fit(
        target, raw, num_buckets=B, raw_feats=rfeats,
    )
    w_int = dsir.dsir_fit(target, raw, num_buckets=B)
    assert sorted(map(tuple, w_pre.collect())) == sorted(
        map(tuple, w_int.collect())
    )
    s_pre = dsir.dsir_sample(
        raw, w_pre, n=10, num_buckets=B, feats=rfeats
    )
    s_int = dsir.dsir_sample(raw, w_int, n=10, num_buckets=B)
    assert sorted(map(tuple, s_pre.collect())) == sorted(
        map(tuple, s_int.collect())
    )
    # wider-space frame: both consumers fail loudly
    wide = featurize(raw, num_buckets=B * 4).localCheckpoint()
    with pytest.raises(Exception, match="raw feature bucket.*outside"):
        dsir.dsir_fit(
            target, raw, num_buckets=B, raw_feats=wide
        ).collect()
    with pytest.raises(Exception, match="outside"):
        dsir.dsir_score(
            raw, w_int, num_buckets=B, feats=wide
        ).collect()
    # NULL bucket ids in a hand-built frame: loud on both sides too
    # (a NULL comparison silently takes the otherwise branch unless
    # isNull is spelled out — the guard must not accept what the
    # other consumer rejects)
    nullish = rfeats.select(
        "doc_id",
        F.array(F.lit(None).cast("long"), F.lit(3)).alias("bks"),
        "total",
    ).localCheckpoint()
    with pytest.raises(Exception, match="NULL"):
        dsir.dsir_fit(
            target, raw, num_buckets=B, raw_feats=nullish
        ).collect()
    with pytest.raises(Exception, match="NULL or out-of-range"):
        dsir.dsir_score(
            raw, w_int, num_buckets=B, feats=nullish
        ).collect()


def test_validation(corpora, spark):
    target, raw, _, _ = corpora
    with pytest.raises(ValueError, match="alpha"):
        dsir.dsir_fit(target, raw, alpha=0.0)
    with pytest.raises(ValueError, match="num_buckets"):
        dsir.dsir_fit(target, raw, num_buckets=0)
    w = dsir.dsir_fit(target, raw, num_buckets=B)
    with pytest.raises(ValueError, match="n must be positive"):
        dsir.dsir_sample(raw, w, n=0, num_buckets=B)
    # empty target raises IN-PLAN at first action, not silently NULL
    empty = spark.createDataFrame([], "doc_id long, text string")
    lazy = dsir.dsir_fit(empty, raw, num_buckets=B)
    with pytest.raises(Exception, match="empty target or raw"):
        lazy.collect()
    # bucket-space mismatch fails loudly in the scoring fold
    with pytest.raises(Exception, match="bucket"):
        dsir.dsir_score(raw, w, num_buckets=B * 2).collect()
