"""Trained bigram-LM perplexity: hand-computed probabilities on a
tiny corpus, OOV/empty-doc edges, partitioning invariance, and the
empty-train guard."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vrl_spark.operators.retrieval import bigram_perplexity

D = 0.75


def _expected():
    """Hand model: train = {"a b a", "a b"}.

    c1: a=3 b=2; N=5, V=2; c2: (a,b)=2 (b,a)=1;
    ctx a: cv=2 n1p=1; ctx b: cv=1 n1p=1.
    """
    def p_uni(c1):
        return (c1 + 1.0) / (5.0 + 2.0 + 1.0)

    def p_big(c2, cv, n1p, c1_next):
        return (max(c2 - D, 0.0) + D * n1p * p_uni(c1_next)) / cv

    nll = {}
    # d1 "a b a": start a, (a,b), (b,a)
    nll[1] = -(
        math.log(p_uni(3))
        + math.log(p_big(2, 2, 1, 2))
        + math.log(p_big(1, 1, 1, 3))
    ) / 3
    # d2 "a b"
    nll[2] = -(math.log(p_uni(3)) + math.log(p_big(2, 2, 1, 2))) / 2
    # d3 "a c": c is OOV (c1=0)
    nll[3] = -(math.log(p_uni(3)) + math.log(p_big(0, 2, 1, 0))) / 2
    nll[4] = 0.0  # empty doc
    return nll


def _quantile_cont(vals, q):
    s = sorted(vals)
    pos = (len(s) - 1) * q
    lo, hi = int(math.floor(pos)), int(math.ceil(pos))
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


@pytest.fixture(scope="module")
def tiny(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a", True),
            (2, "a b", True),
            (3, "a c", False),
            (4, "   ", False),
        ],
        ["doc_id", "text", "tr"],
    )
    return bigram_perplexity(df, train_col="tr").collect()


def _ppl_x1m(nll):
    """Mirror the operator: ppl derives from the QUANTIZED nll."""
    return round(math.exp(round(nll * 1e6) / 1e6) * 1e6)


def test_hand_computed_nll_and_ppl(tiny):
    exp = _expected()
    got = {r.doc_id: r for r in tiny}
    for d, nll in exp.items():
        assert got[d].lm_nll_x1m == round(nll * 1e6), d
        assert got[d].lm_ppl_x1m == _ppl_x1m(nll), d
    assert got[4].lm_n_scored == 0
    assert got[3].lm_n_scored == 2
    assert got[1].lm_is_train and not got[3].lm_is_train


def test_bucket_labels_match_quantile_cont(tiny):
    exp = _expected()
    ppls = [math.exp(round(v * 1e6) / 1e6) for v in exp.values()]
    lo = round(_quantile_cont(ppls, 0.3) * 1e6)
    hi = round(_quantile_cont(ppls, 0.7) * 1e6)
    for r in tiny:
        p = _ppl_x1m(exp[r.doc_id])
        want = "head" if p <= lo else ("middle" if p <= hi else "tail")
        assert r.lm_bucket == want, r.doc_id


def test_partitioning_invariance(spark):
    rows = [(i, f"tok{i % 7} tok{(i * 3) % 7} tok{i % 5} end", True)
            for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "tr"])
    a = bigram_perplexity(df, "tr").collect()
    b = bigram_perplexity(df.repartition(13, "doc_id"), "tr").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_empty_train_subset_raises(spark):
    df = spark.createDataFrame(
        [(1, "a b", False), (2, "c", False)], ["doc_id", "text", "tr"]
    )
    with pytest.raises(Exception, match="train subset has no tokens"):
        bigram_perplexity(df, train_col="tr")


def test_param_validation(spark):
    df = spark.createDataFrame([(1, "a", True)], ["doc_id", "text", "tr"])
    with pytest.raises(ValueError):
        bigram_perplexity(df, "tr", discount=0.0)
    with pytest.raises(ValueError):
        bigram_perplexity(df, "tr", bucket_quantiles=(0.0, 0.7))
    with pytest.raises(ValueError):
        bigram_perplexity(df, "tr", bucket_quantiles=(0.8, 0.2))


def _py_bigram_lm(rows, train_ids, D=0.75):
    """Independent pure-python reference of the whole model."""
    toks = {
        d: [t for t in txt.lower().strip().split() if t]
        for d, txt in rows
    }
    c1, c2 = {}, {}
    for d in train_ids:
        w = toks[d]
        for t in w:
            c1[t] = c1.get(t, 0) + 1
        for v, t in zip(w, w[1:]):
            c2[(v, t)] = c2.get((v, t), 0) + 1
    N, V = sum(c1.values()), len(c1)
    cv, n1p = {}, {}
    for (v, _), c in c2.items():
        cv[v] = cv.get(v, 0) + c
        n1p[v] = n1p.get(v, 0) + 1

    def p_uni(w):
        return (c1.get(w, 0) + 1.0) / (N + V + 1.0)

    out = {}
    for d, _ in rows:
        w = toks[d]
        if not w:
            out[d] = (0, 0.0)
            continue
        nll = -math.log(p_uni(w[0]))
        for v, t in zip(w, w[1:]):
            if v in cv:
                p = (
                    max(c2.get((v, t), 0) - D, 0.0)
                    + D * n1p[v] * p_uni(t)
                ) / cv[v]
            else:
                p = p_uni(t)
            nll += -math.log(p)
        out[d] = (len(w), nll / len(w))
    return out


def test_against_python_reference_random_corpus(spark):
    import random

    rng = random.Random(20260817)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab)
                      for _ in range(rng.randrange(0, 25))))
        for i in range(80)
    ]
    train_ids = {i for i in range(80) if i % 3 != 0}
    df = spark.createDataFrame(
        [(d, t, d in train_ids) for d, t in rows],
        ["doc_id", "text", "tr"],
    )
    got = {
        r.doc_id: r
        for r in bigram_perplexity(df, train_col="tr").collect()
    }
    ref = _py_bigram_lm(rows, train_ids)
    for d, (n, nll) in ref.items():
        assert got[d].lm_n_scored == n, d
        assert abs(got[d].lm_nll_x1m - round(nll * 1e6)) <= 1, d
        # ppl derives from the engine's own quantized nll; +-1 absorbs
        # python-libm vs JVM Math.exp last-ulp disagreement at a .5
        # rounding boundary
        assert abs(
            got[d].lm_ppl_x1m
            - round(math.exp(got[d].lm_nll_x1m / 1e6) * 1e6)
        ) <= 1, d
