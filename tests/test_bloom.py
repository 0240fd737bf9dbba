"""Bloom-filter incremental dedup: the no-false-negative property,
forced false positives, and a brute-force python reference for the
bit layout."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from vrl_spark.operators import bloom


def _py_positions_md5(key: str, n_bits: int, k: int) -> list[int]:
    return [
        int(hashlib.md5(f"{i}|{key}".encode()).hexdigest()[:15], 16) % n_bits
        for i in range(k)
    ]


def _py_bloom_words(keys: list[str], n_bits: int, k: int) -> dict[int, int]:
    words: dict[int, int] = {}
    for key in keys:
        for p in _py_positions_md5(key, n_bits, k):
            w, b = p // 32, p % 32
            words[w] = words.get(w, 0) | (1 << b)
    return words


def test_bloom_build_matches_python_reference(spark):
    keys = [f"key-{i}" for i in range(50)]
    df = spark.createDataFrame([(x,) for x in keys], ["k"])
    got = {
        r.word_idx: r.word
        for r in bloom.bloom_build(
            df, "k", n_bits=1024, k=3
        ).collect()
    }
    assert got == _py_bloom_words(keys, 1024, 3)


def test_no_false_negatives_and_fp_resolution(spark):
    base = spark.createDataFrame(
        [(f"base-{i}",) for i in range(200)], ["k"]
    )
    # incoming: 40 true dups + 60 genuinely new keys
    incoming = spark.createDataFrame(
        [(f"base-{i}",) for i in range(40)]
        + [(f"new-{i}",) for i in range(60)],
        ["k"],
    )
    out = bloom.incremental_dedup(
        base, incoming, "k", n_bits=1 << 14, k=5
    ).collect()
    fates = {r.k: (r.bloom_hit, r.incr_fate) for r in out}
    assert len(fates) == 100
    # property: every true dup MUST bloom-hit and classify 'dup'
    for i in range(40):
        assert fates[f"base-{i}"] == (True, "dup")
    # new keys are 'new' (miss) or 'fp' (hit resolved by exact join) —
    # never 'dup'
    for i in range(60):
        hit, fate = fates[f"new-{i}"]
        assert fate == ("fp" if hit else "new")


def test_forced_false_positives_with_tiny_filter(spark):
    # 64 bits, 300 base keys -> filter saturates -> every probe hits;
    # absent keys must come back 'fp', never 'dup', never crash.
    base = spark.createDataFrame(
        [(f"b-{i}",) for i in range(300)], ["k"]
    )
    incoming = spark.createDataFrame(
        [("b-0",), ("nope-1",), ("nope-2",)], ["k"]
    )
    out = {
        r.k: (r.bloom_hit, r.incr_fate)
        for r in bloom.incremental_dedup(
            base, incoming, "k", n_bits=64, k=2
        ).collect()
    }
    assert out["b-0"] == (True, "dup")
    assert out["nope-1"] == (True, "fp")
    assert out["nope-2"] == (True, "fp")


def test_membership_treats_missing_words_as_zero(spark):
    words = bloom.bloom_build(
        spark.createDataFrame([("only",)], ["k"]), "k",
        n_bits=1 << 14, k=5,
    )
    keys = spark.createDataFrame([("only",), ("absent",)], ["k"])
    got = {
        r.k: r.bloom_hit
        for r in bloom.bloom_membership(
            keys, words, "k", n_bits=1 << 14, k=5
        ).collect()
    }
    assert got["only"] is True
    assert got["absent"] is False


def test_positions_validate_params(spark):
    import pytest

    with pytest.raises(ValueError):
        bloom.bloom_positions(F.col("k"), 1 << 14, 0)
    with pytest.raises(ValueError):
        bloom.bloom_positions(F.col("k"), 16, 3)


def test_null_keys_dropped_everywhere(spark):
    base = spark.createDataFrame(
        [("a",), (None,)], "k string"
    )
    inc = spark.createDataFrame(
        [("a",), ("b",), (None,)], "k string"
    )
    words = bloom.bloom_build(base, "k", n_bits=1024, k=3)
    # NULL contributes no bits (order-insensitive compare: groupBy
    # output order is not guaranteed)
    assert sorted(map(tuple, words.collect())) == sorted(
        map(
            tuple,
            bloom.bloom_build(
                base.where("k is not null"), "k",
                n_bits=1024, k=3,
            ).collect(),
        )
    )
    # membership and incremental_dedup emit no row for NULL keys
    m = bloom.bloom_membership(inc, words, "k", 1024, 3)
    assert {r.k for r in m.collect()} == {"a", "b"}
    fates = bloom.incremental_dedup(
        base, inc, "k", n_bits=1024, k=3
    )
    assert {r.k: r.incr_fate for r in fates.collect()}.get("a") == "dup"
    assert None not in {r.k for r in fates.collect()}
