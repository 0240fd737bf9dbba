"""Dataset assembly: stable hash splits + token-budget packing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from vrl_spark.operators import sampling


def test_hash_split_stable_and_proportional(spark):
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = sampling.split_table(df, "doc_id", w)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 < counts["train"] / 2000 < 0.85
    # deterministic: same value -> same split, matches the md5 math
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    for d in (0, 7, 1999):
        frac = int(hashlib.md5(f"split|{d}".encode()).hexdigest()[:8], 16) / 2**32
        expect = "train" if frac < 0.8 else ("val" if frac < 0.9 else "test")
        assert rows[d] == expect, (d, frac)
    # re-run and growing the corpus never reassigns existing rows
    bigger = sampling.split_table(
        spark.range(4000).select(F.col("id").alias("doc_id")), "doc_id", w
    )
    rows2 = {r["doc_id"]: r["split"] for r in bigger.collect()}
    assert all(rows2[d] == s for d, s in rows.items())
    with pytest.raises(ValueError):
        sampling.hash_split(F.lit("x"), {"a": 0.5, "b": 0.4})


def test_pack_documents_greedy_exact(spark):
    rows = [(1, 400), (2, 500), (3, 200),   # pack0: 400+500 (=900); 200 overflows
            (4, 900), (5, 50), (6, 60),     # pack1: 200+... wait, greedy in id order
            (7, 2000)]                       # oversize: capped, own pack
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    got = {r["doc_id"]: r["pack_id"] for r in
           sampling.pack_documents(df, budget=1000).collect()}
    # greedy in id order, budget 1000:
    # d1(400)+d2(500)=900 -> pack0; d3(200) would be 1100 -> pack1
    # d3(200)+d4(900)? 1100 -> d4 opens pack2; d5(50) 950 fits pack2
    # d6(60) 1010 -> pack3; d7 capped 1000 -> 60+1000>1000 -> pack4
    assert got == {1: 0, 2: 0, 3: 1, 4: 2, 5: 2, 6: 3, 7: 4}
    # invariant: every pack's (capped) token sum <= budget
    packed = sampling.pack_documents(df, budget=1000)
    sums = packed.groupBy("pack_id").agg(
        F.sum(F.least(F.col("n_tokens"), F.lit(1000))).alias("s")
    ).collect()
    assert all(r["s"] <= 1000 for r in sums)


def test_pack_documents_string_ids(spark):
    # id type flows into the fold accumulator: string ids must pack
    # (ascending-by-id order) without an analysis-time cast error
    rows = [("a", 400), ("b", 500), ("c", 200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    got = {r["doc_id"]: r["pack_id"] for r in
           sampling.pack_documents(df, budget=1000).collect()}
    assert got == {"a": 0, "b": 0, "c": 1}


def test_pack_documents_unpartitioned_guard(spark):
    """The no-part_col OOM guard is LAZY (in-plan raise_error, no
    plan-build-time count pass) and fires at action time; a string id
    column exercises the dynamic accumulator/guard element type."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(f"d{i:02d}", 10) for i in range(20)], ["doc_id", "n_tokens"]
    )
    plan = sampling.pack_documents(df, budget=1000, max_group_rows=10)
    with _pytest.raises(Exception, match="part_col"):
        plan.collect()
    # under the threshold: same plan shape, no raise
    ok = sampling.pack_documents(df, budget=1000, max_group_rows=50)
    assert ok.count() == 20
    # with part_col the guard never engages, whatever the size
    out = sampling.pack_documents(
        df, budget=1000,
        part_col=F.substring("doc_id", 2, 1).cast("int") % 2,
        max_group_rows=10,
    )
    assert out.count() == 20


def test_pack_documents_partitioned(spark):
    rows = [(i, 600, i % 2) for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens", "shard"])
    got = sampling.pack_documents(
        df, budget=1000, part_col=F.col("shard")
    )
    # 600-token docs: one per pack within each shard
    by = {r["doc_id"]: r["pack_id"] for r in got.collect()}
    # shard 0: docs 0,2,4 -> packs 0,1,2 ; shard 1: docs 1,3,5 -> 0,1,2
    assert by[0] == 0 and by[2] == 1 and by[4] == 2
    assert by[1] == 0 and by[3] == 1 and by[5] == 2


def test_sample_per_stratum_exact_and_deterministic(spark):
    from vrl_spark.operators import sampling

    rows = [(i, "en" if i % 3 else "de", f"s{i % 2}") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "source"])
    out = sampling.sample_per_stratum(df, ["lang", "source"], n=5)
    got = out.collect()
    # exactly 5 per stratum (every stratum here has >= 5 rows)
    from collections import Counter
    per = Counter((r["lang"], r["source"]) for r in got)
    assert set(per.values()) == {5}
    assert all(1 <= r["sample_rank"] <= 5 for r in got)
    # deterministic: same ids on re-run
    again = {r["doc_id"] for r in
             sampling.sample_per_stratum(df, ["lang", "source"], n=5).collect()}
    assert again == {r["doc_id"] for r in got}


def test_sample_per_stratum_small_stratum_keeps_all(spark):
    from vrl_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], ["doc_id", "g"]
    )
    got = sampling.sample_per_stratum(df, ["g"], n=10).collect()
    assert len(got) == 3  # strata smaller than n keep everything
    with pytest.raises(ValueError):
        sampling.sample_per_stratum(df, ["g"], n=0)


def test_weighted_sample_deterministic_and_biased(spark):
    from vrl_spark.operators import sampling

    rows = [(i, 100 if i < 20 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = sampling.weighted_sample(df, "w", n=20).collect()
    assert len(got) == 20
    assert all(1 <= r["sample_rank"] <= 20 for r in got)
    heavy = sum(1 for r in got if r["doc_id"] < 20)
    # 20 heavy docs carry 2000/2180 of the weight: expect the winners
    # to be dominated by them (deterministic, so this is a fixed fact)
    assert heavy >= 12
    again = {r["doc_id"] for r in
             sampling.weighted_sample(df, "w", n=20).collect()}
    assert again == {r["doc_id"] for r in got}
    # zero/negative weights are excluded, not errors
    dfz = spark.createDataFrame(
        [(1, 0), (2, -3), (3, 5)], ["doc_id", "w"]
    )
    kept = sampling.weighted_sample(dfz, "w", n=5).collect()
    assert [r["doc_id"] for r in kept] == [3]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampling.weighted_sample(df, "w", n=0)
