"""Dedup / similarity / textstats operator tests on small constructed
DataFrames (fast, deterministic)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vrl_spark.operators import dedup, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "a quick brown fox jumps over the lazy dog"),            # near dup of 1
        (4, "completely different content about spark pipelines"),
        (5, "spark pipelines about completely different content"),  # same words, diff order
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_word_shingles(spark):
    row = spark.range(1).select(
        dedup.word_shingles(F.lit("a b c d"), 3).alias("s"),
        dedup.word_shingles(F.lit("a b"), 3).alias("short"),
        dedup.word_shingles(F.lit(""), 3).alias("empty"),
    ).collect()[0]
    assert row["s"] == ["a b c", "b c d"]
    assert row["short"] == ["a b"]
    assert row["empty"] == []


@pytest.mark.parametrize("num_hashes", [6, 16])
def test_minhash_md5_batched_equals_jvm_fold(spark, num_hashes):
    """The Arrow-batched md5 signature is value-identical to the JVM
    fold, including NULL for empty and None shingle arrays and a
    hash count that is not a multiple of the 4 pieces per md5."""
    rows = [
        (1, ["a b c", "b c d", "c d e"]),
        (2, ["only"]),
        (3, []),
        (4, None),
        (5, ["x", "x", "dup shingle", "\u00e9t\u00e9 \u4e2d\u6587"]),
        (6, [f"s{i}" for i in range(40)]),
    ]
    df = spark.createDataFrame(rows, "id long, sh array<string>")
    got = df.select(
        "id",
        dedup.minhash_signature(F.col("sh"), num_hashes).alias("fold"),
        dedup.minhash_signature_md5_batched(F.col("sh"), num_hashes).alias("batched"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r["fold"] == r["batched"], r
        if r["id"] in (3, 4):
            assert r["fold"] is None
        else:
            assert len(r["fold"]) == num_hashes


def test_minhash_finds_near_dups(docs):
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found          # exact dup: jaccard 1.0
    assert (1, 3) in found          # near dup
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert j[(1, 2)] == 1.0
    assert 0.5 <= j[(1, 3)] < 1.0


def test_ngram_jaccard_blocked(docs):
    blocked = docs.withColumn("blk", F.lit(1))
    pairs = dedup.ngram_jaccard_pairs(
        blocked, block_cols=["blk"], threshold=0.4
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found and (1, 3) in found
    with pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(docs, block_cols=None)


def test_simhash_properties(docs):
    rows = docs.select(
        "doc_id", dedup.simhash_bits_md5(F.col("text")).alias("sig")
    ).collect()
    sigs = {r["doc_id"]: r["sig"] for r in rows}
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in sigs.values())
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[4])
    # word-order invariance (bag-of-words sketch): 4 vs 5 identical
    assert sigs[4] == sigs[5]


def test_simhash64_long_roundtrip(spark):
    row = spark.range(1).select(
        dedup.simhash64_batched(F.lit("the quick brown fox")).alias("h")
    ).collect()[0]
    assert isinstance(row["h"], int)

def test_brute_force_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") == 1)
    out = similarity.brute_force_topk(emb, q, k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [2, 3, 4]
    sims = {r["neighbor_id"]: r["cos_sim"] for r in out}
    assert sims[2] == pytest.approx(0.9 / math.sqrt(0.81 + 0.01), abs=1e-6)
    assert sims[4] == -1.0


def test_batched_cosine_matches_jvm_fold(spark):
    """The Arrow kernels return exactly what the interpreted JVM
    expressions return: NULL vectors, length mismatches (zero norm
    product or not), empty and zero vectors, overflow, and NaN and
    infinite components, and NULL elements. NaN must stay NaN, not
    become NULL."""
    inf, nan = float("inf"), float("nan")
    cases = [
        ([1.0, 2.0], [3.0, 4.0]), ([0.0, 0.0], [1.0, 2.0]), ([], []),
        (None, [1.0]), ([1.0, 2.0], None), (None, None),
        ([1.0, 2.0], [1.0]), ([0.0, 0.0], [0.0]),
        ([nan, 1.0], [1.0, 1.0]), ([1.0, 1.0], [1.0, nan]),
        ([inf, 1.0], [1.0, 1.0]), ([-inf, 1.0], [1.0, 1.0]),
        ([inf, 0.0], [0.0, 0.0]), ([1.0, -inf], [1.0, 1.0]),
        ([1e200, 1e200], [1.0, 1.0]), ([nan, 1.0], [1.0]),
        # NULL elements: Arrow hands them to pandas as NaN
        ([1.0, None], [1.0, 1.0]), ([1.0, 1.0], [None, 1.0]),
        ([None], [None]), ([nan, None], [1.0, 1.0]), ([0.0, None], [0.0, 0.0]),
        ([1.0, None], [1.0]), ([None, 1.0], None),
    ]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)],
        "i int, a array<double>, b array<double>",
    )
    a, b = F.col("a"), F.col("b")
    rows = df.select(
        "i",
        similarity.cosine(a, b).alias("cos"),
        similarity.batched_cosine(a, b).alias("batched_cos"),
        similarity.dot(a, b).alias("dot"),
        similarity.batched_dot(a, b).alias("batched_dot"),
    ).collect()
    assert len(rows) == len(cases)

    def same(x, y):
        if x is None or y is None:
            return x is y
        return (math.isnan(x) and math.isnan(y)) or x == y

    for r in rows:
        assert same(r["cos"], r["batched_cos"]), (cases[r["i"]], r)
        assert same(r["dot"], r["batched_dot"]), (cases[r["i"]], r)
    by_i = {r["i"]: r for r in rows}
    assert math.isnan(by_i[8]["batched_cos"])  # NaN, not NULL
    assert math.isnan(by_i[8]["batched_dot"])
    assert (by_i[16]["batched_cos"], by_i[16]["batched_dot"]) == (0.0, None)

def test_lsh_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, q, k=3).collect()
    approx = similarity.lsh_topk(emb, q, dim=64, k=3, num_planes=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # recall needn't be 1.0 but buckets must produce some true neighbors
    assert len(exact_set & approx_set) >= len(exact_set) // 3


def test_ivf_assign_nearest_centroid(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.95, 0.05]),
        (3, [0.0, 1.0]),
        (4, [0.1, 0.9]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])],
        ["centroid_id", "centroid_vec"],
    )
    out = {r["vec_id"]: r["list_id"]
           for r in similarity.ivf_assign(emb, cents).collect()}
    assert out == {1: 10, 2: 10, 3: 20, 4: 20}
    # exact tie (45-degree vector): smallest centroid_id wins
    tied = spark.createDataFrame([(5, [1.0, 1.0])], ["vec_id", "embedding"])
    out5 = similarity.ivf_assign(tied, cents).collect()[0]
    assert out5["list_id"] == 10
    # empty centroid frame -> empty assignment (loud), not a corpus of
    # NULL list_ids that downstream joins silently drop
    assert similarity.ivf_assign(emb, cents.where(F.lit(False))).count() == 0


def test_ivf_topk_recall_and_exactness(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, q, k=3).collect()
    approx = similarity.ivf_topk(emb, q, n_lists=8, nprobe=3, k=3).collect()
    exact_map = {(r["query_id"], r["neighbor_id"]): r["cos_sim"]
                 for r in exact}
    hit = 0
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_map:
            hit += 1
            # within probed lists the scan is EXACT: scores agree
            assert r["cos_sim"] == pytest.approx(exact_map[key], abs=1e-6)
    assert hit >= len(exact_map) // 3  # probes must surface true nbrs
    # nprobe = n_lists degenerates to exhaustive search = brute force
    full = similarity.ivf_topk(emb, q, n_lists=8, nprobe=8, k=3).collect()
    full_set = {(r["query_id"], r["neighbor_id"]) for r in full}
    assert full_set == set(exact_map)
    with pytest.raises(ValueError):
        similarity.ivf_topk(emb, q, n_lists=4, nprobe=5)


def test_textstats(spark):
    row = spark.range(1).select(
        textstats.token_count(F.lit("a b  c")).alias("tc"),
        textstats.token_count(F.lit("")).alias("tc0"),
        textstats.bpe_ish_token_count(F.lit("hello, world 123")).alias("bpe"),
        textstats.fingerprint(F.lit("The QUICK fox!")).alias("fp1"),
        textstats.fingerprint(F.lit("fox quick the")).alias("fp2"),
        textstats.lang_id(F.lit("the cat and the dog is in a house")).alias("en"),
        textstats.lang_id(F.lit("el gato y el perro en la casa no es")).alias("es"),
        textstats.lang_id(F.lit("zzz qqq xxx")).alias("und"),
    ).collect()[0]
    assert row["tc"] == 3 and row["tc0"] == 0
    assert row["bpe"] == 4  # hello | , | world | 123 (space runs dropped)
    assert row["fp1"] == row["fp2"]  # order/case/punct invariant
    assert row["en"] == "en" and row["es"] == "es" and row["und"] == "und"


def test_quality_score_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = docs.select(
        textstats.quality_score(F.col("text")).alias("q")
    ).agg(F.min("q"), F.max("q")).collect()[0]
    assert 0.0 <= stats[0] <= stats[1] <= 1.0


def test_sessionize(spark):
    from datetime import datetime as dt

    from vrl_spark.operators.sessions import session_stats, sessionize

    rows = [
        (1, dt(2024, 1, 1, 0, 0, 0)),
        (1, dt(2024, 1, 1, 0, 10, 0)),   # same session (10 min gap)
        (1, dt(2024, 1, 1, 1, 0, 0)),    # new session (50 min gap)
        (2, dt(2024, 1, 1, 0, 0, 0)),    # other user
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {(r["user_id"], str(r["ts"])): r["session_seq"]
           for r in sessionize(df, gap_minutes=30).collect()}
    assert out[(1, "2024-01-01 00:00:00")] == 0
    assert out[(1, "2024-01-01 00:10:00")] == 0
    assert out[(1, "2024-01-01 01:00:00")] == 1
    assert out[(2, "2024-01-01 00:00:00")] == 0
    stats = {(r["user_id"], r["session_seq"]): r
             for r in session_stats(df, gap_minutes=30).collect()}
    assert stats[(1, 0)]["n_events"] == 2
    assert stats[(1, 0)]["duration_sec"] == 600
    assert stats[(1, 1)]["n_events"] == 1


def test_find_table_row_semantics(spark):
    from datetime import datetime as dt

    from vrl_spark.operators.enrichment import find_table_row

    facts = spark.createDataFrame(
        [(1, "ALPHA", dt(2024, 1, 15)), (2, "beta", dt(2024, 3, 1)),
         (3, "gamma", dt(2024, 1, 1))],
        ["fid", "key", "ts"],
    )
    dim = spark.createDataFrame(
        [("alpha", dt(2024, 1, 1), dt(2024, 1, 31), "jan-alpha", 0),
         ("alpha", dt(2024, 1, 10), dt(2024, 2, 28), "overlap-alpha", 1),  # 2nd match: loses
         ("beta", dt(2024, 2, 1), dt(2024, 3, 31), "spring-beta", 2)],
        ["k", "valid_from", "valid_to", "label", "ord"],
    )
    out = {r["fid"]: r["label"] for r in find_table_row(
        facts, dim, on=[("key", "k")], order_col="ord",
        case_insensitive=True, date_range=("ts", "valid_from", "valid_to"),
    ).collect()}
    assert out[1] == "jan-alpha"       # first match wins on overlap
    assert out[2] == "spring-beta"
    assert out[3] is None              # no dim key -> nulls (miss)
    # case-sensitive: ALPHA no longer matches
    out_cs = {r["fid"]: r["label"] for r in find_table_row(
        facts, dim, on=[("key", "k")], order_col="ord",
        case_insensitive=False).collect()}
    assert out_cs[1] is None


def test_minhash_engines_find_planted_dups(spark):
    """Both signature families (md5 oracle path, xxh engine path) must
    recover planted near-duplicates after the true-jaccard verify."""
    from vrl_spark.operators.dedup import minhash_dedup_pairs

    base = ("large scale web corpus deduplication requires stable shingle "
            "sets and banded locality sensitive hashing to avoid quadratic "
            "pair comparison across the entire document collection")
    rows = [(1, base), (2, base + " trailing tweak"), (3, base)]
    # unrelated filler so the join has non-dup mass
    for i in range(4, 40):
        rows.append((i, f"document number {i} about topic {i*7} with words "
                        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for eng in ("md5", "xxh"):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_dedup_pairs(
                df, threshold=0.7, num_hashes=16, bands=4, engine=eng
            ).collect()
        }
        assert (1, 3) in pairs, (eng, pairs)   # exact dup always recovered
        assert (1, 2) in pairs or (2, 3) in pairs, (eng, pairs)


def test_dedup_clusters_multi_component(spark):
    """Known graph: components {1,2,3}, {5,6}, and a 6-node CHAIN
    10-11-12-13-14-15 (exercises multi-round propagation + pointer
    jumping). Singletons from ids keep themselves."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6),
         (10, 11), (11, 12), (12, 13), (13, 14), (14, 15)],
        ["id_a", "id_b"],
    )
    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        5: (5, True), 6: (5, False),
        10: (10, True), 11: (10, False), 12: (10, False),
        13: (10, False), 14: (10, False), 15: (10, False),
    }
    # with the full id universe: 7, 8 are singletons -> keep
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7, 8]],
                                ["doc_id"])
    small = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    got2 = {r["doc_id"]: (r["cluster_id"], r["keep"])
            for r in dedup.dedup_clusters(small, ids=ids).collect()}
    assert got2[7] == (7, True) and got2[8] == (8, True)
    assert got2[2] == (1, False) and got2[6] == (5, False)


def test_dedup_clusters_driver_path_matches_distributed(spark, monkeypatch):
    """r7: small edge lists resolve with a driver union-find. Pin its
    output row-for-row identical to the distributed propagate/jump
    loop on a mixed graph (components, a chain, string ids elsewhere
    covered), including the singleton pass-through."""
    import random

    rng = random.Random(7)
    edges = {(rng.randrange(400), rng.randrange(400)) for _ in range(300)}
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in range(450)], ["doc_id"])
    fast = {r["doc_id"]: (r["cluster_id"], r["keep"])
            for r in dedup.dedup_clusters(pairs, ids=ids).collect()}
    # no edge list fits a zero cap: the distributed loop runs
    monkeypatch.setattr(dedup, "DRIVER_EDGES_MAX", 0)
    slow = {r["doc_id"]: (r["cluster_id"], r["keep"])
            for r in dedup.dedup_clusters(pairs, ids=ids).collect()}
    assert fast == slow


def test_dedup_clusters_empty_and_survivors(spark):
    """Empty pair set -> every doc survives; survivor rows drop exactly
    the non-min members of each cluster."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 8)], ["doc_id", "text"]
    )
    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    out = dedup.dedup_clusters(empty, ids=docs)
    assert out.where(~F.col("keep")).count() == 0
    assert out.count() == 7

    pairs = spark.createDataFrame([(1, 4), (4, 6), (2, 3)], ["id_a", "id_b"])
    kept = {r["doc_id"] for r in
            dedup.dedup_survivor_rows(docs, pairs).collect()}
    assert kept == {1, 2, 5, 7}  # 4,6 fold into 1; 3 folds into 2


def test_simhash_engines_find_planted_dups(spark):
    """simhash pairs exact copies at distance 0, and gives
    near-identical docs a far smaller hamming distance than unrelated
    ones."""
    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "additional words pad this document out to a usable token "
            "count for stable simhash signatures across families")
    rows = [(1, base), (2, base + " tweak"), (3, base)]
    for i in range(4, 40):
        rows.append((i, f"unrelated document {i} alpha{i*3} beta{i*5} "
                        f"gamma{i*7} delta{i*11} epsilon{i*13} zeta{i*17}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"]): r["distance"]
           for r in dedup.simhash_dedup_pairs(
               df, max_distance=3, chunks=4).collect()}
    assert got.get((1, 3)) == 0, got  # exact copy: distance 0
    # near-dup signal: hamming(doc1, doc2) well under the ~32 expected
    # for unrelated docs
    sigs = df.where(F.col("doc_id").isin(1, 2, 4)).select(
        "doc_id", dedup.simhash_bits_md5(F.col("text")).alias("md5"),
    ).collect()
    by = {r["doc_id"]: r for r in sigs}

    def ham_str(a, b):
        return sum(1 for x, y in zip(a, b) if x != y)

    assert ham_str(by[1]["md5"], by[2]["md5"]) < 16
    assert ham_str(by[1]["md5"], by[4]["md5"]) > 16


def test_simhash_batched_equals_column_paths(spark):
    """The numpy vote-fold UDF must be bit-exact vs the column-
    expression signature path simhash_bits_md5 (via bin() round-trip)."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "a b c d e f g h i j k l m n o p",
        "single",
        "",
        "   ",
        "MiXeD Case TOKENS here\tand\nthere",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    rows = df.select(
        dedup.simhash_bits_md5(F.col("t")).alias("mbits"),
        F.lpad(
            F.bin(dedup.simhash64_batched(F.col("t"))), 64, "0"
        ).alias("bbits"),
    ).collect()
    for r in rows:
        assert r["mbits"] == r["bbits"], (r["mbits"], r["bbits"])


def test_dedup_clusters_long_chain_converges_logarithmically(spark,
                                                            monkeypatch):
    """A 1000-node path graph (worst-case diameter) mixed with a
    100-leaf star and singletons must resolve with O(log d) rounds:
    pointer jumping halves remaining path lengths each round, so the
    diameter-999 chain converges in ~12 rounds where plain neighbor
    propagation would need ~999 (and would return WRONG labels under
    any reasonable max_iterations cap)."""
    chain = [(i, i + 1) for i in range(1000, 1999)]          # path, d=999
    star = [(5000, 5000 + j) for j in range(1, 101)]         # star, d=2
    pairs = spark.createDataFrame(chain + star, ["id_a", "id_b"])
    ids = spark.createDataFrame(
        [(i,) for i in range(1000, 2000)]
        + [(5000 + j,) for j in range(101)]
        + [(9001,), (9002,)],                                # singletons
        ["doc_id"],
    )
    # a zero cap forces the DISTRIBUTED loop: this test pins the
    # O(log d) propagate/jump convergence, which the small-graph
    # driver union-find path (tested separately) would bypass.
    # O(log d): ceil(log2(999)) = 10; the cap of 14 rounds allows
    # slack for the propagate/jump interleave + the final no-change
    # round, but stays far from the O(d) regime, where the chain's
    # labels would come back wrong
    monkeypatch.setattr(dedup, "DRIVER_EDGES_MAX", 0)
    out = dedup.dedup_clusters(pairs, ids=ids, max_iterations=14).collect()
    by = {r["doc_id"]: r for r in out}
    assert len(out) == 1000 + 101 + 2
    assert all(by[i]["cluster_id"] == 1000 for i in range(1000, 2000))
    assert all(by[5000 + j]["cluster_id"] == 5000 for j in range(101))
    assert by[9001]["keep"] and by[9001]["cluster_id"] == 9001
    keeps = sorted(r["doc_id"] for r in out if r["keep"])
    assert keeps == [1000, 5000, 9001, 9002]


def test_repetition_stats_planted(spark):
    """Gopher-style repetition metrics on constructed docs with known
    line/ngram duplication."""
    rows = [
        # 4 lines, 'dup' twice: dup_line_frac=(4-3)/4=0.25;
        # chars: dup(3)*2 + unique a(1) + b(1) = 8 total, 6 dup -> 0.75
        (1, "dup\ndup\na\nb"),
        # 'x y' 2-gram three times out of 5 2-grams: top2=3/5
        # 5-grams: 'x y x y x'(0..4) 'y x y x y'(1..5): all distinct -> 0
        (2, "x y x y x y"),
        # every 5-gram repeats: 'a a a a a' x6 of 6 -> dup5=1.0
        (3, "a a a a a a a a a a"),
        (4, ""),
        (5, "just one plain line of text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in textstats.repetition_stats(df).collect()}
    assert abs(got[1]["dup_line_frac"] - 0.25) < 1e-9
    assert abs(got[1]["dup_line_char_frac"] - 0.75) < 1e-9
    assert abs(got[2]["top2gram_frac"] - 3 / 5) < 1e-9
    assert got[2]["dup5gram_frac"] == 0.0
    assert got[3]["dup5gram_frac"] == 1.0
    assert got[4]["dup_line_frac"] == 0.0 and got[4]["top2gram_frac"] == 0.0
    assert got[5]["dup_line_frac"] == 0.0

    kept = {r["doc_id"] for r in textstats.repetition_filter(df).collect()}
    # doc1 fails dup_line rules; doc2 fails top2gram; doc3 fails dup5gram
    assert kept == {4, 5}


def test_curate_corpus_composition(spark):
    """curate_corpus: token bounds + repetition filter + near-dup
    survivor pick + stable split + packing in one call, with every
    document's fate."""
    from vrl_spark.operators.curation import curate_corpus

    base = ("diverse training documents need enough distinct words to "
            "pass repetition thresholds while remaining realistic text")
    rows = [
        (1, base),
        (2, base),                               # exact dup of 1 -> dropped
        (3, "tiny"),                              # < min_tokens -> dropped
        (4, "spam spam spam spam spam spam spam spam spam spam"),  # repetition
        (5, "an entirely different document about graph algorithms and "
            "distributed label propagation at scale"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fates = {r["doc_id"]: r for r in curate_corpus(
        df, min_tokens=3, max_tokens=100, max_top2gram_frac=0.2,
        dedup_threshold=0.7, pack_budget=30,
    ).collect()}
    # 2 deduped, 3 too short, 4 repetitive
    assert {d: r["fate"] for d, r in fates.items()} == {
        1: "kept", 2: "near_dup", 3: "token_bounds",
        4: "repetition", 5: "kept",
    }
    kept = [r for r in fates.values() if r["fate"] == "kept"]
    assert all(r["split"] in ("train", "val", "test") for r in kept)
    assert all(r["pack_id"] >= 0 for r in kept)
    assert all(
        (r["fate"] == "kept") == (r["pack_id"] is not None
                                  and r["split"] is not None)
        for r in fates.values()
    )


def test_decontamination_flags_and_filter(spark):
    """13-gram-style collision flagging: docs containing a benchmark
    n-gram are flagged."""
    bench = spark.createDataFrame(
        [("what is the capital of france and when was it founded",)],
        ["text"],
    )
    docs = spark.createDataFrame(
        [(1, "quiz answers what is the capital of france and when was it "
             "founded according to records"),           # contains bench 8-gram
         (2, "completely unrelated text about streaming joins and shuffle "
             "partitions in distributed engines today"),
         (3, "what is the capital of spain and when was it founded"),  # no shared 8-gram run
         ],
        ["doc_id", "text"],
    )
    flags = {r["doc_id"]: r["contaminated"] for r in
             textstats.contamination_flags(docs, bench, n=8).collect()}
    assert flags == {1: True, 2: False, 3: False}


def test_pii_scrub_categories(spark):
    from vrl_spark.operators import pii

    rows = [
        (1, "mail me at alice.b+tag@sub.example.co.uk thanks"),
        (2, "server at 192.168.1.254 and also 999.1.1.1 bad"),
        (3, "ssn 219-09-9999 but not 666-01-1234 or 000-12-3456"),
        (4, "card 4111-1111-1111-1111 or 4111 1111 1111 1111 or 4111111111111111"),
        (5, "call 415-555-2671 or 415.555.2671 but not 41-555-2671"),
        (6, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in pii.pii_scrub(df).collect()}

    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["scrubbed"]
    assert "alice" not in out[1]["scrubbed"]
    # 999.1.1.1 must NOT match (octet range check) — but note the
    # tail ".1.1.1" alone doesn't form a dotted quad either
    assert out[2]["n_ipv4"] == 1
    assert "192.168.1.254" not in out[2]["scrubbed"]
    # reference-exact SSN: area 666 and group 00/serial shapes excluded
    assert out[3]["n_us_ssn"] == 1
    assert out[3]["scrubbed"].count("<SSN>") == 1
    assert out[4]["n_credit_card"] == 3
    assert out[5]["n_phone"] == 2
    assert out[6]["pii_total"] == 0 and out[6]["scrubbed"] == out[6]["text"]
    assert out[1]["pii_total"] == 1


def test_pii_scrub_stays_jvm_side(spark):
    from vrl_spark.operators import pii

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    plan = pii.pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # map-only: no exchange anywhere
    assert "Exchange" not in plan


def test_pii_filter_subset_and_unknown(spark):
    from vrl_spark.operators import pii

    df = spark.createDataFrame(
        [(1, "a@b.co and 10.0.0.1")], ["doc_id", "text"]
    )
    row = pii.pii_scrub(df, filters=["email"]).collect()[0]
    assert row["n_email"] == 1 and row["pii_total"] == 1
    assert "10.0.0.1" in row["scrubbed"]  # ipv4 filter not selected
    with pytest.raises(ValueError):
        pii.pii_scrub(df, filters=["nope"])


def test_url_normalize_contract(spark):
    from vrl_spark.operators import urltools

    cases = [
        # (input, expected canonical)
        ("HTTP://User:Pw@Example.COM:80/A/b/?b=2&utm_source=x&a=1#frag",
         "http://example.com/A/b?a=1&b=2"),
        ("https://example.com:443/", "https://example.com/"),
        ("https://example.com:8443/x/", "https://example.com:8443/x"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com/?gclid=1&fbclid=2&ref=x&utm_campaign=c",
         "http://example.com/"),
        ("http://example.com/p?z=1&a=2&a=1", "http://example.com/p?a=1&a=2&z=1"),
        ("not a url", "not a url"),  # no scheme:// -> passthrough
        ("mailto:joe@example.com", "mailto:joe@example.com"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], ["i", "url"]
    )
    out = {r["i"]: r["c"] for r in df.select(
        "i", urltools.url_normalize(F.col("url")).alias("c")).collect()}
    for i, (u, want) in enumerate(cases):
        assert out[i] == want, (u, out[i], want)


def test_url_dedup_survivor(spark):
    from vrl_spark.operators import urltools

    rows = [
        (1, "http://a.com/x?id=1"),
        (2, "HTTP://A.com:80/x/?id=1#top"),
        (3, "http://a.com/x?utm_medium=m&id=1"),
        (4, "http://a.com/y?id=1"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = {r["canonical_url"]: r for r in
           urltools.url_dedup(df).collect()}
    assert out["http://a.com/x?id=1"]["keep_id"] == 1
    assert out["http://a.com/x?id=1"]["dup_count"] == 3
    assert out["http://a.com/y?id=1"]["dup_count"] == 1
    # map-only until the single agg shuffle, no Python anywhere
    plan = urltools.url_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1


def test_asof_join_semantics(spark):
    from datetime import datetime as dt

    from vrl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, dt(2024, 1, 5)), (2, 10, dt(2024, 1, 1)),
         (3, 10, dt(2024, 1, 10)), (4, 20, dt(2024, 1, 5))],
        ["eid", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(10, dt(2024, 1, 2), "v1"), (10, dt(2024, 1, 5), "v2"),
         (10, dt(2024, 1, 8), "v3"), (30, dt(2024, 1, 1), "zz")],
        ["k", "vts", "ver"],
    )
    out = {r["eid"]: r for r in asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="vts").collect()}
    assert out[1]["ver"] == "v2"            # tie: inclusive (vts == ts wins)
    assert out[2]["ver"] is None            # before first version
    assert out[2]["matched_ts"] is None
    assert out[3]["ver"] == "v3"
    assert out[4]["ver"] is None            # key with no right rows
    assert out[1]["matched_ts"] == dt(2024, 1, 5)


def test_asof_join_tolerance_and_collisions(spark):
    from datetime import datetime as dt

    from vrl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, dt(2024, 1, 5)), (2, 10, dt(2024, 1, 20))],
        ["eid", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(10, dt(2024, 1, 4), "v1")], ["k", "vts", "ver"]
    )
    import pytest as _pytest
    bad = right.withColumnRenamed("ver", "eid")  # collides with left
    with _pytest.raises(ValueError):
        asof_join(left, bad, on=["k"], left_ts="ts", right_ts="vts")
    # names asof_join introduces internally are reserved in BOTH inputs
    for taken in ("matched_ts", "_ts", "_is_left"):
        with _pytest.raises(ValueError, match="reserved"):
            asof_join(
                left.withColumn(taken, F.lit(1)), right,
                on=["k"], left_ts="ts", right_ts="vts",
            )
        with _pytest.raises(ValueError, match="reserved"):
            asof_join(
                left, right.withColumn(taken, F.lit(1)),
                on=["k"], left_ts="ts", right_ts="vts",
            )


def test_asof_join_single_shuffle(spark):
    from datetime import datetime as dt

    from vrl_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, dt(2024, 1, 5))], ["eid", "k", "ts"])
    right = spark.createDataFrame([(10, dt(2024, 1, 4), "v")], ["k", "vts", "ver"])
    plan = asof_join(left, right, on=["k"], left_ts="ts", right_ts="vts")\
        ._jdf.queryExecution().executedPlan().toString()
    # carry-forward union: exactly one Exchange (the window's key
    # shuffle) and no join operator at all
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_line_dedup_boilerplate(spark):
    nav = "SHARED NAVIGATION BAR LINE"
    rows = [
        (1, f"{nav}\nunique content one\nxx"),
        (2, f"{nav}\nunique content two"),
        (3, nav),                      # all lines are boilerplate
        (4, "xx\nunique content four"),  # 'xx' dup but < min_chars
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.line_dedup(
        df, min_docs=2, min_chars=10).collect()}
    assert out[1]["cleaned"] == "unique content one\nxx"
    assert out[1]["n_removed"] == 1
    assert out[2]["cleaned"] == "unique content two"
    assert out[3]["cleaned"] == "" and out[3]["n_removed"] == 1
    assert out[4]["cleaned"] == "xx\nunique content four"  # short line kept
    assert out[4]["n_removed"] == 0


def test_gopher_rules_vectors(spark):
    good = " ".join(
        ["the quick brown fox jumps over that lazy dog with great energy"] * 5
    )
    rows = [
        (1, good),                                   # passes everything
        (2, "too few words here"),                   # word-count floor
        (3, good + "\nmore...\nagain...\nyet..."),   # ellipsis lines
        (4, good + " ##### " * 20),                  # symbol ratio
        (5, " ".join(["1234"] * 60)),                # alpha + stopwords fail
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.gopher_rules(df).collect()}
    assert out[1]["keep"] is True
    assert out[1]["n_words"] == 60
    assert out[1]["stopword_hits"] == 3          # the, that, with
    assert out[2]["keep"] is False and out[2]["n_words"] == 4
    assert out[3]["keep"] is False
    assert out[3]["ellipsis_frac_x1m"] == 750000  # 3 of 4 lines
    assert out[4]["keep"] is False
    assert out[4]["symbol_ratio_x1m"] > 100000
    assert out[5]["keep"] is False
    assert out[5]["alpha_word_frac_x1m"] == 0
    # map-only plan
    plan = textstats.gopher_rules(df)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_vocab_stats_ranking(spark):
    rows = [
        (1, "alpha beta gamma alpha"),
        (2, "alpha beta"),
        (3, "alpha delta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["token"]: r for r in
           textstats.vocab_stats(df, top_k=3).collect()}
    assert out["alpha"]["rank"] == 1
    assert out["alpha"]["doc_freq"] == 3 and out["alpha"]["total_freq"] == 4
    assert out["beta"]["rank"] == 2 and out["beta"]["doc_freq"] == 2
    # doc_freq tie between delta and gamma -> token text breaks it
    assert out["delta"]["rank"] == 3
    assert "gamma" not in out  # cut by top_k
    # top-k lowering: TakeOrdered heaps, not a global sort shuffle
    plan = textstats.vocab_stats(df, top_k=3)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_chunk_documents_windows(spark):
    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "one two"), (3, "")], ["doc_id", "text"]
    )
    out = textstats.chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r
    # stride 3: starts 0,3,6,9 -> 4 chunks, last is the tail word
    assert len(by_doc[1]) == 4
    assert by_doc[1][0]["chunk_text"] == "w0 w1 w2 w3"
    assert by_doc[1][1]["chunk_text"] == "w3 w4 w5 w6"  # 1-token overlap
    assert by_doc[1][3]["chunk_text"] == "w9"
    assert by_doc[1][3]["n_chunk_tokens"] == 1
    assert by_doc[2][0]["chunk_text"] == "one two" and len(by_doc[2]) == 1
    assert 3 not in by_doc  # empty doc -> no chunks
    # whitespace-only docs (tab/newline survive Spark's space-only trim)
    # must also yield zero chunks, matching the generate_series oracle
    ws = spark.createDataFrame(
        [(9, "\t"), (10, "\n \n"), (11, "   ")], ["doc_id", "text"]
    )
    assert textstats.chunk_documents(ws, chunk_tokens=4, overlap=1).count() == 0
    with pytest.raises(ValueError):
        textstats.chunk_documents(df, chunk_tokens=4, overlap=4)
    # map-only
    plan = textstats.chunk_documents(df)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_bm25_scores_semantics(spark):
    import math

    from vrl_spark.operators import retrieval

    rows = [
        (1, "spark spark spark engine"),
        (2, "spark engine"),
        (3, "totally unrelated words here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["score"] for r in
           retrieval.bm25_scores(df, ["spark"]).collect()}
    assert out[3] == 0.0
    assert out[1] > out[2] > 0          # higher tf wins
    # hand-computed doc 2: N=3, df=2, tf=1, dl=2, avgdl=10/3
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    want = idf * (1 * 2.2) / (1 + 1.2 * (1 - 0.75 + 0.75 * 2 / (10 / 3)))
    assert abs(out[2] - want) < 1e-9
    with pytest.raises(ValueError):
        retrieval.bm25_scores(df, [])
    # query terms are filtered BEFORE the explode; no Python anywhere
    plan = retrieval.bm25_scores(df, ["spark"])._jdf.queryExecution()\
        .executedPlan().toString()
    assert "EvalPython" not in plan and "CartesianProduct" not in plan


def test_tfidf_doc_vectors_hand_computed(spark):
    import math

    from vrl_spark.operators import retrieval

    rows = [
        (1, "apple apple banana"),
        (2, "banana cherry"),
        (3, "cherry durian durian durian"),
        (4, "   "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["terms"] for r in
           retrieval.tfidf_doc_vectors(df, top_k=2).collect()}
    # N=4 (whitespace-only doc counts toward N), df: apple 1, banana 2,
    # cherry 2, durian 1
    ln4, ln2 = math.log(4.0), math.log(2.0)
    w_apple, w_banana = 2 * ln4, ln2
    nrm1 = math.sqrt(w_apple ** 2 + w_banana ** 2)
    assert [t["term"] for t in out[1]] == ["apple", "banana"]
    assert abs(out[1][0]["weight"] - w_apple / nrm1) < 1e-9
    assert abs(out[1][1]["weight"] - w_banana / nrm1) < 1e-9
    # doc 2: equal weights (both ln2) -> term-asc tiebreak
    assert [t["term"] for t in out[2]] == ["banana", "cherry"]
    assert abs(out[2][0]["weight"] - 1 / math.sqrt(2)) < 1e-9
    # top_k truncation: doc 3 has 2 terms, durian (3*ln4) dominates
    assert [t["term"] for t in out[3]] == ["durian", "cherry"]
    # empty doc -> present with empty vector
    assert out[4] == []
    # L2 normalization: every vector has unit norm
    for terms in (out[1], out[2]):
        assert abs(sum(t["weight"] ** 2 for t in terms) - 1.0) < 1e-9
    plan = retrieval.tfidf_doc_vectors(df)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "EvalPython" not in plan and "CartesianProduct" not in plan


def test_tfidf_query_scores_cosine(spark):
    import math

    from vrl_spark.operators import retrieval

    rows = [
        (1, "apple apple banana"),
        (2, "banana cherry"),
        (3, "cherry durian durian durian"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["score"] for r in
           retrieval.tfidf_query_scores(df, ["APPLE", "cherry"]).collect()}
    ln3 = math.log(3.0)
    ln15 = math.log(1.5)
    # query idfs from matched corpus terms: apple ln3, cherry ln1.5
    qn = math.sqrt(ln3 ** 2 + ln15 ** 2)
    w_apple, w_banana = 2 * ln3, ln15
    hat_apple = w_apple / math.sqrt(w_apple ** 2 + w_banana ** 2)
    assert abs(out[1] - hat_apple * ln3 / qn) < 1e-9
    hat_cherry2 = ln15 / math.sqrt(2 * ln15 ** 2)
    assert abs(out[2] - hat_cherry2 * ln15 / qn) < 1e-9
    assert out[3] > 0  # cherry matches
    with pytest.raises(ValueError):
        retrieval.tfidf_query_scores(df, [])


def test_unigram_nll_rare_tokens_score_higher(spark):
    import math

    from vrl_spark.operators import retrieval

    rows = [
        (1, "common common common common"),
        (2, "common rare"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in retrieval.unigram_nll(df).collect()}
    # corpus: common x5, rare x1, total 6
    nll_common = -math.log(5 / 6)
    nll_rare = -math.log(1 / 6)
    assert abs(out[1]["mean_nll"] - nll_common) < 1e-9
    assert abs(out[2]["mean_nll"] - (nll_common + nll_rare) / 2) < 1e-9
    assert out[2]["mean_nll"] > out[1]["mean_nll"]  # rare = surprising
    assert out[3]["mean_nll"] == 0.0 and out[3]["n_tokens"] == 0


def test_domain_stats_rollup(spark):
    from vrl_spark.operators import urltools

    rows = [
        (1, "http://a.example.com/x", "one two three"),
        (2, "http://b.example.com/y", "four five"),
        (3, "http://a.example.com/z", "six"),
        (4, "http://shop.portal.co.uk/q", "seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    out = {r["domain"]: r for r in urltools.domain_stats(df).collect()}
    ex = out["example.com"]
    assert ex["n_docs"] == 3 and ex["n_hosts"] == 2
    assert ex["total_tokens"] == 6
    assert ex["mean_doc_tokens_x1m"] == 2000000
    uk = out["portal.co.uk"]  # multi-label public suffix -> eTLD+1
    assert uk["n_docs"] == 1 and uk["total_tokens"] == 4


def test_pagerank_cycle_and_dangling(spark):
    from vrl_spark.operators.graph import pagerank

    # 2-cycle: symmetric fixpoint 0.5/0.5 at every iteration
    cyc = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    out = {r["node"]: r["rank"] for r in pagerank(cyc, iterations=3).collect()}
    assert abs(out[1] - 0.5) < 1e-12 and abs(out[2] - 0.5) < 1e-12

    # dangling node: A->B, B has no out-edges; hand-computed 2 steps
    # step1: dang=.5, B_in=.5   -> A=.075+.85*.25=.2875, B=.7125
    # step2: dang=.7125, B_in=.2875
    #   A=.075+.85*(.7125/2)=.3778125, B=.075+.85*(.2875+.35625)=.6221875
    dg = spark.createDataFrame([(1, 2)], ["src", "dst"])
    out = {r["node"]: r["rank"] for r in pagerank(dg, iterations=2).collect()}
    assert abs(out[1] - 0.3778125) < 1e-12
    assert abs(out[2] - 0.6221875) < 1e-12
    # mass conserved
    assert abs(sum(out.values()) - 1.0) < 1e-12


def test_hits_star_graph(spark):
    from vrl_spark.operators.graph import hits

    # star: 1,2,3 all point at 4 -> node 4 is the authority, 1-3 are
    # equal hubs, and the L1 norms make the values exact rationals
    edges = spark.createDataFrame(
        [(1, 4), (2, 4), (3, 4)], ["src", "dst"]
    )
    out = {r["node"]: r for r in hits(edges, iterations=3).collect()}
    assert abs(out[4]["authority"] - 1.0) < 1e-12
    assert out[4]["hub"] == 0.0
    for n in (1, 2, 3):
        assert abs(out[n]["hub"] - 1 / 3) < 1e-12
        assert out[n]["authority"] == 0.0


def test_graph_loops_are_collect_free(spark, monkeypatch):
    """Per-iteration scalars (dangling mass, L1 totals) ride as 1-row
    broadcasts inside each round's checkpoint job — neither loop may
    call DataFrame.collect (the setup count()s are allowed)."""
    from pyspark.sql import DataFrame

    from vrl_spark.operators.graph import hits, pagerank

    calls = {"n": 0}
    orig = DataFrame.collect

    def counting_collect(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4)], ["src", "dst"]
    )
    pagerank(edges, iterations=4)
    hits(edges, iterations=4)
    assert calls["n"] == 0, f"{calls['n']} driver collects inside the loops"


def test_iterative_loops_leave_shuffle_partitions_alone(spark, monkeypatch):
    """PageRank, HITS and the distributed connected-components loop
    never set the session-global spark.sql.shuffle.partitions: a
    query planned from another thread on the same session would pick
    the setting up."""
    from pyspark.sql.conf import RuntimeConfig

    from vrl_spark.operators.graph import hits, pagerank

    keys = []
    orig = RuntimeConfig.set

    def recording_set(self, key, value):
        keys.append(key)
        return orig(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    # no edge list fits a zero cap: dedup_clusters takes its loop
    monkeypatch.setattr(dedup, "DRIVER_EDGES_MAX", 0)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4)], ["src", "dst"]
    )
    assert pagerank(edges, iterations=3).count() == 4
    assert hits(edges, iterations=3).count() == 4
    clusters = dedup.dedup_clusters(edges.toDF("id_a", "id_b")).collect()
    assert {r["cluster_id"] for r in clusters} == {1}
    assert "spark.sql.shuffle.partitions" not in keys, keys


def test_funnel_ordered_subsequence(spark):
    from datetime import datetime as dt

    from vrl_spark.operators.funnel import funnel

    t = lambda m: dt(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        (2, t(0), "click"), (2, t(1), "view"),        # click BEFORE view
        (3, t(0), "purchase"),                        # never views
        (4, t(0), "view"), (4, t(1), "purchase"), (4, t(2), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {r["step_idx"]: r for r in
           funnel(df, ["view", "click", "purchase"]).collect()}
    assert out[1]["n_users"] == 3 and out[1]["step_name"] == "view"
    assert out[2]["n_users"] == 2    # users 1 and 4
    assert out[3]["n_users"] == 1    # only user 1 purchases after click
    import pytest as _pytest
    with _pytest.raises(ValueError):
        funnel(df, [])


def test_profile_stats_exact_quantiles(spark):
    rows = [("a", v) for v in (1, 2, 3, 4)] + [("b", 10)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["g"]: r for r in
           textstats.profile_stats(df, "g", "v").collect()}
    a = out["a"]
    assert a["n"] == 4 and a["min_v"] == 1 and a["max_v"] == 4
    assert a["mean_x1m"] == 2500000
    assert a["p50_x1m"] == 2500000          # interpolated median of 1..4
    assert a["p90_x1m"] == 3700000          # 1 + 0.9*3 interpolation
    b = out["b"]
    assert b["n"] == 1 and b["p50_x1m"] == 10000000


def test_template_mining(spark):
    from vrl_spark.operators.textstats import mine_templates

    rows = [
        (1, "error 404 at 10.0.0.1 req 550e8400-e29b-41d4-a716-446655440000"),
        (2, "error 500 at 10.0.0.9 req 550e8400-e29b-41d4-a716-446655440001"),
        (3, "worker deadbeefcafe1234 started"),
        (4, "worker deadbeefcafe9999 started"),
        (5, "a singleton line"),
    ]
    df = spark.createDataFrame(rows, ["i", "text"])
    out = {r["template"]: r for r in mine_templates(df, "text").collect()}
    err = out["error <N> at <IP> req <UUID>"]
    assert err["n_lines"] == 2
    assert err["example"].startswith("error 404")  # lexicographic min
    assert out["worker <HEX> started"]["n_lines"] == 2
    assert "a singleton line" not in out  # below min_count


def test_error_rate_anomalies(spark):
    from datetime import datetime as dt

    from vrl_spark.operators.anomaly import error_rate_anomalies

    rows = []
    # user 1: 3 calm days (1 error in 10), then a day of all errors
    for day in (1, 2, 3):
        rows += [(1, dt(2024, 1, day, h), "error" if h == 0 else "view")
                 for h in range(10)]
    rows += [(1, dt(2024, 1, 4, h), "error") for h in range(10)]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {str(r["bucket"].date()): r for r in
           error_rate_anomalies(df).collect()}
    spike = out["2024-01-04"]
    assert spike["err_rate"] == 1.0
    # constant baseline -> zero spread -> infinite z reported as NULL,
    # but the break IS flagged
    assert spike["is_anomaly"] is True and spike["z"] is None
    # first three days: no full trailing frame or zero spread -> never
    # anomalous
    for day in ("2024-01-01", "2024-01-02", "2024-01-03"):
        assert out[day]["is_anomaly"] is False
        assert out[day]["z"] is None


def test_extract_entities_lists(spark):
    from vrl_spark.operators import pii

    df = spark.createDataFrame(
        [(1, "a@b.co then c@d.org from 10.0.0.1"), (2, "nothing here")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in pii.extract_entities(
        df, filters=["email", "ipv4"]).collect()}
    assert out[1]["email_list"] == "a@b.co|c@d.org"
    assert out[1]["ipv4_list"] == "10.0.0.1"
    assert out[1]["entity_total"] == 3
    assert out[2]["email_list"] == "" and out[2]["entity_total"] == 0


def test_asof_join_null_payload_value_not_skipped(spark):
    """Regression: per-column last(ignorenulls) skipped a genuinely
    NULL right value and carried an OLDER row's payload, mixing fields
    across right rows. The struct carry keeps row integrity."""
    from datetime import datetime as dt

    from vrl_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, dt(2024, 1, 3))], ["eid", "k", "ts"])
    right = spark.createDataFrame(
        [(10, dt(2024, 1, 1), "v5"), (10, dt(2024, 1, 2), None)],
        ["k", "vts", "ver"],
    )
    row = asof_join(left, right, on=["k"], left_ts="ts",
                    right_ts="vts").collect()[0]
    assert row["matched_ts"] == dt(2024, 1, 2)
    assert row["ver"] is None  # the matched row's (null) value, not v5


def test_url_normalize_non_url_with_hash_unchanged(spark):
    from vrl_spark.operators import urltools

    df = spark.createDataFrame(
        [(1, "not-a-url #anchor"), (2, "plain")], ["i", "u"]
    )
    out = {r["i"]: r["c"] for r in df.select(
        "i", urltools.url_normalize(F.col("u")).alias("c")).collect()}
    assert out[1] == "not-a-url #anchor"  # fragment NOT stripped
    assert out[2] == "plain"


def test_pii_empty_filters_rejected(spark):
    from vrl_spark.operators import pii

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        pii.pii_scrub(df, filters=[])
    with pytest.raises(ValueError):
        pii.extract_entities(df, filters=[])


def test_hits_zero_iterations_rejected(spark):
    from vrl_spark.operators.graph import hits

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError):
        hits(edges, iterations=0)


def test_span_dedup_planted(spark):
    """Cross-doc span removal: a shared 5-token run is cut from every
    doc; unique text survives; short docs and overlap-merged covers
    behave."""
    span = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"one two three {span} four five"),
        (2, f"{span} six seven eight nine ten"),
        (3, "entirely unique words nothing shared here at all"),
        (4, "tiny doc"),  # < ngram tokens: untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["span_text"], r["n_removed"])
        for r in textstats.span_dedup(
            df, "text", "doc_id", ngram=5, min_docs=2
        ).collect()
    }
    assert out[1] == ("one two three four five", 5)
    assert out[2] == ("six seven eight nine ten", 5)
    assert out[3] == ("entirely unique words nothing shared here at all", 0)
    assert out[4] == ("tiny doc", 0)
    # longer shared span than ngram: overlapping grams merge to the
    # exact span cover, not more
    long_span = "p q r s t u v"  # 7 tokens, ngram 5 -> 3 grams
    rows2 = [
        (1, f"head {long_span} tail"),
        (2, f"start {long_span} end"),
    ]
    df2 = spark.createDataFrame(rows2, ["doc_id", "text"])
    out2 = {
        r["doc_id"]: (r["span_text"], r["n_removed"])
        for r in textstats.span_dedup(
            df2, "text", "doc_id", ngram=5, min_docs=2
        ).collect()
    }
    assert out2[1] == ("head tail", 7)
    assert out2[2] == ("start end", 7)


def test_span_dedup_plan_shape(spark, sf_dir):
    """All-relational: no Python eval; the text column never shuffles
    (only token/gram keys do)."""
    from tests.test_scale_plans import plan_of

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(textstats.span_dedup(docs, "text", "doc_id"))
    assert "EvalPython" not in plan


def test_span_dedup_keep_cols_clash(spark):
    df = spark.createDataFrame([(1, "a b", "x")], ["doc_id", "text", "n_removed"])
    with pytest.raises(ValueError):
        textstats.span_dedup(df, "text", "doc_id", keep_cols=["n_removed"])
