"""Deduplication operators for large-scale training-data pipelines.

Scale design (the 100 TB story):

- minhash LSH shingle -> K minhashes -> B bands; candidate pairs come
              from an equi-join on (band_id, band_signature) — a plain
              shuffle-hash join on short strings, never an O(n^2)
              cross join. Verification re-computes true jaccard only
              on candidates.
- simhash     64-bit signature over md5-derived token hashes; near-dup
              = hamming distance <= r; banding on bit-chunks gives the
              same join-not-crossjoin property.
- ngram       exact jaccard on word n-grams within cheap blocks.

Determinism: every hash used for ORACLE-checked paths is md5-based
(stable across engines); xxhash64 paths are engine-internal.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------
# shingling + minhash
# ---------------------------------------------------------------------


def word_shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct), pure JVM expression.

    ``bind`` fixes the round-1 bill: ``toks`` referenced inside the
    per-gram lambda was an outer EXPRESSION, so the whole split was
    re-executed once per gram (5.6 s -> 0.35 s for a 260 k-shingle
    corpus after binding it to a lambda variable)."""
    from vrl_spark.functions.parse import bind

    def body(toks: Column) -> Column:
        k = F.size(toks)
        last = F.greatest(k - n, F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(0), last),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
        empty = F.trim(col) == ""
        return (
            F.when(empty, F.array().cast("array<string>"))
            .when(k >= n, F.array_distinct(grams))
            .otherwise(F.array(F.array_join(toks, " ")))
        )

    return bind(F.split(F.lower(F.trim(col)), r"\s+"), body)


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """K independent minhashes, md5-derived so the identical value is
    computable in DuckDB (the portability trick that makes the LSH
    pipeline oracle-checkable).

    hash_i(s) = hex-substring i%4 of md5((i//4) || '|' || s): one md5
    yields FOUR independent 32-bit minhash pieces, so K=16 costs 4
    md5 calls per shingle, not 16. Mins are taken as fixed-width hex
    STRING mins (= numeric mins). Computed as one fold over the
    shingles carrying a K-wide running-min vector."""
    from vrl_spark.functions.parse import bind

    n_md5 = (num_hashes + 3) // 4
    init = F.array_repeat(F.lit("g"), num_hashes)  # 'g' > any hex digit

    def pieces(s: Column) -> Column:
        # concat the md5s ONCE (bound to a lambda var — an unbound
        # reference would re-run all n_md5 hashes per slice), then
        # slice 8-hex-char (32-bit) pieces
        cat = F.concat(
            *[F.md5(F.concat(F.lit(f"{j}|"), s)) for j in range(n_md5)]
        )
        return bind(
            cat,
            lambda c: F.array(
                *[F.substring(c, 1 + 8 * i, 8) for i in range(num_hashes)]
            ),
        )

    folded = F.aggregate(
        shingles,
        init,
        lambda acc, s: F.zip_with(acc, pieces(s), lambda a, b: F.least(a, b)),
    )
    # empty shingle set -> NULL signature (matches array_min semantics)
    return F.when(F.size(shingles) > 0, folded)


def _minhash_md5_sig_udf(num_hashes: int):
    """Arrow-batched md5 minhash signature: bit-identical to
    :func:`minhash_signature` (pinned by
    ``test_minhash_md5_batched_equals_jvm_fold``, empty/None shingle
    arrays and K % 4 != 0 included), ~2.3x
    faster. The JVM fold pays interpreted HOF evaluation per
    (shingle x hash) — a 16-wide string zip_with per shingle; here the
    whole batch flattens once, each shingle pays ``ceil(K/4)`` native
    hashlib md5 calls, the 32-bit hex pieces become uint32s, and the
    per-doc minima collapse via one ``np.minimum.reduceat`` per batch
    (guide §4.2: hand whole batches to native code). Map-only — the
    shingle arrays already ride the row, nothing shuffles."""
    from pyspark.sql.functions import pandas_udf

    n_md5 = (num_hashes + 3) // 4

    @pandas_udf("array<string>")
    def sig(sh_ser: pd.Series) -> pd.Series:
        import hashlib
        import struct

        import numpy as np

        md5 = hashlib.md5
        prefixes = [f"{j}|".encode() for j in range(n_md5)]
        unpack = struct.Struct(f">{n_md5 * 4}I").unpack
        docs = []  # (row_idx, n_shingles)
        pieces: list[tuple] = []
        for idx, shingles in enumerate(sh_ser):
            if shingles is None or len(shingles) == 0:
                continue
            docs.append((idx, len(shingles)))
            for s in shingles:
                b = s.encode("utf-8")
                pieces.append(unpack(
                    b"".join(md5(p + b).digest() for p in prefixes)
                ))
        out = [None] * len(sh_ser)
        if docs:
            arr = np.array(pieces, dtype=np.uint64)[:, :num_hashes]
            lens = np.fromiter((n for _, n in docs), dtype=np.int64,
                               count=len(docs))
            starts = np.zeros(len(docs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            mins = np.minimum.reduceat(arr, starts, axis=0)
            for (idx, _), row in zip(docs, mins):
                out[idx] = [format(v, "08x") for v in row]
        return pd.Series(out)

    return sig


def minhash_signature_md5_batched(shingles: Column, num_hashes: int = 16) -> Column:
    """Batched md5 signature (values identical to
    :func:`minhash_signature`; see :func:`_minhash_md5_sig_udf`)."""
    return _minhash_md5_sig_udf(num_hashes)(shingles)


def minhash_signature_xxh(shingles: Column, num_hashes: int = 16) -> Column:
    """Engine-default signature: K seeded xxhash64 longs, folded to a
    running min — no strings, no md5, ~18x the md5 path's throughput
    (0.5 s vs 9.2 s per 260 k shingles measured). Values are NOT
    portable to DuckDB; oracle-checked queries keep the md5 variant.
    xxhash64(i, s) seeds by hashing the literal index ahead of the
    shingle, giving K independent hash families."""
    init = F.array_repeat(F.lit(2**63 - 1), num_hashes)
    folded = F.aggregate(
        shingles,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(F.lit(i), s) for i in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )
    return F.when(F.size(shingles) > 0, folded)


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, shingles) for the LSH pipeline's three consumers (signature
    + two verify sides).

    Not persisted: after the ``bind`` fix shingling costs ~0.4 s/260 k
    shingles, while caching the blown-up array<string> intermediate
    costs ~4 s of columnar serialization — recomputing from the
    (compressed, column-pruned) source scan is cheaper, and at cluster
    scale a pipelined re-scan beats materializing an intermediate
    larger than its input."""
    return df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("shingles")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    engine: str = "xxh",
) -> DataFrame:
    """Candidate near-dup pairs via banded minhash-LSH.

    rows -> (band_id, band_sig) keys -> self equi-join. At 100 TB the
    join keys are (int, short hex concat) — small, shuffle-friendly;
    hot buckets (boilerplate pages) are exactly what AQE skew-join
    splitting handles. The self-join is HINTED shuffle_hash: Spark's
    size estimate sees the small parquet source and picks broadcast,
    which would rebuild the whole expensive signature subplan
    single-threaded on the driver.

    engine: 'xxh' (DEFAULT — seeded-xxhash64 longs, ~18x faster
    signature, the path a defaults-caller should get at 100 TB) or
    'md5' (DuckDB-portable values, pinned explicitly by the oracle
    queries).
    """
    from vrl_spark.functions.parse import materialize

    rows_per_band = num_hashes // bands
    sh = shingles if shingles is not None else shingle_table(
        df, text_col, id_col, shingle_n
    )
    if engine == "md5":
        # batched Arrow path (bit-identical to minhash_signature; the
        # interpreted JVM fold was the query family's dominant cost —
        # 4.6 s vs 2.0 s per sf0.1 corpus pass). The shingle column is
        # routed through a materialize barrier first: an Arrow UDF
        # whose argument is the raw higher-order shingle expression is
        # unevaluable (ExtractPythonUDFs cannot lift it), and the
        # barrier also pins one shingle evaluation per row.
        shm = materialize(
            sh, _sh_b=F.col("shingles")
        ).select(id_col, F.col("_sh_b").alias("shingles"))
        with_sig = shm.select(
            id_col,
            minhash_signature_md5_batched(
                F.col("shingles"), num_hashes
            ).alias("sig"),
        )
    else:
        # materialize: the signature fold must run ONCE per row, not
        # once per band (the banding lambda references it as an outer
        # expression)
        with_sig = materialize(
            sh.select(F.col(id_col), F.col("shingles")),
            sig=minhash_signature_xxh(F.col("shingles"), num_hashes),
        ).select(id_col, "sig")
    if engine == "md5":
        band_key = lambda b: F.array_join(  # noqa: E731 — oracle-portable key
            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band), "|"
        )
    else:
        # hash the band slice to ONE long — narrower shuffle key than
        # the hex concat, same bucketing semantics
        band_key = lambda b: F.xxhash64(  # noqa: E731
            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
        ).cast("string")
    banded = with_sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        band_key(b).alias("band_sig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_sig")
    a = banded.alias("a")
    b = banded.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact jaccard of two (distinct) arrays — JVM set ops."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    **lsh_kwargs,
) -> DataFrame:
    """LSH candidates -> verify with TRUE jaccard >= threshold.

    The verify join re-attaches shingle sets only for candidate ids
    (semi-join pruning), so full documents never pairwise-shuffle."""
    n = lsh_kwargs.get("shingle_n", 3)
    sh = shingle_table(df, text_col, id_col, n)
    pairs = minhash_lsh_pairs(df, text_col, id_col, shingles=sh, **lsh_kwargs)
    sh_a = sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("shingles", "sh_a")
    sh_b = sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("shingles", "sh_b")
    return (
        pairs.join(sh_a.hint("shuffle_hash"), "id_a")
        .join(sh_b.hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------
# n-gram jaccard within blocks (exact, bounded)
# ---------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact jaccard over word n-grams for pairs sharing a block key.

    Blocking bounds the pair count (block sizes are the scale knob);
    an unblocked run is a deliberate O(n^2) and refused."""
    if not block_cols:
        raise ValueError("ngram_jaccard_pairs requires block_cols at scale")
    sh = df.select(
        F.col(id_col), *block_cols,
        word_shingles(F.col(text_col), shingle_n).alias("shingles"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jaccard(F.col("a.shingles"), F.col("b.shingles")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------


def _simhash_vote_fold(bitstrs: Column) -> Column:
    """Fold 64-char bit strings into the sign-of-vote signature string."""
    # ONE pass over the tokens: fold a 64-wide vote counter
    counts = F.aggregate(
        bitstrs,
        F.array_repeat(F.lit(0), 64),
        lambda acc, s: F.zip_with(
            acc,
            F.split(s, ""),
            lambda a, c: a + F.when(c == "1", 1).otherwise(-1),
        ),
    )
    return F.array_join(
        F.transform(counts, lambda v: F.when(v > 0, "1").otherwise("0")), ""
    )


def simhash_bits_md5(col: Column) -> Column:
    """DuckDB-PORTABLE SimHash signature: the per-token 64-bit hash is
    the first 16 hex chars of md5(token) (conv hex->binary, one conv
    per token) — the same portability trick as minhash_signature, so
    the full chunk-banded near-dup pipeline is oracle-checkable."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    bitstrs = F.transform(
        toks,
        lambda t: F.lpad(F.conv(F.substring(F.md5(t), 1, 16), 16, 2), 64, "0"),
    )
    return _simhash_vote_fold(bitstrs)


def _token_hashes_md5(col: Column) -> Column:
    """Per-token 64-bit hashes: the first 16 hex
    chars of md5(token) as a two's-complement long. conv gives the
    unsigned decimal string; the decimal(21,0) subtract maps values
    >= 2^63 into negative long range without overflow."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")

    def h(t: Column) -> Column:
        from vrl_spark.functions.parse import bind

        dec = F.conv(F.substring(F.md5(t), 1, 16), 16, 10).cast("decimal(20,0)")
        # 2^63 / 2^64 exceed the JVM long literal range: lit as strings
        two63 = F.lit("9223372036854775808").cast("decimal(20,0)")
        two64 = F.lit("18446744073709551616").cast("decimal(21,0)")
        return bind(
            dec,
            lambda d: (
                d.cast("decimal(21,0)")
                - F.when(d >= two63, two64)
                .otherwise(F.lit(0).cast("decimal(21,0)"))
            ).cast("long"),
        )

    return F.transform(toks, h)


def _simhash_fold_udf():
    """Arrow-batched numpy vote fold: array<long> token hashes -> the
    64-bit simhash long. The per-bit vote is a segmented popcount
    (np.add.reduceat over the flattened hash array) — 64 vectorized
    passes instead of a per-token interpreted 64-wide zip_with, the
    costliest constant in the round-2 plan audit."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def fold(hs: pd.Series) -> pd.Series:
        import numpy as np

        n = len(hs)
        out = np.zeros(n, dtype=np.uint64)
        valid = hs.notna().to_numpy()
        arrs = [np.asarray(a, dtype=np.int64) for a in hs[valid]]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                           count=len(arrs))
        nonempty = lens > 0
        if nonempty.any():
            flat = np.concatenate([a for a in arrs if len(a)])
            ne_lens = lens[nonempty]
            starts = np.zeros(len(ne_lens), dtype=np.int64)
            np.cumsum(ne_lens[:-1], out=starts[1:])
            sig = np.zeros(len(ne_lens), dtype=np.uint64)
            for j in range(64):
                ones = np.add.reduceat((flat >> j) & 1, starts)
                sig |= (ones * 2 > ne_lens).astype(np.uint64) << np.uint64(j)
            tmp = np.zeros(len(arrs), dtype=np.uint64)
            tmp[nonempty] = sig
            out[valid] = tmp
        res = pd.array(out.view(np.int64), dtype="Int64")
        res[~valid] = pd.NA
        return pd.Series(res)

    return fold


def simhash64_batched(col: Column) -> Column:
    """Vectorized SimHash: token hashes stay JVM-side (DuckDB-portable
    md5-derived longs), the vote fold runs as ONE numpy pandas UDF per
    Arrow batch. Bit-exact vs simhash_bits_md5 (pytest equivalence)."""
    return _simhash_fold_udf()(_token_hashes_md5(col))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_distance.

    Banding: split the 64-bit signature into ``chunks`` 16-bit pieces;
    any pair within distance <= chunks-1 shares at least one piece
    (pigeonhole), so candidates come from an equi-join on
    (chunk_id, chunk_value) — same join-not-crossjoin shape as LSH.

    Token hashes are DuckDB-portable md5-derived longs (the oracle
    replicates the signature from the SAME hex math; its substring
    chunk keys are a bijection of these shift/mask chunk ints, so the
    candidate sets are identical), folded by the numpy vote-fold UDF
    (simhash64_batched); 16-bit chunk ints via shift+mask, XOR +
    bit_count distance.
    """
    from vrl_spark.functions.parse import materialize

    # materialize: the signature must compute ONCE per row, not once
    # per chunk projection
    sig = materialize(
        df.select(F.col(id_col), F.col(text_col)),
        sim=simhash64_batched(F.col(text_col)),
    ).select(id_col, "sim")
    width = 64 // chunks
    pieces = sig.select(
        id_col, "sim",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_id"),
                    F.shiftright(F.col("sim"), c * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("chunk_val"),
                )
                for c in range(chunks)
            ])
        ).alias("p"),
    ).select(id_col, "sim", "p.chunk_id", "p.chunk_val")
    a, b = pieces.alias("a"), pieces.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.sim"), F.col("b.sim")).alias("distance"),
        )
        .distinct()
        .where(F.col("distance") <= max_distance)
    )


# ---------------------------------------------------------------------
# cluster resolution: pairs -> connected components -> keep/drop
# ---------------------------------------------------------------------

# edge lists up to this many rows resolve with a driver union-find
DRIVER_EDGES_MAX = 1_000_000


def dedup_clusters(
    pairs: DataFrame,
    ids: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iterations: int = 30,
) -> DataFrame:
    """Near-dup PAIRS -> (id, cluster_id, keep): the decision stage
    that turns any of the pair-producing operators (minhash / simhash /
    ngram / embedding-cosine) into an actual keep/drop pipeline step.

    cluster_id = the MIN id of the pair-graph connected component;
    keep = (id == cluster_id), i.e. one canonical survivor per cluster.
    ``ids`` (optional, any DataFrame with ``id_col``) adds singleton
    docs that appear in no pair: their own cluster, keep = true.

    Algorithm: edge lists up to ``DRIVER_EDGES_MAX`` rows resolve with
    a driver-side union-find (the duplicate-pair graph is normally a
    tiny fraction of the corpus, and each distributed round costs
    several serial stages of scheduler latency; the union-find labels
    are by definition the same min-id-per-component fixpoint).
    Larger graphs run iterative min-label propagation to fixpoint — a
    plain DataFrame loop, no graph library. Each round every node
    takes the min label among itself and its neighbors (one equi-join
    + one groupBy-min), then a POINTER-JUMP round (label <-
    label(label), a self-join on the label table) halves remaining
    path lengths, so convergence is O(log diameter) rounds, not
    O(diameter) — a chain of 1000 near-identical docs resolves in ~10
    rounds.

    Scale notes (100 TB story):
    - per-round cost: 3 shuffles on (long, long) rows — the edge list,
      never documents. Edges are persisted once and reused each round.
      The shuffles use the session's ``spark.sql.shuffle.partitions``
      (never set here: the setting is session-global), and AQE
      coalesces their reduce side.
    - labels are ``localCheckpoint``-ed each round: iterative loops
      otherwise stack lineage exponentially and re-execute the whole
      history every action (on a cluster: ``checkpoint()`` to reliable
      storage for executor-loss tolerance).
    - convergence = count of changed labels (monotone non-increasing
      labels guarantee termination at the true fixpoint).
    - dup clusters in web corpora are shallow (boilerplate families):
      expect 2-4 rounds in practice.
    """
    sym = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = (
        sym.unionAll(
            sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    n_edges = edges.count()  # also materializes the persist
    spark = pairs.sparkSession
    if n_edges <= DRIVER_EDGES_MAX:
        # SMALL-GRAPH FAST PATH: the duplicate-pair graph is usually a
        # tiny fraction of the corpus, and each distributed round
        # costs several serial 1-partition stages of pure scheduler
        # latency. Pull the edge list once (bounded by
        # ``DRIVER_EDGES_MAX`` rows of two ids) and resolve components
        # with a driver union-find — the labels are BY DEFINITION the
        # same min-id-per-component fixpoint the loop converges to.
        # Bigger graphs take the distributed O(log d) loop below.
        from pyspark.sql import types as T

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        all_ids = set()
        pdf = edges.toPandas()  # Arrow: two id columns, no Row objects
        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            all_ids.add(a)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for x in all_ids:
            r = find(x)
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        id_dt = edges.schema["src"].dataType
        labels = spark.createDataFrame(
            [(x, comp_min[find(x)]) for x in sorted(all_ids)],
            schema=T.StructType([
                T.StructField("id", id_dt),
                T.StructField("label", id_dt),
            ]),
        )
        edges.unpersist()
        return _cc_finish(labels, ids, id_col)
    return _cc_loop(edges, ids, id_col, max_iterations)


def _cc_loop(
    edges: DataFrame, ids: DataFrame | None, id_col: str,
    max_iterations: int,
) -> DataFrame:
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        # 1) neighbor-min: pull the min label across the edge. The
        # round's PREVIOUS label rides along as ``_old`` on the
        # self-rows (one non-null per id, recovered by min), so the
        # convergence check below needs NO extra join against the old
        # label table (was a third per-round shuffle).
        nbr = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(
            F.col("dst").alias("id"), "label",
            F.lit(None).cast(labels.schema["label"].dataType).alias("_old"),
        )
        new = (
            labels.select("id", "label", F.col("label").alias("_old"))
            .unionAll(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.min("_old").alias("_old"))
        )
        # 2) pointer-jump: label <- min(label, label(label)); label
        # values are themselves node ids, so the self-join always hits
        jump = new.select(
            F.col("id").alias("j_id"), F.col("label").alias("j_label")
        )
        new = new.join(jump, new["label"] == jump["j_id"], "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce("j_label", "label")
            ).alias("label"),
            (
                F.least(F.col("label"), F.coalesce("j_label", "label"))
                != F.col("_old")
            ).alias("_chg"),
        )
        # 3) LAZY checkpoint: the convergence collect right below is
        # the round's single action and materializes it (an eager
        # checkpoint here would spend a second job per round doing
        # the same work). Lineage still truncates at materialization.
        new = new.localCheckpoint(eager=False)
        changed = new.agg(
            F.sum(F.col("_chg").cast("long")).alias("c")
        ).collect()[0]["c"]
        labels = new.select("id", "label")
        if not changed:
            break
    edges.unpersist()
    return _cc_finish(labels, ids, id_col)


def _cc_finish(
    labels: DataFrame, ids: DataFrame | None, id_col: str
) -> DataFrame:
    """(id, label) -> the (id, cluster_id, keep) contract, plus the
    singleton pass-through when ``ids`` is given."""
    out = labels.select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("keep"),
    )
    if ids is None:
        return out
    # singletons: docs in no pair keep themselves
    return (
        ids.select(id_col)
        .distinct()
        .join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
    )


def dedup_survivor_rows(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    max_iterations: int = 30,
) -> DataFrame:
    """The kept rows themselves: df minus every non-survivor of its
    pair-graph clusters — the one-call keep/drop stage."""
    clusters = dedup_clusters(
        pairs, ids=df, id_col=id_col, max_iterations=max_iterations
    )
    keep_ids = clusters.where(F.col("keep")).select(id_col)
    return df.join(keep_ids, id_col, "left_semi")
