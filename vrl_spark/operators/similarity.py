"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline. Queries are a
  SMALL set -> broadcast them; each executor scans its corpus slice
  once, per-partition top-k via window. No corpus shuffle at all.
- LSH-bucketed variant (random hyperplanes): the scale path — corpus
  hashed once into buckets, queries probe only matching buckets.

Dot products are JVM-side ``F.zip_with`` + ``F.aggregate`` — no
Python on the hot path. (A Pandas-UDF/numpy matmul variant is the
natural next speed step if the JVM lambda shows up in profiles.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    # widen to double BEFORE multiplying: keeps the arithmetic
    # bit-identical to the (double-based) oracle and avoids float32
    # rounding in the products
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def _guarded_cosine(a: Column, b: Column, d: Column) -> Column:
    """dot(a,b)/d with the zero-norm guard — ``d`` is the precomputed
    norm product. THE single definition of the guarded-cosine float-op
    order (sqrt per side upstream, multiply, divide, 0.0 sentinel):
    cosine(), _blocked_exact_pairs, and every oracle replicate it."""
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine(a: Column, b: Column) -> Column:
    return _guarded_cosine(a, b, norm(a) * norm(b))


def _pair_math_udf(with_norms: bool):
    """Arrow-batched pair scorer, double-for-double identical to the
    interpreted JVM folds it replaces (the dominant per-pair cost in
    every pair-scoring plan — guide §4.2). Exactness: for each vector
    slot j IN ORDER it executes ``acc = acc + a_j * b_j`` vectorized
    ACROSS the batch's pairs, i.e. the same IEEE-754 double op
    sequence per pair as ``F.aggregate``'s left fold, so sums match
    bitwise (numpy's pairwise-summing ``sum()`` would not). With
    ``with_norms`` it returns the full zero-guarded cosine
    (dot / (sqrt(ssq_a) * sqrt(ssq_b)), 0.0 on zero norms — sqrt is
    correctly rounded in both runtimes); otherwise the raw dot, for
    callers whose norms ride the rows. NULL vectors and length
    mismatches give what the JVM expressions give: NULL from the dot
    (zip_with's null-padding fold); from the cosine, 0.0 where a
    vector is NULL or the norm product is 0, else NULL. A NaN or
    infinite component gives the fold's NaN. A NULL element gives the
    fold's NULL dot and, through a NULL norm, a 0.0 cosine; Arrow
    hands it to pandas as NaN, so the JVM flags it (``has_null``).
    Rounding stays in the JVM on top of the returned double."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score(a_ser: pd.Series, b_ser: pd.Series, has_null: pd.Series) -> pd.Series:
        import numpy as np

        av = a_ser.tolist()
        bv = b_ser.tolist()
        nul = has_null.to_numpy(dtype=bool)
        n = len(av)
        out = np.zeros(n)
        same = np.fromiter(
            (
                a is not None and b is not None and len(a) == len(b)
                for a, b in zip(av, bv)
            ),
            dtype=bool, count=n,
        ) & ~nul
        ok = same.copy()
        if with_norms:
            # the guard reads a NULL norm product as not > 0, so a NULL
            # vector or element scores 0.0; a length mismatch NULLs
            # only the dot, which the guard skips when the norm
            # product is 0
            for i in np.nonzero(~same)[0]:
                a, b = av[i], bv[i]
                ok[i] = nul[i] or a is None or b is None or _norm(a) * _norm(b) == 0
        idx = np.nonzero(same)[0]
        for d in {len(av[i]) for i in idx}:  # uniform-dim groups vectorize together
            sub = [i for i in idx if len(av[i]) == d]
            A = np.stack([np.asarray(av[i], dtype=np.float64) for i in sub])
            B = np.stack([np.asarray(bv[i], dtype=np.float64) for i in sub])
            dot = np.zeros(len(sub))
            with np.errstate(all="ignore"):  # inf * 0 and inf / inf are NaN
                if with_norms:
                    na = np.zeros(len(sub))
                    nb = np.zeros(len(sub))
                    for j in range(d):
                        dot += A[:, j] * B[:, j]
                        na += A[:, j] * A[:, j]
                        nb += B[:, j] * B[:, j]
                    den = np.sqrt(na) * np.sqrt(nb)
                    # Spark orders NaN above every number, so the SQL
                    # guard's ``d > 0`` holds for a NaN norm product
                    out[sub] = np.where(~(den <= 0), dot / den, 0.0)
                else:
                    for j in range(d):
                        dot += A[:, j] * B[:, j]
                    out[sub] = dot
        # explicit mask: masked slots arrive as SQL NULL, while a NaN
        # the fold computed stays NaN (pd.array would make it NULL)
        return pd.Series(pd.arrays.FloatingArray(out, mask=~ok))

    # pure, but marked non-deterministic so threshold filters cannot
    # duplicate the Arrow eval below themselves (guide §4.4)
    return score.asNondeterministic()


def _norm(v) -> float:
    """``norm()``'s left fold, for a pair the Arrow kernel scores alone."""
    import math

    ssq = 0.0
    for x in v:
        ssq = ssq + x * x
    return math.sqrt(ssq)


def _has_null_element(a: Column, b: Column) -> Column:
    """True where either vector holds a NULL element (false for a NULL
    vector)."""
    def has(v: Column) -> Column:
        return F.exists(v, lambda x: x.isNull())

    return F.coalesce(has(a) | has(b), F.lit(False))


def batched_dot(a: Column, b: Column) -> Column:
    """Order-exact Arrow dot product (see _pair_math_udf)."""
    return _pair_math_udf(with_norms=False)(a, b, _has_null_element(a, b))


def batched_cosine(a: Column, b: Column) -> Column:
    """Order-exact Arrow guarded cosine (see _pair_math_udf)."""
    return _pair_math_udf(with_norms=True)(a, b, _has_null_element(a, b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors per query (excluding self-matches).

    ``queries`` must be small (broadcast). Ties break on neighbor id
    for full determinism."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    joined = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    ).join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            batched_cosine(F.col("qvec"), F.col("cvec")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane_id: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from a hash —
    no RNG state, reproducible across runs/engines."""
    import hashlib

    vals = []
    for i in range(dim):
        h = hashlib.md5(f"plane{plane_id}|{i}".encode()).digest()
        v = int.from_bytes(h[:4], "big") / 2**31 - 1.0  # [-1, 1)
        vals.append(v)
    return vals


def lsh_bucket(vec: Column, dim: int, num_planes: int = 8) -> Column:
    """Random-hyperplane LSH signature -> integer bucket (0..2^planes)."""
    bucket = F.lit(0)
    for p in range(num_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, p)])
        bit = F.when(dot(vec, plane) >= 0, 1).otherwise(0)
        bucket = bucket * 2 + bit
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket plus every
    bucket at hamming distance 1 (multiprobe — the standard recall
    lever that costs probes, not corpus passes).

    At scale the corpus is written bucketed-by(bucket) once; probes
    become partition-pruned scans. Recall tunes via num_planes
    (fewer planes -> bigger buckets)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        lsh_bucket(F.col(vec_col), dim, num_planes).alias("bucket"),
    )
    qb = lsh_bucket(F.col(vec_col), dim, num_planes)
    probes = F.array(qb, *[qb.bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)])
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(probes).alias("bucket"),
    )
    joined = c.join(F.broadcast(q), "bucket").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id", "neighbor_id",
        F.round(
            batched_cosine(F.col("qvec"), F.col("cvec")), 6
        ).alias("cos_sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])  # multiprobe overlap
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def sign_bucket(vec: Column, bits: int = 4) -> Column:
    """Deterministic coarse quantization: the sign pattern of the
    first ``bits`` dimensions as an int. Oracle-replicable (plain
    CASE arithmetic), unlike hashed random hyperplanes."""
    b = None
    for i in range(bits):
        t = F.when(F.element_at(vec, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        b = t if b is None else b + t
    return b


def _blocked_exact_pairs(
    sig: DataFrame,
    threshold: float,
    round6: bool = False,
    extra: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Shared blocked-exact pair scorer behind both dedup paths
    (:func:`cosine_dedup_pairs` sign blocks, :func:`semantic_dedup_pairs`
    learned clusters). ``sig`` must carry ``(_id, _vec, _bucket, _nm)``
    — id, float vector, block key, precomputed norm. Self-joins within
    a bucket (shuffle_hash-hinted: never broadcast a corpus-sized
    side) and scores exact cosine folding ONLY the dot product per
    pair — the norms ride on the rows (one fold per ROW, map-side),
    where a naive cosine() would re-fold both norms once per PAIR,
    tripling the dominant within-bucket cost. Float-op order matches
    :func:`cosine` exactly (sqrt per side, multiply, divide, 0.0 on
    zero norms), so swapping a direct cosine() call for this helper is
    bit-identical. ``extra`` carries a-side columns into the output
    as ``[(out_name, sig_col), ...]``."""
    a, b = sig.alias("a"), sig.hint("shuffle_hash").alias("b")
    joined = a.join(
        b,
        (F.col("a._bucket") == F.col("b._bucket"))
        & (F.col("a._id") < F.col("b._id")),
    )
    # the per-pair dot — the dominant within-bucket cost — runs as one
    # order-exact Arrow batch (batched_dot); the guard/divide stays in
    # the JVM over the returned double and the riding norm product,
    # so the float-op sequence is _guarded_cosine's exactly. The UDF's
    # non-deterministic marker keeps the threshold filter from
    # duplicating the Arrow eval below itself (the job the materialize
    # barrier did for the old inline fold).
    scored = joined.select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        batched_dot(F.col("a._vec"), F.col("b._vec")).alias("_dot"),
        (F.col("a._nm") * F.col("b._nm")).alias("_den"),
        *[F.col(f"a.{c}").alias(name) for name, c in (extra or [])],
    )
    pair_cos = F.when(
        F.col("_den") > 0, F.col("_dot") / F.col("_den")
    ).otherwise(F.lit(0.0))
    scored = scored.select(
        "id_a", "id_b",
        (F.round(pair_cos, 6) if round6 else pair_cos).alias("cos"),
        *[name for name, _ in (extra or [])],
    )
    return scored.where(F.col("cos") >= threshold)


def cosine_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    block_bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked-exact.

    Blocking = sign pattern of the first ``block_bits`` dimensions
    (same join-not-crossjoin shape as the text dedup family; near-
    identical vectors agree on sign bits unless a blocked dimension
    sits within eps of zero). ``block_bits`` is the scale knob: 2^bits
    buckets bound the per-bucket pair count — raise it with corpus
    size exactly like LSH band count. Exact cosine verifies inside
    blocks; the self-join is shuffle_hash-hinted so Spark never tries
    to broadcast the (expensive) bucketed subplan.
    """
    sig = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        sign_bucket(F.col(vec_col), block_bits).alias("_bucket"),
        norm(F.col(vec_col)).alias("_nm"),
    )
    return _blocked_exact_pairs(sig, threshold)


# ---------------------------------------------------------------------
# IVF-Flat approximate nearest neighbors
# ---------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame,
    n_lists: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic sampled coarse quantizer: the ``n_lists`` corpus
    vectors with the smallest md5(id) become the centroids
    (consistent sampling — stable under corpus growth and oracle-
    replicable; FAISS-style IVF accepts any coarse quantizer, and a
    uniform sample is the standard no-training baseline).

    Returns (centroid_id, centroid_vec); tiny — always broadcast."""
    if n_lists < 1:
        raise ValueError(f"n_lists must be >= 1, got {n_lists}")
    return (
        corpus.select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", "centroid_id")
        .limit(n_lists)
        .select("centroid_id", "centroid_vec")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverted-list assignment: each corpus vector joins its nearest
    centroid by cosine (ties -> smallest centroid_id). Adds
    ``list_id``.

    Scale shape: MAP-ONLY. The centroids are folded into a single
    array-of-structs row (tiny — n_lists entries), broadcast, and the
    argmax runs per corpus row as ``array_min(transform(...))`` over
    that array: the corpus is never expanded n_lists-fold and never
    shuffled (the old shape was a corpus × n_lists broadcast join +
    an argmax groupBy over the expanded rows — a full-corpus shuffle
    that at 100 TB dwarfs the scan). The only Exchange left is the
    single-row centroid collect_list, whose input is n_lists rows. At
    100 TB the result is written once as a parquet/Iceberg table
    bucketed by list_id so queries become partition-pruned scans.
    Cosines are rounded to 1e-6 before the argmax so the assignment
    (and its tie-breaks) is identical across engines."""
    # min over (-cosine, centroid_id): max cosine, then SMALLEST
    # centroid id — negating the (always-numeric) score instead of the
    # id keeps the tie-break correct for string/any-typed centroid
    # ids. transform-then-array_min computes each cosine exactly once
    # (a reduce() whose merge compares the candidate would inline the
    # O(dim) cosine aggregate twice per element). Norms are hoisted:
    # each centroid's norm folds ONCE at collect time (not once per
    # corpus row) and the row's own norm folds ONCE per row via bind
    # (not once per centroid) — the float-op order (sqrt per side,
    # multiply, divide, 0.0 sentinel) is _guarded_cosine's, identical
    # to the inline cosine() it replaces.
    from vrl_spark.functions.parse import bind

    cents = centroids.agg(
        F.collect_list(
            F.struct(
                F.col("centroid_id").alias("cid"),
                F.col("centroid_vec").alias("cvec"),
                norm(F.col("centroid_vec")).alias("cn"),
            )
        ).alias("_cents")
    )
    # rows are assigned independently (duplicate corpus ids pass
    # through unmerged — assignment is a pure map); the isNotNull
    # filter keeps the empty-centroids case an empty OUTPUT (array_min
    # of the empty centroid array is NULL) instead of a corpus-sized
    # frame of NULL list_ids that downstream joins silently drop.
    return corpus.join(F.broadcast(cents)).select(
        F.col(id_col),
        F.col(vec_col),
        bind(
            norm(F.col(vec_col)),
            lambda nv: F.array_min(
                F.transform(
                    F.col("_cents"),
                    lambda c: F.struct(
                        (-F.round(
                            _guarded_cosine(
                                F.col(vec_col), c.getField("cvec"),
                                nv * c.getField("cn"),
                            ), 6
                        )).alias("neg_cs"),
                        c.getField("cid").alias("cid"),
                    ),
                )
            ),
        ).getField("cid").alias("list_id"),
    ).where(F.col("list_id").isNotNull())


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_lists: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-Flat approximate top-k cosine neighbors: corpus vectors are
    bucketed into ``n_lists`` inverted lists by nearest sampled
    centroid; each query exactly scans only its ``nprobe`` nearest
    lists. The complement of lsh_topk's hyperplane buckets — recall
    tunes via nprobe (probes cost scans of single lists, never corpus
    passes).

    Scale shape: centroids and query probes both broadcast; the only
    corpus-sized work is the one-off assignment shuffle (the index
    build) and per-query scans of nprobe/n_lists of the corpus.
    Inverted lists are disjoint, so probed candidates need no dedup.
    Skewed lists (a hot centroid) bound per-task work at
    corpus/n_lists x skew — raise n_lists with corpus size exactly
    like LSH band count. The centroids are the training-free sample of
    :func:`ivf_centroids`, which DuckDB can replicate."""
    if not 1 <= nprobe <= n_lists:
        raise ValueError(f"need 1 <= nprobe <= n_lists, got {nprobe}")
    cents = ivf_centroids(corpus, n_lists, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        "list_id",
    )
    qscored = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).join(F.broadcast(cents)).select(
        "query_id", "qvec", F.col("centroid_id").alias("list_id"),
        F.round(cosine(F.col("qvec"), F.col("centroid_vec")), 6).alias("_cs"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_cs").desc(), F.col("list_id")
    )
    probes = (
        qscored.withColumn("_pr", F.row_number().over(wq))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qvec", "list_id")
    )
    joined = assigned.join(F.broadcast(probes), "list_id").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id", "neighbor_id",
        F.round(
            batched_cosine(F.col("qvec"), F.col("cvec")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------
# SemDeDup: cluster-bucketed semantic deduplication
# ---------------------------------------------------------------------


def semantic_dedup_pairs(
    corpus: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Semantic near-duplicate pairs, cluster-bucketed — the SemDeDup
    recipe (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): bucket the
    corpus into ``n_clusters`` embedding clusters, then compare pairs
    ONLY within a cluster by exact cosine. Semantic duplicates have
    near-identical embeddings, so they land in the same cluster with
    overwhelming probability; cross-cluster pairs are the deliberate
    approximation that turns the all-pairs O(n^2) into
    sum-over-clusters O((n/c)^2 * c).

    Where :func:`cosine_dedup_pairs` buckets by sign bits (cheap,
    geometry-blind, near-exact at very high thresholds), this buckets
    by LEARNED geometry — the right tool at the paper's lower
    thresholds (0.9-0.95) where sign blocks fragment true duplicate
    groups across buckets.

    Scale shape: assignment is similarity.ivf_assign — MAP-ONLY (the
    centroids fold into one broadcast row, the argmax runs in place;
    the corpus never expands). The self-join shuffles the corpus ONCE
    on cluster_id (shuffle_hash-hinted — never broadcast a
    corpus-sized side) and per-task pair work is bounded by the
    largest cluster: ``n_clusters`` is the scale knob, raised with
    corpus size exactly like LSH band count (the paper runs 50k
    clusters at web scale; a hot cluster bounds a task at
    (corpus/n_clusters * skew)^2).

    The clusters come from the deterministic smallest-md5 sampled
    centroids (:func:`ivf_centroids`), which an oracle can replicate
    analytically; ``centroids`` overrides them (any (centroid_id,
    centroid_vec) frame).

    Returns (id_a, id_b, cos, cluster_id) with id_a < id_b, cos
    rounded 1e-6 — feed straight into dedup.dedup_clusters, or into
    :func:`semantic_dedup` for the paper's keep rule. ``stats``
    (out-param) records {"centroids": DataFrame}.

    CALLER-UNPERSIST CONTRACT: when centroids are sampled internally
    (``centroids is None``) the returned
    ``stats["centroids"]`` frame is persisted MEMORY_AND_DISK so its
    corpus-sized TakeOrdered lineage runs once across the assign fold
    and any keep rule. The persist is NOT released here (this is a
    plan builder — it cannot know when the caller's last action ran):
    long-lived sessions issuing many calls should
    ``stats["centroids"].unpersist()`` after their final action, or
    the cache entry lives until session clearCache/GC."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if centroids is not None and centroids.isEmpty():
        # ivf_assign DROPS unassignable rows, so an empty caller-
        # supplied frame would silently yield ZERO pairs (every doc
        # a singleton) — fail loudly instead. One limit-1 job on a
        # frame that is tiny by contract. The internal paths inherit
        # emptiness from the corpus itself, which IS consistent.
        raise ValueError(
            "semantic_dedup_pairs: centroids frame is empty — every "
            "doc would silently become unassignable (zero pairs)"
        )
    if centroids is None:
        if n_clusters < 1:
            raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
        # persist (lazy): the sampled-centroid lineage is a full
        # corpus TakeOrdered — downstream consumers (the assign fold
        # here, semantic_dedup's isEmpty + keep rule via
        # stats["centroids"]) would each re-execute it otherwise.
        # Deliberately NOT an eager localCheckpoint: this is a plan
        # builder and must stay action-free at call time. The frame
        # is n_clusters rows.
        from pyspark import StorageLevel

        centroids = ivf_centroids(
            corpus, n_clusters, id_col, vec_col
        ).persist(StorageLevel.MEMORY_AND_DISK)
    if stats is not None:
        stats["centroids"] = centroids
    sig = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.col("list_id").alias("_bucket"),
        norm(F.col(vec_col)).alias("_nm"),
    )
    return _blocked_exact_pairs(
        sig, threshold, round6=True, extra=[("cluster_id", "_bucket")]
    )


def semantic_dedup(
    corpus: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    max_iterations: int = 30,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(id, group_id, keep) — the full SemDeDup decision: pairs from
    :func:`semantic_dedup_pairs`, duplicate GROUPS as connected
    components (dedup.dedup_clusters — min-label propagation +
    pointer jumping; every component stays inside one cluster because
    edges never cross clusters), one survivor per group.

    The keep rule is the paper's: keep the member with the LOWEST
    cosine to its cluster centroid — duplicates concentrate near
    cluster cores, and keeping the outer example preserves the most
    diversity per retained token (SemDeDup §3). Ties break to the
    smallest id. One extra map-side broadcast gather (centroid map) +
    one group-min — both on the component-member slice, not the
    corpus.

    Docs in no pair are their own group with keep = true (singleton
    pass-through, same contract as dedup_clusters).

    ``pairs`` (optional): a precomputed / materialized
    semantic_dedup_pairs frame — callers that also consume the pair
    set directly should checkpoint it once and pass it here rather
    than paying the within-cluster scoring twice. The ``centroids``
    that PRODUCED the pairs must ride along: the keep rule re-assigns
    against them, and a NON-EMPTY foreign frame is UNDETECTABLE
    (every vector happily assigns to its nearest foreign centroid) —
    the verdict would be scored against the wrong geometry. Empty
    frames and pairs/corpus mismatches DO fail loudly (eager check +
    in-plan raise)."""
    from vrl_spark.operators.dedup import dedup_clusters

    if pairs is None:
        pstats: dict = {}
        pairs = semantic_dedup_pairs(
            corpus, n_clusters, threshold, id_col, vec_col, centroids,
            stats=pstats,
        )
        centroids = pstats["centroids"]
        # the keep rule reads the pair frame three more times
        # (multi_ids feeds the singles anti-join, the assignment
        # corpus semi-join, and the member join) on top of
        # dedup_clusters' consumption; uncheckpointed, each read
        # re-executes the whole within-cluster scoring join — the
        # operator's dominant cost. The frame is tiny (duplicate
        # pairs only).
        pairs = pairs.localCheckpoint()
    else:
        if centroids is None:
            raise ValueError(
                "semantic_dedup: precomputed pairs need the centroids "
                "that produced them"
            )
        if centroids.isEmpty():
            # the check runs the frame's lineage once: stats["centroids"]
            # from semantic_dedup_pairs is persisted, so this first
            # action warms the cache the keep rule then reuses.
            raise ValueError(
                "semantic_dedup: centroids frame is empty — the "
                "keep rule could not assign any paired doc"
            )
    ids = corpus.select(F.col(id_col))
    clusters = dedup_clusters(
        pairs.select("id_a", "id_b"), ids=ids, id_col=id_col,
        max_iterations=max_iterations,
    ).withColumnRenamed("cluster_id", "group_id")
    # paper rule: within each multi-member group keep the member
    # farthest from its cluster centroid (min cosine, ties -> min id).
    # Scored on the PAIR-GRAPH SLICE only: an id in no pair is a
    # singleton (keep = true) by construction and never touches the
    # assignment / group-min machinery — the naive formulation pays a
    # second full-corpus assignment pass plus two corpus-wide shuffles
    # to decide rows whose verdict is already known.
    multi_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionAll(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    singles = clusters.join(multi_ids, id_col, "left_anti").select(
        id_col, "group_id", F.lit(True).alias("keep")
    )
    assigned = ivf_assign(
        corpus.join(multi_ids, id_col, "left_semi"),
        centroids, id_col, vec_col,
    )
    cmap = centroids.agg(
        F.map_from_arrays(
            F.collect_list("centroid_id"),
            F.collect_list("centroid_vec"),
        ).alias("_cmap")
    )
    # multi_ids DRIVES the join: a pair endpoint missing from the
    # corpus is absent from clusters (dedup_clusters emits corpus ids
    # only) and from the assignment — left joins surface the hole as
    # a NULL group_id and the in-plan raise makes the pairs/corpus
    # mismatch loud instead of silently dropping the doc (and its
    # group's correct survivor) from the verdict.
    member = (
        multi_ids
        .join(clusters, id_col, "left")
        .join(
            assigned.select(F.col(id_col), F.col(vec_col), "list_id"),
            id_col,
            "left",
        )
        .join(F.broadcast(cmap))
        .select(
            F.col(id_col),
            F.when(
                F.col("group_id").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("semantic_dedup: paired doc "),
                        F.col(id_col).cast("string"),
                        F.lit(
                            " is missing from the corpus (pairs "
                            "from a different corpus?)"
                        ),
                    )
                ),
            ).otherwise(F.col("group_id")).alias("group_id"),
            F.struct(
                # defensive only: with the eager empty check above, a
                # corpus-present doc always assigns (even a NULL
                # vector cosines to 0.0 and picks a list) — but a
                # NULL cs here would sort FIRST in the group-min and
                # silently crown the wrong survivor, so raise
                F.when(
                    F.col("list_id").isNull(),
                    F.raise_error(
                        F.concat(
                            F.lit("semantic_dedup: paired doc "),
                            F.col(id_col).cast("string"),
                            F.lit(" got no cluster assignment"),
                        )
                    ),
                ).otherwise(
                    F.round(
                        cosine(
                            F.col(vec_col),
                            F.element_at(
                                F.col("_cmap"), F.col("list_id")
                            ),
                        ),
                        6,
                    )
                ).alias("cs"),
                F.col(id_col).alias("tie"),
            ).alias("_key"),
        )
    )
    winners = member.groupBy("group_id").agg(
        F.min("_key").getField("tie").alias("_keep_id")
    )
    decided = member.join(winners, "group_id").select(
        F.col(id_col),
        F.col("group_id"),
        (F.col(id_col) == F.col("_keep_id")).alias("keep"),
    )
    return decided.unionByName(singles)
