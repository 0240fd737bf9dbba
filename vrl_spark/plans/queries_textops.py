"""Training-data pipeline operators, oracle-checked.

Dedup queries run on a corpus with PLANTED duplicates (documents
union deterministic copies/perturbations) so results are non-trivial;
the identical corpus derivation runs in the oracle.

The minhash-LSH oracle replicates the full banded-LSH algorithm in
DuckDB SQL — every hash is md5-of-string, so signatures, candidate
pairs, and verified jaccard agree exactly across engines.

Float-valued outputs are emitted as ROUND(x * 1e6) BIGINT on both
sides: value-hash comparisons stay exact across engines."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from vrl_spark.operators import dedup, similarity, textstats
from vrl_spark.registry import register

# ---------------------------------------------------------------------
# planted-duplicate corpus (shared derivation)
# ---------------------------------------------------------------------


def _dup_corpus(spark, sf_dir, spread=True):
    """documents + exact copies (doc_id%5==0, id+1000000) + near-dup
    perturbations (doc_id%7==0, id+2000000, first word -> 'xdup').

    ``spread`` fans the assembled corpus out AFTER the union (per-leg
    fan-out would stack to 3 x cores partitions; one post-union
    repartition measured faster). The shingle/signature consumers all
    want it; dedup_exact's single cheap md5 pass does not."""
    from vrl_spark.sources import spread_scan

    docs = spark.read.parquet(
        f"{sf_dir}/documents.parquet"
    ).select("doc_id", "text")
    t = F.col("text")
    exact = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), t.alias("text")
    )
    near = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("xdup"), t.substr(F.instr(t, " "), F.length(t))
        ).alias("text"),
    )
    out = docs.unionAll(exact).unionAll(near)
    return spread_scan(out) if spread else out


_DUP_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000,
         'xdup' || substr(text, position(' ' IN text))
  FROM documents WHERE doc_id % 7 = 0
)
"""

# ---------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""WITH {_DUP_CORPUS_SQL},
    h AS (SELECT doc_id, md5(text) AS content_hash,
                 doc_id < 1000000 AS is_base
          FROM corpus),
    g AS (SELECT content_hash, MIN(doc_id) AS keep_id,
                 COUNT(*) AS dup_count
          FROM h GROUP BY content_hash),
    basek AS (SELECT DISTINCT content_hash FROM h WHERE is_base),
    bpos AS (
      SELECT content_hash,
             CAST(concat('0x',
                    substr(md5(i || '|' || content_hash), 1, 15))
                  AS BIGINT) % 16384 AS p
      FROM basek, UNNEST(generate_series(0, 4)) AS t(i)),
    words AS (SELECT p // 32 AS word_idx,
                     bit_or(CAST(1 AS BIGINT) << (p % 32)) AS word
              FROM bpos GROUP BY p // 32),
    inck AS (SELECT DISTINCT content_hash FROM h WHERE NOT is_base),
    iprobe AS (
      SELECT content_hash,
             CAST(concat('0x',
                    substr(md5(i || '|' || content_hash), 1, 15))
                  AS BIGINT) % 16384 AS p
      FROM inck, UNNEST(generate_series(0, 4)) AS t(i)),
    ihit AS (
      SELECT content_hash,
             bool_and(((COALESCE(w.word, 0) >> (p % 32)) & 1) = 1)
               AS bloom_hit
      FROM iprobe LEFT JOIN words w ON p // 32 = w.word_idx
      GROUP BY content_hash)
    SELECT h.doc_id, h.content_hash, g.keep_id, g.dup_count,
      CASE WHEN h.is_base THEN FALSE
           ELSE COALESCE(ih.bloom_hit, FALSE) END AS bloom_hit,
      CASE WHEN h.is_base THEN 'base'
           WHEN NOT COALESCE(ih.bloom_hit, FALSE) THEN 'new'
           WHEN bk.content_hash IS NOT NULL THEN 'dup'
           ELSE 'fp' END AS incr_fate
    FROM h
    JOIN g USING (content_hash)
    LEFT JOIN ihit ih ON h.content_hash = ih.content_hash
    LEFT JOIN basek bk ON h.content_hash = bk.content_hash""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup groups + Bloom-prefiltered incremental-snapshot
    classification, per document (r5: the vehicle moved from
    per-hash to per-doc grain to carry the incremental stage; the
    oracle replicates every bloom bit via the md5 hash family).

    base snapshot = original doc_ids (< 1e6); incoming = the planted
    +1e6 exact dups and +2e6 modified docs. Incoming hashes classify
    as 'dup' (in base, bloom hit + exact confirm), 'new' (bloom miss
    — exact by the no-false-negative property), or 'fp' (bloom hit,
    exact join disproves)."""
    from vrl_spark.operators import bloom as _bloom

    # no fan-out: one cheap md5 projection + id-key aggs — the spread
    # shuffle and extra tasks measured as pure overhead here
    corpus = _dup_corpus(spark, sf_dir, spread=False)
    h = corpus.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        (F.col("doc_id") < 1000000).alias("_is_base"),
    )
    # h feeds five consumers (groups, bloom build side, incoming side,
    # and the two final join probes) — materialize the narrow hash
    # frame once or Catalyst recomputes the corpus scan + md5 per
    # consumer (the usual shared-subtree trap)
    h = h.localCheckpoint(eager=True)
    g = h.groupBy("content_hash").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    fates = _bloom.incremental_dedup(
        h.where("_is_base"),
        h.where(~F.col("_is_base")),
        "content_hash",
        n_bits=16384,
        k=5,
    )
    return (
        h.join(g, "content_hash")
        .join(fates, "content_hash", "left")
        .select(
            "doc_id",
            "content_hash",
            "keep_id",
            "dup_count",
            F.when(F.col("_is_base"), F.lit(False))
            .otherwise(F.coalesce("bloom_hit", F.lit(False)))
            .alias("bloom_hit"),
            F.when(F.col("_is_base"), F.lit("base"))
            .otherwise(F.col("incr_fate"))
            .alias("incr_fate"),
        )
    )


# ---------------------------------------------------------------------
# minhash LSH near-dup (full algorithm replicated in the oracle)
# ---------------------------------------------------------------------

_MINHASH_CTES = f"""{_DUP_CORPUS_SQL},
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM corpus
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 3 THEN list_distinct(
           list_transform(generate_series(0, len(w) - 3),
                          i -> array_to_string(w[i+1:i+3], ' ')))
         WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
         ELSE [] END AS shingles
  FROM toks
),
sig AS (
  SELECT doc_id, shingles,
    list_transform(generate_series(0, 15),
                   h -> list_min(list_transform(shingles,
                        s -> substr(md5((h // 4) || '|' || s), 1 + (h % 4) * 8, 8)))) AS sig
  FROM sh
),
banded AS (
  SELECT doc_id, b AS band_id,
         array_to_string(sig[b*4+1 : b*4+4], '|') AS band_sig
  FROM sig, generate_series(0, 3) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b,
    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
      / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.id_a
  JOIN sh sb ON sb.doc_id = cand.id_b
)
"""

# merged vehicle (r5): both minhash engines ride one registry row.
# variant 'md5' = full banded-LSH pair set with DuckDB-portable md5
# hashes, replicated end-to-end by the oracle's _MINHASH_CTES.
# variant 'xxh_recall' = the ENGINE-default seeded-xxhash64 path
# (~18x the md5 signature throughput), checked by planted-dup recall:
# an exact copy has an identical signature under ANY hash family, so
# every planted exact pair (a, a+1000000) MUST band together and
# verify at jaccard exactly 1.0 — the expected pair set is
# deterministic without computing xxhash64 in DuckDB. (id_a < 1000000
# excludes the copy-vs-near pairs (a+1000000, a+2000000) that also
# differ by exactly 1000000.)
_MINHASH_ORACLE = f"""
WITH {_MINHASH_CTES}
SELECT 'md5' AS variant, id_a, id_b,
       CAST(ROUND(jaccard * 1000000) AS BIGINT) AS jaccard_x1m
FROM verified WHERE jaccard >= 0.7
UNION ALL
SELECT 'xxh_recall', doc_id, doc_id + 1000000, CAST(1000000 AS BIGINT)
FROM documents WHERE doc_id % 5 = 0 AND trim(text) != ''
"""


@register("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir)
    # engine='md5' pinned EXPLICITLY: the operator default is the 18x
    # faster xxh path; the oracle needs DuckDB-portable hashes
    md5_pairs = dedup.minhash_dedup_pairs(
        corpus, threshold=0.7,
        num_hashes=16, bands=4, shingle_n=3, engine="md5",
    ).select(
        F.lit("md5").alias("variant"), "id_a", "id_b",
        F.round(F.col("jaccard") * 1000000).cast("long").alias("jaccard_x1m"),
    )
    xxh_pairs = dedup.minhash_dedup_pairs(
        corpus, threshold=0.7,
        num_hashes=16, bands=4, shingle_n=3, engine="xxh",
    ).where(
        (F.col("id_a") < 1000000) & (F.col("id_b") == F.col("id_a") + 1000000)
    ).select(
        F.lit("xxh_recall").alias("variant"), "id_a", "id_b",
        F.round(F.col("jaccard") * 1000000).cast("long").alias("jaccard_x1m"),
    )
    return md5_pairs.unionAll(xxh_pairs)


# ---------------------------------------------------------------------
# cluster resolution: pairs -> connected components -> keep/drop
# ---------------------------------------------------------------------

# the oracle runs the FULL pipeline in DuckDB: planted corpus ->
# banded minhash-LSH -> verified pairs -> RECURSIVE-CTE connected
# components (reachability closure, min reachable id per node) ->
# survivor pick + singleton keep
_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_MINHASH_CTES},
vpairs AS (
  SELECT id_a, id_b FROM verified WHERE jaccard >= 0.7
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION
  SELECT id_b, id_a FROM vpairs
),
reach(id, r) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
labels AS (
  SELECT id, LEAST(id, MIN(r)) AS cluster_id FROM reach GROUP BY id
)
SELECT c.doc_id,
       COALESCE(l.cluster_id, c.doc_id) AS cluster_id,
       CAST(COALESCE(l.cluster_id, c.doc_id) = c.doc_id AS BIGINT) AS keep_flag
FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id
"""


@register("dedup_clusters", _CLUSTERS_ORACLE)
def dedup_clusters(spark, sf_dir):
    """The keep/drop capstone: minhash near-dup pairs resolved to
    connected-component clusters (iterative min-label propagation +
    pointer jumping, see operators/dedup.py) with one canonical
    survivor (min id) per cluster; docs in no pair keep themselves."""
    corpus = _dup_corpus(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(
        corpus, threshold=0.7, num_hashes=16, bands=4, shingle_n=3,
        engine="md5",  # oracle-portable hashes, pinned explicitly
    )
    cl = dedup.dedup_clusters(pairs.select("id_a", "id_b"), ids=corpus)
    return cl.select(
        "doc_id", "cluster_id", F.col("keep").cast("long").alias("keep_flag")
    )


# ---------------------------------------------------------------------
# blocked exact n-gram jaccard
# ---------------------------------------------------------------------

_NGRAM_ORACLE = f"""
WITH {_DUP_CORPUS_SQL},
blocked AS (
  SELECT doc_id, doc_id % 100000 AS block, text FROM corpus
),
toks AS (
  SELECT doc_id, block, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM blocked
),
sh AS (
  SELECT doc_id, block,
    CASE WHEN len(w) >= 3 THEN list_distinct(
           list_transform(generate_series(0, len(w) - 3),
                          i -> array_to_string(w[i+1:i+3], ' ')))
         WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
         ELSE [] END AS shingles
  FROM toks
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
  FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(ROUND(jaccard * 1000000) AS BIGINT) AS jaccard_x1m
FROM pairs WHERE jaccard >= 0.5
"""


@register("dedup_ngram_jaccard", _NGRAM_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir).withColumn(
        "block", F.col("doc_id") % 100000
    )
    pairs = dedup.ngram_jaccard_pairs(
        corpus, block_cols=["block"], shingle_n=3, threshold=0.5
    )
    return pairs.select(
        "id_a", "id_b",
        F.round(F.col("jaccard") * 1000000).cast("long").alias("jaccard_x1m"),
    )


# ---------------------------------------------------------------------
# simhash near-dup — md5-portable signature, full algorithm in DuckDB
# ---------------------------------------------------------------------

# per-token 64-bit hash = first 16 hex chars of md5(token); bit j of
# the signature = sign of the +/-1 vote sum across tokens. Bit j of a
# hex hash: char j//4, bit (3 - j%4) of that char's value. Chunk bands
# are 16-char substrings (pigeonhole: distance<=3 pairs share >=1 of 4
# chunks); hamming = differing-char count.
_SIMHASH_ORACLE = f"""
WITH {_DUP_CORPUS_SQL},
toks AS (
  SELECT doc_id,
    list_transform(string_split_regex(lower(trim(text)), '\\s+'),
                   t -> md5(t)) AS hashes
  FROM corpus
),
sig AS (
  SELECT doc_id,
    array_to_string(list_transform(generate_series(0, 63), j ->
      CASE WHEN list_sum(list_transform(hashes, h ->
        CASE WHEN ((strpos('0123456789abcdef', substr(h, 1 + j // 4, 1)) - 1)
                   >> (3 - (j % 4))) & 1 = 1
             THEN 1 ELSE -1 END)) > 0
      THEN '1' ELSE '0' END), '') AS sim
  FROM toks
),
banded AS (
  SELECT doc_id, sim, c AS chunk_id, substr(sim, c * 16 + 1, 16) AS chunk_val
  FROM sig, generate_series(0, 3) AS t(c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_filter(generate_series(1, 64),
                         i -> substr(a.sim, i, 1) != substr(b.sim, i, 1)))
           AS distance
  FROM banded a JOIN banded b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(distance AS BIGINT) AS distance
FROM cand WHERE distance <= 3
"""


@register("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark, sf_dir):
    """Chunk-banded simhash near-dup, oracle-checked end-to-end via the
    md5-portable signature family."""
    pairs = dedup.simhash_dedup_pairs(
        _dup_corpus(spark, sf_dir), max_distance=3, chunks=4
    )
    return pairs.select("id_a", "id_b", F.col("distance").cast("long").alias("distance"))


# ---------------------------------------------------------------------
# dataset assembly: stable hash splits + token-budget packing
# ---------------------------------------------------------------------

# same md5-fraction math as operators/sampling.hash_split, replicated
# hex-char by hex-char in DuckDB
_SPLIT_ORACLE = """
SELECT doc_id,
  CASE WHEN frac < 0.8 THEN 'train'
       WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id,
    list_sum(list_transform(generate_series(1, 8),
      k -> (strpos('0123456789abcdef',
                   substr(md5('split|' || doc_id), k, 1)) - 1)
           * power(16, 8 - k))) / 4294967296.0 AS frac
  FROM documents)
"""


def dataset_split(spark, sf_dir):
    """Stable train/val/test assignment: pure function of the id, so
    re-runs and corpus growth never reassign an existing row."""
    from vrl_spark.operators import sampling

    docs = read_table(spark, sf_dir, "documents", spread=True).select("doc_id")
    return sampling.split_table(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


# greedy first-fit packing is sequential state -> DuckDB recursive CTE
# walks the same fold one doc at a time
_PACK_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens
  FROM documents
),
t AS MATERIALIZED (
  -- the walk recurses once per row; inlined, the tokenization would
  -- re-run on every recursion step
  SELECT doc_id, LEAST(n_tokens, 256) AS tok,
         row_number() OVER (ORDER BY doc_id) AS rn
  FROM toks
),
walk(rn, doc_id, pid, used) AS (
  SELECT rn, doc_id, CAST(0 AS BIGINT), CAST(tok AS BIGINT)
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.rn, t.doc_id,
         CASE WHEN walk.used + t.tok > 256 THEN walk.pid + 1
              ELSE walk.pid END,
         CASE WHEN walk.used + t.tok > 256 THEN CAST(t.tok AS BIGINT)
              ELSE walk.used + t.tok END
  FROM walk JOIN t ON t.rn = walk.rn + 1
)
SELECT doc_id, pid AS pack_id FROM walk
"""


def dataset_pack(spark, sf_dir):
    """Token-budget document packing (LLM pretraining sequence
    assembly): greedy first-fit in id order, JVM aggregate fold."""
    from vrl_spark.operators import sampling

    docs = read_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", textstats.token_count(F.col("text")).alias("n_tokens")
    )
    return sampling.pack_documents(docs, budget=256).select(
        "doc_id", "pack_id"
    )


# ---------------------------------------------------------------------
# capstone: one-call corpus curation, oracle-checked end-to-end
# ---------------------------------------------------------------------

# the full quality -> dedup-clusters -> split -> pack composition in
# one DuckDB statement, assembled from the same verified pieces as the
# per-stage oracles (md5 minhash chain over the QUALITY set, reach
# closure for clusters, md5-fraction splits, recursive packing walk
# partitioned by split)
_CURATION_ORACLE = f"""
WITH RECURSIVE {_DUP_CORPUS_SQL},
ctok AS (
  SELECT doc_id, text,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens
  FROM corpus
),
bounded AS (SELECT * FROM ctok WHERE n_tokens BETWEEN 5 AND 5000),
rt AS (
  SELECT doc_id, text, n_tokens, string_split(text, chr(10)) AS lines,
         string_split_regex(lower(trim(text)), '\\s+') AS w, trim(text) AS tt
  FROM bounded
),
clinem AS (
  SELECT doc_id,
    CASE WHEN len(lines) > 0 THEN
      (len(lines) - len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE)
    ELSE 0.0 END AS dup_line_frac,
    CASE WHEN list_sum(list_transform(lines, l -> length(l))) > 0 THEN
      list_sum(list_transform(lines, l ->
        CASE WHEN len(list_filter(lines, x -> x = l)) > 1
             THEN length(l) ELSE 0 END))
      / CAST(list_sum(list_transform(lines, l -> length(l))) AS DOUBLE)
    ELSE 0.0 END AS dup_line_char_frac
  FROM rt
),
cg2 AS (
  SELECT doc_id, u.g
  FROM rt, UNNEST(CASE WHEN tt != '' AND len(w) >= 2 THEN
    list_transform(generate_series(0, len(w) - 2),
                   i -> array_to_string(w[i+1:i+2], ' '))
    ELSE [] END) AS u(g)
),
cc2 AS (SELECT doc_id, g, COUNT(*) AS c FROM cg2 GROUP BY doc_id, g),
cs2 AS (
  SELECT doc_id, MAX(c) / CAST(SUM(c) AS DOUBLE) AS top2gram_frac
  FROM cc2 GROUP BY doc_id
),
cg5 AS (
  SELECT doc_id, u.g
  FROM rt, UNNEST(CASE WHEN tt != '' AND len(w) >= 5 THEN
    list_transform(generate_series(0, len(w) - 5),
                   i -> array_to_string(w[i+1:i+5], ' '))
    ELSE [] END) AS u(g)
),
cc5 AS (SELECT doc_id, g, COUNT(*) AS c FROM cg5 GROUP BY doc_id, g),
cs5 AS (
  SELECT doc_id,
    SUM(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(SUM(c) AS DOUBLE)
      AS dup5gram_frac
  FROM cc5 GROUP BY doc_id
),
quality AS MATERIALIZED (
  -- MATERIALIZED: referenced by the minhash chain, the survivor join
  -- AND the final fate attribution; inlined it would re-run the
  -- n-gram scoring per reference
  SELECT rt.doc_id, rt.text, rt.n_tokens
  FROM rt
  JOIN clinem ON clinem.doc_id = rt.doc_id
  LEFT JOIN cs2 ON cs2.doc_id = rt.doc_id
  LEFT JOIN cs5 ON cs5.doc_id = rt.doc_id
  WHERE clinem.dup_line_frac <= 0.30
    AND clinem.dup_line_char_frac <= 0.20
    AND COALESCE(cs2.top2gram_frac, 0.0) <= 0.12
    AND COALESCE(cs5.dup5gram_frac, 0.0) <= 0.15
),
mtoks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM quality
),
msh AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 3 THEN list_distinct(
           list_transform(generate_series(0, len(w) - 3),
                          i -> array_to_string(w[i+1:i+3], ' ')))
         WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
         ELSE [] END AS shingles
  FROM mtoks
),
msig AS (
  SELECT doc_id, shingles,
    list_transform(generate_series(0, 15),
                   h -> list_min(list_transform(shingles,
                        s -> substr(md5((h // 4) || '|' || s), 1 + (h % 4) * 8, 8)))) AS sig
  FROM msh
),
mbanded AS (
  SELECT doc_id, b AS band_id,
         array_to_string(sig[b*4+1 : b*4+4], '|') AS band_sig
  FROM msig, generate_series(0, 3) AS t(b)
),
mcand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM mbanded a JOIN mbanded b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id
),
vpairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
      CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
    FROM mcand
    JOIN msh sa ON sa.doc_id = mcand.id_a
    JOIN msh sb ON sb.doc_id = mcand.id_b
  ) WHERE jaccard >= 0.7
),
cedges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION
  SELECT id_b, id_a FROM vpairs
),
creach(id, r) AS (
  SELECT src, dst FROM cedges
  UNION
  SELECT creach.id, e.dst FROM creach JOIN cedges e ON e.src = creach.r
),
clabels AS (
  SELECT id, LEAST(id, MIN(r)) AS cluster_id FROM creach GROUP BY id
),
survivors AS (
  SELECT q.doc_id, q.n_tokens
  FROM quality q LEFT JOIN clabels l ON l.id = q.doc_id
  WHERE COALESCE(l.cluster_id, q.doc_id) = q.doc_id
),
split_assigned AS (
  SELECT doc_id, n_tokens,
    CASE WHEN frac < 0.8 THEN 'train'
         WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT doc_id, n_tokens,
      list_sum(list_transform(generate_series(1, 8),
        k -> (strpos('0123456789abcdef',
                     substr(md5('split|' || doc_id), k, 1)) - 1)
             * power(16, 8 - k))) / 4294967296.0 AS frac
    FROM survivors)
),
pt AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: the packing walk recurses once per
  -- row, and an inlined pt would re-evaluate the whole minhash+CC
  -- chain on every recursion step
  SELECT doc_id, n_tokens, split, LEAST(n_tokens, 512) AS tokc,
         row_number() OVER (PARTITION BY split ORDER BY doc_id) AS rn
  FROM split_assigned
),
walk(split, rn, doc_id, n_tokens, pid, used) AS (
  SELECT split, rn, doc_id, n_tokens, CAST(0 AS BIGINT), CAST(tokc AS BIGINT)
  FROM pt WHERE rn = 1
  UNION ALL
  SELECT pt.split, pt.rn, pt.doc_id, pt.n_tokens,
         CASE WHEN walk.used + pt.tokc > 512 THEN walk.pid + 1
              ELSE walk.pid END,
         CASE WHEN walk.used + pt.tokc > 512 THEN CAST(pt.tokc AS BIGINT)
              ELSE walk.used + pt.tokc END
  FROM walk JOIN pt ON pt.split = walk.split AND pt.rn = walk.rn + 1
),
kept AS (
  SELECT doc_id, split, pid AS pack_id FROM walk
)
-- delta attribution: EVERY corpus document with the stage that
-- dropped it (first stage in pipeline order) or 'kept'
SELECT c.doc_id, CAST(c.n_tokens AS BIGINT) AS n_tokens,
  CASE WHEN k.doc_id IS NOT NULL THEN 'kept'
       WHEN b.doc_id IS NULL THEN 'token_bounds'
       WHEN q.doc_id IS NULL THEN 'repetition'
       ELSE 'near_dup' END AS fate,
  k.split, CAST(k.pack_id AS BIGINT) AS pack_id
FROM ctok c
LEFT JOIN bounded b ON b.doc_id = c.doc_id
LEFT JOIN quality q ON q.doc_id = c.doc_id
LEFT JOIN kept k ON k.doc_id = c.doc_id
"""


@register("dataset_curation", _CURATION_ORACLE)
def dataset_curation(spark, sf_dir):
    """The capstone composition: quality -> near-dup clusters ->
    survivors -> stable splits -> per-split token packing, one call
    (operators/curation.curate_corpus), oracle-checked end-to-end:
    every input document comes back with the stage that dropped it
    (fate) or its split/pack placement."""
    from vrl_spark.operators.curation import curate_corpus

    corpus = _dup_corpus(spark, sf_dir)
    out = curate_corpus(
        corpus, min_tokens=5, max_tokens=5000, max_top2gram_frac=0.12,
        dedup_threshold=0.7, engine="md5", pack_budget=512,
    )
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "fate", "split", F.col("pack_id").cast("long").alias("pack_id"),
    )


# ---------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------


def _lang_id_oracle_expr() -> str:
    hits = {
        lang: (
            "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
            f"t -> list_contains({words!r}, t)))".replace('"', "'")
        )
        for lang, words in textstats.STOPWORDS.items()
    }
    greatest = "greatest(" + ", ".join(hits.values()) + ")"
    cases = " ".join(
        f"WHEN {hits[lang]} = best THEN '{lang}'" for lang in textstats.STOPWORDS
    )
    return f"""
    SELECT doc_id, CASE WHEN best <= 0 THEN 'und' {cases} END AS lang_pred
    FROM (SELECT doc_id, text, {greatest} AS best FROM documents)
    """


_TEXT_STATS_ORACLE = """
WITH t AS (
  SELECT doc_id, text, trim(text) AS tt,
    string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
  CASE WHEN length(tt) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
  len(list_filter(
    regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]+|\\s+', 0),
    p -> NOT regexp_matches(p, '^\\s+$'))) AS n_bpe_ish,
  md5(array_to_string(
    list_sort(list_distinct(
      list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                  x -> x != ''))), ' ')) AS fingerprint,
  CAST(ROUND((
    0.3 * (CASE WHEN length(tt) >= 100 AND length(tt) <= 20000 THEN 1.0
                WHEN length(tt) > 0 THEN 0.5 ELSE 0.0 END)
    + 0.3 * (CASE WHEN length(tt) > 0 THEN
        CAST(length(regexp_replace(tt, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(tt)
        ELSE 0.0 END)
    + 0.2 * (CASE WHEN len(toks) > 0 THEN
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END)
    + 0.2 * (CASE WHEN len(toks) > 0
                  AND CAST(length(tt) AS DOUBLE) / len(toks) >= 3
                  AND CAST(length(tt) AS DOUBLE) / len(toks) <= 12
             THEN 1.0 ELSE 0.3 END)
  ) * 1000000) AS BIGINT) AS quality_x1m
FROM t
"""


# repetition metrics: line duplication is per-row list math; n-gram
# stats replicate the relational explode->group->aggregate in SQL
_REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines,
         string_split_regex(lower(trim(text)), '\\s+') AS w,
         trim(text) AS tt
  FROM documents
),
linem AS (
  SELECT doc_id,
    CASE WHEN len(lines) > 0 THEN
      (len(lines) - len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE)
    ELSE 0.0 END AS dup_line_frac,
    CASE WHEN list_sum(list_transform(lines, l -> length(l))) > 0 THEN
      list_sum(list_transform(lines, l ->
        CASE WHEN len(list_filter(lines, x -> x = l)) > 1
             THEN length(l) ELSE 0 END))
      / CAST(list_sum(list_transform(lines, l -> length(l))) AS DOUBLE)
    ELSE 0.0 END AS dup_line_char_frac
  FROM t
),
g2 AS (
  SELECT doc_id, u.g
  FROM t, UNNEST(CASE WHEN tt != '' AND len(w) >= 2 THEN
    list_transform(generate_series(0, len(w) - 2),
                   i -> array_to_string(w[i+1:i+2], ' '))
    ELSE [] END) AS u(g)
),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
s2 AS (
  SELECT doc_id, MAX(c) / CAST(SUM(c) AS DOUBLE) AS top2gram_frac
  FROM c2 GROUP BY doc_id
),
g5 AS (
  SELECT doc_id, u.g
  FROM t, UNNEST(CASE WHEN tt != '' AND len(w) >= 5 THEN
    list_transform(generate_series(0, len(w) - 5),
                   i -> array_to_string(w[i+1:i+5], ' '))
    ELSE [] END) AS u(g)
),
c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY doc_id, g),
s5 AS (
  SELECT doc_id,
    SUM(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(SUM(c) AS DOUBLE)
      AS dup5gram_frac
  FROM c5 GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(ROUND(linem.dup_line_frac * 1000000) AS BIGINT) AS dup_line_x1m,
  CAST(ROUND(linem.dup_line_char_frac * 1000000) AS BIGINT) AS dup_line_char_x1m,
  CAST(ROUND(COALESCE(s2.top2gram_frac, 0.0) * 1000000) AS BIGINT) AS top2gram_x1m,
  CAST(ROUND(COALESCE(s5.dup5gram_frac, 0.0) * 1000000) AS BIGINT) AS dup5gram_x1m
FROM t
JOIN linem ON linem.doc_id = t.doc_id
LEFT JOIN s2 ON s2.doc_id = t.doc_id
LEFT JOIN s5 ON s5.doc_id = t.doc_id
"""


def text_repetition(spark, sf_dir):
    """Gopher-style repetition metrics over documents (relational
    n-gram counting; see operators/textstats.repetition_stats)."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    stats = textstats.repetition_stats(docs)
    return stats.select(
        "doc_id",
        F.round(F.col("dup_line_frac") * 1000000).cast("long").alias("dup_line_x1m"),
        F.round(F.col("dup_line_char_frac") * 1000000).cast("long").alias("dup_line_char_x1m"),
        F.round(F.col("top2gram_frac") * 1000000).cast("long").alias("top2gram_x1m"),
        F.round(F.col("dup5gram_frac") * 1000000).cast("long").alias("dup5gram_x1m"),
    )


# decontamination: a synthetic "benchmark" is carved out of every
# 25th document (tokens 11..30), so contamination is planted and
# deterministic; flags must mark exactly the docs whose text contains
# any benchmark 8-gram (the carved docs themselves + true substring
# collisions)
_DECONTAM_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w,
         trim(text) AS tt
  FROM documents
),
bench AS (
  SELECT array_to_string(w[11:30], ' ') AS btext
  FROM t WHERE doc_id % 25 = 0 AND len(w) >= 30
),
bgrams AS (
  SELECT DISTINCT u.g
  FROM (SELECT string_split_regex(lower(trim(btext)), '\\s+') AS bw
        FROM bench WHERE trim(btext) != '') b,
  UNNEST(CASE WHEN len(bw) >= 8 THEN
    list_transform(generate_series(0, len(bw) - 8),
                   i -> array_to_string(bw[i+1:i+8], ' '))
    ELSE [] END) AS u(g)
),
dgrams AS (
  SELECT doc_id, u.g
  FROM t, UNNEST(CASE WHEN tt != '' AND len(w) >= 8 THEN
    list_transform(generate_series(0, len(w) - 8),
                   i -> array_to_string(w[i+1:i+8], ' '))
    ELSE [] END) AS u(g)
),
flagged AS (
  SELECT DISTINCT doc_id FROM dgrams WHERE g IN (SELECT g FROM bgrams)
)
SELECT t.doc_id,
  CAST(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
    AS contaminated_flag
FROM t LEFT JOIN flagged f ON f.doc_id = t.doc_id
"""


def text_decontaminate(spark, sf_dir):
    """n-gram benchmark decontamination with a planted benchmark set
    (tokens 11..30 of every 25th doc) — the flagged set is exactly the
    docs containing any benchmark 8-gram."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bench = docs.where(
        (F.col("doc_id") % 25 == 0) & (F.size(toks) >= 30)
    ).select(F.array_join(F.slice(toks, 11, 20), " ").alias("text"))
    flags = textstats.contamination_flags(docs, bench, n=8)
    return flags.select(
        "doc_id", F.col("contaminated").cast("long").alias("contaminated_flag")
    )


# ---------------------------------------------------------------------
# similarity search: brute-force cosine top-k
# ---------------------------------------------------------------------

_TOPK_BRUTE_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    CAST(ROUND(
      list_sum(list_transform(list_zip(q.qvec, c.embedding),
                              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      / NULLIF(
          sqrt(list_sum(list_transform(q.qvec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        * sqrt(list_sum(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 0)
      * 1000000) AS BIGINT) AS cos_x1m
  FROM q JOIN embeddings c ON c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cos_x1m, rank FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cos_x1m DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""


def _similarity_brute(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    joined = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    ).join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id", "neighbor_id",
        F.round(
            similarity.cosine(F.col("qvec"), F.col("cvec")) * 1000000
        ).cast("long").alias("cos_x1m"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_x1m").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
    )


# LSH-bucketed ANN, oracle-checked end-to-end: the hyperplanes are
# md5-derived CONSTANTS (similarity._hyperplane), so the exact plane
# values are embedded in the oracle SQL as literals and DuckDB
# replicates bucketing, multiprobe, cosine, and ranking bit-for-bit.
def _lsh_ann_oracle(dim: int = 64, num_planes: int = 6, k: int = 5) -> str:
    planes = [similarity._hyperplane(dim, p) for p in range(num_planes)]

    def dot_expr(vals: list[float]) -> str:
        arr = "[" + ", ".join(repr(x) for x in vals) + "]"
        return (
            f"list_sum(list_transform(list_zip(v, {arr}), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2]))"
        )

    # bucket = fold p ascending: bucket*2 + sign_bit(dot(v, plane_p))
    bucket = f"(CASE WHEN {dot_expr(planes[0])} >= 0 THEN 1 ELSE 0 END)"
    for pl in planes[1:]:
        bit = f"(CASE WHEN {dot_expr(pl)} >= 0 THEN 1 ELSE 0 END)"
        bucket = f"(({bucket}) * 2 + {bit})"
    probe_list = ", ".join(
        ["qb"] + [f"xor(qb, {1 << p})" for p in range(num_planes)]
    )
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
bucketed AS (
  SELECT vec_id, v, {bucket} AS bucket FROM base
),
q AS (
  SELECT vec_id AS query_id, v AS qvec, bucket AS qb
  FROM bucketed WHERE vec_id < 10
),
probes AS (
  SELECT query_id, qvec, p.bucket
  FROM q, UNNEST([{probe_list}]) AS p(bucket)
),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
    ROUND(
      list_sum(list_transform(list_zip(qvec, c.v), x -> x[1] * x[2]))
      / NULLIF(
          sqrt(list_sum(list_transform(qvec, y -> y * y)))
        * sqrt(list_sum(list_transform(c.v, y -> y * y))), 0), 6) AS cos_sim
  FROM probes JOIN bucketed c
    ON c.bucket = probes.bucket AND c.vec_id != probes.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id,
       CAST(ROUND(cos_sim * 1000000) AS BIGINT) AS cos_x1m,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def _similarity_lsh(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    q = emb.where(F.col("vec_id") < 10)
    topk = similarity.lsh_topk(emb, q, dim=64, k=5, num_planes=6)
    return topk.select(
        "query_id", "neighbor_id",
        F.round(F.col("cos_sim") * 1000000).cast("long").alias("cos_x1m"),
        F.col("rank").cast("long").alias("rank"),
    )


# merged vehicle (r5): brute-force exact top-k (the recall baseline)
# and LSH-bucketed multiprobe ANN ride one registry row, tagged by a
# variant column; each half's oracle replicates its full algorithm
# (the LSH half embeds the md5-derived hyperplane constants as SQL
# literals, so bucketing/multiprobe/cosine/ranking agree bit-for-bit).
_TOPK_ORACLE = (
    "WITH brute AS (" + _TOPK_BRUTE_ORACLE + "), lsh AS ("
    + _lsh_ann_oracle() + ") "
    "SELECT 'brute' AS variant, * FROM brute "
    "UNION ALL SELECT 'lsh', * FROM lsh"
)


@register("similarity_topk", _TOPK_ORACLE)
def similarity_topk(spark, sf_dir):
    brute = _similarity_brute(spark, sf_dir).select(
        F.lit("brute").alias("variant"),
        "query_id", "neighbor_id", "cos_x1m", "rank",
    )
    lsh = _similarity_lsh(spark, sf_dir).select(
        F.lit("lsh").alias("variant"),
        "query_id", "neighbor_id", "cos_x1m", "rank",
    )
    return brute.unionAll(lsh)


# ---------------------------------------------------------------------
# rolling-hash document sketch (winnowing-ish min-of-wgram-md5)
# ---------------------------------------------------------------------

_ROLLING_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
)
SELECT doc_id,
  CASE WHEN len(w) > 0 THEN
    list_min(list_transform(
      generate_series(0, greatest(len(w) - 8, 0)),
      i -> md5(array_to_string(w[i+1:i+8], ' '))))
  END AS sketch
FROM toks
"""


def text_rolling_fingerprint(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return docs.select(
        "doc_id",
        textstats.rolling_hash_fingerprint(F.col("text"), window=8).alias("sketch"),
    )


# ---------------------------------------------------------------------
# embedding-cosine near-dup (blocked-exact, planted duplicates)
# ---------------------------------------------------------------------

_COS_SQL = """
    list_sum(list_transform(list_zip(a.v, c.v),
                            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
    / NULLIF(
        sqrt(list_sum(list_transform(a.v, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
      * sqrt(list_sum(list_transform(c.v, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 0)
"""

# rounded cosine in DuckDB doubles (matches the engine's F.round(.,6)
# discipline in ivf_assign / semantic_dedup_pairs)
_RCOS_SQL = (
    "ROUND(list_sum(list_transform(list_zip({a}, {b}), "
    "x -> x[1] * x[2])) / NULLIF("
    "sqrt(list_sum(list_transform({a}, y -> y * y))) * "
    "sqrt(list_sum(list_transform({b}, y -> y * y))), 0), 6)"
)

_EMB_DEDUP_ORACLE = f"""
WITH RECURSIVE base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  -- planted near-dups: every 10th vector re-enters with dim 1 scaled
  SELECT vec_id + 100000 AS vec_id,
         list_transform(list_zip(v, range(1, len(v) + 1)),
                        p -> CASE WHEN p[2] = 1 THEN p[1] * 1.05 ELSE p[1] END) AS v
  FROM base WHERE vec_id % 10 = 0
),
b AS (
  SELECT vec_id, v,
    (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
    + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
    + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
    + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM corpus
),
pairs AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b, {_COS_SQL} AS cos
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
),
-- SemDeDup lane: smallest-md5 sampled centroids (ivf_centroids),
-- rounded-cosine argmax assignment (ivf_assign), within-cluster
-- pairs, reachability-closure groups, centroid-far survivor
cents AS (
  SELECT vec_id AS centroid_id, v AS cv FROM corpus
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32
),
asg AS (
  -- cs computed in an inner subquery so the O(dim) fold runs ONCE
  -- per (row x centroid), not again inside the window sort key
  SELECT vec_id, v, centroid_id AS list_id, cs FROM (
    SELECT vec_id, v, centroid_id, cs,
      row_number() OVER (PARTITION BY vec_id ORDER BY
        cs DESC, centroid_id) AS rn
    FROM (
      SELECT c2.vec_id, c2.v, ce.centroid_id,
        {_RCOS_SQL.format(a='c2.v', b='ce.cv')} AS cs
      FROM corpus c2 CROSS JOIN cents ce
    )
  ) WHERE rn = 1
),
spairs AS (
  SELECT * FROM (
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           {_RCOS_SQL.format(a='a.v', b='c.v')} AS cos
    FROM asg a JOIN asg c ON a.list_id = c.list_id AND a.vec_id < c.vec_id
  ) WHERE cos >= 0.99
),
sedges AS (
  SELECT id_a AS src, id_b AS dst FROM spairs
  UNION
  SELECT id_b, id_a FROM spairs
),
sreach(id, r) AS (
  SELECT src, dst FROM sedges
  UNION
  SELECT sreach.id, e.dst FROM sreach JOIN sedges e ON e.src = sreach.r
),
slabels AS (
  SELECT id, LEAST(id, MIN(r)) AS group_id FROM sreach GROUP BY id
),
smember AS (
  SELECT a.vec_id, COALESCE(l.group_id, a.vec_id) AS group_id, a.cs,
    row_number() OVER (PARTITION BY COALESCE(l.group_id, a.vec_id)
                       ORDER BY a.cs ASC, a.vec_id ASC) AS rn
  FROM asg a LEFT JOIN slabels l ON l.id = a.vec_id
)
SELECT 'signblock' AS variant, id_a, id_b,
       CAST(ROUND(cos * 1000000) AS BIGINT) AS val
FROM pairs WHERE cos >= 0.99
UNION ALL
SELECT 'sem_pairs', id_a, id_b, CAST(ROUND(cos * 1000000) AS BIGINT)
FROM spairs
UNION ALL
SELECT 'sem_keep', vec_id, group_id, CAST(rn = 1 AS BIGINT)
FROM smember
"""


@register("dedup_embedding_cosine", _EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup over a corpus with PLANTED duplicates (every
    10th vector re-enters with one dimension scaled 1.05 — cosine
    ~0.999 to its source), three variants on one registry row:

    - ``signblock``: blocked-exact cosine pairs (sign-bit buckets +
      exact cosine); val = cos * 1e6.
    - ``sem_pairs``: SemDeDup candidate pairs (smallest-md5 sampled
      centroids -> rounded-cosine argmax clusters -> within-cluster
      exact cosine at 0.99); val = cos * 1e6.
    - ``sem_keep``: the full SemDeDup decision — duplicate groups as
      pair-graph connected components, survivor = the member with the
      LOWEST cosine to its cluster centroid (the paper's diversity-
      preserving rule, ties -> smallest id); id_b = group_id,
      val = keep flag.

    The oracle replicates ALL of it in one DuckDB statement: sampling,
    assignment, pair cosines, the reachability closure (recursive
    CTE), and the keep rule."""
    from vrl_spark.operators.similarity import (
        cosine_dedup_pairs,
        semantic_dedup,
        semantic_dedup_pairs,
    )

    from vrl_spark.sources import spread_scan

    # spread once AFTER the union (see _dup_corpus), before the
    # checkpoint pins the partitioning for every downstream consumer
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    planted = base.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("v"),
            lambda x, i: F.when(i == 0, x * 1.05).otherwise(x),
        ).alias("v"),
    )
    corpus = spread_scan(base.unionByName(planted)).localCheckpoint()
    pairs = cosine_dedup_pairs(
        corpus, id_col="vec_id", vec_col="v", threshold=0.99, block_bits=4
    ).select(
        F.lit("signblock").alias("variant"), "id_a", "id_b",
        F.round(F.col("cos") * 1000000).cast("long").alias("val"),
    )
    sstats: dict = {}
    sem = semantic_dedup_pairs(
        corpus, n_clusters=32, threshold=0.99, id_col="vec_id",
        vec_col="v", stats=sstats,
    ).localCheckpoint()  # tiny; pays the within-cluster scoring once
    spairs = sem.select(
        F.lit("sem_pairs").alias("variant"), "id_a", "id_b",
        F.round(F.col("cos") * 1000000).cast("long").alias("val"),
    )
    keeps = semantic_dedup(
        corpus, threshold=0.99, id_col="vec_id", vec_col="v",
        pairs=sem, centroids=sstats["centroids"],
    ).select(
        F.lit("sem_keep").alias("variant"),
        F.col("vec_id").alias("id_a"),
        F.col("group_id").alias("id_b"),
        F.col("keep").cast("long").alias("val"),
    )
    return pairs.unionAll(spairs).unionAll(keeps)


# ---------------------------------------------------------------------
# PII scrubbing (redact.rs applied at corpus scale)
# ---------------------------------------------------------------------
# PII snippets are PLANTED deterministically by doc_id residue (the
# base corpus is digit-free word salad) so detection is non-trivial;
# the identical planting + the identical regex text run in DuckDB.
# Patterns live in operators/pii.py and are written in the common
# Java-regex / RE2 subset, so the SAME pattern string is injected
# into both plans.

_PII_PLANT_SQL = """
  SELECT doc_id,
    text
      || CASE WHEN doc_id % 7 = 0 THEN ' mail bob.smith+' || CAST(doc_id AS VARCHAR) || '@corp-mail.example.com' ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN ' src 203.0.113.' || CAST(doc_id % 254 + 1 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 13 = 0 THEN ' ssn 219-09-' || CAST(1111 * (1 + doc_id % 8) AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 17 = 0 THEN ' card 4111-1111-1111-' || CAST(1111 * (1 + doc_id % 8) AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 19 = 0 THEN ' tel 415-555-' || CAST(1000 + doc_id % 8999 AS VARCHAR) ELSE '' END
    AS text
  FROM documents
"""

_PII_ORACLE_TEMPLATE = """
WITH planted AS ({plant})
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    text, '{email}', '<EMAIL>', 'g'), '{ipv4}', '<IP>', 'g'),
    '{us_ssn}', '<SSN>', 'g'), '{credit_card}', '<CARD>', 'g'),
    '{phone}', '<PHONE>', 'g') AS scrubbed,
  CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{ipv4}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '{us_ssn}')) AS BIGINT) AS n_us_ssn,
  CAST(len(regexp_extract_all(text, '{credit_card}')) AS BIGINT) AS n_credit_card,
  CAST(len(regexp_extract_all(text, '{phone}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '{email}'))
     + len(regexp_extract_all(text, '{ipv4}'))
     + len(regexp_extract_all(text, '{us_ssn}'))
     + len(regexp_extract_all(text, '{credit_card}'))
     + len(regexp_extract_all(text, '{phone}')) AS BIGINT) AS pii_total
FROM planted
"""


def _pii_planted(spark, sf_dir):
    from vrl_spark.operators import pii as _  # noqa: F401  (import check)

    docs = read_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    did = F.col("doc_id")
    sid = did.cast("string")
    serial8 = (1111 * (1 + did % 8)).cast("string")

    def maybe(mod: int, *parts):
        return F.when(did % mod == 0, F.concat(*parts)).otherwise(F.lit(""))

    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            maybe(7, F.lit(" mail bob.smith+"), sid, F.lit("@corp-mail.example.com")),
            maybe(11, F.lit(" src 203.0.113."), (did % 254 + 1).cast("string")),
            maybe(13, F.lit(" ssn 219-09-"), serial8),
            maybe(17, F.lit(" card 4111-1111-1111-"), serial8),
            maybe(19, F.lit(" tel 415-555-"), (1000 + did % 8999).cast("string")),
        ).alias("text"),
    )


from vrl_spark.operators import pii as _pii  # noqa: E402
from vrl_spark.sources import read_table

_PII_ORACLE = _PII_ORACLE_TEMPLATE.format(
    plant=_PII_PLANT_SQL, **_pii.PII_PATTERNS
)


# ---------------------------------------------------------------------
# URL canonicalization + URL-level dedup
# ---------------------------------------------------------------------
# Spark normalizes MESSY planted variants (case, default port,
# userinfo, fragment, trailing slash, tracking params, param order);
# the oracle derives the expected canonical form ANALYTICALLY from the
# planting residues — an independent derivation, so any normalizer bug
# breaks the match.

_URL_DEDUP_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 5 AS h, doc_id % 30 AS k, doc_id % 4 AS v
  FROM documents
),
c AS (
  SELECT doc_id,
    'http://host' || h || '.example.com/page/' || k || '?id=' || k
      || CASE WHEN v = 3 THEN '&z=9' ELSE '' END AS canonical_url
  FROM d
)
SELECT canonical_url, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM c GROUP BY canonical_url
"""


@register("dedup_url", _URL_DEDUP_ORACLE)
def dedup_url(spark, sf_dir):
    from vrl_spark.operators import urltools

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    h = (d % 5).cast("string")
    k = (d % 30).cast("string")
    messy = (
        F.when(d % 4 == 0, F.concat(
            F.lit("http://host"), h, F.lit(".example.com/page/"), k,
            F.lit("?id="), k))
        .when(d % 4 == 1, F.concat(
            F.lit("HTTP://Host"), h, F.lit(".Example.COM:80/page/"), k,
            F.lit("/?id="), k, F.lit("#sec2")))
        .when(d % 4 == 2, F.concat(
            F.lit("http://u:p@host"), h, F.lit(".example.com/page/"), k,
            F.lit("?utm_source=feed&id="), k, F.lit("&fbclid=xyz")))
        .otherwise(F.concat(
            F.lit("http://host"), h, F.lit(".example.com/page/"), k,
            F.lit("?id="), k, F.lit("&z=9")))
    )
    urls = docs.select("doc_id", messy.alias("url"))
    return urltools.url_dedup(urls, "url", "doc_id")


# ---------------------------------------------------------------------
# deterministic exact-n-per-stratum sampling
# ---------------------------------------------------------------------

_STRATIFIED_ORACLE = """
WITH h AS (
  SELECT doc_id, lang, source,
    list_sum(list_transform(generate_series(1, 8),
      k -> (strpos('0123456789abcdef',
                   substr(md5('sample|' || doc_id), k, 1)) - 1)
           * power(16, 8 - k))) / 4294967296.0 AS frac
  FROM documents
),
r AS (
  SELECT doc_id, lang, source,
    ROW_NUMBER() OVER (PARTITION BY lang, source
                       ORDER BY frac ASC, doc_id ASC) AS sample_rank
  FROM h
)
SELECT doc_id, lang, source, sample_rank FROM r WHERE sample_rank <= 10
"""


@register("dataset_stratified", _STRATIFIED_ORACLE)
def dataset_stratified(spark, sf_dir):
    """Exact 10-per-(lang, source) deterministic sample: smallest
    md5(salt|id) hashes win, so the chosen set is stable under re-runs
    and corpus growth."""
    from vrl_spark.operators import sampling

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return sampling.sample_per_stratum(
        docs, ["lang", "source"], n=10, id_col="doc_id", salt="sample"
    ).select("doc_id", "lang", "source", "sample_rank")


# ---------------------------------------------------------------------
# corpus-wide duplicated-line removal (boilerplate stripping)
# ---------------------------------------------------------------------
# Boilerplate lines (nav / footer / promo) are planted across many
# docs; a short dup line stays under min_chars to prove the length
# guard. The oracle replicates the relational pipeline in DuckDB.

_NAV = "NAVIGATION: home | products | about | contact us today"
_FOOT = "COPYRIGHT 2024 example corp all rights reserved worldwide"
_PROMO = "SUBSCRIBE to our newsletter for weekly updates and offers"

_SPAN = ("limited time offer click here now to claim your free "
         "prize today")

_LINE_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN '{_NAV}' ELSE 'short' END || chr(10)
    || text
    || CASE WHEN doc_id % 7 = 0 THEN ' {_SPAN}' ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '{_FOOT}' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '{_PROMO}' ELSE '' END
    AS text
  FROM documents
),
s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM t),
l AS (
  SELECT doc_id, g.i AS ord, ls[g.i] AS line
  FROM s, UNNEST(generate_series(1, len(ls))) AS g(i)
),
flagged AS (
  SELECT line FROM l WHERE length(line) >= 10
  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
),
kept AS (SELECT doc_id, line, ord FROM l ANTI JOIN flagged USING (line)),
reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS cleaned,
         COUNT(*) AS k
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, len(ls) AS n FROM s),
ld AS (
  SELECT tot.doc_id, COALESCE(reb.cleaned, '') AS cleaned,
         CAST(tot.n - COALESCE(reb.k, 0) AS BIGINT) AS n_removed
  FROM tot LEFT JOIN reb USING (doc_id)
),
-- span dedup over the line-deduped text (8-token grams, >= 2 docs)
sw AS (
  SELECT doc_id,
    list_filter(string_split_regex(cleaned, '\\s+'), x -> x != '') AS w
  FROM ld
),
stok AS (
  SELECT doc_id, g.i AS pos, w[g.i] AS tok
  FROM sw, UNNEST(generate_series(1, len(w))) AS g(i)
),
sgr AS (
  SELECT doc_id, s.i AS start,
         array_to_string(w[s.i : s.i + 7], ' ') AS gram
  FROM sw, UNNEST(generate_series(1, len(w) - 7)) AS s(i)
),
sfl AS (
  SELECT gram FROM sgr GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
scov AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT doc_id, UNNEST(generate_series(start, start + 7)) AS pos
    FROM sgr SEMI JOIN sfl USING (gram)
  )
),
skept AS (
  SELECT doc_id, pos, tok FROM stok ANTI JOIN scov USING (doc_id, pos)
),
sreb AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS span_text,
         COUNT(*) AS k
  FROM skept GROUP BY doc_id
),
stot AS (SELECT doc_id, len(w) AS n FROM sw)
SELECT ld.doc_id, ld.cleaned, ld.n_removed,
       COALESCE(sreb.span_text, '') AS span_text,
       CAST(stot.n - COALESCE(sreb.k, 0) AS BIGINT) AS n_span_removed
FROM ld JOIN stot USING (doc_id) LEFT JOIN sreb USING (doc_id)
"""


@register("text_line_dedup", _LINE_DEDUP_ORACLE)
def text_line_dedup(spark, sf_dir):
    """Boilerplate line removal, then duplicated-SPAN removal over the
    cleaned text (8-token grams shared by >= 2 docs — planted inline
    on doc_id % 7 so it survives the line pass and only the span pass
    can catch it)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.when(d % 2 == 0, _NAV).otherwise("short"), F.lit("\n"),
            F.col("text"),
            F.when(d % 7 == 0, F.lit(" " + _SPAN)).otherwise(""),
            F.when(d % 3 == 0, F.concat(F.lit("\n"), F.lit(_FOOT))).otherwise(""),
            F.when(d % 5 == 0, F.concat(F.lit("\n"), F.lit(_PROMO))).otherwise(""),
        ).alias("text"),
    )
    ld = textstats.line_dedup(planted, "text", "doc_id",
                              min_docs=2, min_chars=10)
    # keep_cols carries the line-pass output through span_dedup
    # map-side — a self-join here would re-execute the whole
    # line_dedup subplan a second time inside the join's lineage
    return textstats.span_dedup(
        ld, "cleaned", "doc_id", ngram=8, min_docs=2,
        keep_cols=["cleaned", "n_removed"], n_col="n_span_removed",
    )


# ---------------------------------------------------------------------
# Gopher quality rules (the full published rule family)
# ---------------------------------------------------------------------
# Rule-triggering content is planted by residue: bullet lists (%4==1),
# ellipsis lines + symbol runs (%4==2), digit words (%4==3).

_GOPHER_ORACLE = """
WITH t AS (
  SELECT doc_id,
    trim(text
      || CASE WHEN doc_id % 4 = 1 THEN chr(10) || '• item one' || chr(10) ||
          '• item two' || chr(10) || '• item three' || chr(10) ||
          '• item four' || chr(10) || '• item five' ELSE '' END
      || CASE WHEN doc_id % 4 = 2 THEN chr(10) || 'read more...' || chr(10) ||
          'click here...' || chr(10) || '### #### #####' ELSE '' END
      || CASE WHEN doc_id % 4 = 3 THEN
          ' 12345 67890 11111 22222 33333 44444 55555 66666' ELSE '' END
      || CASE WHEN doc_id % 2 = 0 THEN
          ' the deal is that we have an offer with value' ELSE '' END
    ) AS tt
  FROM documents
),
m AS (
  SELECT doc_id, tt, lower(tt) AS low,
    string_split_regex(lower(tt), '\\s+') AS w,
    string_split(tt, chr(10)) AS ls
  FROM t
),
c AS (
  SELECT doc_id,
    CASE WHEN tt = '' THEN 0 ELSE len(w) END AS n_words,
    CASE WHEN tt = '' THEN 0.0
         ELSE list_sum(list_transform(w, x -> length(x)))
              / CAST(len(w) AS DOUBLE) END AS mean_wl,
    CASE WHEN tt = '' THEN 0.0 ELSE (
        (length(low) - length(replace(low, '#', '')))
        + (length(low) - length(replace(low, '...', ''))) / 3
        + (length(low) - length(replace(low, '…', '')))
      ) / CAST(len(w) AS DOUBLE) END AS symbol_ratio,
    len(list_filter(ls, l -> regexp_matches(trim(l), '^[•\\-\\*]')))
      / CAST(len(ls) AS DOUBLE) AS bullet_frac,
    len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))
      / CAST(len(ls) AS DOUBLE) AS ellipsis_frac,
    CASE WHEN tt = '' THEN 0.0
         ELSE len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
              / CAST(len(w) AS DOUBLE) END AS alpha_frac,
    len(list_intersect(list_distinct(w),
        ['the','be','to','of','and','that','have','with'])) AS stopword_hits
  FROM m
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
  CAST(ROUND(mean_wl * 1000000) AS BIGINT) AS mean_word_len_x1m,
  CAST(ROUND(symbol_ratio * 1000000) AS BIGINT) AS symbol_ratio_x1m,
  CAST(ROUND(bullet_frac * 1000000) AS BIGINT) AS bullet_frac_x1m,
  CAST(ROUND(ellipsis_frac * 1000000) AS BIGINT) AS ellipsis_frac_x1m,
  CAST(ROUND(alpha_frac * 1000000) AS BIGINT) AS alpha_word_frac_x1m,
  CAST(stopword_hits AS BIGINT) AS stopword_hits,
  (n_words BETWEEN 50 AND 100000 AND mean_wl BETWEEN 3.0 AND 10.0
   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
   AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
   AND stopword_hits >= 2) AS keep
FROM c
"""


def text_gopher_rules(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 4 == 1, "\n• item one\n• item two\n• item three"
                               "\n• item four\n• item five").otherwise(""),
            F.when(d % 4 == 2, "\nread more...\nclick here..."
                               "\n### #### #####").otherwise(""),
            F.when(d % 4 == 3, " 12345 67890 11111 22222 33333 44444"
                               " 55555 66666").otherwise(""),
            F.when(d % 2 == 0, " the deal is that we have an offer"
                               " with value").otherwise(""),
        ).alias("text"),
    )
    return textstats.gopher_rules(planted, "text", "doc_id")


# ---------------------------------------------------------------------
# corpus vocabulary head (document frequency)
# ---------------------------------------------------------------------

_VOCAB_ORACLE = """
WITH toks AS (
  SELECT doc_id, u.token
  FROM (SELECT doc_id,
          list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                      x -> x != '') AS w
        FROM documents),
       UNNEST(w) AS u(token)
),
agg AS (
  SELECT token, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS total_freq
  FROM toks GROUP BY token
),
r AS (
  SELECT token, doc_freq, total_freq,
    ROW_NUMBER() OVER (ORDER BY doc_freq DESC, token ASC) AS rank
  FROM agg
)
SELECT token, doc_freq, total_freq, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 100
"""


@register("text_vocab_stats", _VOCAB_ORACLE)
def text_vocab_stats(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return textstats.vocab_stats(docs, "text", "doc_id", top_k=100)


# ---------------------------------------------------------------------
# overlapping token-window chunking (RAG / context assembly)
# ---------------------------------------------------------------------

_CHUNK_ORACLE = """
WITH s AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '') AS w
  FROM documents
)
SELECT doc_id,
  CAST(g.st // 24 AS BIGINT) AS chunk_id,
  array_to_string(list_slice(w, g.st + 1, g.st + 32), ' ') AS chunk_text,
  CAST(len(list_slice(w, g.st + 1, g.st + 32)) AS BIGINT) AS n_chunk_tokens
FROM s, UNNEST(generate_series(0, len(w) - 1, 24)) AS g(st)
"""


@register("text_chunks", _CHUNK_ORACLE)
def text_chunks(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return textstats.chunk_documents(
        docs, "text", "doc_id", chunk_tokens=32, overlap=8
    )


# ---------------------------------------------------------------------
# BM25 lexical scoring
# ---------------------------------------------------------------------
# Fixed query over the corpus vocabulary; full formula replicated in
# DuckDB (ln + rational arithmetic on IEEE doubles both sides).

_BM25_TERMS = ["batch", "scan", "window", "join", "filter"]

_BM25_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                x -> x != '') AS w
  FROM documents
),
dls AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, w FROM base),
sc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dls),
m AS (
  SELECT doc_id, dl, u.term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM dls, UNNEST(list_filter(w,
    x -> list_contains({_BM25_TERMS!r}, x))) AS u(term)
  GROUP BY doc_id, dl, u.term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM m GROUP BY term),
s AS (
  SELECT m.doc_id,
    SUM(ln(1 + (sc.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
        * (m.tf * 2.2)
        / (m.tf + 1.2 * (1 - 0.75 + 0.75 * m.dl / sc.avgdl))) AS score
  FROM m JOIN dfreq USING (term) CROSS JOIN sc
  GROUP BY m.doc_id
)
SELECT base.doc_id,
  CAST(ROUND(COALESCE(s.score, 0.0) * 1000000) AS BIGINT) AS score_x1m
FROM base LEFT JOIN s ON base.doc_id = s.doc_id
"""


def text_bm25(spark, sf_dir):
    from vrl_spark.operators import retrieval

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = retrieval.bm25_scores(docs, _BM25_TERMS)
    return out.select(
        "doc_id", F.round(F.col("score") * 1000000).cast("long").alias(
            "score_x1m"
        ),
    )


# ---------------------------------------------------------------------
# unigram LM negative log-likelihood (perplexity quality proxy)
# ---------------------------------------------------------------------

_NLL_ORACLE = """
WITH e AS (
  SELECT doc_id, u.token
  FROM (SELECT doc_id,
          list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                      x -> x != '') AS w
        FROM documents),
       UNNEST(w) AS u(token)
),
c AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS c FROM e GROUP BY token),
tot AS (SELECT SUM(c) AS corpus_tokens FROM c),
n AS (
  SELECT e.doc_id, AVG(-ln(c.c / tot.corpus_tokens)) AS mean_nll,
         COUNT(*) AS n_tokens
  FROM e JOIN c USING (token) CROSS JOIN tot
  GROUP BY e.doc_id
)
SELECT d.doc_id,
  CAST(ROUND(COALESCE(n.mean_nll, 0.0) * 1000000) AS BIGINT) AS mean_nll_x1m,
  CAST(COALESCE(n.n_tokens, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN n ON d.doc_id = n.doc_id
"""


def text_unigram_nll(spark, sf_dir):
    from vrl_spark.operators import retrieval

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = retrieval.unigram_nll(docs)
    return out.select(
        "doc_id",
        F.round(F.col("mean_nll") * 1000000).cast("long").alias("mean_nll_x1m"),
        "n_tokens",
    )


# ---------------------------------------------------------------------
# trained bigram-LM perplexity (CCNet-style model-based quality gate)
# ---------------------------------------------------------------------
# Full training-loop replication: the oracle fits the SAME interpolated
# absolute-discounting bigram LM on the SAME md5-fraction train split
# and re-derives every per-doc perplexity and head/middle/tail bucket.
# Buckets compare ROUNDED x1m values on both sides so a last-ulp
# quantile difference between engines can never flip a label.

_BIGRAM_LM_ORACLE = """
WITH lmd AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                x -> x != '') AS w,
    CAST(concat('0x', substr(md5('lm|' || doc_id), 1, 8)) AS BIGINT)
      / 4294967296.0 < 0.6 AS lm_is_train
  FROM documents),
lmev AS (
  SELECT doc_id, lm_is_train,
         CASE WHEN i > 1 THEN w[i-1] END AS prev, w[i] AS cur
  FROM lmd, UNNEST(generate_series(1, len(w))) AS t(i)),
lmuni AS (SELECT cur AS tok, CAST(COUNT(*) AS DOUBLE) AS c1
          FROM lmev WHERE lm_is_train GROUP BY cur),
lmsc AS (SELECT SUM(c1) AS nn, CAST(COUNT(*) AS DOUBLE) AS vv FROM lmuni),
lmbig AS (SELECT prev, cur, CAST(COUNT(*) AS DOUBLE) AS c2
          FROM lmev WHERE lm_is_train AND prev IS NOT NULL
          GROUP BY prev, cur),
lmctx AS (SELECT prev, SUM(c2) AS cv, CAST(COUNT(*) AS DOUBLE) AS n1p
          FROM lmbig GROUP BY prev),
lmp AS (
  SELECT e.doc_id,
    CASE WHEN x.cv > 0
         THEN (greatest(COALESCE(b.c2, 0.0) - 0.75, 0.0)
               + 0.75 * x.n1p
                 * ((COALESCE(u.c1, 0.0) + 1.0) / (s.nn + s.vv + 1.0)))
              / x.cv
         ELSE (COALESCE(u.c1, 0.0) + 1.0) / (s.nn + s.vv + 1.0)
    END AS p
  FROM lmev e
  LEFT JOIN lmbig b ON e.prev = b.prev AND e.cur = b.cur
  LEFT JOIN lmctx x ON e.prev = x.prev
  LEFT JOIN lmuni u ON e.cur = u.tok
  CROSS JOIN lmsc s),
lmn AS (SELECT doc_id, AVG(-ln(p)) AS mean_nll, COUNT(*) AS n_scored
        FROM lmp GROUP BY doc_id),
lmdocs AS (
  SELECT doc_id, lm_is_train, lm_n_scored, mnllr,
         exp(mnllr / 1000000.0) AS ppl
  FROM (
    SELECT d.doc_id, d.lm_is_train,
      CAST(COALESCE(n.n_scored, 0) AS BIGINT) AS lm_n_scored,
      CAST(ROUND(COALESCE(n.mean_nll, 0.0) * 1000000) AS BIGINT)
        AS mnllr
    FROM lmd d LEFT JOIN lmn n USING (doc_id))),
lmth AS (
  SELECT CAST(ROUND(quantile_cont(ppl, 0.3) * 1000000) AS BIGINT) AS lo,
         CAST(ROUND(quantile_cont(ppl, 0.7) * 1000000) AS BIGINT) AS hi
  FROM lmdocs)
SELECT doc_id, lm_is_train, lm_n_scored,
  mnllr AS lm_nll_x1m,
  CAST(ROUND(ppl * 1000000) AS BIGINT) AS lm_ppl_x1m,
  CASE WHEN CAST(ROUND(ppl * 1000000) AS BIGINT) <= t.lo THEN 'head'
       WHEN CAST(ROUND(ppl * 1000000) AS BIGINT) <= t.hi THEN 'middle'
       ELSE 'tail' END AS lm_bucket
FROM lmdocs CROSS JOIN lmth t
"""


def text_bigram_lm(spark, sf_dir):
    from vrl_spark.operators import retrieval as _r
    from vrl_spark.operators.sampling import hash_frac

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text",
        (hash_frac(F.col("doc_id"), "lm") < 0.6).alias("_lm_train"),
    )
    return _r.bigram_perplexity(docs, train_col="_lm_train")


# ---------------------------------------------------------------------
# per-registered-domain rollup (blocklist / crawl-budget stats)
# ---------------------------------------------------------------------
# URL variants plant three eTLD+1 families (incl. a multi-label public
# suffix); the oracle derives the domain ANALYTICALLY from the
# residues — independent of the PSL lowering it checks.

_DOMAIN_ORACLE = """
WITH t AS (
  SELECT doc_id,
    CASE doc_id % 3
      WHEN 0 THEN 'example.com'
      WHEN 1 THEN 'portal' || (doc_id % 5) || '.co.uk'
      ELSE 'github.io' END AS domain,
    CASE doc_id % 3
      WHEN 0 THEN 'www.shop' || (doc_id % 20) || '.example.com'
      WHEN 1 THEN 'news' || (doc_id % 20) || '.portal' || (doc_id % 5) || '.co.uk'
      ELSE 'user' || (doc_id % 9) || '.github.io' END AS host,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok
  FROM documents
)
SELECT domain, COUNT(*) AS n_docs, COUNT(DISTINCT host) AS n_hosts,
  CAST(SUM(tok) AS BIGINT) AS total_tokens,
  CAST(ROUND(CAST(SUM(tok) AS DOUBLE) / COUNT(*) * 1000000) AS BIGINT)
    AS mean_doc_tokens_x1m
FROM t GROUP BY domain
"""


@register("text_domain_stats", _DOMAIN_ORACLE)
def text_domain_stats(spark, sf_dir):
    from vrl_spark.operators import urltools

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    d = F.col("doc_id")
    k20 = (d % 20).cast("string")
    url = (
        F.when(d % 3 == 0, F.concat(
            F.lit("http://www.shop"), k20, F.lit(".example.com/p")))
        .when(d % 3 == 1, F.concat(
            F.lit("http://news"), k20, F.lit(".portal"),
            (d % 5).cast("string"), F.lit(".co.uk/x")))
        .otherwise(F.concat(
            F.lit("http://user"), (d % 9).cast("string"),
            F.lit(".github.io/repo")))
    )
    planted = docs.select("doc_id", url.alias("url"), "text")
    return urltools.domain_stats(planted)


# ---------------------------------------------------------------------
# PageRank over a planted host link graph
# ---------------------------------------------------------------------
# Edges derive deterministically from doc ids; host 96 is made
# dangling (its out-edges filtered) to exercise the dangling-mass
# redistribution. The oracle UNROLLS the 10 synchronous iterations as
# chained CTEs — recursive-CTE aggregation limits don't apply, and
# every step is plain relational algebra DuckDB executes independently.


def _pagerank_oracle(iters: int = 10, d: float = 0.85) -> str:
    # AS MATERIALIZED on every step: DuckDB inlines plain CTEs, so an
    # iteration chain would otherwise re-expand exponentially
    ctes = [
        "e AS MATERIALIZED (SELECT DISTINCT doc_id % 97 AS src,"
        " (doc_id * 31 + 7) % 97 AS dst"
        " FROM documents WHERE doc_id % 97 != 96)",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "od AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS o"
        " FROM e GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank"
        " FROM nodes)",
    ]
    for i in range(iters):
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0) AS dang"
            f" FROM r{i} WHERE node NOT IN (SELECT src FROM od))"
        )
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS node,"
            f" SUM(r.rank / od.o) AS inflow"
            f" FROM e JOIN r{i} r ON e.src = r.node JOIN od ON e.src = od.src"
            f" GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i + 1} AS MATERIALIZED (SELECT nodes.node,"
            f" {1.0 - d} / (SELECT n FROM nn)"
            f" + {d} * (COALESCE(c.inflow, 0)"
            f" + (SELECT dang FROM d{i}) / (SELECT n FROM nn)) AS rank"
            f" FROM nodes LEFT JOIN c{i} c ON nodes.node = c.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, CAST(ROUND(rank * 100000000) AS BIGINT)"
        f" AS rank_x1e8 FROM r{iters}"
    )


def graph_pagerank(spark, sf_dir):
    from vrl_spark.operators.graph import pagerank

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    edges = (
        docs.select(
            (d % 97).alias("src"), ((d * 31 + 7) % 97).alias("dst")
        )
        .where(F.col("src") != 96)
        .distinct()
    )
    out = pagerank(edges, damping=0.85, iterations=10)
    return out.select(
        "node",
        F.round(F.col("rank") * 100000000).cast("long").alias("rank_x1e8"),
    )


# ---------------------------------------------------------------------
# deterministic weighted sampling (quality-weighted subset) + DSIR
# importance resampling, two variants on one registry row
# ---------------------------------------------------------------------
# es lane: weight = doc token count; same md5-fraction + power key in
# DuckDB. dsir lane: the FULL DSIR recipe (Xie et al. 2023) — hashed
# unigram+bigram bucket models fit on a target split (doc_id % 7 = 0)
# vs the raw pool, per-doc log-likelihood-ratio weights, Gumbel-top-k
# resampling — every bucket id, both fitted models, every log-weight
# and every Gumbel key replicated in DuckDB (md5 feature family, the
# classifier oracle's featurization CTEs, the (h + 0.5) / 2^32
# strictly-interior uniform).

_WSAMPLE_ORACLE = """
WITH h AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
    list_sum(list_transform(generate_series(1, 8),
      k -> (strpos('0123456789abcdef',
                   substr(md5('wsample|' || doc_id), k, 1)) - 1)
           * power(16, 8 - k))) / 4294967296.0 AS frac
  FROM documents
),
k AS (
  SELECT doc_id, n_tokens, power(frac, 1.0 / n_tokens) AS key
  FROM h WHERE n_tokens > 0
),
r AS (
  SELECT doc_id, n_tokens,
    ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC) AS sample_rank
  FROM k
),
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, unnest(list_concat(tk,
    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]))) AS g
  FROM toks
),
feats AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 128 AS bucket
  FROM grams
),
tcnt AS (
  SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS c FROM feats
  WHERE doc_id % 7 = 0 GROUP BY bucket
),
rcnt AS (
  SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS c FROM feats
  WHERE doc_id % 7 != 0 GROUP BY bucket
),
ratio AS (
  SELECT b.bucket,
      ln((COALESCE(t.c, 0) + 1.0) / ((SELECT SUM(c) FROM tcnt) + 128.0))
    - ln((COALESCE(rr.c, 0) + 1.0) / ((SELECT SUM(c) FROM rcnt) + 128.0))
    AS w
  FROM (SELECT unnest(range(0, 128)) AS bucket) b
  LEFT JOIN tcnt t ON b.bucket = t.bucket
  LEFT JOIN rcnt rr ON b.bucket = rr.bucket
),
lw AS (
  SELECT f.doc_id, SUM(ra.w) AS logw
  FROM feats f JOIN ratio ra ON f.bucket = ra.bucket
  WHERE f.doc_id % 7 != 0 GROUP BY f.doc_id
),
gk AS (
  SELECT doc_id, logw,
    logw + (-ln(-ln((list_sum(list_transform(generate_series(1, 8),
      kk -> (strpos('0123456789abcdef',
                    substr(md5('dsir|' || doc_id), kk, 1)) - 1)
            * power(16, 8 - kk))) + 0.5) / 4294967296.0))) AS key
  FROM lw
),
dr AS (
  SELECT doc_id, logw,
    ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC) AS sample_rank
  FROM gk
)
SELECT 'es' AS variant, doc_id, CAST(n_tokens AS BIGINT) AS val,
  CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= 50
UNION ALL
SELECT 'dsir', doc_id, CAST(ROUND(logw * 1000000) AS BIGINT),
  CAST(sample_rank AS BIGINT)
FROM dr WHERE sample_rank <= 50
"""


@register("dataset_weighted_sample", _WSAMPLE_ORACLE)
def dataset_weighted_sample(spark, sf_dir):
    """Two deterministic sampling recipes on one row:

    - ``es``: Efraimidis-Spirakis A-Res weighted sampling without
      replacement, weight = token count (sampling.weighted_sample);
      val = n_tokens.
    - ``dsir``: DSIR importance resampling (operators/dsir.py) —
      target split doc_id % 7 = 0, raw pool the rest, add-1 smoothed
      hashed-n-gram bucket models (md5 engine, 128 buckets), per-doc
      log-likelihood-ratio weights, Gumbel-top-k; val = log-weight
      x1e6. The oracle refits BOTH bucket models and re-derives every
      log-weight and Gumbel key in DuckDB."""
    from vrl_spark.operators import dsir, sampling

    docs = read_table(spark, sf_dir, "documents", spread=True)
    es = sampling.weighted_sample(
        docs.select(
            "doc_id", textstats.token_count(F.col("text")).alias("n_tokens")
        ),
        "n_tokens", n=50, id_col="doc_id", salt="wsample",
    ).select(
        F.lit("es").alias("variant"), "doc_id",
        F.col("n_tokens").cast("long").alias("val"),
        "sample_rank",
    )
    target = docs.where(F.col("doc_id") % 7 == 0)
    raw = docs.where(F.col("doc_id") % 7 != 0)
    # featurize the raw pool ONCE: both the fit's count agg and the
    # scorer fold consume it, and Spark has no cross-consumer
    # common-subplan elimination — uncheckpointed, the md5 split+hash
    # pass would run twice over the pool
    from vrl_spark.operators.classifier import featurize

    rfeats = featurize(raw, num_buckets=128).localCheckpoint()
    w = dsir.dsir_fit(
        target, raw, num_buckets=128, alpha=1.0, raw_feats=rfeats,
    )
    picked = dsir.dsir_sample(
        raw, w, n=50, num_buckets=128, salt="dsir",
        feats=rfeats,
    ).select(
        F.lit("dsir").alias("variant"), "doc_id",
        F.round(F.col("log_weight") * 1000000).cast("long").alias("val"),
        "sample_rank",
    )
    return es.unionAll(picked)


# ---------------------------------------------------------------------
# HITS hubs/authorities over the same planted link graph
# ---------------------------------------------------------------------


def _hits_oracle(iters: int = 5) -> str:
    ctes = [
        "e AS MATERIALIZED (SELECT DISTINCT doc_id % 97 AS src,"
        " (doc_id * 31 + 7) % 97 AS dst"
        " FROM documents WHERE doc_id % 97 != 96)",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "h0 AS MATERIALIZED (SELECT node,"
        " 1.0 / (SELECT COUNT(*) FROM nodes) AS hub FROM nodes)",
    ]
    for i in range(iters):
        ctes.append(
            f"aa{i} AS MATERIALIZED (SELECT nodes.node, COALESCE(x.s, 0) AS v"
            f" FROM nodes LEFT JOIN (SELECT e.dst AS node, SUM(h.hub) AS s"
            f" FROM e JOIN h{i} h ON e.src = h.node GROUP BY e.dst) x"
            f" ON nodes.node = x.node)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT node,"
            f" v / (SELECT SUM(v) FROM aa{i}) AS authority FROM aa{i})"
        )
        ctes.append(
            f"hh{i} AS MATERIALIZED (SELECT nodes.node, COALESCE(x.s, 0) AS v"
            f" FROM nodes LEFT JOIN (SELECT e.src AS node,"
            f" SUM(a.authority) AS s"
            f" FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src) x"
            f" ON nodes.node = x.node)"
        )
        ctes.append(
            f"h{i + 1} AS MATERIALIZED (SELECT node,"
            f" v / (SELECT SUM(v) FROM hh{i}) AS hub FROM hh{i})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT h{iters}.node,"
        f" CAST(ROUND(h{iters}.hub * 100000000) AS BIGINT) AS hub_x1e8,"
        f" CAST(ROUND(a{iters - 1}.authority * 100000000) AS BIGINT)"
        f" AS authority_x1e8"
        f" FROM h{iters} JOIN a{iters - 1} ON h{iters}.node = a{iters - 1}.node"
    )


def graph_hits(spark, sf_dir):
    from vrl_spark.operators.graph import hits

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    edges = (
        docs.select(
            (d % 97).alias("src"), ((d * 31 + 7) % 97).alias("dst")
        )
        .where(F.col("src") != 96)
        .distinct()
    )
    out = hits(edges, iterations=5)
    return out.select(
        "node",
        F.round(F.col("hub") * 100000000).cast("long").alias("hub_x1e8"),
        F.round(F.col("authority") * 100000000).cast("long").alias(
            "authority_x1e8"
        ),
    )


# ---------------------------------------------------------------------
# per-group numeric profiling (length distributions per lang)
# ---------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT lang, COUNT(*) AS n,
  MIN(n_chars) AS min_v, MAX(n_chars) AS max_v,
  CAST(ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) * 1000000) AS BIGINT)
    AS mean_x1m,
  CAST(ROUND(quantile_cont(n_chars, 0.5) * 1000000) AS BIGINT) AS p50_x1m,
  CAST(ROUND(quantile_cont(n_chars, 0.9) * 1000000) AS BIGINT) AS p90_x1m
FROM documents GROUP BY lang
"""


@register("text_profile_stats", _PROFILE_ORACLE)
def text_profile_stats(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select(
        "lang", "n_chars"
    )
    return textstats.profile_stats(docs, "lang", "n_chars")


# ---------------------------------------------------------------------
# entity extraction (the dual of the PII scrub)
# ---------------------------------------------------------------------

_ENTITY_ORACLE = """
WITH planted AS ({plant})
SELECT doc_id,
  COALESCE(array_to_string(regexp_extract_all(text, '{email}'), '|'), '')
    AS email_list,
  COALESCE(array_to_string(regexp_extract_all(text, '{ipv4}'), '|'), '')
    AS ipv4_list,
  CAST(len(regexp_extract_all(text, '{email}'))
     + len(regexp_extract_all(text, '{ipv4}')) AS BIGINT) AS entity_total
FROM planted
""".format(plant=_PII_PLANT_SQL,
           email=_pii.PII_PATTERNS["email"],
           ipv4=_pii.PII_PATTERNS["ipv4"])


# =====================================================================
# Merged registry vehicles (round 4)
# =====================================================================
# The driver's correctness check covers at most 50 registry entries,
# so related r3 queries share a vehicle below. Merging never weakens
# the check: every merged column set is still value-hashed against the
# composed oracle. Where both parts are map-only projections of the
# same table the merge is a single select (no new shuffle); where a
# part aggregates, the vehicle joins the two per-key outputs — plain
# composition of already-verified stages.


def _join_oracles(key: str, *sqls: str) -> str:
    """Compose full oracle statements into one via JOIN USING(key)
    (DuckDB allows WITH/WITH RECURSIVE inside subqueries, and
    SELECT * dedups the USING column)."""
    parts = [f"({s.strip()}) AS p{i}" for i, s in enumerate(sqls)]
    joined = parts[0] + "".join(
        f" JOIN {p} USING ({key})" for p in parts[1:]
    )
    return f"SELECT * FROM {joined}"


@register("text_stats_langid",
          _join_oracles("doc_id", _TEXT_STATS_ORACLE, _lang_id_oracle_expr()))
def text_stats_langid(spark, sf_dir):
    """Core text-quality stats + n-gram language ID in ONE map-only
    select over documents (merged r3 queries text_stats +
    text_lang_id)."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    t = F.col("text")
    return docs.select(
        "doc_id",
        textstats.token_count(t).alias("n_tokens"),
        textstats.bpe_ish_token_count(t).alias("n_bpe_ish"),
        textstats.fingerprint(t).alias("fingerprint"),
        F.round(textstats.quality_score(t) * 1000000).cast("long").alias(
            "quality_x1m"
        ),
        textstats.lang_id(t).alias("lang_pred"),
    )


@register("text_pii_entities",
          _join_oracles("doc_id", _PII_ORACLE, _ENTITY_ORACLE))
def text_pii_entities(spark, sf_dir):
    """PII scrub + entity extraction chained over the same planted
    corpus, map-only — extract_entities reads the ORIGINAL text column
    that pii_scrub leaves in place (merged r3 queries text_pii_scrub +
    text_extract_entities)."""
    planted = _pii_planted(spark, sf_dir)
    both = _pii.extract_entities(
        _pii.pii_scrub(planted, "text"), "text", filters=["email", "ipv4"]
    )
    return both.select(
        "doc_id", "scrubbed",
        "n_email", "n_ipv4", "n_us_ssn", "n_credit_card", "n_phone",
        "pii_total", "email_list", "ipv4_list", "entity_total",
    )


@register("text_bm25_nll",
          _join_oracles("doc_id", _BM25_ORACLE, _NLL_ORACLE,
                        _BIGRAM_LM_ORACLE))
def text_bm25_nll(spark, sf_dir):
    """BM25 lexical scores + unigram-LM mean NLL + trained bigram-LM
    perplexity buckets per document: three corpus-level LM/retrieval
    aggregates composed by a doc_id join (merged r3 queries text_bm25 +
    text_unigram_nll; r5 adds the CCNet-style trained perplexity
    filter — the oracle refits the LM end-to-end in DuckDB)."""
    return (
        text_bm25(spark, sf_dir)
        .join(text_unigram_nll(spark, sf_dir), "doc_id")
        .join(text_bigram_lm(spark, sf_dir), "doc_id")
    )


@register("text_repetition_fingerprint",
          _join_oracles("doc_id", _REPETITION_ORACLE, _ROLLING_ORACLE))
def text_repetition_fingerprint(spark, sf_dir):
    """Gopher repetition metrics (relational n-gram aggregation) +
    rolling-hash winnowing sketch per document (merged r3 queries
    text_repetition + text_rolling_fingerprint)."""
    return text_repetition(spark, sf_dir).join(
        text_rolling_fingerprint(spark, sf_dir), "doc_id"
    )


@register("text_gopher_decontaminate",
          _join_oracles("doc_id", _GOPHER_ORACLE, _DECONTAM_ORACLE))
def text_gopher_decontaminate(spark, sf_dir):
    """Full Gopher rule family + planted-benchmark n-gram
    decontamination flags per document (merged r3 queries
    text_gopher_rules + text_decontaminate)."""
    return text_gopher_rules(spark, sf_dir).join(
        text_decontaminate(spark, sf_dir), "doc_id"
    )


@register("dataset_split_pack",
          _join_oracles("doc_id", _SPLIT_ORACLE, _PACK_ORACLE))
def dataset_split_pack(spark, sf_dir):
    """Stable hash split assignment + greedy token-budget packing per
    document (merged r3 queries dataset_split + dataset_pack)."""
    return dataset_split(spark, sf_dir).join(
        dataset_pack(spark, sf_dir), "doc_id"
    )


@register("graph_link_analysis",
          _join_oracles("node", _pagerank_oracle(), _hits_oracle()))
def graph_link_analysis(spark, sf_dir):
    """PageRank + HITS over the same planted host link graph, joined
    on node (merged r3 queries graph_pagerank + graph_hits).

    The two loops are INDEPENDENT until the final join, so their
    construction (which runs each round's checkpoint jobs) is
    overlapped from two driver threads — guide §2.6: one loop's
    straggler tail back-fills with the other loop's jobs. Neither
    loop touches session conf, so the threads share nothing."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_pr = pool.submit(
            inheritable_thread_target(graph_pagerank), spark, sf_dir
        )
        f_hits = pool.submit(
            inheritable_thread_target(graph_hits), spark, sf_dir
        )
        pr, ht = f_pr.result(), f_hits.result()
    return pr.join(ht, "node")


# ---------------------------------------------------------------------
# TF-IDF document vectors + sparse cosine retrieval
# ---------------------------------------------------------------------
# Both halves of retrieval's tf-idf family in one vehicle: the per-doc
# top-5 L2-normalized vector (rendered "term:weight_x1m ..." ordered
# by quantized weight desc, term asc — the same deterministic rank the
# operator uses) and the cosine score against a fixed query. The
# oracle recomputes idf = ln(N/df), w_hat = tf*idf / l2norm, the
# ranked top-k string, and the query cosine from first principles.

_TFIDF_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                x -> x != '') AS w
  FROM documents
),
tf AS (
  SELECT doc_id, u.term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM base, UNNEST(w) AS u(term)
  GROUP BY doc_id, u.term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM base),
wts AS (
  SELECT tf.doc_id, tf.term,
    ln(nd.n_docs / dfreq.df) AS idf,
    tf.tf * ln(nd.n_docs / dfreq.df) AS w
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
),
pos AS (SELECT * FROM wts WHERE w > 0),
norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM pos GROUP BY doc_id),
hat AS (
  SELECT p.doc_id, p.term, p.idf, p.w / n.nrm AS w_hat
  FROM pos p JOIN norms n USING (doc_id)
),
ranked AS (
  SELECT doc_id, term, w_hat,
    ROW_NUMBER() OVER (PARTITION BY doc_id
      ORDER BY ROUND(w_hat * 1000000) DESC, term) AS rk
  FROM hat
),
tops AS (
  SELECT doc_id,
    string_agg(
      term || ':' ||
        CAST(CAST(ROUND(w_hat * 1000000) AS BIGINT) AS VARCHAR),
      ' ' ORDER BY rk) AS top_terms
  FROM ranked WHERE rk <= 5 GROUP BY doc_id
),
q AS (
  SELECT doc_id, term, idf, w_hat FROM hat
  WHERE list_contains({_BM25_TERMS!r}, term)
),
qn AS (
  SELECT sqrt(SUM(idf * idf)) AS qn
  FROM (SELECT DISTINCT term, idf FROM q)
),
sc AS (
  SELECT q.doc_id, SUM(q.w_hat * q.idf / qn.qn) AS score
  FROM q CROSS JOIN qn GROUP BY q.doc_id
)
SELECT b.doc_id,
  COALESCE(t.top_terms, '') AS top_terms,
  CAST(ROUND(COALESCE(sc.score, 0.0) * 1000000) AS BIGINT) AS qscore_x1m
FROM base b
LEFT JOIN tops t USING (doc_id)
LEFT JOIN sc USING (doc_id)
"""


@register("text_tfidf", _TFIDF_ORACLE)
def text_tfidf(spark, sf_dir):
    """Sparse tf-idf: per-doc top-5 vector (quantized rank, rendered
    as an ordered string) + cosine score against the fixed BM25 query
    terms, joined on doc_id."""
    from vrl_spark.operators import retrieval

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    vecs = retrieval.tfidf_doc_vectors(docs, top_k=5).select(
        "doc_id",
        F.array_join(
            F.transform(
                "terms",
                lambda s: F.concat(
                    s.getField("term"), F.lit(":"),
                    F.round(s.getField("weight") * 1000000)
                    .cast("long").cast("string"),
                ),
            ),
            " ",
        ).alias("top_terms"),
    )
    scores = retrieval.tfidf_query_scores(docs, _BM25_TERMS).select(
        "doc_id",
        F.round(F.col("score") * 1000000).cast("long").alias("qscore_x1m"),
    )
    return vecs.join(scores, "doc_id")


# ---------------------------------------------------------------------
# IVF-Flat ANN, oracle-checked end-to-end
# ---------------------------------------------------------------------
# The coarse quantizer is deterministic (smallest-md5 sampled
# centroids), so DuckDB replicates centroid selection, inverted-list
# assignment (argmax with rounded-cosine tie-breaks), probe ranking,
# and the final top-k bit-for-bit.

def _ivf_ann_oracle(n_lists: int = 16, nprobe: int = 4, k: int = 5) -> str:
    cos = (
        "ROUND(list_sum(list_transform(list_zip({a}, {b}), "
        "x -> x[1] * x[2])) / NULLIF("
        "sqrt(list_sum(list_transform({a}, y -> y * y))) * "
        "sqrt(list_sum(list_transform({b}, y -> y * y))), 0), 6)"
    )
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cents AS (
  SELECT vec_id AS centroid_id, v AS cv FROM base
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_lists}
),
asg AS (
  SELECT vec_id, v, centroid_id AS list_id FROM (
    SELECT b.vec_id, b.v, c.centroid_id,
      row_number() OVER (PARTITION BY b.vec_id ORDER BY
        {cos.format(a='b.v', b='c.cv')} DESC, c.centroid_id) AS rn
    FROM base b CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qvec FROM base WHERE vec_id < 10),
probes AS (
  SELECT query_id, qvec, list_id FROM (
    SELECT q.query_id, q.qvec, c.centroid_id AS list_id,
      row_number() OVER (PARTITION BY q.query_id ORDER BY
        {cos.format(a='q.qvec', b='c.cv')} DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT query_id, a.vec_id AS neighbor_id,
    {cos.format(a='qvec', b='a.v')} AS cos_sim
  FROM probes JOIN asg a USING (list_id)
  WHERE a.vec_id != probes.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id,
       CAST(ROUND(cos_sim * 1000000) AS BIGINT) AS cos_x1m,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


@register("similarity_ivf_ann", _ivf_ann_oracle())
def similarity_ivf_ann(spark, sf_dir):
    """IVF-Flat ANN over the embeddings table: 16 sampled-centroid
    inverted lists, 4 probes per query, exact cosine top-5 within the
    probed lists."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    out = similarity.ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), n_lists=16, nprobe=4, k=5
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round(F.col("cos_sim") * 1000000).cast("long").alias("cos_x1m"),
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------
# multimodal: planted solid-color BMPs, FULL oracle (r4)
# ---------------------------------------------------------------------
# The media bytes are constructed IN-PLAN (JVM concat/unhex — only the
# decode itself is Python), as solid 4x4 24-bit BMPs whose color comes
# from doc_id residues over the {0,51,...,255} palette. Every emitted
# feature is then analytically derivable: header metadata, the byte length of
# the identical blob construction (DuckDB's sha256 is varchar-only,
# so the sha stays pytest-covered), and the visual-descriptor elements (luminance + channel
# means), whose palette values have short decimal expansions so the
# round(.,6)*1e6 quantization is boundary-safe on both engines.

_BMP_HEADER_HEX = (
    "424D660000000000000036000000280000000400000004000000010018000000"
    "000030000000130B0000130B00000000000000000000"
)

_MM_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
    (doc_id % 6) * 51 AS r,
    ((doc_id // 6) % 6) * 51 AS g,
    ((doc_id // 36) % 6) * 51 AS b
  FROM documents
),
blob AS (
  SELECT doc_id, r, g, b,
    from_hex('{_BMP_HEADER_HEX}' ||
      repeat(lpad(to_hex(b), 2, '0') || lpad(to_hex(g), 2, '0')
             || lpad(to_hex(r), 2, '0'), 16)) AS bmp
  FROM t
)
SELECT doc_id,
  4 AS width, 4 AS height, 'bmp' AS format,
  CAST(102 AS BIGINT) AS byte_len,
  octet_length(bmp) AS built_len,
  CAST(ROUND(ROUND((0.299 * r + 0.587 * g + 0.114 * b) / 255.0, 6)
             * 1000000) AS BIGINT) AS lum_x1m,
  CAST(ROUND(ROUND(r / 255.0, 6) * 1000000) AS BIGINT) AS r_x1m,
  CAST(ROUND(ROUND(g / 255.0, 6) * 1000000) AS BIGINT) AS g_x1m,
  CAST(ROUND(ROUND(b / 255.0, 6) * 1000000) AS BIGINT) AS b_x1m
FROM blob
"""


@register("multimodal_features", _MM_ORACLE)
def multimodal_features(spark, sf_dir):
    """Real raster decode oracle-checked end-to-end: in-plan BMP
    construction -> mapInPandas decode_images -> metadata + visual
    descriptor vs the analytic DuckDB derivation."""
    from vrl_spark.operators import multimodal

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id"
    )
    d = F.col("doc_id")
    r = (d % 6) * 51
    g = ((d / 6).cast("long") % 6) * 51
    b = ((d / 36).cast("long") % 6) * 51

    def hx(c):
        return F.lpad(F.lower(F.hex(c)), 2, "0")

    bmp = F.unhex(F.concat(
        F.lit(_BMP_HEADER_HEX),
        F.repeat(F.concat(hx(b), hx(g), hx(r)), 16),
    ))
    media = docs.select("doc_id", bmp.alias("media"))
    feats = multimodal.decode_images(media)
    e = F.col("embedding")
    return feats.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.format").alias("format"),
        F.col("meta.byte_len").alias("byte_len"),
        # the oracle's built_len = octet_length of ITS blob; the
        # decoder's measured length checks against both
        F.col("meta.byte_len").alias("built_len"),
        F.round(F.element_at(e, 1).cast("double") * 1000000)
        .cast("long").alias("lum_x1m"),
        F.round(F.element_at(e, 5).cast("double") * 1000000)
        .cast("long").alias("r_x1m"),
        F.round(F.element_at(e, 6).cast("double") * 1000000)
        .cast("long").alias("g_x1m"),
        F.round(F.element_at(e, 7).cast("double") * 1000000)
        .cast("long").alias("b_x1m"),
    )


# ---------------------------------------------------------------------
# trained quality classifier (hashed n-grams + full-batch logistic GD)
# ---------------------------------------------------------------------
# The CCNet/fastText-style model gate: quality/junk markers are planted
# on the salad corpus keyed by doc_id (label = doc_id % 2, plant
# multiplicity k = doc_id % 3 + 1), the model trains on the 1-in-5
# labeled slice and scores every doc. The oracle replicates the ENTIRE
# training loop — featurization, all unrolled GD epochs, scoring — in
# DuckDB (md5 buckets, the portable hash family; same convention as the
# lineage fingerprint). Epochs chain as MATERIALIZED CTEs exactly like
# the pagerank oracle.

_QC_POS = "wellwritten cited thorough "
_QC_NEG = "clickbait casino spammy "
_QC_D = 256
_QC_EPOCHS = 10
_QC_LR = 8.0


def _quality_classifier_oracle(
    d: int = _QC_D, epochs: int = _QC_EPOCHS, lr: float = _QC_LR
) -> str:
    bias = f"(SELECT weight FROM w{{i}} WHERE bucket = {d})"
    ctes = [
        "planted AS MATERIALIZED (SELECT doc_id,"
        " text || ' ' || repeat(CASE WHEN doc_id % 2 = 1"
        f" THEN '{_QC_POS}' ELSE '{_QC_NEG}' END,"
        " CAST(doc_id % 3 + 1 AS INT)) AS t FROM documents)",
        "toks AS MATERIALIZED (SELECT doc_id,"
        " string_split_regex(lower(trim(t)), '\\s+') AS tk FROM planted)",
        "grams AS MATERIALIZED (SELECT doc_id,"
        " unnest(list_concat(tk, list_transform(range(1, len(tk)),"
        " i -> tk[i] || ' ' || tk[i + 1]))) AS g FROM toks)",
        "feats AS MATERIALIZED (SELECT doc_id,"
        " CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)"
        f" % {d} AS bucket FROM grams)",
        "tot AS MATERIALIZED (SELECT doc_id,"
        " CAST(COUNT(*) AS DOUBLE) AS total FROM feats GROUP BY doc_id)",
        "tr AS MATERIALIZED (SELECT f.doc_id, f.bucket, t.total,"
        " CAST(f.doc_id % 2 AS DOUBLE) AS y"
        " FROM feats f JOIN tot t USING (doc_id) WHERE f.doc_id % 5 = 0)",
        "ntr AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT doc_id)"
        " AS DOUBLE) AS n FROM tr)",
        f"w0 AS MATERIALIZED (SELECT unnest(range(0, {d + 1})) AS bucket,"
        " 0.0 AS weight)",
    ]
    for i in range(epochs):
        b = bias.format(i=i)
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT tr.doc_id,"
            f" any_value(tr.total) AS total,"
            f" 1.0 / (1.0 + exp(-(SUM(w.weight) / any_value(tr.total)"
            f" + {b}))) - any_value(tr.y) AS r"
            f" FROM tr JOIN w{i} w ON tr.bucket = w.bucket"
            f" GROUP BY tr.doc_id)"
        )
        ctes.append(
            f"g{i} AS MATERIALIZED (SELECT tr.bucket,"
            f" SUM(m.r / m.total) / (SELECT n FROM ntr) AS g"
            f" FROM tr JOIN m{i} m ON tr.doc_id = m.doc_id"
            f" GROUP BY tr.bucket)"
        )
        ctes.append(
            f"w{i + 1} AS MATERIALIZED (SELECT w.bucket, w.weight"
            f" - {lr} * (CASE WHEN w.bucket = {d} THEN"
            f" (SELECT SUM(r) FROM m{i}) / (SELECT n FROM ntr)"
            f" ELSE COALESCE(g.g, 0.0) END) AS weight"
            f" FROM w{i} w LEFT JOIN g{i} g ON w.bucket = g.bucket)"
        )
    bf = bias.format(i=epochs)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT doc_id, prob_x1m,"
        " CAST(prob_x1m > 500000 AS INT) AS pred FROM (\n"
        "  SELECT f.doc_id, CAST(ROUND((1.0 / (1.0 +"
        f" exp(-(SUM(w.weight) / any_value(t.total) + {bf}))))"
        " * 1000000) AS BIGINT) AS prob_x1m\n"
        f"  FROM feats f JOIN tot t USING (doc_id)"
        f" JOIN w{epochs} w ON f.bucket = w.bucket GROUP BY f.doc_id)"
    )


@register("text_quality_classifier", _quality_classifier_oracle())
def text_quality_classifier(spark, sf_dir):
    """Hashed-ngram logistic quality gate (operators/classifier), the
    model-based sibling of text_gopher_rules. Train on the labeled
    1-in-5 slice, score the full corpus."""
    from vrl_spark.operators import classifier

    docs = read_table(spark, sf_dir, "documents", spread=True)
    d = F.col("doc_id")
    marker = F.when(d % 2 == 1, F.lit(_QC_POS)).otherwise(F.lit(_QC_NEG))
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "),
            F.array_join(F.array_repeat(marker, (d % 3 + 1).cast("int")), ""),
        ).alias("text"),
    )
    labeled = planted.where(d % 5 == 0).withColumn(
        "label", (d % 2).cast("int")
    )
    out = classifier.quality_classifier(
        planted, labeled,
        num_buckets=_QC_D, epochs=_QC_EPOCHS, lr=_QC_LR,
    )
    px = F.round(F.col("prob") * 1000000).cast("long")
    return out.select(
        "doc_id",
        px.alias("prob_x1m"),
        (px > 500000).cast("int").alias("pred"),
    )


# ---------------------------------------------------------------------
# domain-mixture resampling -> seeded global shuffle -> token shards
# ---------------------------------------------------------------------
# The corpus-assembly tail of a training-data pipeline in one plan:
# sample to TARGET domain ratios (40% web / 30% code / 30% reference
# by a source-derived class; largest-remainder quotas, deterministic
# smallest-md5-within-class membership), then a seeded permutation
# (md5 oracle lane of sharding.permutation_key) and fixed-token-budget
# shard assignment. The oracle derives everything analytically: the
# quota table is literal VALUES, class rank order is the md5 hex
# prefix (lexicographic == numeric for fixed-width hex), and the
# shard rule is a plain window cumsum — fine at sf0.01, which is
# exactly the single-task formulation sharding.shard_assign exists to
# avoid at scale.

_MIXTURE_SHARDS_ORACLE = """
WITH c AS (
  SELECT doc_id, text,
    CASE (CAST(substr(source, 4, 10) AS INT) % 4)
      WHEN 2 THEN 'code' WHEN 3 THEN 'reference' ELSE 'web'
    END AS mix_class
  FROM documents
),
quota(mix_class, q) AS (VALUES ('web', 80), ('code', 60), ('reference', 60)),
r AS (
  SELECT doc_id, text, mix_class,
    ROW_NUMBER() OVER (PARTITION BY mix_class
                       ORDER BY substr(md5('mix|' || doc_id), 1, 8), doc_id)
      AS mix_rank
  FROM c
),
kept AS (
  SELECT r.doc_id, r.mix_class, CAST(r.mix_rank AS BIGINT) AS mix_rank, r.text
  FROM r JOIN quota USING (mix_class)
  WHERE r.mix_rank <= quota.q
),
fac(mix_class, f) AS (VALUES ('web', 1.0), ('code', 1.5), ('reference', 2.0)),
-- epochs-with-repetition: floor(f) copies + one more when the salted
-- hash fraction is under the fractional part (deterministic per id)
up AS (
  SELECT k.doc_id, k.mix_class, k.mix_rank, k.text, u.epoch
  FROM (
    SELECT kept.*,
      CAST(FLOOR(fac.f) + CASE
        WHEN CAST(concat('0x', substr(md5('epoch|' || kept.doc_id), 1, 8))
             AS BIGINT) / 4294967296.0 < fac.f - FLOOR(fac.f)
        THEN 1 ELSE 0 END AS BIGINT) AS n
    FROM kept JOIN fac USING (mix_class)
  ) k, UNNEST(generate_series(0, k.n - 1)) AS u(epoch)
  WHERE k.n > 0
),
t AS (
  SELECT doc_id, mix_class, mix_rank, CAST(epoch AS BIGINT) AS epoch,
    doc_id || '#' || epoch AS copy_id,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+'))
         END AS BIGINT) AS n_tok,
    CAST(concat('0x', substr(md5('shard5|' || doc_id || '#' || epoch), 1, 15))
      AS BIGINT) AS perm_key
  FROM up
),
s AS (
  SELECT *, SUM(n_tok) OVER (ORDER BY perm_key, copy_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, mix_class, mix_rank, epoch, n_tok, perm_key,
  CAST((cum - n_tok) // 1500 AS BIGINT) AS shard_id,
  ROW_NUMBER() OVER (PARTITION BY CAST((cum - n_tok) // 1500 AS BIGINT)
                     ORDER BY perm_key, copy_id) AS shard_pos
FROM s
"""


@register("dataset_mixture_shards", _MIXTURE_SHARDS_ORACLE)
def dataset_mixture_shards(spark, sf_dir):
    """Domain-mixture resample to 40/30/30 target ratios, epochs-with-
    repetition upsampling (web x1 / code x1.5 / reference x2), then
    seeded global shuffle + ~1500-token shard assignment
    (sampling.mixture_resample + mixture_upsample +
    sharding.shard_assign keyed on the per-epoch copy id)."""
    from vrl_spark.operators import sampling, sharding

    docs = read_table(spark, sf_dir, "documents")
    srcnum = F.substring("source", 4, 10).cast("int") % 4
    base = docs.select(
        "doc_id", "text",
        F.when(srcnum == 2, "code")
        .when(srcnum == 3, "reference")
        .otherwise("web")
        .alias("mix_class"),
    )
    kept = sampling.mixture_resample(
        base, "mix_class", {"web": 0.4, "code": 0.3, "reference": 0.3},
        total=200, salt="mix",
    )
    up = sampling.mixture_upsample(
        kept, "mix_class", {"web": 1.0, "code": 1.5, "reference": 2.0},
        salt="epoch",
    )
    toks = up.select(
        "doc_id", "mix_class", "mix_rank",
        F.col("epoch").cast("long").alias("epoch"),
        F.concat_ws("#", "doc_id", "epoch").alias("copy_id"),
        textstats.token_count(F.col("text")).alias("n_tok"),
    )
    return sharding.shard_assign(
        toks, budget=1500, token_col="n_tok", seed="shard5",
        n_buckets=8, id_col="copy_id",
    ).select(
        "doc_id", "mix_class", "mix_rank", "epoch", "n_tok", "perm_key",
        "shard_id", "shard_pos",
    )
