"""Lexical retrieval scoring over the corpus: BM25 (Robertson/
Sparck-Jones, the public textbook formula) against a fixed query term
list — the classic sparse companion to the dense ANN path in
operators/similarity.py.

Scale shape: tokens are filtered to the query terms BEFORE the
explode, so the exploded relation is O(matches), not O(corpus
tokens); document-frequency and corpus scalars (N, avgdl) are
broadcast 1-row/tiny frames; the final score is one groupBy on the
doc id. No Python, no cross joins, no full-vocab materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, score) for every document (0.0 when no query term occurs).

    score = sum over matched terms of
        ln(1 + (N - df + 0.5)/(df + 0.5))
        * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    with dl = whitespace token count and avgdl its corpus mean.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})

    t = F.trim(F.col(text_col))
    toks = F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")
    base = df.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).cast("double").alias("dl")
    )
    scalars = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    matches = (
        base.select(
            id_col, "dl",
            F.explode(
                F.filter(F.col("_toks"), lambda x: x.isin(terms))
            ).alias("term"),
        )
        .groupBy(id_col, "term", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = matches.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = (
        matches.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(scalars))
        .select(
            id_col,
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("_s"),
        )
        .groupBy(id_col)
        .agg(F.sum("_s").alias("score"))
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(id_col, F.coalesce("score", F.lit(0.0)).alias("score"))
    )


def _tfidf_weights(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, term, idf, w, w_hat): per-(doc, term) tf-idf weights with
    idf = ln(N/df), w = tf*idf, and w_hat the L2-normalized weight
    within the document.

    Scale shape: one explode, one (id, term) count, one term-keyed
    document-frequency aggregation joined back on the term key (both
    sides partitioned by it — the vocab table shuffles, never
    broadcasts), one groupBy(id) for the norms. N rides as a 1-row
    broadcast. No Python, no collects.
    """
    t = F.trim(F.col(text_col))
    toks = F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")
    exploded = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = exploded.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col, "term",
            F.log(F.col("n_docs") / F.col("df")).alias("idf"),
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_norm")
    )
    return w.join(norms, id_col).select(
        id_col, "term", "idf", "w",
        (F.col("w") / F.nullif(F.col("_norm"), F.lit(0.0))).alias("w_hat"),
    )


def tfidf_doc_vectors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
) -> DataFrame:
    """L2-normalized sparse tf-idf document vectors: (id, terms) with
    ``terms`` an array<struct<term, weight>> of the document's top_k
    terms, ordered by weight desc then term asc. Zero-idf terms (in
    every document) are dropped; documents left with no terms get an
    empty array.

    Terms rank by round(w_hat * 1e6), not the raw double: a
    cross-engine-deterministic top-k for oracle comparison.

    Scale shape: _tfidf_weights' relational pipeline + one per-doc
    window limited to top_k (WindowGroupLimit pushes the limit below
    the sort) + one groupBy(id) assembly.
    """
    from pyspark.sql import Window

    hat = _tfidf_weights(df, text_col, id_col).where(F.col("w") > 0)
    key = F.round(F.col("w_hat") * 1_000_000)
    ranked = hat.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(key.desc(), F.col("term"))
        ),
    ).where(F.col("_rk") <= top_k)
    vecs = ranked.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("_rk", "term", F.col("w_hat").alias("weight")))
            ),
            lambda s: F.struct(
                s.getField("term").alias("term"),
                s.getField("weight").alias("weight"),
            ),
        ).alias("terms")
    )
    empty = F.array().cast("array<struct<term:string,weight:double>>")
    return (
        df.select(id_col)
        .join(vecs, id_col, "left")
        .select(id_col, F.coalesce("terms", empty).alias("terms"))
    )


def tfidf_query_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, score): cosine between each document's L2-normalized
    tf-idf vector and the query's (tf=1 per term, idf-weighted,
    L2-normalized) — the sparse-retrieval dual of
    similarity.brute_force_topk.

    Scale shape: the weighted relation is filtered to the query terms
    BEFORE the scoring join, so the scored relation is O(matches); the
    query-side idf table and its norm are tiny 1-row/`len(terms)`-row
    broadcasts.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    hat = _tfidf_weights(df, text_col, id_col).where(F.col("w") > 0)
    matched = hat.where(F.col("term").isin(terms)).select(
        id_col, "term", "idf", "w_hat"
    )
    qidf = matched.select("term", "idf").distinct()
    qnorm = qidf.agg(
        F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("_qn")
    )
    scored = (
        matched.crossJoin(F.broadcast(qnorm))
        .select(
            id_col,
            (F.col("w_hat") * F.col("idf") / F.nullif(F.col("_qn"), F.lit(0.0)))
            .alias("_s"),
        )
        .groupBy(id_col)
        .agg(F.sum("_s").alias("score"))
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(id_col, F.coalesce("score", F.lit(0.0)).alias("score"))
    )


def unigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's
    own unigram language model — the cheap relational stand-in for the
    CCNet/KenLM perplexity quality signal (documents whose tokens are
    globally rare score high = surprising = often junk; exp(mean_nll)
    is the perplexity).

    p(t) = corpus_count(t) / corpus_tokens; every scored token was
    counted, so no smoothing is needed.

    Scale shape: one explode over tokens, one token-key aggregation
    for the LM counts, one equi-join back on the token key (both
    sides already partitioned by it), one groupBy(doc). The unigram
    table is O(vocab) — it shuffles, never broadcasts, so a
    billion-type vocab still flows.
    """
    t = F.trim(F.col(text_col))
    toks = F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")
    exploded = df.select(
        F.col(id_col), F.explode(toks).alias("token")
    )
    counts = exploded.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    total = counts.agg(F.sum("c").alias("corpus_tokens"))
    nll = (
        exploded.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            (-F.log(F.col("c") / F.col("corpus_tokens"))).alias("_nll"),
        )
        .groupBy(id_col)
        .agg(
            F.avg("_nll").alias("mean_nll"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    return (
        df.select(id_col)
        .join(nll, id_col, "left")
        .select(
            id_col,
            F.coalesce("mean_nll", F.lit(0.0)).alias("mean_nll"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        )
    )


def bigram_perplexity(
    df: DataFrame,
    train_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    bucket_quantiles: tuple[float, float] = (0.3, 0.7),
) -> DataFrame:
    """CCNet-style trained-LM quality signal: fit an interpolated
    absolute-discounting bigram language model on the TRAIN subset
    (rows where `train_col` is true) and
    score EVERY document's perplexity under it, bucketing the corpus
    into head/middle/tail at the `bucket_quantiles` perplexity
    percentiles — the model-based filter CCNet/KenLM pipelines run
    after the hand rules (reference's stdlib has no LM; this is the
    training-data-pipeline extension next to unigram_nll above).

    Per scored position i (tokens via the shared whitespace
    tokenizer): with v = w_{i-1} (absent at i=0), w = w_i,

        p_uni(w) = (c1(w) + 1) / (N + V + 1)          # add-one, OOV ok
        p(w|v)   = (max(c2(v,w) - D, 0) + D * n1p(v) * p_uni(w)) / c(v)
                    when c(v) > 0, else p_uni(w)

    where c1/c2 are train unigram/bigram counts, c(v) = sum_w c2(v,w),
    n1p(v) = |{w : c2(v,w) > 0}|, N = train tokens, V = train vocab,
    D = `discount`. doc mean_nll = AVG(-ln p) over all n positions;
    perplexity = exp(round(mean_nll, 1e-6)) — derived from the
    QUANTIZED nll so exp can't amplify a last-ulp summation-order
    difference into a visible x1m delta (empty docs coalesce to
    mean_nll=0, ppl=1). Buckets compare ROUNDED x1m values on both
    sides so an engine's last-ulp quantile difference can never flip
    a label.

    Scale shape: pair construction is map-only (arrays_zip of two
    slices — no window, no self-join); training is two token-key
    aggregations; scoring is three equi-joins on token keys (the
    LM tables shuffle, never broadcast — a billion-type vocab still
    flows) + one groupBy(doc). The only non-relational step is the
    two bucket thresholds over the doc-grain frame, an exact
    percentile (memory-bound in one reducer — fine to ~1e8 docs).
    """
    lo_q, hi_q = bucket_quantiles
    if not (0.0 < lo_q <= hi_q < 1.0):
        raise ValueError("bucket_quantiles must satisfy 0 < lo <= hi < 1")
    if discount <= 0.0 or discount >= 1.0:
        raise ValueError("discount must be in (0, 1)")
    D = F.lit(float(discount))

    t = F.trim(F.col(text_col))
    toks = F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")
    is_train = F.col(train_col).cast("boolean")
    n = F.size(F.col("_w"))
    base = df.select(
        F.col(id_col), toks.alias("_w"), is_train.alias("_train")
    )
    # prev = [NULL, w_0 .. w_{n-2}], cur = w: one struct per position.
    pairs = F.arrays_zip(
        F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice(F.col("_w"), 1, F.greatest(n - 1, F.lit(0))),
        ).alias("prev"),
        F.col("_w").alias("cur"),
    )
    # arrays_zip pads to the longer input: for an EMPTY token array the
    # [NULL] prev seed still yields one (NULL, NULL) element — a phantom
    # position that would score as OOV. cur is never NULL for a real
    # position (the tokenizer filters ''), so drop those.
    ev = base.select(
        id_col, "_train", F.explode(pairs).alias("_p")
    ).select(
        id_col, "_train",
        F.col("_p.prev").alias("prev"), F.col("_p.cur").alias("cur"),
    ).where(F.col("cur").isNotNull())

    uni = (
        ev.where("_train")
        .groupBy(F.col("cur").alias("w"))
        .agg(F.count(F.lit(1)).cast("double").alias("c1"))
    )
    # 1-row scalars with an in-plan guard: an empty train side would
    # otherwise flow NULL -> NULL probabilities -> silently-wrong 0 nll.
    sc = uni.groupBy().agg(
        F.sum("c1").alias("N"), F.count(F.lit(1)).cast("double").alias("V")
    ).select(
        F.when(
            F.col("N").isNull(),
            F.raise_error(
                "bigram_perplexity: train subset has no tokens"
            ).cast("double"),
        ).otherwise(F.col("N")).alias("N"),
        "V",
    )
    big = (
        ev.where(F.col("_train") & F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("double").alias("c2"))
    )
    ctx = big.groupBy("prev").agg(
        F.sum("c2").alias("cv"),
        F.count(F.lit(1)).cast("double").alias("n1p"),
    )

    p_uni = (F.coalesce(F.col("c1"), F.lit(0.0)) + F.lit(1.0)) / (
        F.col("N") + F.col("V") + F.lit(1.0)
    )
    p = F.when(
        F.col("cv").isNotNull() & (F.col("cv") > 0),
        (
            F.greatest(
                F.coalesce(F.col("c2"), F.lit(0.0)) - D, F.lit(0.0)
            )
            + D * F.col("n1p") * p_uni
        )
        / F.col("cv"),
    ).otherwise(p_uni)
    scored = (
        ev.join(big, ["prev", "cur"], "left")
        .join(ctx, "prev", "left")
        .join(uni, F.col("cur") == F.col("w"), "left")
        .crossJoin(F.broadcast(sc))
        .select(id_col, (-F.log(p)).alias("_nll"))
        .groupBy(id_col)
        .agg(
            F.avg("_nll").alias("mean_nll"),
            F.count(F.lit(1)).cast("long").alias("n_scored"),
        )
    )
    # perplexity derives from the ROUNDED x1m nll, not the raw double:
    # exp() amplifies a last-ulp summation-order difference by the
    # perplexity's magnitude, so exp(raw) is not stable across engines
    # (or even partition orders) for OOV-heavy docs, while exp of the
    # x1m-quantized nll is
    docs = (
        df.select(id_col, is_train.alias("lm_is_train"))
        .join(scored, id_col, "left")
        .select(
            id_col,
            "lm_is_train",
            F.coalesce("n_scored", F.lit(0).cast("long")).alias(
                "lm_n_scored"
            ),
            F.round(F.coalesce("mean_nll", F.lit(0.0)) * 1e6)
            .cast("long")
            .alias("_nllr"),
        )
        .withColumn("_ppl", F.exp(F.col("_nllr") / F.lit(1e6)))
    )
    # The doc-grain frame feeds BOTH the threshold agg and the final
    # bucketing select; without a materialization Catalyst recomputes
    # the whole token-join subtree twice (tree duplication — the
    # repo's #1 perf trap). One eager checkpoint = one scoring pass;
    # the threshold agg needs a full pass over docs anyway.
    docs = docs.localCheckpoint(eager=True)
    th = docs.agg(
        F.percentile("_ppl", F.lit([lo_q, hi_q])).alias("_th")
    ).select(
        F.round(F.col("_th")[0] * 1e6).cast("long").alias("_lo"),
        F.round(F.col("_th")[1] * 1e6).cast("long").alias("_hi"),
    )
    ppl_r = F.round(F.col("_ppl") * 1e6).cast("long")
    return docs.crossJoin(F.broadcast(th)).select(
        id_col,
        "lm_is_train",
        "lm_n_scored",
        F.col("_nllr").alias("lm_nll_x1m"),
        ppl_r.alias("lm_ppl_x1m"),
        F.when(ppl_r <= F.col("_lo"), F.lit("head"))
        .when(ppl_r <= F.col("_hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("lm_bucket"),
    )
