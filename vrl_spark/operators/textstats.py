"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

All pure JVM Column expressions (array/regex ops) — portable to the
DuckDB oracle and free of Python on the hot path."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists for the n-gram/stopword-hit
# language heuristic. (A real deployment swaps in fastText or CLD3 as
# a pandas UDF; the Spark plumbing is identical.)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "no", "por"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ce"],
}


def tokens(col: Column) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count. NULL text counts as 0 (without the
    guard, size(split(NULL)) is -1 under the legacy sizeOfNull config
    and NULL under ANSI — either silently corrupts token sums for
    consumers like curate_corpus's fates that surface every row)."""
    t = F.trim(col)
    return (
        F.when(t.isNull() | (F.length(t) == 0), 0)
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("long")
    )


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword count: split on word/number/punct boundaries
    (the GPT-2 pre-tokenizer shape, public regex family)."""
    pieces = F.regexp_extract_all(
        col, F.lit(r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+|\s+"), 0
    )
    # whitespace runs don't count as tokens
    return F.size(F.filter(pieces, lambda p: ~p.rlike(r"^\s+$"))).cast("long")


def lang_id(col: Column) -> Column:
    """Pick the language with the most stopword hits; ties and
    zero-hit rows -> 'und'. First-listed wins ties (deterministic).

    Two binds keep the work linear: tokenization runs ONCE (not once
    per language x2 references = 28x), and the per-language hit counts
    land in ONE array that the argmax cascade reads as a variable."""
    from vrl_spark.functions.parse import bind

    langs = list(STOPWORDS)

    def with_toks(toks: Column) -> Column:
        hits_arr = F.array(
            *[
                F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang])))
                for lang in langs
            ]
        )

        def with_hits(hits: Column) -> Column:
            best = F.array_max(hits)
            out = F.when(best <= 0, "und")
            for i, lang in enumerate(langs):  # order = tie priority
                out = out.when(F.element_at(hits, i + 1) == best, lang)
            return out

        return bind(hits_arr, with_hits)

    return bind(tokens(col), with_toks)


def quality_score(col: Column) -> Column:
    """Composite quality in [0,1]: length band + alpha ratio +
    distinct-word ratio (boilerplate/repetition penalty).

    The shape (not the exact weights) is the standard web-text
    quality-filter recipe (C4/Gopher-style heuristics)."""
    from vrl_spark.functions.parse import bind

    t = F.trim(col)
    n_chars = F.length(t).cast("double")

    def with_toks(toks: Column) -> Column:
        # toks is a bound variable: ONE tokenization feeds the three
        # token-derived ratios instead of one per reference
        n_tok = F.size(toks).cast("double")
        len_ok = F.when((n_chars >= 100) & (n_chars <= 20000), 1.0).otherwise(
            F.when(n_chars > 0, 0.5).otherwise(0.0)
        )
        alpha_ratio = F.when(
            n_chars > 0,
            F.length(F.regexp_replace(t, r"[^A-Za-z ]", "")).cast("double") / n_chars,
        ).otherwise(0.0)
        distinct_ratio = F.when(
            n_tok > 0, F.size(F.array_distinct(toks)).cast("double") / n_tok
        ).otherwise(0.0)
        mean_word = F.when(n_tok > 0, n_chars / n_tok).otherwise(0.0)
        word_ok = F.when((mean_word >= 3) & (mean_word <= 12), 1.0).otherwise(0.3)
        # raw double — callers round/scale at the output boundary
        return 0.3 * len_ok + 0.3 * alpha_ratio + 0.2 * distinct_ratio + 0.2 * word_ok

    return bind(tokens(t), with_toks)


def fingerprint(col: Column) -> Column:
    """OpenRefine-style key-collision fingerprint: lowercase, strip
    non-alnum, sort DISTINCT tokens, join, md5. Collisions = same
    content modulo ordering/casing/punct — a cheap canonical-dup key."""
    cleaned = F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", "")
    toks = F.array_sort(F.array_distinct(
        F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != "")
    ))
    return F.md5(F.array_join(toks, " ").cast("binary"))


def rolling_hash_fingerprint(col: Column, window: int = 8) -> Column:
    """Winnowing-ish: md5 over each word w-gram, keep the MIN hash —
    a 1-of-n rolling-hash document sketch (content-defined, shift
    tolerant). ``bind`` keeps the tokenization from re-running once
    per window position (Catalyst re-evaluates outer expressions
    inside HOF lambdas)."""
    from vrl_spark.functions.parse import bind

    def body(toks: Column) -> Column:
        k = F.size(toks)
        last = F.greatest(k - window, F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(0), last),
            lambda i: F.md5(
                F.array_join(F.slice(toks, i + 1, window), " ").cast("binary")
            ),
        )
        return F.when(k > 0, F.array_min(grams))

    return bind(tokens(col), body)


# ---------------------------------------------------------------------
# repetition metrics (Gopher/MassiveText-style quality heuristics)
# ---------------------------------------------------------------------


def word_ngrams(col: Column, n: int) -> Column:
    """NON-distinct word n-grams (repetition metrics need counts;
    word_shingles in dedup.py dedups). < n tokens -> empty array."""
    from vrl_spark.functions.parse import bind

    def body(toks: Column) -> Column:
        k = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(0), k - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
        return F.when(
            (F.trim(col) != "") & (k >= n), grams
        ).otherwise(F.array().cast("array<string>"))

    return bind(tokens(col), body)


def line_repetition(col: Column) -> tuple[Column, Column]:
    """(dup_line_frac, dup_line_char_frac): fraction of lines that are
    duplicates, and fraction of line characters living in duplicated
    lines — the Gopher repetition-filter line rules (public heuristic
    family). Lines per document are few, so the quadratic per-row
    membership scan stays tiny; `bind` keeps the split from re-running
    per element."""
    from vrl_spark.functions.parse import bind

    def body(lines: Column) -> Column:
        nl = F.size(lines)
        dl = F.size(F.array_distinct(lines))
        dup_line = F.when(
            nl > 0, (nl - dl).cast("double") / nl
        ).otherwise(F.lit(0.0))
        total_chars = F.aggregate(
            lines, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
        )
        dup_chars = F.aggregate(
            lines,
            F.lit(0).cast("long"),
            lambda a, l: a
            + F.when(
                F.size(F.filter(lines, lambda x: x == l)) > 1, F.length(l)
            ).otherwise(F.lit(0)),
        )
        dup_char_frac = F.when(
            total_chars > 0, dup_chars.cast("double") / total_chars
        ).otherwise(F.lit(0.0))
        return F.struct(
            dup_line.alias("dup_line_frac"),
            dup_char_frac.alias("dup_line_char_frac"),
        )

    s = body(F.split(col, "\n"))
    return s.getField("dup_line_frac"), s.getField("dup_line_char_frac")


def _gram_stats_udf():
    """Arrow-batched per-doc n-gram repetition stats over the token
    array: struct(top2gram_frac, dup5gram_frac). Counts are exact
    integers (Counter over the same space-joined grams the relational
    lowering counted), so the fractions are double-for-double
    identical to the explode -> groupBy(id, gram) -> per-id aggregate
    shape this replaces — which cost FOUR corpus-gram shuffles and two
    joins; per-doc counting is a linear map-side pass bounded by the
    document's own length (guide §2.4: remove shuffles outright)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<top2gram_frac:double,dup5gram_frac:double>")
    def stats(toks_ser: pd.Series) -> pd.DataFrame:
        from collections import Counter

        out_t2 = []
        out_d5 = []
        for toks in toks_ser:
            t2 = 0.0
            d5 = 0.0
            if toks is not None:
                k = len(toks)
                if k >= 2:
                    c2 = Counter(
                        " ".join(toks[i:i + 2]) for i in range(k - 1)
                    )
                    t2 = max(c2.values()) / (k - 1)
                if k >= 5:
                    c5 = Counter(
                        " ".join(toks[i:i + 5]) for i in range(k - 4)
                    )
                    d5 = sum(v for v in c5.values() if v > 1) / (k - 4)
            out_t2.append(t2)
            out_d5.append(d5)
        return pd.DataFrame({"top2gram_frac": out_t2,
                             "dup5gram_frac": out_d5})

    return stats


def repetition_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document repetition metrics (Gopher-style):

    - dup_line_frac / dup_line_char_frac  (line duplication)
    - top2gram_frac: occurrences of the most frequent word 2-gram over
      all 2-gram occurrences
    - dup5gram_frac: fraction of 5-gram occurrences that are repeats

    Every metric is a function of the row's own text, so the whole
    frame is ONE map-side projection: line metrics as JVM expressions,
    the two gram metrics as one Arrow-batched Counter pass over the
    token array (see :func:`_gram_stats_udf` — fraction values are
    identical to the relational explode/groupBy lowering it replaced,
    which shuffled every corpus gram twice per gram size). Tokens are
    split in the JVM (exact ``tokens()`` semantics, no Python regex
    divergence) and routed through a materialize barrier so the Arrow
    UDF receives a plain attribute and the split runs once per row."""
    from vrl_spark.functions.parse import materialize

    text = F.col(text_col)
    dup_line, dup_char = line_repetition(text)
    base = materialize(
        df,
        dup_line_frac=dup_line,
        dup_line_char_frac=dup_char,
        # word_ngrams' gram space: tokens of lower(trim(text)); the
        # (trim != '') guard is implied for n >= 2 (a blank doc
        # tokenizes to [''], k = 1 < 2 -> no grams either way)
        _toks=tokens(text),
    )
    g = _gram_stats_udf()(F.col("_toks"))
    return base.select(
        id_col, "dup_line_frac", "dup_line_char_frac",
        g.getField("top2gram_frac").alias("top2gram_frac"),
        g.getField("dup5gram_frac").alias("dup5gram_frac"),
    )


def repetition_filter(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top2gram_frac: float = 0.20,
    max_dup5gram_frac: float = 0.15,
):
    """Keep rows passing every repetition threshold (defaults follow
    the published Gopher rules' shape). Left-semi join on the metric
    table: documents never shuffle, only (id, metric) rows do."""
    stats = repetition_stats(df, text_col, id_col)
    keep = stats.where(
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("top2gram_frac") <= max_top2gram_frac)
        & (F.col("dup5gram_frac") <= max_dup5gram_frac)
    ).select(id_col)
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------
# benchmark decontamination (n-gram collision against an eval set)
# ---------------------------------------------------------------------


def contamination_flags(
    df,
    benchmark,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
):
    """Flag training documents sharing any word n-gram with a
    benchmark/eval set (the published decontamination recipe family:
    13-gram collision). Returns (id, contaminated: boolean).

    Shape at 100 TB: the benchmark side is small by definition — its
    distinct grams BROADCAST; the corpus side explodes to (id, gram)
    and left-semi-joins, so no corpus shuffle and no benchmark text
    ever leaves the driver-side build. One distinct on flagged ids."""
    doc_grams = df.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("g")
    )
    bench_grams = benchmark.select(
        F.explode(word_ngrams(F.col(bench_text_col), n)).alias("g")
    ).distinct()
    flagged = (
        doc_grams.join(F.broadcast(bench_grams), "g", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        df.select(id_col)
        .join(flagged, id_col, "left")
        .select(
            id_col, F.coalesce("contaminated", F.lit(False)).alias("contaminated")
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_chars: int = 10,
    out_col: str = "cleaned",
) -> DataFrame:
    """Corpus-wide duplicated-line removal (the CCNet/RefinedWeb
    boilerplate pass): any line of >= ``min_chars`` characters that
    appears in >= ``min_docs`` DISTINCT documents is dropped from
    every document; surviving lines are rejoined in original order.

    Returns (id, out_col, n_removed). Documents whose every line is
    boilerplate come back with ``out_col = ''``.

    Scale shape: posexplode lines -> count distinct docs per line
    (hash shuffle with map-side partial agg) -> left-anti join the
    line table against the flagged set (line-key shuffle; the flagged
    set is the output of the count, so AQE reuses its partitioning)
    -> one groupBy(id) to reassemble. All relational — no Python, no
    collect; line keys are short strings, and the per-doc line list
    is bounded by document size.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("_pos", "_line"),
    )
    eligible = (F.length(F.col("_line")) >= min_chars)
    flagged = (
        lines.where(eligible)
        .groupBy("_line")
        .agg(F.count_distinct(F.col(id_col)).alias("_docs"))
        .where(F.col("_docs") >= min_docs)
        .select("_line")
    )
    kept = lines.join(flagged, "_line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s.getField("_line"),
            ),
            "\n",
        ).alias(out_col),
        F.count(F.lit(1)).alias("_kept"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n", -1)).alias("_total"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            (F.col("_total") - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    min_docs: int = 2,
    out_col: str = "span_text",
    keep_cols: list[str] | None = None,
    n_col: str = "n_removed",
) -> DataFrame:
    """Cross-document duplicated-SPAN removal: any run of ``ngram``
    consecutive tokens that appears in >= ``min_docs`` distinct
    documents is cut from every document (the n-gram approximation of
    suffix-array substring dedup a la "Deduplicating Training Data
    Makes Language Models Better" — exact on spans >= ngram tokens).
    Overlapping flagged grams merge naturally: a duplicated span of
    length L >= ngram yields L-ngram+1 flagged grams whose position
    cover is exactly the span. Surviving tokens rejoin space-separated
    in original order.

    Returns (id, *keep_cols, out_col, n_col) — ``n_col`` counts
    removed tokens. ``keep_cols`` ride through map-side (they join on
    the id-key shuffle the rebuild already pays), so a caller chaining
    passes does NOT need a self-join that would re-execute this
    operator's input plan twice.

    Gram identity for the corpus-wide count: each token slice hashes
    with xxhash64 — an 8-byte shuffle key instead of a ~50-byte gram
    string; a 64-bit collision falsely merging two grams is ~1e-7 at
    millions of grams. (Hashed grams + the map-side rebuild below
    measured the sf0.1 vehicle 4.87 -> 3.07 s vs string grams +
    token-grain anti-join.)

    Scale shape (all relational; TOKENS NEVER SHUFFLE): tokenize once
    -> gram table via slice -> countDistinct docs per gram (8-byte
    keys, map-side partial) -> join flagged grams back -> fold covered
    positions to one small int-set per doc (id-key shuffle of ints)
    -> join that set back to the doc row and rebuild MAP-SIDE with an
    O(1) per-token map lookup. The text/token columns stay where the
    scan put them; only gram hashes and covered positions cross the
    wire."""
    clash = set(keep_cols or []) & {
        id_col, out_col, n_col, "_toks", "_cov", "_total", "_r",
    }
    if clash:
        raise ValueError(
            f"keep_cols {sorted(clash)} collide with span_dedup's own "
            f"output/internal columns; rename them or change "
            f"out_col/n_col"
        )
    toks_arr = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != ""
    )
    keep = keep_cols or []
    base = df.select(
        F.col(id_col), toks_arr.alias("_toks"),
        *[F.col(c) for c in keep],
    )
    # sequence(0, -k) is DESCENDING, not empty — guard short docs
    starts = F.when(
        F.size(F.col("_toks")) >= ngram,
        F.sequence(F.lit(0), F.size(F.col("_toks")) - ngram),
    ).otherwise(F.array().cast("array<int>"))
    sl = F.slice(F.col("_toks"), F.col("_start") + 1, ngram)
    gram_key = F.xxhash64(sl)
    grams = base.select(
        F.col(id_col), F.col("_toks"), F.explode(starts).alias("_start")
    ).select(
        F.col(id_col),
        F.col("_start"),
        gram_key.alias("_gram"),
    )
    flagged = (
        grams.groupBy("_gram")
        .agg(F.count_distinct(F.col(id_col)).alias("_docs"))
        .where(F.col("_docs") >= min_docs)
        .select("_gram")
    )
    covered = (
        grams.join(flagged, "_gram")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("_start"), F.col("_start") + ngram - 1)
            ).alias("_pos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set(F.col("_pos")).alias("_cov"))
    )
    from vrl_spark.functions.parse import bind

    def rebuild(toks_ref: Column) -> Column:
        cov = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
        covmap = F.map_from_arrays(
            cov, F.array_repeat(F.lit(True), F.size(cov))
        )

        def with_map(m: Column) -> Column:
            idx = F.filter(
                F.transform(
                    toks_ref,
                    lambda t, i: F.struct(t.alias("t"), i.alias("i")),
                ),
                lambda s: F.try_element_at(m, s.getField("i")).isNull(),
            )
            return F.struct(
                F.array_join(
                    F.transform(idx, lambda s: s.getField("t")), " "
                ).alias("txt"),
                F.size(idx).alias("kept"),
            )

        # bind: the map is referenced once per TOKEN inside the filter
        # lambda — without the barrier it would be rebuilt per element
        return bind(covmap, with_map)

    joined = base.join(covered, id_col, "left")
    out = joined.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.size(F.col("_toks")).alias("_total"),
        bind(F.col("_toks"), rebuild).alias("_r"),
    )
    return out.select(
        id_col,
        *keep,
        F.col("_r").getField("txt").alias(out_col),
        (F.col("_total") - F.col("_r").getField("kept"))
        .cast("long")
        .alias(n_col),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher quality-rule family not already covered by
    quality_score / repetition_stats: per-document rule metrics plus
    the combined ``keep`` verdict with the published thresholds
    (word-count band, mean word length band, symbol-to-word ratio,
    bullet-line and ellipsis-line fractions, alphabetic-word fraction,
    stopword-hit floor).

    Pure column arithmetic over ONE tokenization and ONE line split
    (bound — no re-evaluation per metric): map-only, codegen'd,
    fuses with the scan at any scale.
    """
    from vrl_spark.functions.parse import bind

    t = F.trim(F.col(text_col))
    low = F.lower(t)

    def with_words(w: Column) -> Column:
        def with_lines(ls: Column) -> Column:
            n_words = F.when(t == "", F.lit(0)).otherwise(F.size(w)).cast("long")
            nwd = n_words.cast("double")
            sum_chars = F.aggregate(
                w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).cast("double")
            mean_wl = F.when(n_words > 0, sum_chars / nwd).otherwise(0.0)
            n_sym = (
                (F.length(low) - F.length(F.replace(low, F.lit("#"), F.lit(""))))
                + (F.length(low)
                   - F.length(F.replace(low, F.lit("..."), F.lit("")))) / 3
                + (F.length(low) - F.length(F.replace(low, F.lit("…"), F.lit(""))))
            ).cast("double")
            symbol_ratio = F.when(n_words > 0, n_sym / nwd).otherwise(0.0)
            n_lines = F.size(ls).cast("double")
            bullet_frac = F.size(
                F.filter(ls, lambda l: F.trim(l).rlike(r"^[•\-\*]"))
            ).cast("double") / n_lines
            ellipsis_frac = F.size(
                F.filter(ls, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
            ).cast("double") / n_lines
            alpha_frac = F.when(
                n_words > 0,
                F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("double") / nwd,
            ).otherwise(0.0)
            sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
            stop_hits = F.size(
                F.array_intersect(F.array_distinct(w), sw)
            ).cast("long")
            keep = (
                n_words.between(min_words, max_words)
                & mean_wl.between(min_mean_word_len, max_mean_word_len)
                & (symbol_ratio <= max_symbol_ratio)
                & (bullet_frac <= max_bullet_frac)
                & (ellipsis_frac <= max_ellipsis_frac)
                & (alpha_frac >= min_alpha_word_frac)
                & (stop_hits >= min_stopword_hits)
            )
            x1m = lambda c: F.round(c * 1000000).cast("long")  # noqa: E731
            return F.struct(
                n_words.alias("n_words"),
                x1m(mean_wl).alias("mean_word_len_x1m"),
                x1m(symbol_ratio).alias("symbol_ratio_x1m"),
                x1m(bullet_frac).alias("bullet_frac_x1m"),
                x1m(ellipsis_frac).alias("ellipsis_frac_x1m"),
                x1m(alpha_frac).alias("alpha_word_frac_x1m"),
                stop_hits.alias("stopword_hits"),
                keep.alias("keep"),
            )

        return bind(F.split(t, "\n", -1), with_lines)

    s = bind(F.split(low, r"\s+"), with_words)
    out = df.select(F.col(id_col), s.alias("_g"))
    g = F.col("_g")
    return out.select(
        id_col,
        *[g.getField(f).alias(f) for f in
          ("n_words", "mean_word_len_x1m", "symbol_ratio_x1m",
           "bullet_frac_x1m", "ellipsis_frac_x1m", "alpha_word_frac_x1m",
           "stopword_hits", "keep")],
    )


def vocab_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 100,
) -> DataFrame:
    """Corpus vocabulary head: the ``top_k`` tokens by DOCUMENT
    frequency (ties broken by token text), with total occurrence
    counts — the stats behind stopword lists, vocab pruning, and
    df-based quality features.

    Scale shape: explode tokens -> one hash-shuffle aggregation with
    map-side combine (count_distinct docs + total count per token);
    the top-k is orderBy+limit, which Spark lowers to
    TakeOrderedAndProject — per-partition heaps, no global sort
    shuffle. The final rank window runs on top_k rows only.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("token"),
    )
    agg = toks.groupBy("token").agg(
        F.count_distinct(F.col(id_col)).alias("doc_freq"),
        F.count(F.lit(1)).alias("total_freq"),
    )
    head = agg.orderBy(F.col("doc_freq").desc(), F.col("token").asc()).limit(
        top_k
    )
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("token").asc())
    return head.withColumn("rank", F.row_number().over(w).cast("long"))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping token windows (RAG /
    context-window chunking): chunk k covers tokens
    ``[k*stride, k*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the tail chunk may be short.
    Empty documents yield no chunks.

    Returns (id, chunk_id, chunk_text, n_chunk_tokens).

    Scale shape: one tokenization per document (bound), chunk starts
    from ``sequence`` and slices inside a single projection, then one
    posexplode — map-only, no shuffle, no Python; output rows are
    ~1/stride per input token regardless of document skew.
    """
    from vrl_spark.functions.parse import bind

    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}")
    stride = chunk_tokens - overlap
    t = F.trim(F.col(text_col))

    def body(toks: Column) -> Column:
        n = F.size(toks)
        starts = F.sequence(
            F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)
        )
        chunks = F.transform(
            starts,
            lambda s: F.struct(
                F.array_join(F.slice(toks, s + 1, chunk_tokens), " ").alias(
                    "chunk_text"
                ),
                F.size(F.slice(toks, s + 1, chunk_tokens))
                .cast("long")
                .alias("n_chunk_tokens"),
            ),
        )
        empty = F.array().cast(
            "array<struct<chunk_text:string,n_chunk_tokens:bigint>>"
        )
        # guard on token count, not the trimmed string: Spark trim
        # strips spaces only, so a tab/newline-only document has
        # t != '' but zero tokens and must still yield no chunks
        return F.when(n == 0, empty).otherwise(chunks)

    exploded = df.select(
        F.col(id_col),
        F.posexplode(
            bind(F.filter(F.split(t, r"\s+"), lambda x: x != ""), body)
        ).alias("chunk_id", "_c"),
    )
    c = F.col("_c")
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        c.getField("chunk_text").alias("chunk_text"),
        c.getField("n_chunk_tokens").alias("n_chunk_tokens"),
    )


def profile_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group numeric profile (corpus data-profiling: length /
    token-count distributions per language or source): count, min,
    max, mean, and exact interpolated p50/p90.

    One map-side-combined aggregation; exact percentiles sort within
    the group's value multiset only (Spark `percentile`), not the
    whole table. Mean derives from exact integer sum/count. At 100 TB
    switch `percentile` to `approx_percentile` for sketch-merge
    aggregation — the call site is the only change.
    """
    v = F.col(value_col).cast("long")
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.round(F.sum(v).cast("double") / F.count(F.lit(1)) * 1000000)
        .cast("long").alias("mean_x1m"),
        F.round(F.percentile(v, F.lit(0.5)) * 1000000).cast("long").alias(
            "p50_x1m"
        ),
        F.round(F.percentile(v, F.lit(0.9)) * 1000000).cast("long").alias(
            "p90_x1m"
        ),
    )


# log-template mining masks, applied in order (specific -> generic);
# written in the shared Java-regex / RE2 subset for oracle parity
TEMPLATE_MASKS: list[tuple[str, str]] = [
    (r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
     "<UUID>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    (r"\b[0-9a-f]{12,}\b", "<HEX>"),
    (r"[0-9]+", "<N>"),
]


def template_col(col: Column) -> Column:
    """One log line -> its structural template (variable parts masked).
    A lightweight Drain-style signature: UUIDs, IPs, long hex runs,
    then any number collapse to typed placeholders, in that order."""
    out = col
    for pat, token in TEMPLATE_MASKS:
        out = F.regexp_replace(out, pat, token)
    return out


def mine_templates(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """(template, n_lines, example): structure discovery over a log
    stream — group lines by masked template, keep templates matching
    >= min_count lines, carry the lexicographically-smallest raw line
    as the deterministic example.

    Scale shape: the mask chain is map-only codegen; one template-key
    aggregation with map-side combine. Template cardinality is tiny
    relative to line count (that is the point of the operator), so the
    aggregated state is small no matter the input size.
    """
    t = F.col(text_col)
    return (
        df.select(template_col(t).alias("template"), t.alias("_raw"))
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("_raw").alias("example"),
        )
        .where(F.col("n_lines") >= min_count)
    )
