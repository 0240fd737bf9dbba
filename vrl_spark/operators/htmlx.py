"""HTML text extraction over ``html:binary`` page columns — the
layer BASELINE.json's north star puts between the raw WARC bytes and
every text operator (grok parse, quality, dedup, tokenizers).

Spark-first split of labor:

- **Parsing is the one sanctioned Python hot path** (like the
  tokenizer encodes): HTML tokenization is inherently stateful
  string processing with no Catalyst vocabulary, so it runs in ONE
  Arrow-batched pandas UDF over stdlib ``html.parser.HTMLParser`` —
  a tolerant, non-validating tokenizer (malformed markup never
  raises), entities decoded via ``convert_charrefs``. Bytes decode
  inside the same UDF with U+FFFD maximal-subpart replacement (the
  byte-identical contract of ``operators/extract.py``) so raw page
  bytes never round-trip through a JVM String.
- **Everything downstream is relational.** :func:`html_blocks`
  returns STRUCTURED blocks (text, link_chars, total_chars, tag) —
  boilerplate classification (jusText-lite: link density, length,
  stopword ratio) then runs as plain Catalyst expressions over the
  exploded blocks, composing with the existing textstats lanes, and
  :func:`html_main_text` reassembles the kept blocks per doc. The
  UDF does tokenization ONLY; no classification policy hides in
  Python.

Scale shape: map-only end to end — one Python stage per page and
PURE array-HOF classification/reassembly on top of it; extraction
plus boilerplate removal introduces zero shuffles.

Reference basis: jusText (Pomikálek 2011) / trafilatura-style block
classification, reduced to the deterministic core (link density +
length + stopword density); the reference engine itself ships no
HTML extractor — this belongs to the web-pipeline operator family
layered on top of its transform semantics.
"""

from __future__ import annotations

from html.parser import HTMLParser
from io import StringIO

import pandas as pd  # module level: pandas_udf resolves 'pd.Series' hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# tags whose content is never text
_SKIP_TAGS = frozenset(("script", "style", "template", "noscript", "svg"))
# tags that terminate a text block
_BLOCK_TAGS = frozenset((
    "p", "div", "br", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul",
    "ol", "dl", "dt", "dd", "table", "tr", "td", "th", "blockquote",
    "pre", "section", "article", "header", "footer", "nav", "aside",
    "form", "hr", "figure", "figcaption", "main", "title", "head",
    "body", "html",
))


class _Extractor(HTMLParser):
    """One pass: emits (text, link_chars, total_chars, last_tag)
    blocks at block-tag boundaries; skips script/style/template/
    noscript/svg subtrees; counts characters inside <a> for the
    downstream link-density signal; collects title and hrefs."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int, int]] = []
        self.links: list[tuple[str, str]] = []
        self.title: str | None = None
        self._buf = StringIO()
        self._link_chars = 0
        self._skip = 0
        self._a_depth = 0
        self._a_href: str | None = None
        self._a_text = StringIO()
        self._in_title = False

    def _flush(self):
        raw = self._buf.getvalue()
        text = " ".join(raw.split())
        if text:
            self.blocks.append((text, self._link_chars, len(text)))
        self._buf = StringIO()
        self._link_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip += 1
            return
        if self._skip:
            return
        if tag == "a":
            self._a_depth += 1
            if self._a_depth == 1:
                self._a_href = dict(attrs).get("href")
                self._a_text = StringIO()
        if tag == "title":
            self._in_title = True
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
            return
        if self._skip:
            return
        if tag == "a" and self._a_depth:
            self._a_depth -= 1
            if self._a_depth == 0:
                anchor = " ".join(self._a_text.getvalue().split())
                if self._a_href is not None or anchor:
                    self.links.append((self._a_href, anchor))
                self._a_href = None
        if tag == "title":
            self._in_title = False
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag, attrs):
        # <br/>, <hr/> and friends: same boundary as a start tag
        self.handle_starttag(tag, attrs)
        if tag not in _SKIP_TAGS:
            self.handle_endtag(tag)
        else:
            self._skip = max(0, self._skip - 1)

    def handle_data(self, data):
        if self._skip:
            return
        self._buf.write(data)
        if self._a_depth:
            self._link_chars += len(" ".join(data.split()))
            self._a_text.write(data)
        if self._in_title and self.title is None:
            t = " ".join(data.split())
            if t:
                self.title = t

    def close(self):
        super().close()
        self._flush()


def _to_text(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        # the byte-identical contract: U+FFFD maximal-subpart
        # replacement, never a JVM decode (operators/extract.py)
        return bytes(v).decode("utf-8", errors="replace")
    return v


def _parse(v) -> _Extractor | None:
    t = _to_text(v)
    if t is None:
        return None
    p = _Extractor()
    try:
        p.feed(t)
        p.close()
    except Exception:
        # HTMLParser is tolerant by design; anything that still
        # escapes (pathological recursion in broken entities) keeps
        # whatever blocks were collected rather than failing the page
        p._flush()
    return p


_BLOCK_SCHEMA = T.ArrayType(
    T.StructType([
        T.StructField("text", T.StringType()),
        T.StructField("link_chars", T.LongType()),
        T.StructField("total_chars", T.LongType()),
    ])
)


def html_blocks(col: Column) -> Column:
    """array<struct<text, link_chars, total_chars>> — the page's text
    blocks in document order, whitespace-normalized, script/style
    subtrees dropped, entities decoded. Accepts string OR binary
    pages (binary decodes with the byte-identical U+FFFD policy).
    NULL page -> NULL."""

    @F.pandas_udf(_BLOCK_SCHEMA)
    def _blocks(s: pd.Series) -> pd.Series:
        def one(v):
            p = _parse(v)
            if p is None:
                return None
            return [(t, lc, tc) for t, lc, tc in p.blocks]

        return s.map(one)

    return _blocks(col)


def html_text(col: Column) -> Column:
    """Plain extracted text: blocks joined with newlines (block tags
    are the newline boundaries; intra-block whitespace collapses to
    single spaces). The full-page analogue of the reference's lossy
    byte decode with markup removed."""

    @F.pandas_udf(T.StringType())
    def _text(s: pd.Series) -> pd.Series:
        def one(v):
            p = _parse(v)
            if p is None:
                return None
            return "\n".join(t for t, _, _ in p.blocks)

        return s.map(one)

    return _text(col)


def html_title(col: Column) -> Column:
    """<title> text (first non-empty), entities decoded, NULL when
    absent."""

    @F.pandas_udf(T.StringType())
    def _title(s: pd.Series) -> pd.Series:
        def one(v):
            p = _parse(v)
            return None if p is None else p.title

        return s.map(one)

    return _title(col)


def html_links(col: Column) -> Column:
    """array<struct<href, anchor>> in document order — the edge list
    feeding graph.pagerank/hits after an eTLD+1 canonicalization
    (dedup_url's lane)."""

    @F.pandas_udf(
        T.ArrayType(
            T.StructType([
                T.StructField("href", T.StringType()),
                T.StructField("anchor", T.StringType()),
            ])
        )
    )
    def _links(s: pd.Series) -> pd.Series:
        def one(v):
            p = _parse(v)
            if p is None:
                return None
            return list(p.links)

        return s.map(one)

    return _links(col)


def html_main_text(
    df: DataFrame,
    html_col: str = "html",
    min_chars: int = 25,
    max_link_density: float = 0.5,
    min_stopword_ratio: float = 0.0,
    stopwords: list[str] | None = None,
    out_col: str = "main_text",
) -> DataFrame:
    """jusText-lite boilerplate removal, the RELATIONAL way: blocks
    come from the one parsing UDF; the good/bad policy is pure
    Catalyst over the exploded blocks — a block survives when it is
    long enough (``min_chars``), not link-dominated
    (``link_chars / total_chars <= max_link_density``), and (when
    ``stopwords`` is given) carries at least ``min_stopword_ratio``
    stopword tokens, the jusText signal that separates prose from
    navigation. Kept blocks rejoin per doc IN DOCUMENT ORDER.

    Returns df + ``out_col`` (NULL page -> NULL; page with zero
    surviving blocks -> ''). The whole policy runs INSIDE array HOFs
    over the blocks column — zero explodes, zero shuffles, zero
    joins: extraction plus classification is one map-only stage. The
    blocks UDF sits behind a materialize barrier so the filter/when
    consumers cannot re-trigger the parse."""
    if not 0.0 <= max_link_density <= 1.0:
        raise ValueError(
            f"max_link_density must be in [0, 1], got {max_link_density}"
        )
    if not 0.0 <= min_stopword_ratio <= 1.0:
        raise ValueError(
            f"min_stopword_ratio must be in [0, 1], got {min_stopword_ratio}"
        )
    if min_stopword_ratio > 0 and not stopwords:
        # the `if stopwords` gate below would otherwise silently skip
        # the filter the caller believes is active
        raise ValueError(
            "min_stopword_ratio > 0 requires a non-empty stopwords list"
        )
    if stopwords:
        import re as _re

        bad = [w for w in stopwords if _re.search(r"\W", w)]
        if bad:
            # tokens from the \W+ split can never contain non-word
            # chars, so entries like \"don't\" would be silently
            # unreachable while still inflating nothing — reject them
            raise ValueError(
                f"stopwords must be single word tokens (no punctuation/"
                f"spaces); offending entries: {bad[:5]}"
            )
    from vrl_spark.functions.parse import materialize

    base = materialize(df, _blocks=html_blocks(F.col(html_col)))

    def good(b: Column) -> Column:
        ok = (
            (b.getField("total_chars") >= min_chars)
            & (
                b.getField("link_chars")
                <= F.lit(max_link_density) * b.getField("total_chars")
            )
        )
        if stopwords:
            # jusText's stopword DENSITY: stopword TOKEN OCCURRENCES
            # over word tokens. Split on UNICODE non-word runs —
            # Java's bare \W is ASCII-only and would shred accented/
            # non-Latin words ('été' -> ['t']), zeroing density for
            # exactly the multilingual corpora the signal exists for;
            # (?U) turns on UNICODE_CHARACTER_CLASS. Punctuation never
            # glues to a word ('it.' counts as 'it'). Count via
            # filter+isin (array_intersect DEDUPLICATES — it would cap
            # the ratio at n_distinct_stopwords/len and reject every
            # long prose block; isin over the plain list is the
            # the stopword-count idiom of textstats.gopher_rules, InSet-optimizable).
            lowered = [w.lower() for w in stopwords]
            words = F.filter(
                F.split(F.lower(b.getField("text")), r"(?U)\W+"),
                lambda w: w != "",
            )
            hits = F.size(F.filter(words, lambda w: w.isin(lowered)))
            ratio = hits / F.greatest(F.size(words), F.lit(1))
            ok = ok & (ratio >= min_stopword_ratio)
        return ok

    kept = F.filter(F.col("_blocks"), good)
    out = F.when(
        F.col("_blocks").isNotNull(),
        F.concat_ws(
            "\n", F.transform(kept, lambda x: x.getField("text"))
        ),
    )
    return base.withColumn(out_col, out).drop("_blocks")
