"""URL canonicalization + URL-level dedup — the first dedup pass a
Common-Crawl-style pipeline runs (before any content hashing): two
fetches of the same page under cosmetically different URLs collapse
to one canonical key.

Canonical form (documented contract, identical in the DuckDB oracle):

1. fragment dropped
2. scheme + host lowercased; userinfo dropped
3. default port stripped (``:80`` for http, ``:443`` for https)
4. empty path -> ``/``; trailing slash stripped from non-root paths
5. query params split on ``&``: empties and tracking keys
   (``utm_*``, ``gclid``, ``fbclid``, ``msclkid``, ``mc_eid``,
   ``ref``) removed, the rest sorted bytewise and re-joined;
   an empty result drops the ``?`` entirely

Related reference surface: src/stdlib/parse_url.rs exposes the
pieces; the reference has no canonicalizer — this is the
training-data extension of that family.

Scale: every step is an anchored JVM regexp / array HOF over one
short string — map-only, codegen'd, no Python, no shuffle. The dedup
itself is one groupBy on the canonical string (at 100 TB: hash
shuffle on a short key, map-side partial aggregation)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vrl_spark.functions.parse import bind

# key-match regex applied to each "k=v" query param (shared verbatim
# with the oracle SQL — common Java/RE2 subset)
TRACKING_KEY_RE = r"^(utm_[a-z]+|gclid|fbclid|msclkid|mc_eid|ref)="


def _norm_query(q: Column) -> Column:
    """'b=2&utm_source=x&a=1' -> 'a=1&b=2' ('' when nothing survives)."""
    kept = F.array_sort(
        F.filter(
            F.split(q, "&", -1),
            lambda p: (p != "") & ~p.rlike(TRACKING_KEY_RE),
        )
    )
    return F.array_join(kept, "&")


def url_normalize(col: Column) -> Column:
    """Canonical URL per the module contract. A value with no
    ``scheme://`` prefix is returned unchanged — including its
    fragment (not a fetchable URL; nothing to canonicalize)."""
    def outer(orig: Column) -> Column:
        built = bind(F.regexp_replace(orig, "#.*$", ""), _rebuild)
        return F.when(
            orig.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), built
        ).otherwise(orig)

    return bind(col, outer)


def _rebuild(u: Column) -> Column:
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]*)", 1)
    )
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)

    def build(scheme: Column, hostport: Column, path: Column, q: Column) -> Column:
        host = F.when(
            (scheme == "http") & hostport.endswith(":80"),
            F.substring(hostport, 1, F.length(hostport) - 3),
        ).when(
            (scheme == "https") & hostport.endswith(":443"),
            F.substring(hostport, 1, F.length(hostport) - 4),
        ).otherwise(hostport)
        p = F.when(path == "", F.lit("/")).otherwise(
            F.when(
                (F.length(path) > 1) & path.endswith("/"),
                F.substring(path, 1, F.length(path) - 1),
            ).otherwise(path)
        )
        qn = _norm_query(q)
        return F.concat(
            scheme, F.lit("://"), host, p,
            F.when(qn == "", "").otherwise(F.concat(F.lit("?"), qn)),
        )

    return bind(scheme, lambda s: bind(hostport, lambda hp: bind(
        path, lambda pth: bind(query, lambda q: build(s, hp, pth, q)))))


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """(canonical_url, keep_id, dup_count): one survivor (min id) per
    canonical URL — the smallest id survives, as in dedup_clusters."""
    return (
        df.select(
            url_normalize(F.col(url_col)).alias("canonical_url"), F.col(id_col)
        )
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-registered-domain corpus rollup — the aggregation behind
    domain blocklists and per-site crawl budgets: document count,
    distinct-host count, and token volume per eTLD+1 (public-suffix
    aware via functions.presets.parse_etld).

    One map-side-combined aggregation on the domain key; host and
    token count are scalar expressions over the scan. mean tokens is
    derived from the exact integer sum/count, so it is
    order-independent (no float accumulation).
    """
    from vrl_spark.functions.presets import parse_etld
    from vrl_spark.operators.textstats import token_count

    host = F.lower(F.parse_url(F.col(url_col), F.lit("HOST")))
    rows = df.select(
        parse_etld(host, plus_parts=1).alias("domain"),
        host.alias("_host"),
        token_count(F.col(text_col)).alias("_tok"),
    )
    return rows.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("_host")).alias("n_hosts"),
        F.sum("_tok").alias("total_tokens"),
        F.round(
            F.sum("_tok").cast("double") / F.count(F.lit(1)) * 1000000
        ).cast("long").alias("mean_doc_tokens_x1m"),
    )
