"""The flagship plan: web-access-log parse -> enrich -> route -> aggregate.

This is the north-star pipeline (BASELINE.json.north_rule) built
Spark-first:

- parse   : grok (compiled once, driver-side -> one JVM
            ``regexp_replace`` per pattern tried, zero Python) with a
            logfmt fallback — first-match-wins, VRL if/else chain
            semantics; un-parseable rows carry an ``error`` column
            instead of throwing (fallibility-as-data, reference
            src/compiler/expression/assignment.rs:531-548).
- enrich  : key lookup in a small lang table (VRL enrichment-table
            semantics: key equality, miss -> nulls). The dim is a
            map literal inside the projection, so it costs no join,
            no broadcast and no Spark job.
- route   : one CASE cascade -> ``route`` column (VRL route/abort
            as filter + multi-sink: reference src/test/mod.rs:268-277
            abort semantics), then a SINGLE pass partitioned write.
- aggregate: tumbling 1h windows on warc_ts per route
            (F.window/date_trunc — map-side partial agg native).

Every stage is written as SQL text (``selectExpr`` / ``F.expr``):
building the whole chain is a few hundred py4j calls and a few
analysed projections, where one ``Column`` object per function call
cost thousands (the build is paid on every call, before any row is
read).

Scale notes (100 TB design point):
- The parse stage is pure column expressions -> whole-stage codegen;
  no shuffle until the aggregate.
- The enrichment is a map lookup inside the projection (15-row
  dim): no shuffle, and no broadcast to ship to every executor.
- The only shuffled aggregation is the final groupBy(route, hour):
  ~routes x 24 groups/day, trivially small after map-side partial
  aggregation. Its two count(DISTINCT)s plan as an Expand, so the
  executed plan has 2 Exchanges.
- Host skew (40% of rows on one host) never becomes a shuffle key
  here; sinks partition by route. Where host IS a key (per-host
  rollups), use vrl_spark.operators.skew salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vrl_spark.functions.parse import grok_chain
from vrl_spark.grok import compile_grok
from vrl_spark.pipeline import route_column
from vrl_spark.sources.pages import derive_pages, derive_pages_sql
from vrl_spark.sources import literal_lookup, read_table

ACCESS_PATTERN = (
    '%{IPV4:client_ip} - %{USER:user} \\[%{HTTPDATE:ts}\\] '
    '"%{WORD:method} %{URIPATH:path} HTTP/%{NUMBER:http_version}" '
    '%{NONNEGINT:status} %{NONNEGINT:bytes}'
)
ACCESS = compile_grok(ACCESS_PATTERN)

# logfmt fallback fields extracted by regex (same regexes run in the
# DuckDB oracle — single definition here).
LOGFMT_FIELDS = {
    "level": r"(?:^|\s)level=(\w+)",
    "log_bytes": r"(?:^|\s)bytes=(\d+)",
    "log_ts": r"(?:^|\s)ts=(\S+)",
}

# engine-side fast path: the generator's fixed-order logfmt line as a
# single anchored grok pattern (one regex pass; the oracle keeps the
# order-independent per-key extraction — same values, independent path)
LOGFMT_PATTERN = (
    "ts=%{NOTSPACE:log_ts} level=%{WORD:level} host=%{NOTSPACE:log_host} "
    "bytes=%{NONNEGINT:log_bytes} msg=%{NOTSPACE:msg}"
)
LOGFMT = compile_grok(LOGFMT_PATTERN)

# Enrichment dim — single source of truth for Spark AND the oracle.
LANG_ROWS = [
    ("en", "English", "germanic"), ("de", "German", "germanic"),
    ("nl", "Dutch", "germanic"), ("sv", "Swedish", "germanic"),
    ("es", "Spanish", "romance"), ("fr", "French", "romance"),
    ("it", "Italian", "romance"), ("pt", "Portuguese", "romance"),
    ("ru", "Russian", "slavic"), ("pl", "Polish", "slavic"),
    ("zh", "Chinese", "sinitic"), ("ja", "Japanese", "japonic"),
    ("ko", "Korean", "koreanic"), ("ar", "Arabic", "semitic"),
    ("und", "Unknown", "unknown"),
]


def load_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return derive_pages(docs)


# ---------------------------------------------------------------------
# Stages (Spark side)
# ---------------------------------------------------------------------

def parse_stage(pages: DataFrame) -> DataFrame:
    """Grok-parse ``text`` with logfmt fallback; errors become data.

    ``grok_chain`` runs ACCESS, then LOGFMT on the rows ACCESS
    rejects, each through two SQL-text Generate barriers: ONE anchored
    regex execution per row for the primary pattern, a second only for
    its misses (regex work per row is 1 + miss_rate instead of
    fields + 2 — the parse stage is the pipeline's hot loop). The
    fields, coercions and error column below are one more SQL-text
    projection that reads the capture arrays by index."""
    df = grok_chain(pages, ["_ap", "_lf"], "text", [ACCESS, LOGFMT])
    ap = {n: f"element_at(_ap, {ACCESS.group_index(n)})" for n in ACCESS.fields}
    lf = {n: f"element_at(_lf, {LOGFMT.group_index(n)})" for n in LOGFMT.fields}
    return df.selectExpr(
        "* EXCEPT (_ap, _lf)",
        "_ap IS NOT NULL AS _grok_ok",
        "_lf IS NOT NULL AS _logfmt_ok",
        *[f"{ap[n]} AS {n}" for n in ACCESS.fields],
        *[f"{lf[n]} AS {n}" for n in ("level", "log_bytes", "log_ts")],
        # coercions with VRL semantics: status/bytes strings -> long
        # (captures are all strings pre-coercion, parse_regex.rs:83-86)
        f"try_cast({ap['status']} AS BIGINT) AS status_int",
        f"coalesce(try_cast({ap['bytes']} AS BIGINT), "
        f"try_cast({lf['log_bytes']} AS BIGINT)) AS bytes_int",
        "CASE WHEN _ap IS NULL AND _lf IS NULL "
        "THEN 'unable to parse input with grok pattern' END AS error",
        "substring_index(substring_index(url, '/', 3), '/', -1) AS url_host",
    )


def enrich_stage(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Look the lang up in the ``LANG_ROWS`` dim. Nullish lang ('',
    '-', all spaces, null) is normalized to 'und' first (is_nullish
    semantics, reference src/stdlib/is_nullish.rs); an unknown lang
    keeps its row with NULL name and family. One SQL-text projection.

    The dim is a constant of the program, so it is compiled into the
    expression as a map literal (``sources.literal_lookup``), as VRL
    compiles constant arguments once: no join, and no broadcast to
    build in a job of its own on every call."""
    return df.selectExpr(
        "*",
        "CASE WHEN lang IS NULL OR trim(lang) IN ('', '-') THEN 'und' "
        "ELSE lang END AS lang_norm",
        # the lookups read lang_norm as a lateral column alias
        *literal_lookup(spark, LANG_ROWS, "lang_norm", ["lang_name", "lang_family"]),
    )


# (route, SQL predicate), first match wins after dead_letter
ROUTES = [
    ("server_error", "_grok_ok AND status_int >= 500"),
    ("client_error", "_grok_ok AND status_int >= 400"),
    ("writes", "_grok_ok AND method IN ('POST', 'PUT', 'DELETE')"),
    ("ok", "_grok_ok"),
    ("server_error", "level IN ('error', 'fatal')"),
]


def route_stage(df: DataFrame) -> DataFrame:
    """First-match-wins CASE cascade over the SQL predicates in
    ``ROUTES`` (VRL if/else chain -> Return semantics, reference
    src/compiler/expression/return.rs:42-48)."""
    return df.withColumn("route", route_column(ROUTES, "app_logs"))


def aggregate_stage(df: DataFrame) -> DataFrame:
    """Per-route tumbling 1h windows keyed by warc_ts; keys and
    aggregates are SQL text."""
    keys = ["route", "date_trunc('hour', warc_ts) AS hour"]
    aggs = [
        "count(1) AS page_count",
        "sum(coalesce(bytes_int, 0)) AS total_bytes",
        "count(DISTINCT url_host) AS distinct_hosts",
        "count(DISTINCT lang_family) AS distinct_families",
    ]
    return df.groupBy(*map(F.expr, keys)).agg(*map(F.expr, aggs))


def routed_stage(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """parse -> enrich -> route: the one flagship stage chain."""
    return route_stage(enrich_stage(spark, parse_stage(pages)))


def full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aggregate_stage(routed_stage(spark, load_pages(spark, sf_dir)))


def routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregate routed rows (for routed-row equality checks and
    the multi-sink write)."""
    return routed_stage(spark, load_pages(spark, sf_dir)).select(
        "doc_id", "url", "route", "status_int", "bytes_int",
        "method", "client_ip", "level", "lang_norm", "lang_family", "error",
    )


def write_sinks(df: DataFrame, out_dir: str) -> None:
    """Single-pass fan-out: one job, partitioned by route.

    At scale this is the one-write equivalent of Vector's multi-sink
    fan-out — each route lands in its own partition directory
    (Iceberg: PARTITIONED BY route), no per-sink re-scan."""
    df.write.mode("overwrite").partitionBy("route").parquet(out_dir)


# ---------------------------------------------------------------------
# Oracle SQL (DuckDB dialect) — independent re-implementation
# ---------------------------------------------------------------------

def _lang_values_sql() -> str:
    rows = ", ".join(f"('{k}', '{n}', '{f}')" for k, n, f in LANG_ROWS)
    return f"(VALUES {rows}) AS d(lang_key, lang_name, lang_family)"


def parsed_cte_sql() -> str:
    """CTE chain reproducing parse+enrich+route over the same derived
    pages, in DuckDB SQL. Group indices match ``ACCESS.group_index``."""
    g = ACCESS.group_index
    rx = ACCESS.regex.replace("'", "''")
    lvl = LOGFMT_FIELDS["level"].replace("'", "''")
    lby = LOGFMT_FIELDS["log_bytes"].replace("'", "''")
    return f"""
    WITH pages AS ({derive_pages_sql()}),
    parsed AS (
      SELECT *,
        regexp_matches(text, '{rx}') AS grok_ok,
        NOT regexp_matches(text, '{rx}')
          AND regexp_matches(text, '{lvl}') AS logfmt_ok,
        regexp_extract(text, '{rx}', {g('method')}) AS method,
        regexp_extract(text, '{rx}', {g('status')}) AS status,
        regexp_extract(text, '{rx}', {g('bytes')}) AS bytes,
        regexp_extract(text, '{lvl}', 1) AS level,
        regexp_extract(text, '{lby}', 1) AS log_bytes,
        regexp_extract(url, '^https://([^/]+)/', 1) AS url_host
      FROM pages
    ),
    coerced AS (
      SELECT *,
        CASE WHEN grok_ok THEN TRY_CAST(status AS BIGINT) END AS status_int,
        CASE WHEN grok_ok THEN TRY_CAST(bytes AS BIGINT)
             WHEN logfmt_ok THEN TRY_CAST(log_bytes AS BIGINT) END AS bytes_int,
        CASE WHEN NOT grok_ok AND NOT logfmt_ok
             THEN 'unable to parse input with grok pattern' END AS error
      FROM parsed
    ),
    enriched AS (
      SELECT c.*, d.lang_name, d.lang_family,
        CASE WHEN c.lang IS NULL OR trim(c.lang) IN ('', '-') THEN 'und'
             ELSE c.lang END AS lang_norm
      FROM coerced c
      LEFT JOIN {_lang_values_sql()}
        ON (CASE WHEN c.lang IS NULL OR trim(c.lang) IN ('', '-') THEN 'und'
                 ELSE c.lang END) = lang_key
    ),
    routed AS (
      SELECT *,
        CASE
          WHEN error IS NOT NULL THEN 'dead_letter'
          WHEN grok_ok AND status_int >= 500 THEN 'server_error'
          WHEN grok_ok AND status_int >= 400 THEN 'client_error'
          WHEN grok_ok AND method IN ('POST','PUT','DELETE') THEN 'writes'
          WHEN grok_ok THEN 'ok'
          WHEN level IN ('error','fatal') THEN 'server_error'
          ELSE 'app_logs'
        END AS route
      FROM enriched
    )
    """


def aggregate_oracle_sql() -> str:
    return parsed_cte_sql() + """
    SELECT route, date_trunc('hour', warc_ts) AS hour,
      COUNT(*) AS page_count,
      CAST(SUM(COALESCE(bytes_int, 0)) AS BIGINT) AS total_bytes,
      COUNT(DISTINCT url_host) AS distinct_hosts,
      COUNT(DISTINCT lang_family) AS distinct_families
    FROM routed
    GROUP BY route, hour
    """


def routed_oracle_sql() -> str:
    return parsed_cte_sql() + """
    SELECT doc_id, url, route, status_int, bytes_int,
      CASE WHEN grok_ok THEN method END AS method,
      CASE WHEN grok_ok THEN regexp_extract(text,
        '""" + ACCESS.regex.replace("'", "''") + f"""', {ACCESS.group_index('client_ip')}) END AS client_ip,
      CASE WHEN logfmt_ok THEN level END AS level,
      lang_norm, lang_family, error
    FROM routed
    """
