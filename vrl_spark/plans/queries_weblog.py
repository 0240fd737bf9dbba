"""Registry entries for the flagship weblog pipeline stages."""

from __future__ import annotations

from pyspark.sql import functions as F

from vrl_spark.plans import weblog
from vrl_spark.sources.pages import derive_pages_sql
from vrl_spark.registry import register


@register("pipeline_aggregate", weblog.aggregate_oracle_sql())
def pipeline_aggregate(spark, sf_dir):
    """Full parse->enrich->route->aggregate (the flagship)."""
    return weblog.full_pipeline(spark, sf_dir)


@register("pipeline_routed_rows", weblog.routed_oracle_sql())
def pipeline_routed_rows(spark, sf_dir):
    """Routed-row equality: every row with its route + parsed fields."""
    return weblog.routed_rows(spark, sf_dir)


@register(
    "pipeline_route_counts",
    weblog.parsed_cte_sql()
    + "SELECT route, COUNT(*) AS n FROM routed GROUP BY route",
)
def pipeline_route_counts(spark, sf_dir):
    """Per-sink counts (the north rule's per-sink aggregate equality)."""
    df = weblog.routed_stage(spark, weblog.load_pages(spark, sf_dir))
    return df.groupBy("route").agg(F.count(F.lit(1)).alias("n"))


@register(
    "pipeline_host_rollup_salted",
    weblog.parsed_cte_sql()
    + """SELECT url_host AS host, COUNT(*) AS pages,
         CAST(SUM(COALESCE(bytes_int, 0)) AS BIGINT) AS bytes
       FROM routed GROUP BY url_host""",
)
def pipeline_host_rollup_salted(spark, sf_dir):
    """Per-host rollup through the SALTED two-phase aggregation —
    the oracle is a plain GROUP BY, proving salting only reshapes the
    shuffle, never the result. url_host is the skewed key (40% of
    rows on host0)."""
    from vrl_spark.operators.skew import salted_agg

    df = weblog.load_pages(spark, sf_dir)
    df = weblog.parse_stage(df)
    df = df.withColumn("bytes_or_0", F.coalesce(F.col("bytes_int"), F.lit(0)))
    out = salted_agg(
        df.select(F.col("url_host").alias("host"), "bytes_or_0"),
        ["host"],
        {"pages": ("count", "*"), "bytes": ("sum", "bytes_or_0")},
        buckets=16,
    )
    return out


# ---------------------------------------------------------------------
# the same pipeline built through the Pipeline builder API — proves the
# user-facing "VRL program" surface produces oracle-correct plans
# ---------------------------------------------------------------------

_BUILDER_ORACLE = f"""
WITH pages AS ({derive_pages_sql()}),
parsed AS (
  SELECT doc_id,
    regexp_matches(text, '^(?:{weblog.ACCESS.regex.replace("'", "''")})$') AS ok,
    TRY_CAST(CASE WHEN regexp_matches(text, '^(?:{weblog.ACCESS.regex.replace("'", "''")})$')
      THEN regexp_extract(text, '{weblog.ACCESS.regex.replace("'", "''")}', {weblog.ACCESS.group_index('status')})
      END AS BIGINT) AS status_int,
    CASE WHEN regexp_matches(text, '^(?:{weblog.ACCESS.regex.replace("'", "''")})$')
      THEN regexp_extract(text, '{weblog.ACCESS.regex.replace("'", "''")}', {weblog.ACCESS.group_index('method')})
      END AS method
  FROM pages
)
SELECT route, COUNT(*) AS n FROM (
  SELECT CASE
    WHEN NOT ok THEN 'dead_letter'
    WHEN status_int >= 500 THEN 'server_error'
    WHEN status_int >= 400 THEN 'client_error'
    WHEN method IN ('POST','PUT','DELETE') THEN 'writes'
    ELSE 'ok' END AS route
  FROM parsed
) GROUP BY route
"""


@register("pipeline_via_builder", _BUILDER_ORACLE)
def pipeline_via_builder(spark, sf_dir):
    from vrl_spark.pipeline import Pipeline

    p = (
        Pipeline("weblog_builder")
        .parse_grok("text", weblog.ACCESS_PATTERN, anchored=True)
        .coerce("status", "int", dest="status_coerced")
        .route(
            [
                ("server_error", F.col("status_coerced") >= 500),
                ("client_error", F.col("status_coerced") >= 400),
                ("writes", F.col("method").isin("POST", "PUT", "DELETE")),
            ],
            otherwise="ok",
        )
    )
    out = p.apply(weblog.load_pages(spark, sf_dir))
    return out.groupBy("route").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------
# checkpoint lineage manifest: per-(route, hour) rows/bytes/fingerprint
# ---------------------------------------------------------------------
# The exact aggregation CheckpointedRun commits per partition
# (operators/checkpoint.py — north_rule "per-partition lineage +
# metrics"). The fingerprint is a MODULAR SUM of per-row md5-derived
# 60-bit values (multiset hash): order-independent, duplicate-
# sensitive, so two runs agree iff they routed the same row multiset
# — the resumability certificate.

_LINEAGE_ORACLE = weblog.parsed_cte_sql() + """
SELECT route, date_trunc('hour', warc_ts) AS hour,
  COUNT(*) AS n_rows,
  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
  -- multiset fingerprint: modular SUM of per-row 60-bit md5 hashes
  -- (a bit_xor fold would cancel duplicated row pairs)
  CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(31),
    COALESCE(CAST(doc_id AS VARCHAR), chr(0)),
    COALESCE(url, chr(0)),
    COALESCE(route, chr(0)),
    COALESCE(CAST(status_int AS VARCHAR), chr(0)),
    COALESCE(CAST(bytes_int AS VARCHAR), chr(0)),
    COALESCE(error, chr(0)))), 1, 15)) AS BIGINT) AS HUGEINT))
    % 9223372036854775783 AS BIGINT) AS fingerprint
FROM routed
GROUP BY route, hour
"""


@register("pipeline_lineage_metrics", _LINEAGE_ORACLE)
def pipeline_lineage_metrics(spark, sf_dir):
    """Checkpoint-manifest lineage metrics over the routed pipeline:
    per (route, hour) partition — row count, payload bytes, and the
    order-independent content fingerprint used for idempotent-resume
    verification (operators/checkpoint.py:lineage_metrics)."""
    from vrl_spark.operators.checkpoint import lineage_metrics

    df = weblog.routed_stage(spark, weblog.load_pages(spark, sf_dir))
    return lineage_metrics(
        df,
        [F.col("route"), F.date_trunc("hour", F.col("warc_ts")).alias("hour")],
        F.col("text"),
        [F.col(c) for c in
         ("doc_id", "url", "route", "status_int", "bytes_int", "error")],
        # the oracle pins the portable md5 engine; production default
        # is JVM-native xxh64 (see lineage_fingerprint)
        engine="md5",
    )


# ---------------------------------------------------------------------
# as-of enrichment: latest config version at-or-before each event
# ---------------------------------------------------------------------
# dim = 10 config versions per user (deterministic: version k goes
# live at 2024-01-01 + k*3d + (user_id%7)h). Verified against
# DuckDB's NATIVE ASOF LEFT JOIN — an independent engine
# implementation of the semantics, not a replication of ours.

_ASOF_ORACLE = """
WITH dim AS (
  SELECT u.user_id, g.k,
    TIMESTAMP '2024-01-01 00:00:00'
      + INTERVAL 1 SECOND * (g.k * 259200 + (u.user_id % 7) * 3600) AS vts,
    (u.user_id * 7 + g.k) % 5 AS tier
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT UNNEST(generate_series(0, 9)) AS k) g
)
SELECT e.event_id, e.user_id, e.ts, d.vts AS matched_ts, d.tier
FROM events e
ASOF LEFT JOIN dim d ON e.user_id = d.user_id AND e.ts >= d.vts
"""


@register("events_asof", _ASOF_ORACLE)
def events_asof(spark, sf_dir):
    """Nearest-predecessor join via single-shuffle carry-forward union
    (operators/asof.py) — O(L+R), no range-join row explosion."""
    from vrl_spark.operators.asof import asof_join

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    users = ev.select("user_id").distinct()
    u = F.col("user_id")
    dim = users.select(
        u, F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k")
    ).select(
        u,
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("k") * 259200 + (u % 7) * 3600
        ).alias("vts"),
        ((u * 7 + F.col("k")) % 5).alias("tier"),
    )
    return asof_join(
        ev, dim, on=["user_id"], left_ts="ts", right_ts="vts"
    ).select("event_id", "user_id", "ts", "matched_ts", "tier")


# ---------------------------------------------------------------------
# funnel analysis: view -> click -> purchase
# ---------------------------------------------------------------------
# Greedy earliest-match subsequence per user; the oracle chains
# list_position over the per-user ordered type list (equivalent to the
# greedy fold for both existence and earliest positions).

_FUNNEL_ORACLE = """
WITH l AS (
  SELECT user_id, list(event_type ORDER BY ts, event_type) AS seq
  FROM events WHERE ts < TIMESTAMP '2024-01-04 00:00:00'
  GROUP BY user_id
),
p AS (
  -- DuckDB list_position returns 0 (not NULL) when absent: NULLIF
  SELECT user_id,
    NULLIF(list_position(seq, 'view'), 0) AS p1,
    seq
  FROM l
),
q AS (
  SELECT user_id, p1,
    CASE WHEN p1 IS NOT NULL THEN
      p1 + NULLIF(list_position(seq[p1 + 1 :], 'click'), 0)
    END AS p2,
    seq
  FROM p
),
m AS (
  SELECT user_id,
    CASE
      WHEN p2 IS NOT NULL
           AND NULLIF(list_position(seq[p2 + 1 :], 'purchase'), 0)
               IS NOT NULL THEN 3
      WHEN p2 IS NOT NULL THEN 2
      WHEN p1 IS NOT NULL THEN 1
      ELSE 0 END AS max_step
  FROM q
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step_name,
         CAST(COUNT(*) FILTER (max_step >= 1) AS BIGINT) AS n_users FROM m
  UNION ALL
  SELECT 2, 'click', COUNT(*) FILTER (max_step >= 2) FROM m
  UNION ALL
  SELECT 3, 'purchase', COUNT(*) FILTER (max_step >= 3) FROM m
) WHERE n_users > 0
"""


@register("events_funnel", _FUNNEL_ORACLE)
def events_funnel(spark, sf_dir):
    from vrl_spark.operators.funnel import funnel

    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts") < "2024-01-04")
        .select("user_id", "ts", "event_type")
    )
    return funnel(ev, ["view", "click", "purchase"])


# ---------------------------------------------------------------------
# log-template mining over the weblog lines
# ---------------------------------------------------------------------

from vrl_spark.operators.textstats import TEMPLATE_MASKS  # noqa: E402
from vrl_spark.sources import read_table


def _template_oracle() -> str:
    expr = "text"
    for pat, token in TEMPLATE_MASKS:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{token}', 'g')"
    return f"""
WITH pages AS ({derive_pages_sql()}),
t AS (SELECT {expr} AS template, text FROM pages)
SELECT template, COUNT(*) AS n_lines, MIN(text) AS example
FROM t GROUP BY template HAVING COUNT(*) >= 2
"""


@register("pipeline_log_templates", _template_oracle())
def pipeline_log_templates(spark, sf_dir):
    from vrl_spark.operators.textstats import mine_templates
    from vrl_spark.plans import weblog

    pages = weblog.load_pages(spark, sf_dir).select("text")
    return mine_templates(pages, "text", min_count=2)


# ---------------------------------------------------------------------
# trailing-window error-rate anomaly detection
# ---------------------------------------------------------------------
# Floats cross engines: rate is an exact rational, trailing mean/std
# run over a deterministic ROWS frame in bucket order, outputs round
# at x1e6.

_ANOMALY_ORACLE = """
WITH b AS (
  SELECT user_id AS entity, date_trunc('day', ts) AS bucket,
    COUNT(*) AS n_events,
    COUNT(*) FILTER (event_type = 'error') AS n_errors
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT entity, bucket, n_events, n_errors,
    CAST(n_errors AS DOUBLE) / n_events AS err_rate
  FROM b
),
w AS (
  SELECT entity, bucket, n_events, n_errors, err_rate,
    AVG(err_rate) OVER f AS trail_mean,
    STDDEV(err_rate) OVER f AS trail_std,
    COUNT(*) OVER f AS frame_n
  FROM r
  WINDOW f AS (PARTITION BY entity ORDER BY bucket
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
)
SELECT entity, bucket, CAST(n_events AS BIGINT) AS n_events,
  CAST(n_errors AS BIGINT) AS n_errors,
  CAST(ROUND(err_rate * 1000000) AS BIGINT) AS err_rate_x1m,
  CAST(ROUND(CASE WHEN frame_n = 3 AND trail_std > 0
    THEN (err_rate - trail_mean) / trail_std END * 1000000) AS BIGINT)
    AS z_x1m,
  -- decide on the ROUNDED z so an engine-side last-ulp stddev
  -- difference can't flip a boundary case; a zero-spread baseline
  -- followed by any deviation is anomalous (infinite z)
  COALESCE(abs(ROUND(CASE WHEN frame_n = 3 AND trail_std > 0
    THEN (err_rate - trail_mean) / trail_std END * 1000000)) > 2000000,
    FALSE)
  OR COALESCE(frame_n = 3 AND trail_std = 0 AND err_rate != trail_mean,
              FALSE) AS is_anomaly
FROM w
"""


@register("events_error_anomalies", _ANOMALY_ORACLE)
def events_error_anomalies(spark, sf_dir):
    from vrl_spark.operators.anomaly import error_rate_anomalies

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    out = error_rate_anomalies(ev)
    zr = F.round(F.col("z") * 1000000).cast("long")
    return out.select(
        "entity", "bucket", "n_events", "n_errors",
        F.round(F.col("err_rate") * 1000000).cast("long").alias(
            "err_rate_x1m"
        ),
        zr.alias("z_x1m"),
        # threshold on the rounded z (cross-engine boundary-stable),
        # plus the zero-spread flat-break verdict (z is NULL there)
        (
            F.coalesce(F.abs(zr) > 2000000, F.lit(False))
            | (F.col("is_anomaly") & F.col("z").isNull())
        ).alias("is_anomaly"),
    )
