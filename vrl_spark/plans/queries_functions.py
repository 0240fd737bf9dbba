"""VRL stdlib function queries, each oracle-checked against DuckDB.

Inputs are the driver's ``events``/``documents`` tables; where a
function needs a specific input shape (ips, urls, kv lines) the input
is DERIVED deterministically inside the query, with the identical
derivation in the oracle SQL."""

from __future__ import annotations

from pyspark.sql import functions as F

from vrl_spark.functions import codec, coerce, collections as C, math_ip, strings
from vrl_spark.functions import parse as P
from vrl_spark.registry import register
from vrl_spark.operators.textstats import STOPWORDS

# ---------------------------------------------------------------------
# coercions (to_int/to_float/to_bool/to_string cascades)
# ---------------------------------------------------------------------

_COERCE_ORACLE = """
WITH derived AS (
  SELECT event_id, props,
    CASE event_id % 5 WHEN 0 THEN '123' WHEN 1 THEN ' 42 ' WHEN 2 THEN '1.5'
                      WHEN 3 THEN 'abc' ELSE NULL END AS s,
    CASE event_id % 4 WHEN 0 THEN 'yes' WHEN 1 THEN '0' WHEN 2 THEN 'banana'
                      ELSE NULL END AS b,
    value AS f
  FROM events
)
SELECT event_id,
  -- VRL to_int: null->0, int-string parses (NO whitespace tolerance,
  -- Rust str::parse), else error(NULL) — ' 42 ' is an error
  CASE WHEN s IS NULL THEN 0
       WHEN regexp_matches(s, '^[+-]?\\d+$') THEN TRY_CAST(s AS BIGINT)
       END AS int_val,
  -- VRL to_bool: parse_bool table (no trim), null->false, else error(NULL)
  CASE WHEN b IS NULL THEN false
       WHEN lower(b) IN ('true','t','yes','y') THEN true
       WHEN lower(b) IN ('false','f','no','n','0') THEN false
       WHEN regexp_matches(b, '^[+-]?\\d+$') THEN TRY_CAST(b AS BIGINT) != 0
       END AS bool_val,
  -- VRL to_float on double passthrough (NaN absent in events.value)
  f AS float_val,
  -- VRL to_string(float): trailing .0 normalized away
  regexp_replace(CAST(f AS VARCHAR), '\\.0$', '') AS str_val,
  -- parse_json field extraction on events.props
  TRY_CAST(props->>'$.k' AS BIGINT) AS k,
  -- tag_types_externally, static lane: the tagged struct serialized
  -- to JSON; the oracle CONSTRUCTS the byte-exact string
  '{"id":{"integer":' || event_id || '},"name":{"string":"ev-'
    || event_id || '"},"flag":{"boolean":'
    || CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END
    || '},"score":{"float":' || (event_id % 4)
    || '.5},"tags":[{"string":"a"},{"string":"b' || (event_id % 3)
    || '"}],"missing":null}' AS tagged_json,
  -- tag_types_externally, dynamic lane over a derived JSON doc
  '{"a":{"integer":' || (event_id % 50)
    || '},"b":[{"string":"x"},{"boolean":true}],"c":null}'
    AS tagged_dyn
FROM derived
"""


@register("vrl_coercions_json", _COERCE_ORACLE)
def vrl_coercions_json(spark, sf_dir):
    """Coercion cascade (to_int/to_bool/to_float/to_string) +
    parse_json field extraction + tag_types_externally (both lanes),
    one map-only select over events (merged r3 queries vrl_coercions +
    vrl_parse_json — the driver's correctness check covers at most 50
    registry entries)."""
    from vrl_spark.functions import misc

    ev = read_table(spark, sf_dir, "events", spread=True)
    e = F.col("event_id")
    s = (
        F.when(e % 5 == 0, "123").when(e % 5 == 1, " 42 ").when(e % 5 == 2, "1.5")
        .when(e % 5 == 3, "abc")
    )
    b = F.when(e % 4 == 0, "yes").when(e % 4 == 1, "0").when(e % 4 == 2, "banana")
    from pyspark.sql import types as T

    payload = F.struct(
        e.alias("id"),
        F.concat(F.lit("ev-"), e).alias("name"),
        (e % 2 == 0).alias("flag"),
        ((e % 4).cast("double") + 0.5).alias("score"),
        F.array(F.lit("a"), F.concat(F.lit("b"), e % 3)).alias("tags"),
        F.lit(None).cast("string").alias("missing"),
    )
    payload_t = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField("missing", T.StringType()),
        ]
    )
    dyn_doc = F.concat(
        F.lit('{"a":'), e % 50, F.lit(',"b":["x",true],"c":null}')
    )
    return ev.select(
        e.alias("event_id"),
        coerce.to_int(s, T.StringType()).alias("int_val"),
        coerce.to_bool(b, T.StringType()).alias("bool_val"),
        coerce.to_float(F.col("value"), T.DoubleType()).alias("float_val"),
        coerce.to_string(F.col("value"), T.DoubleType()).alias("str_val"),
        P.parse_json(F.col("props"), "k BIGINT").getField("k").alias("k"),
        F.to_json(
            misc.tag_types_externally(payload, payload_t),
            {"ignoreNullFields": "false"},
        ).alias("tagged_json"),
        misc.tag_types_externally_json(dyn_doc).alias("tagged_dyn"),
    )


# ---------------------------------------------------------------------
# parse_url on derived urls
# ---------------------------------------------------------------------

_URL_ORACLE = """
WITH u AS (
  SELECT event_id,
    'https://Host' || (event_id % 7) || '.Example.com' ||
      CASE WHEN event_id % 3 = 0 THEN ':8443' ELSE '' END ||
      '/p/' || (event_id % 100) ||
      CASE WHEN event_id % 2 = 0 THEN '?q=' || event_id ELSE '' END AS url
  FROM events
)
SELECT event_id,
  'https' AS scheme,
  lower('host' || (event_id % 7) || '.example.com') AS host,
  CASE WHEN event_id % 3 = 0 THEN 8443 END AS port,
  '/p/' || (event_id % 100) AS path,
  CASE WHEN event_id % 2 = 0 THEN 'q=' || event_id END AS query,
  -- parse_etld over an independent derived hostname rotation
  CASE event_id % 4 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com'
                    WHEN 2 THEN 'com.au' ELSE 'org' END AS etld,
  CASE event_id % 4
    WHEN 0 THEN 'example.co.uk'
    WHEN 1 THEN 'site' || event_id || '.com'
    WHEN 2 THEN 'host' || event_id || '.com.au'
    ELSE 'plain' || event_id || '.org' END AS etld_plus_one
FROM u
"""


@register("vrl_parse_url_etld", _URL_ORACLE)
def vrl_parse_url_etld(spark, sf_dir):
    """parse_url component extraction + parse_etld (public-suffix
    lowering), one map-only select over events (merged r3 queries
    vrl_parse_url + vrl_parse_etld)."""
    from vrl_spark.functions import presets

    ev = read_table(spark, sf_dir, "events", spread=True)
    e = F.col("event_id")
    url = F.concat(
        F.lit("https://Host"), (e % 7).cast("string"), F.lit(".Example.com"),
        F.when(e % 3 == 0, ":8443").otherwise(""),
        F.lit("/p/"), (e % 100).cast("string"),
        F.when(e % 2 == 0, F.concat(F.lit("?q="), e.cast("string"))).otherwise(""),
    )
    step = ev.select(e.alias("event_id"), url.alias("_url")).withColumn(
        "_p", P.parse_url(F.col("_url"))
    )
    parsed = F.col("_p")
    e2 = F.col("event_id")
    host = (
        F.when(e2 % 4 == 0, F.concat(F.lit("sub"), e2.cast("string"), F.lit(".example.co.uk")))
        .when(e2 % 4 == 1, F.concat(F.lit("www.site"), e2.cast("string"), F.lit(".com")))
        .when(e2 % 4 == 2, F.concat(F.lit("a.b.host"), e2.cast("string"), F.lit(".com.au")))
        .otherwise(F.concat(F.lit("plain"), e2.cast("string"), F.lit(".org")))
    )
    return step.select(
        "event_id",
        parsed.getField("scheme").alias("scheme"),
        parsed.getField("host").alias("host"),
        parsed.getField("port").alias("port"),
        parsed.getField("path").alias("path"),
        parsed.getField("query").alias("query"),
        presets.parse_etld(host).alias("etld"),
        presets.parse_etld(host, plus_parts=1).alias("etld_plus_one"),
    )


# ---------------------------------------------------------------------
# parse_key_value + parse_timestamp on the logfmt slice of pages
# ---------------------------------------------------------------------

from vrl_spark.sources.pages import derive_pages_sql  # noqa: E402
from vrl_spark.sources import literal_table, read_table

_KV_ORACLE = f"""
WITH pages AS ({derive_pages_sql()})
SELECT doc_id,
  regexp_extract(text, 'level=(\\w+)', 1) AS level,
  TRY_CAST(regexp_extract(text, 'bytes=(\\d+)', 1) AS BIGINT) AS bytes,
  regexp_extract(text, 'msg=(\\S+)', 1) AS msg,
  strptime(regexp_extract(text, 'ts=(\\S+)', 1), '%Y-%m-%dT%H:%M:%SZ') AS parsed_ts
FROM pages WHERE doc_id % 20 IN (16, 17, 18)
"""


@register("vrl_parse_kv_timestamp", _KV_ORACLE)
def vrl_parse_kv_timestamp(spark, sf_dir):
    from vrl_spark.plans.weblog import load_pages

    pages = load_pages(spark, sf_dir).where(F.col("doc_id") % 20 >= 16).where(
        F.col("doc_id") % 20 <= 18
    )
    kv = P.parse_key_value_native(F.col("text"))
    return pages.select(
        "doc_id",
        kv.getItem("level").alias("level"),
        kv.getItem("bytes").try_cast("long").alias("bytes"),
        kv.getItem("msg").alias("msg"),
        P.parse_timestamp(kv.getItem("ts"), "%Y-%m-%dT%H:%M:%SZ").alias("parsed_ts"),
    )


# ---------------------------------------------------------------------
# string functions over documents
# ---------------------------------------------------------------------

_STR_ORACLE = """
WITH t AS (
  SELECT doc_id, text, source,
    string_split(lower(trim(text)), ' ') AS toks
  FROM documents
)
SELECT doc_id,
  length(text) AS strlen,
  octet_length(CAST(text AS BLOB)) AS byte_len,
  CASE WHEN length(text) > 30 THEN substr(text, 1, 30) || '...'
       ELSE text END AS truncated,
  position('spark' IN text) > 0 AS has_spark,
  upper(substr(text, 1, 10)) AS upped,
  substr(text, length(text) - 9, 10) AS tail10,
  lower(replace(source, 'src', 'source_')) AS renamed_source,
  -- collection functions over the tokenized text
  len(toks) AS n_tokens,
  len(list_distinct(toks)) AS n_unique,
  array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS first3_sorted,
  len(list_filter(toks, x -> x = 'spark')) AS spark_count,
  array_to_string(toks[1:5], ' ') AS head5
FROM t
"""


@register("vrl_strings_collections", _STR_ORACLE)
def vrl_strings_collections(spark, sf_dir):
    """String function vector + collection functions over the
    tokenized text, one map-only select over documents (merged r3
    queries vrl_strings + vrl_collections)."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    t = F.col("text")
    toks = F.split(F.lower(F.trim(t)), " ")
    return docs.select(
        "doc_id",
        strings.strlen(t).alias("strlen"),
        strings.length_bytes(t).alias("byte_len"),
        strings.truncate(t, 30, "...").alias("truncated"),
        strings.contains(t, "spark").alias("has_spark"),
        strings.upcase(F.substring(t, 1, 10)).alias("upped"),
        strings.slice_(t, -10).alias("tail10"),
        strings.downcase(strings.replace(F.col("source"), "src", "source_")).alias(
            "renamed_source"
        ),
        F.size(toks).alias("n_tokens"),
        F.size(C.unique(toks)).alias("n_unique"),
        strings.join(F.slice(F.array_sort(C.unique(toks)), 1, 3), ",").alias(
            "first3_sorted"
        ),
        C.tally_value(toks, "spark").alias("spark_count"),
        strings.join(F.slice(toks, 1, 5), " ").alias("head5"),
    )


# ---------------------------------------------------------------------
# hashes & codecs over documents
# ---------------------------------------------------------------------

# Frozen compressed-literal vectors (the plaintext is _LZ_PLAINTEXT).
# A both-directions codec bug cannot round-trip green past these.
_LZ_PLAINTEXT = "vrl-spark codec oracle vector " * 4

# snappy_hex and lz4_hex are the bytes libsnappy and liblz4 (through
# pyarrow) write for the plaintext. The FROZEN zstd_hex literal pins
# the deterministic pure-Python zstd encoder's bytes: libzstd writes
# a different valid frame, so that encoder stays.
_LZ_VECTORS = {
    "snappy_hex": "787476726C2D737061726B20636F646563206F7261636C6520766563746F7220FE1E00661E00",
    "lz4_hex": "78000000FF0F76726C2D737061726B20636F646563206F7261636C6520766563746F72201E00425063746F7220",
    "zstd_hex": "28B52FFD2478350100E40176726C2D737061726B20636F646563206F7261636C6520766563746F722001005E9894139BB7E971",
}

_HASH_ORACLE = f"""
SELECT doc_id,
  md5(text) AS md5_hex,
  sha256(text) AS sha256_hex,
  lower(hex(CAST(source AS BLOB))) AS hex_enc,
  to_base64(CAST(source AS BLOB)) AS b64_enc,
  to_json(struct_pack(
    lang := lang,
    n_chars := n_chars,
    source := source
  )) AS doc_json,
  text AS snappy_roundtrip,
  text AS lz4_roundtrip,
  text AS zstd_roundtrip,
  {','.join(f"'{hx}' AS {name}" for name, hx in _LZ_VECTORS.items())}
FROM documents
"""


@register("vrl_hashes_encode", _HASH_ORACLE)
def vrl_hashes_encode(spark, sf_dir):
    """Hash/codec function vector + encode_json with BTreeMap
    (sorted-key) field order (reference src/stdlib/encode_json.rs +
    value.rs:34), one map-only select over documents (merged r3
    queries vrl_hashes_codecs + vrl_encode_json), plus the
    snappy/lz4/zstd codecs (libsnappy and liblz4 through pyarrow; zstd
    decoded by libzstd, encoded by the pure-Python zstdcodec): per-row
    round-trips and frozen compressed-literal vectors (constants ->
    1-row broadcast, not per-row)."""
    from vrl_spark.functions import formats as FM

    docs = read_table(spark, sf_dir, "documents", spread=True)
    t = F.col("text")
    return docs.select(
        "doc_id",
        codec.md5(t).alias("md5_hex"),
        codec.sha2(t, 256).alias("sha256_hex"),
        codec.encode_base16(F.col("source")).alias("hex_enc"),
        codec.encode_base64(F.col("source")).alias("b64_enc"),
        F.to_json(
            F.struct(F.col("lang"), F.col("n_chars"), F.col("source"))
        ).alias("doc_json"),
        FM.decode_snappy(FM.encode_snappy(t)).cast("string")
        .alias("snappy_roundtrip"),
        FM.decode_lz4(FM.encode_lz4(t), prepended_size=True)
        .cast("string").alias("lz4_roundtrip"),
        FM.decode_zstd(FM.encode_zstd(t)).cast("string")
        .alias("zstd_roundtrip"),
    ).crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.hex(FM.encode_snappy(F.lit(_LZ_PLAINTEXT)))
                .alias("snappy_hex"),
                F.hex(FM.encode_lz4(F.lit(_LZ_PLAINTEXT)))
                .alias("lz4_hex"),
                F.hex(FM.encode_zstd(F.lit(_LZ_PLAINTEXT)))
                .alias("zstd_hex"),
            )
        )
    )


# ---------------------------------------------------------------------
# math + ip functions on derived ips / event values
# ---------------------------------------------------------------------

_MATH_COLS_SQL = """
  o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ip_num,
  o1 || '.' || o2 || '.' || o3 || '.' || o4 AS ip_back,
  (o1 = 10) AS in_ten_slash_eight,
  abs(v - 50) AS abs_v,
  CAST(ceil(v) AS DOUBLE) AS ceil_v,
  CAST(floor(v) AS DOUBLE) AS floor_v,
  round(v, 1) AS round_v,
  CASE WHEN event_id % 7 != 0 THEN CAST(event_id AS BIGINT) % (event_id % 7) END AS mod_v
"""


def _math_ip_cols():
    """The r3 vrl_math_ip column vector (now part of
    vrl_math_ip_enrich)."""
    e = F.col("event_id")
    ip = F.concat_ws(
        ".",
        (e % 223 + 1).cast("string"), (e % 191).cast("string"),
        (e % 13).cast("string"), (e % 251).cast("string"),
    )
    v = F.col("value")
    return [
        math_ip.ip_aton(ip).alias("ip_num"),
        math_ip.ip_ntoa(math_ip.ip_aton(ip)).alias("ip_back"),
        math_ip.ip_cidr_contains("10.0.0.0/8", ip).alias("in_ten_slash_eight"),
        math_ip.abs_(v - 50).alias("abs_v"),
        math_ip.ceil_(v).alias("ceil_v"),
        math_ip.floor_(v).alias("floor_v"),
        math_ip.round_(v, 1).alias("round_v"),
        math_ip.mod_(e, e % 7).alias("mod_v"),
    ]


# ---------------------------------------------------------------------
# syslog lookups (generated from the same python tables as the impl)
# ---------------------------------------------------------------------


def _syslog_lookup_cols():
    """to_syslog_facility / to_syslog_severity columns over event_id
    (the r3 vrl_syslog query, now part of vrl_syslog_suite)."""
    e = F.col("event_id")
    level = (
        F.when(e % 4 == 0, "err").when(e % 4 == 1, "info")
        .when(e % 4 == 2, "debug").otherwise("warning")
    )
    return [
        math_ip.to_syslog_facility(e % 24).alias("facility"),
        math_ip.to_syslog_severity(level).alias("severity"),
    ]


def _syslog_lookup_sql() -> str:
    fac = " ".join(
        f"WHEN {i} THEN '{n}'" for i, n in enumerate(math_ip._FACILITIES)
    )
    sev = " ".join(
        f"WHEN '{n}' THEN {i}" for i, n in enumerate(math_ip._SEVERITIES)
    )
    return f"""
      CASE event_id % 24 {fac} END AS facility,
      CAST(CASE CASE event_id % 4 WHEN 0 THEN 'err' WHEN 1 THEN 'info'
                WHEN 2 THEN 'debug' ELSE 'warning' END {sev} END AS BIGINT) AS severity
    """


# ---------------------------------------------------------------------
# windowed aggregate over the events stream table
# ---------------------------------------------------------------------

_EVENTS_WINDOW_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
  COUNT(*) AS n,
  CAST(ROUND(SUM(value) * 100) AS BIGINT) AS value_x100,
  COUNT(DISTINCT user_id) AS users
FROM events
GROUP BY hour, event_type
"""


@register("events_windowed", _EVENTS_WINDOW_ORACLE)
def events_windowed(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value") * 100).cast("long").alias("value_x100"),
        F.countDistinct("user_id").alias("users"),
    )


# ---------------------------------------------------------------------
# parse_syslog on derived RFC5424 lines
# ---------------------------------------------------------------------

_SYSLOG_ORACLE = f"""
WITH lines AS (
  SELECT event_id,
    '<' || (event_id % 192) || '>1 ' ||
    strftime(ts, '%Y-%m-%dT%H:%M:%SZ') ||
    ' host' || (event_id % 50) || '.example.com app' || (event_id % 9) ||
    ' ' || (1000 + event_id % 9000) || ' ID' || (event_id % 100) ||
    ' - event ' || event_type || ' fired' AS line
  FROM events
)
SELECT event_id,
  regexp_extract(line, '^<(\\d+)>', 1) AS pri,
  regexp_extract(line, '^<\\d+>1 (\\S+) ', 1) AS timestamp,
  regexp_extract(line, '^<\\d+>1 \\S+ (\\S+) ', 1) AS hostname,
  regexp_extract(line, '^<\\d+>1 \\S+ \\S+ (\\S+) ', 1) AS appname,
  CAST(regexp_extract(line, '^<(\\d+)>', 1) AS BIGINT) // 8 AS facility_code,
  CAST(regexp_extract(line, '^<(\\d+)>', 1) AS BIGINT) % 8 AS severity_code,
  regexp_extract(line, ' - (.*)$', 1) AS message,
  {_syslog_lookup_sql()}
FROM lines
"""


@register("vrl_syslog_suite", _SYSLOG_ORACLE)
def vrl_syslog_suite(spark, sf_dir):
    """RFC5424 parse_syslog capture struct + to_syslog_facility /
    to_syslog_severity lookups, one map-only select over events
    (merged r3 queries vrl_parse_syslog + vrl_syslog)."""
    from vrl_spark.functions import presets

    ev = read_table(spark, sf_dir, "events")
    e = F.col("event_id")
    line = F.concat(
        F.lit("<"), (e % 192).cast("string"), F.lit(">1 "),
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit(" host"), (e % 50).cast("string"), F.lit(".example.com app"),
        (e % 9).cast("string"), F.lit(" "), (1000 + e % 9000).cast("string"),
        F.lit(" ID"), (e % 100).cast("string"),
        F.lit(" - event "), F.col("event_type"), F.lit(" fired"),
    )
    # Generate-barrier parse: each syslog regex runs at most once per
    # row no matter how many fields are projected below.
    step = presets.parse_syslog_stage(
        ev.select(e.alias("event_id"), line.alias("_line")), "_line", out="_p"
    )
    p = F.col("_p")
    return step.select(
        "event_id",
        F.regexp_extract(F.col("_line"), r"^<(\d+)>", 1).alias("pri"),
        p.getField("timestamp").alias("timestamp"),
        p.getField("hostname").alias("hostname"),
        p.getField("appname").alias("appname"),
        p.getField("facility_code").alias("facility_code"),
        p.getField("severity_code").alias("severity_code"),
        p.getField("message").alias("message"),
        *_syslog_lookup_cols(),
    )


# ---------------------------------------------------------------------
# parse_user_agent on a derived UA rotation
# ---------------------------------------------------------------------

_UA_SET = [
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
     "Chrome", "120.0.0.0", "Windows", "PC"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
     "Safari", "17.1", "macOS", "Mac"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
     "Firefox", "121.0", "Linux", None),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
     "Safari", "17.1", "iOS", "iPhone"),
    ("curl/8.4.0", "curl", "8.4.0", None, None),
    ("Googlebot/2.1 (+http://www.google.com/bot.html)", None, None, None, "Bot"),
]


def _ua_oracle() -> str:
    ua_case = " ".join(
        f"WHEN {i} THEN '{ua}'" for i, (ua, *_ ) in enumerate(_UA_SET)
    )
    def col_case(idx):
        parts = []
        for i, row in enumerate(_UA_SET):
            v = row[idx]
            parts.append(f"WHEN {i} THEN " + ("NULL" if v is None else f"'{v}'"))
        return " ".join(parts)
    return f"""
    SELECT event_id,
      CASE event_id % {len(_UA_SET)} {col_case(1)} END AS browser_family,
      CASE event_id % {len(_UA_SET)} {col_case(2)} END AS browser_version,
      CASE event_id % {len(_UA_SET)} {col_case(3)} END AS os_family,
      CASE event_id % {len(_UA_SET)} {col_case(4)} END AS device_family
    FROM events
    """


@register("vrl_parse_user_agent", _ua_oracle())
def vrl_parse_user_agent(spark, sf_dir):
    from vrl_spark.functions import presets

    ev = read_table(spark, sf_dir, "events")
    e = F.col("event_id")
    ua = None
    for i, (s, *_rest) in enumerate(_UA_SET):
        cond = e % len(_UA_SET) == i
        ua = F.when(cond, s) if ua is None else ua.when(cond, s)
    p = presets.parse_user_agent(ua)
    return ev.select(
        e.alias("event_id"),
        p.getField("browser_family").alias("browser_family"),
        p.getField("browser_version").alias("browser_version"),
        p.getField("os_family").alias("os_family"),
        p.getField("device_family").alias("device_family"),
    )


# ---------------------------------------------------------------------
# sessionization over the events stream (gap-based)
# ---------------------------------------------------------------------

_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
  MIN(ts) AS session_start, MAX(ts) AS session_end,
  COUNT(*) AS n_events,
  (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_sec
FROM sess GROUP BY user_id, session_seq
"""


@register("events_sessionize", _SESSION_ORACLE)
def events_sessionize(spark, sf_dir):
    from vrl_spark.operators.sessions import session_stats

    ev = read_table(spark, sf_dir, "events")
    return session_stats(ev, gap_minutes=30.0)


# ---------------------------------------------------------------------
# enrichment table find_table_row: case-insensitive + date-range,
# first-match-wins (VRL enrichment semantics)
# ---------------------------------------------------------------------

_ENRICH_DIM = [
    # (key, valid_from, valid_to, label, ord)
    ("error", "2024-01-01 00:00:00", "2024-01-03 23:59:59", "early-error", 1),
    ("error", "2024-01-02 00:00:00", "2025-12-31 23:59:59", "late-error", 2),
    ("purchase", "2024-01-01 00:00:00", "2025-12-31 23:59:59", "buy", 3),
    ("signup", "2024-01-01 00:00:00", "2024-01-31 23:59:59", "jan-signup", 4),
]


def _enrich_oracle() -> str:
    rows = ", ".join(
        f"('{k}', TIMESTAMP '{f}', TIMESTAMP '{t}', '{l}', {o})"
        for k, f, t, l, o in _ENRICH_DIM
    )
    return f"""
    WITH base AS (
      SELECT event_id,
        (event_id % 223 + 1) AS o1, (event_id % 191) AS o2,
        (event_id % 13) AS o3, (event_id % 251) AS o4,
        value AS v, event_type, ts
      FROM events
    ),
    d AS (SELECT * FROM (VALUES {rows}) AS t(k, vf, vt, label, ord)),
    j AS (
      SELECT e.event_id, d.label,
        row_number() OVER (PARTITION BY e.event_id
                           ORDER BY d.ord ASC NULLS LAST) AS rk
      FROM base e
      LEFT JOIN d ON upper(e.event_type) = upper(d.k)
                 AND e.ts BETWEEN d.vf AND d.vt
    ),
    m AS (
      SELECT base.*, j.label
      FROM base JOIN j ON base.event_id = j.event_id AND j.rk = 1
    )
    SELECT event_id, {_MATH_COLS_SQL}, label FROM m
    """


@register("vrl_math_ip_enrich", _enrich_oracle())
def vrl_math_ip_enrich(spark, sf_dir):
    """Math/IP function vector + enrichment-table find_table_row
    (case-insensitive key, date-range validity, first-match-wins) in
    one pass: the math columns are computed on the fact frame, then
    the broadcast enrichment join attaches the label — no extra
    shuffle versus either r3 query alone (merged r3 queries
    vrl_math_ip + vrl_enrichment_range)."""
    from vrl_spark.operators.enrichment import find_table_row

    ev = read_table(spark, sf_dir, "events", spread=True)
    facts = ev.select(
        "event_id", *_math_ip_cols(), "event_type", "ts"
    )
    dim = literal_table(
        spark, _ENRICH_DIM, ["k", "vf", "vt", "label", "ord"]
    ).select(
        "k",
        F.to_timestamp("vf").alias("vf"),
        F.to_timestamp("vt").alias("vt"),
        "label", "ord",
    )
    out = find_table_row(
        facts, dim, on=[("event_type", "k")], case_insensitive=True,
        date_range=("ts", "vf", "vt"), order_col="ord",
    )
    return out.select(
        "event_id",
        "ip_num", "ip_back", "in_ten_slash_eight",
        "abs_v", "ceil_v", "floor_v", "round_v", "mod_v",
        "label",
    )


# ---------------------------------------------------------------------
# crypto / mime / charset round-trips (encrypt, decrypt, encrypt_ip,
# decode_mime_q, encode/decode_charset). DuckDB has no AES, so the
# oracle checks DETERMINISTIC consequences: round-trips must return the
# plaintext, ciphertext length follows the PKCS7 formula, the
# encrypted IP round-trips, and the mime/charset decodes hit fixed
# expected strings. The Spark side really encrypts/decodes — a broken
# kernel breaks the value match.
# ---------------------------------------------------------------------

_MIME_SET = [
    ("=?utf-8?b?SGVsbG8sIFdvcmxkIQ==?=", "Hello, World!"),
    ("=?utf-8?q?hello=5Fworld?=", "hello_world"),
    ("Subject: =?utf-8?b?Zm9v?= bar", "Subject: foo bar"),
    ("plain text", "plain text"),
]
_HANGUL = ["안녕하세요", "한국어", "테스트"]

# Frozen ciphertext vectors: one fixed (plaintext, key, iv) per
# algorithm family, hex computed ONCE and embedded as constants — a
# kernel that regresses the same way in encrypt AND decrypt still
# round-trips, but cannot reproduce these literals. (The kernels
# themselves are byte-exact vs the reference's encrypt.rs vectors in
# tests/test_crypto.py; these constants freeze that state.)
_CT_PLAINTEXT = "vrl-spark crypto oracle vector"
_CT_VECTORS = {
    "ct_cbc_hex": ("AES-256-CBC-PKCS7",
        "D79438946044F21F653D613BC353CA023A9B67AD0F44C768B123344DB4095EDD"),
    "ct_ctrle_hex": ("AES-256-CTR",
        "CA2E8CC99D460E2166CAD3FA35214699DE97A1B6FD04B9BC2FE15F9EAE00"),
    "ct_cfb_hex": ("AES-256-CFB",
        "CA2E8CC99D460E2166CAD3FA352146997BC0EB1C43A702A072A101078034"),
    "ct_chacha_hex": ("CHACHA20-POLY1305",
        "0F70FD81BB39AF69B973B60A95805466747368F4C5FCBD90270623FF0026D2CEA58EB8C0DACA81BB07F4BB23AAEB"),
    "ct_siv_hex": ("AES-256-SIV",
        "41C6313568300E8DE19E53E0642A3AA851F80A69589DB96ECBB619B0CDB846FD0D6FFE4A099333F2679E7EF1713C"),
    # extended-nonce pair: these two hex strings are the REFERENCE'S
    # OWN test vectors (encrypt.rs:508-517, plaintext
    # "morethan1blockofdata"), not self-derived constants
    "ct_xchacha_hex": ("XCHACHA20-POLY1305",
        "84D0533C5C88013961D3A137DFC0E0D368BC6E2D9885401908C56B691810DD21542391CF"),
    "ct_xsalsa_hex": ("XSALSA20-POLY1305",
        "28C8B8881DC0C046A5C76EC8054209CE69528FAFC7A8EB2E952814E843805B7785F38D6E"),
}
_X_PLAINTEXT = "morethan1blockofdata"  # the reference vectors' input
_CT_IP_ENC = "5f4:248:d921:d0d:ad4a:7f5:c5af:e994"  # ipcrypt-det of 192.168.10.32

_CRYPTO_ORACLE = f"""
WITH derived AS (
  SELECT event_id,
    'event ' || event_type || ' #' || CAST(event_id AS VARCHAR) AS line,
    '10.' || CAST(event_id % 200 AS VARCHAR) || '.' ||
      CAST((event_id // 200) % 200 AS VARCHAR) || '.' ||
      CAST(event_id % 250 AS VARCHAR) AS ip
  FROM events
)
SELECT event_id,
  line AS aes_roundtrip,
  (length(line) // 16 + 1) * 16 AS ct_len,
  line AS chacha_roundtrip,
  ip AS ip_roundtrip,
  CASE event_id % 4 {' '.join(f"WHEN {i} THEN '{d}'" for i, (_, d) in enumerate(_MIME_SET))} END AS mime_decoded,
  CASE event_id % 3 {' '.join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(_HANGUL))} END AS charset_roundtrip,
  {','.join(f"'{hexv}' AS {name}" for name, (_, hexv) in _CT_VECTORS.items())},
  '{_CT_IP_ENC}' AS ct_ip_enc
FROM derived
"""


@register("vrl_crypto_codecs", _CRYPTO_ORACLE)
def vrl_crypto_codecs(spark, sf_dir):
    from vrl_spark.functions import crypto

    key32 = b"32_bytes_" + b"x" * 23
    key16 = b"16_bytes_" + b"x" * 7
    iv16 = b"16_bytes_" + b"x" * 7
    iv12 = b"12_bytes_" + b"x" * 3

    ev = read_table(spark, sf_dir, "events", spread=True)
    e = F.col("event_id")
    line = F.concat(
        F.lit("event "), F.col("event_type"), F.lit(" #"), e.cast("string")
    )
    ip = F.concat(
        F.lit("10."), (e % 200).cast("string"), F.lit("."),
        ((e / 200).cast("long") % 200).cast("string"), F.lit("."),
        (e % 250).cast("string"),
    )
    mime_src = F.element_at(
        F.array(*[F.lit(s) for s, _ in _MIME_SET]), (e % 4).cast("int") + 1
    )
    hangul = F.element_at(
        F.array(*[F.lit(t) for t in _HANGUL]), (e % 3).cast("int") + 1
    )
    aes_ct = crypto.encrypt(line, "AES-256-CBC-PKCS7", key32, iv16)
    return ev.select(
        "event_id",
        crypto.decrypt(aes_ct, "AES-256-CBC-PKCS7", key32, iv16)
        .cast("string").alias("aes_roundtrip"),
        F.length(aes_ct).cast("long").alias("ct_len"),
        crypto.decrypt(
            crypto.encrypt(line, "CHACHA20-POLY1305", key32, iv12),
            "CHACHA20-POLY1305", key32, iv12,
        ).cast("string").alias("chacha_roundtrip"),
        crypto.decrypt_ip(
            crypto.encrypt_ip(ip, key16, "aes128"), key16, "aes128"
        ).alias("ip_roundtrip"),
        codec.decode_mime_q(mime_src).alias("mime_decoded"),
        codec.decode_charset(
            codec.encode_charset(hangul, "euc-kr"), "euc-kr"
        ).alias("charset_roundtrip"),
    ).crossJoin(
        # the vector inputs are CONSTANTS: encrypt them ONCE on a
        # one-row frame and broadcast, instead of 6 pandas-UDF passes
        # over every row (per-row evaluation of a constant tripled the
        # query's wall time for zero extra checking power)
        F.broadcast(
            spark.range(1).select(
                *[
                    F.hex(
                        crypto.encrypt(
                            F.lit(_X_PLAINTEXT if alg.startswith("X")
                                  else _CT_PLAINTEXT),
                            alg,
                            (key32 + key32) if alg.endswith("-SIV") else key32,
                            b"24_bytes_" + b"x" * 15 if alg.startswith("X")
                            else iv12 if alg == "CHACHA20-POLY1305"
                            else iv16,
                        )
                    ).alias(name)
                    for name, (alg, _) in _CT_VECTORS.items()
                ],
                crypto.encrypt_ip(F.lit("192.168.10.32"), key16, "aes128")
                .alias("ct_ip_enc"),
            )
        )
    )
