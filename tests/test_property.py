"""Property-based tests (SURVEY §5 level 3 — the reference quickchecks
path insert/get/remove roundtrips, src/value/value.rs:280-306).

Each hypothesis example packs a BATCH of values into one DataFrame
pass to keep Spark-job count low."""

from __future__ import annotations

import json
import os
from dataclasses import replace

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from vrl_spark.functions import codec, collections as C, misc, strings
from vrl_spark.functions import parse as P
from vrl_spark.plans.weblog import LANG_ROWS

SETTINGS = dict(max_examples=15, deadline=None)

safe_key = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
)
safe_val = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789 .:/-", min_size=0, max_size=20
)
any_text = st.text(min_size=0, max_size=50)


@settings(**SETTINGS)
@given(st.dictionaries(safe_key, safe_val, min_size=1, max_size=6))
def test_logfmt_encode_parse_roundtrip(spark, d):
    df = spark.createDataFrame([(d,)], "m map<string,string>")
    out = df.select(
        P.parse_key_value_vectorized(codec.encode_logfmt(F.col("m"))).alias("r")
    ).collect()[0]["r"]
    # logfmt encodes empty values as bare `k=` which parses back as ""
    assert out == {k: v for k, v in d.items()}


@settings(**SETTINGS)
@given(st.lists(safe_val | st.text(alphabet='abc,"x', max_size=10), min_size=1, max_size=6))
def test_csv_encode_parse_roundtrip(spark, vals):
    df = spark.createDataFrame([(vals,)], "a array<string>")
    out = df.select(
        P.parse_csv(misc.encode_csv(F.col("a"))).alias("r")
    ).collect()[0]["r"]
    assert out == vals


@settings(**SETTINGS)
@given(st.lists(any_text, min_size=1, max_size=8))
def test_base64_roundtrip(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    out = df.select(
        codec.decode_base64(codec.encode_base64(F.col("s"))).alias("r")
    ).collect()
    assert [r["r"] for r in out] == vals


@settings(**SETTINGS)
@given(
    st.text(alphabet="abcdefgh ", min_size=0, max_size=20),
    st.integers(-25, 25),
    st.integers(-25, 25) | st.none(),
)
def test_slice_matches_python(spark, s, start, end):
    got = spark.range(1).select(
        strings.slice_(F.lit(s), start, end).alias("v")
    ).collect()[0]["v"]
    want = s[start:end] if end is not None else s[start:]
    # python clamps; slice_ clamps the start only to >=0 like VRL
    assert got == want


@settings(**SETTINGS)
@given(st.dictionaries(safe_key, safe_val, min_size=1, max_size=5), safe_key, safe_val)
def test_map_set_get_remove_roundtrip(spark, d, k, v):
    df = spark.createDataFrame([(d,)], "m map<string,string>")
    row = df.select(
        C.get(C.set_(F.col("m"), k, F.lit(v)), k).alias("got"),
        C.exists(C.remove(C.set_(F.col("m"), k, F.lit(v)), k), k).alias("still"),
        F.size(C.remove(F.col("m"), k)).alias("size_after_rm"),
    ).collect()[0]
    assert row["got"] == v                 # set then get returns the value
    assert row["still"] is False           # set then remove: gone
    assert row["size_after_rm"] == len(d) - (1 if k in d else 0)


@settings(**SETTINGS)
@given(st.lists(st.text(alphabet="abcd", min_size=1, max_size=5), min_size=0, max_size=10))
def test_unique_preserves_first_occurrence(spark, vals):
    df = spark.createDataFrame([(vals,)], "a array<string>")
    got = df.select(C.unique(F.col("a")).alias("u")).collect()[0]["u"]
    seen, want = set(), []
    for v in vals:
        if v not in seen:
            seen.add(v)
            want.append(v)
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.binary(max_size=40), min_size=1, max_size=10))
def test_lossy_decode_matches_cpython(spark, blobs):
    from vrl_spark.operators.extract import lossy_utf8_decode

    df = spark.createDataFrame([(b,) for b in blobs], "b binary")
    got = [r["s"] for r in df.select(lossy_utf8_decode(F.col("b")).alias("s")).collect()]
    want = [b.decode("utf-8", errors="replace") for b in blobs]
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    st.lists(  # a corpus of small docs over a tiny vocab so shared
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12),
        min_size=1, max_size=8,
    ),
    st.integers(min_value=2, max_value=4),  # ngram
)
def test_span_dedup_matches_bruteforce(spark, corpora, ngram):
    """span_dedup == the obvious O(n^2) Python reference on random
    tiny-vocab corpora (tiny vocab forces real cross-doc gram
    collisions, boundary overlaps, and whole-doc covers)."""
    from vrl_spark.operators.textstats import span_dedup

    docs = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]

    # reference implementation
    def ref():
        toks = {i: [t for t in txt.split() if t] for i, txt in docs}
        gram_docs: dict[tuple, set] = {}
        for i, ts in toks.items():
            for s in range(len(ts) - ngram + 1):
                gram_docs.setdefault(tuple(ts[s:s + ngram]), set()).add(i)
        flagged = {g for g, ds in gram_docs.items() if len(ds) >= 2}
        out = {}
        for i, ts in toks.items():
            cov = set()
            for s in range(len(ts) - ngram + 1):
                if tuple(ts[s:s + ngram]) in flagged:
                    cov.update(range(s, s + ngram))
            kept = [t for p, t in enumerate(ts) if p not in cov]
            out[i] = (" ".join(kept), len(ts) - len(kept))
        return out

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["span_text"], r["n_removed"])
        for r in span_dedup(
            df, "text", "doc_id", ngram=ngram, min_docs=2
        ).collect()
    }
    assert got == ref()


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.one_of(st.none(), st.text(alphabet="abc \x00", max_size=6)),
        ),
        min_size=1, max_size=12,
    )
)
def test_lineage_fingerprint_matches_hashlib(spark, rows):
    """The md5-engine multiset fingerprint == an independent pure-
    Python reference (hashlib md5, 15-hex prefix, sum mod prime) —
    the same arithmetic the DuckDB oracle performs."""
    import hashlib

    from vrl_spark.operators.checkpoint import _FP_PRIME, lineage_metrics

    def ref():
        total = 0
        for i, s in rows:
            parts = [str(i), s if s is not None else "\x00"]
            h = hashlib.md5("\x1f".join(parts).encode()).hexdigest()
            total += int(h[:15], 16)
        return total % _FP_PRIME

    df = spark.createDataFrame(rows, "i bigint, s string")
    got = lineage_metrics(
        df.withColumn("g", F.lit(1)), [F.col("g")],
        F.coalesce(F.col("s"), F.lit("")),
        [F.col("i"), F.col("s")], engine="md5",
    ).collect()[0]
    assert got["fingerprint"] == ref()
    assert got["n_rows"] == len(rows)


# --- grok_chain vs the per-field native lowering ----------------------

# A third rule that overlaps the logfmt one, so "first match wins" is
# exercised on rows two patterns accept.
_TS_REST = "ts=%{NOTSPACE:log_ts} %{GREEDYDATA:rest}"

# Lines carry the one-pass rewrite's reserved bytes U+0001/U+0002 and
# line terminators: a row with either byte takes the chain's native
# branch, and an anchored pattern ends in ``\\z``, so a trailing
# ``\\n`` is not a match.
_printable = st.characters(blacklist_categories=("Cc", "Cs", "Zl", "Zp")) | st.sampled_from(
    "\x01\x02\n\r\u2028"
)
_token = st.text(alphabet=_printable, min_size=1, max_size=10)
_word = st.text(alphabet="abcdefghijXYZ0123456789_", min_size=1, max_size=8)
_garbage = st.text(alphabet=_printable, max_size=40)
_access = st.builds(
    '{}.{}.{}.{} - {} [{}] "{} /{} HTTP/1.1" {} {}'.format,
    *[st.integers(0, 999)] * 4,
    st.text(alphabet="abcXYZ019._-", min_size=1, max_size=8),
    st.sampled_from(["10/Oct/2020:13:55:36 +0000", "1/Jan/1999:00:00:00 -0700"]),
    _word,
    st.text(alphabet="abc/.-_019", max_size=10),
    st.integers(0, 999),
    st.integers(0, 10**6),
)
_logfmt = st.builds(
    "ts={} level={} host={} bytes={} msg={}".format,
    _token, _word, _token, st.integers(0, 10**6), _token,
)
_GOLDEN = [
    c["object"]["line"]
    for c in json.load(
        open(os.path.join(os.path.dirname(__file__), "golden_fixtures.json"))
    )["cases"]
]
_line = st.one_of(
    _access,
    _logfmt,
    _garbage,
    st.builds("{}{}".format, _garbage, _access | _logfmt),  # unanchored-only hits
    st.builds("{}{}".format, _access | _logfmt, _garbage),
    st.builds("\x01garbled {}".format, _garbage),  # the corpus's garbage form
    st.builds("\x02{}".format, _access | _logfmt | _garbage),  # leads with the marker
    st.builds("{}\n".format, _access | _logfmt),
    st.sampled_from(_GOLDEN),
    st.none(),
)


def _assert_chain_is_native_first_match(spark, lines, anchored):
    """Pattern i's chain captures == its ``parse_regex_native`` struct
    (rlike + per-field regexp_extract, anchored with ``\\z``) when i is
    the first pattern whose rlike matches, else NULL."""
    from vrl_spark.grok import compile_grok
    from vrl_spark.plans.weblog import ACCESS, LOGFMT

    compiled = [ACCESS, LOGFMT, compile_grok(_TS_REST)]
    natives = [replace(c, regex=f"^(?:{c.regex})\\z") if anchored else c for c in compiled]
    outs = [f"g{i}" for i in range(len(compiled))]
    df = spark.createDataFrame(list(enumerate(lines)), "i int, s string")
    s = F.col("s")
    rows = (
        P.grok_chain(df, outs, "s", compiled, anchored=anchored)
        .select(
            "i", *outs,
            *[s.rlike(n.regex).alias(f"m{k}") for k, n in enumerate(natives)],
            *[P.parse_regex_native(s, n).alias(f"n{k}") for k, n in enumerate(natives)],
        )
        .orderBy("i")
        .collect()
    )
    for r in rows:
        first = next((k for k in range(len(compiled)) if r[f"m{k}"]), None)
        for k in range(len(compiled)):
            want = list(r[f"n{k}"]) if k == first else None
            assert r[f"g{k}"] == want, (lines[r["i"]], anchored, k)


@settings(max_examples=25, deadline=None)
@given(st.lists(_line, min_size=1, max_size=12), st.booleans())
def test_grok_chain_matches_native_first_match(spark, lines, anchored):
    _assert_chain_is_native_first_match(spark, lines, anchored)


@pytest.mark.parametrize("anchored", [True, False])
def test_grok_chain_marker_byte_line(spark, anchored):
    """The lines the one-pass rewrite could misread: a leading U+0002
    on a miss (once failed the job in ``element_at``), U+0001 inside a
    capture (once shifted the later fields), a miss whose U+0001 count
    fakes a full split, and a trailing line terminator (once matched
    before it, with the terminator in the last field)."""
    access = '1.2.3.4 - u [10/Oct/2020:13:55:36 +0000] "GET /x HTTP/1.1" 200 5120'
    lines = [
        "\x02not a log line",
        "\x02" + access,
        "\x02a\x01b\x01c\x01d\x01e\x01f\x01g\x01h",
        "ts=1 level=info host=h bytes=2 msg=x\x01y",
        "ts=1\x01z level=info host=h bytes=2 msg=x",
        "\x02ts=1 level=info host=h bytes=2 msg=x\x01y",
        access + "\n",
        access + "\x01",
        "ts=1 level=info host=h bytes=2 msg=x\n",
        access,
    ]
    _assert_chain_is_native_first_match(spark, lines, anchored)


# --- the SQL string-literal escaper -----------------------------------

# Every grok regex and replacement reaches SQL text through
# ``sources._sql_literal``; Spark's lexer unescapes what it reads.
_sql_text = st.lists(
    st.characters(blacklist_categories=("Cs",))
    | st.sampled_from([
        "\\", "'", '"', "$", "\x01", "\x02", "\n", "\U0001F600", "\U00010348",
        "\\u0041", "\\U0001F600", "\\0", "\\%", "\\_", "\\'", "''", "$1",
    ]),
    max_size=16,
).map("".join)


def _sql_round_trip(spark, texts: list[str]) -> list[str]:
    """``texts`` through one ``VALUES`` query of ``_sql_literal``s."""
    from vrl_spark.sources import literal_table

    df = literal_table(spark, list(enumerate(texts)), ["i", "s"])
    return [r["s"] for r in df.orderBy("i").collect()]


@settings(max_examples=20, deadline=None)
@given(st.lists(_sql_text, min_size=1, max_size=12))
def test_sql_literal_round_trips_through_spark(spark, texts):
    assert _sql_round_trip(spark, texts) == texts


def test_sql_literal_round_trips_every_engine_pattern(spark):
    """Each one-pass regex, replacement and native regex the engine
    writes into SQL text reads back exactly."""
    from vrl_spark.functions.presets import SYSLOG_3164, SYSLOG_5424
    from vrl_spark.plans.weblog import ACCESS, LOGFMT

    texts = [
        t
        for c in (ACCESS, LOGFMT, SYSLOG_5424, SYSLOG_3164)
        for anchored in (True, False)
        for t in (*P._onepass_pattern(c, anchored), P._native(c, anchored).regex)
    ]
    assert _sql_round_trip(spark, texts) == texts


def test_literal_sql_refuses_verbatim_escape_session(spark):
    """A session that keeps backslashes in SQL literals verbatim would
    misread every escaped regex or dim string, so the chain and the
    literal lookup refuse to build there."""
    from vrl_spark.plans.weblog import ACCESS
    from vrl_spark.sources import literal_lookup

    df = spark.createDataFrame([("x",)], ["line"])
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            P.grok_chain(df, ["_g"], "line", [ACCESS])
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            literal_lookup(spark, [("k", "v")], "line", ["v"])
    finally:
        spark.conf.unset(key)
    assert P.grok_chain(df, ["_g"], "line", [ACCESS]).columns == ["line", "_g"]


# --- the flagship's lang lookup against the oracle's join -------------

_dim_key = st.sampled_from([k for k, _, _ in LANG_ROWS])
_lang = st.one_of(
    _dim_key,
    _dim_key.map(str.upper),
    _dim_key.map(lambda k: f" {k}"),
    st.none(),
    st.sampled_from(["", "-", " ", "   ", " - ", "xx", "und ", "'", "\\", "e'n", "en\\"]),
    st.text(alphabet=" -'\\enUND\t", max_size=5),
    st.text(max_size=6),
)


@settings(max_examples=20, deadline=None)
@given(st.lists(_lang, min_size=1, max_size=30))
def test_enrich_lookup_matches_oracle_left_join(spark, langs):
    """``weblog.enrich_stage`` (a map-literal lookup) equals a DuckDB
    LEFT JOIN on the oracle's ``VALUES`` dim, row for row: every dim
    key, unknown keys, NULL, '', '-', blanks, upper-case variants and
    strings with quotes and backslashes. No row is dropped or added."""
    import duckdb
    import pandas as pd

    from vrl_spark.plans import weblog

    df = spark.createDataFrame(list(enumerate(langs)), "i long, lang string")
    got = sorted(
        tuple(r) for r in weblog.enrich_stage(spark, df)
        .select("i", "lang_norm", "lang_name", "lang_family").collect()
    )
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(langs)), "lang": langs}))
    norm = "CASE WHEN lang IS NULL OR trim(lang) IN ('', '-') THEN 'und' ELSE lang END"
    want = sorted(con.execute(f"""
        SELECT i, {norm} AS lang_norm, lang_name, lang_family
        FROM t LEFT JOIN {weblog._lang_values_sql()} ON {norm} = lang_key
    """).fetchall())
    assert len(got) == len(want) == len(langs)
    assert got == want
