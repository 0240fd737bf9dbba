"""Pipeline builder: compile-time fallibility enforcement, errors-as-
data flow, routing, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vrl_spark.pipeline import Pipeline


@pytest.fixture()
def logs(spark):
    rows = [
        (1, '10.0.0.1 - u1 [10/Oct/2020:13:55:36 +0000] "GET /a HTTP/1.1" 200 123'),
        (2, '10.0.0.2 - u2 [10/Oct/2020:13:55:37 +0000] "POST /b HTTP/1.1" 500 45'),
        (3, "not a log line at all"),
    ]
    return spark.createDataFrame(rows, ["id", "line"])


ACCESS = (
    '%{IPV4:ip} - %{USER:user} \\[%{HTTPDATE:ts}\\] '
    '"%{WORD:method} %{URIPATH:path} HTTP/%{NUMBER:ver}" '
    '%{NONNEGINT:status} %{NONNEGINT:bytes}'
)


def test_fallible_without_route_refuses_to_build(logs):
    p = Pipeline("p").parse_grok("line", ACCESS, anchored=True)
    with pytest.raises(ValueError, match="fallible"):
        p.build()


def test_bad_grok_fails_at_build_time():
    with pytest.raises(KeyError):
        Pipeline("p").parse_grok("line", "%{DOESNOTEXIST:x}")


def test_errors_are_data_and_route(logs):
    p = (
        Pipeline("weblog")
        .parse_grok("line", ACCESS, anchored=True)
        .coerce("status", "int")
        .route(
            [("server_error", F.col("status_int") >= 500)],
            otherwise="ok",
        )
    )
    out = {r["id"]: r for r in p.apply(logs).collect()}
    assert out[1]["route"] == "ok" and out[1]["status_int"] == 200
    assert out[2]["route"] == "server_error"
    assert out[3]["route"] == "dead_letter"
    assert out[3]["error"] == "unable to parse input with grok pattern"
    assert out[1]["error"] is None


def test_on_error_keep_builds_without_route(logs):
    p = Pipeline("keep", on_error="keep").parse_grok("line", ACCESS, anchored=True)
    out = p.apply(logs)
    assert "route" not in out.columns
    assert out.where(F.col("error").isNotNull()).count() == 1


def test_enrich_and_timestamp(spark, logs):
    dim = spark.createDataFrame(
        [("GET", "read"), ("POST", "write")], ["m", "kind"]
    )
    p = (
        Pipeline("e")
        .parse_grok("line", ACCESS, anchored=True)
        .parse_timestamp("ts", "%d/%b/%Y:%H:%M:%S %z", "ts_parsed")
        .enrich(dim, left_on="method", right_on="m")
        .route([], otherwise="ok")
    )
    out = {r["id"]: r for r in p.apply(logs).collect()}
    assert out[1]["kind"] == "read"
    assert out[2]["kind"] == "write"
    assert str(out[1]["ts_parsed"]) == "2020-10-10 13:55:36"
    assert out[3]["ts_parsed"] is None  # src null -> no new error


def test_enrich_duplicate_key_keeps_fact_rows(spark, logs):
    """A lookup with a duplicated key enriches each fact row once
    (first match wins), never multiplying it."""
    dim = spark.createDataFrame(
        [("GET", "read"), ("GET", "fetch"), ("POST", "write")], ["m", "kind"]
    )
    p = (
        Pipeline("dup", on_error="keep")
        .parse_grok("line", ACCESS, anchored=True)
        .enrich(dim, left_on="method", right_on="m")
    )
    rows = p.apply(logs).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3]
    out = {r["id"]: r for r in rows}
    assert out[1]["kind"] in ("read", "fetch")
    assert out[2]["kind"] == "write"
    assert out[3]["kind"] is None
    assert "m" not in p.apply(logs).columns


def test_explain(logs):
    p = (
        Pipeline("x")
        .parse_grok("line", ACCESS)
        .coerce("status", "int")
        .route([("e", F.col("status_int") >= 500)])
    )
    text = p.explain()
    assert "parse_grok(line) [fallible]" in text
    assert "dead_letter" in text


def test_multimodal_plumbing(spark):
    """Bytes that are no BMP get NULL for what only a decoder could
    know (width, height, format, embedding); their length and hash
    are real, and the same bytes give the same row."""
    import hashlib

    from vrl_spark.operators import multimodal

    rows = [(i, bytes([i]) * (100 + i)) for i in range(20)]
    rows.append((20, b"\x89PNG\r\n\x1a\n" + b"\x00" * 40))  # undecoded format
    df = spark.createDataFrame(rows + [(21, None)], "doc_id long, media binary")
    feats = multimodal.decode_images(df).collect()
    assert len(feats) == 22
    by_id = {r["doc_id"]: r for r in feats}
    for i, data in rows:
        meta = by_id[i]["meta"]
        assert (meta["width"], meta["height"], meta["format"]) == (None, None, None)
        assert by_id[i]["embedding"] is None
        assert meta["byte_len"] == len(data)
        assert meta["content_sha"] == hashlib.sha256(data).hexdigest()[:16]
    assert by_id[21]["meta"] is None and by_id[21]["embedding"] is None
    assert multimodal.decode_images(df).collect() == feats


def _make_bmp(w, h, rgb_rows):
    """Minimal uncompressed 24-bit BMP from [[(r,g,b)...]...] rows
    (top-down input; stored bottom-up per the format default)."""
    import struct

    row_bytes = (w * 3 + 3) & ~3
    pix = b""
    for row in reversed(rgb_rows):
        line = b"".join(bytes([b, g, r]) for (r, g, b) in row)
        pix += line + b"\x00" * (row_bytes - len(line))
    header = (b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0))
    return header + pix


def test_multimodal_real_image_kernels(spark):
    from vrl_spark.operators import multimodal

    bmp = _make_bmp(2, 2, [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]])
    bmp8 = bmp[:28] + b"\x08" + bmp[29:]  # 8-bit header: metadata only
    empty = _make_bmp(2, 0, [])  # no rows: metadata only, no crash
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(bmp8)), (3, bytearray(empty))],
        ["doc_id", "media"],
    )
    by = {r["doc_id"]: r for r in multimodal.decode_images(df).collect()}
    assert (by[1]["meta"]["format"], by[1]["meta"]["width"], by[1]["meta"]["height"]) == ("bmp", 2, 2)
    assert (by[2]["meta"]["format"], by[2]["meta"]["width"], by[2]["meta"]["height"]) == ("bmp", 2, 2)
    assert (by[3]["meta"]["format"], by[3]["meta"]["width"], by[3]["meta"]["height"]) == ("bmp", 2, 0)
    assert by[2]["embedding"] is None and by[3]["embedding"] is None
    # BMP raster really decoded: 2x2 resize == original pixels, so
    # cell luminances are the known values for pure R/G/B/white
    emb = by[1]["embedding"]
    assert abs(emb[0] - 0.299) < 1e-4      # red cell luminance
    assert abs(emb[1] - 0.587) < 1e-4      # green
    assert abs(emb[2] - 0.114) < 1e-4      # blue
    assert abs(emb[3] - 1.0) < 1e-4        # white
    # raster decode direct
    px = multimodal.decode_bmp_pixels(bmp)
    assert px.shape == (2, 2, 3)
    assert tuple(px[0, 0]) == (255, 0, 0) and tuple(px[1, 0]) == (0, 0, 255)


def test_builder_parse_groks_rule_list(spark):
    from vrl_spark.pipeline import Pipeline

    logs = spark.createDataFrame(
        [(1, "level=error bytes=99"), (2, "42 fallback"), (3, "???")],
        ["id", "message"],
    )
    P2 = Pipeline
    built = P2("multi", on_error="keep").parse_groks(
        "message",
        patterns=["%{KV} %{KV2}", "%{NONNEGINT:num} %{WORD:word}"],
        aliases={"KV": r"%{WORD:k}=%{NOTSPACE:v}",
                 "KV2": r"%{WORD:k2}=%{NOTSPACE:v2}"},
    )
    out = {r["id"]: r for r in built.apply(logs).collect()}
    assert out[1]["k"] == "level" and out[1]["v"] == "error"
    assert out[1]["num"] is None
    assert out[2]["num"] == "42" and out[2]["word"] == "fallback"
    assert out[2]["k"] is None
    assert out[3]["error"] is not None          # no pattern matched
    assert out[1]["error"] is None

    import pytest as _pt
    with _pt.raises(KeyError):
        P2("bad", on_error="keep").parse_groks("message", patterns=["%{NOPE:x}"])


def test_grok_nested_source_and_quoted_prefix(spark):
    """A dotted ``src`` reads a nested field, as ``F.col`` does; the
    output names take any prefix, a backtick included."""
    line = '10.0.0.1 - u1 [10/Oct/2020:13:55:36 +0000] "GET /a HTTP/1.1" 200 123'
    df = spark.createDataFrame([((line,),), (("nope",),)], "rec struct<line: string>")
    out = (
        Pipeline("nested", on_error="keep")
        .parse_grok("rec.line", ACCESS, prefix="p`")
        .apply(df)
    )
    assert out.columns == ["rec", "error"] + [f"p`{f}" for f in
                                              ("ip", "user", "ts", "method", "path", "ver",
                                               "status", "bytes")]
    rows = out.collect()
    assert rows[0]["p`status"] == "200" and rows[0]["error"] is None
    assert rows[1]["p`status"] is None
    assert rows[1]["error"] == "unable to parse input with grok pattern"
