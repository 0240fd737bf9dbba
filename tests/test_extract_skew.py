"""Byte-identical lossy UTF-8 extraction + skew-safe aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from vrl_spark.operators import extract, skew

# Invalid-UTF8 gauntlet: truncated sequences, overlongs, lone
# continuation bytes, surrogates, valid multibyte — the cases where
# replacement policies differ between implementations.
BYTE_CASES = [
    b"plain ascii",
    "café 中文 \U0001f600".encode("utf-8"),
    b"truncated 2-byte: \xc3",
    b"truncated 3-byte: \xe2\x82",
    b"lone continuation: \x80\x81",
    b"overlong: \xc0\xaf",
    b"surrogate: \xed\xa0\x80",
    b"mixed \xff\xfe valid tail",
    b"",
    None,
]


def test_lossy_decode_matches_python_reference(spark):
    df = spark.createDataFrame([(i, b) for i, b in enumerate(BYTE_CASES)], ["i", "b"])
    got = {
        r["i"]: r["s"]
        for r in df.select("i", extract.lossy_utf8_decode(F.col("b")).alias("s")).collect()
    }
    for i, b in enumerate(BYTE_CASES):
        want = b.decode("utf-8", errors="replace") if b is not None else None
        assert got[i] == want, (i, b, got[i], want)


def test_extracted_text_byte_identical_on_pages(spark, sf_dir):
    """Pages html is encode(text); decode must return text exactly —
    the per-url byte-identity invariant on the real pipeline input."""
    from vrl_spark.plans.weblog import load_pages
    from vrl_spark.sources.pages import derive_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = derive_pages(docs)
    mismatches = (
        pages.select(
            "doc_id",
            extract.extracted_text(F.col("html")).alias("roundtrip"),
        )
        .join(docs.select("doc_id", "text"), "doc_id")
        .where(F.col("roundtrip") != F.col("text"))
        .count()
    )
    assert mismatches == 0


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    from vrl_spark.plans.weblog import load_pages

    pages = load_pages(spark, sf_dir).withColumn(
        "host", F.regexp_extract("url", r"^https://([^/]+)/", 1)
    )
    plain = {
        (r["host"],): (r["n"], r["b"])
        for r in pages.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("b"))
        .collect()
    }
    salted = {
        (r["host"],): (r["n"], r["b"])
        for r in skew.salted_agg(
            pages, ["host"], {"n": ("count", "*"), "b": ("min", "doc_id")}, buckets=8
        ).collect()
    }
    assert plain == salted
