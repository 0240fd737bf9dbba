"""Streaming pipeline: same stages over an unbounded source, with
watermarked windows and exactly-once fan-out, checked against the
batch result on identical input."""

from __future__ import annotations

from pyspark.sql import functions as F

from vrl_spark.streaming import (
    stream_from_directory,
    stream_pipeline,
    windowed_counts,
    )
from vrl_spark.streaming.pipeline import write_fanout


def _prep_pages(spark, sf_dir, tmp_path) -> str:
    from vrl_spark.plans.weblog import load_pages

    path = str(tmp_path / "pages_in")
    load_pages(spark, sf_dir).repartition(4).write.parquet(path)
    return path


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    pages_path = _prep_pages(spark, sf_dir, tmp_path)

    # batch reference
    from vrl_spark.plans import weblog

    batch = weblog.routed_stage(spark, spark.read.parquet(pages_path))
    batch_counts = {
        (r["route"], r["hour"]): (r["page_count"], r["total_bytes"])
        for r in batch.groupBy(
            "route", F.date_trunc("hour", "warc_ts").alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("page_count"),
            F.sum(F.coalesce(F.col("bytes_int"), F.lit(0))).alias("total_bytes"),
        )
        .collect()
    }

    # streaming over the same files, 2 files per micro-batch
    stream = stream_from_directory(spark, pages_path, max_files_per_trigger=2)
    routed = stream_pipeline(spark, stream)
    agg = windowed_counts(routed, window="1 hour", watermark="10 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["route"], r["hour"]): (r["page_count"], r["total_bytes"])
        for r in spark.sql("select * from stream_agg").collect()
    }
    assert got == batch_counts


def test_stream_fanout_exactly_once(spark, sf_dir, tmp_path):
    pages_path = _prep_pages(spark, sf_dir, tmp_path)
    out = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")

    stream = stream_from_directory(spark, pages_path, max_files_per_trigger=3)
    routed = stream_pipeline(spark, stream).select(
        "doc_id", "route", "bytes_int", "warc_ts"
    )
    q = write_fanout(routed, out, ckpt).start()
    q.awaitTermination(120)

    written = spark.read.parquet(out)
    n_in = spark.read.parquet(pages_path).count()
    assert written.count() == n_in
    assert written.select("doc_id").distinct().count() == n_in

    # restart with same checkpoint: availableNow sees nothing new
    q2 = write_fanout(routed, out, ckpt).start()
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_in


def test_stream_fanout_lineage_manifest(spark, sf_dir, tmp_path):
    """lineage=True commits per-(batch, route) rows/bytes/fingerprint
    manifests that exactly match an independent recompute over what
    landed on disk — the streaming mirror of CheckpointedRun."""
    import glob
    import json
    import os

    from vrl_spark.operators.checkpoint import lineage_metrics

    pages_path = _prep_pages(spark, sf_dir, tmp_path)
    out = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")
    fp_cols = ["doc_id", "route", "bytes_int"]

    stream = stream_from_directory(spark, pages_path, max_files_per_trigger=3)
    routed = stream_pipeline(spark, stream).select(
        "doc_id", "route", "bytes_int", "warc_ts"
    )
    q = write_fanout(routed, out, ckpt, lineage=True, fp_cols=fp_cols).start()
    q.awaitTermination(120)

    manifests = sorted(glob.glob(os.path.join(out, "_lineage", "*.json")))
    assert manifests, "no lineage manifests committed"
    total_rows = 0
    written = spark.read.parquet(out)
    for mpath in manifests:
        m = json.load(open(mpath))
        part = written.where(F.col("batch_id") == m["batch_id"])
        recomputed = {
            r["route"]: r
            for r in lineage_metrics(
                part,
                [F.col("route")],
                F.concat_ws(
                    "", *[F.col(c).cast("string") for c in fp_cols]
                ),
                [F.col(c) for c in fp_cols],
            ).collect()
        }
        assert set(recomputed) == set(m["routes"])
        for route, want in m["routes"].items():
            got = recomputed[route]
            assert got["n_rows"] == want["rows"]
            assert got["n_bytes"] == want["bytes"]
            assert got["fingerprint"] == want["fingerprint"]
            total_rows += want["rows"]
    assert total_rows == spark.read.parquet(pages_path).count()


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions emitted
    across micro-batches match the batch gap-sessionization on the
    same rows."""
    from datetime import datetime as dt

    from vrl_spark.streaming.pipeline import sessionize_stream

    rows = [
        (1, dt(2024, 1, 1, 0, 0)), (1, dt(2024, 1, 1, 0, 10)),   # session A (2)
        (1, dt(2024, 1, 1, 2, 0)),                                # closes A, opens B
        (1, dt(2024, 1, 1, 5, 0)),                                # closes B, opens C
        (2, dt(2024, 1, 1, 1, 0)), (2, dt(2024, 1, 1, 1, 5)),    # session (2)
        (2, dt(2024, 1, 1, 9, 0)),                                # closes it
    ]
    src = str(tmp_path / "events_in")
    # one file: the operator assumes per-key time-ordered ARRIVAL
    # across micro-batches (watermark-ordered upstream in production);
    # multi-file parquet would replay rows in arbitrary file order
    spark.createDataFrame(rows, ["user_id", "ts"]).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.format("parquet").schema(schema).load(src)
    q = (
        sessionize_stream(stream, gap_sec=1800)
        .writeStream.format("memory").queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["n_events"], r["duration_sec"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    # closed sessions only (the final open session per user stays in state)
    assert (1, dt(2024, 1, 1, 0, 0), 2, 600) in got
    assert (1, dt(2024, 1, 1, 2, 0), 1, 0) in got
    assert (2, dt(2024, 1, 1, 1, 0), 2, 300) in got
    assert len(got) == 3


def test_sessionize_stream_late_data_contract(spark, tmp_path):
    """Late-data contract: a row arriving in a LATER micro-batch that
    is older than the open session's last event MERGES into the open
    session (counted), and never splits it, reopens history, or moves
    session_start/session_end backwards — even when the late row is
    further than the gap before the session start."""
    from datetime import datetime as dt

    from vrl_spark.streaming.pipeline import sessionize_stream

    src = str(tmp_path / "events_in")
    out = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id bigint, ts timestamp"

    def feed(rows):
        spark.createDataFrame(rows, ["user_id", "ts"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.format("parquet").schema(schema).load(src)
        q = (
            sessionize_stream(stream, gap_sec=1800)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: open session A = [0:00, 0:10]
    feed([(1, dt(2024, 1, 1, 0, 0)), (1, dt(2024, 1, 1, 0, 10))])
    run_once()
    # batch 2: two LATE rows — one inside the open session's span,
    # one a full day earlier (beyond any gap)
    feed([(1, dt(2024, 1, 1, 0, 5)), (1, dt(2023, 12, 31, 23, 0))])
    run_once()
    # batch 3: a fresh row beyond the gap closes session A
    feed([(1, dt(2024, 1, 1, 2, 0))])
    run_once()

    got = [
        (r["user_id"], r["session_start"], r["session_end"],
         r["n_events"], r["duration_sec"])
        for r in spark.read.parquet(out).collect()
    ]
    # exactly ONE closed session: the late rows merged (n_events=4),
    # start/end unchanged by lateness (no retro session, no split)
    assert got == [(1, dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 0, 10), 4, 600)]


def test_dedup_stream_drops_watermark_window_dupes(spark, tmp_path):
    """Streaming exact-dedup: duplicates arriving across micro-batches
    within the watermark horizon are dropped; the surviving key set
    equals the batch distinct key set."""
    from datetime import datetime as dt

    from vrl_spark.streaming.pipeline import dedup_stream

    rows = [
        ("k1", dt(2024, 1, 1, 0, 0), 1),
        ("k1", dt(2024, 1, 1, 0, 5), 2),    # dup of k1 (5 min later)
        ("k2", dt(2024, 1, 1, 0, 1), 3),
        ("k2", dt(2024, 1, 1, 0, 1), 4),    # dup, same ts
        ("k3", dt(2024, 1, 1, 0, 2), 5),
    ]
    src = str(tmp_path / "dedup_in")
    spark.createDataFrame(
        rows, ["content_key", "warc_ts", "seq"]
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", 1).load(src)
    )
    q = (
        dedup_stream(stream, ["content_key"], ts_col="warc_ts",
                     watermark="1 hour")
        .writeStream.format("memory").queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_out").collect()
    keys = [r["content_key"] for r in got]
    assert sorted(keys) == ["k1", "k2", "k3"]  # one survivor per key


def test_stream_fanout_lineage_empty_batch(spark, sf_dir, tmp_path):
    """An all-empty micro-batch writes no partition dir; the lineage
    pass must commit an empty manifest, not crash the stream with an
    unreadable-parquet error."""
    import glob
    import json
    import os

    pages_path = _prep_pages(spark, sf_dir, tmp_path)
    out = str(tmp_path / "sinks")
    stream = stream_from_directory(spark, pages_path, max_files_per_trigger=3)
    routed = stream_pipeline(spark, stream).select(
        "doc_id", "route", "bytes_int"
    ).where(F.lit(False))
    q = write_fanout(
        routed, out, str(tmp_path / "ckpt"), lineage=True,
        fp_cols=["doc_id", "route"],
    ).start()
    q.awaitTermination(120)
    assert q.exception() is None
    manifests = glob.glob(os.path.join(out, "_lineage", "*.json"))
    assert manifests
    for m in manifests:
        assert json.load(open(m))["routes"] == {}


def test_span_dedup_keep_cols_clash(spark):
    from vrl_spark.operators.textstats import span_dedup

    df = spark.createDataFrame([(1, "a b", "x")], ["doc_id", "text", "n_removed"])
    import pytest as _pt

    with _pt.raises(ValueError):
        span_dedup(df, "text", "doc_id", keep_cols=["n_removed"])


def test_bloom_ingest_stream_exactly_once(spark, tmp_path):
    """Continuous snapshot ingestion through the stored Bloom filter:
    only never-seen keys land in the accepted store; replayed commits
    append nothing; a filter-updated-but-rows-lost crash window
    resolves as fp and still ingests the rows."""
    from vrl_spark.streaming.pipeline import (
        bloom_ingest_batch,
        bloom_ingest_stream,
    )

    src = str(tmp_path / "src")
    fdir = str(tmp_path / "filter")
    odir = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def snap(lo, hi):
        return spark.createDataFrame(
            [(f"k{i:03d}", f"payload-{i}") for i in range(lo, hi)],
            ["key", "payload"],
        )

    kw = dict(n_bits=1 << 14, k=5, engine="xxh")

    snap(0, 50).write.mode("append").parquet(src)
    q = bloom_ingest_stream(
        spark.readStream.schema("key string, payload string").parquet(src),
        fdir, odir, "key", ckpt, **kw,
    )
    q.awaitTermination(120)
    store = spark.read.parquet(odir)
    assert store.count() == 50

    # second snapshot: 25 dups + 25 new (plus an in-batch dup row)
    snap(25, 75).unionAll(snap(30, 31)).write.mode("append").parquet(src)
    q = bloom_ingest_stream(
        spark.readStream.schema("key string, payload string").parquet(src),
        fdir, odir, "key", ckpt, **kw,
    )
    q.awaitTermination(120)
    store = spark.read.parquet(odir)
    assert store.count() == 75
    assert store.select("key").distinct().count() == 75

    # replay contract: redeliver snapshot 2 directly -> nothing lands
    assert bloom_ingest_batch(snap(25, 75), fdir, odir, "key", **kw) == 0
    assert spark.read.parquet(odir).count() == 75

    # crash-window contract: filter updated, rows lost. APPEND a
    # segment for a key WITHOUT storing its row (exactly the state a
    # crash between the two writes leaves — and appending keeps
    # _PARAMS.json, so the filter stays recognized), then ingest it:
    # bloom hits, the exact check disproves, the row still lands.
    from vrl_spark.operators import bloom as _bloom

    phantom = spark.createDataFrame([("k999",)], ["key"])
    _bloom.bloom_build(phantom, "key", **kw).write.mode("append").parquet(
        fdir
    )
    late = spark.createDataFrame([("k999", "late")], ["key", "payload"])
    flagged = _bloom.bloom_membership(
        late.select("key"),
        _bloom.bloom_merge(spark.read.parquet(fdir)),
        "key", **kw,
    ).collect()
    assert flagged[0].bloom_hit is True  # the path is NOT the trivial one
    got = bloom_ingest_batch(late, fdir, odir, "key", **kw)
    assert got == 1
    assert spark.read.parquet(odir).where("key = 'k999'").count() == 1

    # NULL keys are rejected, not looped forever
    assert bloom_ingest_batch(
        spark.createDataFrame(
            [(None, "x")], "key string, payload string"
        ),
        fdir, odir, "key", **kw,
    ) == 0


def test_bloom_ingest_rejects_param_mismatch_and_empty_key(spark, tmp_path):
    import pytest

    from vrl_spark.streaming.pipeline import bloom_ingest_batch

    fdir = str(tmp_path / "f")
    odir = str(tmp_path / "o")
    kw = dict(n_bits=1 << 14, k=5, engine="xxh")
    # empty-string key must round-trip through the prefix partitioning
    b1 = spark.createDataFrame([("", "e"), ("aa", "x")], ["key", "p"])
    assert bloom_ingest_batch(b1, fdir, odir, "key", **kw) == 2
    assert bloom_ingest_batch(b1, fdir, odir, "key", **kw) == 0  # replay
    assert spark.read.parquet(odir).count() == 2
    # probing with different params breaks the hash family -> raises
    with pytest.raises(ValueError, match="no-false-negative"):
        bloom_ingest_batch(
            b1, fdir, odir, "key", n_bits=1 << 10, k=5, engine="xxh"
        )
    with pytest.raises(ValueError, match="no-false-negative"):
        bloom_ingest_batch(
            b1, fdir, odir, "key", n_bits=1 << 14, k=5, engine="md5"
        )


def test_bloom_ingest_refuses_paramless_filter_data(spark, tmp_path):
    """A filter dir with segments but no _PARAMS.json (e.g. an offline
    compaction that dropped the sidecar) must raise, not silently
    bypass dedup."""
    import os

    import pytest

    from vrl_spark.operators import bloom as _bloom
    from vrl_spark.streaming.pipeline import bloom_ingest_batch

    fdir = str(tmp_path / "f")
    odir = str(tmp_path / "o")
    kw = dict(n_bits=1 << 14, k=5, engine="xxh")
    b = spark.createDataFrame([("x", "1")], ["key", "payload"])
    assert bloom_ingest_batch(b, fdir, odir, "key", **kw) == 1
    os.remove(os.path.join(fdir, "_PARAMS.json"))
    with pytest.raises(ValueError, match="no\n? ?_PARAMS"):
        bloom_ingest_batch(b, fdir, odir, "key", **kw)


def test_bloom_ingest_params_only_dir_is_recoverable(spark, tmp_path):
    """params-without-segments (crash between the sidecar write and
    the first segment append) must behave as an empty filter, not
    raise or mis-classify; legacy sidecars without kp_scheme load."""
    import json
    import os

    from vrl_spark.streaming.pipeline import bloom_ingest_batch

    fdir = str(tmp_path / "f")
    odir = str(tmp_path / "o")
    kw = dict(n_bits=1 << 14, k=5, engine="xxh")
    os.makedirs(fdir)
    # legacy sidecar: no kp_scheme key -> treated as the p2 layout
    with open(os.path.join(fdir, "_PARAMS.json"), "w") as fh:
        json.dump({"n_bits": 1 << 14, "k": 5, "engine": "xxh"}, fh)
    b = spark.createDataFrame([("x", "1"), ("y", "2")], ["key", "p"])
    assert bloom_ingest_batch(b, fdir, odir, "key", **kw) == 2
    assert bloom_ingest_batch(b, fdir, odir, "key", **kw) == 0
