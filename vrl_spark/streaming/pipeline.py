"""Streaming parse->enrich->route->aggregate.

Identical stage functions as the batch plan (vrl_spark.plans.weblog):
Spark's unified API means the SAME ``routed_stage`` chain
(parse -> enrich -> route) runs over an unbounded source. The
aggregate differs only by watermark + window.

Sinks: ``foreachBatch`` fan-out keeps the single-pass multi-sink
property (one write job per micro-batch, partitioned by route)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-source stream of pages parquet (the sandbox stand-in for a
    Kafka/Iceberg CDC source)."""
    reader = (
        spark.readStream.format("parquet")
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(spark.read.parquet(path).schema)
    return reader.load(path)


def stream_pipeline(spark: SparkSession, pages_stream: DataFrame) -> DataFrame:
    """parse -> enrich -> route on an unbounded pages stream."""
    from vrl_spark.plans import weblog

    return weblog.routed_stage(spark, pages_stream)


def windowed_counts(
    routed: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window per-route aggregate. Late rows
    beyond the watermark are dropped deterministically — state stays
    bounded no matter how long the stream runs."""
    return (
        routed.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("route"))
        .agg(
            F.count(F.lit(1)).alias("page_count"),
            F.sum(F.coalesce(F.col("bytes_int"), F.lit(0))).alias("total_bytes"),
        )
        .select(
            F.col("w.start").alias("hour"), "route", "page_count", "total_bytes"
        )
    )


def write_fanout(
    routed: DataFrame, out_dir: str, checkpoint_dir: str,
    lineage: bool = False, fp_cols: list[str] | None = None,
):
    """Multi-sink fan-out, idempotent under micro-batch REPLAY.

    foreachBatch is at-least-once: after a failure the same batch_id
    is re-delivered, and a bare ``mode("append")`` would duplicate its
    rows. Writes are made idempotent by partitioning the sink by
    (batch_id, route) with DYNAMIC partition overwrite: a replayed
    batch overwrites exactly its own batch_id partitions and leaves
    every other batch untouched — the classic exactly-once-effect
    recipe for foreachBatch file sinks.

    ``lineage=True`` additionally commits one manifest row per
    (batch_id, route) — rows, payload bytes, and the order-independent
    xxh64 content fingerprint over ``fp_cols`` — AFTER the data write,
    mirroring the batch CheckpointedRun contract: a replayed batch
    overwrites its own manifest file with identical content (same
    input rows -> same fingerprint), so the manifest stays truthful
    under at-least-once delivery."""
    import json as _json
    import os as _os

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "route")
            .parquet(out_dir)
        )
        if lineage:
            from vrl_spark.operators.checkpoint import lineage_metrics

            cols = fp_cols or [
                c for c in batch_df.columns if c != "route"
            ]
            # read BACK the partition just written (like the batch
            # CheckpointedRun): the manifest certifies what landed on
            # disk, and the micro-batch plan is not executed a second
            # time to compute it. Read the batch's own partition dir
            # (basePath keeps the partition columns) so the listing
            # cost never grows with the number of past batches; an
            # empty batch writes no partition dir at all -> empty
            # manifest, not an UNABLE_TO_INFER_SCHEMA crash. (On a
            # remote FS, swap the isdir probe for the FS client's
            # exists() — the local convention matches read_output.)
            part_dir = _os.path.join(out_dir, f"batch_id={batch_id}")
            if _os.path.isdir(part_dir):
                written = (
                    batch_df.sparkSession.read
                    .option("basePath", out_dir).parquet(part_dir)
                )
                rows = lineage_metrics(
                    written,
                    [F.col("route")],
                    F.concat_ws(
                        "", *[F.col(c).cast("string") for c in cols]
                    ),
                    [F.col(c) for c in cols],
                ).collect()
            else:
                rows = []
            mdir = _os.path.join(out_dir, "_lineage")
            _os.makedirs(mdir, exist_ok=True)
            path = _os.path.join(mdir, f"batch-{batch_id}.json")
            tmp = _os.path.join(mdir, f".batch-{batch_id}.json.tmp")
            with open(tmp, "w") as f:
                _json.dump(
                    {
                        "batch_id": batch_id,
                        "routes": {
                            r["route"]: {
                                "rows": r["n_rows"],
                                "bytes": r["n_bytes"],
                                "fingerprint": r["fingerprint"],
                            }
                            for r in rows
                        },
                    },
                    f,
                )
            _os.replace(tmp, path)

    return (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def sessionize_stream(events: DataFrame, gap_sec: int = 1800):
    """Custom STATEFUL streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` — the escape hatch for semantics that
    windowed aggregates can't express (open-ended sessions keyed by
    inactivity, not by fixed windows). Mirrors the batch
    ``operators.sessions.session_stats`` contract.

    State per user: (start_us, last_us, n). A micro-batch's rows are
    sorted and folded into the open session; every gap > ``gap_sec``
    CLOSES a session, which is emitted downstream. The still-open
    session stays in state across micro-batches (at-least-once safe:
    emission happens only on close, and replaying a batch rebuilds the
    same state from the same inputs). State size is O(distinct users),
    bounded regardless of stream length.

    Ordering contract: rows are sorted (once, across all Arrow chunks)
    WITHIN a micro-batch. Across batches, LATE rows — older than the
    open session's last event, even beyond the gap — MERGE into the
    open session: they increment n_events but never split the session,
    open a retroactive one, or move session_start/session_end backwards
    (the fold's ``t - last > gap`` close test is never true for t <=
    last, and ``last = max(last, t)`` never regresses). Sessions
    already CLOSED are immutable — a row older than a closed session
    folds into the currently-open one instead (enforce per-key ordered
    arrival upstream, e.g. Kafka per-key partitions, where that
    matters). Tested: test_sessionize_stream_late_data_contract."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, duration_sec bigint"
    )
    state_schema = "start bigint, last bigint, n bigint"
    gap_us = gap_sec * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            start, last, n = state.get
        else:
            start = last = n = None
        closed = []
        # a group can span multiple Arrow chunks: collect ALL of them,
        # sort ONCE across the whole micro-batch, then fold — sorting
        # per-chunk would fold out-of-order rows and split sessions
        chunks = [
            pdf["ts"].astype("datetime64[us]").astype("int64") for pdf in pdf_iter
        ]
        ts_us = pd.concat(chunks).sort_values() if chunks else []
        for t in ts_us:
            t = int(t)
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_us:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = max(last, t), n + 1
        if start is not None:
            state.update((start, last, n))
        if closed:
            out = pd.DataFrame(
                closed, columns=["session_start", "session_end", "n_events"]
            )
            out["user_id"] = user_id
            out["duration_sec"] = (out["session_end"] - out["session_start"]) // 1_000_000
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
            yield out[["user_id", "session_start", "session_end", "n_events", "duration_sec"]]

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "warc_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: the first row per key wins; later
    duplicates are dropped for as long as the key could still collide
    (the watermark horizon), after which its state is evicted —
    bounded state on an unbounded stream.

    Batch equivalence contract: over any input whose duplicate pairs
    all arrive within the watermark of each other, the output row SET
    equals batch ``exact_dedup_rows`` keyed on the same columns (the
    survivor may differ — streaming keeps the first ARRIVAL, batch the
    min id — so compare by key set, which is what the routed-row
    equality property needs).

    Scale: state is a hash map keyed by ``key_cols`` sharded across
    executors by the same hash shuffle as a groupBy; eviction is
    watermark-driven, so state size ~ arrival rate x horizon, not
    stream length.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path, jvm) for a path string, resolved through the
    session's Hadoop configuration — the same filesystem Spark's own
    parquet reads/writes use, so existence/sidecar checks stay correct
    on hdfs:// / s3a:// / file:// alike (driver-local os.path sees
    only the local disk and reports False for everything else)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def bloom_ingest_batch(
    batch: DataFrame,
    filter_dir: str,
    out_dir: str,
    key_col: str,
    n_bits: int = 1 << 20,
    k: int = 5,
    engine: str = "xxh",
) -> int:
    """One snapshot-ingest commit: classify the batch's keys against
    the stored Bloom filter + accepted store, append only genuinely
    new rows, fold the new keys into the filter. Returns the number of
    rows accepted.

    The stored filter is APPEND-ONLY SEGMENTS: each commit appends
    only the NEW keys' words; readers bit_or-compact across segments
    (bloom_merge of one table). No commit ever rewrites existing
    filter files, so there is no crash window in which previously
    committed keys' bits can be lost — the failure mode a naive
    read-merge-overwrite filter has (crash mid-overwrite loses old
    bits, committed keys bloom-MISS, replay re-appends duplicates).

    Commit ORDER completes the argument: the filter segment lands
    BEFORE the row append. A crash between the two (or mid-segment:
    parquet append only exposes committed files) leaves at worst
    extra bits for rows never appended — replay bloom-hits them, the
    exact check against the accepted store disproves -> 'fp' -> the
    rows are accepted; the reverse order could re-append rows on
    replay (bloom miss -> 'new'). Net: exactly-once KEY ingestion on
    top of foreachBatch's at-least-once contract.

    (n_bits, k, engine, kp_scheme) are pinned in
    ``filter_dir/_PARAMS.json`` BEFORE the first segment lands and
    validated on every later commit — probing a filter with a
    different hash family (or reading the store with a different
    partition layout) silently breaks the no-false-negative property,
    so a mismatch raises, as does a filter dir holding segments with
    no params sidecar (e.g. an offline compaction that dropped it).

    Scale shape: the filter word table is m/32 rows (re-read and
    compacted per batch — tiny; compact by rewriting segments offline
    if they ever accumulate); the exact check scans only the accepted
    store's key column restricted to the PARTITION PREFIXES of the
    bloom positives: the store is laid out partitionBy(_kp = 'p' +
    first 2 key chars — the literal prefix keeps an empty-string key
    out of Hive's NULL default partition), and the tiny positive
    set's prefixes become a partition filter, so a batch touching p
    prefixes reads p/256 of the store's key column, not all of it.
    """
    import json

    from vrl_spark.operators import bloom as _bloom

    spark = batch.sparkSession
    # kp_scheme pins the accepted store's partition layout alongside
    # the hash family — a layout change is as corrupting as a hash
    # change (the prefix filter would prune every old partition)
    params = {
        "n_bits": n_bits, "k": k, "engine": engine, "kp_scheme": "p2",
    }
    # ALL existence/sidecar IO goes through the Hadoop FileSystem the
    # parquet reads/writes use: driver-local os.path returns False for
    # hdfs://, s3a://, ... paths, which would read a committed filter
    # as empty and silently re-ingest every key
    fs, jfilter, jvm = _hadoop_fs(spark, filter_dir)
    jparams = jvm.org.apache.hadoop.fs.Path(filter_dir, "_PARAMS.json")
    have_params = fs.exists(jparams)
    has_segments = (
        fs.exists(jfilter)
        and fs.getFileStatus(jfilter).isDirectory()
        and any(
            not st.getPath().getName().startswith(("_", "."))
            for st in fs.listStatus(jfilter)
        )
    )
    if have_params:
        ins = fs.open(jparams)
        try:
            stored = json.loads(bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(ins)
            ).decode("utf-8"))
        finally:
            ins.close()
        # sidecars written before the layout key existed are the
        # unchanged p2 scheme — backfill instead of bricking them
        stored.setdefault("kp_scheme", "p2")
        if stored != params:
            raise ValueError(
                f"bloom filter at {filter_dir} was built with {stored}; "
                f"probing it with {params} would break the "
                "no-false-negative property"
            )
    elif has_segments:
        # segments without a params pin: probing blind would silently
        # bypass dedup for every committed key (the exact check only
        # runs over bloom positives) — refuse instead
        raise ValueError(
            f"bloom filter at {filter_dir} has data but no "
            "_PARAMS.json; refusing to probe with unverifiable "
            "parameters (restore the params file or rebuild the "
            "filter from the accepted store)"
        )

    def _kp(col: Column) -> Column:
        return F.concat(F.lit("p"), F.substring(col, 1, 2))

    # NULL keys can't be represented in the filter (their probe rows
    # hash to NULL) and would re-ingest on every replay — reject them
    batch = batch.where(F.col(key_col).isNotNull()).dropDuplicates(
        [key_col]
    )
    keys = batch.select(key_col)

    if have_params and has_segments:
        words = _bloom.bloom_merge(spark.read.parquet(filter_dir))
        flagged = _bloom.bloom_membership(
            keys, words, key_col, n_bits, k, engine
        )
    else:
        # params-without-segments is the recoverable crash window
        # between the sidecar write and the first segment append: no
        # segments means no keys committed means no rows appended, so
        # an empty filter is CORRECT, not just tolerated
        flagged = keys.select(
            F.col(key_col), F.lit(False).alias("bloom_hit")
        )

    ofs, jout, _ = _hadoop_fs(spark, out_dir)
    pos = flagged.where("bloom_hit").select(key_col)
    if ofs.exists(jout) and ofs.getFileStatus(jout).isDirectory():
        prefixes = [
            r[0]
            for r in pos.select(
                _kp(F.col(key_col)).alias("_kp")
            ).distinct().collect()
        ]
        if prefixes:
            store = (
                spark.read.parquet(out_dir)
                .where(F.col("_kp").isin(prefixes))
                .select(key_col)
            )
            dups = pos.join(store, key_col, "left_semi")
        else:
            dups = pos.limit(0)
    else:
        dups = pos.limit(0)

    accept = batch.join(dups, key_col, "left_anti").withColumn(
        "_kp", _kp(F.col(key_col))
    )
    # materialize BEFORE the writes: the plans above lazily reference
    # the parquet files this commit appends to
    accept = accept.localCheckpoint(eager=True)
    n_accepted = accept.count()

    if n_accepted:
        # commit order: params -> segment -> rows. Each prefix of this
        # sequence is a state a replay handles correctly (params alone
        # = empty filter; params+segment = extra bits resolved as fp);
        # segment-before-params would instead poison the dir into the
        # refuse-to-probe state above.
        if not have_params:
            fs.mkdirs(jfilter)
            out = fs.create(jparams, True)
            try:
                out.write(bytearray(json.dumps(params).encode("utf-8")))
            finally:
                out.close()
        new_words = _bloom.bloom_build(
            accept.select(key_col), key_col, n_bits, k, engine
        )
        new_words.write.mode("append").parquet(filter_dir)
        accept.write.mode("append").partitionBy("_kp").parquet(out_dir)
    return n_accepted


def bloom_ingest_stream(
    snapshots: DataFrame,
    filter_dir: str,
    out_dir: str,
    key_col: str,
    checkpoint_dir: str,
    n_bits: int = 1 << 20,
    k: int = 5,
    engine: str = "xxh",
):
    """Continuous incremental-snapshot ingestion: each micro-batch
    commits through :func:`bloom_ingest_batch`, so only
    never-seen-before keys reach the accepted store and the stored
    Bloom filter stays current without ever rebuilding from the
    corpus (cf. operators/bloom.py for the batch-side contract)."""

    def _commit(batch: DataFrame, _epoch: int) -> None:
        bloom_ingest_batch(
            batch, filter_dir, out_dir, key_col, n_bits, k, engine
        )

    return (
        snapshots.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
