"""Checkpoint / lineage / idempotent resume (north_rule: "resumable
from checkpoint with per-partition lineage + metrics").

Model (Iceberg-shaped, parquet-backed here):

- Work is chunked by a PARTITION KEY (for the weblog pipeline: the
  hour of warc_ts — the same key the sinks window on). A "run"
  processes a set of partitions.
- The manifest is one ``<key>.json`` file per committed partition,
  read on the driver with ``glob`` + ``json.load`` (no Spark job), the
  way it is written. Resume = the driver-side set difference of the
  wanted keys and the committed ones: only unfinished partitions
  re-run.
- All pending partitions land in ONE pass: the frame is filtered to
  the pending keys and written once with ``partitionBy(part)`` under
  ``out/part=<k>``. The write uses DYNAMIC partition overwrite, set
  per write (never in the session conf): a re-run replaces exactly
  the directories it writes rows into. A static overwrite would
  delete the whole output directory, committed partitions and the
  ``out/_manifest`` directory included.
- ONE read-back aggregation over the landed pending directories,
  grouped by ``part``, yields every MANIFEST row: partition key,
  row/byte counts, content fingerprint, and ``wall_sec``, the wall
  time of the pass (write + read-back) that committed the row, plus
  ``schema``, the written frame's schema, so no read-back of the sink
  infers it from the files (a job per read). Each row commits by an
  atomic rename AFTER the data has landed — a crashed run leaves data
  without a manifest row and the partition simply re-runs (the
  dynamic overwrite makes that idempotent, the analogue of Iceberg's
  overwrite-by-filter).
- ``verify`` recomputes the same aggregation, in one pass, over the
  committed directories and diffs it against the manifest.

Sink layout: ``part`` lives only in the directory name, not in the
data files, and is read back as the exact directory string (no
partition type inference: key ``"007"`` stays ``"007"``). Outputs
written by the earlier one-write-per-partition layout (``part`` also
a file column) are not resumed: start those runs fresh.

At cluster scale the manifest is an Iceberg table and the data write
is one ``overwritePartitions()``; the control flow is identical."""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def lineage_fingerprint(*cols: Column, engine: str = "xxh64") -> Column:
    """Per-row content fingerprint for the lineage manifest.

    ``xxh64`` (default): ``F.xxhash64`` straight over the typed
    columns — JVM-native, no string casts, no concat; NULL vs ''
    stay distinct because the hash folds each value's type+null
    marker. The production engine at 100 TB.

    ``md5``: conv(md5-prefix) of the NULL-safe \\x1f-joined string
    forms (coalesce to \\x00 — concat_ws silently drops NULLs).
    Portable across engines, so the DuckDB oracle pins it."""
    if engine == "xxh64":
        return F.xxhash64(*cols)
    if engine != "md5":
        raise ValueError(f"unknown fingerprint engine {engine!r}")
    parts = [F.coalesce(c.cast("string"), F.lit("\x00")) for c in cols]
    return (
        F.conv(F.substring(F.md5(F.concat_ws("\x1f", *parts)), 1, 15), 16, 10)
        .cast("long")
    )


# the manifest metrics of a partition with no rows (SQL sums over no
# rows are NULL)
_NO_ROWS = {"n_rows": 0, "n_bytes": None, "fingerprint": None}

# largest prime below 2^63: the modulus of the multiset fingerprint
_FP_PRIME = 9223372036854775783


def _lineage_aggs(
    payload: Column, fp_cols: list[Column], engine: str = "xxh64"
):
    """The ONE definition of the manifest metrics (shared by
    ``lineage_metrics`` and ``CheckpointedRun.run_partition`` — keep
    them from drifting).

    The fingerprint is a MODULAR SUM of per-row hashes (AdHash-style
    multiset hash): commutative, so partitioning/order never matter,
    and — unlike a bit_xor fold, where a duplicated row pair cancels
    to zero — every copy of a row moves the sum, so multisets that
    differ by duplicate pairs get different fingerprints (collision
    odds ~1/2^63 per comparison). The sum runs in decimal(38,0)
    (10^12 rows x 2^63 < 10^32, no overflow even under ANSI), then
    reduces mod the largest sub-2^63 prime back to a long."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.octet_length(payload)).cast("long").alias("n_bytes"),
        F.pmod(
            F.sum(
                lineage_fingerprint(*fp_cols, engine=engine)
                .cast("decimal(38,0)")
            ),
            F.lit(_FP_PRIME).cast("decimal(38,0)"),
        ).cast("long").alias("fingerprint"),
    ]


def lineage_metrics(
    df: DataFrame,
    keys: list[str | Column],
    payload: Column,
    fp_cols: list[Column],
    engine: str = "xxh64",
) -> DataFrame:
    """Per-partition lineage manifest row (north_rule: "per-partition
    lineage + metrics"): row count, payload bytes, and an
    order-independent content fingerprint (see ``_lineage_aggs`` for
    the multiset-hash construction). One map-side-combined shuffle on
    the partition keys; nothing here grows with corpus size except
    the scan."""
    return df.groupBy(*keys).agg(*_lineage_aggs(payload, fp_cols, engine))


# the sink's partition column: the ``part=<key>`` directory name
_PART = "part"


@dataclass
class CheckpointedRun:
    """A resumable partitioned write to ``out_dir`` with a committed
    manifest row per partition. Every row certifies the partition's
    row count, the bytes of ``payload_col`` and the order-independent
    content fingerprint over ``fp_cols``; a run and its ``verify``
    audit use the same pair by construction."""

    out_dir: str
    payload_col: str
    fp_cols: list[str]

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.out_dir, "_manifest")

    def _manifest(self) -> list[tuple[str, dict]]:
        """Every committed manifest row as ``(key in its file name,
        row)``, in file-name order, read on the driver the way
        ``_commit`` writes them: no Spark job. The ``*.json`` glob keeps
        a torn ``.<key>.json.tmp`` from a crash between write and
        rename out of the read (a tmp is NOT a commit). A file that is
        not a JSON object with a string ``part_key`` raises and names
        the file: read as a NULL key it would silently re-run the
        hour."""
        rows = []
        pattern = os.path.join(glob.escape(self.manifest_dir), "*.json")
        for path in sorted(glob.glob(pattern)):
            with open(path) as f:
                try:
                    row = json.load(f)
                except ValueError as e:
                    raise ValueError(f"manifest row {path} is not JSON: {e}") from e
            if not isinstance(row, dict) or not isinstance(row.get("part_key"), str):
                raise ValueError(f"manifest row {path} has no part_key")
            rows.append((os.path.basename(path)[: -len(".json")], row))
        return rows

    def committed_keys(self) -> set:
        """Committed = has a ``<key>.json`` manifest row."""
        return {row["part_key"] for _, row in self._manifest()}

    def pending(self, all_keys: list) -> list:
        done = self.committed_keys()
        return [k for k in all_keys if str(k) not in done]

    def run_partition(
        self, spark: SparkSession, df: DataFrame, keys: list,
    ) -> list[dict]:
        """Process the partitions ``keys`` idempotently in one pass:
        one partitioned write of their rows, then one read-back
        aggregation that commits a manifest row per key. Returns the
        committed manifest rows.

        The manifest is computed from what landed on disk, not from
        what the plan intended — that is the point: the manifest
        certifies the output. A key with no rows commits ``rows: 0``.
        Each row also records ``schema``, the written frame's schema,
        so the read-back here and in ``verify`` needs no schema
        inference."""
        if not keys:
            return []
        t0 = time.time()
        schema = df.schema
        (
            df.where(F.col(_PART).isin(list(keys)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_PART)
            .parquet(self.out_dir)
        )
        landed = self._landed_stats(spark, [str(k) for k in keys], schema)
        wall_sec = round(time.time() - t0, 3)
        results = []
        for key in keys:
            stats = landed.get(str(key), _NO_ROWS)
            metrics = {
                "part_key": str(key),
                "rows": stats["n_rows"],
                "wall_sec": wall_sec,
                "committed_at": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
                "bytes": stats["n_bytes"],
                "fingerprint": stats["fingerprint"],
                "schema": schema.json(),
            }
            self._commit(metrics)
            results.append(metrics)
        return results

    def _commit(self, metrics: dict) -> None:
        """Commit one manifest row: one json file per partition, made
        visible by the atomic rename the filesystem gives us (Iceberg
        swaps this for a snapshot commit)."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        key = metrics["part_key"]
        path = os.path.join(self.manifest_dir, f"{key}.json")
        # dot-prefixed tmp, not ending in .json: the manifest glob skips
        # it, so a crash between write and rename never reads as committed
        tmp = os.path.join(self.manifest_dir, f".{key}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(metrics, f)
        os.replace(tmp, path)

    def _data_dir(self, key) -> str:
        return os.path.join(self.out_dir, f"{_PART}={key}")

    def _landed_stats(
        self, spark: SparkSession, keys: list[str], schema: StructType | None,
    ) -> dict[str, dict]:
        """The manifest metrics of ``keys`` as they exist on disk NOW,
        from one aggregation grouped by the partition column, read with
        ``schema`` (inferred if None). Keys whose directory is missing
        or holds no rows are absent."""
        present = [k for k in keys if os.path.isdir(self._data_dir(k))]
        if not present:
            return {}
        rows = (
            read_output(spark, self.out_dir, present, schema=schema)
            .groupBy(_PART)
            .agg(*_lineage_aggs(F.col(self.payload_col),
                                [F.col(c) for c in self.fp_cols]))
            .collect()
        )
        return {r[_PART]: r.asDict() for r in rows}

    def run(self, spark: SparkSession, df: DataFrame, all_keys: list) -> dict:
        """Process all pending partitions in one pass; returns the run
        summary."""
        todo = self.pending(all_keys)
        results = self.run_partition(spark, df, todo)
        return {
            "partitions_total": len(all_keys),
            "partitions_ran": len(todo),
            "partitions_skipped": len(all_keys) - len(todo),
            "rows_written": sum(r["rows"] for r in results),
        }

    def verify(self, spark: SparkSession) -> list[dict]:
        """Re-certify every committed partition: recompute the lineage
        metrics from the data directories as they exist NOW (one
        aggregation over all of them) and diff them against the
        committed manifest rows. Returns one dict per committed
        partition with ``ok`` plus the expected/actual values — the
        audit a resumed run (or a suspicious operator) uses to prove
        untouched partitions still hold the exact row multiset their
        manifest certified. A manifest file whose ``part_key`` is not
        its file name is reported, not audited. The read uses the schema
        the audited rows all recorded; rows written without one, or
        that disagree, make the read infer it."""
        manifest = self._manifest()
        committed = {key: m for key, m in manifest if m["part_key"] == key}
        schemas = {m.get("schema") for m in committed.values()}
        schema = (
            StructType.fromJson(json.loads(next(iter(schemas))))
            if len(schemas) == 1 and None not in schemas else None
        )
        landed = self._landed_stats(spark, list(committed), schema)
        results = []
        for name, m in manifest:
            key = m["part_key"]
            row = {"part_key": key, "rows_expected": m.get("rows")}
            if key != name:
                row.update({"ok": False,
                            "error": f"manifest row {name}.json holds "
                                     f"part_key {key!r}"})
                results.append(row)
                continue
            stats = landed.get(key, _NO_ROWS)
            if stats is _NO_ROWS and m["rows"]:
                # a committed partition whose rows are gone IS the
                # tamper verify() exists to catch — report it, keep
                # auditing the rest
                row.update({"ok": False,
                            "error": f"no rows under {self._data_dir(key)}"})
                results.append(row)
                continue
            row.update({
                "rows_actual": stats["n_rows"],
                "bytes_expected": m.get("bytes"),
                "bytes_actual": stats["n_bytes"],
                "fingerprint_expected": m.get("fingerprint"),
                "fingerprint_actual": stats["fingerprint"],
            })
            row["ok"] = (
                stats["n_rows"] == m["rows"]
                and stats["n_bytes"] == m.get("bytes")
                and stats["fingerprint"] == m.get("fingerprint")
            )
            results.append(row)
        return results


def read_output(
    spark: SparkSession, out_dir: str, keys: list | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """The landed sink: the ``part=<k>`` directories of ``keys`` under
    ``out_dir`` (which must exist), or, without keys, every one listed
    on the driver. The partition column is read back as the exact
    directory string — a user-given type bypasses partition type
    inference, which would turn key ``"007"`` into the integer 7.

    ``schema`` is the schema of the frame that was written (the
    manifest records it; the partition column may have any type and
    place). Given, the read launches no job; without it Spark infers
    the schema from the files, which is one job."""
    if keys is None:
        prefix = f"{_PART}="
        keys = sorted(
            d[len(prefix):] for d in os.listdir(out_dir)
            if d.startswith(prefix)
            and os.path.isdir(os.path.join(out_dir, d))
        )
    paths = [os.path.join(out_dir, f"{_PART}={k}") for k in keys]
    reader = spark.read.option("basePath", out_dir)
    if schema is None:
        schema = reader.parquet(*paths).schema
    return reader.schema(StructType([
        *(f for f in schema.fields if f.name != _PART),
        StructField(_PART, StringType()),
    ])).parquet(*paths)
