"""Idempotent checkpoint/resume semantics."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from vrl_spark.operators import checkpoint
from vrl_spark.operators.checkpoint import CheckpointedRun, read_output


def make_df(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("part"), (F.col("id") * 2).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("txt"),
    )


def new_run(path, payload_col="txt", fp_cols=("id", "v", "txt")):
    return CheckpointedRun(str(path), payload_col, list(fp_cols))


def test_full_run_then_resume_noop(spark, tmp_path):
    df = make_df(spark)
    run = new_run(tmp_path / "out")
    summary = run.run(spark, df, [0, 1, 2, 3])
    assert summary["partitions_ran"] == 4
    assert summary["rows_written"] == 100
    # resume: nothing pending, nothing re-runs
    summary2 = run.run(spark, df, [0, 1, 2, 3])
    assert summary2["partitions_ran"] == 0
    assert summary2["partitions_skipped"] == 4
    out = read_output(spark, run.out_dir)
    assert out.count() == 100


def test_crash_resume_reprocesses_only_missing(spark, tmp_path):
    df = make_df(spark)
    run = new_run(tmp_path / "out")
    # simulate a run that died after 2 partitions
    run.run_partition(spark, df, [0, 1])
    # a crashed partition: data written but manifest missing
    df.where(F.col("part") == 2).write.mode("overwrite").parquet(
        os.path.join(run.out_dir, "part=2")
    )
    summary = run.run(spark, df, [0, 1, 2, 3])
    assert summary["partitions_ran"] == 2  # 2 (re-done idempotently) and 3
    out = read_output(spark, run.out_dir)
    assert out.count() == 100
    # no duplicated rows from the re-run
    assert out.select("id").distinct().count() == 100


def test_empty_manifest_dir_resumes_cleanly(spark, tmp_path):
    """Crash between makedirs and the first committed rename: manifest
    dir exists but holds zero *.json files (possibly a torn .tmp) —
    committed_keys must return empty, not raise."""
    df = make_df(spark)
    run = new_run(tmp_path / "out")
    os.makedirs(run.manifest_dir, exist_ok=True)
    with open(os.path.join(run.manifest_dir, ".0.json.tmp"), "w") as f:
        f.write('{"part_key": "0"')  # torn write, not committed
    assert run.committed_keys() == set()
    summary = run.run(spark, df, [0, 1, 2, 3])
    assert summary["partitions_ran"] == 4
    assert read_output(spark, run.out_dir).count() == 100


def test_manifest_metrics(spark, tmp_path):
    df = make_df(spark)
    run = new_run(tmp_path / "out")
    [m] = run.run_partition(spark, df, [0])
    assert m["rows"] == 25
    committed = run.committed_keys()
    assert committed == {"0"}


def test_manifest_lineage_fingerprint(spark, tmp_path):
    """Payload bytes + fingerprint land in the manifest; the
    fingerprint is order-independent and re-run-stable, and matches
    an independent lineage_metrics() recompute over the output."""
    from vrl_spark.operators.checkpoint import lineage_metrics

    df = make_df(spark)
    run = new_run(tmp_path / "out")
    [m] = run.run_partition(
        spark, df, [0]
    )
    assert m["rows"] == 25
    # payload bytes: ids 0,4,...,96 → 'row-0'..'row-96' (5 or 6 chars)
    exp_bytes = sum(len(f"row-{i}") for i in range(0, 100, 4))
    assert m["bytes"] == exp_bytes
    # independent recompute over what landed on disk
    out = read_output(spark, run.out_dir).where(F.col("part") == 0)
    lm = lineage_metrics(
        out, [F.col("part")], F.col("txt"),
        [F.col("id"), F.col("v"), F.col("txt")],
    ).collect()[0]
    assert lm["fingerprint"] == m["fingerprint"]
    assert lm["n_bytes"] == m["bytes"]
    # order-independence: shuffled input, same partition content
    [m2] = new_run(tmp_path / "out2").run_partition(
        spark, df.repartition(7).sortWithinPartitions(F.col("v").desc()),
        [0],
    )
    assert m2["fingerprint"] == m["fingerprint"]
    # sensitivity: a single changed row flips the fingerprint
    df3 = df.withColumn(
        "v", F.when(F.col("id") == 4, F.lit(999)).otherwise(F.col("v"))
    )
    [m3] = new_run(tmp_path / "out3").run_partition(
        spark, df3, [0]
    )
    assert m3["fingerprint"] != m["fingerprint"]
    # duplicate-pair sensitivity (the reason the fold is a modular
    # SUM, not bit_xor, where h XOR h = 0 would cancel): adding two
    # identical copies of a row must change the fingerprint
    dup_rows = df.where(F.col("id") == 4)
    df4 = df.union(dup_rows).union(dup_rows)
    [m4] = new_run(tmp_path / "out4").run_partition(
        spark, df4, [0]
    )
    assert m4["rows"] == 27
    assert m4["fingerprint"] != m["fingerprint"]


def test_verify_recertifies_partitions(spark, tmp_path):
    """verify() passes on untouched partitions and pinpoints the one
    whose data was tampered with after its manifest committed."""
    import shutil

    df = make_df(spark)
    run = new_run(tmp_path / "out")
    run.run(spark, df, [0, 1])
    ok = run.verify(spark)
    assert [r["ok"] for r in ok] == [True, True]
    # tamper: swap partition 1's data for partition 0's rows
    p0 = os.path.join(run.out_dir, "part=0")
    p1 = os.path.join(run.out_dir, "part=1")
    shutil.rmtree(p1)
    shutil.copytree(p0, p1)
    res = {r["part_key"]: r["ok"] for r in run.verify(
        spark
    )}
    assert res == {"0": True, "1": False}
    # deletion (the most basic tamper): the audit reports it and
    # still certifies the intact partition instead of crashing
    shutil.rmtree(p1)
    res2 = {r["part_key"]: r for r in run.verify(
        spark
    )}
    assert res2["0"]["ok"] is True
    assert res2["1"]["ok"] is False and "error" in res2["1"]
    # payload tampering alone (fingerprint cols unchanged) is caught
    # by the byte comparison
    run3 = new_run(tmp_path / "out5", fp_cols=["id"])
    run3.run_partition(spark, df, [0])
    df_t = df.withColumn(
        "txt", F.when(F.col("id") == 4, F.lit("TAMPERED-LONGER"))
        .otherwise(F.col("txt"))
    )
    df_t.where(F.col("part") == 0).write.mode("overwrite").parquet(
        os.path.join(run3.out_dir, "part=0")
    )
    v3 = run3.verify(spark)[0]
    assert v3["ok"] is False
    assert v3["bytes_actual"] != v3["bytes_expected"]


def test_one_pass_manifest_matches_per_key_lineage(spark, tmp_path, monkeypatch):
    """One write + one read-back commits, for every key, exactly the
    manifest row lineage_metrics() gives over that key's landed rows.
    Zero-padded keys round-trip as strings (no partition type
    inference), a key with no rows commits rows 0, and a resume with
    nothing pending issues no write."""
    from pyspark.sql.readwriter import DataFrameWriter

    from vrl_spark.operators.checkpoint import lineage_metrics

    df = spark.range(90).select(
        F.col("id"),
        F.lpad((F.col("id") % 3).cast("string"), 3, "0").alias("part"),
        F.concat(F.lit("row-"), F.col("id")).alias("txt"),
    )
    keys = ["000", "001", "002", "007"]
    run = new_run(tmp_path / "out", fp_cols=["id", "txt"])
    committed = {m["part_key"]: m for m in run.run_partition(spark, df, keys)}
    assert sorted(os.listdir(run.manifest_dir)) == [f"{k}.json" for k in keys]
    assert run.committed_keys() == set(keys)
    out = read_output(spark, run.out_dir)
    assert sorted(r["part"] for r in out.select("part").distinct().collect()) == keys[:3]
    for k in keys[:3]:
        [lm] = lineage_metrics(
            out.where(F.col("part") == k), [F.col("part")], F.col("txt"),
            [F.col("id"), F.col("txt")],
        ).collect()
        m = committed[k]
        assert lm["part"] == k
        assert (m["rows"], m["bytes"], m["fingerprint"]) == (
            lm["n_rows"], lm["n_bytes"], lm["fingerprint"])
        assert m["rows"] == 30
    assert committed["007"]["rows"] == 0
    assert all(r["ok"] for r in run.verify(spark))

    def no_write(*args, **kwargs):
        raise AssertionError("a resume with nothing pending wrote data")

    monkeypatch.setattr(DataFrameWriter, "parquet", no_write)
    summary = run.run(spark, df, keys)
    assert summary["partitions_ran"] == 0 and summary["partitions_skipped"] == 4


def test_resume_overwrites_only_pending_partitions(spark, tmp_path):
    """The resume's write is a dynamic partition overwrite set on the
    write itself: committed partition directories and their manifest
    rows are left as they were, and the session conf is not touched."""
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(conf_key)
    df = make_df(spark)
    run = new_run(tmp_path / "out")
    run.run(spark, df, [0, 1, 2, 3])
    os.remove(os.path.join(run.manifest_dir, "2.json"))  # crashed partition

    def snapshot(d):
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    kept = {k: snapshot(os.path.join(run.out_dir, f"part={k}")) for k in (0, 1, 3)}
    manifest = snapshot(run.manifest_dir)
    summary = run.run(spark, df, [0, 1, 2, 3])
    assert summary["partitions_ran"] == 1 and summary["rows_written"] == 25
    assert {k: snapshot(os.path.join(run.out_dir, f"part={k}"))
            for k in (0, 1, 3)} == kept
    after = snapshot(run.manifest_dir)
    assert sorted(after) == sorted([*manifest, "2.json"])
    assert {f: after[f] for f in manifest} == manifest
    assert spark.conf.get(conf_key) == conf_before
    assert read_output(spark, run.out_dir).count() == 100


def _rewrite(path, edit):
    with open(path) as f:
        row = json.load(f)
    edit(row)
    with open(path, "w") as f:
        json.dump(row, f)


def test_manifest_read_on_driver(spark, tmp_path, jobs_of):
    """committed_keys/pending read the manifest files on the driver: no
    Spark job, and a torn ``.<key>.json.tmp`` beside committed rows is
    not a commit."""
    df = make_df(spark)
    run = new_run(tmp_path / "out")
    run.run_partition(spark, df, [0, 1])
    with open(os.path.join(run.manifest_dir, ".2.json.tmp"), "w") as f:
        f.write('{"part_key": "2"')
    assert jobs_of(run.committed_keys) == ({"0", "1"}, 0)
    assert jobs_of(lambda: run.pending([0, 1, 2, 3])) == ([2, 3], 0)


@pytest.mark.parametrize("text, why", [
    ('{"part_key": "2", "rows": 25', "is not JSON"),
    ('{"rows": 25}', "has no part_key"),
    ('["2"]', "has no part_key"),
])
def test_corrupt_manifest_row_raises_and_names_the_file(spark, tmp_path, text, why):
    """A committed file that is not a manifest row is an error, not a
    pending hour (read as a NULL key it would silently re-run)."""
    run = new_run(tmp_path / "out")
    run.run_partition(spark, make_df(spark), [0, 1])
    with open(os.path.join(run.manifest_dir, "2.json"), "w") as f:
        f.write(text)
    for call in (run.committed_keys, lambda: run.pending([0, 1, 2, 3]),
                 lambda: run.verify(spark)):
        with pytest.raises(ValueError, match=rf"2\.json {why}"):
            call()


def test_read_output_with_recorded_schema(spark, tmp_path, jobs_of):
    """The schema a manifest row records reads the sink back, with no
    job before an action, to the same schema and row multiset as the
    inferred read: zero-padded keys stay strings, timestamps stay
    timestamps, and the partition column comes last as a string
    whatever its type and place in the written frame."""
    df = spark.range(60).select(
        F.lpad((F.col("id") % 3 * 7).cast("string"), 3, "0").alias("part"),
        F.col("id"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
    )
    run = new_run(tmp_path / "out", payload_col="part", fp_cols=["id"])
    keys = ["000", "007", "014"]
    rows = run.run_partition(spark, df, keys)
    [recorded] = {m["schema"] for m in rows}
    schema = StructType.fromJson(json.loads(recorded))
    assert schema == df.schema
    given, jobs = jobs_of(lambda: read_output(spark, run.out_dir, keys, schema=schema))
    assert jobs == 0
    inferred = read_output(spark, run.out_dir, keys)
    assert given.schema == inferred.schema
    assert [(f.name, f.dataType.simpleString()) for f in given.schema] == [
        ("id", "bigint"), ("ts", "timestamp"), ("part", "string")]
    assert sorted(given.collect()) == sorted(inferred.collect())
    assert {r["part"] for r in given.select("part").distinct().collect()} == set(keys)
    # an int partition column in the written frame reads back as string
    ints = new_run(tmp_path / "ints")
    ints.run_partition(spark, make_df(spark), [0, 1, 2, 3])
    got = read_output(spark, ints.out_dir, schema=make_df(spark).schema)
    assert got.schema == read_output(spark, ints.out_dir).schema
    assert sorted(got.collect()) == sorted(read_output(spark, ints.out_dir).collect())


def test_read_output_without_keys_lists_partitions(spark, tmp_path, monkeypatch):
    """Without keys the read names every ``part=`` directory found on the
    driver, the same keyed path a read with keys takes. A ``part=*``
    glob path made Spark log a FileNotFoundException for the glob on
    every such read."""
    from pyspark.sql.readwriter import DataFrameReader

    df = make_df(spark)
    run = new_run(tmp_path / "out")
    run.run(spark, df, [0, 1, 2])
    read_paths = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        read_paths.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    want = tuple(os.path.join(run.out_dir, f"part={k}") for k in "012")
    for schema in (None, df.schema):
        read_paths.clear()
        out = read_output(spark, run.out_dir, schema=schema)
        assert read_paths and set(read_paths) == {want}
        assert sorted(out.collect()) == sorted(
            read_output(spark, run.out_dir, ["0", "1", "2"]).collect())
        assert out.count() == 75


def test_verify_infers_schema_without_an_agreed_one(spark, tmp_path, monkeypatch):
    """verify reads the sink with the schema its rows agree on; a row
    written without one (before rows carried it), or rows that
    disagree, make it infer the schema, and the audit still passes."""
    df = make_df(spark)
    run = new_run(tmp_path / "out")
    run.run(spark, df, [0, 1, 2])
    schemas = []
    read = checkpoint.read_output

    def spy(*args, **kwargs):
        schemas.append(kwargs.get("schema"))
        return read(*args, **kwargs)

    monkeypatch.setattr(checkpoint, "read_output", spy)

    def audit():
        schemas.clear()
        assert [r["ok"] for r in run.verify(spark)] == [True] * 3
        return schemas

    assert audit() == [df.schema]
    _rewrite(os.path.join(run.manifest_dir, "1.json"), lambda m: m.pop("schema"))
    assert audit() == [None]
    _rewrite(os.path.join(run.manifest_dir, "1.json"),
             lambda m: m.update(schema=df.drop("txt").schema.json()))
    assert audit() == [None]


def test_verify_reports_misfiled_manifest_row(spark, tmp_path):
    """A manifest file whose part_key is not its file name is reported
    by verify (not a FileNotFoundError), and the other rows are still
    audited."""
    run = new_run(tmp_path / "out")
    run.run_partition(spark, make_df(spark), [0, 1])
    os.rename(os.path.join(run.manifest_dir, "1.json"),
              os.path.join(run.manifest_dir, "5.json"))
    res = run.verify(spark)
    assert [(r["part_key"], r["ok"]) for r in res] == [("0", True), ("1", False)]
    assert "5.json" in res[1]["error"]
