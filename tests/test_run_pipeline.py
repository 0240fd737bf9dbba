"""The production driver end to end: a crash between the data write and
the manifest commit, then ``--resume`` and ``--verify``; a tamper that
only ``--verify``'s fingerprint catches; and the Spark jobs each call
launches."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

import run_pipeline
from vrl_spark.operators.checkpoint import CheckpointedRun

# Spark jobs of the fixture's fresh run and ``--resume`` (2 of 4 hours
# pending) when the manifest was read by a Spark job and every read-back
# inferred its schema from the files: the baseline the counts are held
# below
PARENT_JOBS = {"fresh": 15, "resume": 17}


@pytest.fixture(scope="module")
def pages(spark, sf_dir, tmp_path_factory):
    """Four hours of the fixture's pages."""
    from vrl_spark.plans import weblog

    path = str(tmp_path_factory.mktemp("pages") / "pages")
    weblog.load_pages(spark, sf_dir).where(F.hour("warc_ts") < 4).write.parquet(path)
    return path


@pytest.fixture
def pipeline(sf_dir, pages, monkeypatch, capsys):
    """``pipeline(out, *flags)`` -> (exit code, last JSON line printed)."""

    def run(out: str, *flags: str):
        monkeypatch.setattr(sys, "argv", [
            "run_pipeline.py", "--input", sf_dir, "--pages", pages,
            "--output", out, *flags,
        ])
        rc = run_pipeline.main()
        return rc, json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    return run


def _manifest(out: str) -> dict:
    mdir = os.path.join(out, "routed", "_manifest")
    rows = {}
    for name in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, name)) as f:
            m = json.load(f)
        rows[m["part_key"]] = (m["rows"], m["bytes"], m["fingerprint"])
    return rows


def test_crash_before_manifest_then_resume_and_verify(
    spark, pages, pipeline, tmp_path, monkeypatch, capsys
):
    from vrl_spark.plans import weblog

    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    rc, summary = pipeline(clean)
    assert rc == 0 and summary["partitions_ran"] == 4
    hours = set(_manifest(clean))
    assert len(hours) == 4

    # the pass lands every hour's data, then dies committing the third
    # manifest row
    commit = CheckpointedRun._commit
    committed = []

    def crash_on_third(self, metrics):
        if len(committed) == 2:
            raise RuntimeError("injected crash before the manifest commit")
        commit(self, metrics)
        committed.append(metrics["part_key"])

    with monkeypatch.context() as m:
        m.setattr(CheckpointedRun, "_commit", crash_on_third)
        with pytest.raises(RuntimeError, match="injected crash"):
            pipeline(crashed)
    capsys.readouterr()
    landed = {d.removeprefix("part=")
              for d in os.listdir(os.path.join(crashed, "routed"))
              if d.startswith("part=")}
    assert landed == hours
    assert set(_manifest(crashed)) == set(committed)

    rerun = []
    run_partition = CheckpointedRun.run_partition

    def spy(self, spark, df, keys, *args, **kwargs):
        rerun.extend(keys)
        return run_partition(self, spark, df, keys, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(CheckpointedRun, "run_partition", spy)
        rc, summary = pipeline(crashed, "--resume")
    assert rc == 0
    assert (summary["partitions_ran"], summary["partitions_skipped"]) == (2, 2)
    assert sorted(rerun) == sorted(hours - set(committed))

    rc, audit = pipeline(crashed, "--verify")
    assert rc == 0
    assert audit["partitions_audited"] == audit["partitions_ok"] == 4
    assert _manifest(crashed) == _manifest(clean)
    aggregates = {
        out: sorted(map(tuple, spark.read.parquet(
            os.path.join(out, "aggregates")).collect()))
        for out in (clean, crashed)
    }
    # aggregates read back from the sink equal the in-memory flagship
    direct = weblog.aggregate_stage(
        weblog.routed_stage(spark, spark.read.parquet(pages)))
    want = sorted(map(tuple, direct.collect()))
    assert aggregates[clean] == aggregates[crashed] == want


def test_driver_jobs_run_only_over_data(pipeline, jobs_of, tmp_path):
    """The manifest is read on the driver and every read-back of the
    sink or the aggregates uses a known schema, so ``--verify``
    launches only its read-back aggregation's jobs and ``--resume`` at
    least 4 fewer than before. The lang lookup is a map literal, so no
    run builds a broadcast: one job fewer on fresh and on resume."""
    out = str(tmp_path / "out")
    (rc, summary), fresh = jobs_of(lambda: pipeline(out))
    assert rc == 0 and summary["partitions_ran"] == 4
    mdir = os.path.join(out, "routed", "_manifest")
    for name in sorted(os.listdir(mdir))[:2]:
        os.remove(os.path.join(mdir, name))
    (rc, summary), resume = jobs_of(lambda: pipeline(out, "--resume"))
    assert rc == 0 and summary["partitions_ran"] == 2
    (rc, audit), verify = jobs_of(lambda: pipeline(out, "--verify"))
    assert rc == 0 and audit["partitions_ok"] == 4
    assert verify <= 2
    # one fewer on each since the lang dim stopped being a broadcast
    assert resume <= PARENT_JOBS["resume"] - 5, resume
    assert fresh <= PARENT_JOBS["fresh"] - 4, fresh


def test_verify_catches_a_same_size_tamper(spark, pipeline, tmp_path):
    """One landed hour rewritten with one row's ``status_int`` changed
    keeps its row count and ``url`` bytes: only the content fingerprint
    can catch it, and ``--verify`` fails exactly that hour on it."""
    out = str(tmp_path / "out")
    rc, _ = pipeline(out)
    assert rc == 0
    hour = sorted(_manifest(out))[1]
    landed = os.path.join(out, "routed", f"part={hour}")
    df = spark.read.parquet(landed)
    victim = df.where(F.col("status_int").isNotNull()).first()["doc_id"]
    tampered = str(tmp_path / "tampered")
    df.withColumn("status_int", F.when(
        F.col("doc_id") == victim, F.col("status_int") + 1,
    ).otherwise(F.col("status_int"))).write.parquet(tampered)
    shutil.rmtree(landed)
    shutil.move(tampered, landed)

    rc, audit = pipeline(out, "--verify")
    assert rc == 1
    assert (audit["partitions_audited"], audit["partitions_ok"]) == (4, 3)
    [bad] = audit["failures"]
    assert bad["part_key"] == hour
    assert bad["rows_actual"] == bad["rows_expected"]
    assert bad["bytes_actual"] == bad["bytes_expected"]
    assert bad["fingerprint_actual"] != bad["fingerprint_expected"]
