"""Production driver: the spark-submit entry point.

    # package the engine, submit at any cluster size:
    python -m zipfile -c /tmp/vrl_spark.zip vrl_spark
    spark-submit --py-files /tmp/vrl_spark.zip run_pipeline.py \
        --input /root/testdata/sf0.1 --output /tmp/weblog_out \
        [--resume] [--verify] [--master local[32]]

Runs the flagship parse->enrich->route pipeline partitioned by hour,
through the checkpoint manager, one pass per phase:

- the hours are listed from a column-pruned scan of the pages (routed
  rows map 1:1 to pages, so the set of hours is the same);
- the pending hours land in ONE ``partitionBy(part)`` write under
  ``<output>/routed/part=<yyyyMMddHH>``, with dynamic partition
  overwrite set on the write itself: ``routed/_manifest`` lives under
  the same directory, and a static overwrite would delete it along
  with every committed hour;
- ONE read-back aggregation over the landed hours commits a manifest
  row (rows, payload bytes, content fingerprint, ``wall_sec``, the
  wall time of the pass that committed the row, and the written
  frame's schema) per hour, each after its data has landed;
- the manifest is read on the driver, with no Spark job: ``--resume``
  re-runs only the hours it does not hold, and ``--verify``
  re-certifies every committed hour in one aggregation, reading the
  sink with the schema its rows recorded;
- the aggregates are computed from the landed sink, read back for this
  input's hours with the routed frame's schema, and land beside it.

Spark jobs run only over data: no read of the sink or the aggregates
infers a schema from the files.

Sink layout: ``part`` comes from the directory name (not a column in
the files) and the files carry ``url_host`` for the aggregates. An
output written by an earlier layout cannot be resumed; run it fresh.
Exit code 0 only if all partitions committed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

# The manifest lineage of every hour: payload bytes of ``url`` and the
# content fingerprint over these columns. A run and its --verify audit
# must use the same pair, so it is stated once.
LINEAGE = dict(
    payload_col="url",
    fp_cols=["doc_id", "url", "route", "status_int", "bytes_int", "error"],
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir with documents.parquet (or a pages parquet via --pages)")
    ap.add_argument("--pages", help="read an existing pages parquet instead of deriving")
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--resume", action="store_true",
                    help="skip partitions already committed in the manifest")
    ap.add_argument("--verify", action="store_true",
                    help="audit committed partitions against their "
                         "manifest lineage (rows/bytes/fingerprint) and "
                         "exit non-zero on any mismatch; no data is "
                         "written")
    args = ap.parse_args()

    from vrl_spark.operators.checkpoint import CheckpointedRun, read_output
    from vrl_spark.plans import weblog
    from vrl_spark.session import get_spark

    spark = get_spark("vrl_spark_pipeline", master=args.master)

    run = CheckpointedRun(os.path.join(args.output, "routed"), **LINEAGE)
    if args.verify:
        # reads only the landed sink and its manifest: no input, no plan
        results = run.verify(spark)
        bad = [r for r in results if not r["ok"]]
        print(json.dumps({
            "partitions_audited": len(results),
            "partitions_ok": len(results) - len(bad),
            "failures": bad,
        }))
        return 0 if not bad else 1
    if not args.resume:
        # fresh run: clear any previous manifest so all partitions run
        import shutil

        shutil.rmtree(run.manifest_dir, ignore_errors=True)
    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages = weblog.load_pages(spark, args.input)
    hour = F.date_format("warc_ts", "yyyyMMddHH").alias("part")
    routed = weblog.routed_stage(spark, pages).select(
        "doc_id", "url", "url_host", "warc_ts", "route", "status_int",
        "bytes_int", "method", "level", "lang_norm", "lang_family", "error",
        hour,
    )
    # listed from a column-pruned scan of the pages, not the routed
    # frame: its parse cannot be pruned away (routed rows are 1:1 with
    # pages, so the hours are the same)
    hours = sorted(
        r["part"] for r in pages.select(hour).distinct().collect()
    )
    # manifest rows carry bytes + the order-independent xxh64 content
    # fingerprint: a resumed run re-certifies identical partitions
    summary = run.run(spark, routed, hours)

    # per-sink aggregates over what landed (idempotent overwrite)
    agg = weblog.aggregate_stage(
        read_output(spark, run.out_dir, hours, schema=routed.schema)
    )
    agg_dir = os.path.join(args.output, "aggregates")
    agg.write.mode("overwrite").parquet(agg_dir)

    summary["aggregate_rows"] = spark.read.schema(agg.schema).parquet(agg_dir).count()
    print(json.dumps(summary))
    return 0 if summary["partitions_ran"] + summary["partitions_skipped"] == summary["partitions_total"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
