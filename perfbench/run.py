#!/usr/bin/env python3
"""Benchmark of the remap-and-route engine, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload flagship_access --seed 1 \\
        --seconds 3 --trace 0

Each workload is a seeded pages table with a fixed line mix (see
``gen.py``). A run, in one process and one JVM at ``local[<cores>]``,
is a closed loop, one operation at a time:

1. generates the table and computes the DuckDB oracle once, before
   the JVM starts;
2. set-up 1: the JVM launch plus the first flagship call (read pages ->
   parse -> enrich -> route -> aggregate -> collect);
3. set-ups 2..``SETUPS``: a new Spark session plus its first call;
4. runs the production entry point ``run_pipeline.main`` fresh into an
   empty output, deletes a seeded ``CRASHED`` of its ``gen.HOURS``
   hour-partition manifest rows (a crash after the data write), then
   runs ``--resume`` and ``VERIFIES`` times ``--verify``;
5. calls the flagship for ``--seconds`` seconds and at least
   ``MIN_RUNS`` times.

Every operation is checked against the oracle; ``failed`` counts those
that raised or differed. ``setup_s`` is the median set-up wall time.
The other gated metrics are CPU seconds (user + system, this process
and the JVM and workers it starts): of the flagship call (median, less
the JVM's JIT compile seconds during the call), the fresh production
run, the resume and the verify (median). No wall time
is gated: on a shared 4-vCPU host, co-tenants slow a whole run at once,
by up to 2x. CPU seconds rise with them too, but wall times rise more,
and even the fastest of a run's flagship calls spreads past a 25% bound
between runs. The hypervisor's steal during a call is only a small part
of the slowdown, so taking it out of the wall time does not help. The
wall times of the same operations (median, and the fastest flagship
call as ``best_docs_per_s``), the stolen CPU seconds of each flagship
call and the peak RSS are printed and recorded, not gated. A change
that may cost parallelism is checked through ``scaling_eff`` and
``sources.tasks`` of a traced run.

``--trace 1`` makes a separate run that labels Spark job groups around
the same calls, reads Spark's event log, times each stage prefix and
the checkpoint calls, measures ``scaling_eff`` against ``local[1]`` and
reports the per-layer metrics (``targets.json`` says which end-to-end
metric each should move).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The lines before
it give each metric with its unit and sample count, the error rate,
and the run record (host context, CPU probe before and after, stolen
CPU seconds, the JVM's JIT compile seconds, table, phases, samples, job
groups).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, probe, trace  # noqa: E402

WORKLOADS = {"flagship_access": "access", "flagship_fallback": "fallback"}
N_PAGES = 60_000
SETUPS = 2        # set-ups per run; setup_s is their median
MIN_RUNS = 6      # timed flagship calls per run, even past --seconds
VERIFIES = 2      # --verify runs per production cycle
TRACE_REPS = 2    # traced calls per sample kind and stage prefix
LOCAL1_RUNS = 1   # timed local[1] calls, after one untimed warm call
CRASHED = 1       # manifest rows deleted before --resume
PREFIXES = ("scan", "parse", "enrich", "route", "aggregate")


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload, self.seed, self.seconds, self.traced = (
            workload, seed, seconds, traced)
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.docs = os.path.join(self.work, "docs", "documents.parquet")
        self.pages = os.path.join(self.work, "pages")
        self.out = os.path.join(self.work, "out")
        self.events = os.path.join(self.work, "events")
        self.tally = oracle.Tally(lambda: probe.tree_cpu_seconds(os.getpid()))
        self.cpu: dict[str, float] = {}  # CPU seconds of each timed operation
        self.build: dict[str, float] = {}
        self.steal: dict[str, float] = {}  # stolen CPU seconds during each flagship call
        self.jit: dict[str, float] = {}  # JIT compile seconds during each flagship call
        self.samples: dict = {}
        self.record: dict = {"workload": workload, "seed": seed, "traced": traced,
                             "n_pages": N_PAGES, "phase_s": {}}
        self.spark = None

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of a phase of the run, for the record."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.record["phase_s"][name] = time.perf_counter() - t0

    # -- sessions ------------------------------------------------------

    def start(self, cores: int, traced: bool = False) -> float:
        """(Re)start the Spark session; returns the ``get_spark`` seconds."""
        from vrl_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if traced:
            os.makedirs(self.events, exist_ok=True)
            conf.update(trace.event_log_conf(self.events))
        else:
            # a session restarted in the JVM of a traced one would
            # inherit its event log from the JVM's system properties
            conf["spark.eventLog.enabled"] = "false"
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
        secs = time.perf_counter() - t0
        logging = self.spark.sparkContext.getConf().get("spark.eventLog.enabled", "false")
        if (logging == "true") != traced:
            raise RuntimeError(f"event log is {logging!r} in a session with traced={traced}")
        return secs

    # -- operations ----------------------------------------------------

    def routed_df(self):
        from vrl_spark.plans import weblog

        spark = self.spark
        df = weblog.parse_stage(spark.read.parquet(self.pages))
        return weblog.route_stage(weblog.enrich_stage(spark, df))

    def flagship_df(self):
        from vrl_spark.plans import weblog

        return weblog.aggregate_stage(self.routed_df())

    def flagship(self, label: str):
        """One flagship call checked against the oracle; its seconds,
        or None if it failed. Its CPU seconds go to ``self.cpu``, the
        JVM's JIT compile seconds during it to ``self.jit`` and the time
        spent building its DataFrame to ``self.build``."""
        want = self.expected["aggregate"]

        def call():
            t0 = time.perf_counter()
            df = self.flagship_df()
            self.build[label] = time.perf_counter() - t0
            return df.collect()

        steal0, jit0 = probe.steal_seconds(), probe.jit_seconds()
        _, secs, self.cpu[label] = self.tally.run(
            label, call, lambda rows: oracle.normalize(rows) == want)
        self.steal[label] = probe.steal_seconds() - steal0
        self.jit[label] = probe.jit_seconds() - jit0
        return secs

    def pipeline(self, *flags: str):
        import run_pipeline

        argv = ["run_pipeline.py", "--input", os.path.dirname(self.docs),
                "--pages", self.pages, "--output", self.out, *flags]
        saved, sys.argv = sys.argv, argv
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                rc = run_pipeline.main()
        finally:
            sys.argv = saved
        return rc, json.loads(buf.getvalue().strip().splitlines()[-1])

    def landed_ok(self) -> bool:
        return oracle.landed(self.out) == self.expected

    def production(self, group=contextlib.nullcontext) -> dict:
        """Fresh run, crash, ``--resume``, ``--verify``: their seconds
        and the resume summary."""
        shutil.rmtree(self.out, ignore_errors=True)
        h = gen.HOURS
        with group("fresh"):
            _, fresh, self.cpu["pipeline.fresh"] = self.tally.run(
                "pipeline.fresh", lambda: self.pipeline(),
                lambda r: r[0] == 0 and r[1]["partitions_ran"] == h
                and self.landed_ok())
        manifest = os.path.join(self.out, "routed", "_manifest")
        rows = sorted(f for f in os.listdir(manifest) if f.endswith(".json")) \
            if os.path.isdir(manifest) else []
        for f in random.Random(self.seed).sample(rows, min(CRASHED, len(rows))):
            os.remove(os.path.join(manifest, f))
        with group("resume"):
            resumed, resume, self.cpu["pipeline.resume"] = self.tally.run(
                "pipeline.resume", lambda: self.pipeline("--resume"),
                lambda r: r[0] == 0 and r[1]["partitions_ran"] == CRASHED
                and r[1]["partitions_skipped"] == h - CRASHED
                and self.landed_ok())
        verify, verify_cpu = [], []
        for i in range(VERIFIES):
            with group(f"verify.{i}"):
                _, secs, cpu = self.tally.run(
                    f"pipeline.verify.{i}", lambda: self.pipeline("--verify"),
                    lambda r: r[0] == 0 and r[1]["partitions_audited"] == h
                    and r[1]["partitions_ok"] == h)
            verify.append(secs)
            verify_cpu.append(cpu)
            self.cpu[f"pipeline.verify.{i}"] = cpu
        self.cpu["pipeline.verify"] = median(verify_cpu)
        return {"fresh": fresh, "resume": resume, "verify": median(verify),
                "verifies": len([v for v in verify if v is not None]),
                "resume_summary": resumed[1] if resumed else {}}

    # -- phases --------------------------------------------------------

    def prepare(self) -> float:
        """The program's input and the oracle (untimed), then the JVM
        launch. Returns the launch's ``get_spark`` seconds."""
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        with self.phase("inputs"):
            table = gen.documents(self.seed, N_PAGES, WORKLOADS[self.workload])
            gen.write_documents(table, self.docs)
            self.record["table"] = gen.write_pages(self.docs, self.pages)
            self.expected = oracle.compute(self.docs)
        self.record["oracle_routes"] = self.expected["routes"]
        with self.phase("jvm_launch"):
            return self.start(self.cores, traced=self.traced)

    def measure(self, launch_s: float) -> tuple[dict, dict]:
        """The untraced run: the end-to-end metrics, and the wall-clock
        figures of the same operations (printed and recorded, not gated)."""
        setups, runs = [], []
        with self.phase("setup.0"):
            cold = self.flagship("setup.0")
            setups.append(cold and launch_s + cold)
        with self.phase("setup.n"):
            for i in range(1, SETUPS):
                start_s = self.start(self.cores)
                cold = self.flagship(f"setup.{i}")
                setups.append(cold and start_s + cold)
        # the production cycle runs before the flagship loop, so the
        # loop measures a session whose JIT has settled
        with self.phase("production"):
            prod = self.production()
        with self.phase("flagship"):
            t_end = time.monotonic() + self.seconds
            while time.monotonic() < t_end or len(runs) < MIN_RUNS:
                runs.append(self.flagship(f"flagship.{len(runs)}"))
        # a long-lived session pays for compiling the flagship's code
        # once; how much of that lands in the loop's calls depends on how
        # far the JIT has got, so the loop's CPU seconds leave it out
        loop = [f"flagship.{i}" for i in range(len(runs))]
        loop_cpu = [_diff(self.cpu[k], self.jit[k]) for k in loop]
        self.samples = {"setup_s": setups, "run_s": runs, "run_cpu_s": loop_cpu,
                        "run_jit_s": [self.jit[k] for k in loop],
                        "run_steal_s": [self.steal[k] for k in loop]}
        run_s, run_cpu = median(runs), median(loop_cpu)
        fastest = min((x for x in runs if x is not None), default=None)
        n = lambda xs: len([x for x in xs if x is not None])  # noqa: E731
        metrics = {
            "setup_s": (median(setups), "s", n(setups)),
            "run_cpu_s": (run_cpu, "s", n(loop_cpu)),
            "pipeline_cpu_s": (self.cpu["pipeline.fresh"], "s",
                               n([self.cpu["pipeline.fresh"]])),
            "resume_cpu_s": (self.cpu["pipeline.resume"], "s",
                             n([self.cpu["pipeline.resume"]])),
            "verify_cpu_s": (self.cpu["pipeline.verify"], "s", prod["verifies"]),
        }
        ungated = {
            "best_docs_per_s": (_ratio(N_PAGES, fastest), "docs/s", n(runs)),
            "run_s": (run_s, "s", n(runs)),
            "docs_per_s": (_ratio(N_PAGES, run_s), "docs/s", n(runs)),
            "docs_per_cpu_s": (_ratio(N_PAGES, run_cpu), "docs/cpu-s", n(loop_cpu)),
            "pipeline_s": (prod["fresh"], "s", n([prod["fresh"]])),
            "resume_s": (prod["resume"], "s", n([prod["resume"]])),
            "verify_s": (prod["verify"], "s", prod["verifies"]),
        }
        return metrics, ungated

    def measure_layers(self) -> dict:
        """The traced run: the per-layer metrics."""
        from vrl_spark.operators.checkpoint import CheckpointedRun
        from vrl_spark.plans import weblog

        spark = self.spark
        group = lambda name: trace.job_group(spark, name)  # noqa: E731
        gc0 = trace.jvm_gc_seconds(spark)
        with self.phase("cold"), group("cold"):
            self.flagship("cold")
        shape = trace.plan_shape(self.flagship_df())

        def prefix(upto: str):
            df = spark.read.parquet(self.pages)
            stages = {
                "parse": weblog.parse_stage,
                "enrich": lambda d: weblog.enrich_stage(spark, d),
                "route": weblog.route_stage,
                "aggregate": weblog.aggregate_stage,
            }
            for name in PREFIXES[1:PREFIXES.index(upto) + 1]:
                df = stages[name](df)
            df.write.format("noop").mode("overwrite").save()

        # each prefix is forced through the same sink; the first round
        # also compiles its code, so the fastest round counts
        wall_s = {p: [] for p in PREFIXES}
        cpu_s = {p: [] for p in PREFIXES}
        with self.phase("prefixes"):
            for i in range(TRACE_REPS):
                for p in PREFIXES:
                    with group(f"prefix.{p}.{i}"):
                        _, secs, cpu = self.tally.run(
                            f"prefix.{p}.{i}", lambda: prefix(p), lambda _: True)
                    wall_s[p].append(secs)
                    cpu_s[p].append(cpu)
        with self.phase("count"), group("count"):
            counts = self.count_rows()
        with self.phase("production"), trace.CallTimes(
                CheckpointedRun, ["pending", "run_partition", "verify"]) as calls:
            prod = self.production(group)
        with self.phase("flagship"):
            traced = []
            for i in range(TRACE_REPS):
                with group(f"flagship.{i}"):
                    traced.append(self.flagship(f"traced.{i}"))
        gc_s = trace.jvm_gc_seconds(spark) - gc0
        manifest = os.path.join(self.out, "routed", "_manifest")
        manifest_rows = len([f for f in os.listdir(manifest) if f.endswith(".json")])
        sink = [os.path.join(d, f) for d, _, fs in os.walk(self.out)
                for f in fs if f.endswith(".parquet")]
        sink_bytes = sum(os.path.getsize(f) for f in sink)

        spark.stop()  # flushes the event log
        self.spark = None
        jobs = trace.by_job_group(trace.read_event_log(self.events), self.pages)
        # the untraced baseline for trace.overhead, as late in the JVM's
        # life as the traced calls
        with self.phase("untraced"):
            session_s = self.start(self.cores)
            self.flagship("untraced.warm")
            untraced = [self.flagship(f"untraced.{i}") for i in range(TRACE_REPS)]
        with self.phase("local1"):
            self.start(1)
            self.flagship("local1.warm")
            local1 = [self.flagship(f"local1.{i}") for i in range(LOCAL1_RUNS)]

        def groups(name: str) -> list[dict]:
            return [g for k, g in jobs.items() if k.startswith(name + ".")]

        def fastest(xs):
            return min((x for x in xs if x is not None), default=None)

        def self_time(samples: dict) -> dict:
            best = {p: fastest(v) for p, v in samples.items()}
            return {p: _diff(best[p], best[PREFIXES[i - 1]]) if i else best[p]
                    for i, p in enumerate(PREFIXES)}

        wall, cpu = self_time(wall_s), self_time(cpu_s)
        scans = groups("prefix.scan")
        table = self.record["table"]
        attempts = counts["rows"] - counts["primary"]
        resumed = prod["resume_summary"]
        traced_cpu = [self.cpu[f"traced.{i}"] for i in range(TRACE_REPS)]
        untraced_cpu = [self.cpu[f"untraced.{i}"] for i in range(TRACE_REPS)]
        self.record["job_groups"] = {
            k: {"jobs": g["jobs"], "tasks": len(g["tasks"]), "rows_read": g["rows_read"],
                "scan_rows": g["scan_rows"], "shuffle_write": g["shuffle_write"]}
            for k, g in jobs.items()}
        self.samples = {"prefix_s": wall_s, "prefix_cpu_s": cpu_s, "traced_s": traced,
                        "untraced_s": untraced, "local1_s": local1}
        m = {
            "session.start_s": (session_s, "s"),
            "sources.scan_s": (wall["scan"], "s"),
            "sources.scan_cpu_s": (cpu["scan"], "s"),
            "sources.rows": (counts["rows"], "rows"),
            "sources.bytes": (table["bytes"], "bytes"),
            "sources.tasks": (max(len(g["tasks"]) for g in scans), "count"),
            "sources.task_skew": (median([trace.task_skew(g["tasks"]) for g in scans]),
                                  "ratio"),
            "sources.scan_passes": (jobs["fresh"]["scan_rows"] / table["rows"], "ratio"),
            "plan.build_s": (median([self.build[f"traced.{i}"] for i in range(TRACE_REPS)]),
                             "s"),
            "parse.self_s": (wall["parse"], "s"),
            "parse.self_cpu_s": (cpu["parse"], "s"),
            "parse.primary_hits": (counts["primary"], "rows"),
            "parse.fallback_hits": (counts["fallback"], "rows"),
            "parse.misses": (counts["misses"], "rows"),
            "parse.fallback_yield": (_ratio(counts["fallback"], attempts), "ratio"),
            "parse.regex_nodes": (shape["regex_nodes"], "count"),
            "enrich.self_s": (wall["enrich"], "s"),
            "enrich.self_cpu_s": (cpu["enrich"], "s"),
            "enrich.lang_hits": (counts["lang_hits"], "rows"),
            "enrich.broadcast_joins": (shape["broadcast_joins"], "count"),
            "route.self_s": (wall["route"], "s"),
            "route.self_cpu_s": (cpu["route"], "s"),
            **{f"route.rows.{r}": (counts["routes"][r], "rows") for r in oracle.ROUTES},
            "aggregate.self_s": (wall["aggregate"], "s"),
            "aggregate.self_cpu_s": (cpu["aggregate"], "s"),
            "aggregate.groups": (len(self.expected["aggregate"]), "count"),
            "aggregate.exchanges": (shape["exchanges"], "count"),
            "aggregate.shuffle_bytes": (
                median([g["shuffle_write"] for g in groups("flagship")]), "bytes"),
            "checkpoint.pending_s": (calls.seconds["pending"], "s"),
            "checkpoint.run_partition_s": (calls.seconds["run_partition"], "s"),
            "checkpoint.run_partition_calls": (calls.calls["run_partition"], "count"),
            "checkpoint.partitions_ran": (resumed.get("partitions_ran"), "count"),
            "checkpoint.partitions_skipped": (resumed.get("partitions_skipped"), "count"),
            "checkpoint.verify_s": (_ratio(calls.seconds["verify"], calls.calls["verify"]),
                                    "s"),
            "checkpoint.manifest_rows": (manifest_rows, "count"),
            "sink.files": (len(sink), "count"),
            "sink.bytes": (sink_bytes, "bytes"),
            "sink.bytes_per_input_byte": (sink_bytes / table["bytes"], "ratio"),
            "driver.jobs.fresh": (jobs["fresh"]["jobs"], "count"),
            "driver.jobs.resume": (jobs["resume"]["jobs"], "count"),
            "driver.jobs.verify": (jobs["verify.0"]["jobs"], "count"),
            "jvm.gc_s": (gc_s, "s"),
            "trace.overhead": (_ratio(median(traced_cpu), median(untraced_cpu)), "ratio"),
            "scaling_eff": (_ratio(median(local1), self.cores * (median(untraced) or 0)),
                            "ratio"),
        }
        return {k: (v, unit, 1) for k, (v, unit) in m.items()}

    def count_rows(self) -> dict:
        """Parse / enrich / route outcome counts over the routed rows,
        reconciled with each other and with the oracle's route counts."""
        from pyspark.sql import functions as F

        row = self.routed_df().agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_if(F.col("_grok_ok")).alias("primary"),
            F.count_if(F.col("_logfmt_ok")).alias("fallback"),
            F.count_if(F.col("error").isNotNull()).alias("misses"),
            F.count_if(F.col("lang_name").isNotNull()).alias("lang_hits"),
            *[F.count_if(F.col("route") == r).alias(r) for r in oracle.ROUTES],
        ).collect()[0].asDict()
        c = {k: row[k] for k in ("rows", "primary", "fallback", "misses", "lang_hits")}
        c["routes"] = {r: row[r] for r in oracle.ROUTES}
        self.tally.record("count.reconcile", reconciles(c, N_PAGES))
        self.tally.record("count.routes", c["routes"] == self.expected["routes"])
        return c


def _ratio(a, b):
    return a / b if a is not None and b else None


def _diff(a, b):
    return a - b if a is not None and b is not None else None


def reconciles(c: dict, n_pages: int) -> bool:
    """primary + fallback + misses = rows = sum of route rows = table
    rows, and every miss is routed to dead_letter."""
    return (c["primary"] + c["fallback"] + c["misses"] == c["rows"] == n_pages
            == sum(c["routes"].values())
            and c["routes"]["dead_letter"] == c["misses"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:  # the engine's entry points, from the checkout
        import run_pipeline  # noqa: F401
        import vrl_spark.operators.checkpoint  # noqa: F401
        import vrl_spark.plans.weblog  # noqa: F401
        import vrl_spark.session  # noqa: F401
        import vrl_spark.sources.pages  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not found under {ROOT}: {e}", file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"  # collected timestamps must match the oracle's
    time.tzset()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(bench.work, "tmp")
    bench.record["host"] = probe.host_context(ROOT)
    bench.record["cpu_probe_before_s"] = probe.cpu_probe()
    steal0 = probe.steal_seconds()
    try:
        with probe.PeakRss() as rss:
            launch_s = bench.prepare()
            if bench.traced:
                metrics, ungated = bench.measure_layers(), {}
            else:
                metrics, ungated = bench.measure(launch_s)
            bench.record["jit_s"] = probe.jit_seconds()
        if bench.traced:
            metrics["jvm.peak_rss_mb"] = (rss.peak / 2**20, "MB", 1)
        else:
            ungated["peak_rss_mb"] = (rss.peak / 2**20, "MB", 1)
    finally:
        with bench.phase("shutdown"):
            probe.stop_jvm()
        shutil.rmtree(bench.work, ignore_errors=True)
    bench.record["steal_s"] = probe.steal_seconds() - steal0
    bench.record["cpu_probe_after_s"] = probe.cpu_probe()
    bench.record["cpu_s"] = bench.cpu
    bench.record["samples"] = bench.samples
    bench.record["failures"] = bench.tally.failures
    bench.record["ungated"] = {name: value for name, (value, _, _) in ungated.items()}

    for name, (value, unit, n) in metrics.items():
        print(f"{name} = {value} {unit} (n={n})")
    for name, (value, unit, n) in ungated.items():
        print(f"{name} = {value} {unit} (n={n}, not gated)")
    print(f"error_rate = {bench.tally.error_rate} "
          f"({bench.tally.failed}/{bench.tally.attempted} operations)")
    print("record: " + json.dumps(bench.record, default=str))
    missing = [name for name, (value, _, _) in metrics.items() if value is None]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bench.tally.failed == 0,
        "attempted": bench.tally.attempted,
        "failed": bench.tally.failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
