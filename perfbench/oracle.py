"""The correctness gate: DuckDB oracle results and the tally of checked
operations.

The oracle is the engine's own independent DuckDB re-implementation
(``weblog.aggregate_oracle_sql`` / ``parsed_cte_sql``) run over the
generated ``documents`` table, computed once per run. Every timed
operation is compared against it; one that raises or differs counts
as failed.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback

ROUTES = ("dead_letter", "server_error", "client_error", "writes", "ok", "app_logs")


def _naive_utc(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def normalize(rows) -> list[tuple]:
    """Aggregate rows as sorted plain tuples: ``(route, hour,
    page_count, total_bytes, distinct_hosts, distinct_families)``."""
    return sorted(tuple(_naive_utc(v) for v in tuple(r)) for r in rows)


def compute(docs_path: str) -> dict:
    """Expected aggregate rows and per-route row counts."""
    import duckdb

    from vrl_spark.plans import weblog

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')"
        )
        aggregate = normalize(con.execute(weblog.aggregate_oracle_sql()).fetchall())
        routes = dict(con.execute(
            weblog.parsed_cte_sql()
            + " SELECT route, count(*) FROM routed GROUP BY route"
        ).fetchall())
    finally:
        con.close()
    return {"aggregate": aggregate, "routes": {r: routes.get(r, 0) for r in ROUTES}}


def landed(out_dir: str) -> dict:
    """What ``run_pipeline`` wrote: the aggregates and the per-route
    row counts of the hour-partitioned routed sink, read with DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        agg_glob = os.path.join(out_dir, "aggregates", "*.parquet")
        aggregate = normalize(con.execute(
            "SELECT route, hour, page_count, total_bytes, distinct_hosts, "
            f"distinct_families FROM read_parquet('{agg_glob}')"
        ).fetchall())
        routed_glob = os.path.join(out_dir, "routed", "part=*", "*.parquet")
        routes = dict(con.execute(
            "SELECT route, count(*) FROM read_parquet("
            f"'{routed_glob}', hive_partitioning = false) GROUP BY route"
        ).fetchall())
    finally:
        con.close()
    return {"aggregate": aggregate, "routes": {r: routes.get(r, 0) for r in ROUTES}}


class Tally:
    """Counts operations attempted and failed (raised, or differed from
    the oracle); ``error_rate`` is their ratio. ``cpu_clock``, if given,
    reads the CPU seconds used so far."""

    def __init__(self, cpu_clock=None) -> None:
        self.cpu_clock = cpu_clock
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, label: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(label)
            print(f"perfbench: FAILED {label}", file=sys.stderr)
        return ok

    def run(self, label: str, fn, check):
        """Time ``fn()``; record it as failed if it or ``check`` on its
        result raises, or ``check`` rejects the result. Returns
        ``(result, seconds, cpu_seconds)``, or Nones on failure."""
        cpu = self.cpu_clock or (lambda: None)
        try:
            c0, t0 = cpu(), time.perf_counter()
            out = fn()
            secs, c1 = time.perf_counter() - t0, cpu()
            ok = bool(check(out))
        except Exception:  # the engine failing is a measured outcome
            traceback.print_exc()
            ok = False
        if not self.record(label, ok):
            return None, None, None
        return out, secs, c1 - c0 if c0 is not None else None

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
