"""The pipeline builder — this engine's analogue of a VRL program.

VRL's lifecycle is compile(source, fns) -> Program, then
Runtime::resolve(target, program) per event (reference
src/compiler/mod.rs:77-82, src/compiler/runtime.rs:96-128). Here the
"program" is built with a fluent Python API; ``build()`` performs the
compile-time checks VRL does (pattern pre-compilation, fallibility
accounting) and ``apply(df)`` emits the DataFrame DAG for Catalyst.

Fallibility (the load-bearing VRL semantic, src/compiler/compiler.rs:
49-62): any stage that can fail per-row marks the pipeline fallible;
a fallible pipeline REFUSES to build unless errors are handled —
either a ``dead_letter`` route exists or ``on_error='keep'`` was
chosen explicitly. That is VRL's "unhandled fallible expression is a
compile error" rule, relocated to the builder.

Errors are data: a failing row gets ``error`` set and flows on; rows
never throw (Infallible-assignment semantics,
reference src/compiler/expression/assignment.rs:531-548).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vrl_spark.functions.parse import _q, chain_fields, chain_hit, compile_groks, grok_chain
from vrl_spark.sources import _sql_literal


@dataclass
class _Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    fallible: bool = False


@dataclass
class Pipeline:
    name: str = "pipeline"
    stages: list[_Stage] = field(default_factory=list)
    routes: list[tuple[str, Column]] | None = None
    default_route: str = "ok"
    on_error: str = "route"  # 'route' (to dead_letter) | 'keep'
    _built: bool = False

    # -- stage constructors -------------------------------------------

    def _add(self, name, fn, fallible=False) -> "Pipeline":
        self.stages.append(_Stage(name, fn, fallible))
        return self

    def parse_grok(
        self, src: str, pattern: str, prefix: str = "", anchored: bool = True,
        error: str = "unable to parse input with grok pattern",
    ) -> "Pipeline":
        """Grok-extract ``src`` into columns (compiled NOW — bad
        patterns fail at build, like VRL compile). Fallible: no-match
        rows get ``error`` set."""
        compiled = compile_groks([pattern])  # compile-time, raises here
        return self._grok(f"parse_grok({src})", src, compiled, prefix, anchored, error)

    def parse_groks(
        self, src: str, patterns: list[str], prefix: str = "",
        aliases: dict[str, str] | None = None,
        alias_sources: list[str] | None = None,
        anchored: bool = True,
        error: str = "unable to parse input with grok patterns",
    ) -> "Pipeline":
        """Ordered rule-LIST extraction (parse_groks.rs): patterns are
        tried first-match-wins, output is the union of all patterns'
        fields. Compile-time: bad patterns/aliases raise here."""
        compiled = compile_groks(patterns, aliases, alias_sources)  # raises here
        return self._grok(f"parse_groks({src})", src, compiled, prefix, anchored, error)

    def _grok(self, name, src, compiled, prefix, anchored, error) -> "Pipeline":
        """One fallible stage over a grok rule list: project the
        first-match fields as ``prefix + field``; no match sets
        ``error``."""
        base = prefix or src
        outs = [f"_g_{base}"] + [f"_g{i}_{base}" for i in range(1, len(compiled))]

        def fn(df: DataFrame) -> DataFrame:
            # Generate-barrier extraction: one regex pass per row per
            # pattern tried, regardless of projected field count.
            df = grok_chain(df, outs, src, compiled, anchored=anchored)
            fields = chain_fields(outs, compiled)
            out = df.selectExpr("*", *[f"{v} AS {_q(prefix + k)}" for k, v in fields.items()])
            return _merge_error(out, F.expr(f"NOT {chain_hit(outs)}"), error).drop(*outs)

        return self._add(name, fn, fallible=True)

    def parse_timestamp(self, src: str, fmt: str, dest: str) -> "Pipeline":
        from vrl_spark.functions.parse import parse_timestamp

        def fn(df: DataFrame) -> DataFrame:
            out = df.withColumn(dest, parse_timestamp(F.col(src), fmt))
            return _merge_error(
                out, F.col(src).isNotNull() & F.col(dest).isNull(),
                f"unable to parse timestamp with {fmt}",
            )

        return self._add(f"parse_timestamp({src})", fn, fallible=True)

    def coerce(self, src: str, to: str, dest: str | None = None) -> "Pipeline":
        """VRL to_int/to_float/to_bool with exact null/error semantics."""
        from vrl_spark.functions import coerce as co

        dest = dest or f"{src}_{to}"

        def fn(df: DataFrame) -> DataFrame:
            dtype = df.schema[src.split(".")[0]].dataType
            builder = {"int": co.to_int, "float": co.to_float, "bool": co.to_bool,
                       "string": co.to_string}[to]
            return df.withColumn(dest, builder(F.col(src), dtype))

        return self._add(f"coerce({src}->{to})", fn, fallible=to != "string")

    def enrich(
        self, lookup: DataFrame, left_on: str, right_on: str,
        case_insensitive: bool = False,
    ) -> "Pipeline":
        """Enrichment-table lookup with VRL find_table_row semantics
        (operators.enrichment.find_table_row): key equality, first
        match wins, miss -> nulls. A duplicated lookup key never
        multiplies fact rows. The key column ``right_on`` is dropped."""
        from vrl_spark.operators.enrichment import find_table_row

        def fn(df: DataFrame) -> DataFrame:
            return find_table_row(
                df, lookup, [(left_on, right_on)], order_col=right_on,
                case_insensitive=case_insensitive,
            ).drop(right_on)

        return self._add("enrich", fn)

    def route(self, routes: list[tuple[str, Column]], otherwise: str = "ok") -> "Pipeline":
        """First-match-wins routing (Vector route transform / VRL
        if-else chain). Rows with a pending ``error`` go to
        ``dead_letter`` before any user predicate (abort semantics)."""
        self.routes = routes
        self.default_route = otherwise
        return self

    # -- compile & run --------------------------------------------------

    def build(self) -> "Pipeline":
        """Compile-time checks (VRL: unhandled fallible expression is
        a compile error)."""
        fallible = any(s.fallible for s in self.stages)
        if fallible and self.on_error == "route" and self.routes is None:
            raise ValueError(
                f"pipeline {self.name!r} has fallible stages but no route(); "
                "add .route(...) (errors go to dead_letter) or set "
                "on_error='keep' to keep error rows inline"
            )
        self._built = True
        return self

    def apply(self, df: DataFrame) -> DataFrame:
        if not self._built:
            self.build()
        if "error" not in df.columns:
            df = df.withColumn("error", F.lit(None).cast("string"))
        for stage in self.stages:
            df = stage.fn(df)
        if self.routes is not None:
            # each Column predicate becomes a flag column the SQL cascade
            # reads; the optimizer inlines it back into the CASE
            flags = [f"_route{i}" for i in range(len(self.routes))]
            df = df.withColumns({f: pred for f, (_, pred) in zip(flags, self.routes)})
            routes = [(name, _q(f)) for f, (name, _) in zip(flags, self.routes)]
            df = df.withColumn("route", route_column(routes, self.default_route))
            df = df.drop(*flags)
        return df

    def explain(self) -> str:
        lines = [f"Pipeline {self.name!r}:"]
        for i, s in enumerate(self.stages):
            flag = " [fallible]" if s.fallible else ""
            lines.append(f"  {i}. {s.name}{flag}")
        if self.routes is not None:
            names = ["dead_letter"] + [n for n, _ in self.routes] + [self.default_route]
            lines.append(f"  routes: {names}")
        return "\n".join(lines)


def route_column(routes: list[tuple[str, str]], otherwise: str) -> Column:
    """First-match-wins route cascade (Vector route transform / VRL
    if-else chain) over SQL predicates: rows with a pending ``error``
    go to ``dead_letter`` before any predicate (abort semantics), then
    the first matching ``(name, predicate)``, else ``otherwise``. A
    name may appear more than once. One ``CASE`` expression, built in
    a few py4j calls: a ``when`` chain of Column objects took 109 for
    the flagship's six branches."""
    whens = "".join(f" WHEN ({pred}) THEN {_sql_literal(name)}" for name, pred in routes)
    return F.expr(f"CASE WHEN error IS NOT NULL THEN 'dead_letter'{whens} "
                  f"ELSE {_sql_literal(otherwise)} END")


def _merge_error(df: DataFrame, failed: Column, message: str) -> DataFrame:
    """First error wins (VRL returns the first failure it hits)."""
    return df.withColumn(
        "error",
        F.coalesce(F.col("error"), F.when(failed, F.lit(message))),
    )
