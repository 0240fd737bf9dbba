"""Registry contract: the driver's correctness check records rows for
at most the FIRST 50 registry entries (in iteration order), so the
registry must stay at or under 50 names — and every name must carry a
full DuckDB oracle so no query ever falls back to the weaker
rows-only check."""

from __future__ import annotations

DRIVER_CHECK_LIMIT = 50


def test_registry_fits_driver_check():
    from vrl_spark import registry

    names = list(registry.queries())
    assert len(names) <= DRIVER_CHECK_LIMIT, (
        f"{len(names)} registry entries > driver's {DRIVER_CHECK_LIMIT}-row "
        f"correctness budget; consolidate (see plans/queries_textops.py "
        f"merged-vehicle section) before adding more: {names}"
    )


def test_every_query_has_full_oracle():
    from vrl_spark import registry

    q, o = set(registry.queries()), set(registry.oracle_sql())
    assert q == o, (q - o, o - q)


def test_registry_names_unique_and_callable():
    from vrl_spark import registry

    qs = registry.queries()
    assert all(callable(fn) for fn in qs.values())
    # oracle SQL strings must be non-trivial
    for name, sql in registry.oracle_sql().items():
        assert isinstance(sql, str) and len(sql.strip()) > 20, name


# Driver-hash-hostile DuckDB types: HUGEINT/UHUGEINT become float64 (or
# object) in pandas while Spark emits int64, so the driver's value hash
# diverges even when every value is identical (round-5's one red row:
# dataset_mixture_shards — DuckDB types window SUM over BIGINT as
# HUGEINT, and // keeps it). The sweep recipe compares with
# check_dtype=False, which masks exactly this class — hence a standing
# schema-level test that needs no query execution at all.
_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
_DUCK_FLOAT = {"FLOAT", "REAL", "DOUBLE"}
_SPARK_INT = {"byte", "short", "int", "integer", "long", "bigint"}
_SPARK_FLOAT = {"float", "double"}


def _duck_class(duck_type: str) -> str:
    t = duck_type.upper()
    if t in ("HUGEINT", "UHUGEINT"):
        return "HUGE"
    if t in _DUCK_INT:
        return "int"
    if t in _DUCK_FLOAT:
        return "float"
    return "other"


def _spark_class(spark_type) -> str:
    n = spark_type.typeName()
    if n in _SPARK_INT:
        return "int"
    if n in _SPARK_FLOAT:
        return "float"
    return "other"


def test_oracle_dtype_parity(spark, sf_dir):
    """Every oracle's DESCRIBEd DuckDB schema must be hash-compatible
    with the Spark query's schema: zero HUGEINT/UHUGEINT anywhere, and
    column-by-column integer-vs-floating class agreement (NULLable-int
    → float64 is a pandas artifact that hits BOTH sides identically,
    so the class comparison stays exact at the engine-schema level)."""
    import duckdb

    from vrl_spark import registry

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, osql = registry.queries(), registry.oracle_sql()
    problems = []
    for name, sql in osql.items():
        duck = {
            row[0]: row[1]
            for row in con.execute(f"DESCRIBE ({sql})").fetchall()
        }
        for col, dt in duck.items():
            if _duck_class(dt) == "HUGE":
                problems.append(f"{name}.{col}: oracle typed {dt}")
        sdf = qs[name](spark, sf_dir)
        sparkt = {f.name: f.dataType for f in sdf.schema.fields}
        if set(duck) != set(sparkt):
            problems.append(
                f"{name}: column sets differ "
                f"(spark-only={sorted(set(sparkt) - set(duck))}, "
                f"oracle-only={sorted(set(duck) - set(sparkt))})"
            )
            continue
        for col, dt in duck.items():
            dc, sc = _duck_class(dt), _spark_class(sparkt[col])
            if dc in ("int", "float") or sc in ("int", "float"):
                if dc != sc:
                    problems.append(
                        f"{name}.{col}: oracle {dt} ({dc}) vs spark "
                        f"{sparkt[col].simpleString()} ({sc})"
                    )
    assert not problems, "\n".join(problems)


# Reachability: engine code that no registry query, no flagship plan
# and neither driver entry point imports is deleted, not maintained.
# Modules kept while unreachable are listed with their ROADMAP reason.
_KEPT_UNREACHABLE = {
    "vrl_spark.functions.grok_filters":
        "carries VRL parse_groks filter semantics",
    "vrl_spark.operators.extract":
        "carries the byte-identical extracted-text invariant",
    "vrl_spark.operators.htmlx":
        "carries the byte-identical extracted-text invariant",
}


def _module_files(root):
    """Dotted name -> path for every module of the vrl_spark package."""
    import os

    out = {}
    for dirpath, _, files in os.walk(os.path.join(root, "vrl_spark")):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), root)
            parts = rel[:-3].split(os.sep)
            if parts[-1] == "__init__":
                parts.pop()
            out[".".join(parts)] = os.path.join(dirpath, f)
    return out


def _imported_modules(path, known):
    """Every known module an import statement in ``path`` names, at any
    nesting depth (function-level imports included). The engine uses
    absolute imports only."""
    import ast

    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    targets = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            targets.append(node.module)
            targets += [f"{node.module}.{a.name}" for a in node.names]
    return set(targets) & set(known)


def test_every_engine_module_is_reachable():
    """Static import walk (ast only, no Spark) from the registry, every
    flagship plan module and both driver entry points: every vrl_spark
    module must be reached or be on the kept list, and no kept module
    may be reached (the list cannot go stale)."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    engine = _module_files(root)
    files = dict(engine)
    for script in ("run_pipeline", "__spark_entry__"):
        files[script] = os.path.join(root, script + ".py")
    seeds = ["run_pipeline", "__spark_entry__", "vrl_spark.registry"]
    seeds += [m for m in engine if m.startswith("vrl_spark.plans")]
    reached, frontier = set(), seeds
    while frontier:
        m = frontier.pop()
        if m in reached:
            continue
        reached.add(m)
        frontier += _imported_modules(files[m], files)
        # importing a module also runs its parent package's __init__
        if "." in m:
            frontier.append(m.rpartition(".")[0])

    dead = sorted(set(engine) - reached - set(_KEPT_UNREACHABLE))
    assert not dead, f"unreachable engine modules (delete them): {dead}"
    stale = sorted(reached & set(_KEPT_UNREACHABLE))
    assert not stale, f"kept-list modules are now reached (unlist): {stale}"
