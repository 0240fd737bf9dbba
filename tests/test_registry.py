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


# Function-level reachability. Top-level defs, classes and constants of
# vrl_spark that nothing live names are deleted, not maintained; the
# few kept anyway are listed with their reason.
_KEPT_UNREACHABLE_FUNCTIONS = {
    "vrl_spark.operators.similarity.dequantize_embedding":
        "the checker tests use for quantize_embedding's error bound",
    "vrl_spark.plans.weblog.write_sinks":
        "the north rule's per-route fan-out write, which run_pipeline.py "
        "does not do",
}

# callers outside vrl_spark whose whole text is live: the driver entry
# points and the frozen benchmark harnesses
_LIVE_CALLERS = ("run_pipeline.py", "__spark_entry__.py", "bench.py",
                 "bench_worker.py", "perfbench/**/*.py")


def _defined_names(stmt):
    """The top-level names a module statement binds (dunders left out:
    module metadata, not code)."""
    import ast

    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name) and not n.id.startswith("__")]
    return []


def _is_seed(module, stmt):
    """A statement that is live whatever else is: the kept modules, a
    registry query, a ported VRL function (a public def of
    vrl_spark.functions) and module code that binds no name. Imports
    and docstrings name things without running them."""
    import ast

    if module in _KEPT_UNREACHABLE:
        return True
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return False
    if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
        return False
    if not _defined_names(stmt):
        return True
    if any(isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
           for d in getattr(stmt, "decorator_list", [])):
        return True
    return (module.startswith("vrl_spark.functions.")
            and isinstance(stmt, ast.FunctionDef)
            and not stmt.name.startswith("_"))


def _reach(units, words):
    """Grow ``words`` (identifiers named by live text) to a fixpoint: a
    unit is live once its name is among them, and its text then adds
    its own. Returns the live units."""
    live, grew = set(), True
    while grew:
        grew = False
        for name, text in units.items():
            if name not in live and name.rpartition(".")[2] in words:
                live.add(name)
                words |= text
                grew = True
    return live


def test_every_engine_function_is_reachable():
    """Static walk over source text (ast only, no Spark): every
    top-level def, class and constant of vrl_spark must be named by
    live text, or be on the kept list; a kept name that live text
    reaches fails too (the list cannot go stale).

    A name is matched as an identifier anywhere in a live statement,
    comments and docstrings included, and in any module: the walk errs
    toward keeping code, never toward deleting it."""
    import ast
    import glob
    import os
    import re

    word = re.compile(r"[A-Za-z_]\w*")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    words, units = set(), {}
    for pattern in _LIVE_CALLERS:
        for path in glob.glob(os.path.join(root, pattern), recursive=True):
            with open(path) as fh:
                words |= set(word.findall(fh.read()))
    for module, path in _module_files(root).items():
        with open(path) as fh:
            lines = fh.read().splitlines()
        for stmt in ast.parse("\n".join(lines), path).body:
            first = min([d.lineno for d in getattr(stmt, "decorator_list", [])]
                        + [stmt.lineno])
            text = set(word.findall("\n".join(lines[first - 1:stmt.end_lineno])))
            if _is_seed(module, stmt):
                words |= text
            for name in _defined_names(stmt):
                units.setdefault(f"{module}.{name}", set()).update(text)

    missing = sorted(set(_KEPT_UNREACHABLE_FUNCTIONS) - set(units))
    assert not missing, f"kept-list names no longer exist (unlist): {missing}"
    live = _reach(units, words)
    stale = sorted(live & set(_KEPT_UNREACHABLE_FUNCTIONS))
    assert not stale, f"kept-list names are now reached (unlist): {stale}"
    for name in _KEPT_UNREACHABLE_FUNCTIONS:
        words |= units[name]
    live = set(_KEPT_UNREACHABLE_FUNCTIONS) | _reach(units, words)
    dead = sorted(set(units) - live)
    assert not dead, f"unreachable engine names (delete them): {dead}"


def test_examples_resolve():
    """Every vrl_spark module, imported name and ``module.attr`` the
    runnable examples use still exists. Examples are not reachability
    seeds, so nothing else notices when a deletion breaks them. The
    engine modules are imported; no Spark session starts."""
    import ast
    import glob
    import importlib
    import os

    def resolve(module, name):
        try:
            return getattr(importlib.import_module(module), name)
        except AttributeError:
            return importlib.import_module(f"{module}.{name}")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    examples = sorted(glob.glob(os.path.join(root, "examples", "*.py")))
    assert examples
    problems = []
    for path in examples:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        where = os.path.basename(path)
        modules = {}  # local name -> the vrl_spark module it binds
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] != "vrl_spark":
                        continue
                    try:
                        mod = importlib.import_module(a.name)
                    except ImportError:
                        problems.append(f"{where}:{node.lineno} {a.name}")
                        continue
                    if a.asname:
                        modules[a.asname] = mod
            elif (isinstance(node, ast.ImportFrom)
                  and (node.module or "").split(".")[0] == "vrl_spark"):
                for a in node.names:
                    try:
                        value = resolve(node.module, a.name)
                    except ImportError:
                        problems.append(
                            f"{where}:{node.lineno} {node.module}.{a.name}")
                        continue
                    if isinstance(value, type(os)):
                        modules[a.asname or a.name] = value
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in modules
                    and not hasattr(modules[node.value.id], node.attr)):
                problems.append(f"{where}:{node.lineno} "
                                f"{modules[node.value.id].__name__}.{node.attr}")
    assert not problems, f"examples use names that are gone: {problems}"
