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
# vrl_spark that no live code refers to are deleted, not maintained;
# the few kept anyway are listed with their reason.
_KEPT_UNREACHABLE_FUNCTIONS = {
    "vrl_spark.operators.dedup.minhash_signature":
        "the JVM-fold reference minhash_signature_md5_batched is tested "
        "against",
    "vrl_spark.operators.dedup.simhash_bits_md5":
        "the string-vote reference simhash64_batched is tested against",
    "vrl_spark.operators.similarity.brute_force_topk":
        "the exact top-k the ANN recall tests compare against",
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


def _source_trees(root):
    """Dotted name -> parsed ast for every vrl_spark module and every
    live caller."""
    import ast
    import glob
    import os

    files = _module_files(root)
    for pattern in _LIVE_CALLERS:
        for path in glob.glob(os.path.join(root, pattern), recursive=True):
            parts = os.path.relpath(path, root)[:-3].split(os.sep)
            if parts[-1] == "__init__":
                parts.pop()
            files[".".join(parts)] = path
    trees = {}
    for module, path in files.items():
        with open(path) as fh:
            trees[module] = ast.parse(fh.read(), path)
    return trees


def _resolver(trees):
    """``resolve(module, expr)``: the dotted name that a Name or
    ``a.b`` expression of ``module`` refers to, followed through
    imports and re-exports; None for a local or a builtin. Imports at
    any depth bind module-wide, so a function-level import counts too."""
    import ast

    binds = {}
    for module, tree in trees.items():
        b = binds[module] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    b[a.asname or a.name.partition(".")[0]] = (
                        a.name if a.asname else a.name.partition(".")[0])
            elif isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    b[a.asname or a.name] = f"{node.module}.{a.name}"
        for stmt in tree.body:
            for name in _defined_names(stmt):
                b[name] = f"{module}.{name}"

    def canon(dotted):
        seen = set()
        while dotted not in seen:
            seen.add(dotted)
            module, _, name = dotted.rpartition(".")
            target = binds.get(module, {}).get(name)
            if target is None:
                break
            dotted = target
        return dotted

    def resolve(module, expr):
        if isinstance(expr, ast.Name):
            target = binds[module].get(expr.id)
            return target and canon(target)
        if isinstance(expr, ast.Attribute):
            base = resolve(module, expr.value)
            return base and canon(f"{base}.{expr.attr}")
        return None

    return resolve


def _reach(units, roots):
    """The units reached from ``roots``: a unit is live once a live
    unit (or a root) refers to it."""
    live, todo = set(), list(roots)
    while todo:
        unit = todo.pop()
        if unit in units and unit not in live:
            live.add(unit)
            todo += units[unit]
    return live


def test_every_engine_function_is_reachable():
    """Static walk (ast only, no Spark): every top-level def, class
    and constant of vrl_spark must be referred to from live code, or
    be on the kept list; a kept name that live code reaches fails too
    (the list cannot go stale).

    A reference is a name or ``module.attr`` that resolves through
    the referring module's imports; a docstring or a comment that
    mentions a name does not keep it."""
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    trees = _source_trees(root)
    engine = _module_files(root)
    resolve = _resolver(trees)

    def refs(module, node):
        return {resolve(module, n) for n in ast.walk(node)
                if isinstance(n, (ast.Name, ast.Attribute))}

    roots, units = set(), {}
    for module, tree in trees.items():
        if module not in engine:
            roots |= refs(module, tree)
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names = {f"{module}.{n}" for n in _defined_names(stmt)}
            if _is_seed(module, stmt):
                roots |= refs(module, stmt) | names
            for name in names:
                units.setdefault(name, set()).update(refs(module, stmt))

    kept = set(_KEPT_UNREACHABLE_FUNCTIONS)
    missing = sorted(kept - set(units))
    assert not missing, f"kept-list names no longer exist (unlist): {missing}"
    stale = sorted(_reach(units, roots) & kept)
    assert not stale, f"kept-list names are now reached (unlist): {stale}"
    dead = sorted(set(units) - _reach(units, roots | kept))
    assert not dead, f"unreachable engine names (delete them): {dead}"


# Per-parameter use: an optional parameter of an operator, plan or
# source def that every live call sets to one value, and that picks a
# branch, is a constant with dead code behind it. The few kept anyway
# are listed with their reason.
_OPTION_SCOPE = ("vrl_spark.operators.", "vrl_spark.plans.",
                 "vrl_spark.sources")
# (empty: every option that steers a branch has several live values)
_KEPT_SINGLE_VALUED_OPTIONS: dict[str, str] = {}
_MANY = object()  # a value the walk cannot pin down


def _options(fn):
    """Parameter name -> default expression, for the optional
    parameters of a def."""
    args = fn.args
    pos = args.posonlyargs + args.args
    out = dict(zip([p.arg for p in pos[len(pos) - len(args.defaults):]],
                   args.defaults))
    out.update((p.arg, d) for p, d in zip(args.kwonlyargs, args.kw_defaults)
               if d is not None)
    return out


def _guarded_params(fn):
    """The parameters of ``fn`` that appear in the test of an ``if``,
    a conditional expression or a ``while`` anywhere in its body,
    directly or through a local assigned from parameters alone. An
    ``if`` whose body only raises is input validation and is left out."""
    import ast

    params = {p.arg for p in fn.args.posonlyargs + fn.args.args
              + fn.args.kwonlyargs}
    alias, grew = {}, True  # local -> the parameters it is built from
    while grew:
        grew = False
        for node in ast.walk(fn):
            if not (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)):
                continue
            target = node.targets[0].id
            names = {n.id for n in ast.walk(node.value)
                     if isinstance(n, ast.Name)}
            if (target not in params and target not in alias and names
                    and names <= params | set(alias)):
                alias[target] = set().union(*(alias.get(n, {n})
                                              for n in names))
                grew = True
    out = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.If) and all(
                isinstance(s, ast.Raise) for s in node.body):
            continue
        if isinstance(node, (ast.If, ast.IfExp, ast.While)):
            for n in ast.walk(node.test):
                if isinstance(n, ast.Name):
                    out |= alias.get(n.id, {n.id}) & params
    return out


def _option_values(trees, resolve, defs):
    """(def, parameter) -> the set of values live calls pass it.

    A literal is its value and an omitted argument the default; a
    name that is a parameter of the calling def stands for that
    parameter's own live values (to a fixpoint); anything else is
    ``_MANY``. A def that live code uses other than by calling it, or
    calls with ``*args``/``**kwargs``, gets ``_MANY`` everywhere. A
    call ``x.name(...)`` whose receiver does not resolve counts as a
    call of every in-scope method called ``name``."""
    import ast

    methods = {}
    for q in defs:
        owner = q.rpartition(".")[0]
        if owner not in trees:
            methods.setdefault(q.rpartition(".")[2], []).append(q)

    def callee(module, func):
        target = resolve(module, func)
        if target in defs:
            return [target], False
        if target and f"{target}.__init__" in defs:
            return [f"{target}.__init__"], True
        if target is None and isinstance(func, ast.Attribute):
            return methods.get(func.attr, []), True
        return [], False

    calls, escaped = [], set()

    def visit(module, node, encl, cls):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for d in node.decorator_list + node.args.defaults:
                visit(module, d, encl, cls)
            qual = None
            if encl is None:
                qual = f"{module}.{cls + '.' if cls else ''}{node.name}"
            for stmt in node.body:
                visit(module, stmt, (qual, node), None)
            return
        if isinstance(node, ast.ClassDef):
            for stmt in node.body:
                visit(module, stmt, encl, node.name if encl is None else None)
            return
        if isinstance(node, ast.Call):
            targets, is_method = callee(module, node.func)
            calls.extend((q, node, encl, is_method) for q in targets)
            children = node.args + [k.value for k in node.keywords]
            if isinstance(node.func, ast.Attribute):
                children.append(node.func.value)
            elif not isinstance(node.func, ast.Name):
                children.append(node.func)
            for child in children:
                visit(module, child, encl, cls)
            return
        if isinstance(node, (ast.Name, ast.Attribute)):
            escaped.update(callee(module, node)[0])
        for child in ast.iter_child_nodes(node):
            visit(module, child, encl, cls)

    for module, tree in trees.items():
        for stmt in tree.body:
            visit(module, stmt, None, None)

    def literal(node):
        try:
            return repr(ast.literal_eval(node))
        except ValueError:
            return None

    values = {(q, p): set() for q, fn in defs.items() for p in _options(fn)}
    flows = []  # (def, parameter) <- value or (calling def, parameter)
    for q, node, encl, is_method in calls:
        if (any(isinstance(a, ast.Starred) for a in node.args)
                or any(k.arg is None for k in node.keywords)):
            escaped.add(q)
    for q, node, encl, is_method in calls:
        if q in escaped:
            continue
        fn = defs[q]
        names = [p.arg for p in fn.args.posonlyargs + fn.args.args]
        if is_method and names[:1] in (["self"], ["cls"]):
            names = names[1:]
        given = dict(zip(names, node.args))
        given.update((k.arg, k.value) for k in node.keywords)
        for p, default in _options(fn).items():
            arg = given.get(p, default)
            if literal(arg) is not None:
                flows.append(((q, p), literal(arg)))
            elif arg is default:
                flows.append(((q, p), ast.dump(default)))
            elif (isinstance(arg, ast.Name) and encl and encl[0] in defs
                    and arg.id in _options(encl[1])):
                flows.append(((q, p), (encl[0], arg.id)))
            else:
                flows.append(((q, p), _MANY))
    for q in escaped:
        for p in _options(defs[q]):
            values[(q, p)].add(_MANY)
    grew = True
    while grew:
        grew = False
        for key, v in flows:
            new = values[v] if isinstance(v, tuple) else {v}
            if not new <= values[key]:
                values[key] |= new
                grew = True
    return values


def test_every_engine_option_is_used():
    """Static walk (ast only, no Spark) over the optional parameters of
    every def and method in vrl_spark's operators, plans and sources
    (the ported VRL functions and the Pipeline builder API are out of
    scope: their signatures are the API). A parameter fails when every
    live call (vrl_spark itself and the driver and benchmark scripts;
    tests, examples and tools do not count) passes it one value and it
    steers a branch: the value belongs in the code and the other
    branch is dead. A kept entry that is no longer single-valued, or
    no longer exists, fails too."""
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    trees = _source_trees(root)
    defs = {}
    for module, tree in trees.items():
        if not module.startswith(_OPTION_SCOPE):
            continue
        for stmt in tree.body:
            owner, members = module, [stmt]
            if isinstance(stmt, ast.ClassDef):
                owner, members = f"{module}.{stmt.name}", stmt.body
            defs.update((f"{owner}.{fn.name}", fn) for fn in members
                        if isinstance(fn, (ast.FunctionDef,
                                           ast.AsyncFunctionDef))
                        and _options(fn))
    values = _option_values(trees, _resolver(trees), defs)
    single = set()
    for q, fn in defs.items():
        guarded = _guarded_params(fn)
        single |= {f"{q}.{p}" for p in _options(fn)
                   if p in guarded and len(values[(q, p)]) == 1
                   and _MANY not in values[(q, p)]}
    stale = sorted(set(_KEPT_SINGLE_VALUED_OPTIONS) - single)
    assert not stale, (
        f"kept-list options are gone or take several values (unlist): "
        f"{stale}")
    flagged = sorted(single - set(_KEPT_SINGLE_VALUED_OPTIONS))
    assert not flagged, (
        f"options every live call sets to one value (make each a "
        f"constant and delete the branch it guards): {flagged}")


def _keyword_problems(where, call, fn):
    """The keywords ``call`` passes that ``fn``'s signature lacks, when
    ``fn`` is a def or a class (a constant's builtin method is not)."""
    import ast
    import inspect

    if not (inspect.isfunction(fn) or inspect.isclass(fn)):
        return []
    try:
        params = inspect.signature(fn).parameters
    except ValueError:  # a class with a builtin __init__ (an exception)
        return []
    if any(p.kind is p.VAR_KEYWORD for p in params.values()):
        return []
    return [f"{where} {ast.unparse(call.func)}({k.arg}=...)"
            for k in call.keywords if k.arg is not None and k.arg not in params]


def test_examples_resolve():
    """Every vrl_spark module, imported name and ``module.attr`` the
    runnable examples and tools use still exists, and every keyword
    argument they pass a vrl_spark callable is one of its parameters.
    Examples and tools are not live callers, so nothing else notices
    when a deletion breaks them. The keyword check also covers every
    call in vrl_spark and the live callers whose callee resolves
    through imports to a vrl_spark def, so a stale keyword fails here,
    not first when a registry query is built. The engine modules are
    imported; no Spark session starts."""
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
    scripts = sorted(glob.glob(os.path.join(root, "examples", "*.py"))
                     + glob.glob(os.path.join(root, "tools", "*.py")))
    assert scripts
    problems = []
    for path in scripts:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        where = os.path.relpath(path, root)
        names = {}  # local name -> the vrl_spark module or object it binds
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
                        names[a.asname] = mod
            elif (isinstance(node, ast.ImportFrom)
                  and (node.module or "").split(".")[0] == "vrl_spark"):
                for a in node.names:
                    try:
                        names[a.asname or a.name] = resolve(node.module,
                                                            a.name)
                    except ImportError:
                        problems.append(
                            f"{where}:{node.lineno} {node.module}.{a.name}")

        def target(expr):
            if isinstance(expr, ast.Name):
                return names.get(expr.id)
            if (isinstance(expr, ast.Attribute)
                    and isinstance(expr.value, ast.Name)
                    and isinstance(names.get(expr.value.id), type(os))):
                return getattr(names[expr.value.id], expr.attr, None)
            return None

        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and isinstance(names.get(node.value.id), type(os))
                    and not hasattr(names[node.value.id], node.attr)):
                problems.append(f"{where}:{node.lineno} "
                                f"{names[node.value.id].__name__}.{node.attr}")
            if isinstance(node, ast.Call):
                problems += _keyword_problems(f"{where}:{node.lineno}", node,
                                              target(node.func))

    def lookup(dotted):
        """The object a resolved dotted vrl_spark name refers to."""
        parts = dotted.split(".")
        for k in range(len(parts), 0, -1):
            try:
                obj = importlib.import_module(".".join(parts[:k]))
            except ImportError:
                continue
            for attr in parts[k:]:
                obj = getattr(obj, attr, None)
            return obj

    trees = _source_trees(root)
    resolve_static = _resolver(trees)
    for module, tree in sorted(trees.items()):
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            dotted = resolve_static(module, node.func) or ""
            if dotted.startswith("vrl_spark."):
                problems += _keyword_problems(f"{module}:{node.lineno}", node,
                                              lookup(dotted))
    assert not problems, (
        f"calls use names or keywords that are gone: {problems}")
