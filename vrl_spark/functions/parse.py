"""Parse functions — the heart of the north star.

Regex extraction lowerings, all in the JVM (no Python on the hot path):

- ``parse_regex_native``   one ``regexp_extract`` per field, gated on
  an ``rlike`` match flag; cost is fields x match.
- ``parse_regex_onepass``  one ``regexp_replace`` rewrite of the whole
  line, split into fields; the Column form of the one-pass trick.
- ``grok_chain``           the same trick for a first-match rule list
  as SQL text: two ``selectExpr`` Generate barriers per pattern, so
  each regex runs exactly once per row it is tried on, and a whole
  chain costs a few py4j calls to build. Every grok rule list (the
  flagship parse, syslog, ``parse_groks``, the builder) runs on it.

The one-pass rewrite reserves U+0002 (leads a matched line) and
U+0001 (separates captures). A row whose source starts with U+0002 or
holds U+0001 is ambiguous after the rewrite and takes a per-field
``regexp_extract`` branch that no other row reaches. Anchored
patterns end in ``\\z``: a trailing line terminator is not a match,
as with VRL's Rust ``$``.

Reference semantics:
- parse_regex: first match -> object of named captures, all values
  strings (src/stdlib/parse_regex.rs:83-86), no-match = error.
- parse_grok: pattern compiled once at compile time
  (src/stdlib/parse_grok.rs:148-169), no-match = error
  "unable to parse input with grok pattern" (parse_grok.rs:11-25).
- parse_groks: ordered rule list, first match wins
  (src/stdlib/parse_groks.rs).
- parse_key_value: logfmt-style, standalone key -> "true"-like,
  quoted values, duplicate keys -> array (src/stdlib/parse_key_value.rs:52-98).
- parse_timestamp: strptime with chrono tokens (src/stdlib/parse_timestamp.rs).
"""

from __future__ import annotations

from dataclasses import replace

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from vrl_spark.grok import CompiledGrok, compile_grok
from vrl_spark.sources import _require_literal_escapes, _sql_literal

# ---------------------------------------------------------------------
# parse_regex / parse_grok
# ---------------------------------------------------------------------


def parse_regex_native(col: Column, compiled: CompiledGrok) -> Column:
    """Struct of string captures via JVM regexp_extract per field.

    Spark's regexp_extract returns '' both for "no match" and for
    "matched but group empty"; VRL distinguishes no-match (= error).
    We gate on an rlike match flag so no-match yields a NULL struct
    (the error branch), matching parse_regex.rs no-match semantics.
    """
    matched = col.rlike(compiled.regex)
    fields = [
        F.regexp_extract(col, compiled.regex, compiled.group_index(name)).alias(name)
        for name in compiled.fields
    ]
    return F.when(matched, F.struct(*fields))


_MARK = "\x02"  # leads a line the one-pass rewrite matched
_SEP = "\x01"  # separates its captures


def _native(compiled: CompiledGrok, anchored: bool) -> CompiledGrok:
    """``compiled`` with the regex a per-field native match uses: the
    whole line (``\\z``, so a trailing line terminator is not a match,
    as VRL/Rust ``$``) or a search anywhere."""
    return replace(compiled, regex=f"^(?:{compiled.regex})\\z") if anchored else compiled


def _onepass_pattern(compiled: CompiledGrok, anchored: bool) -> tuple[str, str]:
    """(regex, replacement) for the marker-rewrite one-pass trick."""
    n = len(compiled.fields)
    if anchored:
        pat, first = _native(compiled, True).regex, 1
    else:
        # capture prefix/suffix so the whole line is consumed in one pass
        pat, first = f"^((?s:.*?))(?:{compiled.regex})((?s:.*))\\z", 2
    return pat, _MARK + _SEP.join(f"${i}" for i in range(first, first + n))


def parse_regex_onepass(col: Column, compiled: CompiledGrok, anchored: bool = True) -> Column:
    """Struct of string captures with ONE JVM regex pass.

    Lowering trick: ``regexp_replace`` rewrites a matching line to
    MARK + group1 SEP group2 ... in a single match; non-matching lines
    pass through unchanged. One regex execution per row versus
    fields+1 for the per-field lowering — the difference is the whole
    parse-stage bill at 100 TB.

    The rewrite is unambiguous on a line that neither starts with MARK
    (U+0002) nor holds SEP (U+0001) anywhere: a MARK-led result is
    then a match with exactly one part per field. Any other MARK-led
    result takes the per-field native branch (``parse_regex_native``),
    which no other row reaches.

    ``anchored`` matches the whole line (^...\\z, exact-line formats);
    pass False for search-anywhere grok semantics (costs prefix/suffix
    capture groups instead).

    CAUTION (scale): as a Column this expression embeds the
    ``regexp_replace`` once per extracted field (Catalyst trees are
    trees, not DAGs), so projecting k fields from it re-runs the regex
    ~2k times. For multi-field projections use ``grok_chain`` — the
    DataFrame form with Generate barriers that guarantees ONE regex
    execution per row."""
    pat, repl = _onepass_pattern(compiled, anchored)
    marked = F.regexp_replace(col, pat, repl)
    parts = F.split(F.substr(marked, F.lit(2), F.length(marked)), _SEP, -1)
    fields = [
        F.element_at(parts, i + 1).alias(name)
        for i, name in enumerate(compiled.fields)
    ]
    ambiguous = col.startswith(_MARK) | col.contains(_SEP)
    return F.when(
        marked.startswith(_MARK),
        F.when(ambiguous, parse_regex_native(col, _native(compiled, anchored)))
        .otherwise(F.struct(*fields)),
    )


def bind(col: Column, fn) -> Column:
    """Expression-level common-subexpression binding.

    Catalyst expression trees are trees, not DAGs: referencing a
    Column N times in one expression re-evaluates it N times — and
    inside a higher-order-function lambda, an OUTER expression is
    re-evaluated once per array element (measured: word-shingling a
    corpus re-ran ``split`` per gram, 5.6 s -> 0.35 s after binding).
    ``bind(c, fn)`` routes ``c`` through a single-element ``transform``
    so ``fn`` receives a lambda VARIABLE — a cheap slot read — instead
    of the expression. Use for expensive subexpressions referenced
    more than once (or at all inside HOF lambdas); use ``materialize``
    when the reuse spans DataFrame projections.
    """
    return F.get(F.transform(F.array(col), fn), F.lit(0))


def materialize(df, **cols: Column):
    """Evaluate each named Column EXACTLY ONCE per row — a real
    materialization barrier.

    Why this exists: ``withColumn``/``select`` are NOT barriers.
    Catalyst's CollapseProject + SimplifyExtractValueOps push every
    downstream ``getField`` through the struct constructor, inlining
    the full parse expression (the ``regexp_replace`` one-pass trick)
    once per projected field — e.g. 44 regexp nodes in a 7-field
    syslog projection. Routing the struct through a Generate
    (``explode`` of a single-element array) makes the result a bound
    plan attribute: extraction rules cannot cross a Generate, so
    field reads downstream are plain attribute lookups and the regex
    runs once per row, matching the reference's compile-once /
    match-once contract (src/stdlib/parse_grok.rs:148-169).

    Nulls survive: ``explode(array(x))`` always yields exactly one row
    whose element may be NULL, so fallible-parse semantics (NULL
    struct = error branch) are preserved.
    """
    tmp = "_materialize_barrier"
    packed = F.explode(F.array(F.struct(*[c.alias(k) for k, c in cols.items()])))
    out = df.select("*", packed.alias(tmp))
    return out.select(
        "*", *[F.col(tmp).getField(k).alias(k) for k in cols]
    ).drop(tmp)


def parse_grok(col: Column, pattern: str) -> Column:
    """Compile grok -> regex on the driver; search-anywhere one-pass
    Column lowering (``parse_regex_onepass``)."""
    return parse_regex_onepass(col, compile_grok(pattern), anchored=False)


def compile_groks(
    patterns: list[str],
    aliases: dict[str, str] | None = None,
    alias_sources: list[str] | None = None,
) -> list[CompiledGrok]:
    """Compile a grok rule list at plan build (bad patterns raise
    here, like VRL compile). ``alias_sources`` JSON files are read
    once, like the reference's compile-time file read; ``aliases``
    override them."""
    import json

    vocab: dict[str, str] = {}
    for src in alias_sources or []:
        with open(src) as f:
            vocab.update(json.load(f))
    vocab.update(aliases or {})
    return [compile_grok(p, extra_patterns=vocab) for p in patterns]


def _q(name: str) -> str:
    """``name`` as one backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _qpath(name: str) -> str:
    """``name`` as a SQL column reference, quoted part by part: a
    dotted name reads a nested field, as ``F.col`` does."""
    return ".".join(map(_q, name.split(".")))


def chain_hit(outs: list[str]) -> str:
    """SQL: true on rows where any of the chain columns ``outs`` matched."""
    return "(" + " OR ".join(f"{_q(o)} IS NOT NULL" for o in outs) + ")"


def grok_chain(
    df,
    outs: list[str],
    src: str,
    compiled: list[CompiledGrok],
    anchored: bool = True,
):
    """First-match-wins grok rule list (src/stdlib/parse_groks.rs) over
    the string column named ``src`` (a dotted name reads a nested
    field), as SQL text: two ``selectExpr``
    projections per pattern, each a Generate barrier
    (``explode(array(...))``, see ``materialize``).

    - The first binds the marked line: ``regexp_replace`` of the
      GATED source (``CASE WHEN <earlier outs> IS NULL THEN src END``)
      by the one-pass pattern. Pattern i's input is NULL on rows an
      earlier pattern matched, so its regex short-circuits there:
      regex work per row is 1 + sum(miss_rates).
    - The second binds column ``outs[i]``: pattern i's captures as an
      array with one string per field (read them with
      ``chain_fields``), non-NULL only on rows where pattern i is the
      FIRST to match. A MARK-led line on a row whose source starts
      with MARK or holds SEP is ambiguous and takes the per-field
      native branch (``RLIKE`` + ``regexp_extract``); no other row
      reaches it, so a row with neither byte runs each tried regex
      exactly once.

    Regexes reach the SQL text only through ``sources._sql_literal``;
    a session that would read its escapes verbatim raises here. The
    plan is built in a handful of py4j calls instead of one per Column
    constructor."""
    _require_literal_escapes(df.sparkSession)
    s = _qpath(src)
    for i, (out, c) in enumerate(zip(outs, compiled)):
        pat, repl = _onepass_pattern(c, anchored)
        earlier = " AND ".join(f"{_q(o)} IS NULL" for o in outs[:i])
        gated = f"CASE WHEN {earlier} THEN {s} END" if i else s
        m = _q(out + "_marked")
        df = df.selectExpr(
            "*",
            f"explode(array(regexp_replace({gated}, {_sql_literal(pat)}, "
            f"{_sql_literal(repl)}))) AS {m}",
        )
        nat = _sql_literal(_native(c, anchored).regex)
        extract = ", ".join(f"regexp_extract({s}, {nat}, {k})" for k in range(1, len(c.fields) + 1))
        mark, sep = _sql_literal(_MARK), _sql_literal(_SEP)
        parts = (
            f"CASE WHEN startswith({m}, {mark}) THEN "
            f"CASE WHEN startswith({s}, {mark}) OR contains({s}, {sep}) "
            f"THEN CASE WHEN {s} RLIKE {nat} THEN array({extract}) END "
            f"ELSE split(substr({m}, 2), {sep}, -1) END END"
        )
        df = df.selectExpr(f"* EXCEPT ({m})", f"explode(array({parts})) AS {_q(out)}")
    return df


def chain_fields(outs: list[str], compiled: list[CompiledGrok]) -> dict[str, str]:
    """Field name -> SQL for its value from whichever chain column
    matched, over the UNION of the patterns' fields in first-seen
    order. A field is NULL on rows whose matching pattern does not
    define it (at most one chain column is non-NULL per row, so a
    coalesce over the defining patterns is the first-match value)."""
    vals: dict[str, list[str]] = {}
    for out, c in zip(outs, compiled):
        for name in c.fields:
            vals.setdefault(name, []).append(f"element_at({_q(out)}, {c.group_index(name)})")
    return {k: v[0] if len(v) == 1 else f"coalesce({', '.join(v)})" for k, v in vals.items()}


def parse_groks_stage(
    df,
    out: str,
    src: str,
    patterns: list[str],
    aliases: dict[str, str] | None = None,
    alias_sources: list[str] | None = None,
    anchored: bool = True,
):
    """src/stdlib/parse_groks.rs — the rule-LIST API over the string
    column named ``src``: try each grok pattern in order, first match
    wins; ``aliases`` and ``alias_sources`` extend the pattern
    vocabulary (``compile_groks``).

    Output: struct over the UNION of all patterns' fields; fields the
    matching pattern doesn't define are NULL; no pattern matching at
    all -> NULL struct (the error branch)."""
    compiled = compile_groks(patterns, aliases, alias_sources)
    outs = [f"_gk{i}" for i in range(len(compiled))]
    df = grok_chain(df, outs, src, compiled, anchored=anchored)
    fields = ", ".join(f"{_sql_literal(k)}, {v}" for k, v in chain_fields(outs, compiled).items())
    return df.selectExpr(
        f"* EXCEPT ({', '.join(map(_q, outs))})",
        f"CASE WHEN {chain_hit(outs)} THEN named_struct({fields}) END AS {_q(out)}",
    )


# ---------------------------------------------------------------------
# parse_key_value / parse_logfmt
# ---------------------------------------------------------------------


def parse_key_value_native(
    col: Column,
    key_value_delimiter: str = "=",
    field_delimiter: str = " ",
) -> Column:
    """Simple-case logfmt -> MapType via JVM ``str_to_map``.

    Handles the unquoted fast path (the overwhelming majority of real
    logfmt). Quoted values / duplicate-key arrays use the pandas
    lowering below.
    """
    import re as _re

    return F.str_to_map(
        F.trim(col),
        F.lit(_re.escape(field_delimiter) + "+"),
        F.lit(_re.escape(key_value_delimiter)),
    )


def parse_key_value_vectorized(
    col: Column,
    key_value_delimiter: str = "=",
    field_delimiter: str = " ",
) -> Column:
    """Full logfmt semantics (quoted values w/ escapes, standalone key
    -> "true") as one Arrow-batched UDF -> MapType.

    Reference: src/stdlib/parse_key_value.rs:52-98 (nom parser).
    Duplicate keys build an ARRAY there; this scalar-map lane keeps
    the LAST value (MapType is single-valued) — use
    ``parse_key_value_grouped`` for the exact array-building
    duplicate-key semantics.
    """
    kvd, fd = key_value_delimiter, field_delimiter

    @pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def kv(s: pd.Series) -> pd.Series:
        import re as _re

        # token = quoted string | bare word, around the kv delimiter.
        # NB no whitespace-skip after the delimiter: `k= v` is an
        # EMPTY value then the next token (logfmt semantics) — a \s*
        # there would swallow the following key as the value.
        tok = _re.compile(
            r'\s*([^'
            + _re.escape(kvd)
            + _re.escape(fd)
            + r'"]+)\s*(?:'
            + _re.escape(kvd)
            + r'("(?:[^"\\]|\\.)*"|[^'
            + _re.escape(fd)
            + r']*))?'
        )

        def one(line):
            if line is None:
                return None
            out = {}
            for m in tok.finditer(line):
                k, v = m.group(1), m.group(2)
                if v is None:
                    v = "true"  # standalone key (parse_key_value.rs:75-80)
                elif len(v) >= 2 and v[0] == '"' and v[-1] == '"':
                    v = v[1:-1].replace('\\"', '"').replace("\\\\", "\\")
                out[k] = v
            return out

        return s.map(one)

    return kv(col)


def parse_key_value_grouped(
    col: Column,
    key_value_delimiter: str = "=",
    field_delimiter: str = " ",
) -> Column:
    """Exact reference duplicate-key semantics as
    ``Map<String, Array<String>>`` (parse_key_value.rs:71-96):
    duplicate keys accumulate into an array in encounter order; a
    standalone key contributes "true" but is REPLACED (not appended)
    by a later real value, and a later standalone occurrence of an
    already-valued key is ignored."""
    kvd, fd = key_value_delimiter, field_delimiter

    @pandas_udf(T.MapType(T.StringType(), T.ArrayType(T.StringType())))
    def kv(s: pd.Series) -> pd.Series:
        import re as _re

        tok = _re.compile(
            r'\s*([^'
            + _re.escape(kvd)
            + _re.escape(fd)
            + r'"]+)\s*(?:'
            + _re.escape(kvd)
            + r'("(?:[^"\\]|\\.)*"|[^'
            + _re.escape(fd)
            + r']*))?'
        )

        def one(line):
            if line is None:
                return None
            out: dict[str, list] = {}
            standalone: set = set()
            for m in tok.finditer(line):
                k, v = m.group(1), m.group(2)
                if v is None:
                    if k not in out:
                        out[k] = ["true"]
                        standalone.add(k)
                    # key already has a value: "we are done"
                    continue
                if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
                    v = v[1:-1].replace('\\"', '"').replace("\\\\", "\\")
                if k not in out:
                    out[k] = [v]
                elif k in standalone:
                    out[k] = [v]  # real value replaces bare-key "true"
                    standalone.discard(k)
                else:
                    out[k].append(v)
            return out

        return s.map(one)

    return kv(col)


# ---------------------------------------------------------------------
# parse_timestamp — chrono strftime -> JVM DateTimeFormatter tokens
# ---------------------------------------------------------------------

# chrono token -> Spark (java.time) pattern fragment
_CHRONO_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%e": "d",
    "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss", "%p": "a",
    "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE",
    "%j": "DDD", "%z": "xx", "%:z": "xxx", "%Z": "zzz",
    "%f": "SSSSSSSSS", "%.f": "[.SSSSSSSSS]", "%3f": "SSS",
    "%6f": "SSSSSS", "%9f": "SSSSSSSSS",
    "%s": None,  # epoch seconds — handled specially
    "%%": "%",
}


def chrono_to_java(fmt: str) -> str:
    """Translate a chrono strftime format to a java.time pattern.

    Raises on tokens with no JVM equivalent (callers then fall back to
    the pandas lowering).
    """
    out: list[str] = []
    i = 0
    literal: list[str] = []

    def flush():
        if literal:
            text = "".join(literal)
            # only letter-containing literals need quoting in java.time
            if any(c.isalpha() or c == "'" for c in text):
                out.append("'" + text.replace("'", "''") + "'")
            else:
                out.append(text)
            literal.clear()

    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            for tok_len in (3, 2):
                tok = fmt[i : i + tok_len]
                if tok in _CHRONO_TO_JAVA:
                    java = _CHRONO_TO_JAVA[tok]
                    if java is None:
                        raise ValueError(f"chrono token {tok} unsupported in JVM path")
                    flush()
                    out.append(java)
                    i += tok_len
                    break
            else:
                raise ValueError(f"unknown chrono token at {fmt[i:]!r}")
        else:
            literal.append(ch)
            i += 1
    flush()
    return "".join(out)


def parse_timestamp(col: Column, format: str) -> Column:
    """VRL parse_timestamp: strptime parse -> TimestampType (UTC).

    Unparseable input -> NULL (error branch); the JVM path uses
    try_to_timestamp so bad rows never throw.
    """
    java_fmt = chrono_to_java(format)
    return F.try_to_timestamp(col, F.lit(java_fmt))


def from_unix_timestamp(col: Column, unit: str = "seconds") -> Column:
    """src/stdlib/from_unix_timestamp.rs — unit in s/ms/us/ns."""
    if unit in ("seconds", "s"):
        return F.timestamp_seconds(col)
    if unit in ("milliseconds", "ms"):
        return F.timestamp_millis(col)
    if unit in ("microseconds", "us"):
        return F.timestamp_micros(col)
    if unit in ("nanoseconds", "ns"):
        return F.timestamp_micros((col / 1000).cast("long"))
    raise ValueError(f"bad unit {unit}")


def to_unix_timestamp(col: Column, unit: str = "seconds") -> Column:
    if unit in ("seconds", "s"):
        return F.unix_seconds(col)
    if unit in ("milliseconds", "ms"):
        return F.unix_millis(col)
    if unit in ("microseconds", "us"):
        return F.unix_micros(col)
    if unit in ("nanoseconds", "ns"):
        return F.unix_micros(col) * 1000
    raise ValueError(f"bad unit {unit}")


# ---------------------------------------------------------------------
# parse_url / parse_query_string / parse_json / parse_csv
# ---------------------------------------------------------------------


def parse_url(col: Column) -> Column:
    """URL -> struct{scheme,host,port,path,query,fragment,username}.

    Reference src/stdlib/parse_url.rs:30-80. Lowered entirely to JVM
    ``parse_url`` calls — one tokenizer pass each but all codegen'd.
    """
    return F.struct(
        F.lower(F.regexp_extract(col, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)).alias("scheme"),
        F.lower(F.parse_url(col, F.lit("HOST"))).alias("host"),
        # port = trailing :digits of the AUTHORITY. Anchored at $ so an
        # all-digit password can't shadow it (url-crate semantics), and
        # ~4x cheaper than the old whole-URL reluctant-quantifier scan.
        F.regexp_extract(F.parse_url(col, F.lit("AUTHORITY")), r":(\d+)$", 1)
        .try_cast("long")
        .alias("port"),
        F.parse_url(col, F.lit("PATH")).alias("path"),
        F.parse_url(col, F.lit("QUERY")).alias("query"),
        F.parse_url(col, F.lit("REF")).alias("fragment"),
        F.parse_url(col, F.lit("USERINFO")).alias("username"),
    )


def parse_query_string(col: Column) -> Column:
    """query string -> map (src/stdlib/parse_query_string.rs).

    Duplicate keys keep the last value (MapType restriction; the
    reference builds arrays)."""
    stripped = F.regexp_replace(col, r"^[?&]", "")
    return F.str_to_map(stripped, F.lit("&"), F.lit("="))


def parse_json(col: Column, schema: T.DataType | str | None = None) -> Column:
    """serde_json -> Value (src/stdlib/parse_json.rs). With a known
    schema: from_json; without: Spark VariantType (semi-structured)."""
    if schema is not None:
        return F.from_json(col, schema)
    return F.try_parse_json(col)


def parse_csv(col: Column, delimiter: str = ",") -> Column:
    """One CSV row -> array<string> (src/stdlib/parse_csv.rs).

    JVM lowering: single regexp_extract_all pass with a
    field-then-(delimiter|$) grammar. A row NOT ending in a bare
    delimiter yields one spurious zero-length match at end-of-string
    (find() semantics) — dropped explicitly; a trailing delimiter's
    legitimate empty final field is kept."""
    import re as _re

    d = _re.escape(delimiter)
    pat = f'("(?:[^"]|"")*"|[^{d}]*)(?:{d}|$)'
    raw = F.regexp_extract_all(col, F.lit(pat), 1)
    n = F.size(raw)
    spurious = (
        ~col.endswith(delimiter) & (n > 1) & (F.element_at(raw, -1) == "")
    )
    fields = F.when(spurious, F.slice(raw, 1, n - 1)).otherwise(raw)
    return F.transform(
        fields,
        lambda s: F.when(
            s.rlike('^".*"$'),
            F.regexp_replace(F.substring(s, 2, F.length(s) - 2), '""', '"'),
        ).otherwise(s),
    )


# ---------------------------------------------------------------------
# parse_duration / parse_bytes (vectorized arithmetic, JVM-side)
# ---------------------------------------------------------------------

_DURATION_UNITS = {  # src/stdlib/parse_duration.rs unit table
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3,
    "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0,
}


def parse_duration(col: Column, unit: str = "s") -> Column:
    """'5m30s' -> numeric in ``unit`` (src/stdlib/parse_duration.rs).

    Lowered to regexp_extract_all + aggregate — pure JVM."""
    scale = _DURATION_UNITS[unit]
    pairs = F.regexp_extract_all(
        col, F.lit(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h|d)"), 0
    )
    per = F.transform(
        pairs,
        lambda p: F.regexp_extract(p, r"([\d.]+)", 1).cast("double")
        * _unit_factor(F.regexp_extract(p, r"[\d.]+(\D+)", 1)),
    )
    total = F.aggregate(per, F.lit(0.0), lambda acc, x: acc + x)
    return F.when(F.size(pairs) > 0, total / F.lit(scale))


def _unit_factor(unit_col: Column) -> Column:
    expr = F.lit(None).cast("double")
    cascade = F
    out = None
    for u, f_ in _DURATION_UNITS.items():
        cond = unit_col == u
        out = F.when(cond, F.lit(f_)) if out is None else out.when(cond, F.lit(f_))
    return out.otherwise(expr)


_BYTE_UNITS = {  # src/stdlib/parse_bytes.rs: decimal + binary units
    "b": 1.0,
    "kb": 1e3, "mb": 1e6, "gb": 1e9, "tb": 1e12, "pb": 1e15,
    "kib": 2**10, "mib": 2**20, "gib": 2**30, "tib": 2**40, "pib": 2**50,
}


def parse_bytes(col: Column, unit: str = "B") -> Column:
    """'5MiB' -> bytes count (src/stdlib/parse_bytes.rs)."""
    num = F.regexp_extract(col, r"^\s*([\d.]+)\s*([A-Za-z]+)\s*$", 1)
    u = F.lower(F.regexp_extract(col, r"^\s*([\d.]+)\s*([A-Za-z]+)\s*$", 2))
    factor = None
    for name, f_ in _BYTE_UNITS.items():
        cond = u == name
        factor = F.when(cond, F.lit(f_)) if factor is None else factor.when(cond, F.lit(f_))
    return (num.try_cast("double") * factor) / F.lit(_BYTE_UNITS[unit.lower()])


def parse_int(col: Column, base: int = 10) -> Column:
    """string -> int with radix (src/stdlib/parse_int.rs). Base-10
    strings may carry 0x/0o/0b prefixes selecting the radix."""
    if base == 10:
        return (
            F.when(col.rlike("^[+-]?0[xX]"), F.conv(F.regexp_replace(col, "^([+-]?)0[xX]", "$1"), 16, 10))
            .when(col.rlike("^[+-]?0[oO]"), F.conv(F.regexp_replace(col, "^([+-]?)0[oO]", "$1"), 8, 10))
            .when(col.rlike("^[+-]?0[bB]"), F.conv(F.regexp_replace(col, "^([+-]?)0[bB]", "$1"), 2, 10))
            .otherwise(col.try_cast("long").cast("string"))
            .try_cast("long")
        )
    return F.conv(col, base, 10).try_cast("long")
