"""Sources: parquet/Iceberg-style readers, small in-plan literal
tables and lookups, and deterministic synthetic pages generation
(Common-Crawl-style input per BASELINE.json input_hint: url,
warc_ts, html, text, lang)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def spread_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan fan-out (guide §2: make partitioning adapt
    to input size instead of trusting a constant).

    A parquet file with few row groups yields fewer scan splits than
    the machine has cores — the driver's test tables are single-row-
    group files, so EVERY downstream map stage (grok, Arrow UDFs,
    codecs) was serializing on one task regardless of core count.
    When the scan's split count is below the target, add one
    round-robin repartition (deterministic: sort-before-repartition
    stays on). The target defaults to HALF the cores — measured the
    local sweet spot across both workload shapes (map-heavy queries
    saturate by ~cores/2; join/loop-heavy queries pay per-task
    scheduling overhead per stage, so full-cores fan-out loses what
    the maps gain). When the input is properly split — any real multi-row-group/multi-file
    table, i.e. the 100 TB case — this is a NO-OP costing only the
    getNumPartitions lookup, so nothing here is tuned to one box."""
    target = max(1, df.sparkSession.sparkContext.defaultParallelism // 2)
    parts = df.rdd.getNumPartitions()
    if parts >= target:
        return df
    return df.repartition(target)


def read_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one driver table; ``spread=True`` applies the adaptive
    fan-out. Opt-IN per call site: fan-out pays one shuffle plus
    per-stage task overhead, which measured as a net LOSS for light
    map/window/join queries and a 2-4x WIN wherever a CPU-heavy map
    stage (Arrow UDF codecs/hashing, wide regex chains) dominates —
    the per-query sweep in OPTIMIZATION_r07.md records which is
    which."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return spread_scan(df) if spread else df


def _sql_literal(v) -> str:
    """``v`` as a Spark SQL literal. A string is backslash-escaped, so
    it reads back exactly only while the session parses escapes (see
    ``_require_literal_escapes``)."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, int) and not isinstance(v, bool):
        return f"{v}L"
    raise TypeError(f"SQL literals support str and int values, got {v!r}")


def _require_literal_escapes(spark: SparkSession) -> None:
    """Raise unless ``spark`` reads backslash escapes in SQL string
    literals, as ``_sql_literal`` writes them. With
    ``spark.sql.parser.escapedStringLiterals`` on, Spark keeps them
    verbatim and every ``\\d`` in a regex would silently change."""
    if spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").lower() == "true":
        raise ValueError(
            "spark.sql.parser.escapedStringLiterals=true: SQL literals built "
            "by vrl_spark would be misread; unset it for this session"
        )


def literal_table(
    spark: SparkSession, rows: list[tuple], columns: list[str]
) -> DataFrame:
    """A small constant table (a dim a join cannot do without, such as
    a range-keyed one) as an inline ``VALUES`` relation, built
    entirely in the JVM.

    Spark plans it as a LocalRelation and runs it as a
    ``LocalTableScan``. ``spark.createDataFrame`` over a Python list
    instead goes through a PythonRDD: every build of a broadcast over
    it runs a job on Python workers. Types follow
    ``createDataFrame``'s inference: ``str`` -> string, ``int`` ->
    bigint. A dim read by key equality alone is cheaper as a
    ``literal_lookup``."""
    _require_literal_escapes(spark)
    values = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows
    )
    return spark.sql(
        f"SELECT * FROM (VALUES {values}) AS t({', '.join(columns)})"
    )


def literal_lookup(
    spark: SparkSession, rows: list[tuple], key: str, columns: list[str]
) -> list[str]:
    """A small constant dim keyed by each row's first field, as SQL
    projections: one ``element_at(map(k1, v1, ...), key) AS col`` per
    name in ``columns`` (the rows' other fields, in order). ``key`` is
    SQL text; a key not in the dim, or NULL, gives NULL, as a left
    join's miss does.

    The map is a literal inside the expression, so the lookup needs
    no join, no broadcast and no job to build either. Values follow
    ``literal_table``'s types (``str`` -> string, ``int`` -> bigint).
    A duplicated key raises here: a join would fan the fact row out,
    and a map literal's answer would hang on
    ``spark.sql.mapKeyDedupPolicy``."""
    _require_literal_escapes(spark)
    keys = {}
    for r in rows:
        k = _sql_literal(r[0])
        if k in keys:
            raise ValueError(f"literal_lookup: duplicate key {r[0]!r}")
        keys[k] = r
    return [
        "element_at(map("
        + ", ".join(f"{k}, {_sql_literal(r[i])}" for k, r in keys.items())
        + f"), {key}) AS {col}"
        for i, col in enumerate(columns, 1)
    ]
