"""End-to-end flagship pipeline: Spark vs independent DuckDB oracle
(routed-row equality + per-sink aggregate counts, the north-rule
correctness gates) plus multi-sink fan-out write."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in ["documents", "events", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(spark_df, con, sql):
    a = spark_df.toPandas()
    b = con.execute(sql).df()
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols, (sorted(b.columns), cols)
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    return len(a)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_pipeline_queries_match_oracle(spark, sf_dir, oracle):
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    checked = 0
    for name in ["pipeline_aggregate", "pipeline_routed_rows", "pipeline_route_counts"]:
        n = compare(qs[name](spark, sf_dir), oracle, osql[name])
        assert n > 0
        checked += 1
    assert checked == 3


def test_route_counts_conserve_rows(spark, sf_dir, oracle):
    qs = entrymod.queries()
    total = qs["pipeline_route_counts"](spark, sf_dir).groupBy().sum("n").collect()[0][0]
    docs = oracle.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert total == docs


def test_multi_sink_write(spark, sf_dir, tmp_path):
    from vrl_spark.plans import weblog

    out = str(tmp_path / "sinks")
    df = weblog.routed_rows(spark, sf_dir)
    weblog.write_sinks(df, out)
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    routes = {r["route"] for r in back.select("route").distinct().collect()}
    assert "dead_letter" in routes and "ok" in routes


def test_enrich_stage_semantics(spark):
    """Nullish langs (NULL, '', '-', blank) map to 'und'; a known lang
    gets its dim row; an unknown lang keeps its row with NULL name and
    family. The left join neither drops nor fans out rows."""
    from vrl_spark.plans import weblog

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "-"), (4, "  "), (5, "en"), (6, "xx")],
        "id long, lang string",
    )
    out = weblog.enrich_stage(spark, df)
    assert out.columns == df.columns + ["lang_norm", "lang_name", "lang_family"]
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == df.count() == out.count() == 6
    got = {
        i: (r["lang_norm"], r["lang_name"], r["lang_family"])
        for i, r in rows.items()
    }
    for i in (1, 2, 3, 4):
        assert got[i] == ("und", "Unknown", "unknown"), (i, got[i])
    assert got[5] == ("en", "English", "germanic")
    assert got[6] == ("xx", None, None)
    assert rows[4]["lang"] == "  " and rows[6]["lang"] == "xx"


def test_literal_table_types_and_escaping(spark):
    """The literal dims keep createDataFrame's types (str -> string,
    int -> bigint) and round-trip quotes and backslashes exactly."""
    from vrl_spark.sources import literal_table

    rows = [("it's", 1), ("back\\slash", -2), ("", 3)]
    df = literal_table(spark, rows, ["s", "n"])
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("s", "string"), ("n", "bigint")
    ]
    assert [tuple(r) for r in df.collect()] == rows
    with pytest.raises(TypeError):
        literal_table(spark, [(1.5,)], ["x"])


def test_literal_lookup_keys_types_and_escaping(spark):
    """The literal lookup finds each key's values (quotes and
    backslashes round-trip exactly), gives NULL for an absent key,
    and refuses, on the driver, a duplicated key (naming it) and any
    value that is not ``str`` or ``int``."""
    from vrl_spark.sources import literal_lookup

    rows = [("it's", "a'b", 1), ("back\\slash", "c\\d", -2), ("", "empty", 3)]
    exprs = literal_lookup(spark, rows, "k", ["v", "n"])
    df = spark.createDataFrame(
        [(0, "it's"), (1, "back\\slash"), (2, ""), (3, "nope"), (4, None)],
        "i int, k string",
    ).selectExpr("i", *exprs)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema][1:] == [
        ("v", "string"), ("n", "bigint")
    ]
    got = [tuple(r)[1:] for r in df.orderBy("i").collect()]
    assert got == [r[1:] for r in rows] + [(None, None), (None, None)]

    with pytest.raises(ValueError, match="duplicate key \"it's\""):
        literal_lookup(spark, rows + [("it's", "x", 9)], "k", ["v", "n"])
    with pytest.raises(ValueError, match="duplicate key 7"):
        literal_lookup(spark, [(7, "a"), (8, "b"), (7, "c")], "k", ["v"])
    for bad in [(1.5, "a"), ("a", 1.5), (None, "a"), (True, "a")]:
        with pytest.raises(TypeError):
            literal_lookup(spark, [bad], "k", ["v"])
