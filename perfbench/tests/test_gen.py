from __future__ import annotations

import duckdb
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from vrl_spark.sources.pages import derive_pages_sql

N = 2000


def _line_kinds(docs) -> dict:
    con = duckdb.connect()
    con.register("documents", docs)
    return dict(con.execute(f"""
        SELECT CASE WHEN text LIKE 'ts=%' THEN 'logfmt'
                    WHEN text LIKE chr(1) || 'garbled %' THEN 'garbage'
                    ELSE 'access' END AS kind, count(*)
        FROM ({derive_pages_sql()}) GROUP BY kind
    """).fetchall())


def _hours(docs) -> int:
    con = duckdb.connect()
    con.register("documents", docs)
    return con.execute(
        f"SELECT count(DISTINCT date_trunc('hour', warc_ts)) FROM ({derive_pages_sql()})"
    ).fetchone()[0]


@pytest.mark.parametrize("mix", sorted(gen.MIXES))
def test_mix_fractions_are_exact(mix):
    docs = gen.documents(7, N, mix)
    access, logfmt, garbage = gen.MIXES[mix]
    assert _line_kinds(docs) == {
        "access": N * access // 20, "logfmt": N * logfmt // 20,
        "garbage": N * garbage // 20,
    }
    assert _hours(docs) == gen.HOURS
    assert len(set(docs.column("doc_id").to_pylist())) == N


def test_rejects_inexact_size():
    with pytest.raises(ValueError):
        gen.documents(1, N + 1, "access")


def _pages(tmp_path, seed: int, name: str):
    docs = gen.write_documents(gen.documents(seed, N, "access"),
                               str(tmp_path / name / "documents.parquet"))
    info = gen.write_pages(docs, str(tmp_path / name / "pages"))
    return pq.read_table(str(tmp_path / name / "pages")), info


def test_same_seed_same_table_other_seed_other_table(tmp_path):
    a, info = _pages(tmp_path, 1, "a")
    b, _ = _pages(tmp_path, 1, "b")
    c, _ = _pages(tmp_path, 2, "c")
    assert a.equals(b)
    assert not a.equals(c)
    assert info["rows"] == N and info["files"] == gen.PAGES_FILES and info["bytes"] > 0


def test_pages_equal_engine_derive_pages(spark, tmp_path):
    """The DuckDB-derived input is exactly what the engine's
    ``derive_pages`` makes from the same documents."""
    from vrl_spark.sources.pages import derive_pages

    docs = gen.write_documents(gen.documents(3, N, "fallback"),
                               str(tmp_path / "documents.parquet"))
    gen.write_pages(docs, str(tmp_path / "pages"))
    want = derive_pages(spark.read.parquet(docs))
    got = spark.read.parquet(str(tmp_path / "pages"))
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_bodies_follow_the_measured_sf01_statistics():
    import collections

    import numpy as np

    texts, langs = gen.bodies(np.random.default_rng(4))
    assert len(texts) == len(langs) == gen.POOL
    assert dict(collections.Counter(langs.tolist())) == gen.LANG_COUNTS
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == gen.DUPS
    assert all(t[:-len(" dup")] in texts for t in dups)
    originals = [t.split() for t in texts if not t.endswith(" dup")]
    assert all(10 <= len(w) <= 99 and set(w) <= set(gen.WORDS) for w in originals)
