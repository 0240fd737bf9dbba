"""Seeded workload generator.

Builds a ``documents`` table (the engine's ``documents`` schema:
``doc_id, text, lang, source, n_chars``) whose ``doc_id``s are chosen
so that ``derive_pages`` yields an exact access / logfmt / garbage
line mix over a fixed number of hours. ``derive_pages`` picks the
line kind from ``doc_id % 20`` (0-15 access, 16-18 logfmt, 19
garbage) and the timestamp from ``(doc_id * 97) % 86400`` seconds
into 2024-01-01; 97 is invertible mod 86400, so the generator draws
each page's kind and second of day and solves for its ``doc_id``.
The DuckDB oracle derives its pages from the same table, so it checks
every mix unchanged.

The document bodies are drawn from the seed to match the sf0.1 test
``documents`` table (5000 rows), whose statistics were measured with
DuckDB and are written below, since the benchmark reads nothing
outside its checkout:

- ``lang``: en 2059, zh 753, es 744, fr 742, de 702 rows, no others
  and no nulls (``LANG_COUNTS``); every one is in the enrichment dim;
- ``text``: 4750 bodies of 10-99 words, each drawn uniformly from a
  30-word vocabulary (``WORDS``; each word occurs 8829-9182 times),
  plus 250 near-duplicates that are another row's text followed by
  `` dup`` (``DUPS``);
- ``source``: ``'src' || doc_id % 20`` on every row, so 250 rows each;
- ``n_chars``: ``length(text)`` on every row.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# lines per 20 pages: (access, logfmt, garbage)
MIXES = {
    "access": (16, 3, 1),    # the standard 80 / 15 / 5 mix
    "fallback": (4, 12, 4),  # 20 / 60 / 20: the primary grok mostly misses
}
# doc_id % 20 residues derive_pages maps to each line kind
_RESIDUES = ((0, 16), (16, 19), (19, 20))
_DAY = 86400
_INV97 = pow(97, -1, _DAY)

HOURS = 4  # hour partitions of the production run
POOL = 5000  # rows of the sf0.1 documents table
PAGES_FILES = 8
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANG_COUNTS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}
DUPS = 250  # near-duplicate bodies: another body + " dup"


def bodies(rng: np.random.Generator) -> tuple[list[str], np.ndarray]:
    """``POOL`` document texts and languages with the sf0.1 table's
    statistics (see the module docstring)."""
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
        for _ in range(POOL - DUPS)
    ]
    texts += [texts[i] + " dup" for i in rng.integers(0, POOL - DUPS, DUPS)]
    langs = np.repeat(list(LANG_COUNTS), list(LANG_COUNTS.values()))
    rng.shuffle(langs)
    return texts, langs


def documents(seed: int, n_pages: int, mix: str) -> pa.Table:
    """One documents row per page over ``HOURS`` seeded hours of the
    day, ``n_pages`` a multiple of 20 so the mix is exact."""
    if n_pages % 20:
        raise ValueError(f"n_pages must be a multiple of 20, got {n_pages}")
    rng = np.random.default_rng(seed)
    texts, langs = bodies(rng)

    kinds = np.repeat(np.arange(3), [n_pages * k // 20 for k in MIXES[mix]])
    rng.shuffle(kinds)
    lo = np.array([r[0] for r in _RESIDUES])[kinds]
    hi = np.array([r[1] for r in _RESIDUES])[kinds]
    residue = rng.integers(lo, hi)
    hour = rng.choice(24, HOURS, replace=False)[rng.integers(0, HOURS, n_pages)]
    # (s * _INV97) % 20 == residue  <=>  s % 20 == (17 * residue) % 20
    second = 3600 * hour + 20 * rng.integers(0, 180, n_pages) + (17 * residue) % 20
    # distinct multiples of a day keep doc_ids unique without moving
    # the kind or the timestamp
    doc_id = (second * _INV97) % _DAY + _DAY * np.arange(n_pages, dtype=np.int64)
    pick = rng.integers(0, POOL, n_pages)
    text = [texts[i] for i in pick]
    return pa.table({
        "doc_id": doc_id.astype(np.int64),
        "text": text,
        "lang": langs[pick].tolist(),
        "source": [f"src{i % 20}" for i in pick],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def write_documents(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def write_pages(docs_path: str, pages_dir: str) -> dict:
    """Derive the pages table and write it as ``PAGES_FILES`` parquet
    files: the program's input. Returns its rows, bytes and file count.

    The derivation is ``derive_pages_sql``, the engine's DuckDB twin of
    ``derive_pages`` (``tests/test_gen.py`` pins the two equal), so the
    input exists before the JVM starts. ``html`` is the document text as
    bytes, as ``derive_pages`` makes it."""
    import duckdb

    from vrl_spark.sources.pages import derive_pages_sql

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')"
        )
        table = con.execute(f"""
            SELECT p.url, p.warc_ts::TIMESTAMPTZ AS warc_ts,
                   encode(d.text) AS html, p.text, p.lang, p.doc_id
            FROM ({derive_pages_sql()}) p JOIN documents d USING (doc_id)
            ORDER BY p.doc_id
        """).arrow()
    finally:
        con.close()
    os.makedirs(pages_dir, exist_ok=True)
    step = -(-table.num_rows // PAGES_FILES)
    paths = [os.path.join(pages_dir, f"part-{i:05d}.parquet") for i in range(PAGES_FILES)]
    for i, path in enumerate(paths):
        pq.write_table(table.slice(i * step, step), path)
    return {
        "rows": table.num_rows,
        "bytes": sum(os.path.getsize(p) for p in paths),
        "files": len(paths),
    }
