"""PII detection + scrubbing over document text — the applied,
corpus-scale composition of VRL's ``redact`` (reference
src/stdlib/redact.rs). The reference ships one named filter,
``us_social_security_number`` (redact.rs:11-18); that regex is
reproduced here exactly (compacted from its free-spacing form), and
the family is extended with the categories a training-data curation
pass actually scrubs: emails, IPv4 addresses, credit-card numbers,
phone numbers.

Every pattern is deliberately written in the common Java-regex /
RE2 subset (no lookarounds, no backreferences) so the DuckDB oracle
can run the *same* pattern text — detection counts and scrubbed
output are bit-comparable across engines.

Scale: pure chained ``regexp_replace`` / ``regexp_count`` — JVM
whole-stage codegen, zero shuffles, zero Python. At 100 TB this is a
map-only pass that fuses with the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered: scrubbing applies the replacements in this order (longer /
# more-specific digit shapes before shorter ones), identically in the
# Spark plan and the DuckDB oracle, so any cross-category overlap
# resolves the same way in both engines.
PII_PATTERNS: dict[str, str] = {
    # local-part chars per RFC-ish practical subset; TLD >= 2 alpha
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # dotted-quad with per-octet range check
    "ipv4": (
        r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b"
    ),
    # reference-exact (redact.rs:11-18): area 001-899 except 666,
    # group 01-99, serial 0001-9999 — unanchored, like the reference
    "us_ssn": (
        r"(?:00[1-9]|0[1-9][0-9]|[1-578][0-9]{2}|6[0-57-9][0-9]|66[0-57-9])-"
        r"(?:0[1-9]|[1-9]0|[1-9][1-9])-"
        r"(?:000[1-9]|00[1-9]0|0[1-9]00|[1-9]000|[1-9]{4})"
    ),
    # 4-4-4-4 grouped (all-dash or all-space; spelled as two branches
    # rather than a backreference, which RE2/DuckDB lacks) or a bare
    # 16-digit run
    "credit_card": (
        r"\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\b"
        r"|\b[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}\b"
        r"|\b[0-9]{16}\b"
    ),
    # NANP-ish 3-3-4 with dash/dot separators
    "phone": r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b",
}

DEFAULT_TOKENS: dict[str, str] = {
    "email": "<EMAIL>",
    "ipv4": "<IP>",
    "us_ssn": "<SSN>",
    "credit_card": "<CARD>",
    "phone": "<PHONE>",
}


def _resolve(filters: list[str] | None) -> list[str]:
    names = list(filters) if filters is not None else list(PII_PATTERNS)
    if not names:
        raise ValueError("filters must be non-empty (or None for all)")
    unknown = [n for n in names if n not in PII_PATTERNS]
    if unknown:
        raise ValueError(f"unknown PII filters {unknown!r}; have {list(PII_PATTERNS)}")
    return names


def pii_count(col: Column, name: str) -> Column:
    """Match count for one PII category (pre-scrub text)."""
    return F.regexp_count(col, F.lit(PII_PATTERNS[name])).cast("long")


def pii_scrub_col(col: Column, filters: list[str] | None = None) -> Column:
    """Column-level scrub: every match of every selected category is
    replaced by its ``<TOKEN>``, applied in PII_PATTERNS order."""
    out = col
    for name in _resolve(filters):
        out = F.regexp_replace(out, PII_PATTERNS[name], DEFAULT_TOKENS[name])
    return out


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    filters: list[str] | None = None,
    out_col: str = "scrubbed",
) -> DataFrame:
    """Adds ``out_col`` (scrubbed text), one
    ``n_<filter>`` detection-count column per category plus
    ``pii_total``. Counts are measured on the ORIGINAL text, before
    any replacement, so categories are independent."""
    names = _resolve(filters)
    t = F.col(text_col)
    out = df.withColumn(out_col, pii_scrub_col(t, names))
    total = None
    for name in names:
        c = pii_count(t, name)
        out = out.withColumn(f"n_{name}", c)
        total = c if total is None else total + c
    return out.withColumn("pii_total", total.cast("long"))


def extract_entities(
    df: DataFrame,
    text_col: str = "text",
    filters: list[str] | None = None,
) -> DataFrame:
    """Adds one ``<name>_list`` column per selected category holding
    every match in document order joined with ``|`` (string output so
    cross-engine comparison is canonical), plus ``entity_total``.
    The extraction dual of ``pii_scrub``: same pattern table, same
    map-only plan shape."""
    names = _resolve(filters)
    t = F.col(text_col)
    out = df
    total = None
    for name in names:
        matches = F.regexp_extract_all(t, F.lit(f"({PII_PATTERNS[name]})"), 1)
        out = out.withColumn(f"{name}_list", F.array_join(matches, "|"))
        c = F.size(matches).cast("long")
        total = c if total is None else total + c
    return out.withColumn("entity_total", total.cast("long"))
