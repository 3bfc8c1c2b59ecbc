"""Deterministic id generation (SURVEY §2.7 F9).

Reference: ``uuid5(namespace, crime_id|name|seq)`` synthetic accused ids
(``brief_facts_ai/main.py:72–79``), ``uuid_generate_v5`` flat-view ids
(``unified_brief_facts_etl.sql:74–75``), MD5 fingerprints for dedup tiers
(``fix_fullname/create_person_deduplication_table.py:516–560``).

``fingerprint`` is a pure JVM expression (md5 of '|'-joined parts, null-safe)
— the workhorse for dedup blocking keys at scale. ``uuid5_expr`` formats the
md5 digest as an RFC-4122-shaped uuid5 string, also JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fingerprint(*cols: Column | str, sep: str = "|") -> Column:
    """md5 over lower/trimmed, null-safe '|'-joined parts."""
    parts = [
        F.coalesce(F.lower(F.trim((F.col(c) if isinstance(c, str) else c).cast("string"))), F.lit(""))
        for c in cols
    ]
    return F.md5(F.concat_ws(sep, *parts))


def uuid5_expr(*cols: Column | str, namespace: str = "dopams") -> Column:
    """Deterministic uuid5-shaped id from md5(namespace|parts), with the
    RFC-4122 version nibble ('5') AND variant bits (clock_seq_hi forced to
    8–b) set, so the output parses as a valid RFC-4122 UUID. (Python's
    ``uuid.uuid5`` hashes with SHA-1, which the DuckDB oracle lacks — the
    md5 name-hash makes values differ from ``uuid.uuid5`` but keeps every
    RFC structural property and cross-engine determinism.)"""
    digest = fingerprint(F.lit(namespace), *cols)
    var_src = F.substring(digest, 17, 1)
    # hex nibble → (nibble & 0x3) | 0x8, i.e. one of 8/9/a/b
    variant = (
        F.when(var_src.isin("0", "4", "8", "c"), "8")
        .when(var_src.isin("1", "5", "9", "d"), "9")
        .when(var_src.isin("2", "6", "a", "e"), "a")
        .otherwise("b")
    )
    return F.concat_ws(
        "-",
        F.substring(digest, 1, 8),
        F.substring(digest, 9, 4),
        F.concat(F.lit("5"), F.substring(digest, 14, 3)),
        F.concat(variant, F.substring(digest, 18, 3)),
        F.substring(digest, 21, 12),
    )


def md5_bucket32(key: Column) -> Column:
    """THE deterministic hash primitive every split / cohort / fold /
    replicate assignment derives from: the first 8 md5 hex chars of
    ``key`` as a 32-bit-uniform BIGINT in [0, 2³²). A pure function of
    the key — reproducible across runs, partitionings, and engines
    (replicable anywhere a standard md5 exists). SQL twin:
    ``catalog.md5_bucket32_sql``; parity property-tested in
    ``tests/test_sessionize_property.py``. Derivers: ``md5_cohort``
    (salted modulus), ``quality.assign_split`` (cumulative-fraction
    thresholds), ``stratified_kfold_assign`` (label-salted fold),
    ``bootstrap_mean_ci`` (replicate-salted uniform)."""
    return md5_words(F.md5(key.cast("string")))[0]


def md5_words(hex_digest: Column) -> tuple[Column, Column]:
    """The two leading 32-bit words of an md5 hex string, each a BIGINT in
    [0, 2³²): hex chars 1–8 and 9–16. The one place the sketches split an
    md5 (MinHash's universal family, the Bloom filter's double hashing,
    SimHash's 64 token bits, hashed-bucket weights); callers compute the
    md5 once and split it here, and any engine with a standard md5
    reproduces both words."""
    return tuple(
        F.conv(F.substring(hex_digest, start, 8), 16, 10).cast("bigint") for start in (1, 9)
    )


def md5_cohort(salt: str, key: Column | str, mod: int = 2) -> Column:
    """Deterministic hash-split cohort id: ``md5_bucket32(salt|key)``
    mod ``mod`` — the assignment used by ``ab_test_proportion_z`` /
    ``logrank_retention_test`` and friends. SQL twin:
    ``catalog.md5_cohort_sql``. (r11: the former inline copies in
    ab_test / stratified-split / bootstrap queries all route through
    ``md5_bucket32`` now — ONE hash primitive on each engine.)"""
    c = F.col(key) if isinstance(key, str) else key
    return md5_bucket32(F.concat(F.lit(f"{salt}|"), c.cast("string"))) % mod
