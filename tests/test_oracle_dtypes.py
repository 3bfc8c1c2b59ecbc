"""Registry-wide decimal-hash sweep (VERDICT r6 items 1–2).

The driver's correctness gate hashes raw cell reprs after a column sort.
DuckDB's pandas bridge converts bare DECIMAL results to float64, while
Spark's toPandas surfaces DecimalType as ``decimal.Decimal`` objects — so
a DECIMAL-typed output column on EITHER side makes the hash a coin flip
on trailing-zero cells (``Decimal('1524135.00')`` vs ``1524135.0``): the
exact root cause of the three round-6 driver failures. The catalog's
convention (``plans/catalog.py`` docstring, practiced by
``q1_pricing_summary``) is to stringify exact decimals on BOTH sides;
these tests make that convention machine-enforced for every registered
query, so the bug class cannot re-enter.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql.types import DecimalType

from dopams_etl_spark.catalog import TABLES
from dopams_etl_spark.plans import catalog

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


def test_no_bare_decimal_oracle_outputs(duck):
    """DESCRIBE every oracle in DuckDB: no output column may be
    DECIMAL-typed — stringify exact money columns (CAST ... AS VARCHAR)
    or cast ratios to DOUBLE, per the q1 convention."""
    offenders = {}
    for name, sql in catalog.oracle_sql().items():
        desc = duck.execute("DESCRIBE " + sql).df()
        dec = [
            (r.column_name, r.column_type)
            for r in desc.itertuples()
            if r.column_type.startswith("DECIMAL")
        ]
        if dec:
            offenders[name] = dec
    assert not offenders, f"bare DECIMAL oracle outputs: {offenders}"


_DUCK_INT = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT")
_DUCK_FLOAT = ("FLOAT", "DOUBLE", "REAL")


def _duck_family(t: str) -> str:
    t = t.upper()
    if t in ("HUGEINT", "UHUGEINT"):
        return "hugeint"  # pandas-bridges to float64 — always an offense
    if t in _DUCK_INT:
        return "int"
    if t in _DUCK_FLOAT:
        return "float"
    if t == "BOOLEAN":
        return "bool"
    return "other"


def _spark_family(dt) -> str:
    from pyspark.sql.types import (
        BooleanType, ByteType, DoubleType, FloatType, IntegerType,
        LongType, ShortType,
    )

    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return "int"
    if isinstance(dt, (FloatType, DoubleType)):
        return "float"
    if isinstance(dt, BooleanType):
        return "bool"
    return "other"


def test_numeric_family_parity(duck, registry_plans):
    """The driver hashes raw cell reprs, so a Spark int64 column against
    a DuckDB DOUBLE (or HUGEINT → float64-bridged) column mismatches on
    EVERY row (``3`` vs ``3.0``) even when values are identical — the
    exact root cause of the r7 ``kaplan_meier_retention`` failure
    (``SUM(BIGINT)`` window → HUGEINT → float64). Enforce: no HUGEINT
    oracle outputs, and int/float/bool family agreement per column."""
    offenders = {}
    oracles = catalog.oracle_sql()
    for name, plan in registry_plans.items():
        sql = oracles.get(name)
        if sql is None:
            continue
        desc = duck.execute("DESCRIBE " + sql).df()
        duck_fams = {
            r.column_name: _duck_family(r.column_type)
            for r in desc.itertuples()
        }
        bad = []
        for f in plan.schema.fields:
            df_fam = duck_fams.get(f.name)
            sp_fam = _spark_family(f.dataType)
            if df_fam == "hugeint":
                bad.append((f.name, "HUGEINT oracle output — CAST AS BIGINT"))
            elif df_fam in ("int", "float", "bool") or sp_fam in (
                "int", "float", "bool"
            ):
                if df_fam != sp_fam:
                    bad.append((f.name, f"spark={sp_fam} oracle={df_fam}"))
        if bad:
            offenders[name] = bad
    assert not offenders, f"numeric-family mismatches: {offenders}"


def test_no_decimal_spark_outputs(registry_plans):
    """Compile every registered Spark query's schema: no output column
    may be DecimalType — toPandas would surface Decimal objects that
    hash differently from the oracle's float64 bridge."""
    offenders = {}
    for name, plan in registry_plans.items():
        dec = [f.name for f in plan.schema.fields if isinstance(f.dataType, DecimalType)]
        if dec:
            offenders[name] = dec
    assert not offenders, f"DecimalType Spark outputs: {offenders}"
