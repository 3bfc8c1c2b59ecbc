"""Date/timestamp arithmetic (SURVEY §2.7 F1/F2).

Reference patterns: due dates ``fir_date + '180 days'::interval``
(``firs_mv.sql:37–38``), overdue-day buckets from ``now() - fir_date``
(``firs_mv.sql:26–31``), IST normalization (``etl-crimes/etl_crimes.py:74–101``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def due_date(col: Column | str, days: int) -> Column:
    """``date + N days`` due-date arithmetic (F1)."""
    return F.date_add(_c(col).cast("date"), days)


def days_since(col: Column | str, as_of: Column | None = None) -> Column:
    ref = as_of if as_of is not None else F.current_date()
    return F.datediff(ref, _c(col).cast("date"))


def overdue_bucket(days_col: Column | str, thresholds: tuple[int, ...] = (60, 180)) -> Column:
    """Bucket an age-in-days column: on-time / due-soon / overdue cascade."""
    d = _c(days_col)
    expr = F.when(d.isNull(), F.lit("unknown"))
    labels = ["within_" + str(t) for t in thresholds]
    prev = None
    for t, label in zip(thresholds, labels):
        cond = d <= t if prev is None else (d > prev) & (d <= t)
        expr = expr.when(cond, F.lit(label))
        prev = t
    return expr.otherwise(F.lit(f"over_{thresholds[-1]}"))


def to_ist(col: Column | str) -> Column:
    """Normalize a UTC timestamp to naive-IST semantics (F2)."""
    return F.from_utc_timestamp(_c(col), "Asia/Kolkata")


# Multi-format parse order mirrors the reference's try-list
# (``etl-properties/etl_properties.py:578–657``): ISO first, then the
# dd/mm and dd-mm variants seen in API payloads.
DATE_FORMATS = (
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "dd/MM/yyyy HH:mm:ss",
    "dd/MM/yyyy",
    "dd-MM-yyyy HH:mm:ss",
    "dd-MM-yyyy",
)


def parse_date_multi(col: Column | str, formats: tuple[str, ...] = DATE_FORMATS) -> Column:
    """P3/F2: first-match multi-format timestamp parse; unparseable → NULL.
    ``try_to_timestamp`` per format + COALESCE — all JVM-side."""
    c = F.trim(_c(col).cast("string"))
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(fmt)) for fmt in formats])
