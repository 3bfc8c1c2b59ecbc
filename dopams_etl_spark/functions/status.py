"""Pattern-classify CASE expressions (SURVEY §2.7 F4).

The reference copy-pastes the accused-status normalizer into every MV
(``firs_mv.sql:44–52``, ``accuseds_mv.sql:30–38``,
``criminal_profiles_mv.sql:57–65``); here it is defined once as a reusable
expression factory.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_status(col: Column | str) -> Column:
    """Accused-status normalization (F4): ILIKE-cascade → canonical label.

    Mirrors the reference CASE exactly, in order (``firs_mv.sql:44–52``):
    'Arrest%' AND NOT 'Arrest Related%' → Arrested; 'Surrendered%' →
    Arrested; 'Absconding' → Absconding; 'Arrest Related/41A CrPC Pending'
    → Absconding; '41A Cr.P.C%' → Issued Notice; 'High court directions%'
    → Issued Notice; else Unknown (other 'Arrest Related%' fall through).
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return (
        F.when(c.like("arrest%") & ~c.like("arrest related%"), F.lit("Arrested"))
        .when(c.like("surrendered%"), F.lit("Arrested"))
        .when(c.like("absconding"), F.lit("Absconding"))
        .when(c.like("arrest related/41a crpc pending"), F.lit("Absconding"))
        .when(c.like("41a cr.p.c%"), F.lit("Issued Notice"))
        .when(c.like("high court directions%"), F.lit("Issued Notice"))
        .otherwise(F.lit("Unknown"))
    )


def parse_accused_status(col: Column | str) -> list[Column]:
    """D12 accused-status parse (``etl-accused/etl_accused.py:193–221``):
    free-text flags + 41A issue date extraction.

    Returns [is_41a_crpc, is_41a_pending, is_arrested, is_absconding,
    date_of_issue_41a] — the date reformatted dd/mm/yyyy → yyyy-mm-dd like
    the reference.
    """
    raw = F.col(col) if isinstance(col, str) else col
    c = F.lower(raw)
    has_41a_issued = c.contains("41a") & c.contains("issued")
    dm = F.regexp_extract(raw, r"(\d{2})/(\d{2})/(\d{4})", 0)
    date_iso = F.when(
        has_41a_issued & (dm != ""),
        F.concat_ws(
            "-",
            F.regexp_extract(raw, r"(\d{2})/(\d{2})/(\d{4})", 3),
            F.regexp_extract(raw, r"(\d{2})/(\d{2})/(\d{4})", 2),
            F.regexp_extract(raw, r"(\d{2})/(\d{2})/(\d{4})", 1),
        ),
    )
    return [
        has_41a_issued.alias("is_41a_crpc"),
        c.contains("pending").alias("is_41a_pending"),
        c.contains("arrest").alias("is_arrested"),
        c.contains("abscond").alias("is_absconding"),
        date_iso.alias("date_of_issue_41a"),
    ]
