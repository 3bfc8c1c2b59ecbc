"""NL query planner shell (N1–N3, W5).

Keyword-scored intent detection, table matching against the LIVE Spark
catalog (``_table_names`` / ``_columns`` — never a hardcoded schema), and
feature extraction (search terms, aggregation/join needs, LIMIT with
default 100 / cap 10000). Parity with
``chatbot/agents/intelligent_query_planner.py:102–340``.

The catalog is read without running a Spark query: table names from the
session catalog (the list ``SHOW TABLES`` builds), column types from a
table's analyzed schema. Not through ``spark.catalog.listTables/listColumns``:
in PySpark 4 those collect a local Dataset through ``toLocalIterator``,
which starts one Spark job per partition (4–5 jobs, 0.1–0.3 s per call),
and not through ``SHOW TABLES`` either, which is a full query (two SQL
executions, ~10 ms) on every question.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

INTENT_KEYWORDS: dict[str, tuple[str, ...]] = {
    "count_aggregate": ("how many", "count", "number of", "total", "sum", "average"),
    "retrieve": ("show", "list", "get", "display", "fetch"),
    "search": ("find", "search", "lookup", "named", "called", "where"),
    "schema": ("schema", "columns", "structure", "describe", "fields"),
    "comparison": ("compare", "versus", "vs", "difference between"),
    "details": ("details", "information about", "tell me about"),
}

DEFAULT_LIMIT = 100
MAX_LIMIT = 10_000

# table-name aliases on top of singular/plural matching
TABLE_ALIASES: dict[str, tuple[str, ...]] = {
    "orders": ("order", "purchase", "purchases", "crime", "crimes", "fir", "firs"),
    "customer": ("customers", "client", "clients", "station", "stations"),
    "lineitem": ("lineitems", "line item", "items", "accused"),
    "documents": ("document", "docs", "text", "texts"),
    "events": ("event", "activity", "log", "logs"),
    "embeddings": ("embedding", "vector", "vectors"),
}


def _table_names(spark: SparkSession) -> list[str]:
    """Tables and local temp views of the current database, as ``SHOW
    TABLES`` and ``spark.catalog.listTables()`` name them, read live from
    the session catalog on every call: no SQL execution, no job.

    ``SHOW TABLES`` runs ``SessionCatalog.listTables(currentDb)``; this
    calls it directly. ``sessionState`` is a developer API, so
    ``test_catalog_helpers_match_spark_catalog`` pins the result to
    ``SHOW TABLES``. Only the session catalog (``spark_catalog``) is read:
    a v2 current catalog is not supported, and the library sets none."""
    catalog = spark._jsparkSession.sessionState().catalog()
    ids = catalog.listTables(catalog.getCurrentDatabase())
    return [ids.apply(i).table() for i in range(ids.size())]


def _columns(spark: SparkSession, table: str) -> list[tuple[str, str]]:
    """(name, type string) per column of ``table``, as
    ``spark.catalog.listColumns(table)`` reports them, from the analyzed
    schema."""
    return [(f.name, f.dataType.simpleString()) for f in spark.table(table).schema]


@dataclass
class QueryPlan:
    intent: str
    confidence: float
    tables: list[str]
    # (name, type string) per column of tables[0], read once per question
    columns: list[tuple[str, str]] = field(default_factory=list)
    search_terms: list[str] = field(default_factory=list)
    needs_aggregation: bool = False
    needs_join: bool = False
    limit: int = DEFAULT_LIMIT
    group_column: str | None = None
    # (AGG function, catalog column) for 'average X' / 'total X' asks
    measure: tuple[str, str] | None = None
    # (date column, year, operator) for 'in 1995' / 'since 2016' asks;
    # operator is one of =, >=, >, <, <=
    year_filter: tuple[str, int, str] | None = None


def detect_intent(question: str) -> tuple[str, float]:
    """N1: keyword-scored intents; confidence = hits / candidates."""
    q = question.lower()
    scores = {
        intent: sum(1 for kw in kws if kw in q) for intent, kws in INTENT_KEYWORDS.items()
    }
    # Ties break by declaration order (count_aggregate outranks search —
    # "how many X named Y" is a count).
    order = list(INTENT_KEYWORDS)
    best = max(scores, key=lambda k: (scores[k], -order.index(k)))
    total = sum(scores.values())
    if scores[best] == 0:
        return "retrieve", 0.25
    return best, round(scores[best] / max(total, 1), 2)


def match_tables(spark: SparkSession, question: str) -> list[str]:
    """N2: name/alias/singular-plural match vs the live catalog."""
    q = re.findall(r"[a-z]+", question.lower())
    qset = set(q) | {" ".join(q)}
    hits: list[str] = []
    for tbl in _table_names(spark):
        name = tbl.lower()
        candidates = {name, name + "s", name.rstrip("s")}
        candidates.update(TABLE_ALIASES.get(name, ()))
        if candidates & qset or any(c in " ".join(q) for c in candidates if " " in c):
            hits.append(tbl)
    return sorted(set(hits))


def extract_limit(question: str) -> int:
    """W5: 'top N / first N / latest N' → LIMIT, default 100, cap 10000."""
    m = re.search(r"\b(?:top|first|latest|last)\s+(\d+)\b", question.lower())
    if not m:
        return DEFAULT_LIMIT
    return max(1, min(int(m.group(1)), MAX_LIMIT))


def extract_search_terms(question: str) -> list[str]:
    """N3: quoted phrases, long numbers, hex-ish ids."""
    terms = re.findall(r"'([^']+)'|\"([^\"]+)\"", question)
    flat = [a or b for a, b in terms]
    flat += re.findall(r"\b\d{4,}\b", question)
    flat += re.findall(r"\b[0-9a-f]{16,}\b", question.lower())
    return flat


def extract_group_column(
    question: str, columns: list[tuple[str, str]]
) -> str | None:
    """'per X' / 'by X' / 'for each X' → one of ``columns`` (a table's
    ``_columns``) whose name contains X. The candidate is matched against
    the LIVE catalog column list and the CATALOG's spelling is returned —
    free question text never reaches SQL as an identifier."""
    m = re.search(
        r"\b(?:per|by|for each)\s+([a-z_ ]+?)"
        r"(?:\s+(?:in|from|of|with|on)\b|[?.!,]|$)",
        question.lower(),
    )
    if not m:
        return None
    want = m.group(1).strip().replace(" ", "")
    if not want:
        return None
    cols = [name for name, _ in columns]
    for c in cols:  # exact name first
        if c.lower() == want:
            return c
    for c in cols:  # then containment on underscore-normalized names
        if want in c.lower().replace("_", ""):
            return c
    return None


_NUMERIC_TYPES = ("int", "bigint", "double", "float", "decimal", "long", "smallint")
_AGG_WORDS = {"average": "AVG", "avg": "AVG", "mean": "AVG",
              "total": "SUM", "sum": "SUM", "maximum": "MAX", "max": "MAX",
              "minimum": "MIN", "min": "MIN"}


def extract_measure(
    question: str, columns: list[tuple[str, str]]
) -> tuple[str, str] | None:
    """'average X' / 'total X' / 'max X' → (AGG, numeric one of
    ``columns`` whose name contains X). Catalog-matched like
    ``extract_group_column`` — the returned identifier is the catalog's
    spelling, and only numeric columns qualify (an AVG over a string
    column is never synthesized)."""
    m = re.search(
        r"\b(average|avg|mean|total|sum|maximum|max|minimum|min)\s+(?:of\s+)?"
        r"([a-z_ ]+?)(?:\s+(?:per|by|for|in|from|of|with|on)\b|[?.!,]|$)",
        question.lower(),
    )
    if not m:
        return None
    agg = _AGG_WORDS[m.group(1)]
    words = [w.replace(" ", "") for w in
             (m.group(2).strip(), *m.group(2).strip().split()[::-1]) if w]
    cols = [name for name, dtype in columns if dtype.startswith(_NUMERIC_TYPES)]
    for want in words:  # full phrase first, then each word, rightmost first
        for c in cols:
            if c.lower() == want:
                return agg, c
        for c in cols:
            if want in c.lower().replace("_", ""):
                return agg, c
    return None


def extract_year_filter(
    question: str, columns: list[tuple[str, str]]
) -> tuple[str, int, str] | None:
    """A 19xx/20xx year WITH a temporal cue ("in 1995", "during 2016",
    "since/before/after/from/until/of <year>", or "<year> orders") + a
    date/timestamp column among ``columns`` → (column, year, operator). The
    cue requirement keeps 4-digit identifier lookups ("find order
    2016") as plain search terms instead of silently becoming
    ``year(o_orderdate)=2016``, and COMPARATIVE cues carry their
    direction — "before 1995" filters ``year(col) < 1995``, never the
    equality (which would return exactly the rows the user excluded):
    since/from → >=, after → >, before → <, until/till/through → <=,
    everything else (in/during/of/"<year> orders") → =. The first
    temporal catalog column anchors the filter (the tables here have
    one canonical event/order date)."""
    m = re.search(
        r"\b(in|during|since|before|after|from|until|till|through|for|of"
        r"|year)\s+(19\d{2}|20\d{2})\b"
        r"|\b(19\d{2}|20\d{2})\s+(?:orders?|customers?|events?|sales"
        r"|revenue|data)\b",
        question.lower(),
    )
    if not m:
        return None
    cue = m.group(1) or ""
    year = int(m.group(2) or m.group(3))
    op = {
        "since": ">=",
        "from": ">=",
        "after": ">",
        "before": "<",
        "until": "<=",
        "till": "<=",
        "through": "<=",
    }.get(cue, "=")
    for name, dtype in columns:
        if dtype in ("date", "timestamp", "timestamp_ntz"):
            return name, year, op
    return None


def plan_query(spark: SparkSession, question: str) -> QueryPlan:
    intent, conf = detect_intent(question)
    q = question.lower()
    tables = match_tables(spark, question)
    # the first matched table's schema, analyzed once for every extractor
    # and the generator
    columns = _columns(spark, tables[0]) if tables else []
    year_filter = extract_year_filter(question, columns)
    terms = extract_search_terms(question)
    if year_filter:
        # a year consumed as a date filter is not ALSO a LIKE search term
        terms = [t for t in terms if t != str(year_filter[1])]
    return QueryPlan(
        intent=intent,
        confidence=conf,
        tables=tables,
        columns=columns,
        search_terms=terms,
        needs_aggregation=intent == "count_aggregate"
        or any(w in q for w in ("per ", "group", "average", "sum")),
        needs_join=len(tables) > 1,
        limit=extract_limit(question),
        group_column=extract_group_column(question, columns),
        measure=extract_measure(q, columns),
        year_filter=year_filter,
    )
