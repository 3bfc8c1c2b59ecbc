"""SQL generation + orchestration loop (N6) — the slot between
``plan_query`` and ``validate_sql``.

Reference: the LangGraph generate → validate → execute → retry loop in
``chatbot/agents/nodes.py:87–800``. Spark-first restatement: generation is
a pluggable callable ``(spark, plan, question) -> sql`` — an LLM provider
plugs in unchanged — and the default ``generate_sql`` builds the SQL
deterministically from the QueryPlan, which carries the LIVE catalog
schema of its table (read once by the planner from the analyzed schema,
which unlike ``spark.catalog.listColumns`` starts no Spark job; never a
hardcoded table list), so the whole orchestration loop round-trips
hermetically in tests. Generated SQL still goes through the N4 validator and the N5
guarded executor — the generator is NOT trusted, exactly as the
reference treats its LLM.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from dopams_etl_spark.nlq.executor import ExecutionResult, execute_guarded
from dopams_etl_spark.nlq.planner import QueryPlan, plan_query
# not called here (execute_guarded validates), but kept importable: perfbench's
# tracer wraps each nlq step by its name on this module
from dopams_etl_spark.nlq.validator import validate_sql  # noqa: F401

Generator = Callable[[SparkSession, QueryPlan, str], str]


def _quote_literal(term: str) -> str:
    r"""A lowercased search term as the body of a quoted LIKE pattern that
    matches it as written. Two escape layers, inner first: the LIKE
    pattern's (``\``, ``%`` and ``_`` behind its escape ``\``), then the
    Spark string literal's (``\`` and ``'`` behind a backslash), so no
    term can end the literal or turn into a wildcard."""
    pattern = re.sub(r"([\\%_])", r"\\\1", term.lower())
    return re.sub(r"([\\'])", r"\\\1", pattern)


def _where_clause(plan: QueryPlan) -> str:
    """Compose the WHERE from the plan's predicates: an OR fan-out of
    lower(col) LIKE '%term%' over the table's string columns (the
    reference's search node) ANDed with any year filter on the table's
    date column. Identifiers are catalog-sourced; literals are escaped
    by ``_quote_literal``."""
    parts: list[str] = []
    cols = [name for name, dtype in plan.columns if dtype == "string"]
    if cols and plan.search_terms:
        likes = [
            f"lower({c}) LIKE '%{_quote_literal(t)}%'"
            for t in plan.search_terms
            for c in cols
        ]
        parts.append("(" + " OR ".join(likes) + ")")
    if plan.year_filter:
        date_col, year, op = plan.year_filter
        parts.append(f"year({date_col}) {op} {int(year)}")
    return " WHERE " + " AND ".join(parts) if parts else ""


def generate_sql(spark: SparkSession, plan: QueryPlan, question: str) -> str:
    """Deterministic template generator for the N6 slot.

    Intent routing (same branches as the reference's generator node):
    count_aggregate → COUNT(*); schema → a zero-row projection whose
    column list IS the answer; everything else → filtered retrieve with
    the plan's LIMIT. Multi-table plans retrieve from the first matched
    table (join synthesis stays with the pluggable LLM generator — this
    template never guesses join keys).
    """
    if not plan.tables:
        raise ValueError("no table matched the question")
    table = plan.tables[0]
    where = _where_clause(plan)
    if plan.intent == "count_aggregate":
        # measure + group identifiers are catalog-sourced, never free text
        agg = f"{plan.measure[0]}({plan.measure[1]})" if plan.measure else "COUNT(*)"
        alias = plan.measure[0].lower() if plan.measure else "n"
        if plan.group_column:
            g = plan.group_column
            return (
                f"SELECT {g}, {agg} AS {alias} FROM {table}{where} "
                f"GROUP BY {g} ORDER BY {alias} DESC, {g} LIMIT {plan.limit}"
            )
        return f"SELECT {agg} AS {alias} FROM {table}{where}"
    if plan.intent == "schema":
        return f"SELECT * FROM {table} WHERE 1 = 0"
    return f"SELECT * FROM {table}{where} LIMIT {plan.limit}"


@dataclass
class NLQAnswer:
    ok: bool
    question: str
    sql: str | None
    plan: QueryPlan | None
    result: ExecutionResult | None
    attempts: list[str] = field(default_factory=list)
    error: str | None = None


def answer_question(
    spark: SparkSession,
    question: str,
    generator: Generator | None = None,
    max_attempts: int = 2,
) -> NLQAnswer:
    """Full N1→N6 orchestration: plan → generate → validate → execute,
    with the reference's retry loop — a failed generation falls back to
    the plain template (an LLM generator gets ``max_attempts`` tries, the
    last one replaced by the deterministic template so the loop always
    terminates with a validated candidate or a clean error)."""
    plan = plan_query(spark, question)
    if not plan.tables:
        return NLQAnswer(False, question, None, plan, None, error="no matching table")
    gen = generator or generate_sql
    attempts: list[str] = []
    last_err: str | None = None
    for i in range(max_attempts):
        use = gen if i < max_attempts - 1 or generator is None else generate_sql
        try:
            sql = use(spark, plan, question)
        except Exception as exc:  # noqa: BLE001 - generator is untrusted
            last_err = str(exc)[:200]
            continue
        attempts.append(sql)
        # execute_guarded is the validate step: unsafe SQL comes back
        # "rejected: <reason>" without reaching spark.sql
        result = execute_guarded(spark, sql)
        if result.ok:
            return NLQAnswer(True, question, sql, plan, result, attempts)
        last_err = result.error
    return NLQAnswer(False, question, attempts[-1] if attempts else None, plan, None,
                     attempts, error=last_err)
