"""NL→SQL guardrail layer (SURVEY §2.11 N1–N5, W5).

The engine's SQL entry point is ``spark.sql`` over the registered catalog
views; this package is the thin planner/validator shell around it —
keyword intent detection, table matching against the live catalog (read
from the session catalog's table list and analyzed schemas, which run no
Spark query, because ``spark.catalog.listTables/listColumns`` collect
through ``toLocalIterator``, which starts one Spark job per partition,
and ``SHOW TABLES`` is a query of its own on every question), limit
extraction with defaults/caps, the SELECT-only
safety validator, and the N6 generation slot — ``answer_question`` runs
the full plan → generate → validate → execute retry loop with a
deterministic template generator by default and a pluggable LLM
generator that is never trusted past the validator.
"""

from dopams_etl_spark.nlq.formatter import format_answer
from dopams_etl_spark.nlq.generator import NLQAnswer, answer_question, generate_sql
from dopams_etl_spark.nlq.planner import QueryPlan, extract_limit, match_tables, plan_query
from dopams_etl_spark.nlq.validator import ThreatLevel, ValidationResult, validate_sql

__all__ = [
    "NLQAnswer",
    "QueryPlan",
    "ThreatLevel",
    "ValidationResult",
    "answer_question",
    "format_answer",
    "extract_limit",
    "generate_sql",
    "match_tables",
    "plan_query",
    "validate_sql",
]
