"""NL→SQL guardrail layer (N1–N4, W5)."""

import pytest

from dopams_etl_spark.nlq import extract_limit, match_tables, plan_query, validate_sql
from dopams_etl_spark.nlq.validator import ThreatLevel, sanitize_error


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    from dopams_etl_spark.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001")


def test_validator_allows_select_and_cte(spark):
    assert validate_sql("SELECT * FROM orders").is_safe
    assert validate_sql("WITH x AS (SELECT 1) SELECT * FROM x").is_safe


@pytest.mark.parametrize(
    "sql,level",
    [
        ("DROP TABLE orders", ThreatLevel.CRITICAL),
        ("DELETE FROM orders", ThreatLevel.CRITICAL),
        ("UPDATE orders SET o_totalprice = 0", ThreatLevel.HIGH),
        ("INSERT INTO orders VALUES (1)", ThreatLevel.HIGH),
        ("GRANT ALL ON orders TO x", ThreatLevel.HIGH),
        ("CREATE TABLE t AS SELECT 1", ThreatLevel.MEDIUM),
    ],
)
def test_validator_blocks_non_select(sql, level):
    r = validate_sql(sql)
    assert not r.is_safe and r.threat_level == level


def test_validator_blocks_injection_and_stacking():
    assert not validate_sql("SELECT * FROM orders WHERE x = '' OR '1'='1'").is_safe
    assert not validate_sql("SELECT 1; DROP TABLE orders").is_safe
    assert not validate_sql("SELECT * FROM orders -- hidden").is_safe


def test_validator_no_false_positive_on_column_names():
    # UPDATE as a substring of an identifier must not trip the gate
    assert validate_sql("SELECT last_updated FROM orders").is_safe


def test_limit_extraction_default_and_cap():
    assert extract_limit("show everything") == 100
    assert extract_limit("top 25 orders") == 25
    assert extract_limit("first 99999 rows") == 10_000


def test_table_matching_live_catalog(spark):
    assert match_tables(spark, "how many orders per customer?") == ["customer", "orders"]
    assert "documents" in match_tables(spark, "find duplicate documents")
    assert match_tables(spark, "total crimes this year") == ["orders"]  # alias


def test_plan_query_features(spark):
    p = plan_query(spark, "count orders per customer named 'Ravi', top 10")
    assert p.intent == "count_aggregate" and p.needs_aggregation
    assert p.needs_join and p.limit == 10 and "Ravi" in p.search_terms


def test_executor_caps_rows_and_rejects(spark):
    from dopams_etl_spark.nlq.executor import execute_guarded

    r = execute_guarded(spark, "SELECT * FROM orders", max_rows=10)
    assert r.ok and r.row_count == 10 and r.truncated

    r2 = execute_guarded(spark, "DROP TABLE orders")
    assert not r2.ok and "rejected" in r2.error

    r3 = execute_guarded(spark, "SELECT nope_col FROM orders")
    assert not r3.ok and "nope_col" not in r3.error  # sanitized

    # a parse error's text opens with a blank line; its reason still comes back
    r4 = execute_guarded(spark, "SELECT * FROM customer WHERE (c_name LIKE 'x")
    assert not r4.ok and "PARSE_SYNTAX_ERROR" in r4.error


def test_sanitize_error_strips_paths_and_identifiers():
    msg = sanitize_error(Exception("Failure at /opt/spark/x.py: column `secret_col` missing"))
    assert "/opt" not in msg and "secret_col" not in msg
    msg = sanitize_error(Exception("\n  \n[X] at /srv/app/x.py near `secret_col`\n== SQL =="))
    assert msg.startswith("[X]") and "/srv" not in msg and "secret_col" not in msg


# ---- N6: generation slot + orchestration round-trip ----------------------


def test_generate_count_roundtrip(spark):
    """'how many orders' must produce COUNT SQL whose answer equals the
    real table count — full plan→generate→validate→execute loop."""
    from dopams_etl_spark.nlq.generator import answer_question

    ans = answer_question(spark, "How many orders are there?")
    assert ans.ok and "COUNT(*)" in ans.sql
    real = spark.table("orders").count()
    assert ans.result.rows[0]["n"] == real


def test_generate_retrieve_with_limit(spark):
    from dopams_etl_spark.nlq.generator import answer_question

    ans = answer_question(spark, "show top 7 orders")
    assert ans.ok and ans.sql.endswith("LIMIT 7")
    assert ans.result.row_count == 7


def test_generate_search_term_filter(spark):
    """Quoted term becomes a LIKE filter over string columns only, and the
    rows that come back actually contain the term."""
    from dopams_etl_spark.nlq.generator import answer_question

    ans = answer_question(spark, "find customers named 'Customer#000000001'")
    assert ans.ok and "LIKE '%customer#000000001%'" in ans.sql
    assert ans.result.row_count >= 1
    assert all("Customer#000000001" in r["c_name"] for r in ans.result.rows)


def test_generate_schema_intent_zero_rows(spark):
    from dopams_etl_spark.nlq.generator import answer_question

    ans = answer_question(spark, "describe the schema of the events table")
    assert ans.ok and ans.result.row_count == 0
    # the projection's columns ARE the answer
    assert ans.sql == "SELECT * FROM events WHERE 1 = 0"


def test_malicious_generator_is_caught_and_retried(spark):
    """An untrusted (LLM) generator emitting DROP is rejected by the N4
    validator; the loop falls back to the deterministic template and still
    answers."""
    from dopams_etl_spark.nlq.generator import answer_question

    def evil(spark_, plan, q):
        return "DROP TABLE orders"

    ans = answer_question(spark, "how many orders", generator=evil, max_attempts=2)
    assert ans.ok  # template fallback answered
    assert ans.attempts[0] == "DROP TABLE orders" and "COUNT(*)" in ans.sql


def test_injection_term_never_escapes_literal(spark):
    """A search term carrying a quote, a backslash or a LIKE wildcard
    cannot terminate the SQL string or widen the match: either the
    validator rejects the pattern or the escaped literal executes as a
    plain (matchless) LIKE. And a term matches exactly as written."""
    from dopams_etl_spark.nlq.generator import answer_question

    for q in (
        "find customers named 'x'' OR 1=1 --'",
        'Find customers named "Customer#\\"',
        'find customers named "a\\\'b"',
        'find customers named "x\\\' OR 1=1 --"',
        'find customers named "Customer#_%"',
    ):
        ans = answer_question(spark, q)
        if ans.ok:  # escaped; must behave as a literal, match nothing
            assert ans.result.row_count == 0, (q, ans.sql)
        else:
            assert "rejected" in (ans.error or ""), (q, ans.error)

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW glyphs AS SELECT * FROM VALUES "
        "('a\\\\b'), ('ab'), ('a%b'), ('axb'), ('a_b'), ('it\\'s') AS t(s)"
    )
    try:
        def found(term):
            ans = answer_question(spark, f'find glyphs named "{term}"')
            assert ans.ok, (term, ans.error)
            return sorted(r["s"] for r in ans.result.rows)

        assert found("a\\b") == ["a\\b"]
        assert found("a\\") == ["a\\b"]  # a trailing backslash stays one
        assert found("a%b") == ["a%b"]
        assert found("a_b") == ["a_b"]
        assert found("it's") == ["it's"]
    finally:
        spark.catalog.dropTempView("glyphs")


def test_format_answer_shapes(spark):
    from dopams_etl_spark.catalog import register_views
    from dopams_etl_spark.nlq.formatter import format_answer
    from dopams_etl_spark.nlq.generator import answer_question

    register_views(spark, "/root/testdata/sf0.001")
    # scalar shape -> sentence
    ans = answer_question(spark, "How many orders are there?")
    assert format_answer(ans) == "n = 1500"
    # table shape -> bounded rendering with omission note
    ans2 = answer_question(spark, "show latest 30 orders")
    txt = format_answer(ans2, max_rows=5)
    assert txt.count("\n") <= 8 and "omitted" in txt
    # failure shape -> sanitized message, never raises
    from dopams_etl_spark.nlq.generator import NLQAnswer
    bad = NLQAnswer(False, "q", None, None, None, error="no matching table")
    assert "no matching table" in format_answer(bad)


def test_group_by_synthesis(spark):
    """'per X' / 'by X' resolves X against the live catalog and the
    count groups by that column; unknown X falls back to a plain count;
    the group identifier always comes from the catalog, never from the
    question text."""
    from dopams_etl_spark.catalog import register_views
    from dopams_etl_spark.nlq.generator import answer_question
    from dopams_etl_spark.nlq.planner import _columns, extract_group_column

    register_views(spark, "/root/testdata/sf0.001")
    orders, events = _columns(spark, "orders"), _columns(spark, "events")
    assert extract_group_column("how many orders per priority?", orders) == "o_orderpriority"
    assert extract_group_column("count events by event type", events) == "event_type"
    assert extract_group_column("how many orders per dragon?", orders) is None

    ans = answer_question(spark, "How many orders per priority?")
    assert ans.ok, ans.error
    assert "GROUP BY o_orderpriority" in ans.sql
    rows = {r[0]: r[1] for r in ans.result.rows}
    assert len(rows) == 5  # the five TPC-H priorities
    assert sum(rows.values()) == 1500

    # unknown group word -> plain count fallback, still answers
    ans2 = answer_question(spark, "How many orders per dragon?")
    assert ans2.ok and "GROUP BY" not in ans2.sql


def test_measure_aggregate_synthesis(spark):
    """'average/total/max X' resolves X against the table's NUMERIC
    columns and the generator emits the aggregate; with 'per Y' it
    combines into a grouped aggregate; no numeric match falls back to
    the count path."""
    from dopams_etl_spark.catalog import register_views
    from dopams_etl_spark.nlq.generator import answer_question
    from dopams_etl_spark.nlq.planner import _columns, extract_measure

    register_views(spark, "/root/testdata/sf0.001")

    def measure(question, table):
        return extract_measure(question, _columns(spark, table))

    assert measure("average order price", "orders") == ("AVG", "o_totalprice")
    assert measure("total quantity", "lineitem") == ("SUM", "l_quantity")
    assert measure("maximum value", "events") == ("MAX", "value")
    # string columns never qualify as measures
    assert measure("average name", "customer") is None

    ans = answer_question(spark, "What is the average order price per priority?")
    assert ans.ok, ans.error
    assert "AVG(o_totalprice)" in ans.sql and "GROUP BY o_orderpriority" in ans.sql
    assert len(ans.result.rows) == 5

    ans2 = answer_question(spark, "total revenue of orders")  # no 'revenue' column
    assert ans2.ok and "COUNT(*)" in ans2.sql


def test_year_filter_synthesis(spark):
    """A standalone year anchors to the table's date column as
    year(col) = y, composes with grouping/measures, and is removed from
    the LIKE search terms so it doesn't double as a string scan."""
    from dopams_etl_spark.catalog import register_views
    from dopams_etl_spark.nlq.generator import answer_question
    from dopams_etl_spark.nlq.planner import plan_query

    register_views(spark, "/root/testdata/sf0.001")
    p = plan_query(spark, "how many orders in 1995 per priority?")
    assert p.year_filter == ("o_orderdate", 1995, "=")
    assert "1995" not in p.search_terms

    ans = answer_question(spark, "How many orders in 1995 per priority?")
    assert ans.ok, ans.error
    assert "year(o_orderdate) = 1995" in ans.sql
    assert "GROUP BY o_orderpriority" in ans.sql
    total_1995 = sum(r[1] for r in ans.result.rows)
    ans_all = answer_question(spark, "How many orders are there?")
    assert 0 < total_1995 < ans_all.result.rows[0][0]


def test_bare_year_token_stays_a_search_term(spark):
    """A 4-digit token WITHOUT a temporal cue is an identifier, not a
    year filter — "find order 2016" must keep '2016' as a LIKE search
    term instead of silently becoming year(o_orderdate)=2016."""
    from dopams_etl_spark.catalog import register_views
    from dopams_etl_spark.nlq.planner import plan_query

    register_views(spark, "/root/testdata/sf0.001")
    p = plan_query(spark, "find order 2016")
    assert p.year_filter is None
    assert "2016" in p.search_terms

    # ... while every cue form still synthesizes the filter, and
    # COMPARATIVE cues carry their direction instead of collapsing to
    # the equality (which would return exactly the excluded rows)
    for q, op in (
        ("orders during 2016", "="),
        ("2016 orders", "="),
        ("orders since 2016", ">="),
        ("orders after 2016", ">"),
        ("orders before 2016", "<"),
        ("orders until 2016", "<="),
    ):
        assert plan_query(spark, q).year_filter == ("o_orderdate", 2016, op), q


def test_comparative_year_filter_executes(spark):
    """Inequality semantics end-to-end: the data starts in 1995, so
    count(before 1996) must equal count(in 1995), and count(since 1996)
    must equal the total minus it — partitioning the orders exactly."""
    from dopams_etl_spark.catalog import register_views
    from dopams_etl_spark.nlq.generator import answer_question

    register_views(spark, "/root/testdata/sf0.001")
    before = answer_question(spark, "How many orders before 1996?")
    assert before.ok and "year(o_orderdate) < 1996" in before.sql
    only_95 = answer_question(spark, "How many orders in 1995?")
    assert before.result.rows[0][0] == only_95.result.rows[0][0]
    since = answer_question(spark, "How many orders since 1996?")
    total = answer_question(spark, "How many orders are there?")
    assert (
        since.result.rows[0][0]
        == total.result.rows[0][0] - only_95.result.rows[0][0]
    )


# ---- catalog introspection cost -------------------------------------------

# the interactive benchmark's seven question shapes
_QUESTION_SHAPES = (
    "How many orders are there?",
    "Find customers named 'Customer#000000007'",
    "Count orders by orderstatus",
    "What is the average totalprice of orders per orderpriority?",
    "How many orders in 1996?",
    "Top 5: count orders by custkey",
    "Show the first 5 events",
)


def _last_execution_id(spark):
    """The newest SQL execution id in the status store, -1 if none. The
    store keeps at most ``spark.sql.ui.retainedExecutions`` and drops the
    oldest in batches, so its count can fall while executions start; the
    newest id only grows."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def _jobs_started(spark, group, fn):
    """(fn's result, number of Spark jobs fn started, number of SQL
    executions fn started), jobs counted under a job group of its own."""
    sc = spark.sparkContext
    e0 = _last_execution_id(spark)
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    executions = _last_execution_id(spark) - e0
    return out, len(sc.statusTracker().getJobIdsForGroup(group)), executions


def test_planning_and_generation_start_no_spark_job(spark):
    """Reading the catalog to plan a question and write its SQL is
    analysis only: no question shape starts a Spark job or SQL execution
    before execution."""
    from dopams_etl_spark.nlq.generator import generate_sql

    def plan_and_generate():
        return [generate_sql(spark, plan_query(spark, q), q) for q in _QUESTION_SHAPES]

    sqls, jobs, executions = _jobs_started(spark, "nlq-plan-generate-budget", plan_and_generate)
    assert jobs == 0 and executions == 0
    assert "year(o_orderdate) = 1996" in sqls[4] and "AVG(o_totalprice)" in sqls[3]
    assert "GROUP BY o_orderstatus" in sqls[2] and sqls[6].endswith("LIMIT 5")


def test_one_schema_read_per_question(spark, monkeypatch):
    """Planning a question and writing its SQL analyzes the matched
    table's schema once: every extractor and the generator read the
    column list the plan carries."""
    from dopams_etl_spark.nlq import generator, planner

    calls = []

    def counting(spark_, table, _real=planner._columns):
        calls.append(table)
        return _real(spark_, table)

    monkeypatch.setattr(planner, "_columns", counting)
    monkeypatch.setattr(generator, "_columns", counting, raising=False)
    for q in _QUESTION_SHAPES:
        calls.clear()
        generator.generate_sql(spark, plan_query(spark, q), q)
        assert len(calls) == 1, (q, calls)


def test_count_question_job_budget(spark):
    from dopams_etl_spark.nlq.generator import answer_question

    ans, jobs, executions = _jobs_started(
        spark, "nlq-answer-budget", lambda: answer_question(spark, "How many orders are there?")
    )
    assert ans.ok and ans.result.rows[0]["n"] == 1500
    assert jobs <= 2
    assert executions == 1  # the answer query only


def test_catalog_helpers_match_spark_catalog(spark):
    """The job-free helpers report exactly what spark.catalog does, for
    every registered view and for the type strings the planner matches on;
    the table list is the one SHOW TABLES gives, in another current
    database, with a mixed-case temp view and past a global temp view."""
    from dopams_etl_spark.nlq.planner import _columns, _table_names

    def show_tables():
        return sorted(r.tableName for r in spark.sql("SHOW TABLES").collect())

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nlq_parity_types AS SELECT "
        "CAST(1.5 AS decimal(12,2)) AS amount, array(1, 2) AS xs, "
        "named_struct('a', 1, 'b', 'x') AS st, map('k', 1.0D) AS m, "
        "DATE'2020-01-02' AS d, TIMESTAMP_NTZ'2020-01-02 03:04:05' AS tn, "
        "TIMESTAMP'2020-01-02 03:04:05' AS ts, 'x' AS s, CAST(1 AS smallint) AS si"
    )
    try:
        names = _table_names(spark)
        assert "nlq_parity_types" in names and "orders" in names
        assert set(names) == {t.name for t in spark.catalog.listTables()}
        for t in names:
            want = [(c.name, c.dataType) for c in spark.catalog.listColumns(t)]
            assert _columns(spark, t) == want, t
        assert dict(_columns(spark, "nlq_parity_types"))["amount"] == "decimal(12,2)"
        assert sorted(names) == show_tables()

        spark.sql("CREATE TEMP VIEW NlqParityMixedCase AS SELECT 1 AS x")
        spark.sql("CREATE GLOBAL TEMP VIEW nlq_parity_global AS SELECT 1 AS x")
        names = _table_names(spark)
        assert sorted(names) == show_tables()
        assert "nlqparitymixedcase" in names and "nlq_parity_global" not in names

        spark.sql("CREATE DATABASE nlq_parity_db")
        spark.sql("CREATE TABLE nlq_parity_db.held (x INT) USING parquet")
        spark.sql("USE nlq_parity_db")
        try:
            names = _table_names(spark)
            assert sorted(names) == show_tables()
            assert "held" in names and "orders" in names  # temp views too
        finally:
            spark.sql("USE default")
        names = _table_names(spark)
        assert sorted(names) == show_tables() and "held" not in names
    finally:
        spark.sql("DROP DATABASE IF EXISTS nlq_parity_db CASCADE")
        spark.catalog.dropGlobalTempView("nlq_parity_global")
        spark.catalog.dropTempView("NlqParityMixedCase")
        spark.catalog.dropTempView("nlq_parity_types")
