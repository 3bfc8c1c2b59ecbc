"""Sources (S1-S5, S12), gold refresh (S13), orchestration (I7), D4."""

import datetime
import os
import threading
import warnings
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from dopams_etl_spark.pipeline import Stage, normalize_stages, run_pipeline
from dopams_etl_spark.sources import (
    RetryPolicy,
    fetch_chunked,
    load_csv_reference,
    media_download_sink,
    point_lookup_enrich,
    read_json_dump,
    should_retry,
)

SCHEMA = StructType([StructField("id", LongType()), StructField("v", StringType())])
SF = "/root/testdata/sf0.001"


def test_fetch_chunked_with_retries(spark):
    calls = {"n": 0}

    def flaky(start, end):
        calls["n"] += 1
        if calls["n"] == 1:
            raise ConnectionError("boom")
        return [{"id": int(start.day), "v": str(end.day)}]

    chunks = [
        (datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 6)),
        (datetime.datetime(2024, 1, 5), datetime.datetime(2024, 1, 10)),
    ]
    slept = []
    out = fetch_chunked(spark, flaky, chunks, SCHEMA, RetryPolicy(2, 1.0), slept.append)
    assert out.count() == 2
    assert slept == [1.0]  # 2**0 backoff after the single failure


class _StatusError(Exception):
    """An HTTP error: ``status_code`` on the error itself, or on its
    ``response`` the way ``requests.HTTPError`` carries it."""

    def __init__(self, status, on_response=False):
        super().__init__(status)
        if on_response:
            self.response = type("Response", (), {"status_code": status})()
        else:
            self.status_code = status


@pytest.mark.parametrize(
    "status, on_response, calls, slept",
    [(404, False, 1, []), (404, True, 1, []), (503, True, 3, [1.0, 2.0])],
)
def test_fetch_chunked_follows_the_retry_matrix(spark, status, on_response, calls, slept):
    """RetryPolicy's matrix: a 4xx is raised at once, with no sleep; a 5xx
    retries with backoff until ``max_retries`` runs out."""
    seen, sleeps = [], []

    def failing(start, end):
        seen.append(start)
        raise _StatusError(status, on_response)

    chunks = [(datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 6))]
    with pytest.raises(_StatusError):
        fetch_chunked(spark, failing, chunks, SCHEMA, RetryPolicy(2, 1.0), sleeps.append)
    assert len(seen) == calls
    assert sleeps == slept


TYPED = StructType([
    StructField("id", LongType()),
    StructField("ts", TimestampType()),
    StructField("ntz", TimestampNTZType()),
    StructField("amt", DecimalType(12, 2)),
    StructField("v", StringType()),
])


def _typed_chunks():
    """Three chunk responses; the middle one re-sends chunk 1's last row
    (the 1-day overlap), and NULLs sit in every nullable column."""
    def rec(i, day, amt, v):
        at = datetime.datetime(2024, 1, day, 10, 30, 15, 123456)
        return {"id": i, "ts": at, "ntz": at, "amt": amt, "v": v}

    return [
        [rec(1, 1, Decimal("10.50"), "a"), rec(2, 5, Decimal("-0.01"), None)],
        [rec(2, 5, Decimal("-0.01"), None), rec(3, 6, None, "c"),
         {"id": 4, "ts": None, "ntz": None, "amt": Decimal("9999999999.99"), "v": "d"}],
        [rec(5, 10, Decimal("0.00"), "e")],
    ]


def _feed(spark, responses):
    chunks = [(datetime.datetime(2024, 1, 1 + 5 * i), datetime.datetime(2024, 1, 6 + 5 * i))
              for i in range(len(responses))]
    by_start = {c[0]: r for c, r in zip(chunks, responses)}
    return fetch_chunked(spark, lambda start, end: by_start[start], chunks, TYPED)


def test_fetch_chunked_builds_one_relation(spark):
    """Every chunk's records land in ONE scan: no Union of per-chunk scans
    (each of whose partitions cost a task downstream), the rows are the
    concatenated chunk records (overlap re-sends kept), and values match a
    single createDataFrame for timestamp, timestamp_ntz, decimal and NULL."""
    responses = _typed_chunks()
    records = [r for chunk in responses for r in chunk]
    out = _feed(spark, responses)
    plan = out._jdf.queryExecution().executedPlan()
    assert plan.collectLeaves().size() == 1
    assert "Union" not in plan.toString()
    assert out.schema == TYPED
    got = out.collect()
    assert [r.asDict() for r in got] == records
    assert got == spark.createDataFrame(records, TYPED).collect()


def test_fetch_chunked_all_empty(spark):
    out = _feed(spark, [[], [], []])
    assert out.schema == TYPED
    assert out.collect() == []


def test_retry_matrix():
    assert should_retry(None) and should_retry(500) and should_retry(503)
    assert not should_retry(404) and not should_retry(400)


def test_point_lookup_enrich_drops_missing(spark):
    df = spark.createDataFrame([(1,), (2,), (3,), (3,)], ["pid"])

    out = point_lookup_enrich(
        df, "pid", lambda pid: None if pid == 2 else {"name": f"p{pid}"}, "pid long, name string"
    )
    rows = {r["pid"]: r["name"] for r in out.collect()}
    assert rows == {1: "p1", 3: "p3"}  # id 2 dropped, id 3 deduped


def test_csv_and_json_sources(spark, tmp_path):
    csv = tmp_path / "ref.csv"
    csv.write_text("state,district\nTS,Hyderabad\nAP,Guntur\n")
    ref = load_csv_reference(spark, str(csv))
    assert ref.count() == 2 and set(ref.columns) == {"state", "district"}

    js = tmp_path / "dump.json"
    js.write_text('{"CRIME_ID": 1, "PS_CODE": "x"}\n{"CRIME_ID": 2, "PS_CODE": "y"}\n')
    dump = read_json_dump(spark, str(js), {"CRIME_ID": "crime_id", "PS_CODE": "ps_code"})
    assert {r["crime_id"] for r in dump.collect()} == {1, 2}


def test_media_download_sink_status(spark, tmp_path):
    files = spark.createDataFrame(
        [("u://a", "/crimes/a.bin"), ("u://bad", "/crimes/b.bin")], ["url", "path"]
    )

    def getter(url):
        if url.endswith("bad"):
            raise OSError("404")
        return b"payload"

    status = {r["url"]: r for r in
              media_download_sink(files, "url", "path", str(tmp_path), getter, 2).collect()}
    assert status["u://a"]["is_downloaded"] and status["u://a"]["attempts"] == 1
    assert not status["u://bad"]["is_downloaded"] and status["u://bad"]["attempts"] == 2
    assert (tmp_path / "crimes" / "a.bin").read_bytes() == b"payload"


def test_gold_refresh_and_udtfs(spark, tmp_path):
    from dopams_etl_spark.gold import (
        get_accused_crime_history,
        refresh_gold,
        search_person_by_name,
    )

    out = str(tmp_path / "gold")
    counts = refresh_gold(spark, "/root/testdata/sf0.001", out,
                          ("firs_mv", "accuseds_mv", "criminal_profiles_mv"))
    assert counts["firs_mv"] == 1500 and counts["accuseds_mv"] == 6000
    hist = get_accused_crime_history(spark, out, 7)
    assert hist.count() > 0
    found = search_person_by_name(spark, out, "widget")
    assert found.count() > 0


def _drained_store(spark):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _job_ids(store) -> set[int]:
    jobs = store.jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _executions(sql) -> list:
    execs = sql.executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def _scala_keys(m) -> set[int]:
    it, out = m.keysIterator(), set()
    while it.hasNext():
        out.add(it.next())
    return out


@pytest.mark.parametrize("name", ("firs_mv", "accuseds_mv", "criminal_profiles_mv",
                                  "advanced_search_firs", "advanced_search_accuseds"))
def test_gold_mv_build_after_a_publish_starts_no_job(spark, name):
    """Every publish's ``forget_path`` clears the partition-probe memo, so
    each ``refresh_gold`` builds its MVs against a cold memo. With every
    table open, that build only plans: a spread probed on a join would
    run the join's broadcast stage as a Spark job."""
    from dopams_etl_spark import partitioning
    from dopams_etl_spark.catalog import register_views
    from dopams_etl_spark.plans.catalog import queries
    from tools.ab_time import _last_job_id

    register_views(spark, SF)
    build = queries()[name]
    partitioning._NPART_CACHE.clear()
    before = _last_job_id(spark)
    build(spark, SF)
    assert _last_job_id(spark) == before


def test_gold_refresh_keeps_job_group_across_threads(spark, tmp_path):
    """The MV writes run on pool threads, yet every job the refresh starts
    carries the caller's job group and tags, and each MV's write shows up
    as its own SQL execution with at least one job."""
    names = ("firs_mv", "accuseds_mv", "criminal_profiles_mv",
             "advanced_search_firs", "advanced_search_accuseds")
    out = str(tmp_path / "gold")
    sql = spark._jsparkSession.sharedState().statusStore()
    store = _drained_store(spark)
    # ids, not counts: the status stores keep only the latest ~1000 entries
    jobs_before = _job_ids(store)
    execs_before = {e.executionId() for e in _executions(sql)}
    sc = spark.sparkContext
    sc.setJobGroup("gold-refresh-test", "refresh under one group")
    spark.addTag("gold-refresh-tag")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            from dopams_etl_spark.gold import refresh_gold

            counts = refresh_gold(spark, SF, out, names)
    finally:
        spark.removeTag("gold-refresh-tag")
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(counts) == list(names)
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
    store = _drained_store(spark)
    new_jobs = _job_ids(store) - jobs_before
    assert new_jobs
    for job_id in new_jobs:
        job = store.job(job_id)
        assert job.jobGroup().isDefined() and job.jobGroup().get() == "gold-refresh-test", job_id
    per_mv = {n: set() for n in names}
    for e in _executions(sql):
        if e.executionId() in execs_before:
            continue
        for n in names:
            if f"{out}/{n}" in e.physicalPlanDescription():
                per_mv[n] |= _scala_keys(e.jobs())
    assert all(per_mv.values()), per_mv
    writes = set().union(*per_mv.values())
    assert writes <= new_jobs
    # session tags reach only SQL-execution jobs (not, e.g., a schema
    # inference job), as "spark-session-<id>-thread-<id>-<tag>"
    for job_id in writes:
        tags = store.job(job_id).jobTags().mkString("\n").split("\n")
        assert any(t.endswith("-gold-refresh-tag") for t in tags), (job_id, tags)


def _registry_with(monkeypatch, extra):
    from dopams_etl_spark.plans import catalog

    real = catalog.queries
    monkeypatch.setattr(catalog, "queries", lambda: {**real(), **extra})


def _no_active_jobs(spark):
    _drained_store(spark)
    return list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []


def _written(path) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def test_gold_refresh_execution_failure_waits_for_other_writes(spark, tmp_path, monkeypatch):
    """A write that fails at execution is raised, but only after every
    other submitted write has finished, so a retry never overlaps a
    still-running write; the other MVs read back complete."""
    from dopams_etl_spark.gold import refresh_gold

    def boom(spark, sf_dir):
        x = F.when(F.col("id") > 5, F.raise_error(F.lit("boom at execution")))
        return spark.range(10).select(x.otherwise(F.col("id")).alias("x"))

    _registry_with(monkeypatch, {"boom_mv": boom})
    out = str(tmp_path / "gold")
    with pytest.raises(Exception, match="boom at execution"):
        refresh_gold(spark, SF, out, ("boom_mv", "firs_mv", "accuseds_mv"))
    assert _written(f"{out}/firs_mv") and _written(f"{out}/accuseds_mv")
    assert _no_active_jobs(spark)
    assert spark.read.parquet(f"{out}/firs_mv").count() == 1500
    assert spark.read.parquet(f"{out}/accuseds_mv").count() == 6000


def test_gold_refresh_write_failure_keeps_the_previous_table(spark, tmp_path, monkeypatch):
    """A refresh whose write fails leaves the MV's previous table in
    place and readable (the interactive lookups read it), not an empty
    directory."""
    from dopams_etl_spark.gold import refresh_gold

    fail = {"on": False}

    def toy(spark, sf_dir):
        x = F.when(F.lit(fail["on"]) & (F.col("id") > 5), F.raise_error(F.lit("boom at execution")))
        return spark.range(10).select(x.otherwise(F.col("id")).alias("x"))

    _registry_with(monkeypatch, {"toy_mv": toy})
    out = str(tmp_path / "gold")
    assert refresh_gold(spark, SF, out, ("toy_mv",)) == {"toy_mv": 10}
    fail["on"] = True
    with pytest.raises(Exception, match="boom at execution"):
        refresh_gold(spark, SF, out, ("toy_mv",))
    assert spark.read.parquet(f"{out}/toy_mv").count() == 10


def test_gold_refresh_build_failure_leaves_no_running_write(spark, tmp_path):
    """An unknown name fails at build time, after earlier MVs' writes were
    submitted: the call raises once those writes are done."""
    from dopams_etl_spark.gold import refresh_gold

    out = str(tmp_path / "gold")
    with pytest.raises(KeyError, match="no_such_mv"):
        refresh_gold(spark, SF, out, ("firs_mv", "no_such_mv"))
    assert _written(f"{out}/firs_mv")
    assert _no_active_jobs(spark)
    assert spark.read.parquet(f"{out}/firs_mv").count() == 1500


def _session_seen_here(spark, seen: list) -> None:
    """Record, for the current thread, its id, whether the JVM active
    session is ``spark``'s, and the shuffle-partition count ``SQLConf.get``
    reads (Spark's fallback conf says 200 where no session is active)."""
    from pyspark.sql import SparkSession

    active = SparkSession._get_j_spark_session_class(spark._jvm).getActiveSession()
    conf = spark._jvm.org.apache.spark.sql.internal.SQLConf.get()
    seen.append((threading.get_ident(),
                 active.isDefined() and active.get().equals(spark._jsparkSession),
                 conf.getConfString("spark.sql.shuffle.partitions")))


def test_gold_refresh_builds_on_pool_threads_with_the_session_active(spark, tmp_path, monkeypatch):
    """Each MV's plan is built on its pool thread, and there ``SQLConf.get``
    is the caller's session conf, not Spark's fallback."""
    from dopams_etl_spark.gold import refresh_gold

    seen = []

    def probe(spark, sf_dir):
        _session_seen_here(spark, seen)
        return spark.range(3)

    _registry_with(monkeypatch, {"probe_mv": probe})
    assert refresh_gold(spark, SF, str(tmp_path / "gold"), ("probe_mv",)) == {"probe_mv": 3}
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    assert partitions == "4"
    assert seen and all(t != threading.get_ident() for t, _, _ in seen), seen
    assert seen == [(t, True, partitions) for t, _, _ in seen]


def test_register_views_reads_with_the_session_active(spark, monkeypatch):
    """``register_views``' pool threads see the caller's session as active."""
    from dopams_etl_spark import catalog

    seen = []
    real = catalog.load_table

    def recording(spark, name, sf_dir):
        _session_seen_here(spark, seen)
        return real(spark, name, sf_dir)

    monkeypatch.setattr(catalog, "load_table", recording)
    catalog.register_views(spark, SF)
    assert len(seen) == len(catalog.TABLES)
    assert all(t != threading.get_ident() for t, _, _ in seen), seen
    assert seen == [(t, True, spark.conf.get("spark.sql.shuffle.partitions")) for t, _, _ in seen]


def test_gold_refresh_build_error_on_a_pool_thread_waits_for_other_writes(spark, tmp_path,
                                                                           monkeypatch):
    """A plan build that raises in Python, between real MVs, is raised only
    once every other refresh has finished; the other MVs are written."""
    from dopams_etl_spark.gold import refresh_gold

    def broken(spark, sf_dir):
        raise ValueError("broken at build")

    _registry_with(monkeypatch, {"broken_mv": broken})
    out = str(tmp_path / "gold")
    with pytest.raises(ValueError, match="broken at build"):
        refresh_gold(spark, SF, out, ("firs_mv", "broken_mv", "accuseds_mv"))
    assert _written(f"{out}/firs_mv") and _written(f"{out}/accuseds_mv")
    assert not os.path.exists(f"{out}/broken_mv")
    assert _no_active_jobs(spark)
    assert spark.read.parquet(f"{out}/firs_mv").count() == 1500
    assert spark.read.parquet(f"{out}/accuseds_mv").count() == 6000


def test_gold_refresh_equals_the_plans_collected_on_the_main_thread(spark, tmp_path):
    """The five gold tables written from pool threads hold exactly the rows
    of the same plans run on the calling thread."""
    from dopams_etl_spark.gold import GOLD_PIPELINES, load_gold, refresh_gold
    from dopams_etl_spark.plans import catalog

    out = str(tmp_path / "gold")
    counts = refresh_gold(spark, SF, out)
    qs = catalog.queries()
    for name in GOLD_PIPELINES:
        want = qs[name](spark, SF)
        # partition columns read back last, and as their inferred type
        got = load_gold(spark, out, name).select(
            *[F.col(f.name).cast(f.dataType) for f in want.schema.fields])
        assert counts[name] == want.count() > 0, name
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name


_FRESH_PROCESS_REFRESHES = """
import json, sys, tempfile
from dopams_etl_spark.gold import refresh_gold
from dopams_etl_spark.session import get_spark

spark = get_spark("codegen-cache-test")
spark.sparkContext.setLogLevel("ERROR")
metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
compiled = []
for _ in range(3):
    before = metric.getCount()
    with tempfile.TemporaryDirectory() as out:
        refresh_gold(spark, sys.argv[1], out)
    compiled.append(metric.getCount() - before)
print(json.dumps(compiled))
"""


def test_repeated_gold_refresh_in_a_fresh_process_compiles_almost_nothing():
    """Spark's codegen cache is JVM-global and sized by whichever thread
    compiles first. In a process whose first Spark work is ``refresh_gold``
    (so its pool threads compile first), the third refresh finds its
    generated classes still cached. This needs a process of its own: in
    the test JVM other tests compile first, on the main thread."""
    import json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g",
           "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "2")}
    run = subprocess.run([sys.executable, "-c", _FRESH_PROCESS_REFRESHES, SF], cwd=root, env=env,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    compiled = json.loads(run.stdout.strip().splitlines()[-1])
    assert compiled[0] > 50, compiled  # the first refresh compiles its MVs
    assert compiled[2] <= 10, compiled


def test_pipeline_retry_and_refresh_dedup():
    order = []

    def ok(name):
        def fn():
            order.append(name)
        return fn

    flaky_calls = {"n": 0}

    def flaky():
        flaky_calls["n"] += 1
        if flaky_calls["n"] < 2:
            raise RuntimeError("transient")
        order.append("flaky")

    stages = [
        Stage("refresh_views", ok("refresh1"), is_refresh=True),
        Stage("crimes", ok("crimes")),
        Stage("flaky", flaky),
        Stage("refresh_views", ok("refresh2"), is_refresh=True),
    ]
    report = run_pipeline(stages, sleeper=lambda _: None)
    assert report.ok
    assert order == ["crimes", "flaky", "refresh1"]  # dedup kept first refresh, moved to end
    assert report.results[1].attempts == 2           # flaky retried once


def test_pipeline_stops_on_exhausted_retries():
    def dead():
        raise RuntimeError("always")

    report = run_pipeline(
        [Stage("dead", dead, retries=1), Stage("after", lambda: None)],
        sleeper=lambda _: None,
    )
    assert not report.ok
    assert [r.name for r in report.results] == ["dead"]


def test_pipeline_records_stage_seconds_without_retry_sleeps(monkeypatch):
    """``StageResult.seconds`` sums the stage's attempts on the wall clock
    and leaves out the retry sleep between them."""
    from dopams_etl_spark import pipeline

    clock, slept = [0.0], []
    monkeypatch.setattr(pipeline.time, "perf_counter", lambda: clock[0])

    def sleeper(delay):
        slept.append(delay)
        clock[0] += delay

    def flaky():
        clock[0] += 1.5
        if not slept:
            raise RuntimeError("transient")
        return "done"

    def quick():
        clock[0] += 0.25

    report = run_pipeline(
        [Stage("flaky", flaky, retry_delays=(7.0,)), Stage("quick", quick)], sleeper=sleeper)
    assert report.ok and slept == [7.0]
    flaky_r, quick_r = report.results
    assert (flaky_r.name, flaky_r.ok, flaky_r.attempts, flaky_r.error, flaky_r.result) == (
        "flaky", True, 2, None, "done")
    assert flaky_r.seconds == 3.0
    assert quick_r.seconds == 0.25 and quick_r.attempts == 1


def test_transliterate_basic(spark):
    from dopams_etl_spark.functions.translit import transliterate_basic

    df = spark.createDataFrame([("राम कुमार",), ("రవి",), ("plain",)], ["n"])
    got = [r["t"] for r in df.select(transliterate_basic("n").alias("t")).collect()]
    assert got[0] == "ram kumar" and got[1] == "rvi" and got[2] == "plain"


def test_python_datasource_partitioned_scan(spark):
    """Spark-4 Python DataSource: declared schema, per-partition reads,
    deterministic content."""
    from pyspark.sql import functions as F

    from dopams_etl_spark.sources.pydatasource import (
        KNUTH,
        MOD,
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("partitions", 3)
        .option("rows_per_partition", 10)
        .load()
    )
    assert df.columns == ["id", "part", "value"]
    rows = sorted(map(tuple, df.collect()))
    assert len(rows) == 30
    assert rows == [(i, i // 10, (i * KNUTH) % MOD) for i in range(30)]
    # the scan really parallelizes: each declared partition reads itself
    nparts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert nparts == 3


def test_python_datasource_filter_pushdown(spark):
    """Range predicates on id push into the source: partitions wholly
    outside the range are never planned or read."""
    from pyspark.sql import functions as F

    from dopams_etl_spark.sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("partitions", 4)
        .option("rows_per_partition", 100)
        .load()
        .filter((F.col("id") >= 150) & (F.col("id") < 320))
    )
    rows = sorted(r["id"] for r in df.collect())
    assert rows == list(range(150, 320))
    # only partitions 1..3 overlap [150, 320) -> 3 planned partitions
    nparts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert nparts == 3
    # fully-out-of-range scan still plans (one empty partition)
    empty = (
        spark.read.format("synthetic_events")
        .option("partitions", 2)
        .option("rows_per_partition", 10)
        .load()
        .filter(F.col("id") > 1000)
    )
    assert empty.count() == 0


def test_python_datasource_jsonl_writer(spark, tmp_path):
    """Write side of the DataSource API: per-partition shards + an
    all-or-nothing manifest, content roundtrips."""
    import json
    import os

    from dopams_etl_spark.sources.pydatasource import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "jsonl_out")
    df = spark.range(0, 20).selectExpr("id", "id * 3 AS triple").repartition(4)
    df.write.format("jsonl_sink").option("path", out).mode("append").save()
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["rows"] == 20
    got = []
    for shard in manifest["shards"]:
        with open(shard) as fh:
            got += [json.loads(line) for line in fh]
    assert sorted((r["id"], r["triple"]) for r in got) == [
        (i, 3 * i) for i in range(20)
    ]


def test_python_datasource_jsonl_writer_overwrite(spark, tmp_path):
    """Two-phase commit semantics: overwrite clears stale shards from a
    wider prior run (4 shards -> 2), non-overwrite into a non-empty sink
    fails instead of mixing runs, and no .tmp attempt files survive a
    successful commit."""
    import glob
    import json
    import os

    import pytest

    from dopams_etl_spark.sources.pydatasource import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "jsonl_ow")
    # (the Python DataSource write API only accepts Append/Overwrite;
    # append into an EMPTY dir is the fresh-write path)
    wide = spark.range(0, 40).selectExpr("id").repartition(4)
    wide.write.format("jsonl_sink").option("path", out).mode("append").save()
    assert len(glob.glob(os.path.join(out, "part-*.jsonl"))) == 4

    narrow = spark.range(0, 10).selectExpr("id").repartition(2)
    narrow.write.format("jsonl_sink").option("path", out).mode(
        "overwrite"
    ).save()
    shards = sorted(glob.glob(os.path.join(out, "part-*.jsonl")))
    assert len(shards) == 2, "stale shards from the 4-partition run remain"
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert sorted(manifest["shards"]) == shards
    assert manifest["rows"] == 10
    assert not glob.glob(os.path.join(out, ".part-*.tmp"))

    with pytest.raises(Exception, match="overwrite"):
        narrow.write.format("jsonl_sink").option("path", out).mode(
            "append"
        ).save()


def test_jsonl_writer_sweep_is_job_scoped(spark, tmp_path):
    """A commit's orphan sweep must delete ONLY its own job's attempt
    temps: a concurrent writer's in-flight ``.part-*.tmp`` for the same
    sink path survives (deleting it would fail that job's later commit
    renames)."""
    import glob
    import os

    from dopams_etl_spark.sources.pydatasource import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "jsonl_cc")
    os.makedirs(out)
    foreign = os.path.join(out, ".part-00000.fedcba987654.7.tmp")
    with open(foreign, "w") as fh:
        fh.write('{"id": 999}\n')

    df = spark.range(0, 6).selectExpr("id").repartition(2)
    df.write.format("jsonl_sink").option("path", out).mode("append").save()

    assert os.path.exists(foreign), "swept a concurrent job's temp file"
    # ... while this job's own temps are gone
    leftovers = set(glob.glob(os.path.join(out, ".part-*.tmp"))) - {foreign}
    assert not leftovers


def test_python_datasource_stream_reader(spark, tmp_path):
    """Streaming side: the micro-batch tick source drains its offset
    range under availableNow and the batches reassemble the exact
    deterministic sequence."""
    from dopams_etl_spark.sources.pydatasource import (
        KNUTH,
        MOD,
        register_ticks_stream,
    )

    register_ticks_stream(spark)
    # each availableNow run drains the batches prefetched at trigger
    # time and checkpoints its offset; re-running from the same
    # checkpoint continues where the last run stopped — the standard
    # incremental-batch cadence for a cursor-style source.
    out = str(tmp_path / "ticks_out")
    for _ in range(6):
        stream = (
            spark.readStream.format("synthetic_ticks")
            .option("total_rows", 60)
            .option("batch_rows", 25)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if spark.read.parquet(out).count() >= 60:
            break
    rows = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert rows == [(i, (i * KNUTH) % MOD) for i in range(60)]


def test_python_datasource_pushdown_property(spark):
    """Property: for any id range, the pushed-down scan returns exactly
    the Python-range slice of the full deterministic sequence."""
    from pyspark.sql import functions as F

    from dopams_etl_spark.sources.pydatasource import (
        KNUTH,
        MOD,
        register_synthetic_source,
    )

    register_synthetic_source(spark)

    def scan(lo, hi):
        df = (
            spark.read.format("synthetic_events")
            .option("partitions", 5)
            .option("rows_per_partition", 20)
            .load()
            .filter((F.col("id") >= lo) & (F.col("id") <= hi))
        )
        return sorted((r["id"], r["value"]) for r in df.collect())

    # deterministic probe grid instead of hypothesis: bounds on, inside,
    # and outside partition edges, inverted, and degenerate
    for lo, hi in [(0, 99), (20, 39), (19, 20), (55, 55), (90, 200), (-5, 3),
                   (60, 59), (100, 300)]:
        want = [(i, (i * KNUTH) % MOD) for i in range(max(lo, 0), min(hi, 99) + 1)]
        assert scan(lo, hi) == want, (lo, hi)


def test_sorted_lookups_keep_rows_and_order_without_range_exchange(spark, tmp_path):
    """Both sorted lookups return the rows and the sort-key sequence of
    the plain ``orderBy`` form, NULL dates and ties included, without the
    range-partitioning exchange whose bound sampling rescans the table."""
    from collections import Counter

    from dopams_etl_spark.gold import (
        get_accused_crime_history,
        load_gold,
        refresh_gold,
        search_person_by_name,
    )

    out = str(tmp_path / "gold")
    refresh_gold(spark, SF, out, ("accuseds_mv", "criminal_profiles_mv"))
    accused = load_gold(spark, out, "accuseds_mv")
    # person 7 has rows tied on (fir_date, crime_id); add NULL-dated rows
    # that tie on crime_id with each other and with a dated row
    crime = accused.filter(F.col("accused_id").endswith(":7")).first()["crime_id"]
    extra = (
        accused.limit(3)
        .withColumn("accused_id", F.concat(F.lit("x:"), F.monotonically_increasing_id(), F.lit(":7")))
        .withColumn("crime_id", F.lit(crime))
        .withColumn("fir_date", F.lit(None).cast("string"))
        .withColumn("fir_year", F.lit(None).cast("int"))
    )
    extra.write.mode("append").partitionBy("fir_year").parquet(f"{out}/accuseds_mv")

    def reference(name, cond, *keys):
        return load_gold(spark, out, name).filter(cond).orderBy(*keys).collect()

    cases = [
        (
            get_accused_crime_history(spark, out, 7),
            reference("accuseds_mv", F.col("accused_id").endswith(":7"),
                      F.col("fir_date").desc(), F.col("crime_id").asc()),
            ("fir_date", "crime_id"),
        )
    ]
    for term in ("widget", "a"):
        cases.append((
            search_person_by_name(spark, out, term),
            reference("criminal_profiles_mv", F.lower(F.col("person_name")).contains(term),
                      F.col("crime_count").desc(), F.col("person_id").asc()),
            ("crime_count", "person_id"),
        ))
    for df, want, keys in cases:
        got = df.collect()
        assert Counter(map(tuple, got)) == Counter(map(tuple, want))
        assert [tuple(r[k] for k in keys) for r in got] == [tuple(r[k] for k in keys) for r in want]
        plan = df._jdf.queryExecution().executedPlan().toString().lower()
        assert "rangepartitioning" not in plan, plan
    history = cases[0][0].collect()
    assert history[-1]["fir_date"] is None and len({r["crime_id"] for r in history[-3:]}) == 1
    assert len(cases[1][1]) > len({r["crime_count"] for r in cases[1][1]})  # ties


def _warehouse_with_orders_sink(spark, tmp_path):
    """A copy of the sf0.001 tables whose ``orders`` is a sink directory
    (every row at version 0); returns (dir, sink, orders frame)."""
    import shutil

    from dopams_etl_spark.catalog import TABLES, load_table
    from dopams_etl_spark.sinks import KeyedTableSink

    wh = tmp_path / "wh"
    wh.mkdir()
    for t in TABLES:
        if t != "orders":
            shutil.copyfile(f"{SF}/{t}.parquet", wh / f"{t}.parquet")
    orders = load_table(spark, "orders", SF).withColumn("v", F.lit(0).cast("bigint"))
    sink = KeyedTableSink(spark, str(wh / "orders.parquet"), "o_orderkey", "v")
    sink.upsert(orders)
    return str(wh), sink, orders


def test_upsert_evicts_the_catalog_memo(spark, tmp_path):
    """A sink rewrite deletes the files a memoized ``load_table`` plan
    listed; the same session then reads the new table, and a gold refresh
    over the directory succeeds."""
    from dopams_etl_spark.catalog import load_table
    from dopams_etl_spark.gold import refresh_gold

    wh, sink, orders = _warehouse_with_orders_sink(spark, tmp_path)
    before = load_table(spark, "orders", wh).count()
    fresh = orders.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000).limit(7)
    sink.upsert(fresh)
    assert load_table(spark, "orders", wh).count() == before + 7
    counts = refresh_gold(spark, wh, str(tmp_path / "gold"), ("firs_mv",))
    assert counts["firs_mv"] == before + 7


def test_compact_table_evicts_the_catalog_memo(spark, tmp_path):
    from dopams_etl_spark.catalog import load_table
    from dopams_etl_spark.gold import compact_table

    wh, _, _ = _warehouse_with_orders_sink(spark, tmp_path)
    before = load_table(spark, "orders", wh).count()
    compact_table(spark, f"{wh}/orders.parquet/")
    assert load_table(spark, "orders", wh).count() == before


def _jobs_in_group(spark, group: str, run) -> int:
    """Spark jobs ``run()`` starts under the job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_gold_lookups_start_no_table_open_job(spark, tmp_path):
    """A repeated lookup finds its gold table open: no listing, no
    footer-read job. The accused history runs its scan and its one-task
    sort (2 jobs), the person history its scan (1)."""
    from dopams_etl_spark.gold import get_accused_crime_history, get_person_crime_history, refresh_gold

    out = str(tmp_path / "gold")
    refresh_gold(spark, SF, out, ("accuseds_mv", "criminal_profiles_mv"))
    lookups = {
        "accused": (lambda: get_accused_crime_history(spark, out, 7).collect(), 2),
        "person": (lambda: get_person_crime_history(spark, out, 7).collect(), 1),
    }
    for name, (lookup, jobs) in lookups.items():
        assert lookup()
        assert _jobs_in_group(spark, f"repeated-{name}-lookup", lookup) == jobs, name


def test_load_gold_sees_a_table_replaced_by_another_writer(spark, tmp_path):
    """Another process refreshes a gold table (writes it in full, renames
    it over the live one, deletes the old one) without this process's
    ``forget_path``: the next ``load_gold`` reads the new rows, not the
    deleted files its first open listed."""
    from dopams_etl_spark.gold import load_gold, refresh_gold
    from dopams_etl_spark.sinks import swap_staged

    out = str(tmp_path / "gold")
    refresh_gold(spark, SF, out, ("firs_mv",))
    path = f"{out}/firs_mv"
    assert load_gold(spark, out, "firs_mv").count() == 1500
    spark.read.parquet(path).limit(9).write.partitionBy("fir_year").parquet(f"{path}__staging")
    swap_staged(spark, f"{path}__staging", path)
    assert load_gold(spark, out, "firs_mv").count() == 9


def test_load_gold_of_a_deleted_table_raises_like_an_uncached_read(spark, tmp_path):
    import shutil

    from dopams_etl_spark.gold import load_gold

    out = str(tmp_path / "gold")
    spark.range(3).write.parquet(f"{out}/toy_mv")
    assert load_gold(spark, out, "toy_mv").count() == 3
    shutil.rmtree(f"{out}/toy_mv")
    with pytest.raises(Exception) as uncached:
        spark.read.parquet(f"{out}/toy_mv")
    with pytest.raises(uncached.type) as err:
        load_gold(spark, out, "toy_mv")
    assert err.value.getCondition() == uncached.value.getCondition() == "PATH_NOT_FOUND"


def test_load_gold_reads_the_rows_of_the_latest_refresh(spark, tmp_path, monkeypatch):
    from dopams_etl_spark.gold import load_gold, refresh_gold

    rows = {"n": 4}
    _registry_with(monkeypatch, {"toy_mv": lambda spark, sf_dir: spark.range(rows["n"])})
    out = str(tmp_path / "gold")
    refresh_gold(spark, SF, out, ("toy_mv",))
    assert load_gold(spark, out, "toy_mv").count() == 4
    rows["n"] = 11
    refresh_gold(spark, SF, out, ("toy_mv",))
    assert load_gold(spark, out, "toy_mv").count() == 11


def test_parquet_files_counts_what_os_walk_sees(spark, tmp_path):
    """``compact_table``'s listing of a partitioned gold table: the same
    parquet file count and bytes as a walk of the directory tree."""
    from dopams_etl_spark.gold import _parquet_files, refresh_gold

    out = str(tmp_path / "gold")
    refresh_gold(spark, SF, out, ("firs_mv",))
    files = [os.path.join(d, f) for d, _, names in os.walk(f"{out}/firs_mv")
             for f in names if f.endswith(".parquet")]
    assert len({os.path.dirname(f) for f in files}) > 1  # partitioned
    assert _parquet_files(spark, f"{out}/firs_mv") == (len(files), sum(map(os.path.getsize, files)))
