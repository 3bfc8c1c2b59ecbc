"""``register_views`` reads its tables concurrently; these pin it to the
serial ``load_table`` path: same views, same schemas, same memo, one job per
table under the caller's job group, and the serial loop's failure. The
memo is keyed by path: ``forget_path`` treats a ``file:`` URI and the local
path it names as one table, and a table replaced or deleted behind the
memo's back is seen on the next read."""

import shutil
import sys
import threading

import pytest

from dopams_etl_spark.catalog import TABLES, _OPENED, forget_path, load_table, register_views

SF = "/root/testdata/sf0.001"


def _memo(session) -> dict:
    """Normalized path -> frame of each table open in ``session``."""
    return {p: e.frame for p, e in _OPENED.get(session, {}).items() if e.frame is not None}


def _paths(sf_dir, tables=TABLES) -> set:
    return {f"{sf_dir}/{t}.parquet" for t in tables}


def test_concurrent_load_table_callers_share_one_frame(spark):
    """Callers that miss the memo together wait for one read of the table:
    one frame and one footer-read job, not one per caller (more callers
    than cores, with frequent thread switches)."""
    s = spark.newSession()
    sc = spark.sparkContext
    group = "concurrent-load-table"
    callers = 8
    start = threading.Barrier(callers)
    got = [None] * callers

    def read(i):
        sc.setJobGroup(group, group)
        start.wait()
        got[i] = load_table(s, "orders", SF)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=read, args=(i,)) for i in range(callers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert all(df is got[0] for df in got)
    memo = _memo(s)
    assert list(memo) == [f"{SF}/orders.parquet"] and memo[f"{SF}/orders.parquet"] is got[0]
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_register_views_matches_serial_load_table(spark):
    s, serial = spark.newSession(), spark.newSession()
    register_views(s, SF)
    for t in TABLES:
        assert s.catalog.tableExists(t), t
        assert s.table(t).schema == load_table(serial, t, SF).schema, t
    assert dict(s.table("events").dtypes)["ts"] == "timestamp"
    assert set(_memo(s)) == _paths(SF)


def test_register_views_reads_run_under_callers_job_group(spark):
    s = spark.newSession()
    sc = spark.sparkContext
    group = "register-views-jobs"

    def jobs_after_register() -> int:
        sc.setJobGroup(group, group)
        try:
            register_views(s, SF)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_after_register() == len(TABLES)  # one footer read per table
    assert jobs_after_register() == len(TABLES)  # memoized: the second call adds none


def test_register_views_missing_table_fails_like_serial_loop(spark, tmp_path):
    missing = "orders"
    for t in TABLES:
        if t != missing:
            shutil.copy(f"{SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    data = str(tmp_path)

    serial = spark.newSession()
    with pytest.raises(Exception) as serial_err:
        for t in TABLES:
            load_table(serial, t, data)

    s = spark.newSession()
    with pytest.raises(serial_err.type) as err:
        register_views(s, data)
    assert f"{missing}.parquet" in str(err.value)
    before = TABLES[: TABLES.index(missing)]
    assert [t for t in TABLES if s.catalog.tableExists(t)] == list(before)


def test_register_views_on_hadoop_fs_uri(spark):
    uri = "file://" + SF
    s = spark.newSession()
    register_views(s, uri)
    assert all(s.catalog.tableExists(t) for t in TABLES)
    assert s.table("region").count() == load_table(spark, "region", SF).count()
    assert set(_memo(s)) == _paths(SF)

    forget_path(f"{uri}/orders.parquet")
    assert set(_memo(s)) == _paths(SF, [t for t in TABLES if t != "orders"])


@pytest.mark.parametrize("read_as_uri", [True, False], ids=["read-uri-write-local", "read-local-write-uri"])
def test_upsert_evicts_a_memo_read_under_the_other_spelling(spark, tmp_path, read_as_uri):
    """``file:///x`` and ``/x`` name one table: a sink publishing under one
    spelling drops a ``load_table`` memo read under the other, so the next
    read lists the new files instead of the deleted ones."""
    from pyspark.sql import functions as F

    from dopams_etl_spark.sinks import KeyedTableSink

    shutil.copy(f"{SF}/orders.parquet", tmp_path / "orders.parquet")
    local, uri = str(tmp_path), "file://" + str(tmp_path)
    read_dir, write_dir = (uri, local) if read_as_uri else (local, uri)
    s = spark.newSession()
    orders = load_table(s, "orders", read_dir)
    before = orders.count()
    fresh = orders.limit(7).withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    KeyedTableSink(s, f"{write_dir}/orders.parquet", "o_orderkey", "o_orderdate").upsert(fresh)
    assert f"{local}/orders.parquet" not in _memo(s)
    assert load_table(s, "orders", read_dir).count() == before + 7


def test_load_table_sees_a_table_replaced_by_another_writer(spark, tmp_path):
    """Another process's ``swap_staged`` replaces a table without this
    process's ``forget_path``: the next ``load_table`` reads the new rows,
    not the deleted files its first open listed."""
    from dopams_etl_spark.sinks import swap_staged

    s = spark.newSession()
    path = str(tmp_path / "orders.parquet")
    orders = load_table(s, "orders", SF)
    orders.write.parquet(path)
    assert load_table(s, "orders", str(tmp_path)).count() == orders.count()
    orders.limit(5).write.parquet(f"{path}__staging")
    swap_staged(s, f"{path}__staging", path)
    assert load_table(s, "orders", str(tmp_path)).count() == 5


def test_load_table_of_a_deleted_table_raises_like_an_uncached_read(spark, tmp_path):
    s = spark.newSession()
    path = str(tmp_path / "orders.parquet")
    load_table(s, "orders", SF).write.parquet(path)
    assert load_table(s, "orders", str(tmp_path)).count() > 0
    shutil.rmtree(path)
    with pytest.raises(Exception) as uncached:
        s.read.parquet(path)
    with pytest.raises(uncached.type) as err:
        load_table(s, "orders", str(tmp_path))
    assert err.value.getCondition() == uncached.value.getCondition() == "PATH_NOT_FOUND"


def test_one_path_opens_one_frame_whoever_opens_it(spark):
    """``load_table``, ``open_parquet`` and a sink's ``read`` of one file
    share its frame; the events file opens with its ``ts`` normalized
    either way."""
    from dopams_etl_spark.catalog import open_parquet
    from dopams_etl_spark.sinks import KeyedTableSink

    s = spark.newSession()
    events = open_parquet(s, f"file://{SF}/events.parquet")
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert load_table(s, "events", SF) is events
    orders = load_table(s, "orders", SF)
    assert open_parquet(s, f"{SF}/orders.parquet/") is orders
    assert KeyedTableSink(s, f"{SF}/orders.parquet", "o_orderkey", "o_orderdate").read() is orders
