"""Regression: events.ts must normalize to session-zoned TIMESTAMP on ANY
session (the driver builds its own). Round 2 lost 14 correctness rows to a
PARQUET_TYPE_ILLEGAL read; round 3 lost 2 to TIMESTAMP_NTZ leaking through
(withWatermark and cast-to-long both reject NTZ)."""

from dopams_etl_spark.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_events_ts_is_ltz_on_engine_session(spark):
    df = load_table(spark, "events", SF)
    assert dict(df.dtypes)["ts"] == "timestamp"
    # castable to epoch seconds (what user_sessions does) without error
    df.selectExpr("cast(ts as long)").limit(1).collect()


def test_events_ts_is_ltz_on_foreign_session(spark):
    # a sibling session simulates the driver's own SparkSession: whatever
    # its conf state, load_table must still hand back LTZ
    s2 = spark.newSession()
    try:
        s2.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        pass
    df = load_table(s2, "events", SF)
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_windowed_counts_accepts_ntz_event_time(spark):
    import tempfile

    from dopams_etl_spark.streaming import read_stream_parquet, windowed_event_counts

    ev = load_table(spark, "events", SF).limit(100)
    ntz = ev.selectExpr(
        "event_id", "cast(ts as timestamp_ntz) as ts", "event_type"
    )
    src = tempfile.mkdtemp(prefix="ntz_stream_") + "/ev"
    ntz.write.parquet(src)
    stream = read_stream_parquet(spark, src, ntz.schema)
    # would raise EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE without the cast guard
    counts = windowed_event_counts(stream, "ts", "event_type", window="1 hour")
    assert dict(counts.dtypes)["window_start"] == "timestamp"


def test_table_pks_unique_on_driver_fixture(spark):
    """PK-integrity contract (r15 dup2 census): the analytical queries
    whose rewrites assume dim/index PK uniqueness (regional_revenue's
    degraded COUNT, firs_mv's child collects, the ANN family's keyed
    index) rely on the load path guaranteeing it — which the merge
    family implements (PK upsert) and the dup2 census verifies. This
    pins the precondition on the driver fixtures themselves: every
    table's natural key is unique. lineitem's PK is composite and NOT
    unique in this testdata (documented in order_lineitems_sorted), so
    it is deliberately absent."""
    from dopams_etl_spark.catalog import load_table

    pks = {
        "region": "r_regionkey",
        "nation": "n_nationkey",
        "customer": "c_custkey",
        "supplier": "s_suppkey",
        "part": "p_partkey",
        "orders": "o_orderkey",
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
    }
    for name, pk in pks.items():
        df = load_table(spark, name, "/root/testdata/sf0.001")
        total = df.count()
        distinct = df.select(pk).distinct().count()
        assert total == distinct > 0, (name, pk, total, distinct)


def test_forget_path_runs_alongside_load_table(spark):
    """``forget_path`` runs on ``gold.refresh_gold``'s pool threads while
    the caller keeps reading tables, possibly from new sessions: the
    concurrent calls raise nothing."""
    import sys
    import threading

    from dopams_etl_spark.catalog import forget_path

    errors, stop = [], threading.Event()

    def forget():
        try:
            while not stop.is_set():
                forget_path(f"{SF}/region.parquet")
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=forget) for _ in range(6)]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for _ in range(12):
            load_table(spark.newSession(), "nation", SF)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
