"""Structured Streaming wrappers driven to completion with availableNow
triggers (finite + deterministic)."""

from pyspark.sql import functions as F

from dopams_etl_spark.streaming import (
    read_stream_parquet,
    stream_upsert_parquet,
    windowed_event_counts,
)


def _events_subset(spark, n=200):
    from dopams_etl_spark.catalog import load_table

    return load_table(spark, "events", "/root/testdata/sf0.001").limit(n)


def test_windowed_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    ev = _events_subset(spark)
    ev.write.parquet(src)

    stream = read_stream_parquet(spark, src, ev.schema)
    counts = windowed_event_counts(stream, "ts", "event_type", window="1 hour")
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")  # append emits only watermark-closed windows
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = spark.read.parquet(src)
    want_full = {
        (r["w"]["start"], r["event_type"]): r["n"]
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # availableNow + append: all windows except those still open at the
    # final watermark are emitted; every emitted window must match batch.
    assert got, "no windows emitted"
    for k, v in got.items():
        assert want_full[k] == v


def test_stateful_sessionize_closed_sessions(spark, tmp_path):
    from dopams_etl_spark.streaming import stateful_sessionize

    src = str(tmp_path / "src")
    ev = _events_subset(spark, 400).select("user_id", "ts")
    ev.write.parquet(src)

    stream = read_stream_parquet(spark, src, ev.schema)
    q = (
        stateful_sessionize(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM sessions").collect()

    # Batch truth: total sessions per user; the stream emits all CLOSED
    # sessions, i.e. total minus the one left open per user.
    batch = spark.read.parquet(src)
    w_lag = F.lag(F.col("ts").cast("long")).over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
            "user_id"
        ).orderBy("ts")
    )
    marked = batch.withColumn(
        "new_s",
        F.when(
            w_lag.isNull() | ((F.col("ts").cast("long") - w_lag) > 1800), 1
        ).otherwise(0),
    )
    per_user = {
        r["user_id"]: r["s"]
        for r in marked.groupBy("user_id").agg(F.sum("new_s").alias("s")).collect()
    }
    want_closed = sum(v - 1 for v in per_user.values())
    assert len(emitted) == want_closed
    assert all(r["n_events"] >= 1 for r in emitted)


def test_stream_upsert_latest_wins(spark, tmp_path):
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    ev = _events_subset(spark, 100).select("event_id", "ts", "value")
    ev.write.parquet(src)
    # pre-seed the target with stale versions of 50 rows
    ev.limit(50).withColumn("ts", F.expr("ts - interval 10 days")).withColumn(
        "value", F.lit(-1.0)
    ).write.parquet(target)

    stream = read_stream_parquet(spark, src, ev.schema)
    q = stream_upsert_parquet(stream, target, ckpt, "event_id", "ts")
    q.awaitTermination(120)

    final = spark.read.parquet(target)
    assert final.count() == 100                      # no duplicate keys
    assert final.filter(F.col("value") == -1.0).count() == 0  # stale rows replaced


def test_stream_upsert_publish_fault_keeps_table(spark, tmp_path, monkeypatch):
    """A micro-batch whose publish fails after the live table was retired
    fails the query and leaves the previous table readable in full."""
    import pytest

    from tests.test_sinks import _fail_publish

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ev = _events_subset(spark, 40).select("event_id", "ts", "value")
    ev.write.parquet(src)
    seeded = ev.limit(20).withColumn("value", F.lit(-1.0))
    seeded.write.parquet(target)
    want = sorted(tuple(r) for r in spark.read.parquet(target).collect())

    _fail_publish(monkeypatch, "__staging")
    q = stream_upsert_parquet(
        read_stream_parquet(spark, src, ev.schema), target, str(tmp_path / "ckpt"),
        "event_id", "ts",
    )
    with pytest.raises(Exception, match="injected fault"):
        q.awaitTermination(120)
    monkeypatch.undo()
    assert sorted(tuple(r) for r in spark.read.parquet(target).collect()) == want
    assert not (tmp_path / "target__retired").exists()


def test_stream_dedup_collapses_replays(spark, tmp_path):
    """At-least-once delivery: events replayed verbatim collapse to exactly
    one row per key; output matches batch dropDuplicates on the same data."""
    from dopams_etl_spark.streaming import stream_dedup

    src = str(tmp_path / "dup_src")
    ev = _events_subset(spark, 100).select("event_id", "event_type", "ts")
    # duplicate every event (a replay), plus a second replay of half
    ev.unionByName(ev).unionByName(ev.limit(50)).write.parquet(src)

    stream = read_stream_parquet(spark, src, ev.schema)
    deduped = stream_dedup(stream, ["event_id"], ts_col="ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)), "stream emitted duplicate keys"
    want = {r["event_id"] for r in spark.read.parquet(src).select("event_id").distinct().collect()}
    assert set(ids) == want


def test_stream_stream_interval_join_across_batches(spark):
    import tempfile

    from pyspark.sql import functions as F

    from dopams_etl_spark.catalog import load_table
    from dopams_etl_spark.streaming import stream_stream_interval_join

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    views = ev.filter(F.col("event_type") == "view")
    buys = ev.filter(F.col("event_type") == "purchase")
    base = tempfile.mkdtemp(prefix="ssj_mb_")
    # several files per side + maxFilesPerTrigger=1 => many micro-batches;
    # pairs whose two sides arrive in different batches only match if the
    # join buffers state correctly across batches. Files must land in
    # EVENT-TIME order (the file source replays by modification time):
    # time slices are written sequentially, one file each. A
    # randomly-split replay would advance the watermark to near max(ts)
    # after one batch and correctly drop everything later as late data —
    # watermark semantics, not a bug.
    cuts = ["2024-01-08", "2024-01-15", "2024-01-22"]
    for side, df in (("v", views), ("b", buys)):
        lo = None
        for hi in [*cuts, None]:
            sl = df
            if lo is not None:
                sl = sl.filter(F.col("ts") >= lo)
            if hi is not None:
                sl = sl.filter(F.col("ts") < hi)
            sl.coalesce(1).write.mode("append").parquet(base + f"/{side}")
            lo = hi
    vs = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(base + "/v")
    bs = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(base + "/b")
    joined = stream_stream_interval_join(vs, bs, "user_id", "ts", "1 hour", "2 hours")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_mb")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in spark.table("ssj_mb").collect()
    }
    want = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in views.alias("v")
        .join(
            buys.alias("p"),
            (F.col("v.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("v.ts"))
            & (F.col("p.ts") <= F.col("v.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("v.user_id"),
            F.col("v.event_id").alias("l_event_id"),
            F.col("p.event_id").alias("r_event_id"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Checkpoint recovery — the operational guarantee a 100 TB stream
    depends on: stop a windowed-count query, add new data, restart the
    SAME query from its checkpoint, and the sink must (a) contain no
    duplicate (window, key) rows across the two runs and (b) agree with
    a batch aggregate over the full data for every emitted window —
    including boundary windows that were OPEN (unemitted state) at the
    first shutdown and only closed by second-run data, which proves
    state survived the restart."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    ev = (
        _events_subset(spark, 400)
        .select("ts", "event_type")
        .orderBy("ts")
        .collect()
    )
    half = len(ev) // 2
    schema = "ts timestamp, event_type string"
    part1 = spark.createDataFrame(ev[:half], schema)
    part2 = spark.createDataFrame(ev[half:], schema)  # strictly later: no late data
    part1.write.mode("append").parquet(src)

    def run_once():
        stream = read_stream_parquet(spark, src, part1.schema)
        counts = windowed_event_counts(stream, "ts", "event_type", window="1 hour")
        q = (
            counts.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(out).count()
    part2.write.mode("append").parquet(src)
    run_once()  # restart: checkpoint skips part1 files, resumes state

    sink = spark.read.parquet(out)
    rows = sink.collect()
    assert len(rows) > n_first, "second run emitted nothing"
    keys = [(r["window_start"], r["event_type"]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate windows across restart"
    batch = spark.createDataFrame(ev, schema)
    want = {
        (r["w"]["start"], r["event_type"]): r["n"]
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert want[(r["window_start"], r["event_type"])] == r["n"]

def _append_once(spark, src, out, ck, schema):
    from dopams_etl_spark.streaming import stream_append_once

    stream_append_once(read_stream_parquet(spark, src, schema), out, ck).awaitTermination(120)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _source_halves(spark):
    rows = _sorted_rows(_events_subset(spark, 100).select("event_id", "user_id"))
    schema = "event_id long, user_id long"
    return spark.createDataFrame(rows[:50], schema), spark.createDataFrame(rows[50:], schema)


def _drop_log_entry(log_dir, batch_id):
    """Delete one batch's entry (and its ``.crc``) from a streaming log."""
    import os

    os.remove(os.path.join(log_dir, str(batch_id)))
    crc = os.path.join(log_dir, f".{batch_id}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _last_commit(ck):
    import os

    return max(int(n) for n in os.listdir(os.path.join(ck, "commits")) if n.isdigit())


def test_append_once_streams_source_rows(spark, tmp_path):
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    part1, part2 = _source_halves(spark)
    part1.write.parquet(src)
    part2.write.mode("append").parquet(src)

    _append_once(spark, src, out, ck, part1.schema)
    want = _sorted_rows(part1.unionByName(part2))
    assert _sorted_rows(spark.read.parquet(out)) == want
    assert (tmp_path / "out" / "_spark_metadata").is_dir()


def test_append_once_skips_replayed_batches(spark, tmp_path):
    """A crash after the sink committed a batch but before the checkpoint
    did (its last ``commits/<n>`` lost) replays that batch on restart; the
    sink's own log skips it, so no row is written twice."""
    import os

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    part1, part2 = _source_halves(spark)
    src_df = part1.unionByName(part2)
    src_df.write.parquet(src)

    _append_once(spark, src, out, ck, src_df.schema)
    files = sorted(os.listdir(out))
    _drop_log_entry(os.path.join(ck, "commits"), _last_commit(ck))
    _append_once(spark, src, out, ck, src_df.schema)
    assert _sorted_rows(spark.read.parquet(out)) == _sorted_rows(src_df)
    assert sorted(os.listdir(out)) == files  # the replay wrote no file


def test_append_once_crash_before_publish_is_retried(spark, tmp_path):
    """A crash after the sink wrote a batch's files but before it logged
    them (no ``_spark_metadata/<n>``, no ``commits/<n>``): the restart
    writes the batch again, and the dead attempt's files stay unread."""
    import os

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    part1, part2 = _source_halves(spark)
    src_df = part1.unionByName(part2)
    src_df.write.parquet(src)

    _append_once(spark, src, out, ck, src_df.schema)
    last = _last_commit(ck)
    _drop_log_entry(os.path.join(out, "_spark_metadata"), last)
    _drop_log_entry(os.path.join(ck, "commits"), last)
    orphans = {f for f in os.listdir(out) if f.startswith("part-")}
    _append_once(spark, src, out, ck, src_df.schema)
    sink = spark.read.parquet(out)
    assert _sorted_rows(sink) == _sorted_rows(src_df)
    read = {os.path.basename(f) for f in sink.inputFiles()}
    assert read and not read & orphans


def test_append_once_restart_appends_only_new_files(spark, tmp_path):
    """Source files that arrive after a run are the only rows the restart
    from the same checkpoint appends."""
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    part1, part2 = _source_halves(spark)
    part1.write.parquet(src)

    _append_once(spark, src, out, ck, part1.schema)
    assert _sorted_rows(spark.read.parquet(out)) == _sorted_rows(part1)
    part2.write.mode("append").parquet(src)
    _append_once(spark, src, out, ck, part1.schema)
    assert _sorted_rows(spark.read.parquet(out)) == _sorted_rows(part1.unionByName(part2))
