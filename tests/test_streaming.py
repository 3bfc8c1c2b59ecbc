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


def test_append_once_skips_replayed_batches(spark, tmp_path):
    """Exactly-once append: the batch-id ledger rejects a replayed
    micro-batch (at-least-once redelivery after a sink-write crash)
    while admitting new ids — the streamed result equals the source
    exactly, no duplicates, and a manual replay of an applied id is a
    no-op."""
    from dopams_etl_spark.streaming import append_once_batch, stream_append_once

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    ev = _events_subset(spark, 100).select("event_id", "user_id")
    ev.write.parquet(src)

    from dopams_etl_spark.streaming import read_stream_parquet

    stream = read_stream_parquet(spark, src, ev.schema)
    q = stream_append_once(stream, out, ck)
    q.awaitTermination(120)
    sink = spark.read.parquet(out)
    n = sink.count()
    assert n == 100
    applied_ids = [r["batch_id"] for r in sink.select("batch_id").distinct().collect()]
    assert applied_ids, "no batch ids recorded"

    # replay an ALREADY-APPLIED batch id -> skipped, count unchanged
    replay = spark.read.parquet(src).limit(10)
    assert append_once_batch(replay, applied_ids[0], out) is False
    assert spark.read.parquet(out).count() == n

    # a NEW batch id -> applied
    assert append_once_batch(replay, max(applied_ids) + 1, out) is True
    assert spark.read.parquet(out).count() == n + 10


def test_append_once_crash_before_publish_is_retried(spark, tmp_path):
    """Atomic-publish recovery: a crash AFTER staging but BEFORE the
    publish rename must leave the batch uncommitted — staged rows are
    invisible to readers (underscore-hidden), and a retry of the same
    batch id applies it (the pre-fix embedded-ledger design lost these
    rows forever because the probe saw the id in partial part files)."""
    from dopams_etl_spark.streaming import append_once_batch

    out = str(tmp_path / "out")
    ev = _events_subset(spark, 30).select("event_id", "user_id")
    assert append_once_batch(ev.limit(20), 0, out) is True

    # Simulate batch 1 crashing mid-commit: data staged, never renamed.
    staged = ev.limit(7)
    staged.write.parquet(str(tmp_path / "out" / "_staging" / "1-deadbeef"))
    sink = spark.read.parquet(out)
    assert sink.count() == 20, "staged rows must be invisible to readers"

    # The engine redelivers batch 1: it must APPLY (orphaned staging is
    # not a commit) and sweep its own dead staging attempt.
    assert append_once_batch(staged, 1, out) is True
    assert spark.read.parquet(out).count() == 27
    assert not (tmp_path / "out" / "_staging" / "1-deadbeef").exists()

    # Replay of the now-committed id is a directory-existence no-op.
    assert append_once_batch(staged, 1, out) is False
    assert spark.read.parquet(out).count() == 27


def test_append_once_lost_race_nests_then_cleans(spark, tmp_path):
    """Hadoop rename into an EXISTING directory does not fail — it
    nests the source inside it and returns true. A lost same-batch race
    (published appears between the caller's probe and its rename) must
    detect its uuid-named nested duplicate, remove it, and report a
    skipped replay — never double-commit (the pre-fix code trusted
    rename's return value and silently nested duplicate rows)."""
    import os

    from dopams_etl_spark.streaming import append_once_batch
    from dopams_etl_spark.streaming.incremental import _publish_staged

    out = str(tmp_path / "out")
    ev = _events_subset(spark, 20).select("event_id", "user_id")
    assert append_once_batch(ev.limit(12), 5, out) is True
    n = spark.read.parquet(out).count()
    assert n == 12

    # The loser of the race: its staging dir is written, then it calls
    # _publish_staged while batch_id=5 is ALREADY published (exactly
    # the post-probe state of the losing attempt).
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    target = hadoop_path(out)
    fs = target.getFileSystem(spark._jsc.hadoopConfiguration())
    staging = hadoop_path(target, "_staging/5-cafecafecafe")
    ev.limit(7).write.parquet(str(staging))
    published = hadoop_path(target, "batch_id=5")

    assert _publish_staged(fs, hadoop_path, staging, published) is False
    assert spark.read.parquet(out).count() == n, "race loser double-committed"
    # no nested directory left inside the published partition
    pub = tmp_path / "out" / "batch_id=5"
    assert not [p for p in os.listdir(pub) if os.path.isdir(pub / p)], (
        "nested staging dir left inside published partition"
    )


def test_append_once_rejects_legacy_flat_layout(spark, tmp_path):
    """ADVICE r8: a sink written by the PRE-partition-dir format (flat
    part files carrying a _batch_id COLUMN ledger) must be refused, not
    appended into — mixing layouts makes the directory unreadable and
    the replay probe blind to column-ledger commits (duplicate
    batches). The target must be left untouched."""
    import pytest

    from dopams_etl_spark.streaming import append_once_batch

    out = str(tmp_path / "legacy")
    ev = _events_subset(spark, 10).select("event_id", "user_id")
    ev.withColumn("_batch_id", F.lit(0)).write.parquet(out)

    with pytest.raises(IOError, match="legacy"):
        append_once_batch(ev, 1, out)
    # untouched: same rows, still readable as the old flat layout
    assert spark.read.parquet(out).count() == 10


def test_append_once_two_concurrent_writers(spark, tmp_path):
    """VERDICT r8 task 6: two sessions appending DISJOINT batch ids to
    ONE target concurrently — every batch must land exactly once (no
    lost, no duplicated), and a deliberate SAME-id contention must
    commit exactly one copy."""
    import threading

    from dopams_etl_spark.streaming import append_once_batch

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ev = _events_subset(spark, 40).select("event_id", "user_id")
    ev.write.parquet(src)

    errors: list[Exception] = []

    def writer(session, ids):
        try:
            data = session.read.parquet(src)
            for b in ids:
                assert append_once_batch(data.limit(5), b, out) is True
        except Exception as e:  # surfaced to the main thread below
            errors.append(e)

    other = spark.newSession()
    t1 = threading.Thread(target=writer, args=(spark, [0, 2, 4, 6]))
    t2 = threading.Thread(target=writer, args=(other, [1, 3, 5, 7]))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors, errors

    sink = spark.read.parquet(out)
    assert sink.count() == 40
    ids = sorted(
        r["batch_id"] for r in sink.select("batch_id").distinct().collect()
    )
    assert ids == list(range(8)), f"lost/duplicated batches: {ids}"

    # same-id contention: both writers race batch 99; exactly one wins
    results: list[bool] = []

    def race(session):
        try:
            results.append(
                append_once_batch(session.read.parquet(src).limit(5), 99, out)
            )
        except Exception as e:
            errors.append(e)

    r1 = threading.Thread(target=race, args=(spark,))
    r2 = threading.Thread(target=race, args=(other,))
    r1.start(); r2.start(); r1.join(120); r2.join(120)
    assert not errors, errors
    assert sorted(results) in ([False, True], [True]), results
    assert spark.read.parquet(out).count() == 45


def test_publish_staged_vanished_staging_is_skipped_replay(spark, tmp_path):
    """VERDICT r9 task 1: the winner's `_staging/<id>-*` sweep can land
    BETWEEN the loser's write completing and its rename — then
    ``fs.rename`` sees a nonexistent source and (depending on the FS)
    THROWS instead of returning false. Either way, with the batch
    already published the loser must report a skipped replay (False),
    never surface an exception."""
    from dopams_etl_spark.streaming import append_once_batch
    from dopams_etl_spark.streaming.incremental import _publish_staged

    out = str(tmp_path / "out")
    ev = _events_subset(spark, 20).select("event_id", "user_id")
    assert append_once_batch(ev.limit(12), 5, out) is True

    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    target = hadoop_path(out)
    fs = target.getFileSystem(spark._jsc.hadoopConfiguration())
    # the loser's staging dir has ALREADY been swept away by the winner
    staging = hadoop_path(target, "_staging/5-deaddeaddead")
    assert not fs.exists(staging)
    published = hadoop_path(target, "batch_id=5")

    assert _publish_staged(fs, hadoop_path, staging, published) is False
    assert spark.read.parquet(out).count() == 12

    # ... but a vanished source with NO committed batch is a real
    # failure the engine must see and retry — never silently swallowed.
    import pytest

    ghost = hadoop_path(target, "_staging/7-deaddeaddead")
    missing = hadoop_path(target, "batch_id=7")
    with pytest.raises(Exception):
        _publish_staged(fs, hadoop_path, ghost, missing)
    assert not fs.exists(missing)


def test_append_once_same_id_race_stress(spark, tmp_path):
    """VERDICT r9 task 1 stress: loop the same-id two-writer race many
    times. Every iteration must commit exactly one copy and surface
    zero exceptions — the loser always reports a skipped replay, even
    when the winner's sweep lands in the write-to-rename window."""
    import threading

    from dopams_etl_spark.streaming import append_once_batch

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ev = _events_subset(spark, 30).select("event_id", "user_id")
    ev.write.parquet(src)
    other = spark.newSession()

    rounds = 10
    for b in range(rounds):
        errors: list[Exception] = []
        results: list[bool] = []
        barrier = threading.Barrier(2)

        def race(session, b=b, errors=errors, results=results,
                 barrier=barrier):
            try:
                data = session.read.parquet(src).limit(5)
                barrier.wait(30)
                results.append(append_once_batch(data, b, out))
            except Exception as e:
                errors.append(e)

        t1 = threading.Thread(target=race, args=(spark,))
        t2 = threading.Thread(target=race, args=(other,))
        t1.start(); t2.start(); t1.join(120); t2.join(120)
        assert not errors, f"iteration {b}: {errors}"
        assert sorted(results) in ([False, True], [True]), (b, results)

    sink = spark.read.parquet(out)
    assert sink.count() == 5 * rounds
    ids = sorted(
        r["batch_id"] for r in sink.select("batch_id").distinct().collect()
    )
    assert ids == list(range(rounds)), f"lost/duplicated batches: {ids}"


class _StubPath:
    def __init__(self, name):
        self._name = name

    def getName(self):
        return self._name


class _StubFs:
    """Minimal FileSystem double: rename always THROWS (the vanished-source
    path Hadoop's RawLocalFileSystem can't be made to take — it returns
    false instead, so the JVM-backed test above never reaches the except
    branch). ``delete_raises`` additionally makes the best-effort cleanup
    delete throw, to prove it can't mask the original rename exception."""

    def __init__(self, published_exists, delete_raises=False):
        self._published_exists = published_exists
        self._delete_raises = delete_raises
        self.deleted = []

    def rename(self, src, dst):
        raise IOError("rename: source vanished")

    def delete(self, path, recursive):
        if self._delete_raises:
            raise IOError("delete: transient FS error")
        self.deleted.append(path)
        return True

    def exists(self, path):
        return self._published_exists


def test_publish_staged_rename_throws_stub_fs():
    """ADVICE r10: RawLocalFileSystem.rename with a missing source returns
    false rather than throwing, so the JVM test above exercises only the
    'not renamed' branch. Drive the except branch directly with a stub fs:
    rename THROWS → (a) published exists ⇒ skipped replay (False), staging
    remnant swept; (b) published missing ⇒ the ORIGINAL rename exception
    re-raises; (c) published missing AND the cleanup delete throws too ⇒
    still the rename exception, never the delete's (no masking)."""
    import pytest

    from dopams_etl_spark.streaming.incremental import _publish_staged

    staging = _StubPath("5-deaddeaddead")
    published = _StubPath("batch_id=5")
    hadoop_path = lambda base, name: _StubPath(name)  # noqa: E731

    fs = _StubFs(published_exists=True)
    assert _publish_staged(fs, hadoop_path, staging, published) is False
    assert fs.deleted == [staging]

    fs = _StubFs(published_exists=False)
    with pytest.raises(IOError, match="source vanished"):
        _publish_staged(fs, hadoop_path, staging, published)
    assert fs.deleted == [staging]

    fs = _StubFs(published_exists=False, delete_raises=True)
    with pytest.raises(IOError, match="source vanished"):
        _publish_staged(fs, hadoop_path, staging, published)
