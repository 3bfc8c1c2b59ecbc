"""Structured Streaming restatement of the incremental core (I1–I4).

The reference ingests via overlapping date-range chunks with a
watermark table (``etl-crimes/etl_crimes.py:246–379``); in Spark the same
semantics fall out of Structured Streaming primitives:

- the high-water mark (I1) IS the source's checkpointed offset log;
- late/overlapping data (I2) is handled by event-time watermarks instead
  of chunk overlap;
- checkpoint state (I3) lives in the query's checkpoint location;
- latest-wins upsert (S7/I4) runs per micro-batch via ``foreachBatch``
  over the batch merge operator — one code path for batch AND streaming.

Tests drive these with ``trigger(availableNow=True)`` over a file source,
so they are deterministic and finite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from dopams_etl_spark.sinks import KeyedTableSink


def read_stream_parquet(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """File-source stream over a parquet directory (schema required — a
    streaming source can't infer). ``maxFilesPerTrigger`` left to the
    caller's trigger config."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding) event-time window counts with a late-data
    watermark — the streaming analog of the reference's per-chunk stats
    (beyond-reference: the reference has no event-time windows at all)."""
    win = (
        F.window(F.col(ts_col), window)
        if slide is None
        else F.window(F.col(ts_col), window, slide)
    )
    # withWatermark requires session-zoned TIMESTAMP; a file-source schema
    # carrying TIMESTAMP_NTZ (native parquet nanos→ntz read) is cast here
    # rather than rejected.
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n",
        )
    )


def stateful_sessionize(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful streaming operator (north-star
    ``applyInPandasWithState``): per-user gap-based sessionization.

    State = the OPEN session (start/last/n, epoch seconds). Each batch
    folds its events in timestamp order; a gap > ``gap_seconds`` CLOSES
    the current session (emitted) and opens a new one. The final open
    session stays in state — exactly the semantics a continuous stream
    needs (it may still grow). Batch twin: ``user_sessions`` in
    plans/relational.py (lag + running-sum windows).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = (
        f"{user_col} long, session_start timestamp, session_end timestamp, n_events int"
    )
    state_schema = "start long, last long, n int"

    def fn(key, pdfs, state: GroupState):
        (user,) = key
        start = last = None
        n = 0
        if state.exists:
            start, last, n = state.get
        out: list[tuple] = []
        ts_all: list = []
        for pdf in pdfs:
            # an event with no time has no position in a session (the
            # shared null-ts convention; NaT.timestamp() aborts the fold)
            ts_all.extend(pdf[ts_col].dropna().tolist())
        for t in sorted(ts_all):
            sec = int(pd.Timestamp(t).timestamp())
            if start is None:
                start, last, n = sec, sec, 1
            elif sec - last > gap_seconds:
                out.append(
                    (user, pd.Timestamp(start, unit="s"), pd.Timestamp(last, unit="s"), n)
                )
                start, last, n = sec, sec, 1
            else:
                last, n = sec, n + 1
        state.update((start, last, n))
        yield pd.DataFrame(
            out, columns=[user_col, "session_start", "session_end", "n_events"]
        )

    return stream.groupBy(user_col).applyInPandasWithState(
        fn, output_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_upsert_parquet(
    stream: DataFrame,
    target_path: str,
    checkpoint_path: str,
    keys: str | list[str],
    version_col: str,
) -> StreamingQuery:
    """S7-as-a-stream: each micro-batch upserts into the parquet target
    through the SAME ``KeyedTableSink`` the batch path uses
    (``foreachBatch``): the latest-wins merge is staged, then swapped in,
    so a crash mid-batch leaves the previous table readable. On a real
    deployment the target would be Delta/Iceberg and the sink's
    ``MERGE INTO`` path applies.
    """

    def merge_batch(batch: DataFrame, _batch_id: int) -> None:
        KeyedTableSink(
            batch.sparkSession, target_path, keys, version_col, fmt="parquet"
        ).upsert(batch)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _publish_staged(fs, hadoop_path, staging, published) -> bool:
    """Atomically promote a staged batch directory to its published
    partition path. Returns True on commit, False when ANOTHER attempt
    of the same batch already committed (a lost race), raises on a real
    rename failure.

    Hadoop rename-into-existing-directory semantics matter here: if
    ``published`` already exists (a same-batch-id attempt won the race
    between the caller's probe and this rename), rename does NOT fail —
    it moves the staging dir INSIDE it as ``published/<staging_name>/``
    and returns true. That is detected by the uuid-unique nested path;
    exactly the nested duplicate is removed and the batch is reported
    as a skipped replay, so a lost race can never double-commit."""
    staging_name = staging.getName()
    try:
        renamed = fs.rename(staging, published)
    except Exception:
        # The rename itself can THROW (not return false) when the source
        # vanished under it: a concurrent same-id winner publishes and
        # then sweeps every `_staging/<id>-*` dir, and that sweep can
        # land in the window between this attempt's write completing and
        # this rename running (the write-phase guard in
        # ``append_once_batch`` only covers sweeps DURING the write).
        # Same recovery as a false return: drop any staging remnant,
        # re-probe the ledger — an existing published dir means the
        # batch IS committed and this attempt is a skipped replay;
        # anything else is a real failure the engine must see. The
        # cleanup delete is best-effort: if IT throws too (transient FS
        # error), the ORIGINAL rename exception must still propagate —
        # a masked cause would hide the real failure from the engine.
        try:
            fs.delete(staging, True)
        except Exception:
            pass
        if fs.exists(published):
            return False
        raise
    nested = hadoop_path(published, staging_name)
    if renamed and fs.exists(nested):
        # The delete MUST succeed: a surviving nested dir would be
        # listed by Spark's recursive leaf-file scan as extra rows of
        # this partition — the exact double-count this helper prevents.
        if not fs.delete(nested, True) and fs.exists(nested):
            raise IOError(
                f"append_once_batch: lost publish race AND failed to "
                f"remove nested duplicate {nested} — partition would "
                f"double-count; manual cleanup required"
            )
        return False
    if not renamed:
        # rename failed outright (or the dst existed on a FS that
        # rejects instead of nesting). Clean the private staging dir,
        # then re-probe: an existing published dir means the batch IS
        # committed (replay); anything else is a real failure the
        # engine must see and retry.
        fs.delete(staging, True)
        if fs.exists(published):
            return False
        raise IOError(
            f"append_once_batch: publish rename failed -> {published}"
        )
    return True


def _reject_legacy_layout(fs, target, target_path: str) -> None:
    """Refuse to append partition-dir batches into a target that holds a
    PRE-partition-layout sink (flat part files, possibly carrying the old
    ``_batch_id`` COLUMN ledger). Mixing the layouts is doubly unsafe: a
    replayed old batch id re-applies (the directory probe cannot see
    column-ledger commits), and ``spark.read.parquet`` fails outright on
    a directory that mixes flat files with ``batch_id=N/`` partition
    dirs. One listStatus of direct children — underscore/dot-hidden
    entries (``_staging``, ``_SUCCESS``, checkpoints) and ``batch_id=``
    partition dirs are the only legal residents."""
    if not fs.exists(target):
        return
    for st in fs.listStatus(target):
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or name.startswith("batch_id="):
            continue
        raise IOError(
            f"append_once_batch: target {target_path} holds entry "
            f"'{name}' that is not a batch_id=<id>/ partition — this "
            "looks like a sink written by the legacy flat-file/_batch_id-"
            "column format. Appending would mix layouts (unreadable) and "
            "break replay detection (duplicate batches). Migrate first: "
            "rewrite each legacy batch into batch_id=<id>/ partition "
            "dirs (e.g. read with the _batch_id column and write via "
            "partitionBy), or point this sink at a fresh target."
        )


def append_once_batch(batch: DataFrame, batch_id: int, target_path: str) -> bool:
    """Apply one micro-batch as an exactly-once APPEND. Appends are not
    idempotent (unlike the latest-wins merge above), so a batch replayed
    after a sink-write-then-crash must be detected and skipped.

    Ledger and data must commit ATOMICALLY — a batch-id column embedded
    in a multi-file append is not enough, because a crash mid-commit
    leaves SOME part files (carrying the id) in the target: the
    restarted batch's probe then sees the id and skips, permanently
    losing the unwritten rows. Instead each batch stages to a hidden
    ``_staging/`` dir under the target and is PUBLISHED by one directory
    rename to the partition path ``batch_id=<id>/``. The published
    directory IS the ledger entry, so the rename commits ledger+data
    together: crash before it leaves only underscore-hidden staging
    files Spark readers ignore (swept on the next successful publish of
    the same id); crash after it is a completed commit the replay
    detects by directory existence — one filesystem metadata probe, no
    data scan. This mirrors Delta's ``txnAppId``/``txnVersion`` commit.

    Requires atomic directory rename (local FS, HDFS). On object stores
    (S3/GCS) rename is copy+delete — use a manifest-committing table
    format there instead; this function makes no exactly-once claim on
    such stores. Readers get the batch id via partition discovery as a
    ``batch_id`` column, and the partition layout makes any downstream
    per-batch filter a directory prune.

    Returns True when the batch was applied, False on a skipped replay."""
    import uuid

    spark = batch.sparkSession
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    target = hadoop_path(target_path)
    fs = target.getFileSystem(spark._jsc.hadoopConfiguration())
    _reject_legacy_layout(fs, target, target_path)
    published = hadoop_path(target, f"batch_id={batch_id}")
    if fs.exists(published):
        return False
    staging = hadoop_path(target, f"_staging/{batch_id}-{uuid.uuid4().hex}")
    try:
        batch.write.mode("overwrite").parquet(str(staging))
    except Exception:
        # A concurrent SAME-id winner publishes and then sweeps every
        # `_staging/<id>-*` dir — including this attempt's, mid-write
        # (observed as FileNotFoundException on our _temporary dir). If
        # the batch turns out to be committed, this attempt is a lost
        # race to report as a skipped replay, not a failure; anything
        # else is a real write error the engine must see and retry.
        fs.delete(staging, True)
        if fs.exists(published):
            return False
        raise
    if not _publish_staged(fs, hadoop_path, staging, published):
        return False
    # Lazy sweep: orphaned staging dirs for THIS batch id only (our own
    # crashed prior attempts — scoping by id never touches a concurrent
    # writer's in-flight staging for other batches).
    staging_root = hadoop_path(target, "_staging")
    if fs.exists(staging_root):
        for st in fs.listStatus(staging_root):
            if st.getPath().getName().startswith(f"{batch_id}-"):
                fs.delete(st.getPath(), True)
    return True


def stream_append_once(
    stream: DataFrame,
    target_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Exactly-once append sink via ``foreachBatch`` + the batch-id
    ledger (``append_once_batch``): at-least-once delivery from the
    engine plus an idempotent apply equals exactly-once in the target."""
    return (
        stream.writeStream.foreachBatch(
            lambda b, i: append_once_batch(b, i, target_path)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup: drop duplicate events by key
    within the watermark horizon (``dropDuplicatesWithinWatermark``), so
    state is bounded — old keys age out with the watermark instead of
    accumulating forever. This is the streaming analog of the batch
    insert-if-absent / idempotency anti-join (S10/I6): replayed or
    at-least-once-delivered events collapse to one row.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval constraint:
    each right event pairs with left events of the same key that happened
    in the preceding ``max_gap`` (view→purchase attribution shape). Both
    sides carry watermarks, and the time-range predicate is what lets
    Spark BOUND the join state — left rows older than
    right-watermark − max_gap are evicted instead of buffered forever,
    which is the difference between bounded and unbounded state at
    100 TB/day. Columns are prefixed l_/r_ (minus the shared key)."""
    lw = left.withWatermark(ts_col, watermark)
    rw = right.withWatermark(ts_col, watermark)
    lsel = lw.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c != key_col],
    )
    rsel = rw.select(
        F.col(key_col).alias("__k2"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c != key_col],
    )
    cond = (
        (F.col("__k") == F.col("__k2"))
        & (F.col(f"r_{ts_col}") >= F.col(f"l_{ts_col}"))
        & (F.col(f"r_{ts_col}") <= F.col(f"l_{ts_col}") + F.expr(f"INTERVAL {max_gap}"))
    )
    return (
        lsel.join(rsel, cond, "inner")
        .withColumnRenamed("__k", key_col)
        .drop("__k2")
    )
