"""Structured Streaming restatement of the incremental core (I1–I4).

The reference ingests via overlapping date-range chunks with a
watermark table (``etl-crimes/etl_crimes.py:246–379``); in Spark the same
semantics fall out of Structured Streaming primitives:

- the high-water mark (I1) IS the source's checkpointed offset log;
- late/overlapping data (I2) is handled by event-time watermarks instead
  of chunk overlap;
- checkpoint state (I3) lives in the query's checkpoint location;
- latest-wins upsert (S7/I4) runs per micro-batch via ``foreachBatch``
  over the batch merge operator — one code path for batch AND streaming;
- an exactly-once append is the parquet file sink, whose own commit log
  skips a replayed micro-batch.

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
    so a crash mid-batch leaves the previous table readable. A replayed
    batch re-merges the same rows, which latest-wins makes a no-op.
    """

    def merge_batch(batch: DataFrame, _batch_id: int) -> None:
        KeyedTableSink(batch.sparkSession, target_path, keys, version_col).upsert(batch)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_append_once(
    stream: DataFrame,
    target_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Exactly-once APPEND through Spark's parquet file sink. Each
    micro-batch's files are recorded under its batch id in
    ``<target>/_spark_metadata`` before the checkpoint marks the batch
    done, and ``spark.read.parquet(target)`` lists only the recorded files:
    a batch replayed after a crash between the two commits is skipped by
    that log, and the files of an attempt that died before its log entry
    are never read."""
    return (
        stream.writeStream.format("parquet")
        .option("path", target_path)
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
