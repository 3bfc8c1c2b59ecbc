"""Driver-visible queries for the non-relational surfaces — file sources,
the NLQ guardrail loop, and the keyed upsert sink.

These components were previously exercised only in tests/; each entry here
drives the REAL component end-to-end inside a ``queries()`` callable so
the round driver's oracle gate sees it:

- S4/P1 ``read_json_dump`` + field mapping: the documents table is dumped
  to JSON-lines with reference-style UPPER_SNAKE names, re-ingested
  through the source loader, and compared against the parquet original.
- S5 ``load_csv_reference``: same round-trip through a header CSV.
- N1–N4/N6/W5 ``nlq``: natural-language questions run the full
  plan → generate → validate loop against the live catalog; the resulting
  SQL's DataFrame is the query output (N5's row-capped executor collects,
  so it stays covered in test_nlq instead).
- S7/I4 ``KeyedTableSink``: two batches upsert through the sink (a
  latest-wins merge published by a staged parquet swap) and the on-disk
  table is the output.

Temp artifacts go under a fresh ``tempfile.mkdtemp`` per call — queries
stay self-contained and re-runnable.
"""

from __future__ import annotations

import itertools
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dopams_etl_spark.plans.catalog import register, t


@register(
    "json_dump_roundtrip",
    """
    SELECT doc_id, text AS content, lang, source, n_chars
    FROM documents
    """,
)
def json_dump_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 Mongo/JSON-dump scan + P1 field-mapping projection
    (``etl-mongo-to-postgresql/etl_migration.py:86–135``): dump documents
    as JSON-lines under reference-style UPPER_SNAKE field names, re-ingest
    through ``read_json_dump`` with the P1 field map, and return the
    mapped frame — values must survive the round-trip bit-exact."""
    from dopams_etl_spark.sources.files import read_json_dump

    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("DOC_ID"),
        F.col("text").alias("TEXT_CONTENT"),
        F.col("lang").alias("LANG_CODE"),
        F.col("source").alias("SOURCE_SYSTEM"),
        F.col("n_chars").alias("N_CHARS"),
    )
    if docs.isEmpty():
        # Empty source (fuzz census): the JSON dump writes zero data
        # files, so the re-ingest has nothing to infer a schema from and
        # aborts with UNABLE_TO_INFER_SCHEMA — degrade to the typed
        # empty frame the round-trip would produce (xml_source recipe).
        return docs.select(
            F.col("DOC_ID").cast("long").alias("doc_id"),
            F.col("TEXT_CONTENT").alias("content"),
            F.col("LANG_CODE").alias("lang"),
            F.col("SOURCE_SYSTEM").alias("source"),
            F.col("N_CHARS").cast("long").alias("n_chars"),
        ).limit(0)
    dump = tempfile.mkdtemp(prefix="dopams_json_dump_") + "/docs"
    docs.write.mode("overwrite").json(dump)
    mapped = read_json_dump(
        spark,
        dump,
        field_map={
            "DOC_ID": "doc_id",
            "TEXT_CONTENT": "content",
            "LANG_CODE": "lang",
            "SOURCE_SYSTEM": "source",
            "N_CHARS": "n_chars",
        },
    )
    return mapped.select(
        F.col("doc_id").cast("long"),
        "content",
        "lang",
        "source",
        F.col("n_chars").cast("long"),
    )


@register(
    "csv_reference_roundtrip",
    """
    SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name,
           CAST(n_regionkey AS INTEGER) AS n_regionkey
    FROM nation
    """,
)
def csv_reference_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 CSV reference load (``etl_migration.py:66–85``): write the
    nation dim as a header CSV, re-load through ``load_csv_reference``
    (inferSchema), and return it typed."""
    from dopams_etl_spark.sources.files import load_csv_reference

    path = tempfile.mkdtemp(prefix="dopams_csv_ref_") + "/nation"
    t(spark, sf_dir, "nation").write.mode("overwrite").option("header", "true").csv(path)
    ref = load_csv_reference(spark, path)
    return ref.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )


def _generated_sql(spark: SparkSession, sf_dir: str, question: str) -> str:
    """Run plan → generate → validate on the live catalog and return the
    approved SQL (raises if the validator rejects — the gate is real)."""
    from dopams_etl_spark.catalog import register_views
    from dopams_etl_spark.nlq import generate_sql, plan_query, validate_sql

    register_views(spark, sf_dir)
    plan = plan_query(spark, question)
    sql = generate_sql(spark, plan, question)
    verdict = validate_sql(sql)
    if not verdict.is_safe:
        raise ValueError(f"generated SQL rejected: {verdict.reason}")
    return sql


@register(
    "nlq_count_orders",
    "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders",
)
def nlq_count_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 intent + N2 table match + N6 generation + N4 validation on a
    count question — the generated SQL must agree with the oracle's
    hand-written COUNT."""
    return spark.sql(_generated_sql(spark, sf_dir, "How many orders are there?"))


@register(
    "nlq_search_customers",
    """
    SELECT * FROM customer
    WHERE lower(c_name) LIKE '%customer#000000014%'
       OR lower(c_mktsegment) LIKE '%customer#000000014%'
    """,
)
def nlq_search_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 search-term extraction + W5 limit default + N6 string-column
    LIKE fan-out: the quoted name reaches the SQL as a lowercased LIKE
    over every string column (mirrored literally in the oracle; the
    template's LIMIT 100 never truncates the single-row match)."""
    return spark.sql(
        _generated_sql(spark, sf_dir, "find customers named 'Customer#000000014'")
    )


@register(
    "sink_upsert_roundtrip",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN 'NEW' ELSE 'OLD' END AS batch_tag,
           CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS version
    -- DISTINCT keys (dup2 census): the upsert sink is keyed — a
    -- replayed batch collapses to ONE row per key
    FROM (SELECT DISTINCT o_orderkey FROM orders)
    """,
)
def sink_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 upsert sink + I4 newer-than guard through ``KeyedTableSink``:
    batch 1 writes every order tagged OLD/v1, batch 2 upserts the
    ``% 3 == 0`` keys as NEW/v2 — the on-disk parquet table must show
    exactly the oracle's CASE split."""
    from dopams_etl_spark.sinks import KeyedTableSink

    o = t(spark, sf_dir, "orders").select("o_orderkey")
    b1 = o.select(
        "o_orderkey", F.lit("OLD").alias("batch_tag"), F.lit(1).alias("version")
    )
    b2 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.lit("NEW").alias("batch_tag"), F.lit(2).alias("version")
    )
    path = tempfile.mkdtemp(prefix="dopams_sink_") + "/orders_tagged"
    sink = KeyedTableSink(spark, path, "o_orderkey", "version")
    sink.upsert(b1)
    sink.upsert(b2)
    return sink.read().select("o_orderkey", "batch_tag", "version")


@register(
    "orc_sink_roundtrip",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           -- CAST DOUBLE first (r14 f32 census): double-lane cents on a
           -- float32-narrowed fixture, identity on the live one
           CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS price_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format breadth beyond parquet: write lineitem to ORC
    (predicate pushdown + column pruning apply the same way), read it
    back, aggregate. The oracle computes from the original parquet — the
    round-trip must be value-lossless, proving the ORC path is a drop-in
    source/sink."""
    path = tempfile.mkdtemp(prefix="dopams_orc_") + "/lineitem"
    t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).write.mode("overwrite").orc(path)
    li = spark.read.orc(path)
    # cast("double") first (r14 f32 census) — see the oracle note
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("l_extendedprice").cast("double") * 100).cast("long")
        ).alias("price_cents"),
    )


@register(
    "text_corpus_ingest",
    r"""
    -- COALESCE(text, ''): the one-doc-per-line .txt landing format has
    -- no NULL representation — a NULL document lands as an empty line
    WITH lines AS (SELECT COALESCE(text, '') AS text FROM documents)
    SELECT md5(text) AS text_md5,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS INT)
             AS n_tokens
    FROM lines
    GROUP BY text
    """,
)
def text_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text corpus ingestion (the commonest LLM-corpus landing format):
    dump documents one-per-line to .txt, re-ingest with ``spark.read.text``,
    and recompute per-distinct-text stats. Line order is not preserved by a
    distributed text read, so the contract is content-keyed (md5 of the
    line), not positional — which is also the honest 100 TB posture."""
    docs = t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="dopams_txt_") + "/corpus"
    docs.select("text").write.mode("overwrite").text(path)
    lines = spark.read.text(path).withColumnRenamed("value", "text")
    from dopams_etl_spark.functions.textfns import token_count

    return lines.groupBy("text").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.first(token_count("text").cast("int")).alias("n_tokens"),
    ).select(F.md5("text").alias("text_md5"), "n_docs", "n_tokens")


_STREAM_SEQ = itertools.count()


@register(
    "streaming_hourly_counts",
    """
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS window_start,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3),
    wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events)
    SELECT window_start, window_end, event_type, n
    FROM agg, wm WHERE window_end <= wm.w
    """,
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming IN the correctness gate: the events table
    replayed through a file-source stream (availableNow — finite,
    deterministic), watermarked 30 min, tumbling 1 h counts, append mode.
    Append emits exactly the windows closed at the final watermark
    (window_end <= max(ts) − 30 min), which the oracle states in SQL — so
    the late-data/eviction semantics themselves are value-checked, not
    just the aggregation. (Boundary caveat: Spark truncates the watermark
    to whole ms; an hour-aligned window end falling inside that same ms
    of max(ts)−30min could differ — probability ~0 on continuous data.)"""
    from dopams_etl_spark.streaming import read_stream_parquet, windowed_event_counts

    ev = t(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="dopams_stream_") + "/events"
    ev.write.parquet(src)
    stream = read_stream_parquet(spark, src, ev.schema)
    counts = windowed_event_counts(
        stream, "ts", "event_type", window="1 hour", watermark="30 minutes"
    )
    name = f"stream_hourly_{next(_STREAM_SEQ)}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


@register(
    "partitioned_scan_prune",
    """
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-03' AND DATE '2024-01-04'
    GROUP BY 1, 2
    """,
)
def partitioned_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruning end-to-end: events re-laid-out hive-partitioned
    by event_date (the layout the gold tables use at scale — one
    directory per day, so a date predicate prunes at the FILE LISTING
    level, before any IO), then a two-day range query over the
    partitioned table. The oracle computes from the raw table, proving
    the partitioned layout is value-lossless; the plan (PLANS.md) shows
    the date predicate as a PartitionFilter with no data filter — at
    100 TB this is the difference between scanning 2 days and 2 years."""
    ev = t(spark, sf_dir, "events").withColumn("event_date", F.col("ts").cast("date"))
    if ev.isEmpty():
        # Empty source (fuzz census): a partitioned write of zero rows
        # creates no partition directories, so the re-read aborts with
        # UNABLE_TO_INFER_SCHEMA — degrade to the typed empty result
        # (xml_source recipe).
        return ev.select(
            "event_date",
            "event_type",
            F.lit(0).cast("long").alias("n"),
            F.lit(None).cast("double").alias("total_value"),
        ).limit(0)
    path = tempfile.mkdtemp(prefix="dopams_part_") + "/events"
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    part = spark.read.parquet(path)
    lo, hi = "2024-01-03", "2024-01-04"
    return (
        part.filter((F.col("event_date") >= lo) & (F.col("event_date") <= hi))
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "streaming_dedup_counts",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
           CAST(COUNT(*) * 2 AS BIGINT) AS n_delivered
    FROM events
    GROUP BY event_type
    """,
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second Structured Streaming query in the value-checked gate:
    at-least-once delivery simulated by replaying the events table TWICE
    through a file-source stream, deduplicated per event_id with
    ``dropDuplicatesWithinWatermark`` (bounded state — keys age out with
    the 10-day watermark instead of accumulating forever), then counted
    per type. The oracle states the contract in SQL: unique counts equal
    COUNT(DISTINCT event_id) over ONE copy while the stream actually saw
    2x deliveries. Which physical duplicate survives is nondeterministic,
    so the gate checks the aggregate — the dedup invariant itself — not
    row identity."""
    from dopams_etl_spark.streaming import read_stream_parquet, stream_dedup

    ev = t(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="dopams_stream_") + "/events"
    ev.write.parquet(src)
    ev.write.mode("append").parquet(src)
    stream = read_stream_parquet(spark, src, ev.schema)
    deduped = stream_dedup(stream, ["event_id"], ts_col="ts", watermark="10 days")
    counts = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))
    name = f"stream_dedup_{next(_STREAM_SEQ)}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table(name)
    delivered = ev.groupBy(
        F.col("event_type").alias("d_type")
    ).agg((F.count(F.lit(1)) * 2).alias("n_delivered"))
    # null-safe join: the NULL-event-type group is a real group on both
    # engines; a bare equi-join would silently drop it
    return out.join(
        delivered, out["event_type"].eqNullSafe(delivered["d_type"])
    ).select(
        "event_type",
        F.col("n_unique").cast("long").alias("n_unique"),
        F.col("n_delivered").cast("long").alias("n_delivered"),
    )


@register(
    "streaming_user_sessions",
    """
    -- ts IS NOT NULL (r14 nullhalf census): the shared null-ts
    -- convention — an event with no time has no session position
    WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
               FROM events WHERE ts IS NOT NULL),
    g AS (SELECT user_id, s,
                 CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800
                      THEN 1 ELSE 0 END AS ns
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s)),
    sess AS (SELECT user_id, s,
                    SUM(ns) OVER (PARTITION BY user_id ORDER BY s
                                  ROWS UNBOUNDED PRECEDING) AS sn
             FROM g),
    agg AS (SELECT user_id, sn, MIN(s) AS start_s, MAX(s) AS end_s,
                   CAST(COUNT(*) AS INT) AS n_events
            FROM sess GROUP BY user_id, sn),
    mx AS (SELECT user_id, MAX(sn) AS last_sn FROM agg GROUP BY user_id)
    SELECT agg.user_id, start_s, end_s, n_events
    FROM agg JOIN mx ON mx.user_id = agg.user_id
    WHERE agg.sn < mx.last_sn
    """,
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator in the value-checked gate:
    ``applyInPandasWithState`` gap sessionization (30-min inactivity)
    over the events stream. The operator emits only CLOSED sessions —
    each user's final open session stays in the state store because a
    live stream may still extend it — and the oracle states exactly that
    contract in SQL (every session except the per-user last). The replay
    is written as ONE file so availableNow folds it as one ordered
    micro-batch; multi-batch state carry-over is covered separately in
    tests/test_streaming.py. Second-truncated epochs on both sides (the
    state schema stores whole seconds)."""
    from dopams_etl_spark.streaming import read_stream_parquet, stateful_sessionize

    ev = t(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="dopams_stream_") + "/events"
    ev.coalesce(1).write.parquet(src)
    stream = read_stream_parquet(spark, src, ev.schema)
    sessions = stateful_sessionize(stream, "user_id", "ts", gap_seconds=1800)
    name = f"stream_sessions_{next(_STREAM_SEQ)}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).select(
        "user_id",
        F.col("session_start").cast("long").alias("start_s"),
        F.col("session_end").cast("long").alias("end_s"),
        F.col("n_events").cast("int").alias("n_events"),
    )


@register(
    "csv_badrecord_quarantine",
    """
    SELECT 'clean' AS status, CAST(n_regionkey AS INT) AS region,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nation WHERE n_nationkey % 5 <> 0
    GROUP BY n_regionkey
    UNION ALL
    SELECT 'quarantined' AS status, -1 AS region, CAST(COUNT(*) AS BIGINT) AS n
    FROM nation WHERE n_nationkey % 5 = 0
    """,
)
def csv_badrecord_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-robustness (P6/I5 family at the FILE boundary): a CSV landing
    file with deterministically corrupted rows (every ``% 5 == 0`` key gets
    a non-numeric id) is read PERMISSIVE with a corrupt-record column;
    malformed rows route to a quarantine count, clean rows aggregate per
    region — the reference's reject-and-retry semantics applied to file
    ingest instead of FK validation. The parsed frame is persisted before
    the corrupt-column filter (Spark forbids filtering a lazily-parsed
    corrupt column alone); at scale that one cached pass replaces two
    re-parses of the raw file."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    nat = t(spark, sf_dir, "nation")
    # NULL fields land as EMPTY csv fields (coalesce ''): concat_ws would
    # silently drop the field and shift every later column one slot left
    name_f = F.coalesce(F.col("n_name"), F.lit(""))
    region_f = F.coalesce(F.col("n_regionkey").cast("string"), F.lit(""))
    line = F.when(
        F.col("n_nationkey") % 5 == 0,
        F.concat_ws(",", F.concat(F.lit("BAD_"), F.col("n_nationkey").cast("string")),
                    name_f, region_f),
    ).otherwise(
        F.concat_ws(",", F.col("n_nationkey").cast("string"), name_f, region_f)
    )
    path = tempfile.mkdtemp(prefix="dopams_badcsv_") + "/nation"
    nat.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
            StructField("_bad", StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
        .persist()
    )
    clean = (
        raw.filter(F.col("_bad").isNull())
        .groupBy(F.col("n_regionkey").cast("int").alias("region"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("clean").alias("status"), "region", "n")
    )
    quarantined = raw.filter(F.col("_bad").isNotNull()).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("quarantined").alias("status"), F.lit(-1).alias("region"), "n")
    return clean.unionByName(quarantined)


@register(
    "schema_evolution_roundtrip",
    """
    SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey % 2 = 0 THEN 'batch2' ELSE NULL END AS batch_tag,
           CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey ELSE NULL END AS region_copy
    FROM nation
    """,
)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader-side schema evolution (SURVEY §1.3: the reference ALTERs
    columns in at runtime, ``etl_crimes.py:231–244``; the Spark analog is
    parquet schema union): batch 1 lands (key, name), batch 2 lands the
    WIDENED schema (key, name, batch_tag, region_copy); a ``mergeSchema``
    read unions the footers so old rows surface the new columns as NULL —
    no rewrite of already-landed data, which at 100 TB is the difference
    between a metadata operation and re-writing the lake."""
    nat = t(spark, sf_dir, "nation")
    path = tempfile.mkdtemp(prefix="dopams_evolve_") + "/nation"
    nat.filter(F.col("n_nationkey") % 2 == 1).select("n_nationkey", "n_name").write.mode(
        "overwrite"
    ).parquet(path)
    nat.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey",
        "n_name",
        F.lit("batch2").alias("batch_tag"),
        F.col("n_regionkey").alias("region_copy"),
    ).write.mode("append").parquet(path)
    evolved = spark.read.option("mergeSchema", "true").parquet(path)
    return evolved.select("n_nationkey", "n_name", "batch_tag", "region_copy")


@register(
    "streaming_view_purchase_join",
    """
    SELECT v.user_id,
           v.event_id AS l_event_id,
           p.event_id AS r_event_id,
           CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_sec
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def streaming_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join in the value-checked gate: the view and
    purchase event streams join per user within a 1-hour attribution
    window, both sides watermarked so the interval predicate BOUNDS the
    buffered state (left rows age out at right-watermark − gap). With
    availableNow the emitted pair set equals the batch interval join the
    oracle states in SQL — the state-eviction machinery runs, the final
    answer is exact."""
    from dopams_etl_spark.streaming import (
        read_stream_parquet,
        stream_stream_interval_join,
    )

    ev = t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="dopams_stream_")
    views_path, buys_path = base + "/views", base + "/buys"
    ev.filter(F.col("event_type") == "view").write.parquet(views_path)
    ev.filter(F.col("event_type") == "purchase").write.parquet(buys_path)
    views = read_stream_parquet(spark, views_path, ev.schema)
    buys = read_stream_parquet(spark, buys_path, ev.schema)
    joined = stream_stream_interval_join(
        views, buys, "user_id", "ts", max_gap="1 hour", watermark="2 hours"
    )
    name = f"stream_ssj_{next(_STREAM_SEQ)}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).select(
        "user_id",
        "l_event_id",
        "r_event_id",
        (F.col("r_ts").cast("long") - F.col("l_ts").cast("long")).alias("gap_sec"),
    )


@register(
    "lineitem_quality_report",
    """
    -- COALESCE(..., 0): an empty table has ZERO violations (rules
    -- vacuously pass) instead of NULL sums - same convention engine-side
    WITH t AS (SELECT COUNT(*) AS total,
                      COALESCE(SUM(CASE WHEN l_orderkey IS NULL
                                        THEN 1 ELSE 0 END), 0) AS v_nn,
                      COALESCE(SUM(CASE WHEN l_quantity IS NULL
                                          OR l_quantity < 1
                                          OR l_quantity > 50
                                        THEN 1 ELSE 0 END), 0) AS v_rng,
                      COALESCE(SUM(CASE WHEN l_returnflag IS NULL
                                          OR l_returnflag NOT IN ('A','N','R')
                                        THEN 1 ELSE 0 END), 0) AS v_set,
                      COALESCE(SUM(CASE WHEN l_linestatus IS NULL
                                          OR NOT regexp_full_match(l_linestatus,
                                                                   '[OF]')
                                        THEN 1 ELSE 0 END), 0) AS v_re,
                      COUNT(DISTINCT l_orderkey) AS d_ok
               FROM lineitem)
    SELECT * FROM (
      SELECT 'not_null' AS rule, 'l_orderkey' AS "column",
             CAST(v_nn AS BIGINT) AS violations, v_nn = 0 AS pass FROM t
      UNION ALL
      SELECT 'range', 'l_quantity', CAST(v_rng AS BIGINT), v_rng = 0 FROM t
      UNION ALL
      SELECT 'in_set', 'l_returnflag', CAST(v_set AS BIGINT), v_set = 0 FROM t
      UNION ALL
      SELECT 'matches', 'l_linestatus', CAST(v_re AS BIGINT), v_re = 0 FROM t
      UNION ALL
      SELECT 'unique', 'l_orderkey', CAST(total - d_ok AS BIGINT),
             total - d_ok = 0 FROM t)
    """,
)
def lineitem_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract (`operators/expectations.py` —
    the generic form of the reference's scattered validation layer): five
    rules over lineitem evaluated in ONE aggregate pass (uniqueness rides
    the same pass via count-distinct). The deliberately-failing rules
    (l_orderkey repeats across lineitems; quantities run 1–50) prove the
    report actually counts violations rather than rubber-stamping — the
    oracle states every rule as SQL and the counts must agree exactly."""
    from dopams_etl_spark.operators.expectations import expect

    li = t(spark, sf_dir, "lineitem")
    return expect(
        li,
        [
            ("not_null", "l_orderkey"),
            ("range", "l_quantity", 1, 50),
            ("in_set", "l_returnflag", ("A", "N", "R")),
            ("matches", "l_linestatus", "[OF]"),
            ("unique", "l_orderkey"),
        ],
    )


@register(
    "udtf_doc_chunks",
    r"""
    WITH tk AS (SELECT doc_id,
                       CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(trim(text), '\s+') END AS toks
                FROM documents),
    c AS (SELECT doc_id, i AS chunk_idx,
                 array_to_string(toks[i*50+1 : i*50+50], ' ') AS chunk
          FROM tk, LATERAL (SELECT unnest(range(0, CAST(ceil(len(toks) / 50.0) AS INT))) AS i)
          WHERE len(toks) > 0)
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk FROM c
    """,
)
def udtf_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 as a literal Spark 4 Python UDTF: a table function registered
    in the SQL catalog and applied with LATERAL — the same registration
    surface as the reference's plpgsql table functions
    (``DB-schema.sql:377–503``). One row in → one row per 50-token chunk
    out. The builtin-expression chunker (``doc_chunks``, posexplode over
    slice) remains the hot path — a Python UDTF pays per-row Python
    transfer and exists here for API-surface parity, exactly like the
    reference's table functions exist beside its views."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk string")
    class SplitWords:
        def eval(self, text: str, size: int):
            words = (text or "").split()
            for i in range(0, len(words), size):
                yield i // size, " ".join(words[i : i + size])

    spark.udtf.register("split_words", SplitWords)
    t(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT doc_id, s.chunk_idx, s.chunk "
        "FROM __udtf_docs, LATERAL split_words(text, 50) s"
    )


@register(
    "cdc_orders_snapshot",
    """
    -- CAST DOUBLE (r14 f32 census): DuckDB's ROUND(FLOAT, 2) stays on
    -- the float32 grid (nearest f32 to x.03 can be x.03125) where
    -- Spark rounds the promoted double
    WITH latest AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'D'
                  WHEN o_orderkey % 7 = 0 THEN 'U' END AS op,
             CAST(o_totalprice AS DOUBLE) + 10 AS new_price
      FROM orders WHERE o_orderkey % 11 = 0 OR o_orderkey % 7 = 0),
    ins AS (SELECT o_orderkey + 20000000 AS o_orderkey, 'I' AS op,
                   CAST(o_totalprice AS DOUBLE) AS new_price
            FROM orders WHERE o_orderkey % 13 = 0)
    SELECT o_orderkey, ROUND(CAST(o_totalprice AS DOUBLE), 2) AS price
    FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
      AND o_orderkey NOT IN (SELECT o_orderkey FROM ins)
    UNION ALL
    -- DISTINCT (dup2 census): a changed key is replaced WHOLESALE by
    -- its single highest-seq change row — replayed identical changelog
    -- rows collapse (unchanged base rows above keep their multiplicity)
    SELECT DISTINCT o_orderkey, ROUND(new_price, 2) FROM latest WHERE op = 'U'
    UNION ALL
    SELECT DISTINCT o_orderkey, ROUND(new_price, 2) FROM ins
    """,
)
def cdc_orders_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (`operators/merge.py:apply_changelog`): a
    deterministic changelog — %11 keys deleted (tombstones), %7 keys
    price-bumped (two U versions so the seq ordering matters: seq 1
    bumps +5, seq 2 bumps +10, only the +10 may survive), %13 keys
    re-inserted under shifted ids — folds over the orders base into the
    current snapshot. The oracle states the fold's fixpoint directly in
    SQL; a stale-version survivor or an undeleted tombstone breaks the
    value hash."""
    from dopams_etl_spark.operators.merge import apply_changelog

    # cast("double") first (r14 f32 census) — see the oracle note
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice").cast("double"), 2).alias("price"),
    )
    k = F.col("o_orderkey")
    # The synthetic changelog's four branches (2 update versions, the
    # tombstones, the shifted re-inserts) come out of ONE pass: each row
    # emits a conditional array of change structs, exploded and
    # null-filtered — a UNION of four filtered branches would re-scan
    # the base table per branch (9 scans total in the executed plan; a
    # production changelog is a separate small input, but the fixture
    # shouldn't model a 9× base read either).
    ch = F.array(
        F.when(
            (k % 7 == 0) & ~(k % 11 == 0),
            F.struct(k.alias("o_orderkey"), (F.col("price") + 5).alias("price"),
                     F.lit(1).alias("seq"), F.lit("U").alias("op")),
        ),
        F.when(
            (k % 7 == 0) & ~(k % 11 == 0),
            F.struct(k.alias("o_orderkey"), (F.col("price") + 10).alias("price"),
                     F.lit(2).alias("seq"), F.lit("U").alias("op")),
        ),
        F.when(
            k % 11 == 0,
            F.struct(k.alias("o_orderkey"),
                     F.lit(None).cast("double").alias("price"),
                     F.lit(1).alias("seq"), F.lit("D").alias("op")),
        ),
        F.when(
            k % 13 == 0,
            F.struct((k + 20000000).alias("o_orderkey"),
                     F.col("price").alias("price"),
                     F.lit(1).alias("seq"), F.lit("I").alias("op")),
        ),
    )
    changes = (
        o.select(F.explode(ch).alias("c"))
        .filter(F.col("c").isNotNull())
        .select("c.o_orderkey", "c.price", "c.seq", "c.op")
    )
    snap = apply_changelog(o, changes, "o_orderkey", "seq", "op")
    return snap.select("o_orderkey", F.round("price", 2).alias("price"))


@register(
    "xml_source_roundtrip",
    """
    SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source (built into Spark 4 — no spark-xml package):
    the nation dim is dumped as <row> elements, re-ingested with
    ``spark.read.format("xml")``, and joined back to region — values
    must survive the round-trip exactly. The XML reader infers element
    types and orders fields alphabetically, so the query re-casts and
    re-projects explicitly, which is also the honest posture for real
    XML feeds (EDI/regulatory exports — the one source family the
    reference's JSON/CSV loaders don't cover)."""
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region")
    if nat.isEmpty():
        # Empty source (fuzz census r13): the XML reader has no rows to
        # infer a schema from and aborts with UNABLE_TO_INFER_SCHEMA —
        # degrade to the typed empty result the join would produce.
        return (
            nat.select(
                F.col("n_nationkey").cast("int"),
                F.col("n_name").cast("string"),
                F.lit(None).cast("string").alias("region_name"),
            ).limit(0)
        )
    path = tempfile.mkdtemp(prefix="dopams_xml_") + "/nation"
    nat.write.format("xml").option("rootTag", "nations").option("rowTag", "row").mode(
        "overwrite"
    ).save(path)
    back = spark.read.format("xml").option("rowTag", "row").load(path)
    return (
        back.select(
            F.col("n_nationkey").cast("int"),
            F.col("n_name").cast("string"),
            F.col("n_regionkey").cast("int"),
        )
        .join(F.broadcast(reg), F.col("n_regionkey") == reg["r_regionkey"])
        .select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))
    )


@register(
    "streaming_session_window_counts",
    """
    -- ts IS NOT NULL (r13 nullhalf census): Spark's event-time
    -- session_window DROPS rows with a NULL event time; without the
    -- mirror filter DuckDB's lag-over-NULLS-LAST glues them onto the
    -- last session and inflates its count
    WITH s AS (SELECT user_id, ts,
                      CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)) >= 600
                           THEN 1 ELSE 0 END AS ni
               FROM events WHERE ts IS NOT NULL),
    g AS (SELECT user_id, ts,
                 SUM(ni) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
          FROM s),
    sess AS (SELECT user_id,
                    MIN(ts) AS session_start,
                    MAX(ts) + INTERVAL 10 MINUTE AS session_end,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM g GROUP BY user_id, island),
    wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events)
    SELECT CAST(floor(epoch(session_start)) AS BIGINT) AS start_epoch,
           CAST(floor(epoch(session_end)) AS BIGINT) AS end_epoch,
           user_id, n
    FROM sess, wm WHERE session_end <= wm.w
    """,
)
def streaming_session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session windows in the streaming value gate:
    ``session_window(ts, '10 minutes')`` merges a user's events whose
    windows overlap, state closes when the 30-min watermark passes a
    session's end — the declarative complement of user_sessions'
    applyInPandasWithState custom operator (same sessionization answer,
    zero custom state code; the engine manages store, eviction, and
    merge). Append mode emits exactly the sessions with
    session_end <= max(ts) − 30 min, which the oracle states in SQL over
    the batch gap-and-island computation — late-data semantics
    value-checked, not just the counts. (Same whole-ms watermark
    boundary caveat as streaming_hourly_counts.)"""
    from dopams_etl_spark.streaming import read_stream_parquet

    # ts non-null made explicit (r13 nullhalf census): event-time
    # session windows drop null-ts rows anyway - see the oracle note
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    src = tempfile.mkdtemp(prefix="dopams_sessw_") + "/events"
    ev.write.parquet(src)
    stream = read_stream_parquet(spark, src, ev.schema)
    sessions = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"stream_sessw_{next(_STREAM_SEQ)}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).select(
        F.col("session_window.start").cast("long").alias("start_epoch"),
        F.col("session_window.end").cast("long").alias("end_epoch"),
        "user_id",
        "n",
    )
