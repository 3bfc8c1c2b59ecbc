"""Table catalog over the parquet test tables (TESTDATA.md).

The reference keeps a fixed DDL catalog in PostgreSQL (``DB-schema.sql``)
with runtime schema evolution via ``ALTER TABLE ADD COLUMN``
(``etl-crimes/etl_crimes.py:231–244``). Here the catalog is a thin typed
layer over parquet: Spark's parquet reader already gives column pruning and
predicate pushdown; schema evolution is reader-side schema union
(``mergeSchema``) plus a JSON-overflow column convention (see
``functions.cleaning.with_json_overflow``).
"""

from __future__ import annotations

import os
import threading
import weakref
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dopams_etl_spark.partitioning import _NPART_CACHE

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# TPC-H-ish star schema + event stream + text/embedding corpora.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# session -> {(sf_dir, table): DataFrame}. ``spark.read.parquet`` does a
# file listing + footer/schema read EVERY call (~70 ms per table); across
# a 247-query catalog that re-reads identical metadata thousands of
# times. DataFrames are immutable lazy plans, so handing back the same
# object is semantically identical — this is the parquet analog of a
# metastore's cached table definition. Keyed WEAKLY by the SparkSession
# object itself: a ``newSession()`` (same applicationId, different conf)
# gets its own entries, and a collected session's plans evict with it.
# The cached plan snapshots the file listing at first read, so whatever
# replaces a table's files must drop its entries with ``forget_path``, as
# the library's writers do (``sinks.publish_parquet``, under
# ``KeyedTableSink.upsert`` and ``gold``'s refresh and compaction).
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
# Guards iterating _TABLE_CACHE against a session added concurrently:
# ``forget_path`` runs on ``gold.refresh_gold``'s pool threads.
_TABLE_CACHE_LOCK = threading.Lock()
# (sf_dir, table) -> lock held while that table is read, so threads that
# miss the memo together read it once: ``gold.refresh_gold`` builds its
# MVs concurrently, and they read the same tables. Shared by all sessions;
# at worst two sessions' first reads of one table run one after the other.
_READ_LOCKS: dict[tuple[str, str], threading.Lock] = {}


def _norm_path(path: str) -> str:
    # ``file:///x`` and ``file:/x`` name the local path ``/x``: one spelling
    # for both, so a writer's ``forget_path`` drops a read made under either.
    if path.startswith("file:"):
        path = urlparse(path).path
    return path.rstrip("/") if "://" in path else os.path.abspath(path)


def forget_path(path: str) -> None:
    """Drop every session's memoized ``load_table`` read of ``path`` and
    the partition-probe memo (which cannot tell which entries read
    ``path``); call after replacing the files under it. Safe to call from
    several threads at once, and alongside ``load_table``."""
    _NPART_CACHE.clear()
    target = _norm_path(path)
    with _TABLE_CACHE_LOCK:
        sessions = list(_TABLE_CACHE.values())
    for per_session in sessions:
        for sf_dir, name in list(per_session):
            if _norm_path(f"{sf_dir}/{name}.parquet") == target:
                per_session.pop((sf_dir, name), None)


def load_table(
    spark: SparkSession,
    name: str,
    sf_dir: str = DEFAULT_SF_DIR,
) -> DataFrame:
    """Read one catalog table (memoized per session — see _TABLE_CACHE;
    the cached plan pins its first file listing, so a writer replacing
    the table's files calls ``forget_path``). Callers that miss the memo
    at once wait for one read and share its frame.

    No ``mergeSchema`` — the testdata schemas are fixed, and footer merging
    costs a full file listing + footer read per query. Schema evolution is
    opt-in at the ingest layer, not ambient on every scan.

    ``events.ts`` is TIMESTAMP(NANOS) parquet. Depending on the Spark
    build/conf it scans as long nanos (``nanosAsLong``), TIMESTAMP_NTZ
    (native nanos→ntz read, this build), or TIMESTAMP. All three are
    normalized here to session-zoned TIMESTAMP — NTZ breaks
    ``withWatermark`` (requires LTZ) and ``cast(ts as bigint)``, and
    leaving the type session-dependent would make every downstream
    operator re-handle it. The harness runs UTC, where NTZ→LTZ is
    value-identical to DuckDB's naive ns→us read of the same file.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    key = (sf_dir, name)
    with _TABLE_CACHE_LOCK:
        per_session = _TABLE_CACHE.setdefault(spark, {})
        read_lock = _READ_LOCKS.setdefault(key, threading.Lock())
    cached = per_session.get(key)
    if cached is not None:
        return cached
    with read_lock:
        cached = per_session.get(key)
        if cached is None:
            cached = per_session[key] = _read_table(spark, name, sf_dir)
    return cached


def _read_table(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    if name == "events":
        # Harmless where the native ntz read applies; required on builds
        # where the TIMESTAMP(NANOS) scan would otherwise raise
        # PARQUET_TYPE_ILLEGAL. Runtime-settable, so this works on ANY
        # caller-provided session (the driver builds its own).
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # Note: the testdata files are single-row-group parquet → 1-partition
    # scans. Blanket repartition here measured as a net LOSS for the
    # relational queries (shuffling raw rows costs more than the map side
    # saves when per-row work is cheap); only the per-row-expensive
    # text/vector operators repartition, via partitioning.ensure_parallelism.
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so ``spark.sql`` works directly.

    The tables are read concurrently, one thread per table: each uncached
    ``load_table`` runs one Spark job (the footer read for the schema), and
    run back to back those jobs leave all but one core idle. The reads run
    with ``spark`` as the active session and carry the caller's job group,
    description and tags (``session.thread_target``). The views are
    registered in ``TABLES`` order once every read has finished; if a read
    fails, the views of the tables before it are registered and its error
    is raised. The reads are memoized like any ``load_table``, so a second
    call on the same session starts no Spark job."""
    from concurrent.futures import ThreadPoolExecutor

    from dopams_etl_spark.session import thread_target

    with ThreadPoolExecutor(max_workers=len(TABLES)) as pool:
        reads = [pool.submit(thread_target(spark, load_table), spark, t, sf_dir) for t in TABLES]
    for t, read in zip(TABLES, reads):
        read.result().createOrReplaceTempView(t)
