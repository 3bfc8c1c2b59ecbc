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

# session -> {normalized path: _Opened}: every parquet table the library
# reads, opened once per session. ``spark.read.parquet`` lists the files,
# discovers partitions and runs a footer-read job for the schema EVERY
# call (~30–70 ms per table), and across a query catalog or a stream of
# gold lookups that re-derives identical metadata over and over.
# DataFrames are immutable lazy plans, so handing back the same object is
# semantically identical — the parquet analog of a metastore's cached
# table definition. Keyed WEAKLY by the SparkSession object itself: a
# ``newSession()`` (same applicationId, different conf) gets its own
# entries, and a collected session's plans evict with it.
_OPENED: "weakref.WeakKeyDictionary[SparkSession, dict[str, _Opened]]" = (
    weakref.WeakKeyDictionary()
)
# Guards _OPENED against a session or entry added concurrently:
# ``forget_path`` runs on ``gold.refresh_gold``'s pool threads.
_OPENED_LOCK = threading.Lock()


class _Opened:
    """One open table: its frame, and the modification time of its root
    path when it was opened. ``lock`` is held while the table is read, so
    threads that miss together read it once (``gold.refresh_gold`` builds
    its MVs concurrently, and they read the same tables); it lives and
    goes with the entry."""

    __slots__ = ("lock", "frame", "mtime", "root")

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.frame: DataFrame | None = None
        self.mtime: int | None = None
        self.root = None  # (FileSystem, Path) of the table's path


def _norm_path(path: str) -> str:
    # ``file:///x`` and ``file:/x`` name the local path ``/x``: one spelling
    # for both, so a writer's ``forget_path`` drops a read made under either.
    if path.startswith("file:"):
        path = urlparse(path).path
    return path.rstrip("/") if "://" in path else os.path.abspath(path)


def hadoop_fs_path(spark: SparkSession, p: str):
    """(FileSystem, Path) for ``p`` under the session's Hadoop conf."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(p)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def forget_path(path: str) -> None:
    """Drop every session's open table at ``path`` and the partition-probe
    memo (which cannot tell which entries read ``path``); call after
    replacing the files under it. Safe to call from several threads at
    once, and alongside ``open_parquet``."""
    _NPART_CACHE.clear()
    key = _norm_path(path)
    with _OPENED_LOCK:
        for per_session in _OPENED.values():
            per_session.pop(key, None)


def _mtime(entry: _Opened) -> int | None:
    fs, hpath = entry.root
    try:
        return fs.getFileStatus(hpath).getModificationTime()
    except Exception:  # gone or unreadable: a change, for the caller
        return None


def open_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, opened once per session and path
    (``file:`` URIs and local spellings of one path are one table).
    Callers that miss at once wait for one read and share its frame.

    The frame pins the file listing made at open. The library's writers
    drop it with ``forget_path`` (``sinks.publish_parquet``, under
    ``KeyedTableSink.upsert`` and ``gold``'s refresh and compaction). A
    table replaced by anything else, such as another process's refresh,
    is caught on the next call: each hit compares the root path's
    modification time with the one read at open, and a different one (or
    a vanished path) drops the entry through ``forget_path`` and opens the
    path again, so a deleted table raises as an uncached read does. The
    check sees what changes the root's own entry: a rewritten file, or a
    directory whose children were added, removed or renamed (every Spark
    write commits through ``_temporary`` and ``_SUCCESS`` there). It does
    not see a foreign writer adding files inside a partition subdirectory
    alone, nor a replacement that keeps the time to the file system's
    resolution (milliseconds on local disk and HDFS). Where the file
    system reports no modification time (0, as S3A does for directories),
    only ``forget_path`` invalidates.

    A path named ``events.parquet`` is the catalog's events table and
    opens with its ``ts`` normalized (see ``load_table``), whoever opens
    it, so one path never has two frames."""
    key = _norm_path(path)
    with _OPENED_LOCK:
        entry = _OPENED.setdefault(spark, {}).setdefault(key, _Opened())
    if entry.frame is None:
        with entry.lock:
            if entry.frame is None:
                entry.root = hadoop_fs_path(spark, path)
                entry.mtime = _mtime(entry)
                entry.frame = _read_parquet(spark, path)
            return entry.frame
    if entry.mtime == 0 or _mtime(entry) == entry.mtime:
        return entry.frame
    forget_path(path)
    return open_parquet(spark, path)


def load_table(
    spark: SparkSession,
    name: str,
    sf_dir: str = DEFAULT_SF_DIR,
) -> DataFrame:
    """Read one catalog table, ``<sf_dir>/<name>.parquet``, through
    ``open_parquet`` (once per session, re-opened when its files change).

    No ``mergeSchema`` — the testdata schemas are fixed, and footer merging
    costs a full file listing + footer read per query. Schema evolution is
    opt-in at the ingest layer, not ambient on every scan.

    ``events.ts`` is TIMESTAMP(NANOS) parquet. Depending on the Spark
    build/conf it scans as long nanos (``nanosAsLong``), TIMESTAMP_NTZ
    (native nanos→ntz read, this build), or TIMESTAMP. All three are
    normalized to session-zoned TIMESTAMP — NTZ breaks
    ``withWatermark`` (requires LTZ) and ``cast(ts as bigint)``, and
    leaving the type session-dependent would make every downstream
    operator re-handle it. The harness runs UTC, where NTZ→LTZ is
    value-identical to DuckDB's naive ns→us read of the same file.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    return open_parquet(spark, f"{sf_dir}/{name}.parquet")


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    events = os.path.basename(_norm_path(path)) == "events.parquet"
    if events:
        # Harmless where the native ntz read applies; required on builds
        # where the TIMESTAMP(NANOS) scan would otherwise raise
        # PARQUET_TYPE_ILLEGAL. Runtime-settable, so this works on ANY
        # caller-provided session (the driver builds its own).
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(path)
    if events:
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
