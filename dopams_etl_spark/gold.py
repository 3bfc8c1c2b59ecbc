"""Gold-table materialization + table-function surface (S13, §2.10 UDTFs).

The reference refreshes five materialized views per pipeline run
(``etl_refresh_views/views_refresh_sql.py:1–81``); here each MV is a
registered DataFrame pipeline and "refresh" = recompute + overwrite the
gold parquet. The plpgsql table functions
(``DB-schema.sql:377–503``: get_accused_crime_history,
get_person_crime_history, search_person_by_name) become Python functions
returning DataFrames over the gold tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dopams_etl_spark.catalog import hadoop_fs_path, open_parquet
from dopams_etl_spark.sinks import publish_parquet, restore_retired

GOLD_PIPELINES = (
    "firs_mv",
    "accuseds_mv",
    "criminal_profiles_mv",
    "advanced_search_firs",
    "advanced_search_accuseds",
)

# Year partitioning on the crime-dated tables: the dominant analytical
# filter is a date/year range, so partition pruning skips whole years of
# files — at 100 TB that is the difference between scanning a partition
# and scanning the table. Profile tables have no natural time key.
GOLD_PARTITIONING: dict[str, tuple[str, ...]] = {
    "firs_mv": ("fir_year",),
    "accuseds_mv": ("fir_year",),
}


def refresh_gold(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    names: tuple[str, ...] = GOLD_PIPELINES,
) -> dict[str, int]:
    """S13: recompute each gold pipeline and replace its parquet table
    (partitioned per ``GOLD_PARTITIONING``) through ``sinks.publish_parquet``,
    so a failed write leaves the previous table readable. Returns name →
    row count (the reference's refresh logging analog), in ``names``
    order. Duplicate names collapse (the master dedups repeated refresh
    steps).

    The MVs refresh concurrently, one pool thread each: the thread builds
    the MV's plan and runs its observed, partitioned write, so neither the
    builds nor the writes wait for one another. AQE coalesces an MV's late
    stages to a task or two, so one MV at a time leaves most cores idle.
    The pool threads run with ``spark`` as the active session and inherit
    the caller's job group, description and tags (``session.thread_target``).
    Each name is looked up on the calling thread, so an unknown name raises
    ``KeyError`` once the writes submitted before it have finished. The
    call returns, or raises the first failure in ``names`` order, only once
    every submitted refresh has finished, so a retry never races a
    still-running write."""
    from concurrent.futures import ThreadPoolExecutor

    from dopams_etl_spark.plans import catalog
    from dopams_etl_spark.session import thread_target

    qs = catalog.queries()
    distinct = list(dict.fromkeys(names))
    refreshes = {}
    with ThreadPoolExecutor(max_workers=max(len(distinct), 1)) as pool:
        for name in distinct:
            build = qs[name]
            refreshes[name] = pool.submit(thread_target(spark, _refresh_one), spark, name, build,
                                          sf_dir, f"{out_dir}/{name}")
    return {name: fut.result() for name, fut in refreshes.items()}


def _refresh_one(spark: SparkSession, name: str, build, sf_dir: str, path: str) -> int:
    from pyspark.sql import Observation

    # Row count comes from an Observation piggybacked on the write job —
    # ONE pass per MV instead of write + re-read + count.
    obs = Observation(f"gold_refresh_{name}")
    writer = build(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows")).write
    parts = GOLD_PARTITIONING.get(name)
    if parts:
        writer = writer.partitionBy(*parts)
    publish_parquet(spark, writer, path)
    return obs.get["rows"]


def load_gold(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    """The gold table ``name`` under ``out_dir``, opened once per session
    (``catalog.open_parquet``: a refresh, here or in another process, is
    seen by the next call)."""
    return open_parquet(spark, f"{out_dir}/{name}")


def get_accused_crime_history(spark: SparkSession, out_dir: str, person_id: int) -> DataFrame:
    """UDTF analog of ``get_accused_crime_history(id)``
    (``DB-schema.sql:377–420``): every crime row for one person, latest
    first (undated rows last), in one partition."""
    return _sorted_lookup(
        load_gold(spark, out_dir, "accuseds_mv").filter(
            F.col("accused_id").endswith(f":{person_id}")
        ),
        F.col("fir_date").desc(),
        F.col("crime_id").asc(),
    )


def get_person_crime_history(spark: SparkSession, out_dir: str, person_id: int) -> DataFrame:
    """UDTF analog of ``get_person_crime_history(id)``: the profile row plus
    per-crime detail."""
    profile = load_gold(spark, out_dir, "criminal_profiles_mv").filter(
        F.col("person_id") == person_id
    )
    return profile


def search_person_by_name(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    """UDTF analog of ``search_person_by_name(name)``
    (``DB-schema.sql:461–503``): case-insensitive containment, ordered by
    crime count descending, in one partition."""
    return _sorted_lookup(
        load_gold(spark, out_dir, "criminal_profiles_mv").filter(
            F.lower(F.col("person_name")).contains(name.lower())
        ),
        F.col("crime_count").desc(),
        F.col("person_id").asc(),
    )


def _sorted_lookup(matches: DataFrame, *keys) -> DataFrame:
    """Total order over a lookup's few matching rows in one partition. An
    ``orderBy`` would range-partition them, and sampling the range bounds
    costs a second job that scans and filters the gold table again; here
    the scan and filter stay parallel and only the matches are shuffled,
    into the single partition the caller collects anyway."""
    return matches.repartition(1).sortWithinPartitions(*keys)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: tuple[str, ...] = (),
) -> dict[str, int]:
    """Small-files compaction — the maintenance pass every incrementally
    refreshed table needs at scale (each refresh/upsert leaves one file
    per task; a year of dailies is thousands of KB-files whose open/footer
    cost dominates scans). Rewrites the table with files sized toward
    ``target_file_bytes`` using ``maxRecordsPerFile`` derived from the
    measured bytes-per-row (no fixed repartition count to outgrow — the
    writer splits per file, and ``partition_cols`` are preserved so
    pruning still works). Staged rewrite (``sinks.publish_parquet``)
    through the Hadoop FS API, so a failed or killed compaction never
    loses the table, on local disk, HDFS or S3 alike — the parquet analog
    of the reference's transactional refresh.

    Returns {"files_before", "files_after", "rows"}.
    """
    path = path.rstrip("/")
    restore_retired(spark, path)
    df = open_parquet(spark, path)
    rows = df.count()
    before, size_bytes = _parquet_files(spark, path)
    per_row = max(size_bytes / max(rows, 1), 1.0)
    max_records = max(int(target_file_bytes / per_row), 1)
    writer = (
        df.coalesce(max(1, min(32, int(size_bytes / target_file_bytes) + 1)))
        .write.option("maxRecordsPerFile", max_records)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    publish_parquet(spark, writer, path)
    return {"files_before": before, "files_after": _parquet_files(spark, path)[0], "rows": rows}


def _parquet_files(spark: SparkSession, path: str) -> tuple[int, int]:
    """(count, total bytes) of the parquet files under ``path``. Walks
    ``listStatus``, not ``listFiles``: each ``LocatedFileStatus`` that
    ``listFiles`` returns loads its file's permission, which on the local
    file system without Hadoop native IO spawns one ``ls -ld`` per file."""
    fs, root = hadoop_fs_path(spark, path)
    count = size = 0
    dirs = [root]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            if st.isDirectory():
                dirs.append(st.getPath())
            elif st.getPath().getName().endswith(".parquet"):
                count += 1
                size += st.getLen()
    return count, size
