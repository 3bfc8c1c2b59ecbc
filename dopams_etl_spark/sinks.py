"""Keyed-table sink: a latest-wins merge, written as parquet through a
staged directory swap.

The reference's sinks are change-detecting ``INSERT ... ON CONFLICT``
upserts (``etl-crimes/etl_crimes.py:654–789``). Here every upsert is one
path: ``upsert_latest_wins`` of the incoming batch into the live table
(same latest-wins semantics, verified against the same oracle), written
to a staging directory and swapped in, so a failed job never leaves a
half-written table. The swap goes through the Hadoop FS API, so it runs
the same on local disk, HDFS and s3a.

At 100 TB a transactional MERGE format (Delta, Iceberg) is the better
sink: no full-table rewrite, file-level skipping on the merge keys. It
can return once one is installed and tested here, behind an in-batch
dedup: MERGE rejects several source rows for one target key (Delta's
documented rule, not run here), and the overlapping 5-day/1-day date
chunks send exactly that.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession

from dopams_etl_spark.catalog import forget_path, hadoop_fs_path, open_parquet
from dopams_etl_spark.operators.merge import upsert_latest_wins


# -- staged directory swap (Hadoop FS API: local disk, HDFS, s3a alike) ----


def _retired(path: str) -> str:
    return f"{path}__retired"


def restore_retired(spark: SparkSession, path: str) -> None:
    """Finish recovering from a swap cut between its retire and publish
    steps (a killed process): the live dir is missing and its retired copy
    holds the last good table, so move the copy back."""
    fs, live = hadoop_fs_path(spark, path)
    _, retired = hadoop_fs_path(spark, _retired(path))
    if fs.exists(live) or not fs.exists(retired):
        return
    if not fs.rename(retired, live):
        raise OSError(f"could not restore {path} from its retired copy")


def swap_staged(spark: SparkSession, staged: str, path: str) -> None:
    """Replace the directory ``path`` with the fully written ``staged``:
    retire the live dir, publish the staged one (rolling the retired copy
    back if the publish fails), then delete the retired copy. Each step is
    one rename, so at every point either ``path`` or its retired copy holds
    a complete table (``restore_retired`` takes over after a crash between
    the two renames); the pair is not atomic — a transactional table
    format is the answer where that window matters."""
    fs, live = hadoop_fs_path(spark, path)
    _, stage = hadoop_fs_path(spark, staged)
    _, retired = hadoop_fs_path(spark, _retired(path))
    if fs.exists(retired):
        fs.delete(retired, True)
    if not fs.rename(live, retired):
        raise OSError(f"could not retire {path}")
    try:
        if not fs.rename(stage, live):
            raise OSError(f"could not publish {staged}")
    except BaseException:
        fs.rename(retired, live)  # roll back
        raise
    fs.delete(retired, True)


def publish_parquet(spark: SparkSession, writer: DataFrameWriter, path: str) -> None:
    """Write ``writer``'s parquet table to ``path`` without ever leaving
    ``path`` unreadable: finish any cut swap (``restore_retired``), write
    ``<path>__staging`` in full, then ``swap_staged`` it over the live table,
    or rename it into place when there is none yet. A failed write leaves
    the previous table (or no table) behind, never an empty directory.
    Drops the path's open table (``catalog.forget_path``) and the
    partition-probe memo last.
    Holds no state of its own, so concurrent calls for distinct paths are
    safe (``gold.refresh_gold`` runs one per pool thread)."""
    path = path.rstrip("/")
    restore_retired(spark, path)
    staging = f"{path}__staging"
    writer.mode("overwrite").parquet(staging)
    fs, live = hadoop_fs_path(spark, path)
    if fs.exists(live):
        swap_staged(spark, staging, path)
    elif not fs.rename(hadoop_fs_path(spark, staging)[1], live):
        raise OSError(f"could not publish {staging}")
    forget_path(path)


class KeyedTableSink:
    """Upsert sink over a keyed parquet table at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: str | Sequence[str],
        version_col: str,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.version_col = version_col

    def exists(self) -> bool:
        fs, hpath = hadoop_fs_path(self.spark, self.path)
        return bool(fs.exists(hpath))

    def read(self) -> DataFrame:
        return open_parquet(self.spark, self.path)

    def upsert(self, incoming: DataFrame) -> None:
        """Latest-wins upsert of ``incoming`` into the table (creates it on
        first write, where the batch's own duplicate keys collapse the same
        way). Equal-version re-sends replace in place, matching the
        reference's in-chunk duplicate handling (``etl_crimes.py:853–871``).
        The merge reads the files the write replaces, so it is staged and
        swapped in by ``publish_parquet``, which also drops the path's
        open table (``catalog.open_parquet``).
        """
        restore_retired(self.spark, self.path)
        live = self.read() if self.exists() else incoming.limit(0)
        merged = upsert_latest_wins(live, incoming, self.keys, self.version_col)
        publish_parquet(self.spark, merged.write, self.path)
