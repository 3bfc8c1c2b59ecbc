"""Keyed-table sink: real ``MERGE INTO`` when Delta Lake is on the
classpath, atomic dedup-union-overwrite parquet otherwise.

The reference's sinks are change-detecting ``INSERT ... ON CONFLICT``
upserts (``etl-crimes/etl_crimes.py:654–789``). On Spark that maps 1:1 to
Delta ``MERGE`` — ``whenMatchedUpdateAll`` guarded by a newer-than
predicate (I4) + ``whenNotMatchedInsertAll`` — which at 100 TB is the
right sink: transactional, file-level data skipping on the merge keys, no
full-table rewrite. This container has no Delta, so the merge path is
feature-gated behind an import-try and exercised as the parquet fallback:
``upsert_latest_wins`` (same latest-wins semantics, verified against the
same oracle) + a staging-dir write with a filesystem-level swap so a
failed job never leaves a half-written table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession

from dopams_etl_spark.catalog import forget_path
from dopams_etl_spark.operators.merge import upsert_latest_wins


def delta_available() -> bool:
    """True when the delta-spark package is importable (the session must
    additionally be built with the Delta SQL extension to actually use it)."""
    try:
        import delta  # noqa: F401
        return True
    except ImportError:
        return False


# -- staged directory swap (Hadoop FS API: local disk, HDFS, s3a alike) ----


def hadoop_fs_path(spark: SparkSession, p: str):
    """(FileSystem, Path) for ``p`` under the session's Hadoop conf."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(p)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


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
    the two renames); the pair is not atomic — Delta is the answer where
    that window matters."""
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
    Drops the ``load_table`` and partition-probe memos of ``path`` last.
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
    """Upsert sink over a keyed table at ``path``.

    ``fmt``: ``"auto"`` (Delta when available, else parquet), ``"delta"``
    (raise if Delta is missing — never silently downgrade a caller that
    asked for transactional semantics), or ``"parquet"``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: str | Sequence[str],
        version_col: str,
        fmt: str = "auto",
    ) -> None:
        if fmt not in ("auto", "delta", "parquet"):
            raise ValueError(f"unknown sink format {fmt!r}")
        if fmt == "delta" and not delta_available():
            raise RuntimeError(
                "fmt='delta' requested but delta-spark is not installed; "
                "install it and build the session with the Delta extension, "
                "or use fmt='auto' to fall back to the parquet merge"
            )
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.version_col = version_col
        self.fmt = "delta" if fmt == "auto" and delta_available() else (
            fmt if fmt != "auto" else "parquet"
        )

    def exists(self) -> bool:
        fs, hpath = hadoop_fs_path(self.spark, self.path)
        return bool(fs.exists(hpath))

    def read(self) -> DataFrame:
        if self.fmt == "delta":
            return self.spark.read.format("delta").load(self.path)
        return self.spark.read.parquet(self.path)

    # -- upsert ----------------------------------------------------------

    def upsert(self, incoming: DataFrame) -> None:
        """Latest-wins upsert of ``incoming`` into the table (creates it on
        first write). Equal-version re-sends replace in place, matching the
        reference's in-chunk duplicate handling (``etl_crimes.py:853–871``).
        The ``catalog.load_table`` memo of the path is dropped afterwards,
        since the rewrite deleted the files it listed.
        """
        restore_retired(self.spark, self.path)
        if not self.exists():
            self._initial_write(incoming)
        elif self.fmt == "delta":
            self._delta_merge(incoming)
        else:
            self._parquet_merge(incoming)
        forget_path(self.path)

    def _initial_write(self, df: DataFrame) -> None:
        # First batch may itself carry duplicate keys — collapse them the
        # same way a merge would.
        deduped = upsert_latest_wins(
            df.limit(0), df, self.keys, self.version_col
        )
        if self.fmt == "delta":
            deduped.write.mode("overwrite").format("delta").save(self.path)
        else:
            publish_parquet(self.spark, deduped.write, self.path)

    def _delta_merge(self, incoming: DataFrame) -> None:
        """True MERGE INTO: update-when-newer-or-equal (I4 guard),
        insert-when-absent. Runs only with delta-spark on the classpath."""
        from delta.tables import DeltaTable

        target = DeltaTable.forPath(self.spark, self.path)
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in self.keys)
        newer = f"s.{self.version_col} >= t.{self.version_col}"
        (
            target.alias("t")
            .merge(incoming.alias("s"), cond)
            .whenMatchedUpdateAll(condition=newer)
            .whenNotMatchedInsertAll()
            .execute()
        )

    def _parquet_merge(self, incoming: DataFrame) -> None:
        """Fallback: merge into a staging dir, then swap it in
        (``publish_parquet``). The merge reads the files the write replaces,
        so it cannot overwrite in place."""
        merged = upsert_latest_wins(self.read(), incoming, self.keys, self.version_col)
        publish_parquet(self.spark, merged.write, self.path)
