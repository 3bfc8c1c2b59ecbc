"""KeyedTableSink: latest-wins merge published by a staged parquet swap."""

import sys
import types

import pytest
from pyspark.sql import functions as F

from dopams_etl_spark.sinks import KeyedTableSink


def _sink(spark, tmp_path):
    return KeyedTableSink(spark, str(tmp_path / "tbl"), "id", "version")


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id long, version long, val string")


def test_initial_write_dedups_batch(spark, tmp_path):
    s = _sink(spark, tmp_path)
    s.upsert(_batch(spark, [(1, 1, "a"), (1, 2, "b"), (2, 1, "c")]))
    got = {(r["id"], r["version"], r["val"]) for r in s.read().collect()}
    assert got == {(1, 2, "b"), (2, 1, "c")}


def test_upsert_latest_wins_and_insert(spark, tmp_path):
    s = _sink(spark, tmp_path)
    s.upsert(_batch(spark, [(1, 1, "a"), (2, 1, "c")]))
    s.upsert(_batch(spark, [(1, 5, "new"), (2, 0, "stale"), (3, 1, "ins")]))
    got = {(r["id"], r["val"]) for r in s.read().collect()}
    # id=1 updated (newer), id=2 kept (older incoming loses), id=3 inserted
    assert got == {(1, "new"), (2, "c"), (3, "ins")}


def test_equal_version_resend_replaces_in_place(spark, tmp_path):
    """I4 guard is >=, not >: a re-sent row with the same version replaces
    (the reference processes in-chunk duplicates rather than skipping)."""
    s = _sink(spark, tmp_path)
    s.upsert(_batch(spark, [(1, 3, "first")]))
    s.upsert(_batch(spark, [(1, 3, "resent")]))
    assert [r["val"] for r in s.read().collect()] == ["resent"]


def test_swap_leaves_no_staging_dirs(spark, tmp_path):
    s = _sink(spark, tmp_path)
    s.upsert(_batch(spark, [(1, 1, "a")]))
    s.upsert(_batch(spark, [(1, 2, "b")]))
    leftovers = [p.name for p in tmp_path.iterdir() if "__" in p.name]
    assert leftovers == []
    assert s.read().count() == 1


def test_importable_delta_package_leaves_the_parquet_path(spark, tmp_path, monkeypatch):
    """A ``delta`` package that imports (delta-spark installed, but the
    session built without its jars and SQL extension) does not change the
    write path: two upserts on a ``get_spark`` session read back the
    latest-wins rows."""
    delta = types.ModuleType("delta")
    delta.__path__ = []
    monkeypatch.setitem(sys.modules, "delta", delta)
    monkeypatch.setitem(sys.modules, "delta.tables", types.ModuleType("delta.tables"))
    s = _sink(spark, tmp_path)
    s.upsert(_batch(spark, [(1, 1, "a"), (2, 1, "b")]))
    s.upsert(_batch(spark, [(1, 2, "a2"), (3, 1, "c")]))
    got = {(r["id"], r["version"], r["val"]) for r in s.read().collect()}
    assert got == {(1, 2, "a2"), (2, 1, "b"), (3, 1, "c")}


def test_matches_upsert_latest_wins_oracle_semantics(spark, tmp_path):
    """The sink's on-disk result must equal the oracle-checked
    upsert_latest_wins operator applied to the same batches."""
    from dopams_etl_spark.operators.merge import upsert_latest_wins

    b1 = _batch(spark, [(1, 1, "a"), (2, 2, "b"), (3, 1, "c")])
    b2 = _batch(spark, [(2, 3, "b2"), (3, 0, "old"), (4, 1, "d")])
    s = _sink(spark, tmp_path)
    s.upsert(b1)
    s.upsert(b2)
    expect = {
        tuple(r) for r in upsert_latest_wins(b1, b2, "id", "version").collect()
    }
    got = {tuple(r) for r in s.read().select("id", "version", "val").collect()}
    assert got == expect


class _FailingPublish:
    """Hadoop FileSystem proxy whose publish rename (staged dir → live
    path) raises: the fault sits after the live table was retired."""

    def __init__(self, fs, staged_suffix):
        self._fs, self._suffix = fs, staged_suffix

    def rename(self, src, dst):
        if src.getName().endswith(self._suffix):
            raise OSError("injected fault between retire and publish")
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _fail_publish(monkeypatch, staged_suffix):
    import dopams_etl_spark.sinks as sinks

    real = sinks.hadoop_fs_path

    def patched(spark, p):
        fs, hpath = real(spark, p)
        return _FailingPublish(fs, staged_suffix), hpath

    monkeypatch.setattr(sinks, "hadoop_fs_path", patched)


def _frag_table(spark, path):
    rows = [(i, i % 3, f"v{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "id long, yr long, val string")
    df.repartition(6).write.partitionBy("yr").mode("overwrite").parquet(path)
    return sorted(rows)


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).select("id", "yr", "val").collect())


def test_compact_table_publish_fault_keeps_table(spark, tmp_path, monkeypatch):
    """Compaction fails between retiring the live table and publishing the
    staged one: the retired copy is rolled back, the table still reads in
    full, and nothing is left retired."""
    from dopams_etl_spark.gold import compact_table

    path = str(tmp_path / "frag")
    want = _frag_table(spark, path)
    _fail_publish(monkeypatch, "__staging")
    with pytest.raises(OSError, match="injected fault"):
        compact_table(spark, path, partition_cols=("yr",))
    assert _rows(spark, path) == want
    assert not (tmp_path / "frag__retired").exists()
    monkeypatch.undo()
    stats = compact_table(spark, path, partition_cols=("yr",))
    assert stats["rows"] == 60 and stats["files_after"] < stats["files_before"]
    assert _rows(spark, path) == want


def test_compact_table_recovers_a_crash_after_retire(spark, tmp_path):
    """A process killed right after the retire rename leaves only the
    retired copy; the next compaction restores it and proceeds."""
    from dopams_etl_spark.gold import compact_table

    path = str(tmp_path / "frag")
    want = _frag_table(spark, path)
    (tmp_path / "frag").rename(tmp_path / "frag__retired")  # the crash point
    stats = compact_table(spark, path, partition_cols=("yr",))
    assert stats["rows"] == 60
    assert _rows(spark, path) == want
    assert not (tmp_path / "frag__retired").exists()


def test_upsert_publish_fault_keeps_table(spark, tmp_path, monkeypatch):
    """The sink's swap shares the helper: a failed publish leaves the
    previous table readable, and after a crash past the retire step the
    next upsert merges into the restored table rather than starting over."""
    s = _sink(spark, tmp_path)
    s.upsert(_batch(spark, [(1, 1, "a"), (2, 1, "b")]))
    _fail_publish(monkeypatch, "__staging")
    with pytest.raises(OSError, match="injected fault"):
        s.upsert(_batch(spark, [(1, 2, "a2")]))
    monkeypatch.undo()
    assert {(r["id"], r["val"]) for r in s.read().collect()} == {(1, "a"), (2, "b")}
    (tmp_path / "tbl").rename(tmp_path / "tbl__retired")  # the crash point
    s.upsert(_batch(spark, [(3, 1, "c")]))
    got = {(r["id"], r["val"]) for r in s.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def _failing_batch(spark):
    x = F.when(F.col("id") >= 0, F.raise_error(F.lit("batch fails at execution")))
    return spark.range(3).select(
        F.col("id"), F.lit(1).cast("long").alias("version"), x.cast("string").alias("val")
    )


def test_failed_first_upsert_does_not_wedge_the_table(spark, tmp_path):
    """A first write that fails leaves no table (not an empty directory
    every later upsert would fail to read), so the next upsert succeeds."""
    s = _sink(spark, tmp_path)
    with pytest.raises(Exception, match="batch fails at execution"):
        s.upsert(_failing_batch(spark))
    assert not s.exists()
    s.upsert(_batch(spark, [(1, 1, "a")]))
    assert [(r["id"], r["val"]) for r in s.read().collect()] == [(1, "a")]
