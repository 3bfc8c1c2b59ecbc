"""Custom Python data source (Spark 4 DataSource API).

The reference ingests from systems Spark has no built-in connector for
(a REST API with session auth, a Mongo dump service —
`etl-crimes/etl_crimes.py:381–450`); Spark 4's Python DataSource API is
the native way to wrap such systems as first-class scan nodes: the
source declares its schema and partitions, each partition reads
independently on an executor, and the result composes with every
operator (pushdown-ready reads, no driver-side collect, no RDD glue).

``SyntheticEventsDataSource`` is the in-repo stand-in: a deterministic
generator (Knuth multiplicative-hash value stream over a partitioned id
range) so the scan is testable offline AND oracle-replicable — DuckDB
reproduces the exact rows from ``generate_series`` with the same integer
arithmetic. A real connector swaps ``read``'s loop for API pages/cursor
chunks; partition planning, schema declaration, and registration stay
identical.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

# Knuth's multiplicative hash constant (2654435761 = 2^32 / phi); the
# value stream is (id * KNUTH) mod 2^32 — exact in BIGINT on any engine.
KNUTH = 2654435761
MOD = 4294967296


class _RangePartition(InputPartition):
    def __init__(self, part_id: int, start: int, end: int):
        self.part_id = part_id
        self.start = start
        self.end = end


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events")`` — options:
    ``partitions`` (default 4), ``rows_per_partition`` (default 250)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return "id BIGINT, part INT, value BIGINT"

    def reader(self, schema) -> "SyntheticEventsReader":
        return SyntheticEventsReader(self.options)


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n_parts = int(options.get("partitions", 4))
        self.rows = int(options.get("rows_per_partition", 250))
        # id-range bounds tightened by pushed filters (partition pruning)
        self.lo = 0
        self.hi = self.n_parts * self.rows - 1

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        """Accept range predicates on ``id``; everything else is handed
        back to Spark to evaluate post-scan. This is the pushdown
        contract a real API connector turns into server-side query
        params (date ranges, cursors) — partitions entirely outside the
        range are never planned, so a filtered scan touches only the
        chunks it needs."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr == ("id",):
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, int(f.value))
                    continue
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, int(f.value) + 1)
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, int(f.value))
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, int(f.value) - 1)
                    continue
            yield f

    def partitions(self) -> Sequence[_RangePartition]:
        parts = []
        for p in range(self.n_parts):
            start = max(p * self.rows, self.lo)
            end = min((p + 1) * self.rows, self.hi + 1)
            if start < end:
                parts.append(_RangePartition(p, start, end))
        # Spark requires at least one partition; an empty range yields
        # one empty partition rather than a planning error.
        return parts or [_RangePartition(0, 0, 0)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield (i, partition.part_id, (i * KNUTH) % MOD)


def register_synthetic_source(spark) -> None:
    """Idempotent registration (re-registering the same name is fine).

    Also enables Python-source filter pushdown (runtime-settable; the
    engine session sets it at build time too) — without it Spark
    refuses a reader that implements ``pushFilters``."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticEventsDataSource)


# ---------------------------------------------------------------------------
# Write side: a JSONL sink through the Python DataSourceWriter API — the
# reference's media/download sinks (etl-files media server) write via
# driver-side loops; this is the Spark-native shape: each partition writes
# its own shard on an executor and returns a commit message, the driver
# finalizes a manifest only if every shard committed (all-or-nothing).
# ---------------------------------------------------------------------------


class _ShardCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class JsonlSinkDataSource(DataSource):
    """``df.write.format("jsonl_sink").option("path", dir).save()`` —
    newline-delimited JSON, one shard per partition, manifest on commit."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool) -> "JsonlShardWriter":
        return JsonlShardWriter(self.options["path"], overwrite)


class JsonlShardWriter(DataSourceWriter):
    """Task-attempt-safe two-phase commit: each attempt writes a
    uniquely named temp file (``.part-<pid>.<jobId>.<taskAttemptId>.tmp``
    — the job id scopes every orphan sweep to THIS job's attempts), and
    only ``commit()`` renames the winning attempts to their final
    ``part-<pid>.jsonl`` names — a retried/speculative attempt of the
    same partition can never tear the published shard. ``overwrite``
    clears prior shards (including stale ones from a run with MORE
    partitions) at commit time; without it, committing into a non-empty
    sink directory fails rather than silently mixing runs. Assumes
    driver and executors share the sink filesystem (true for local mode
    and any shared/NFS/object-fuse mount; an object-store port swaps the
    renames for a copy-then-delete finalize)."""

    def __init__(self, path: str, overwrite: bool = False):
        import uuid

        self.path = path
        self.overwrite = overwrite
        # Driver-minted job id, serialized to every task: temp files are
        # scoped ``.part-<pid>.<job_id>.<attempt>.tmp`` so the orphan
        # sweeps below glob ONLY this job's attempts — a commit never
        # deletes a concurrent writer's in-flight temps for the same
        # sink path (which would fail that job's later commit renames).
        self.job_id = uuid.uuid4().hex[:12]

    def write(self, iterator) -> _ShardCommit:
        import json
        import os
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(
            self.path,
            f".part-{pid:05d}.{self.job_id}.{ctx.taskAttemptId()}.tmp",
        )
        n = 0
        with open(tmp, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict(), default=str, sort_keys=True))
                fh.write("\n")
                n += 1
        return _ShardCommit(tmp, n)

    def _final_name(self, tmp_path: str) -> str:
        import os

        # ".part-00003.<jobId>.<attempt>.tmp" -> "part-00003.jsonl"
        base = os.path.basename(tmp_path)
        pid = base.split(".")[1]
        return os.path.join(self.path, f"{pid}.jsonl")

    def commit(self, messages) -> None:
        """Install order matters for crash safety: new shards are
        renamed into place FIRST (``os.replace`` atomically supersedes a
        same-named prior shard), THEN stale extras from a wider prior
        run are deleted, THEN the manifest is rewritten — so at every
        instant the directory holds at least one complete generation and
        a crash mid-commit never deletes data that has no replacement.
        Residual window (plain-FS limit, documented rather than hidden):
        between the first rename and the manifest rewrite, a reader of
        the OLD manifest can observe new content under old names."""
        import glob
        import json
        import os

        committed = [m for m in messages if m is not None]
        prior = set(glob.glob(os.path.join(self.path, "part-*.jsonl")))
        if prior and not self.overwrite:
            raise ValueError(
                f"jsonl_sink: {self.path} already contains {len(prior)} "
                "shard(s); use mode('overwrite') to replace them"
            )
        shards = []
        for m in committed:
            final = self._final_name(m.path)
            os.replace(m.path, final)
            shards.append(final)
        for stale in sorted(prior - set(shards)):
            os.remove(stale)  # extras from a prior run with MORE partitions
        manifest = {
            "shards": sorted(shards),
            "rows": sum(m.rows for m in committed),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        # losing speculative attempts leave their temps behind; sweep
        # ONLY this job's temps (job-id-scoped glob — never a concurrent
        # writer's in-flight files)
        for orphan in glob.glob(
            os.path.join(self.path, f".part-*.{self.job_id}.*.tmp")
        ):
            os.remove(orphan)

    def abort(self, messages) -> None:
        import glob
        import os

        for orphan in glob.glob(
            os.path.join(self.path, f".part-*.{self.job_id}.*.tmp")
        ):
            os.remove(orphan)
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


# ---------------------------------------------------------------------------
# Streaming side: a micro-batch tick source through the
# SimpleDataSourceStreamReader API — offsets are plain dicts, read(start)
# returns (rows, next_offset), and readBetweenOffsets replays a committed
# range for recovery. The deterministic generator means replay is exact —
# the property a real CDC/API cursor source must also guarantee.
# ---------------------------------------------------------------------------


class SyntheticTicksDataSource(DataSource):
    """``spark.readStream.format("synthetic_ticks")`` — options:
    ``total_rows`` (default 100), ``batch_rows`` (default 25)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_ticks"

    def schema(self) -> str:
        return "id BIGINT, value BIGINT"

    def simpleStreamReader(self, schema) -> "SyntheticTicksStreamReader":
        return SyntheticTicksStreamReader(self.options)


class SyntheticTicksStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.total = int(options.get("total_rows", 100))
        self.batch = int(options.get("batch_rows", 25))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _rows(self, start: int, end: int):
        return [(i, (i * KNUTH) % MOD) for i in range(start, end)]

    def read(self, start: dict):
        lo = start["pos"]
        hi = min(lo + self.batch, self.total)
        return iter(self._rows(lo, hi)), {"pos": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(start["pos"], end["pos"]))


def register_jsonl_sink(spark) -> None:
    spark.dataSource.register(JsonlSinkDataSource)


def register_ticks_stream(spark) -> None:
    spark.dataSource.register(SyntheticTicksDataSource)
