"""API extraction operators (S1/S2/S3).

Reference: per-chunk REST pulls with exponential backoff and a 4xx/5xx
retry matrix (``etl-crimes/etl_crimes.py:381–450``,
``etl-files/etl_pipeline_files/extract/base_extractor.py:26–80``), and
one-call-per-person point lookups (``etl-persons/etl_persons.py:879–1042``).

Spark restatement: the chunk planner (``operators.watermark.plan_chunks``)
stays driver-side; fetching runs where it belongs — chunk feeds on the
driver (one small batch per window), per-id enrichment inside
``mapInPandas`` so lookups parallelize across executors. The fetcher is a
plain callable; no HTTP library is imported here.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# fetcher(from_date, to_date) -> list of records; raises on transport error
ChunkFetcher = Callable[[datetime, datetime], list[dict]]
# fetcher(id) -> record dict or None
PointFetcher = Callable[[object], dict | None]


@dataclass(frozen=True)
class RetryPolicy:
    """Exponential backoff ``2**attempt`` with a retry matrix: 4xx never
    retries (a bad request stays bad), 5xx/network retries up to
    ``max_retries`` (``base_extractor.py:26–80``)."""

    max_retries: int = 3
    base_seconds: float = 1.0

    def delay(self, attempt: int) -> float:
        return self.base_seconds * (2**attempt)


def should_retry(status_code: int | None) -> bool:
    """None = transport/network error → retry; 4xx → no; 5xx → yes."""
    if status_code is None:
        return True
    return status_code >= 500


def _status_code(exc: Exception) -> int | None:
    """HTTP status of a fetcher's error: ``exc.status_code``, else
    ``exc.response.status_code`` (the ``requests`` shape), else None."""
    status = getattr(exc, "status_code", None)
    if status is None:
        status = getattr(getattr(exc, "response", None), "status_code", None)
    return status


def fetch_chunked(
    spark: SparkSession,
    fetcher: ChunkFetcher,
    chunks: list[tuple[datetime, datetime]],
    schema,
    policy: RetryPolicy = RetryPolicy(),
    sleeper: Callable[[float], None] = time.sleep,
) -> DataFrame:
    """S1: pull every (from, to) chunk through the fetcher, retrying as
    ``should_retry`` says for the error's status (a 4xx is raised at once),
    and build ONE frame from all chunks' records, in chunk order (overlap
    re-sends included). One ``createDataFrame`` gives one scan leaf, where
    a frame per chunk would union N scans whose partitions each cost a
    task downstream. Empty feeds yield an empty, correctly-typed frame."""
    records: list[dict] = []
    for start, end in chunks:
        chunk: list[dict] = []
        for attempt in range(policy.max_retries + 1):
            try:
                chunk = fetcher(start, end)
                break
            except Exception as exc:
                if attempt >= policy.max_retries or not should_retry(_status_code(exc)):
                    raise
                sleeper(policy.delay(attempt))
        records.extend(chunk)
    # A list, not a pyarrow.Table: the Arrow route scans faster but turns
    # TimestampNTZ into session-zone timestamps and reads naive datetimes
    # as UTC, so its rows differ from the fetcher's.
    return spark.createDataFrame(records, schema)


def point_lookup_enrich(
    df: DataFrame,
    id_col: str,
    fetcher: PointFetcher,
    output_schema: str,
) -> DataFrame:
    """S2: per-id point lookups inside ``mapInPandas`` — partition-parallel,
    Arrow-batched; ids the fetcher returns None for are dropped (parity
    with the reference skipping missing persons)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for pid in batch[id_col]:
                rec = fetcher(pid)
                if rec is not None:
                    rows.append({id_col: pid, **rec})
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c.split()[0]: [] for c in output_schema.split(", ")}
            )

    return df.select(id_col).dropDuplicates([id_col]).mapInPandas(run, output_schema)
