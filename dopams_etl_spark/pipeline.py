"""Driver-side orchestration DAG (SURVEY §2.9 I7).

The reference master runs ``[Order N]`` blocks as subprocesses with 2
retries (2 s / 5 s), a single-run lock, and refresh-step dedup to the end
(``etl_master/master_etl.py:113–497``). In Spark the stages are plain
Python functions over DataFrames in ONE driver process — the process
boundary disappears, the ordering/retry/dedup semantics stay.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Stage:
    name: str
    fn: Callable[[], object]
    retries: int = 2
    retry_delays: tuple[float, ...] = (2.0, 5.0)
    is_refresh: bool = False


@dataclass
class StageResult:
    name: str
    ok: bool
    attempts: int
    error: str | None = None
    result: object = None
    # wall time of the stage's attempts, retry sleeps excluded
    seconds: float = 0.0


@dataclass
class RunReport:
    results: list[StageResult] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(r.ok for r in self.results)


def normalize_stages(stages: list[Stage]) -> list[Stage]:
    """Refresh-step normalization (``master_etl.py:162–243``): duplicate
    refresh stages collapse to ONE instance moved to the end, preserving
    the order of everything else."""
    body = [s for s in stages if not s.is_refresh]
    seen: dict[str, Stage] = {}
    for s in stages:
        if s.is_refresh and s.name not in seen:
            seen[s.name] = s
    return body + list(seen.values())


def run_pipeline(
    stages: list[Stage],
    stop_on_failure: bool = True,
    sleeper: Callable[[float], None] = time.sleep,
) -> RunReport:
    """Sequential execution with per-stage retries (2 s / 5 s backoff like
    the master). A stage exhausting retries fails the run (subsequent
    stages skip unless ``stop_on_failure=False``). Each result records the
    stage's wall seconds, summed over its attempts."""
    report = RunReport()
    for stage in normalize_stages(stages):
        attempts, err, result, ok, seconds = 0, None, None, False, 0.0
        while attempts <= stage.retries and not ok:
            t0 = time.perf_counter()
            try:
                result = stage.fn()
                ok = True
            except Exception as exc:  # noqa: BLE001 - stage isolation is the point
                err = f"{exc.__class__.__name__}: {exc}"
            seconds += time.perf_counter() - t0
            if not ok and attempts < stage.retries:
                sleeper(stage.retry_delays[min(attempts, len(stage.retry_delays) - 1)])
            attempts += 1
        report.results.append(
            StageResult(stage.name, ok, attempts, None if ok else err, result, seconds))
        if not ok and stop_on_failure:
            break
    return report
