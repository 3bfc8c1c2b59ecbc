"""SparkSession builder tuned for the engine.

Scale posture (100 TB / 1000-executor design, tested on local[32]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join conversion replace hand-tuned plans.
- Arrow on: every pandas-UDF stage (similarity scoring, embeddings) moves
  batches, not rows.
- Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable (the reference pins IST at the ingest edge instead —
  ``etl-crimes/etl_crimes.py:74`` — which we reproduce as an explicit
  conversion in the ingest functions, never as an ambient session setting).
- Codegen cache sized for a whole ETL cycle: ``spark.sql.codegen.cache.maxEntries``
  = 1000 (Spark's default is 100). An sf0.01 ETL cycle (keyed upserts,
  then ``gold.refresh_gold`` of the five MVs) compiles ~160 generated
  classes and a 100-request interactive run 77, so at 100 each cycle
  evicted the last one's classes by LRU and every warm cycle recompiled
  ~150 of them (2–3 s of Janino time); at 1000 it compiles a handful.
  1000 holds a cycle plus the interactive set with room to spare, and
  costs little: after two sf0.01 ETL cycles the JVM held ~450 generated
  classes of ~2 KB bytecode each. The cache is JVM-global and its size is
  fixed once, from ``SQLConf.get`` on whichever thread compiles first, so
  a pool thread must run with the session active (``thread_target``) or
  it may size the cache from Spark's defaults.
"""

from __future__ import annotations

import functools
import os
from typing import Callable

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "dopams-etl-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for tests/bench; on a
    real cluster pass ``None`` with a pre-set master or use spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # The driver testdata's events.parquet carries TIMESTAMP(NANOS),
        # which Spark 4.x refuses by default; read it as long nanos and let
        # the catalog's events reader convert to a real timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def thread_target(spark: SparkSession, fn: Callable) -> Callable:
    """``fn`` wrapped to run library work on a pool thread as if on the
    calling one: it gets the caller's local properties (job group,
    description) and session tags as of this call, and ``spark`` as the
    JVM active session. Without the last, ``SQLConf.get`` on the thread is
    Spark's fallback conf (200 shuffle partitions, the JVM time zone, a
    100-entry codegen cache) wherever Spark reads it outside a query's own
    scope, such as while building expressions. Wrap once per submission:
    each wrapper copies the properties, so a task that sets one changes no
    other's."""
    from pyspark import inheritable_thread_target

    target = inheritable_thread_target(spark)(fn)
    jsession = spark._jsparkSession

    @functools.wraps(fn)
    def run(*args, **kwargs):
        SparkSession._get_j_spark_session_class(spark._jvm).setActiveSession(jsession)
        return target(*args, **kwargs)

    return run
