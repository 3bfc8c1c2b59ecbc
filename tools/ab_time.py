"""Per-query timer over the noop sink, run against THIS tree (whichever
repo root the script is invoked from).

Usage:
    python tools/ab_time.py                          # every registered query
    python tools/ab_time.py q1_pricing_summary firs_mv
    AB_RUNS=5 AB_SF_DIR=/root/testdata/sf0.1 python tools/ab_time.py ...

Per query it prints one JSON line: ``build_s`` (DataFrame construction),
``first_s`` (first execution: optimization + codegen + run) and
``warm_s`` (min of ``AB_RUNS`` further executions), with
``build_jobs``, the Spark jobs started while the plan was built (a
partition probe on a join runs its broadcast stage under AQE, for one),
and ``first_compiles`` and ``warm_compiles``, the generated classes Spark
compiled during the first run and during all the warm runs (a warm run
that compiles did not find its generated code in Spark's codegen cache);
or ``error`` for a query that raises (the sweep goes on). A last line
carries the repo root, the query count and the summed ``warm_s``. For an A/B, run it from
a checkout of each commit and alternate invocations so both trees see
the same ambient conditions (one box drifts ±20% across hours).

The named queries run one after another in one process, so a query's
``warm_s`` depends on the queries named before it (JVM warm-up carries
over). For an A/B, time a query whose plan did not change in a process of
its own: after a query the change made faster it reads slower
(``minhash_lsh_pairs`` after ``simhash_dups``: faster in 2/10 pairs,
median +19%; alone, with an identical plan: 7/10, +1%).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("AB_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("AB_RUNS", "5"))


def _noop_write_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _compiles(spark) -> int:
    """Generated classes compiled in this JVM so far."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def _last_job_id(spark) -> int:
    """Id of the latest job in the status store (-1 before the first)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.nonEmpty() else -1


def main() -> None:
    from dopams_etl_spark.plans import catalog
    from dopams_etl_spark.session import get_spark

    spark = get_spark("ab-time")
    spark.sparkContext.setLogLevel("ERROR")
    qs = catalog.queries()
    warm: dict[str, float] = {}
    for name in sys.argv[1:] or list(qs):
        spark.sparkContext.setJobDescription(f"ab_time: {name}")
        try:
            j0 = _last_job_id(spark)
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            build_s = time.perf_counter() - t0
            build_jobs = _last_job_id(spark) - j0
            c0 = _compiles(spark)
            first_s = _noop_write_s(df)
            c1 = _compiles(spark)
            warm[name] = min(_noop_write_s(df) for _ in range(RUNS))
            print(json.dumps({"q": name, "build_s": round(build_s, 3), "build_jobs": build_jobs,
                              "first_s": round(first_s, 3),
                              "warm_s": round(warm[name], 3),
                              "first_compiles": c1 - c0,
                              "warm_compiles": _compiles(spark) - c1}), flush=True)
        except Exception as e:  # keep sweeping; a broken query is its own finding
            print(json.dumps({"q": name, "error": f"{type(e).__name__}: {e}"}), flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"root": ROOT, "n": len(warm),
                      "total_warm_s": round(sum(warm.values()), 3)}))


if __name__ == "__main__":
    main()
