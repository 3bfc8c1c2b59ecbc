from __future__ import annotations

from collections import namedtuple

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from dopams_etl_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


# session-scoped alias for hypothesis-driven tests (@given can't take a
# function-scoped fixture)
@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


BuiltPlan = namedtuple("BuiltPlan", "schema analyzed executed")


@pytest.fixture(scope="session")
def registry_plans(spark) -> dict[str, BuiltPlan]:
    """Every registered query built once at sf0.001, for the registry-wide
    plan and dtype checks. Only the schema and plan strings are kept, so
    each DataFrame is freed; the executed plan is planned, never run,
    with scan metadata untruncated (``tools.plan_audit.executed_plan``)."""
    from dopams_etl_spark.plans import catalog
    from tools.plan_audit import executed_plan

    plans = {}
    for name, fn in catalog.queries().items():
        df = fn(spark, SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        plans[name] = BuiltPlan(df.schema, analyzed, executed_plan(df))
    return plans
