import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from interlinked_spark.session import get_spark

    s = get_spark("tests", master="local[8]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def headline_plans(spark):
    """The plan-snapshot pass, run once per session and shared by the
    snapshot gate and the whole-catalog plan audit: name -> (normalized
    formatted plan, executed-plan string) for every snapshot query."""
    import plan_snapshots as ps

    return {
        name: (
            ps.normalize(ps.formatted_plan(df)),
            df._jdf.queryExecution().executedPlan().toString(),
        )
        for name, df in ps.resolve(spark)
    }


@pytest.fixture
def no_auto_broadcast(spark):
    """Run one test with ``spark.sql.autoBroadcastJoinThreshold=-1`` —
    operators gated on that threshold take their distributed path —
    and restore the session value after it."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)
