"""The query tables' declared schemas, and what building a query costs.

``queries._t`` reads each table with its declared Spark DDL, so no read
runs Spark's schema-inference job. A declared column that a file lacks
would read as NULL rather than fail, so every declaration is checked here
against the schema Spark infers from the files: each fixture scale, and
the tables the benchmark generates."""

import glob
import os

import pytest

from docprompt_spark import queries as q
from tests.conftest import query_params
from tests.test_plan_quality import SF_DIR

FIXTURE_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")))


def _assert_declared_schemas_match(spark, sf_dir):
    assert sorted(q._TABLE_DDL) == sorted(
        f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
    for name in q._TABLE_DDL:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert q._t(spark, sf_dir, name).schema == inferred, (sf_dir, name)


@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS, ids=os.path.basename)
def test_declared_schemas_match_fixture_tables(spark, sf_dir):
    _assert_declared_schemas_match(spark, sf_dir)


def test_declared_schemas_match_benchmark_tables(spark, tmp_path):
    from perfbench import inputs

    _assert_declared_schemas_match(spark, inputs.query_tables(str(tmp_path), 0.01))


# Queries whose build runs Spark jobs by design: a localCheckpoint, and
# k-means iterations that collect their centroids to the driver.
_BUILD_JOBS = {"dedup_connected_components", "ann_ivf_top5"}


def _jobs_of(spark, group: str) -> list:
    """The job ids of ``group`` once the listener bus has delivered every
    event posted so far, so a job submitted by the caller is listed."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", query_params(sorted(q.queries())))
def test_building_a_query_runs_no_job(spark, monkeypatch, name):
    """Building a query only plans: its Spark jobs belong to its action.
    The exceptions are _BUILD_JOBS and the extraction router's probe
    (``pipeline.skew_route`` asks whether any doc is over the page
    threshold), which runs once per routed corpus."""
    from docprompt_spark import pipeline

    routed = []
    route = pipeline.skew_route

    def counted(*args, **kwargs):
        routed.append(1)
        return route(*args, **kwargs)

    monkeypatch.setattr(pipeline, "skew_route", counted)
    sc = spark.sparkContext
    group = f"build:{name}"
    sc.setJobGroup(group, group)
    try:
        q.registry()[name][0](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = _jobs_of(spark, group)
    if name in _BUILD_JOBS:
        assert jobs
    else:
        assert len(jobs) == len(routed), jobs
