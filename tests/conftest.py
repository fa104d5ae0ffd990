from __future__ import annotations

import pytest

from etl_backend_spark.session import get_spark
from etl_backend_spark.sources.catalog import Catalog

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # warehouse dir is a static conf — must be set at session build time
    # (needed by the bucketed-table tests)
    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        app_name="pytest", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def cat(spark):
    return Catalog(spark, SF_DIR)


@pytest.fixture(scope="session")
def spark_session(spark):
    """Alias for hypothesis tests (function-scoped health check suppressed)."""
    return spark


def spark_jobs(spark, fn):
    """(fn(), the number of Spark jobs fn ran): fn runs under its own job
    group, and the status tracker lists the group's jobs."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
