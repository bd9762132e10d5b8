import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestor_py_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_global(spark):
    """Alias usable inside hypothesis @given tests (function-scoped fixtures
    are disallowed there)."""
    return spark


def make_table(spark, tmp, **kw):
    from data_ingestor_py_spark.plans.target import TargetTable

    defaults = dict(
        key_cols=["repo", "path"],
        columns=[
            ("commit", "string"),
            ("lang", "string"),
            ("content", "string"),
            ("_content_sha256", "string"),
        ],
        num_buckets=8,
    )
    defaults.update(kw)
    return TargetTable.create(spark, str(tmp), **defaults)


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), read from statusTracker()
    under a job group of its own once the listener bus has caught up."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
