import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ecom_churn_lakehouse_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.default.parallelism": "4",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a job group of its own and
    returns ``(fn's result, number of Spark jobs it launched)``."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
