import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@contextlib.contextmanager
def started_jobs(spark, group):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="session")
def spark():
    from randas_spark.session import get_spark

    # The session default (48g) lets the heap outgrow a 15 GB host over a
    # full suite run when GC falls behind; the sf0.001 fixtures need far
    # less. An explicit SPARK_GRAFT_DRIVER_MEM still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    spark = get_spark("pytest", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def people(spark):
    """FIXTURES.md A1 — the reference's canonical 3x3 frame
    (setup_test_dataframe, dataframe.rs:1031-1063)."""
    from randas_spark.frame import RandasFrame

    return RandasFrame.new(
        spark,
        {
            "ID": [1, 2, 3],
            "Name": ["Alice", "Bob", "Charlie"],
            "Score": [3.5, 4.0, 2.5],
        },
        ["ID", "Name", "Score"],
    )
