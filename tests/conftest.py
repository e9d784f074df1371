import os

import pytest

from lanterndb_spark.session import get_spark, load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lanterndb-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def small_world(spark):
    """The reference's 8-corner unit-cube fixture
    (lantern_hnsw/test/sql/utils/small_world_array.sql)."""
    rows = []
    for i in range(8):
        bits = [float(b) for b in format(i, "03b")]
        rows.append((format(i, "03b"), i % 2 == 0, bits))
    return spark.createDataFrame(rows, "id string, b boolean, v array<float>")


@pytest.fixture(scope="session")
def job_ids(spark):
    """``job_ids(fn) -> (fn(), [job ids fn submitted])``: brackets ``fn``
    with two marker jobs and reads the ids between them from
    ``sc.statusTracker()``."""
    sc = spark.sparkContext

    def last():
        sc.parallelize([0], 1).count()
        return max(sc.statusTracker().getJobIdsForGroup())

    def run(fn):
        before = last()
        out = fn()
        after = last()
        return out, list(range(before + 1, after))

    return run
