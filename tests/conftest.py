from __future__ import annotations

import contextlib
import itertools
import os

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from spark_nifi_kafka_connected_device_stream_spark.session import get_session

    s = get_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_SMALL}/{name}.parquet'"
        )
    yield con
    con.close()


@contextlib.contextmanager
def rocksdb_state_store(spark):
    """Run the body with the RocksDB state store provider, then restore
    the session's previous provider (or unset it)."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        _ROCKSDB_PROVIDER,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@pytest.fixture(params=["hdfs", "rocksdb"])
def state_store(request, spark):
    """Run the test once under the default (HDFS-backed) state store
    provider and once under RocksDB."""
    if request.param == "rocksdb":
        with rocksdb_state_store(spark):
            yield request.param
    else:
        yield request.param


_JOB_GROUPS = itertools.count()


def launched_jobs(spark, fn):
    """Run `fn()` and return (its result, the number of Spark jobs it
    launched from this thread).  The listener bus is drained first, so
    the status tracker has seen every job the body ran."""
    sc = spark.sparkContext
    group = f"launched_jobs_{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
