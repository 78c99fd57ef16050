"""Shared fixtures: one session-scoped SparkSession (local mode), testdata
locations, DuckDB oracle connection."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from zio_kinesis_example_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

#: local[N] width and shuffle partitions of the test session: the host's
#: cores ($SPARK_GRAFT_CPUS, else every core this process may run on)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
           or len(os.sched_getaffinity(0)))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="zke-spark-tests", cpus=CPUS,
                  shuffle_partitions=CPUS)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_factory_local():
    dirs = []

    def mk(prefix: str = "zke") -> str:
        d = tempfile.mkdtemp(prefix=prefix)
        dirs.append(d)
        return d

    yield mk
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
