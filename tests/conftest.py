"""Shared pytest fixtures: one small local SparkSession per test run."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shotit_worker_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def tmp_root(tmp_path_factory):
    return tmp_path_factory.mktemp("engine")


@pytest.fixture
def pinned(spark):
    """A callable returning what the session holds pinned: the number of
    persistent RDDs (caches and local checkpoints) and of cache-manager
    entries. A call that releases what it pins leaves both unchanged."""
    sc = spark.sparkContext._jsc.sc()
    cache = spark._jsparkSession.sharedState().cacheManager()
    return lambda: (sc.getPersistentRDDs().size(), cache.numCachedEntries())


@pytest.fixture(autouse=True)
def no_leaked_streaming_query():
    """Fail a test that leaves a streaming query running, after stopping
    it so later tests do not pay for it. Only a session that already
    exists is checked, so the no-Spark tests never start one."""
    yield
    session = SparkSession.getActiveSession()
    if session is None:
        return
    leaked = session.streams.active
    for q in leaked:
        q.stop()
    if leaked:
        pytest.fail("streaming queries left running: "
                    + ", ".join(q.name or q.id for q in leaked))
