from __future__ import annotations

import os
import time
import uuid

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from adfs_spark.session import get_spark

    s = get_spark("adfs-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(spark):
    from adfs_spark.catalog import register_views

    return register_views(spark, SF_DIR)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` → (fn(), number of Spark jobs fn ran), counted
    through the status tracker under a job group of its own."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def count(fn):
        gid = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(gid, "job count probe")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store fills from the asynchronous listener bus; once
        # a marker job submitted afterwards shows up, every earlier one has
        sc.setJobGroup(gid + "-mark", "listener bus marker")
        try:
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(gid + "-mark") and time.time() < deadline:
            time.sleep(0.05)
        return out, len(tracker.getJobIdsForGroup(gid))

    return count


@pytest.fixture()
def point_reads(monkeypatch):
    """``point_reads(fn)`` → (fn(), number of driver-side point-plane
    reads — ``VersionedTable._live_rows`` calls — fn ran)."""
    from adfs_spark.storage import VersionedTable

    calls = []
    real = VersionedTable._live_rows

    def spy(self, *args, **kwargs):
        calls.append(self.spec.name)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(VersionedTable, "_live_rows", spy)

    def count(fn):
        before = len(calls)
        out = fn()
        return out, len(calls) - before

    return count
