"""The driver-side point cache (``VersionedTable.find_one`` /
``find_unique``, the reference's FileCache, FileCache.java:34-99): warm
namespace path lookups run no Spark job, and the cache stays coherent
across handles, failed transactions, renames, creates, compactions,
deletes and its FIFO bound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adfs_spark import storage
from adfs_spark.filesystem import FileSystemStore
from adfs_spark.namespace import PID_NAME, Namespace
from adfs_spark.schema import FILE, ColumnSpec, TableSpec
from adfs_spark.storage import TransactionLog, VersionedTable


@pytest.fixture()
def fs(spark, tmp_path):
    store = FileSystemStore.create_at(spark, str(tmp_path / "world"))
    store.namespace.mkdirs("/data")
    return store


def test_warm_get_file_info_runs_no_spark_job(fs, spark, tmp_path, spark_jobs, point_reads):
    fid = fs.create_file("/data/f", lease_holder="c1")

    def lookup(store, path):
        return point_reads(lambda: spark_jobs(lambda: store.namespace.get_file_info(path)))

    # a fresh handle starts cold: its lookups read the table, on the
    # driver
    other = FileSystemStore.open_at(spark, str(tmp_path / "world"))
    (cold, n_cold), r_cold = lookup(other, "/data/f")
    assert cold["id"] == fid and r_cold >= 1 and n_cold == 0
    (warm, n_warm), r_warm = lookup(other, "/data/f")
    assert warm == cold and r_warm == 0 and n_warm == 0
    # the writing handle has the row from its own write-through
    (mine, n_mine), r_mine = lookup(fs, "/data/f")
    assert mine == cold and r_mine == 0 and n_mine == 0
    (missing, n_miss), r_miss = lookup(other, "/data/nope")
    assert missing is None and r_miss >= 1 and n_miss == 0
    (again, n_again), r_again = lookup(other, "/data/nope")
    assert again is None and r_again == 0 and n_again == 0  # negative entry


def test_write_through_one_handle_is_seen_by_another(fs, spark, tmp_path):
    a = fs
    b = FileSystemStore.open_at(spark, str(tmp_path / "world"))
    fid = a.create_file("/data/x")
    assert b.namespace.get_file_info("/data/x")["replication"] == 3
    assert b.namespace.get_file_info("/data/z") is None
    a.namespace.set_replication("/data/x", 5)
    assert b.namespace.get_file_info("/data/x")["replication"] == 5
    a.namespace.rename("/data/x", "/data", "y")
    assert b.namespace.get_file_info("/data/x") is None
    assert b.namespace.get_file_info("/data/y")["id"] == fid
    a.create_file("/data/z")
    assert b.namespace.get_file_info("/data/z") is not None
    # and back: B's writes reach A's cache
    b.namespace.set_replication("/data/y", 2)
    assert a.namespace.get_file_info("/data/y")["replication"] == 2


def test_miss_racing_another_handles_commit_is_not_served_stale(
    fs, spark, tmp_path, monkeypatch
):
    # concurrent clients each use their own handle: B's miss read
    # finishes on the old state, then A commits a create; the negative
    # entry B caches reflects the older commit, so B's next lookup
    # probes A's commit and reads again
    b = FileSystemStore.open_at(spark, str(tmp_path / "world"))
    assert b.namespace.get_file_info("/data") is not None
    real = VersionedTable._live_rows
    raced = []

    def racing(self, *args, **kwargs):
        rows = real(self, *args, **kwargs)
        if self is b.namespace.table and not raced:
            raced.append(fs.create_file("/data/r"))
        return rows

    monkeypatch.setattr(VersionedTable, "_live_rows", racing)
    assert b.namespace.get_file_info("/data/r") is None
    monkeypatch.undo()
    assert raced
    assert b.namespace.get_file_info("/data/r")["id"] == raced[0]


def test_any_commit_of_another_handle_clears_the_cache(fs, spark, tmp_path, point_reads):
    b = FileSystemStore.open_at(spark, str(tmp_path / "world"))
    assert b.namespace.get_file_info("/data") is not None
    _, n = point_reads(lambda: b.namespace.get_file_info("/data"))
    assert n == 0
    with fs.txn.transaction():
        pass  # a commit that changes no table's content
    got, n = point_reads(lambda: b.namespace.get_file_info("/data"))
    assert got is not None and n >= 1


def test_standalone_table_handles_stay_coherent(spark, tmp_path):
    root = str(tmp_path / "solo")
    a = Namespace.create_at(spark, root)
    a.mkdirs("/d")
    b = Namespace(VersionedTable(spark, FILE, root))
    assert b.get_file_info("/d/f") is None
    fid = a.create("/d/f")
    assert b.get_file_info("/d/f")["id"] == fid
    a.set_replication("/d/f", 7)
    assert b.get_file_info("/d/f")["replication"] == 7


def test_raising_transaction_leaves_no_cached_row(fs):
    ns = fs.namespace
    assert ns.get_file_info("/data/ghost") is None
    with pytest.raises(RuntimeError):
        with fs.txn.transaction():
            ns.create("/data/ghost")
            # read-your-own-writes inside the verb, from the cache
            assert ns.get_file_info("/data/ghost") is not None
            raise RuntimeError("verb failed")
    assert ns.get_file_info("/data/ghost") is None
    assert not ns.ns().filter(F.col("name") == "ghost").take(1)


def test_failed_standalone_write_leaves_no_cached_row(spark, tmp_path, monkeypatch):
    ns = Namespace.create_at(spark, str(tmp_path / "solo"))
    ns.mkdirs("/d")

    def boom(self, vt_new):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(VersionedTable, "_mark_visible", boom)
    with pytest.raises(RuntimeError):
        ns.create("/d/ghost")
    monkeypatch.undo()
    assert ns.get_file_info("/d/ghost") is None


def test_rename_invalidates_old_and_new_keys(fs, spark, spark_jobs):
    ns = fs.namespace
    t = ns.table
    ns.mkdirs("/other")
    data_id = ns.get_file_info("/data")["id"]
    other_id = ns.get_file_info("/other")["id"]
    fid = fs.create_file("/data/a")
    assert ns.get_file_info("/data/a")["id"] == fid
    assert ns.get_file_info("/other/b") is None  # negative entry
    assert t._pc.entries[(PID_NAME, (other_id, "b"))] is None
    ns.rename("/data/a", "/other", "b")
    # both keys were rewritten by the write itself: no re-read needed
    old, n_old = spark_jobs(lambda: ns.get_file_info("/data/a"))
    new, n_new = spark_jobs(lambda: ns.get_file_info("/other/b"))
    assert old is None and n_old == 0
    assert new["id"] == fid and new["parentId"] == other_id and n_new == 0
    assert t._pc.entries[(PID_NAME, (data_id, "a"))] is None
    assert t._pc.entries[(PID_NAME, (other_id, "b"))] == (fid,)


def test_negative_entry_turns_positive_after_create(fs, spark, spark_jobs):
    ns = fs.namespace
    assert ns.get_file_info("/data/n") is None
    _, n = spark_jobs(lambda: ns.get_file_info("/data/n"))
    assert n == 0
    fid = fs.create_file("/data/n", lease_holder="c2")
    got, n = spark_jobs(lambda: ns.get_file_info("/data/n"))
    assert got["id"] == fid and got["leaseHolder"] == "c2" and n == 0
    # mkdirs over a cached miss: the new directory is served too
    assert ns.get_file_info("/data/dir") is None
    did = ns.mkdirs("/data/dir")
    got, n = spark_jobs(lambda: ns.get_file_info("/data/dir"))
    assert got["id"] == did and got["length"] == -1 and n == 0


def test_compact_keeps_entries_and_recursive_delete_removes_them(fs, spark, spark_jobs):
    ns = fs.namespace
    t = ns.table
    ns.mkdirs("/data/d/e")
    fid = fs.create_file("/data/d/e/f")
    rows = {p: ns.get_file_info(p) for p in ("/data/d", "/data/d/e", "/data/d/e/f")}
    before = dict(t._pc.entries)
    ns.compact()
    assert dict(t._pc.entries) == before
    after, n = spark_jobs(lambda: [ns.get_file_info(p) for p in rows])
    assert after == list(rows.values()) and n == 0
    assert fs.delete("/data/d", recursive=True) == 3
    for p, row in rows.items():
        assert ns.get_file_info(p) is None
        assert t._pc.entries.get((None, (row["id"],)), "absent") in (None, "absent")
    assert ns.get_file_info("/data")["length"] == -1
    assert fid == rows["/data/d/e/f"]["id"]


def test_fifo_bound_holds(fs, monkeypatch):
    ns = fs.namespace
    t = ns.table
    monkeypatch.setattr(storage, "POINT_CACHE_CAPACITY", 5)
    ids = {}
    for i in range(4):
        ids[f"/data/f{i}"] = fs.create_file(f"/data/f{i}")
        assert len(t._pc.entries) <= 5
    for p in ids:
        assert ns.get_file_info(p)["id"] == ids[p]
        assert len(t._pc.entries) <= 5
    # evictions never change an answer
    for p in ids:
        assert ns.get_file_info(p)["id"] == ids[p]
    assert ns.get_file_info("/data/f9") is None
    assert len(t._pc.entries) <= 5
    # first in, first out; overwriting a slot keeps its place
    pc = storage._PointCache(FILE)
    for i in range(7):
        pc.fill_miss((None, (i,)), None)
    pc.fill_miss((None, (3,)), None)
    assert list(pc.entries) == [(None, (i,)) for i in range(2, 7)]


KV = TableSpec(
    name="pckv",
    columns=(ColumnSpec("k", "long"), ColumnSpec("v", "string")),
    primary_key=("k",),
    versioned=True,
)


def test_commit_ids_probe_forward_and_stay_dense(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "kv")
    a = VersionedTable(spark, KV, root)
    a.init(spark.createDataFrame([(1, "a")], "k: long, v: string"))
    b = VersionedTable(spark, KV, root)
    assert b.last_commit_id() == a.last_commit_id() == 1
    # after the first call a handle never lists the commit directory
    def no_list(prefix):
        raise AssertionError("commit discovery listed " + prefix)

    monkeypatch.setattr(a.backend, "list", no_list)
    monkeypatch.setattr(b.backend, "list", no_list)
    a.upsert(spark.createDataFrame([(2, "b")], "k: long, v: string"), mode="append")
    assert b.last_commit_id() == 2
    with pytest.raises(ValueError):  # a failed write burns no id
        b.upsert(
            spark.createDataFrame([(1, "dup")], "k: long, v: string"),
            overwrite=False,
        )
    b.upsert(spark.createDataFrame([(3, "c")], "k: long, v: string"), mode="append")
    assert a.last_commit_id() == b.last_commit_id() == 3
    monkeypatch.undo()
    got = sorted(
        int(f.split(".")[0]) for f in a.backend.list(a.commits_path) if f.endswith(".commit")
    )
    assert got == [1, 2, 3]

    # transaction log: an aborted transaction commits a fence-only
    # manifest, so its id is used, not skipped
    log = TransactionLog(str(tmp_path / "txn"))
    log.enroll(a)
    with log.transaction():
        a.upsert(spark.createDataFrame([(4, "d")], "k: long, v: string"))
    with pytest.raises(RuntimeError):
        with log.transaction():
            a.upsert(spark.createDataFrame([(5, "e")], "k: long, v: string"))
            raise RuntimeError("verb failed")
    with log.transaction():
        a.upsert(spark.createDataFrame([(6, "f")], "k: long, v: string"))
    other = TransactionLog(str(tmp_path / "txn"))
    assert other.last_commit_id() == log.last_commit_id() == 3
    got = sorted(
        int(f.split(".")[0]) for f in log.backend.list(log.commits_path) if f.endswith(".commit")
    )
    assert got == [1, 2, 3]
    assert {r["k"] for r in a.live().collect()} == {1, 2, 3, 4, 6}


def test_max_pk_matches_snapshot_max(fs):
    ns = fs.namespace
    fs.create_file("/data/m1")
    fs.create_file("/data/m2")
    fs.delete("/data/m2")  # a tombstone still holds its id
    t = ns.table
    want = t.snapshot().agg(F.max("id")).first()[0]
    assert t.max_pk() == want
    assert ns._next_id() == want + 1
