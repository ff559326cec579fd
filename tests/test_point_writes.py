"""Driver-side point mutations (``VersionedTable.point_write``, the
reference's cached read-modify-write, FileRepository.updateInternal
:226-286 over FileCache): warm namespace, lease and block writes run no
Spark job, leave exactly what the ``update_where`` path leaves, commit
once per verb, reject bad values before touching anything, and allocate
ids from the handle's high-water mark."""

from __future__ import annotations

import glob
import os
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from adfs_spark import filesystem as filesystem_mod
from adfs_spark import namespace as namespace_mod
from adfs_spark.filesystem import FileSystemStore
from adfs_spark.namespace import Namespace, _new_row
from adfs_spark.schema import BLOCK, FILE, LEASE, ColumnSpec, TableSpec
from adfs_spark.storage import VersionedTable


@pytest.fixture()
def fs(spark, tmp_path):
    store = FileSystemStore.create_at(spark, str(tmp_path / "world"))
    store.namespace.mkdirs("/data")
    store.namespace.mkdirs("/other")
    return store


def test_warm_point_verbs_run_no_spark_job(fs, spark_jobs):
    ns = fs.namespace
    fs.create_file("/data/warm", lease_holder="c0")
    _, n_miss = spark_jobs(lambda: ns.get_file_info("/data/cold"))
    fid, n = spark_jobs(lambda: fs.create_file("/data/f", lease_holder="c1"))
    assert n == n_miss  # only the PID_NAME absence check of "f"
    _, n = spark_jobs(lambda: ns.set_replication("/data/f", 5))
    assert n == 0
    _, n = spark_jobs(lambda: fs.allocate_block(fid, 70, 0, [1, 2]))
    assert n == 0
    assert ns.get_file_info("/other/g") is None  # warm the clash check
    _, n = spark_jobs(lambda: ns.rename("/data/f", "/other", "g"))
    assert n == 0
    got = ns.get_file_info("/other/g")
    assert got["id"] == fid and got["replication"] == 5
    assert {r["id"] for r in fs.blockmap.blocks.live().collect()} == {70}


def _sorted(rows) -> list:
    return sorted(rows, key=lambda t: [(x is None, x) for x in t])


def _history(t: VersionedTable) -> list:
    """Every changelog row: values, signed version and op."""
    return _sorted(tuple(r) for r in t.changelog().collect())


def _unversioned(t: VersionedTable) -> list:
    return _sorted(tuple(r)[:-1] for r in t.live().collect())


def _changelog_types(t: VersionedTable) -> set:
    files = glob.glob(os.path.join(t.changelog_path, "*", "*.parquet"))
    return {
        tuple((f.name, str(f.type)) for f in pq.read_schema(p)) for p in files
    }


def test_point_verbs_match_the_update_where_path(spark, tmp_path, monkeypatch):
    """Each verb against a twin store that makes the same change through
    the DataFrame writes (``upsert`` / ``update_where`` /
    ``delete_where``) the verbs used before: the same changelog rows —
    values, version stamps, ops — the same live rows, and the same
    changelog file types."""
    clock = SimpleNamespace(time=lambda: 1234.5)
    monkeypatch.setattr(namespace_mod, "time", clock)
    monkeypatch.setattr(filesystem_mod, "time", clock)
    now = 1234500
    a = FileSystemStore.create_at(spark, str(tmp_path / "a"))
    b = FileSystemStore.create_at(spark, str(tmp_path / "b"))
    for s in (a, b):
        s.namespace.mkdirs("/d")
        s.namespace.mkdirs("/e")
    nt, bt, lt = b.namespace.table, b.blockmap.blocks, b.blockmap.leases
    pairs = ((a.namespace.table, nt), (a.blockmap.blocks, bt), (a.blockmap.leases, lt))

    def file_df(*args, **kw):
        return spark.createDataFrame(
            [_new_row(*args, **kw)], FILE.struct_type(include_version=False)
        )

    def upd(fid, **cols):
        types = {c.name: c.type for c in FILE.columns}
        nt.update_where(
            F.col("id") == fid,
            {c: F.lit(v).cast(types[c]) for c, v in cols.items()},
            mode="append",
        )

    d, e = (b.namespace.get_file_info(p)["id"] for p in ("/d", "/e"))
    fid = nt.max_pk() + 1  # the next id on both stores

    def old_create():
        with b.txn.transaction():
            nt.upsert(file_df(fid, d, "f", 0, 64, 3, now, "c1"), overwrite=False)
            lt.upsert(spark.createDataFrame([("c1", 5)], LEASE.struct_type(False)))

    def old_allocate():
        with b.txn.transaction():
            bt.upsert(
                spark.createDataFrame(
                    [(70, dn, -1, 1, fid, 0) for dn in (1, 2)], BLOCK.struct_type(False)
                )
            )
            upd(fid, mtime=now)

    def old_complete():
        with b.txn.transaction():
            upd(fid, length=0, leaseHolder=None)
            lt.delete_where(F.col("holder") == "c1")

    def old_overwrite():
        nt.delete_where(F.col("id") == fid, mode="append")
        nt.upsert(file_df(fid + 1, d, "f", 0, 64, 3, now), overwrite=False, mode="append")

    steps = [
        (lambda: a.create_file("/d/f", 64, lease_holder="c1", now_ms=5), old_create),
        (lambda: a.allocate_block(fid, 70, 0, [1, 2]), old_allocate),
        (lambda: a.namespace.set_replication("/d/f", 5), lambda: upd(fid, replication=5)),
        (lambda: a.namespace.set_times("/d/f", 7, 8), lambda: upd(fid, mtime=7, atime=8)),
        (lambda: a.namespace.set_owner("/d/f", 42), lambda: upd(fid, owner=42)),
        (lambda: a.namespace.set_permission("/d/f", 0o600), lambda: upd(fid, permission=0o600)),
        (lambda: a.complete_file("/d/f"), old_complete),
        (lambda: a.namespace.append_file("/d/f", "c2"), lambda: upd(fid, leaseHolder="c2")),
        (
            lambda: a.namespace.recover_lease("/d/f", 9, now_ms=10),
            lambda: upd(fid, length=9, leaseHolder=None, leaseRecoveryTime=10, mtime=10),
        ),
        (lambda: a.namespace.set_quota("/d", ns_quota=10), lambda: upd(d, nsQuota=10)),
        (lambda: a.namespace.create("/d/f", 64, overwrite=True), old_overwrite),
    ]
    for new, old in steps:
        new()
        old()
    for ta, tb in pairs:
        assert _history(ta) == _history(tb), ta.spec.name
    # rename stamps its three rows in pk order, where the two
    # update_where calls stamped the edge first: the same stamps,
    # assigned to other keys
    a.namespace.rename("/d/f", "/e", "g")
    upd(fid + 1, parentId=e, name="g")
    upd(d, mtime=now)
    upd(e, mtime=now)
    for ta, tb in pairs:
        assert _unversioned(ta) == _unversioned(tb), ta.spec.name
        stamps = [sorted(r[-3] for r in _history(t)) for t in (ta, tb)]
        assert stamps[0] == stamps[1], ta.spec.name
        assert _changelog_types(ta) == _changelog_types(tb)


def test_rename_and_overwrite_create_commit_once(spark, tmp_path, fs):
    solo = Namespace.create_at(spark, str(tmp_path / "solo"))
    solo.mkdirs("/a")
    solo.mkdirs("/b")
    solo.create("/a/f")
    enrolled = fs.namespace
    fs.create_file("/data/f")
    for ns, last in ((solo, solo.table.last_commit_id), (enrolled, fs.txn.last_commit_id)):
        top = "/a" if ns is solo else "/data"
        dst = "/b" if ns is solo else "/other"
        c0 = last()
        ns.rename(f"{top}/f", dst, "g")
        assert last() == c0 + 1
        old = ns.get_file_info(f"{dst}/g")
        ns.create(f"{dst}/g", overwrite=True)
        assert last() == c0 + 2
        new = ns.get_file_info(f"{dst}/g")
        assert new["id"] > old["id"]
        assert ns.table.find_one(old["id"]) is None


def _txn_state(fs):
    t = fs.namespace.table
    return (
        sorted(glob.glob(os.path.join(t.changelog_path, "**", "*"), recursive=True)),
        sorted(os.listdir(fs.txn.commits_path)),
        fs.txn.latest(),
        t._local_overlay_meta(),
        dict(t._pc.entries),
        t._pc.max_pk,
    )


def test_out_of_range_value_raises_before_anything_is_written(fs):
    ns = fs.namespace
    fid = fs.create_file("/data/f")
    assert ns.get_file_info("/data/f")["id"] == fid
    before = _txn_state(fs)
    with pytest.raises(ValueError, match="replication"):
        ns.set_replication("/data/f", 300)
    with pytest.raises(ValueError, match="owner"):
        ns.set_owner("/data/f", 2**31)
    with pytest.raises(ValueError, match="name"):
        ns.table.point_write(updates={fid: {"name": 7}})
    with pytest.raises(ValueError, match="columns"):
        ns.table.point_write(updates={fid: {"nope": 1}})
    assert _txn_state(fs) == before
    ns.set_replication("/data/f", 127)
    assert ns.get_file_info("/data/f")["replication"] == 127


def test_alternating_handles_allocate_unique_increasing_ids(fs, spark, tmp_path):
    other = FileSystemStore.open_at(spark, str(tmp_path / "world"))
    ids = []
    for i in range(3):
        ids.append(fs.create_file(f"/data/a{i}"))
        ids.append(other.create_file(f"/data/b{i}"))
    assert ids == sorted(set(ids))
    for h in (fs, other):
        got = {r["name"]: r["id"] for r in h.namespace.get_listing("/data").collect()}
        assert sorted(got.values()) == ids


def test_bulk_distributed_upsert_resets_the_high_water_mark(spark, tmp_path):
    ns = Namespace.create_at(spark, str(tmp_path / "solo"))
    d = ns.mkdirs("/d")
    t = ns.table
    assert t._pc.max_pk == d
    bulk = spark.createDataFrame(
        [_new_row(500 + i, d, f"bulk{i}", 0, 64, 3, 0) for i in range(4)],
        FILE.struct_type(include_version=False),
    )
    t.upsert(bulk)  # merge mode: the distributed write path
    assert t._pc.max_pk is None
    assert ns.create("/d/next") == 504
    assert t._pc.max_pk == 504


KV = TableSpec(
    name="pwkv",
    columns=(ColumnSpec("k", "long"), ColumnSpec("v", "string"), ColumnSpec("n", "byte")),
    primary_key=("k",),
    versioned=True,
)


def test_point_write_forms_and_standalone_fold_bound(spark, tmp_path):
    t = VersionedTable(spark, KV, str(tmp_path / "kv"))
    t.init(spark.createDataFrame([(1, "a", 1), (2, "b", 2)], "k long, v string, n byte"))
    t.append_threshold = 2
    t.overlay_fold_factor = 1
    live = lambda: {r["k"]: (r["v"], r["n"]) for r in t.live().collect()}  # noqa: E731
    with pytest.raises(ValueError, match="already exists"):
        t.point_write(rows=[{"k": 1, "v": "x", "n": 0}], overwrite=False)
    with pytest.raises(ValueError, match="more than once"):
        t.point_write(updates={1: {"v": "x"}}, deletes=[1])
    with pytest.raises(ValueError, match="append_threshold"):
        t.point_write(deletes=[1, 2, 3])
    t.point_write(updates={1: {"v": "x"}, 9: {"v": "ghost"}})  # 9: no-op
    assert "n_ops" not in t.last_write_phases  # one op, not a group
    assert live() == {1: ("x", 1), 2: ("b", 2)}
    meta = t._overlay_meta()
    assert meta["visible_through"] - meta["compacted_through"] == 1
    t.point_write(rows=[{"k": 3, "v": "c", "n": 3}], deletes=[2])
    assert live() == {1: ("x", 1), 3: ("c", 3)}
    # the pending tail passed max(2 * 1, ...) = 2 versions: folded
    meta = t._overlay_meta()
    assert meta["visible_through"] == meta["compacted_through"] == 5
    ops = {(r["k"], r["version"]): r["_op"] for r in t.changelog().collect()}
    assert ops[(2, -4)] == "DELETE" and ops[(3, 5)] == "UPSERT"
    assert ops[(1, 3)] == "UPDATE"
    t.upsert(spark.createDataFrame([(6, "f", 6)], "k long, v string, n byte"), mode="append")
    assert "hit_scan_sec" in t.last_write_phases  # the driver-side append
    assert "n_ops" not in t.last_write_phases
