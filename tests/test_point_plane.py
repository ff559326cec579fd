"""The driver point plane: ``VersionedTable._live_rows`` (the pyarrow
read behind point-cache misses and ``find_by``), ``max_pk`` and the
driver primary-replica choice.  Each keeps one rule with the Spark form
it replaced, which stays here as the oracle: ``_live_hits`` (the
last-writer-wins merge of ``_latest_by_abs_version``), a max over
``snapshot()``, and ``group_argmax``."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from adfs_spark import storage
from adfs_spark.blockmap import primary_replicas
from adfs_spark.filesystem import FileSystemStore
from adfs_spark.operators.aggregates import group_argmax
from adfs_spark.schema import BLOCK, ColumnSpec, IndexSpec, TableSpec
from adfs_spark.storage import VersionedTable

SPEC = TableSpec(
    name="pp",
    columns=(
        ColumnSpec("k", "long"),
        ColumnSpec("grp", "long"),
        ColumnSpec("name", "string"),
        ColumnSpec("part", "string"),
        ColumnSpec("val", "long"),
    ),
    primary_key=("k",),
    indexes=(
        IndexSpec("GRP_NAME", ("grp", "name"), unique=True),
        IndexSpec("PART", ("part",)),
    ),
    versioned=True,
)
DDL = "k: long, grp: long, name: string, part: string, val: long"
LAYOUTS = {"plain": {}, "num_buckets": {"num_buckets": 4}}


def _cond(cols, key):
    out = None
    for c, v in zip(cols, key):
        e = F.col(c) == v
        out = e if out is None else out & e
    return out


def _dicts(rows) -> list:
    return sorted((sorted(r.asDict().items()) for r in rows), key=repr)


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_driver_read_matches_live_hits(spark, tmp_path, monkeypatch, layout):
    """Random insert / update / rename / delete / Spark-append / fold /
    fenced-abort steps with a tail pending; after each, the driver read
    of a pk, a (grp, name) key, a grp prefix and a part value equals
    the live rows ``_live_hits`` returns — including a key whose row
    moved off it in the tail."""
    rng = random.Random(f"point-plane-{layout}")
    t = VersionedTable(spark, SPEC, str(tmp_path / layout), **LAYOUTS[layout])
    t.init(spark.createDataFrame(
        [(k, k % 3, f"n{k}", "ab"[k % 2], k) for k in range(12)], DDL
    ))
    # a folded row renamed in the tail: current/ still holds its old key
    t.point_write(updates={4: {"grp": 9, "name": "moved", "part": "b"}})
    moved = (1, "n4")
    next_k = 100

    def boom(self, vt_new):
        raise RuntimeError("crash before publish")

    steps = ["insert", "update", "rename", "delete", "spark_append",
             "abort", "rename", "fold", "rename", "insert", "delete"]
    rng.shuffle(steps)
    for step in ["check"] + steps:
        some = rng.choice(t._live_hits().collect())
        if step == "insert":
            t.point_write(rows=[{"k": next_k, "grp": rng.randrange(3), "name": f"n{next_k}",
                                 "part": rng.choice("ab"), "val": 0}])
            next_k += 1
        elif step == "update":
            t.point_write(updates={some["k"]: {"val": rng.randrange(1000)}})
        elif step == "rename":
            moved = (some["grp"], some["name"])
            t.point_write(updates={some["k"]: {
                "grp": rng.randrange(3), "name": f"r{next_k}", "part": rng.choice("ab")}})
            next_k += 1
        elif step == "delete":
            t.point_write(deletes=[some["k"]])
        elif step == "spark_append":
            t.upsert(spark.createDataFrame(
                [(some["k"], some["grp"], some["name"], some["part"], -1),
                 (next_k, 2, f"n{next_k}", "a", 1)], DDL), mode="append")
            next_k += 1
        elif step == "abort":
            with monkeypatch.context() as m:
                m.setattr(VersionedTable, "_mark_visible", boom)
                with pytest.raises(RuntimeError):
                    t.point_write(updates={some["k"]: {"grp": 7, "name": "ghost"}})
            # the next commit stamps past the fence: the fenced rows now
            # sit inside (ct, vt]
            t.point_write(rows=[{"k": next_k, "grp": 0, "name": f"n{next_k}",
                                 "part": "a", "val": 0}])
            next_k += 1
        elif step == "fold":
            t.upsert(spark.createDataFrame([(next_k, 0, f"n{next_k}", "b", 0)], DDL))
            next_k += 1
        live = t._live_hits().collect()
        pick = rng.choice(live)
        cases = [
            (("k",), (pick["k"],)),
            (("k",), (next_k + 50,)),
            (("grp", "name"), (pick["grp"], pick["name"])),
            (("grp", "name"), (7, "ghost")),
            (("grp",), (pick["grp"],)),
            (("part",), ("a",)),
        ]
        for cols, key in cases:
            want = [r for r in live if tuple(r[c] for c in cols) == key]
            got = t._live_rows(cols, {key})
            assert _dicts(got) == _dicts(want), (step, cols, key)
            assert all(list(r.asDict()) == SPEC.column_names() for r in got)
        got = t._live_rows(("grp", "name"), {moved})
        want = t._live_hits(_cond(("grp", "name"), moved)).collect()
        assert _dicts(got) == _dicts(want), (step, moved)
        # several keys in one read: the union of their single-key reads
        for cols, several in [
            (("k",), {(pick["k"],), (some["k"],), (next_k + 50,)}),
            (("grp", "name"), {(pick["grp"], pick["name"]), (some["grp"], some["name"]), moved}),
            (("grp",), {(0,), (2,), (7,)}),
        ]:
            want = [r for r in live if tuple(r[c] for c in cols) in several]
            assert _dicts(t._live_rows(cols, several)) == _dicts(want), (step, cols, several)
        assert set(map(tuple, t.find_by("PART", ("a",), limit=1))) <= {
            tuple(r) for r in t.find_by("PART", ("a",))
        }
        assert len(t.find_by("PART", ("b",), limit=2)) == min(
            2, sum(r["part"] == "b" for r in live)
        )
    assert t.max_pk() == t.snapshot().agg(F.max("k")).first()[0]


def test_find_by_checks_its_index():
    t = VersionedTable(None, SPEC, "/nonexistent")
    with pytest.raises(ValueError):
        t.find_by("NOPE", (1,))
    with pytest.raises(ValueError):
        t.find_by("GRP_NAME", (1, "a", "extra"))


def test_driver_primary_replicas_match_group_argmax(spark):
    """The driver primary replica per block, and a file's sum of primary
    lengths over completed replicas, against the ``group_argmax`` form
    ``file_length_from_blocks`` used to run."""
    rng = random.Random(11)
    rows, v = [], 0
    for block in range(60):
        for dn in range(rng.randint(1, 3)):
            v += 1
            rows.append((block, dn, rng.choice([-1, 0, 5, 7, 100]),
                         rng.choice([None, 1, 2, 2]), block % 7, 0, v))
    df = spark.createDataFrame(rows, BLOCK.struct_type())
    replicas = df.collect()
    want = group_argmax(df, ["id"], ["generationStamp", "version"]).collect()
    assert _dicts(primary_replicas(replicas)) == _dicts(want)
    done = df.filter(F.col("length") > 0)
    sums = {
        r["fileId"]: r["s"]
        for r in group_argmax(done, ["id"], ["generationStamp", "version"])
        .groupBy("fileId").agg(F.sum("length").alias("s")).collect()
    }
    for fid in range(7):
        got = sum(r["length"] for r in primary_replicas(
            [r for r in replicas if r["fileId"] == fid and r["length"] > 0]))
        assert got == sums.get(fid, 0), fid


@pytest.mark.parametrize("folded", [False, True])
def test_cold_handle_verbs_run_no_spark_job(spark, tmp_path, spark_jobs, folded):
    """Each verb on a fresh handle — every lookup a point-cache miss —
    runs no Spark job, with the rows still in the tail or folded into
    current/."""
    root = str(tmp_path / "w")
    fs = FileSystemStore.create_at(spark, root)
    fs.namespace.mkdirs("/a/b")
    fs.namespace.mkdirs("/c")
    fid = fs.create_file("/a/b/f", lease_holder="h")
    fs.allocate_block(fid, 9, 0, [1, 2])
    if folded:
        for t in fs.txn.tables.values():
            t.compact()

    def fresh():
        return FileSystemStore.open_at(spark, root)

    verbs = [
        ("getFileInfo", fresh(), lambda s: s.namespace.get_file_info("/a/b/f")),
        ("create", fresh(), lambda s: s.create_file("/a/b/g", lease_holder="h2")),
        ("complete", fresh(), lambda s: s.complete_file("/a/b/g")),
        ("rename", fresh(), lambda s: s.namespace.rename("/a/b/g", "/c", "m")),
        ("setReplication", fresh(), lambda s: s.namespace.set_replication("/c/m", 2)),
        ("complete", fresh(), lambda s: s.complete_file("/a/b/f")),
    ]
    for verb, store, run in verbs:
        _, n = spark_jobs(lambda: run(store))
        assert n == 0, verb
    got = fresh().namespace.get_file_info("/c/m")
    assert got["replication"] == 2 and got["leaseHolder"] is None
    assert got["id"] == fid + 1
    assert fs.blockmap.leases.live().collect() == []


def test_complete_probe_is_bounded_by_the_row_it_needs(spark, tmp_path, monkeypatch):
    """A holder with k open files completes one of them: the lease stays,
    with a refreshed time, and the still-open probe converts one row at
    a time instead of all k."""
    root = str(tmp_path / "w")
    fs = FileSystemStore.create_at(spark, root)
    fs.namespace.mkdirs("/d")
    k = 6
    for i in range(k):
        fs.create_file(f"/d/f{i}", lease_holder="h", now_ms=100 + i)
    for t in fs.txn.tables.values():
        t.compact()
    other = FileSystemStore.open_at(spark, root)
    sizes = []
    real = storage._arrow_rows

    def spy(tbl):
        rows = real(tbl)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(storage, "_arrow_rows", spy)
    other.complete_file("/d/f0", now_ms=999)
    monkeypatch.undo()
    assert max(sizes) == 1
    assert [tuple(r)[:2] for r in other.blockmap.leases.live().collect()] == [("h", 999)]
    assert len(other.namespace.table.find_by("LEASE_HOLDER", ("h",))) == k - 1
