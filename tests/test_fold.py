"""The driver-side checkpoint: ``VersionedTable.compact`` folds a small
committed tail into current/ with pyarrow (``_fold_tail``), rewriting
only the files the tail touches.  The Spark rewrite of ``snapshot()``
that compact runs for a tail larger than ``append_threshold`` stays
here as the oracle: a twin table with ``append_threshold=0`` at compact
time takes it for every fold."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from adfs_spark.filesystem import FileSystemStore
from adfs_spark.schema import ColumnSpec, TableSpec
from adfs_spark.storage import VersionedTable

SPEC = TableSpec(
    name="fold",
    columns=(
        ColumnSpec("k", "long"),
        ColumnSpec("grp", "long"),
        ColumnSpec("name", "string"),
        ColumnSpec("val", "long"),
    ),
    primary_key=("k",),
    versioned=True,
)
DDL = "k: long, grp: long, name: string, val: long"
LAYOUTS = {"plain": {}, "num_buckets": {"num_buckets": 4}}


def _rows(t) -> list:
    return sorted(tuple(r) for r in t.snapshot().collect())


def _marks(t) -> tuple:
    m = t._overlay_meta()
    aborted = sorted(list(map(int, r)) for r in m.get("aborted", []))
    return int(m["compacted_through"]), int(m["visible_through"]), aborted


def _files(t) -> dict:
    """current/'s data files: path relative to current/ -> inode."""
    out = {}
    for d, _, names in os.walk(t.current_path):
        for n in names:
            if n[0] not in "._":
                p = os.path.join(d, n)
                out[os.path.relpath(p, t.current_path)] = os.stat(p).st_ino
    return out


def _table(spark, tmp_path, name, threshold, seed_keys, **layout) -> VersionedTable:
    t = VersionedTable(spark, SPEC, str(tmp_path / name), append_threshold=threshold, **layout)
    t.init(spark.createDataFrame([(k, k % 3, f"n{k}", k) for k in seed_keys], DDL))
    return t


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_driver_fold_matches_spark_rewrite(spark, tmp_path, monkeypatch, layout):
    """Random driver and Spark appends, updates, deletes and fenced
    aborts; after every compact the driver twin's ``snapshot()`` rows
    and (compacted_through, visible_through, aborted) equal the twin
    whose compacts all take the Spark rewrite, and current/ holds each
    pk once."""
    rng = random.Random(f"fold-{layout}")
    threshold = 12
    twins = [
        _table(spark, tmp_path, side, threshold, range(0, 60, 2), **LAYOUTS[layout])
        for side in ("driver", "spark")
    ]
    driver, oracle = twins
    next_k = 100

    def boom(self, vt_new):
        raise RuntimeError("crash before publish")

    for i in range(14):
        live = sorted(r["k"] for r in driver.live().collect())
        some, other = rng.sample(live, 2)
        step = rng.choice(["insert", "update", "delete", "spark_append",
                           "spark_update", "spark_delete", "abort"])
        for t in twins:
            if step == "insert":
                t.point_write(rows=[{"k": k, "grp": 1, "name": f"n{k}", "val": 0}
                                    for k in (next_k, some * 2 + 1)])
            elif step == "update":
                t.point_write(updates={some: {"val": i, "name": f"u{i}"}, other: {"grp": 7}})
            elif step == "delete":
                t.point_write(deletes=[some, next_k + 999])
            elif step == "spark_append":
                base = t._stamp_base()
                t.append_ops(spark.createDataFrame(
                    [(some, 5, f"a{i}", i, base + 1), (next_k, 5, f"a{i}", i, base + 2),
                     (other, 0, "gone", 0, -(base + 3))],
                    DDL + ", version: long",
                ))
            elif step == "spark_update":
                t.update_where(F.col("k").isin(some, other), {"val": -i}, mode="merge")
            elif step == "spark_delete":
                t.delete_where(F.col("k") == some, mode="merge")
            elif step == "abort":
                with monkeypatch.context() as m:
                    m.setattr(VersionedTable, "_mark_visible", boom)
                    with pytest.raises(RuntimeError):
                        t.point_write(updates={some: {"name": "ghost"}})
                t.point_write(rows=[{"k": next_k, "grp": 0, "name": "after", "val": 0}])
        next_k += 1
        if i % 2:
            driver.compact()
            oracle.append_threshold = 0
            try:
                oracle.compact()
            finally:
                oracle.append_threshold = threshold
            assert _rows(driver) == _rows(oracle), (i, step)
            assert _marks(driver) == _marks(oracle), (i, step)
            cur = driver._current_dataset().to_table(columns=["k"])
            assert len(set(cur["k"].to_pylist())) == cur.num_rows, (i, step)


def test_small_tail_compact_runs_no_spark_job(spark, tmp_path, spark_jobs):
    """A fresh handle folds a few verbs' tail without a Spark job, and a
    compact with nothing pending runs none either."""
    root = str(tmp_path / "w")
    fs = FileSystemStore.create_at(spark, root)
    fs.namespace.mkdirs("/a/b")
    fid = fs.create_file("/a/b/f", lease_holder="h")
    fs.allocate_block(fid, 9, 0, [1, 2])
    fresh = FileSystemStore.open_at(spark, root)
    for _ in range(2):
        _, n = spark_jobs(lambda: [t.compact() for t in fresh.txn.tables.values()])
        assert n == 0
    for t in fresh.txn.tables.values():
        m = t._overlay_meta()
        assert m["compacted_through"] == m["visible_through"], t.spec.name
    assert fresh.namespace.get_file_info("/a/b/f")["id"] == fid
    # Spark reads the driver-written files: byte, short and string columns
    table = fresh.namespace.table
    assert [r for r in table.live().collect() if r["id"] == fid] == [table.find_one(fid)]
    assert [r["id"] for r in fs.blockmap.blocks.live().collect()] == [9, 9]


def test_empty_tail_changes_no_file(spark, tmp_path):
    t = _table(spark, tmp_path, "t", 8, range(20))
    t.point_write(updates={3: {"val": -3}})
    t.compact()
    before = _files(t)
    dir_ino = os.stat(t.current_path).st_ino
    t.compact()
    assert _files(t) == before
    assert os.stat(t.current_path).st_ino == dir_ino


def _three_files(spark, tmp_path, name, **layout) -> VersionedTable:
    """A table folded on the driver into disjoint pk-range files."""
    t = _table(spark, tmp_path, name, 10, [0], **layout)
    for lo in range(1, 31, 10):
        t.point_write(rows=[{"k": k, "grp": 0, "name": f"n{k}", "val": k}
                            for k in range(lo, lo + 10)])
        t.compact()
    return t


def _spark_files(spark, tmp_path, name) -> VersionedTable:
    """A table whose tail outgrew ``append_threshold``: the Spark
    rewrite range-partitions it by pk."""
    t = _table(spark, tmp_path, name, 10, [0])
    t.upsert(spark.createDataFrame(
        [(k, 0, f"n{k}", k) for k in range(1, 40)], DDL), mode="append")
    t.compact()
    return t


@pytest.mark.parametrize("build", [_three_files, _spark_files], ids=["driver", "spark"])
def test_one_row_update_replaces_one_file(spark, tmp_path, build):
    t = build(spark, tmp_path, "t")
    before = _files(t)
    assert len(before) >= 3
    t.point_write(updates={15: {"val": -15}})
    t.compact()
    after = _files(t)
    kept = {n for n in before if after.get(n) == before[n]}
    assert len(kept) == len(before) - 1
    assert len(after) == len(before)
    assert t.find_one(15)["val"] == -15


def test_new_pk_folds_do_not_grow_file_count(spark, tmp_path):
    """New pks join their home file; a file splits only past
    ``append_threshold`` rows, which these twenty rows do not reach."""
    t = _three_files(spark, tmp_path, "t")
    t.append_threshold = 40
    n = len(_files(t))
    for k in range(100, 120):
        t.point_write(rows=[{"k": k, "grp": 1, "name": f"n{k}", "val": k}])
        t.compact()
        assert len(_files(t)) == n, k
    assert t.count() == 31 + 20


def test_failure_before_swap_leaves_current_unchanged(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path, "t", 8, range(20))
    t.point_write(updates={3: {"val": -3}}, deletes=[4])
    rows, files = _rows(t), _files(t)

    def boom(self, staged):
        raise RuntimeError("crash before the swap")

    with monkeypatch.context() as m:
        m.setattr(VersionedTable, "_swap_in", boom)
        with pytest.raises(RuntimeError):
            t.compact()
    assert _files(t) == files
    assert _rows(t) == rows
    assert t.find_one(3)["val"] == -3 and t.find_one(4) is None
    assert not [n for n in os.listdir(t.root) if n.startswith("_tmp_")]
    t.compact()
    assert _rows(t) == rows


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_second_handle_reads_folded_rows(spark, tmp_path, layout):
    a = _table(spark, tmp_path, "t", 8, range(10), **LAYOUTS[layout])
    b = VersionedTable(spark, SPEC, a.root, append_threshold=8, **LAYOUTS[layout])
    assert b.find_one(2)["val"] == 2
    assert len(b.live().collect()) == 10
    a.point_write(updates={2: {"val": 20}}, deletes=[5],
                  rows=[{"k": 11, "grp": 0, "name": "n11", "val": 11}])
    a.compact()
    want = sorted(tuple(r) for r in a.live().collect())
    assert sorted(tuple(r) for r in b.live().collect()) == want
    assert b.find_one(2)["val"] == 20 and b.find_one(5) is None
    assert b.find_one(11)["name"] == "n11"


def test_overwrite_create_max_pk_reads_no_tail_row(spark, tmp_path, monkeypatch):
    """An overwrite-create commits a tombstone and a row in one file;
    each sits in its own row group, so the file's abs(version) range is
    tight and ``max_pk`` answers it from the footer."""
    fs = FileSystemStore.create_at(spark, str(tmp_path / "w"))
    ns = fs.namespace
    ns.mkdirs("/d")
    for t in fs.txn.tables.values():
        t.compact()
    ns.create("/d/f")
    new_id = ns.create("/d/f", overwrite=True)

    def no_read(*args, **kwargs):
        raise AssertionError("max_pk read a tail row")

    monkeypatch.setattr(ns.table, "_tail_table", no_read)
    assert ns.table.max_pk() == new_id
