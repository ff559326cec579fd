"""Subtree verbs on the driver point plane: ``Namespace._subtree`` (a
level-by-level PID_NAME walk behind getContentSummary, quota usage and
the quota checks), rename's cycle probe on the resolved ancestor chain,
and ``max_pk``'s footer answer for whole tail files.  The Spark forms
stay here as the oracles: ``aggregates.content_summary`` over the
``descendants`` operator, and a max over ``snapshot()``."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from adfs_spark.filesystem import FileSystemStore
from adfs_spark.namespace import (
    DIR_LENGTH,
    Namespace,
    NamespaceError,
    _new_row,
)
from adfs_spark.operators.aggregates import content_summary
from adfs_spark.operators.hierarchy import ROOT_ID, descendants
from adfs_spark.schema import FILE
from adfs_spark.storage import VersionedTable

LAYOUTS = {"plain": {}, "num_buckets": {"num_buckets": 4}}


def _namespace(spark, root: str, **layout) -> Namespace:
    t = VersionedTable(spark, FILE, root, **layout)
    t.init(spark.createDataFrame(
        [_new_row(ROOT_ID, ROOT_ID, "", DIR_LENGTH, 0, 0, 0)],
        FILE.struct_type(include_version=False),
    ))
    return Namespace(t)


def _oracle(live, dir_id: int) -> tuple[tuple, tuple]:
    """(content summary, (nsUsed, dsUsed)) of one directory from the
    Spark ``descendants`` operator over the live table ``live``: the
    usage counts every item below the directory, and its file bytes."""
    cs = tuple(content_summary(descendants(live, [dir_id], include_self=True)).first())
    total, n_files, n_dirs = cs
    return cs, (n_files + n_dirs - 1, total)


def _check_every_dir(ns: Namespace, dirs: set[str], step: str) -> None:
    live = ns.ns().localCheckpoint()
    for path in sorted(dirs):
        row = ns.get_file_info(path)
        want_cs, want_usage = _oracle(live, row["id"])
        got = ns.content_summary(path)
        assert tuple(got) == want_cs, (step, path)
        assert list(got.asDict()) == ["total_length", "file_count", "dir_count"]
        usage = ns.quota_usage(path)
        assert (usage["nsUsed"], usage["dsUsed"]) == want_usage, (step, path)


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_walk_matches_descendants_operator(spark, tmp_path, layout):
    """Random mkdirs / create / complete / rename / recursive delete /
    Spark upsert / compact / quota-checked create steps, with a tail
    pending; after each, getContentSummary and quota usage of every
    directory, the root included, equal the Spark operator's."""
    rng = random.Random(f"subtree-{layout}")
    ns = _namespace(spark, str(tmp_path / layout), **LAYOUTS[layout])
    dirs, files = {"/"}, set()

    def under(path: str, name: str) -> str:
        return path.rstrip("/") + "/" + name

    def some_file() -> str:
        if not files:  # a recursive delete took them all
            files.add(under("/", f"z{n}"))
            ns.create(under("/", f"z{n}"))
        return rng.choice(sorted(files))

    for d in ("/a/b", "/d"):
        ns.mkdirs(d)
    dirs |= {"/a", "/a/b", "/d"}
    for f in ("/a/b/f0", "/d/f1"):
        ns.create(f)
        files.add(f)
    ns.complete_file("/a/b/f0", 5)
    ns.compact()  # the rows above now sit in current/, the rest in the tail
    steps = ["mkdirs", "create", "complete", "rename", "rename_file", "delete",
             "upsert", "compact", "quota", "mkdirs"]
    rng.shuffle(steps)
    n, pending = 0, []
    _check_every_dir(ns, dirs, "start")
    for step in steps:
        n += 1
        if step == "mkdirs":
            new = under(rng.choice(sorted(dirs)), f"m{n}")
            ns.mkdirs(new)
            dirs.add(new)
        elif step == "create":
            f = under(rng.choice(sorted(dirs)), f"f{n}")
            ns.create(f)
            files.add(f)
        elif step == "complete":
            ns.complete_file(some_file(), rng.randrange(1, 1000))
        elif step == "rename":
            src = rng.choice(sorted(dirs - {"/"}))
            dst = rng.choice(sorted(d for d in dirs if d != src and not d.startswith(src + "/")))
            ns.rename(src, dst, f"r{n}")
            moved = under(dst, f"r{n}")

            def move(p: str) -> str:
                return moved + p[len(src):] if p == src or p.startswith(src + "/") else p

            dirs, files = {move(p) for p in dirs}, {move(p) for p in files}
        elif step == "rename_file":
            src = some_file()
            dst = rng.choice(sorted(dirs))
            ns.rename(src, dst, f"g{n}")
            files = (files - {src}) | {under(dst, f"g{n}")}
        elif step == "delete":
            victim = rng.choice(sorted(dirs - {"/"}))
            ns.delete(victim, recursive=True)

            def gone(p: str) -> bool:
                return p == victim or p.startswith(victim + "/")

            dirs = {p for p in dirs if not gone(p)}
            files = {p for p in files if not gone(p)}
        elif step == "upsert":
            # a Spark-side write of one changed file row and one new row
            row = ns.get_file_info(some_file()).asDict()
            row["length"] = 777
            parent = rng.choice(sorted(dirs))
            extra = _new_row(ns._next_id(), ns.get_file_info(parent)["id"], f"u{n}", 11, 0, 3, 0)
            ns.table.upsert(spark.createDataFrame(
                [{k: row[k] for k in FILE.column_names()}, extra],
                FILE.struct_type(include_version=False),
            ), mode="append")
            files.add(under(parent, f"u{n}"))
        elif step == "compact":
            ns.compact()
        elif step == "quota":
            d = rng.choice(sorted(dirs))
            used = ns.quota_usage(d)["nsUsed"]
            ns.set_quota(d, ns_quota=used + 1)
            ns.create(under(d, f"q{n}"))
            files.add(under(d, f"q{n}"))
            with pytest.raises(NamespaceError):
                ns.create(under(d, f"q{n}x"))
            with pytest.raises(NamespaceError):
                ns.mkdirs(under(d, f"q{n}y"))
            ns.set_quota(d, ns_quota=-1)
        _check_every_dir(ns, dirs, step)
        pending.append(bool(ns.table._tail_fragments(ns.table._overlay_meta())))
    assert any(pending) and not all(pending)


def test_root_is_walked_once(spark, tmp_path):
    """The root row is its own parent: neither the Spark operator nor
    the driver walk may re-enter it."""
    ns = _namespace(spark, str(tmp_path / "root"))
    ns.mkdirs("/a/b")
    ns.create("/a/b/f")
    ns.complete_file("/a/b/f", 10)
    assert tuple(ns.content_summary("/")) == (10, 1, 3)
    assert ns.get_descendants("/", include_self=True).count() == 4
    assert ns.get_descendants("/").count() == 3
    assert tuple(content_summary(ns.get_descendants("/", include_self=True)).first()) == (
        10, 1, 3,
    )
    assert sorted(r["id"] for r in ns._subtree(ROOT_ID, include_self=True)) == sorted(
        r["id"] for r in ns.get_descendants("/", include_self=True).collect()
    )
    usage = ns.quota_usage("/")
    assert (usage["nsUsed"], usage["dsUsed"]) == (3, 10)


def test_rename_cycle_probe_reads_the_chain(spark, tmp_path, spark_jobs):
    """Moving a directory under a sibling whose name it prefixes is no
    cycle; moving it under its own subtree, or into itself, is."""
    ns = _namespace(spark, str(tmp_path / "cyc"))
    ns.mkdirs("/a/x/y")
    ns.mkdirs("/ab")
    ns.create("/a/x/f")
    for dst in ("/a/x/y", "/a/x", "/a"):
        with pytest.raises(NamespaceError):
            ns.rename("/a", dst)
    with pytest.raises(NamespaceError):
        ns.rename("/", "/ab")
    _, jobs = spark_jobs(lambda: ns.rename("/a", "/ab"))
    assert jobs == 0
    assert ns.get_file_info("/ab/a/x/f") is not None and not ns.exists("/a")
    ns.rename("/ab/a/x/f", "/ab/a/x/y")  # a file moves down its own chain
    assert ns.exists("/ab/a/x/y/f")


@pytest.mark.parametrize("folded", [False, True])
def test_cold_handle_subtree_verbs_run_no_spark_job(spark, tmp_path, spark_jobs, folded):
    """On a fresh handle, with the rows in the tail or folded into
    current/: getContentSummary, quota usage, a quota-checked create and
    a directory rename run no Spark job."""
    root = str(tmp_path / "w")
    fs = FileSystemStore.create_at(spark, root)
    fs.namespace.mkdirs("/a/b/c")
    fs.namespace.mkdirs("/q")
    fs.namespace.set_quota("/a", ns_quota=50, ds_quota=1 << 40)
    for i in range(3):
        fs.create_file(f"/a/b/f{i}")
    if folded:
        for t in fs.txn.tables.values():
            t.compact()

    def fresh():
        return FileSystemStore.open_at(spark, root)

    verbs = [
        ("getContentSummary", lambda s: s.namespace.content_summary("/a")),
        ("getContentSummary", lambda s: s.namespace.content_summary("/")),
        ("quotaUsage", lambda s: s.namespace.quota_usage("/a")),
        ("create", lambda s: s.create_file("/a/b/c/g")),
        ("rename", lambda s: s.namespace.rename("/a/b", "/q")),
    ]
    for verb, run in verbs:
        store = fresh()
        _, n = spark_jobs(lambda: run(store))
        assert n == 0, verb
    cs = fresh().namespace.content_summary("/")
    assert tuple(cs) == (0, 4, 5)


def test_max_pk_footer_answer_matches_snapshot(spark, tmp_path, monkeypatch):
    """``max_pk`` answers whole tail files from footer statistics; a file
    in an aborted range or straddling ct is read — each against a max
    over ``snapshot()``, tombstones included."""
    ns = _namespace(spark, str(tmp_path / "mp"))
    t = ns.table

    def want() -> int:
        return t.snapshot().agg(F.max("id")).first()[0]

    ns.mkdirs("/d")
    for i in range(3):
        ns.create(f"/d/f{i}")
    assert t.max_pk() == want() == 4
    ns.delete("/d/f2")  # the largest id is now a tombstone in the tail
    assert t.max_pk() == want() == 4

    def boom(self, vt_new):
        raise RuntimeError("crash before publish")

    with monkeypatch.context() as m:
        m.setattr(VersionedTable, "_mark_visible", boom)
        with pytest.raises(RuntimeError):
            t.point_write(rows=[_new_row(900, 1, "ghost", 0, 0, 3, 0)])
    ns.create("/d/f3")  # stamps past the fence: the fenced file is inside (ct, vt]
    assert t.max_pk() == want() == 5
    # a row inserted and then deleted in the tail, its tombstone and a
    # new row in one file, then ct between the two: the insert and the
    # tombstone count as folded away (as a fold that drops tombstones
    # leaves them), so only the new row is stored past current/
    t.compact()
    t.point_write(rows=[_new_row(800, 1, "gone", 0, 0, 3, 0)])
    t.point_write(rows=[_new_row(10, 1, "new", 0, 0, 3, 0)], deletes=[800])
    meta = t._overlay_meta()
    meta["compacted_through"] = meta["visible_through"] - 1  # the tombstone's version
    t._write_overlay_meta(meta)
    assert t.max_pk() == want() == 10
