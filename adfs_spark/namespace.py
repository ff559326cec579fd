"""Namespace domain API — the FileProtocol verb surface over DataFrames.

Mirrors the reference's public namespace API (FileProtocol.java:26-60:
create / mkdirs / getFileInfo / getListing / getDescendant / rename /
delete / setReplication / setTimes / complete) implemented through
layer-3 operators over a :class:`~adfs_spark.storage.VersionedTable`
holding the ``file`` table (File.java:30-58 schema).

Semantics preserved from the reference write path:
- mkdirs is idempotent on existing directories but fails on a file/dir
  type change (FileRepository.insertInternal :163-167);
- create/mkdir require the parent to exist and be a directory
  (:204-211);
- non-recursive delete of a non-empty directory fails (guarded delete,
  FileRepository.deleteInternal :288-305);
- rename moves a subtree by re-pointing one parentId edge and touches
  both parents' mtime (FileRepository.updateInternal :226-286);
- id allocation is sequential from the table max (the reference uses
  random-probe unique ids, U5 FileRepository.getUniqueIdAndLock
  :307-374 — collision-free-by-construction replaces the probe loop).

Quota support: the fork declares ``setQuota`` in the verb surface
(FileProtocol.java:26-60) but leaves FSNamesystem.setQuota a TODO stub;
here quotas are first-class — ``nsQuota`` caps subtree item count,
``dsQuota`` caps subtree file bytes (HDFS ContentSummary semantics),
``set_quota`` writes them (U2 masked update), ``quota_usage`` reports
per-directory usage vs quota (A4 aggregate over descendants), and
create/mkdirs enforce quotas on the ancestor chain at write time.

This is a metadata-scale API.  Path resolution (getFileInfo, and the
parent / existence / clash checks of mkdirs, create and rename) walks
the path one component at a time through the table's driver-side point
cache (``VersionedTable.find_one`` / ``find_unique`` on the PID_NAME
index, the reference's FileCache): a warm component costs one
commit-plane read and no Spark job, a cold one a single pushed-down
filter read.  Everything else — listings, subtrees, quotas, deletes —
runs as distributed operators over the table; no driver-side loop runs
per row.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from adfs_spark.operators.find import paginate
from adfs_spark.operators.hierarchy import (
    ROOT_ID,
    children,
    descendants,
    split_path,
)
from adfs_spark.schema import FILE, TableSpec
from adfs_spark.storage import VersionedTable

DIR_LENGTH = -1  # File.isDir: length == -1 (File.java:144-146)
PID_NAME = "PID_NAME"  # FILE's unique (parentId, name) index
DIR_PERM = 0o755  # default mode bits (HDFS FsPermission defaults)
FILE_PERM = 0o644


class NamespaceError(Exception):
    pass


@dataclass
class Namespace:
    table: VersionedTable

    point_write_mode: str = "append"
    """Write mode for the namespace's POINT mutations (create / rename /
    setTimes / setReplication / complete / …, each touching O(1) rows).
    The reference serves these as B-tree point updates
    (FileRepository.updateInternal :226-286, deleteInternal :288-305);
    the ``append`` mode is the engine's equivalent — one changelog
    append + visibility bump instead of a bucket rewrite per call
    (reads overlay the pending tail; ``compact()`` folds it down).
    Set ``merge`` to fold every write immediately."""

    # -- construction ------------------------------------------------------

    @classmethod
    def create_at(cls, spark: SparkSession, root: str, backend=None) -> "Namespace":
        """Create an empty namespace (root row id=0, parity with
        FileRepository.createMeta :99-107)."""
        if backend is not None:
            t = VersionedTable(spark, FILE, root, backend=backend)
        else:
            t = VersionedTable(spark, FILE, root)
        root_row = spark.createDataFrame(
            [(ROOT_ID, ROOT_ID, "", DIR_LENGTH, 0, 0, 0, 0, 0, DIR_PERM, None, 0, -1, -1)],
            FILE.struct_type(include_version=False),
        )
        t.init(root_row)
        return cls(t)

    def ns(self) -> DataFrame:
        return self.table.live()

    # -- lookups -----------------------------------------------------------

    def _root(self) -> Row:
        root = self.table.find_one(ROOT_ID)
        if root is None:
            raise NamespaceError("namespace has no root row")
        return root

    def _child(self, parent_id: int, name: str) -> Row | None:
        """The live entry ``name`` under ``parent_id`` (PID_NAME find)."""
        return self.table.find_unique(PID_NAME, (parent_id, name))

    def _resolve_chain(self, path: str) -> list[Row] | None:
        """H1: per-component (parentId, name) descent; returns the full
        row chain root-first (root row included), or None if any
        component is missing."""
        chain = [self._root()]
        for part in split_path(path):
            got = self._child(chain[-1]["id"], part)
            if got is None:
                return None
            chain.append(got)
        return chain

    def _resolve(self, path: str) -> Row | None:
        chain = self._resolve_chain(path)
        return chain[-1] if chain else None

    def get_file_info(self, path: str) -> Row | None:
        """getFileInfo (FileProtocol; FSNamesystem.getFileInfo)."""
        return self._resolve(path)

    def resolve_many(self, paths: DataFrame, path_col: str = "path") -> DataFrame:
        """Batch getFileInfo: resolve a whole DataFrame of paths in
        max-depth rounds of distributed joins (H1 batch fixpoint,
        resolve_paths_batch) and return (path, <file row>) — the scale
        form of :meth:`get_file_info`.  Point callers loop once per
        *component*; this loops once per *depth level* for ALL paths at
        once, so resolving a million paths costs the same number of
        joins as resolving one."""
        from adfs_spark.operators.hierarchy import resolve_paths_batch

        resolved = resolve_paths_batch(self.ns(), paths, path_col=path_col)
        return resolved.join(self.ns(), "id", "inner")

    def exists(self, path: str) -> bool:
        return self._resolve(path) is not None

    def get_listing(
        self, path: str, start_after: str | None = None, limit: int | None = None
    ) -> DataFrame:
        """getListing with working keyset pagination (the fork ignores
        startAfter, FSNamesystem.getListing :1658-1661)."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        kids = children(self.ns(), row["id"])
        return paginate(kids, ["name"], start_after=start_after, limit=limit)

    def get_descendants(self, path: str, include_self: bool = False) -> DataFrame:
        """getDescendant (StateManager.findFileDescendantByPath :722-755)."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        return descendants(self.ns(), [row["id"]], include_self=include_self)

    def content_summary(self, path: str) -> Row:
        """A4: SUM(length)/COUNT(files)/COUNT(dirs) over the subtree
        (FSNamesystem.getContentSummary :1462-1473)."""
        from adfs_spark.operators.aggregates import content_summary as cs

        return cs(self.get_descendants(path, include_self=True)).first()

    # -- mutations ---------------------------------------------------------

    def _next_id(self) -> int:
        # max over every stored row, tombstones included — ids are never
        # reused, matching U5's unique-id guarantee
        return self.table.max_pk() + 1

    def mkdirs(self, path: str) -> int:
        """H6: mkdir -p — idempotent per existing dir component; fails
        if a component exists as a file (type-change forbidden,
        FileRepository.insertInternal :163-167).  Returns the deepest
        directory id."""
        cur_id = ROOT_ID
        now = int(time.time() * 1000)
        chain: list[Row] = [self._root()]
        for part in split_path(path):
            got = self._child(cur_id, part)
            if got is not None:
                if got["length"] != DIR_LENGTH:
                    raise NamespaceError(f"{part} exists and is not a directory")
                cur_id = got["id"]
                chain.append(got)
                continue
            self._check_quota(chain, added_ns=1, added_ds=0)
            new_id = self._next_id()
            self._insert_row(new_id, cur_id, part, DIR_LENGTH, 0, 0, now)
            cur_id = new_id
            chain.append(self.table.find_one(new_id))
        return cur_id

    def create(
        self,
        path: str,
        block_size: int = 67108864,
        replication: int = 3,
        overwrite: bool = False,
        lease_holder: str | None = None,
    ) -> int:
        """create (startFileInternal :842-870): parent must exist and be
        a directory; existing file replaced only with overwrite."""
        parts = split_path(path)
        if not parts:
            raise NamespaceError("cannot create root")
        parent = "/".join(parts[:-1])
        pchain = self._resolve_chain("/" + parent if parent else "/")
        if pchain is None:
            raise NamespaceError(f"parent does not exist: /{parent}")
        prow = pchain[-1]
        if prow["length"] != DIR_LENGTH:
            raise NamespaceError(f"parent is not a directory: /{parent}")
        self._check_quota(pchain, added_ns=1, added_ds=0)
        existing = self._child(prow["id"], parts[-1])
        if existing is not None:
            if existing["length"] == DIR_LENGTH:
                raise NamespaceError(f"{path} exists and is a directory")
            if not overwrite:
                raise NamespaceError(f"{path} already exists")
            self.table.delete_where(
                F.col("id") == existing["id"], mode=self.point_write_mode
            )
        new_id = self._next_id()
        now = int(time.time() * 1000)
        self._insert_row(
            new_id, prow["id"], parts[-1], 0, block_size, replication, now, lease_holder
        )
        return new_id

    def _insert_row(
        self,
        id_: int,
        parent_id: int,
        name: str,
        length: int,
        block_size: int,
        replication: int,
        now: int,
        lease_holder: str | None = None,
    ) -> None:
        spark = self.table.spark
        row = spark.createDataFrame(
            [
                (
                    id_,
                    parent_id,
                    name,
                    length,
                    block_size,
                    replication,
                    now,
                    now,
                    0,
                    DIR_PERM if length == DIR_LENGTH else FILE_PERM,
                    lease_holder,
                    0,
                    -1,
                    -1,
                )
            ],
            FILE.struct_type(include_version=False),
        )
        self.table.upsert(row, overwrite=False, mode=self.point_write_mode)

    def rename(self, src: str, dst_parent: str, new_name: str | None = None) -> None:
        """rename/move: re-point the parentId edge (subtree follows for
        free — adjacency list), touch both parents' mtime
        (FileRepository.updateInternal :226-286)."""
        srow = self._resolve(src)
        if srow is None:
            raise NamespaceError(f"no such path: {src}")
        drow = self._resolve(dst_parent)
        if drow is None or drow["length"] != DIR_LENGTH:
            raise NamespaceError(f"destination parent invalid: {dst_parent}")
        # moving a dir under itself/its own subtree would orphan a cycle.
        # Cycle probe is a distributed filter + take(1) — the subtree id
        # set stays a DataFrame, never a driver-side Python set (the
        # reference's set-based check, StateManager.deleteFileByFile
        # :604-632, done without materializing the set).  A file has
        # no subtree, so it skips the probe.
        if srow["length"] == DIR_LENGTH:
            if drow["id"] == srow["id"]:
                raise NamespaceError("cannot rename a directory into itself")
            subtree = descendants(self.ns(), [srow["id"]], include_self=True)
            if subtree.filter(F.col("id") == drow["id"]).take(1):
                raise NamespaceError(
                    f"cannot move {src} into its own subtree {dst_parent}"
                )
        name = new_name or srow["name"]
        if self._child(drow["id"], name) is not None:
            raise NamespaceError(f"destination already exists: {dst_parent}/{name}")
        now = int(time.time() * 1000)
        self.table.update_where(
            F.col("id") == srow["id"],
            {"parentId": F.lit(drow["id"]).cast("long"), "name": F.lit(name)},
            mode=self.point_write_mode,
        )
        self.table.update_where(
            F.col("id").isin([srow["parentId"], drow["id"]]),
            {"mtime": F.lit(now).cast("long")},
            mode=self.point_write_mode,
        )

    def delete(self, path: str, recursive: bool = False) -> int:
        """H5: guarded recursive delete — tombstones the whole subtree
        (StateManager.deleteFileByFile :604-632). Returns rows deleted."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        if row["id"] == ROOT_ID:
            raise NamespaceError("cannot delete root")
        kids = self.table._live_hits(F.col("parentId") == row["id"]).take(1)
        if kids and not recursive:
            raise NamespaceError(f"directory not empty: {path}")
        # Set-based tombstone: the descendant id set stays distributed
        # (semi-join into delete_where_keys) — deleting a huge directory
        # never collects ids to the driver or builds a giant isin literal.
        keys = self.get_descendants(path, include_self=True).select("id")
        # auto: subtree-sized — small subtrees append, huge ones fold
        return self.table.delete_where_keys(keys, mode="auto")

    def set_replication(self, path: str, replication: int) -> None:
        """setReplication — U2 field-masked update (File.REPLICATION mask)."""
        row = self._resolve(path)
        if row is None or row["length"] == DIR_LENGTH:
            raise NamespaceError(f"not a file: {path}")
        self.table.update_where(
            F.col("id") == row["id"], {"replication": F.lit(replication).cast("byte")},
            mode=self.point_write_mode,
        )

    def set_times(self, path: str, mtime: int, atime: int) -> None:
        """setTimes — U2 (File.MTIME|ATIME masks)."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        self.table.update_where(
            F.col("id") == row["id"],
            {"mtime": F.lit(mtime).cast("long"), "atime": F.lit(atime).cast("long")},
            mode=self.point_write_mode,
        )

    def set_owner(self, path: str, owner: int) -> None:
        """setOwner (FileProtocol.java:26-60 verb surface) — U2 masked
        update of the File.java owner int."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        self.table.update_where(
            F.col("id") == row["id"], {"owner": F.lit(owner).cast("int")},
            mode=self.point_write_mode,
        )

    def set_permission(self, path: str, permission: int) -> None:
        """setPermission (FileProtocol.java:26-60) — U2 masked update of
        the POSIX mode bits (FsPermission short)."""
        if not 0 <= permission <= 0o7777:
            raise NamespaceError(f"invalid permission {permission:o}")
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        self.table.update_where(
            F.col("id") == row["id"], {"permission": F.lit(permission).cast("short")},
            mode=self.point_write_mode,
        )

    def complete_file(self, path: str, length: int) -> None:
        """complete (completeFile :1102-1131): set final length (A3 sum
        done by the caller from the block table), drop the lease."""
        chain = self._resolve_chain(path)
        row = chain[-1] if chain else None
        if row is None or row["length"] == DIR_LENGTH:
            raise NamespaceError(f"not a file: {path}")
        self._check_quota(
            chain[:-1], added_ns=0, added_ds=length - max(int(row["length"]), 0)
        )
        self.table.update_where(
            F.col("id") == row["id"],
            {
                "length": F.lit(length).cast("long"),
                "leaseHolder": F.lit(None).cast("string"),
            },
            mode=self.point_write_mode,
        )

    # -- quotas (FileProtocol.setQuota surface) ------------------------------

    def set_quota(
        self, path: str, ns_quota: int | None = None, ds_quota: int | None = None
    ) -> None:
        """setQuota (FileProtocol.java:26-60; a TODO stub in the fork's
        FSNamesystem — implemented here as a U2 masked update).  -1
        clears a quota; None leaves it untouched."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        if row["length"] != DIR_LENGTH:
            raise NamespaceError(f"quotas apply to directories only: {path}")
        assignments: dict[str, object] = {}
        if ns_quota is not None:
            if ns_quota < -1 or ns_quota == 0:
                raise NamespaceError(f"invalid nsQuota {ns_quota}")
            assignments["nsQuota"] = F.lit(ns_quota).cast("long")
        if ds_quota is not None:
            if ds_quota < -1:
                raise NamespaceError(f"invalid dsQuota {ds_quota}")
            assignments["dsQuota"] = F.lit(ds_quota).cast("long")
        if assignments:
            self.table.update_where(F.col("id") == row["id"], assignments, mode=self.point_write_mode)

    def _subtree_usage(self, dir_id: int) -> tuple[int, int]:
        """(ns_used, ds_used) for a directory subtree: item count
        excluding the directory itself, and total file bytes (A4)."""
        desc = descendants(self.ns(), [dir_id], include_self=False)
        row = desc.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("length") >= 0, F.col("length")).otherwise(0)).alias("b"),
        ).first()
        return int(row["n"] or 0), int(row["b"] or 0)

    def quota_usage(self, path: str) -> Row:
        """ContentSummary with quota fields for one directory: usage vs
        nsQuota/dsQuota plus over-quota flags."""
        row = self._resolve(path)
        if row is None or row["length"] != DIR_LENGTH:
            raise NamespaceError(f"not a directory: {path}")
        ns_used, ds_used = self._subtree_usage(row["id"])
        nsq, dsq = int(row["nsQuota"] or -1), int(row["dsQuota"] or -1)
        return Row(
            path=path,
            nsQuota=nsq,
            nsUsed=ns_used,
            dsQuota=dsq,
            dsUsed=ds_used,
            nsExceeded=nsq >= 0 and ns_used > nsq,
            dsExceeded=dsq >= 0 and ds_used > dsq,
        )

    def _check_quota(self, ancestors: list[Row], added_ns: int, added_ds: int) -> None:
        """Write-time quota gate: every quota-carrying ancestor must
        accommodate the delta (quota'd dirs are rare, so this loop runs
        ~never; each check is one distributed aggregate)."""
        for anc in ancestors:
            nsq = int(anc["nsQuota"] if anc["nsQuota"] is not None else -1)
            dsq = int(anc["dsQuota"] if anc["dsQuota"] is not None else -1)
            if nsq < 0 and dsq < 0:
                continue
            ns_used, ds_used = self._subtree_usage(anc["id"])
            if nsq >= 0 and ns_used + added_ns > nsq:
                raise NamespaceError(
                    f"nsQuota exceeded on dir id={anc['id']}: "
                    f"{ns_used}+{added_ns} > {nsq}"
                )
            if dsq >= 0 and ds_used + added_ds > dsq:
                raise NamespaceError(
                    f"dsQuota exceeded on dir id={anc['id']}: "
                    f"{ds_used}+{added_ds} > {dsq}"
                )

    # -- lease recovery & append (BASELINE.md ops) ---------------------------

    def recover_lease(self, path: str, final_length: int, now_ms: int | None = None) -> None:
        """recoverLease (FSNamesystem.internalReleaseLease): finalize an
        under-construction file whose lease expired — set the final
        length (A3 sum computed by the caller from the block table,
        e.g. BlockMap.file_length_from_blocks), clear the holder, stamp
        leaseRecoveryTime.  Composition of T1 (caller finds expired
        holders) + U2 masked updates."""
        row = self._resolve(path)
        if row is None or row["length"] == DIR_LENGTH:
            raise NamespaceError(f"not a file: {path}")
        if row["leaseHolder"] is None:
            raise NamespaceError(f"file not under construction: {path}")
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        self.table.update_where(
            F.col("id") == row["id"],
            {
                "length": F.lit(final_length).cast("long"),
                "leaseHolder": F.lit(None).cast("string"),
                "leaseRecoveryTime": F.lit(now).cast("long"),
                "mtime": F.lit(now).cast("long"),
            },
            mode=self.point_write_mode,
        )

    def append_file(self, path: str, lease_holder: str) -> int:
        """append (FSNamesystem.appendFile in the fork; BASELINE.md rows
        append1-3): reopen a complete file for writing — reacquire the
        lease (file must not already be under construction).  Returns
        the file id; block allocation continues via BlockMap."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such file: {path}")
        if row["length"] == DIR_LENGTH:
            raise NamespaceError(f"cannot append to a directory: {path}")
        if row["leaseHolder"] is not None:
            raise NamespaceError(
                f"already under construction by {row['leaseHolder']}: {path}"
            )
        self.table.update_where(
            F.col("id") == row["id"],
            {"leaseHolder": F.lit(lease_holder)},
            mode=self.point_write_mode,
        )
        return int(row["id"])

    def compact(self) -> None:
        """Fold the pending changelog overlay (accumulated by the
        append-mode point mutations) into the table's current state —
        run periodically, like the reference's edit-log checkpoint."""
        self.table.compact()

    def paths(self) -> DataFrame:
        """H2: the computed path column for every live row."""
        from adfs_spark.operators.hierarchy import path_column

        return path_column(self.ns())
