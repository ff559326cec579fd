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
  both parents' mtime, all in one commit (FileRepository.updateInternal
  :226-286); create with overwrite tombstones the old file and inserts
  the new one in one commit;
- id allocation is sequential above the table's largest id (the
  reference uses random-probe unique ids, U5 FileRepository.
  getUniqueIdAndLock :307-374 — collision-free-by-construction replaces
  the probe loop).  The largest id is a high-water mark the table handle
  keeps next to its point cache (``VersionedTable.pk_high_water``):
  driver-side, raised by the handle's own writes, rescanned only after
  the cache is cleared.

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
commit-plane read and no Spark job, a cold one a driver-side parquet
read of current/ and the pending changelog tail (the HandlerSocket
analog below Spark SQL), no Spark job either.  Point mutations —
mkdirs, create, rename and the set / complete / lease verbs — are
driver-side too: ``VersionedTable.point_write`` reads the row through
the same cache, changes it and appends it to the changelog without a
Spark job.  Subtree answers — getContentSummary, quota usage and the
quota checks of create / mkdirs / complete — walk the subtree on the
driver one level at a time (:meth:`Namespace._subtree`, one PID_NAME
prefix read per level, the reference's per-directory parentId finds),
and rename's cycle probe reads only the destination's already resolved
ancestor chain: no Spark job.  Listings and recursive deletes, whose
answer is a DataFrame or a subtree of any size, run as distributed
operators over the table.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession

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
            [_new_row(ROOT_ID, ROOT_ID, "", DIR_LENGTH, 0, 0, 0)],
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

    def _subtree(self, root_id: int, include_self: bool) -> list[Row]:
        """H4 on the driver: the live rows below ``root_id`` (and its own
        row with ``include_self``), walked one level at a time like the
        reference's findFileDescendantByFileInternal :731-755.  Each
        level is one driver-side read of the PID_NAME prefix
        ``(parentId,)`` over the whole frontier; only directories enter
        the next frontier, and a visited set ends the walk (the root row
        is its own parent).  No Spark job."""
        root = self.table.find_one(root_id) if include_self else None
        out = [root] if root is not None else []
        seen, frontier = {root_id}, [root_id]
        while frontier:
            level = [
                r for r in self.table.find_by(PID_NAME, *((d,) for d in frontier))
                if r["id"] not in seen
            ]
            seen.update(r["id"] for r in level)
            out.extend(level)
            frontier = [r["id"] for r in level if r["length"] == DIR_LENGTH]
        return out

    def content_summary(self, path: str) -> Row:
        """A4: SUM(length)/COUNT(files)/COUNT(dirs) over the subtree
        (FSNamesystem.getContentSummary :1462-1473), aggregated on the
        driver over :meth:`_subtree` — the rule of
        ``operators.aggregates.content_summary``."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        lengths = [r["length"] for r in self._subtree(row["id"], include_self=True)]
        files = [n for n in lengths if n is not None and n != DIR_LENGTH]
        return Row(
            total_length=sum(files),
            file_count=len(files),
            dir_count=lengths.count(DIR_LENGTH),
        )

    # -- mutations ---------------------------------------------------------

    def _next_id(self) -> int:
        # max over every stored row, tombstones included — ids are never
        # reused, matching U5's unique-id guarantee
        return self.table.pk_high_water() + 1

    def _update(self, row: Row, **changes) -> None:
        """U2 field-masked update of one live row (File.update
        :118-134's bitmask is the ``changes`` keys)."""
        self.table.point_write(updates={row["id"]: changes})

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
            self.table.point_write(
                rows=[_new_row(new_id, cur_id, part, DIR_LENGTH, 0, 0, now)],
                overwrite=False,
            )
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
        new_id = self._next_id()
        now = int(time.time() * 1000)
        # the replaced file's tombstone and the new row: one commit
        self.table.point_write(
            rows=[
                _new_row(
                    new_id, prow["id"], parts[-1], 0, block_size, replication, now,
                    lease_holder,
                )
            ],
            deletes=[existing["id"]] if existing is not None else (),
            overwrite=False,
        )
        return new_id

    def rename(self, src: str, dst_parent: str, new_name: str | None = None) -> None:
        """rename/move: re-point the parentId edge (subtree follows for
        free — adjacency list), touch both parents' mtime
        (FileRepository.updateInternal :226-286)."""
        srow = self._resolve(src)
        if srow is None:
            raise NamespaceError(f"no such path: {src}")
        dchain = self._resolve_chain(dst_parent)
        drow = dchain[-1] if dchain else None
        if drow is None or drow["length"] != DIR_LENGTH:
            raise NamespaceError(f"destination parent invalid: {dst_parent}")
        # moving a dir under itself or its own subtree would orphan a
        # cycle: that is exactly when the source is on the destination's
        # ancestor chain, which path resolution already read
        if any(r["id"] == srow["id"] for r in dchain):
            raise NamespaceError(f"cannot move {src} into its own subtree {dst_parent}")
        name = new_name or srow["name"]
        if self._child(drow["id"], name) is not None:
            raise NamespaceError(f"destination already exists: {dst_parent}/{name}")
        now = int(time.time() * 1000)
        # the edge and both parents' mtime: one commit
        touch = {"mtime": now}
        self.table.point_write(
            updates={
                srow["id"]: {"parentId": drow["id"], "name": name},
                srow["parentId"]: touch,
                drow["id"]: touch,
            }
        )

    def delete(self, path: str, recursive: bool = False) -> int:
        """H5: guarded recursive delete — tombstones the whole subtree
        (StateManager.deleteFileByFile :604-632). Returns rows deleted."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        if row["id"] == ROOT_ID:
            raise NamespaceError("cannot delete root")
        kids = self.table.find_by(PID_NAME, (row["id"],), limit=1)
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
        self._update(row, replication=replication)

    def set_times(self, path: str, mtime: int, atime: int) -> None:
        """setTimes — U2 (File.MTIME|ATIME masks)."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        self._update(row, mtime=mtime, atime=atime)

    def set_owner(self, path: str, owner: int) -> None:
        """setOwner (FileProtocol.java:26-60 verb surface) — U2 masked
        update of the File.java owner int."""
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        self._update(row, owner=owner)

    def set_permission(self, path: str, permission: int) -> None:
        """setPermission (FileProtocol.java:26-60) — U2 masked update of
        the POSIX mode bits (FsPermission short)."""
        if not 0 <= permission <= 0o7777:
            raise NamespaceError(f"invalid permission {permission:o}")
        row = self._resolve(path)
        if row is None:
            raise NamespaceError(f"no such path: {path}")
        self._update(row, permission=permission)

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
        self._update(row, length=length, leaseHolder=None)

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
        assignments: dict[str, int] = {}
        if ns_quota is not None:
            if ns_quota < -1 or ns_quota == 0:
                raise NamespaceError(f"invalid nsQuota {ns_quota}")
            assignments["nsQuota"] = ns_quota
        if ds_quota is not None:
            if ds_quota < -1:
                raise NamespaceError(f"invalid dsQuota {ds_quota}")
            assignments["dsQuota"] = ds_quota
        if assignments:
            self._update(row, **assignments)

    def _subtree_usage(self, dir_id: int) -> tuple[int, int]:
        """(ns_used, ds_used) for a directory subtree: item count
        excluding the directory itself, and total file bytes (A4)."""
        desc = self._subtree(dir_id, include_self=False)
        return len(desc), sum(max(r["length"] or 0, 0) for r in desc)

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
        ~never; each check is one driver-side subtree walk)."""
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
        self._update(
            row, length=final_length, leaseHolder=None, leaseRecoveryTime=now, mtime=now
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
        self._update(row, leaseHolder=lease_holder)
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


def _new_row(
    id_: int,
    parent_id: int,
    name: str,
    length: int,
    block_size: int,
    replication: int,
    now: int,
    lease_holder: str | None = None,
) -> dict:
    """A fresh FILE row (File.java:30-58 defaults: owner 0, no lease
    recovery, no quotas)."""
    return {
        "id": id_, "parentId": parent_id, "name": name, "length": length,
        "blockSize": block_size, "replication": replication, "atime": now,
        "mtime": now, "owner": 0,
        "permission": DIR_PERM if length == DIR_LENGTH else FILE_PERM,
        "leaseHolder": lease_holder, "leaseRecoveryTime": 0,
        "nsQuota": -1, "dsQuota": -1,
    }
