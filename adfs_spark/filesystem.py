"""Atomic multi-table namespace verbs — file + block + lease as ONE commit.

The reference mutates several tables per namespace verb under one
FSNamesystem lock and ships the result as a single dependency-ordered
op batch (DistributedOperationQueue.getOperations
HDFS/com/taobao/adfs/distributed/DistributedOperationQueue.java:82-103;
create path FSNamesystem.startFileInternal :842-870 → allocateBlock
:1157-1187; delete path StateManager.deleteFileByFile :604-632).  The
engine's per-table writes were previously separate transactions, so a
crash between the FILE and BLOCK writes could leave dangling blocks or
orphaned leases that only a manual D7 reconciliation would find.

:class:`FileSystemStore` closes that hole: the four nn_state tables are
enrolled in one :class:`~adfs_spark.storage.TransactionLog`, every
mutation inside a verb publishes changelog-append-only, and one manifest
commit — written last — flips visibility for everything the verb
touched.  A crash mid-verb leaves only fenced (invisible) changelog
tails; readers see the verb's writes all-or-nothing.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from adfs_spark.blockmap import BlockMap
from adfs_spark.namespace import Namespace, NamespaceError
from adfs_spark.schema import BLOCK, DATANODE, FILE, LEASE
from adfs_spark.storage import TransactionLog, VersionedTable


@dataclass
class FileSystemStore:
    namespace: Namespace
    blockmap: BlockMap
    txn: TransactionLog

    @classmethod
    def create_at(
        cls, spark: SparkSession, root: str, backend=None
    ) -> "FileSystemStore":
        """Bootstrap the four nn_state tables under one transaction log
        (table init itself is non-transactional — it is mkfs, not a
        verb).  ``backend`` (a :class:`~adfs_spark.backend.
        CommitBackend`) swaps the commit-plane medium for every table
        AND the shared manifest — local FS by default."""
        from adfs_spark.backend import LocalCommitBackend

        be = backend if backend is not None else LocalCommitBackend()
        Namespace.create_at(spark, os.path.join(root, "fs"), backend=be)
        for spec, sub in ((BLOCK, "blocks"), (DATANODE, "dns"), (LEASE, "leases")):
            VersionedTable(spark, spec, os.path.join(root, sub), backend=be).init()
        return cls.open_at(spark, root, backend=be)

    @classmethod
    def open_at(
        cls, spark: SparkSession, root: str, backend=None
    ) -> "FileSystemStore":
        """Attach a new handle to a store :meth:`create_at` built —
        from this process or another.  Handles share nothing but the
        files under ``root``: each keeps its own point cache, which
        picks up the other handles' commits through the shared
        transaction log."""
        from adfs_spark.backend import LocalCommitBackend

        be = backend if backend is not None else LocalCommitBackend()
        ns = Namespace(VersionedTable(spark, FILE, os.path.join(root, "fs"), backend=be))
        blocks, dns, leases = (
            VersionedTable(spark, spec, os.path.join(root, sub), backend=be)
            for spec, sub in ((BLOCK, "blocks"), (DATANODE, "dns"), (LEASE, "leases"))
        )
        txn = TransactionLog(root, backend=be)
        for t in (ns.table, blocks, dns, leases):
            txn.enroll(t)
        return cls(ns, BlockMap(ns, blocks, dns, leases), txn)

    # -- atomic verbs ------------------------------------------------------

    def create_file(
        self,
        path: str,
        block_size: int = 67108864,
        replication: int = 3,
        overwrite: bool = False,
        lease_holder: str | None = None,
        now_ms: int | None = None,
    ) -> int:
        """create (startFileInternal :842-870): the FILE row and the
        LEASE row land in one commit — a crash can no longer leave a
        file under construction with no lease (or vice versa)."""
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        with self.txn.transaction():
            fid = self.namespace.create(
                path, block_size, replication, overwrite, lease_holder
            )
            if lease_holder is not None:
                self.blockmap.leases.point_write(
                    rows=[{"holder": lease_holder, "time": now}]
                )
            return fid

    def allocate_block(
        self, file_id: int, block_id: int, file_index: int, datanode_ids: list[int]
    ) -> None:
        """allocateBlock (:1157-1187): replica rows + the file's mtime
        bump commit together."""
        now = int(time.time() * 1000)
        with self.txn.transaction():
            self.blockmap.allocate_block(file_id, block_id, file_index, datanode_ids)
            self.namespace.table.point_write(updates={file_id: {"mtime": now}})

    def complete_file(self, path: str, now_ms: int | None = None) -> int:
        """complete (completeFile :1102-1131): final length (A3 sum over
        the block table's primary replicas), lease-holder clear on FILE,
        and the LEASE row drop are one commit.  Returns the length.

        The per-holder LEASE row is dropped only when the holder has no
        OTHER file still under construction — the reference removes the
        lease iff it holds no remaining paths
        (LeaseManager.removeLease :122-133, ``leases.remove`` only if
        ``!lease.hasPath()``); a holder with two files open keeps lease
        protection (with a refreshed time) for the still-open one."""
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        with self.txn.transaction():
            row = self.namespace.get_file_info(path)
            if row is None or row["length"] == -1:
                raise NamespaceError(f"not a file: {path}")
            holder = row["leaseHolder"]
            total = self.blockmap.file_length_from_blocks(int(row["id"]))
            self.namespace.complete_file(path, total)
            if holder is not None:
                # read-your-own-writes: this file's holder is already
                # cleared inside the open txn, so any hit is another file
                still_open = self.namespace.table.find_by(
                    "LEASE_HOLDER", (holder,), limit=1
                )
                leases = self.blockmap.leases
                if still_open:
                    leases.point_write(rows=[{"holder": holder, "time": now}])
                else:
                    leases.point_write(deletes=[holder])
            return total

    def delete(self, path: str, recursive: bool = False) -> int:
        """delete (StateManager.deleteFileByFile :604-632): the subtree's
        FILE tombstones, its BLOCK replica tombstones, and its LEASE
        rows all land in one commit — no dangling blocks on a crash.
        Returns the number of namespace rows deleted."""
        with self.txn.transaction():
            sub = self.namespace.get_descendants(path, include_self=True)
            holder_rows = (
                sub.filter(F.col("leaseHolder").isNotNull())
                .select("leaseHolder")
                .collect()
            )  # bounded: under-construction files in the subtree
            # blocks/leases first, while the FILE rows are still live
            # (the subtree plans read the file table lazily); order
            # within the transaction is invisible — one manifest commit
            # publishes everything together
            blk = self.blockmap.blocks
            blk_keys = blk.live().join(
                sub.select(F.col("id").alias("fileId")), "fileId", "left_semi"
            ).select("id", "datanodeId")
            blk.delete_where_keys(blk_keys)
            if holder_rows:
                # keep the lease for any holder that still has an
                # under-construction file OUTSIDE the deleted subtree
                # (LeaseManager.removeLease :122-133 — remove only when
                # the holder has no remaining paths); anti-join against
                # the subtree ids, then drop leases only for holders
                # with nothing left
                holders = sorted({r["leaseHolder"] for r in holder_rows})
                survivors = {
                    r["leaseHolder"]
                    for r in self.namespace.ns()
                    .filter(F.col("leaseHolder").isin(holders))
                    .join(sub.select("id"), "id", "left_anti")
                    .select("leaseHolder")
                    .distinct()
                    .collect()
                }
                drop = [h for h in holders if h not in survivors]
                if drop:
                    self.blockmap.leases.delete_where(F.col("holder").isin(drop))
            return self.namespace.delete(path, recursive=recursive)
