"""Block-map domain API — StateManager/BlockProtocol verbs.

The read path reproduces the reference's `getBlockLocations` lifecycle
(§3a, FSNamesystem.getBlockLocations :596-717): path → file → blocks →
replica-group argmax → fileIndex order → datanode join.  The control
loops reproduce heartbeat upserts (D6), block-report reconciliation
(J5/D7), lease/datanode expiry scans (T1/T2), and under-replication
queues (A6/W3).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adfs_spark.namespace import Namespace, NamespaceError
from adfs_spark.operators.aggregates import group_argmax
from adfs_spark.operators.joins import fk_join, report_diff
from adfs_spark.operators.windows import priority_bucket
from adfs_spark.storage import VersionedTable


@dataclass
class BlockMap:
    namespace: Namespace
    blocks: VersionedTable  # BLOCK spec
    datanodes: VersionedTable  # DATANODE spec
    leases: VersionedTable  # LEASE spec

    # -- read path (§3a) ---------------------------------------------------

    def get_block_locations(self, path: str) -> DataFrame:
        """Resolve path → blocks → primary replica per block id (A2/W1
        argmax on generationStamp, version) → order by fileIndex (W2) →
        join datanodes (J2, broadcast).  One distributed plan, no
        driver-side row loops past path resolution."""
        frow = self.namespace.get_file_info(path)
        if frow is None:
            raise NamespaceError(f"no such file: {path}")
        blocks = self.blocks.live().filter(F.col("fileId") == frow["id"])
        primary = group_argmax(blocks, ["id"], ["generationStamp", "version"])
        located = fk_join(
            primary,
            self.datanodes.live().select("id", "name", "location").withColumnRenamed("id", "dn_id"),
            "datanodeId",
            "dn_id",
            how="left",
            broadcast_parent=True,
        )
        return located.orderBy("fileIndex").select(
            F.col("id").alias("block_id"),
            "fileIndex",
            "length",
            "generationStamp",
            "datanodeId",
            F.col("name").alias("datanode_name"),
            F.col("location").alias("rack"),
        )

    def file_length_from_blocks(self, file_id: int) -> int:
        """A3: SUM of completed block lengths (getTotalLength :158-164).

        Sums one length per *block* — the primary replica's (A2 argmax)
        — not per replica row (the block table holds one row per
        (id, datanodeId)).  The replicas come from one driver-side
        FILE_ID read, so this runs no Spark job."""
        replicas = [
            r for r in self.blocks.find_by("FILE_ID", (file_id,))
            if r["length"] is not None and r["length"] > 0
        ]
        return sum(r["length"] for r in primary_replicas(replicas))

    # -- write path --------------------------------------------------------

    def allocate_block(
        self, file_id: int, block_id: int, file_index: int, datanode_ids: list[int]
    ) -> None:
        """allocateBlock (:1157-1187): one row per replica target,
        length=-1 (under construction)."""
        self.blocks.point_write(
            rows=[
                {
                    "id": block_id, "datanodeId": dn, "length": -1,
                    "generationStamp": 1, "fileId": file_id, "fileIndex": file_index,
                }
                for dn in datanode_ids
            ]
        )

    # -- control loops (D6/D7, T1/T2, A6/W3) -------------------------------

    def heartbeat(self, datanode_rows: DataFrame) -> None:
        """D6: heartbeat upsert stream body
        (updateDatanodeByDatanodeDescriptor :413-468)."""
        self.datanodes.upsert(datanode_rows)

    def process_report(
        self, datanode_id: int, reported: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """D7/J5: block-report reconciliation for one datanode
        (processReport :2468-2620).  ``reported`` needs columns
        (id, length, generationStamp).  Returns (to_add, to_remove,
        mismatched) — mismatched = matched rows whose genStamp/length
        disagree (the CASE reconciliation input)."""
        stored = self.blocks.live().filter(F.col("datanodeId") == datanode_id)
        to_add, to_remove, matched = report_diff(
            reported.select("id", "length", "generationStamp"),
            stored.select("id", "length", "generationStamp"),
            ["id"],
        )
        mismatched = matched.filter(
            (F.col("r.generationStamp") != F.col("s.generationStamp"))
            | (F.col("r.length") != F.col("s.length"))
        )
        return to_add, to_remove, mismatched

    def classify_report(self, datanode_id: int, reported: DataFrame) -> DataFrame:
        """J5 full classification in one plan: (id, class) with class ∈
        added/removed/corrupt/ok (processReport :2468-2620 +
        CorruptReplicasMap semantics, single full-outer join)."""
        from adfs_spark.operators.joins import report_classify

        stored = self.blocks.live().filter(F.col("datanodeId") == datanode_id)
        return report_classify(
            reported.select("id", "length", "generationStamp"),
            stored.select("id", "length", "generationStamp"),
            ["id"],
            ["generationStamp", "length"],
        )

    # -- corrupt / missing accounting (CorruptReplicasMap) -------------------

    def corrupt_replicas(self) -> DataFrame:
        """Replicas whose (generationStamp, length) disagree with their
        block's primary replica — the CorruptReplicasMap membership
        (CorruptReplicasMap.java; populated by processReport's
        markBlockAsCorrupt path).  One shuffle on block id: replicas
        join the A2 argmax primary per block."""
        live = self.blocks.live()
        primary = group_argmax(
            live,
            ["id"],
            ["generationStamp", "version"],
            payload_cols=["id", "generationStamp", "length"],
        ).select(
            F.col("id").alias("_pid"),
            F.col("generationStamp").alias("_pgs"),
            F.col("length").alias("_plen"),
        )
        return (
            live.join(primary, live["id"] == F.col("_pid"))
            .filter(
                (F.col("generationStamp") < F.col("_pgs"))
                | (
                    (F.col("length") >= 0)
                    & (F.col("_plen") >= 0)
                    & (F.col("length") != F.col("_plen"))
                )
            )
            .select(
                "id",
                "datanodeId",
                F.when(F.col("generationStamp") < F.col("_pgs"), "genstamp")
                .otherwise("length")
                .alias("reason"),
            )
        )

    def corrupt_blocks_count(self) -> int:
        """getCorruptBlocksCount: blocks with ≥1 corrupt replica."""
        return self.corrupt_replicas().select("id").distinct().count()

    def missing_blocks(self, now_ms: int, expire_ms: int = 630_000) -> DataFrame:
        """getMissingBlocksCount input: block ids whose every replica
        sits on a dead datanode (T2) or is corrupt — no healthy source
        remains.  Anti-join of all block ids against ids with a healthy
        replica; both sides shuffle once on id."""
        live = self.blocks.live()
        alive_dns = self.datanodes.live().filter(
            F.col("lastUpdated") >= F.lit(now_ms - expire_ms)
        )
        corrupt = self.corrupt_replicas().select("id", "datanodeId")
        healthy = (
            live.join(
                F.broadcast(alive_dns.select(F.col("id").alias("_dnid"))),
                live["datanodeId"] == F.col("_dnid"),
                "left_semi",
            )
            .join(corrupt, ["id", "datanodeId"], "left_anti")
            .select("id")
        )
        return live.select("id").distinct().join(healthy, "id", "left_anti")

    def missing_blocks_count(self, now_ms: int, expire_ms: int = 630_000) -> int:
        return self.missing_blocks(now_ms, expire_ms).count()

    def expired_leases(self, now_ms: int, hard_limit_ms: int = 3600_000) -> DataFrame:
        """T1: LeaseMonitor scan (StateManager.LeaseMonitor :893-914)."""
        return self.leases.live().filter(F.col("time") < F.lit(now_ms - hard_limit_ms))

    def dead_datanodes(self, now_ms: int, expire_ms: int = 630_000) -> DataFrame:
        """T2: heartbeatCheck (FSNamesystem.heartbeatCheck :2392-2397)."""
        return self.datanodes.live().filter(
            F.col("lastUpdated") < F.lit(now_ms - expire_ms)
        )

    def under_replicated_blocks(self) -> DataFrame:
        """A6 + W3: blocks with live replicas < file replication, bucketed
        into the 3-level priority queue (UnderReplicatedBlocks :70-107):
        0 = last replica, 1 = < 1/3 of target, 2 = the rest."""
        files = self.namespace.ns().select(
            F.col("id").alias("file_id"), F.col("replication").alias("expected")
        )
        counts = (
            self.blocks.live()
            .groupBy("id", "fileId")
            .agg(F.count("*").alias("live_count"))
        )
        joined = counts.join(
            F.broadcast(files), counts["fileId"] == files["file_id"]
        ).filter(F.col("live_count") < F.col("expected"))
        return priority_bucket(
            joined,
            [
                (F.col("live_count") == 1, 0),
                (F.col("live_count") * 3 < F.col("expected"), 1),
            ],
            default=2,
        ).select("id", "fileId", "live_count", "expected", "priority")

    def cluster_statistics(self) -> DataFrame:
        """A5 (updateClusterStatistics :478-512)."""
        dn = self.datanodes.live()
        return dn.agg(
            F.sum("capacity").alias("sum_capacity"),
            F.sum("dfsUsed").alias("sum_dfsUsed"),
            F.sum("remaining").alias("sum_remaining"),
            F.sum("xceiverCount").alias("sum_xceiverCount"),
            F.count("*").alias("n_datanodes"),
        )


def primary_replicas(replicas: list) -> list:
    """The primary replica of each block among ``replicas`` (block-table
    Rows): the row with the greatest (generationStamp, version), a NULL
    stamp lowest — :func:`group_argmax` over ``id`` done on the driver
    for a file's few rows."""
    best: dict = {}
    for r in replicas:
        gs = r["generationStamp"]
        rank = (gs is not None, gs if gs is not None else 0, r["version"])
        if r["id"] not in best or rank > best[r["id"]][0]:
            best[r["id"]] = (rank, r)
    return [r for _, r in best.values()]
