"""``ns_serve``: one client issuing namespace verbs one at a time.

The namespace is built from the fixture tree: regions, nations and
customers become directories, orders become complete files, and every
lineitem row becomes one block with one to three replicas.  The op
stream is a sequence of identical *decks*: every deck has the same verb
composition, the seed picks the paths (skewed towards a hot set) and
part of the reads target the file the deck just wrote.  A deck ends
with a compaction of the written tables, like the reference's
checkpoint, so every deck starts from the same overlay depth.

:class:`Model` is a pure-Python namespace (path -> attributes, blocks,
leases).  The generator runs it forward while it emits ops, so each op
carries the answer the engine must give; the executor never sees the
model, only the ops.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

ROOT_ID = 0
DIR = -1
N_DATANODES = 8
BLOCK_SIZE = 67108864
GEN_STAMP = 1000

# one deck: (verb, target).  8 reads, 5 writes, then the checkpoint.
DECK = (
    ("getFileInfo", "hot_file"),
    ("listStatus", "hot_dir"),
    ("create", "new_file"),
    ("getFileInfo", "new_file"),
    ("addBlock", "new_file"),
    ("getFileBlockLocations", "new_file"),
    ("getContentSummary", "hot_dir"),
    ("complete", "new_file"),
    ("rename", "new_file"),
    ("getFileInfo", "new_file"),
    ("setReplication", "hot_file"),
    ("getCorruptBlocksCount", None),
    ("getUnderReplicatedBlocks", None),
    ("compact", None),
)
VERBS = tuple(dict.fromkeys(v for v, _ in DECK))


class Model:
    """The namespace as plain Python: ids, tree, block replicas, leases."""

    def __init__(self) -> None:
        # id -> [parentId, name, length, replication, leaseHolder]
        self.nodes: dict[int, list] = {ROOT_ID: [ROOT_ID, "", DIR, 0, None]}
        self.kids: dict[int, dict[str, int]] = {ROOT_ID: {}}
        # block id -> {datanodeId: [length, generationStamp]}
        self.replicas: dict[int, dict[int, list]] = {}
        self.block_file: dict[int, tuple[int, int]] = {}  # -> (fileId, fileIndex)
        self.file_blocks: dict[int, list[int]] = {}
        self.leases: set[str] = set()
        self.max_id = ROOT_ID
        self.max_block = 0

    # -- tree --------------------------------------------------------------

    def add(self, parent: int, name: str, length: int, replication: int,
            holder: str | None = None) -> int:
        self.max_id += 1
        nid = self.max_id
        self.nodes[nid] = [parent, name, length, replication, holder]
        self.kids[parent][name] = nid
        if length == DIR:
            self.kids[nid] = {}
        else:
            self.file_blocks[nid] = []
        return nid

    def path(self, nid: int) -> str:
        parts = []
        while nid != ROOT_ID:
            parent, name = self.nodes[nid][:2]
            parts.append(name)
            nid = parent
        return "/" + "/".join(reversed(parts))

    def add_block(self, file_id: int, block_id: int, index: int,
                  replicas: dict[int, list]) -> None:
        self.replicas[block_id] = replicas
        self.block_file[block_id] = (file_id, index)
        self.file_blocks[file_id].append(block_id)
        self.max_block = max(self.max_block, block_id)

    # -- answers -----------------------------------------------------------

    def info(self, nid: int) -> list:
        parent, name, length, rep, holder = self.nodes[nid]
        return [nid, parent, name, length, rep, holder]

    def listing(self, nid: int) -> list:
        return [[name, kid, self.nodes[kid][2]] for name, kid in sorted(self.kids[nid].items())]

    def _primary(self, block_id: int) -> list:
        reps = self.replicas[block_id]
        top = max(gs for _, gs in reps.values())
        # the engine's primary is the max (generationStamp, version)
        # replica; among equal stamps any one of them may win
        length = next(ln for ln, gs in reps.values() if gs == top)
        return [length, top, sorted(dn for dn, (_, gs) in reps.items() if gs == top)]

    def locations(self, nid: int) -> list:
        out = []
        for b in self.file_blocks[nid]:
            length, _, dns = self._primary(b)
            out.append([b, self.block_file[b][1], length, dns])
        return sorted(out, key=lambda r: r[1])

    def file_length(self, nid: int) -> int:
        # complete sums the primary among each block's positive-length
        # replicas
        total = 0
        for b in self.file_blocks[nid]:
            done = [(gs, ln) for ln, gs in self.replicas[b].values() if ln > 0]
            if done:
                total += max(done)[1]
        return total

    def summary(self, nid: int) -> list:
        length = files = dirs = 0
        todo = [nid]
        while todo:
            cur = todo.pop()
            if self.nodes[cur][2] == DIR:
                dirs += 1
                todo.extend(self.kids[cur].values())
            else:
                files += 1
                length += self.nodes[cur][2]
        return [length, files, dirs]

    def corrupt_count(self) -> int:
        n = 0
        for reps in self.replicas.values():
            top = max(gs for _, gs in reps.values())
            plen = next(ln for ln, gs in reps.values() if gs == top)
            if any(gs < top or (ln >= 0 and plen >= 0 and ln != plen)
                   for ln, gs in reps.values()):
                n += 1
        return n

    def under_replicated(self) -> int:
        return sum(
            1 for b, reps in self.replicas.items()
            if len(reps) < self.nodes[self.block_file[b][0]][3]
        )

    def digest(self) -> str:
        files = sorted(
            (nid, p, name, length, rep, holder)
            for nid, (p, name, length, rep, holder) in self.nodes.items()
        )
        blocks = sorted(
            (b, dn, ln, gs, *self.block_file[b])
            for b, reps in self.replicas.items() for dn, (ln, gs) in reps.items()
        )
        return _digest(files, blocks, sorted(self.leases))


def _digest(files, blocks, leases) -> str:
    blob = json.dumps([files, blocks, leases], separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


# -- fixture tree ----------------------------------------------------------


def build_model(sf_dir: str, seed: int) -> Model:
    """The initial namespace, derived from the fixture tables."""
    rng = np.random.default_rng(seed)
    cust = pq.read_table(os.path.join(sf_dir, "customer.parquet"),
                         columns=["c_custkey", "c_nationkey"]).to_pydict()
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"),
                           columns=["o_orderkey", "o_custkey"]).to_pydict()
    li = pq.read_table(
        os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_linenumber", "l_suppkey", "l_quantity"],
    ).to_pydict()
    m = Model()
    region = [m.add(ROOT_ID, f"region{r}", DIR, 0) for r in range(5)]
    nation = [m.add(region[n % 5], f"nation{n}", DIR, 0) for n in range(25)]
    cdir = {k: m.add(nation[nk], f"cust{k}", DIR, 0)
            for k, nk in zip(cust["c_custkey"], cust["c_nationkey"])}
    ofile = {ok: m.add(cdir[ck], f"order{ok}", 0, 3)
             for ok, ck in zip(orders["o_orderkey"], orders["o_custkey"])}
    n = len(li["l_orderkey"])
    n_reps = rng.choice([3, 2, 1], size=n, p=[0.88, 0.08, 0.04])
    stale = rng.random(n) < 0.02
    for i, (ok, ln, sk, qty) in enumerate(
        zip(li["l_orderkey"], li["l_linenumber"], li["l_suppkey"], li["l_quantity"])
    ):
        length = int(qty) * 1_000_000
        first = int(sk) % N_DATANODES
        reps = {
            (first + j) % N_DATANODES + 1: [length, GEN_STAMP]
            for j in range(int(n_reps[i]))
        }
        if stale[i] and len(reps) > 1:
            reps[first + 1][1] = GEN_STAMP - 1
        fid = ofile[ok]
        m.add_block(fid, ok * 8 + ln, ln - 1, reps)
        m.nodes[fid][2] += length
    return m


def load_engine(spark, fs, m: Model) -> None:
    """Bulk-load the model's initial state through the engine's
    public table API, then fold every table."""
    from adfs_spark.schema import BLOCK, DATANODE, FILE

    files = [
        (nid, p, name, length, 0 if length == DIR else BLOCK_SIZE, rep, 0, 0, 0,
         0o755 if length == DIR else 0o644, holder, 0, -1, -1)
        for nid, (p, name, length, rep, holder) in m.nodes.items() if nid != ROOT_ID
    ]
    blocks = [
        (b, dn, ln, gs, *m.block_file[b])
        for b, reps in m.replicas.items() for dn, (ln, gs) in reps.items()
    ]
    now = int(time.time() * 1000)
    dns = [
        (i, f"dn{i}:50010", f"storage{i}", 50020, 50075, 10**12, 0, 10**12, now, 0,
         f"/rack{i % 2}", "NORMAL")
        for i in range(1, N_DATANODES + 1)
    ]
    ns = fs.namespace
    ns.table.upsert(spark.createDataFrame(files, FILE.struct_type(include_version=False)))
    fs.blockmap.blocks.upsert(
        spark.createDataFrame(blocks, BLOCK.struct_type(include_version=False))
    )
    fs.blockmap.heartbeat(
        spark.createDataFrame(dns, DATANODE.struct_type(include_version=False))
    )
    for t in (ns.table, fs.blockmap.blocks, fs.blockmap.datanodes, fs.blockmap.leases):
        t.compact()


# -- op stream -------------------------------------------------------------


class Generator:
    """Emits decks of ops with their expected answers, running the model
    forward as it goes.  Paths follow a seeded power-law skew over a
    seeded ranking of customers and files."""

    def __init__(self, model: Model, seed: int) -> None:
        self.m = model
        self.rng = np.random.default_rng([seed, 1])
        self.files = sorted(k for k, v in model.nodes.items() if v[2] != DIR)
        self.rng.shuffle(self.files)
        self.dirs = sorted(
            k for k, v in model.nodes.items()
            if v[2] == DIR and v[1].startswith("cust")
        )
        self.rng.shuffle(self.dirs)
        self.deck_no = 0

    def _hot(self, items: list[int]) -> int:
        return items[int(len(items) * self.rng.random() ** 3)]

    def deck(self) -> list[dict]:
        m, ops = self.m, []
        self.deck_no += 1
        parent = self._hot(self.dirs)
        holder = f"client{self.deck_no}"
        new_id = None
        for verb, target in DECK:
            op: dict = {"verb": verb}
            if target == "hot_file":
                nid = self._hot(self.files)
            elif target == "hot_dir":
                nid = self._hot(self.dirs)
            else:
                nid = new_id
            if target is not None and verb != "create":
                op["path"] = m.path(nid)
            if verb == "getFileInfo":
                op["expect"] = m.info(nid)
            elif verb == "listStatus":
                op["expect"] = m.listing(nid)
            elif verb == "getContentSummary":
                op["expect"] = m.summary(nid)
            elif verb == "getFileBlockLocations":
                op["expect"] = m.locations(nid)
            elif verb == "getCorruptBlocksCount":
                op["expect"] = m.corrupt_count()
            elif verb == "getUnderReplicatedBlocks":
                op["expect"] = m.under_replicated()
            elif verb == "create":
                name = f"new{self.deck_no}"
                op.update(path=f"{m.path(parent)}/{name}", holder=holder)
                new_id = m.add(parent, name, 0, 3, holder)
                m.leases.add(holder)
                op["expect"] = new_id
            elif verb == "addBlock":
                first = int(self.rng.integers(N_DATANODES))
                dns = [(first + j) % N_DATANODES + 1 for j in range(3)]
                block = m.max_block + 1
                op.update(file_id=new_id, block_id=block, index=0, datanodes=dns)
                m.add_block(new_id, block, 0, {dn: [-1, 1] for dn in dns})
            elif verb == "complete":
                length = m.file_length(new_id)
                m.nodes[new_id][2] = length
                m.nodes[new_id][4] = None
                m.leases.discard(holder)
                op["expect"] = length
            elif verb == "rename":
                dst = self._hot(self.dirs)
                name = f"moved{self.deck_no}"
                op.update(dst=m.path(dst), name=name)
                old_parent, old_name = m.nodes[new_id][:2]
                del m.kids[old_parent][old_name]
                m.kids[dst][name] = new_id
                m.nodes[new_id][:2] = [dst, name]
            elif verb == "setReplication":
                rep = int(self.rng.choice([2, 4]))
                m.nodes[nid][3] = rep
                op["replication"] = rep
            ops.append(op)
        return ops


# -- engine side -----------------------------------------------------------


class Executor:
    """Applies one op to the engine and returns its answer in the
    model's shape."""

    def __init__(self, fs) -> None:
        self.fs = fs
        self.ns = fs.namespace
        self.bm = fs.blockmap

    def run(self, op: dict):
        verb, path = op["verb"], op.get("path")
        if verb == "getFileInfo":
            r = self.ns.get_file_info(path)
            return None if r is None else [
                r["id"], r["parentId"], r["name"], r["length"], r["replication"],
                r["leaseHolder"],
            ]
        if verb == "listStatus":
            rows = self.ns.get_listing(path).collect()
            return [[r["name"], r["id"], r["length"]] for r in rows]
        if verb == "getContentSummary":
            r = self.ns.content_summary(path)
            return [r["total_length"], r["file_count"], r["dir_count"]]
        if verb == "getFileBlockLocations":
            rows = self.bm.get_block_locations(path).collect()
            return [[r["block_id"], r["fileIndex"], r["length"], r["datanodeId"]]
                    for r in rows]
        if verb == "getCorruptBlocksCount":
            return self.bm.corrupt_blocks_count()
        if verb == "getUnderReplicatedBlocks":
            return self.bm.under_replicated_blocks().count()
        if verb == "create":
            return self.fs.create_file(path, lease_holder=op["holder"])
        if verb == "addBlock":
            return self.fs.allocate_block(
                op["file_id"], op["block_id"], op["index"], op["datanodes"]
            )
        if verb == "complete":
            return self.fs.complete_file(path)
        if verb == "rename":
            return self.ns.rename(path, op["dst"], op["name"])
        if verb == "setReplication":
            return self.ns.set_replication(path, op["replication"])
        if verb == "compact":
            for t in (self.ns.table, self.bm.blocks, self.bm.leases):
                t.compact()
            return None
        raise ValueError(f"unknown verb {verb}")

    def digest(self) -> str:
        files = sorted(
            (r["id"], r["parentId"], r["name"], r["length"], r["replication"],
             r["leaseHolder"])
            for r in self.ns.ns().collect()
        )
        blocks = sorted(
            (r["id"], r["datanodeId"], r["length"], r["generationStamp"], r["fileId"],
             r["fileIndex"])
            for r in self.bm.blocks.live().collect()
        )
        leases = sorted(r["holder"] for r in self.bm.leases.live().collect())
        return _digest(files, blocks, leases)

    def tables(self) -> list:
        return [self.ns.table, self.bm.blocks, self.bm.datanodes, self.bm.leases]


def matches(op: dict, got) -> bool:
    """Compare an engine answer with the op's expected answer."""
    if "expect" not in op:
        return True
    want = op["expect"]
    if op["verb"] == "getFileBlockLocations":
        # the primary replica may be any replica carrying the top stamp
        return len(got) == len(want) and all(
            g[:3] == w[:3] and g[3] in w[3] for g, w in zip(got, want)
        )
    return got == want


def rows_written(op: dict) -> int:
    """User rows an op commits: file, lease and replica rows."""
    return {
        "create": 2,  # file row + lease row
        "addBlock": len(op.get("datanodes", ())) + 1,  # replicas + file mtime
        "complete": 2,  # file row + lease drop
        "rename": 3,  # the file's parent edge + both parents' mtime
        "setReplication": 1,
    }.get(op["verb"], 0)
