"""Versioned table storage — upsert / masked update / tombstone / delta.

Re-expresses the reference's write path (U1-U5) and CDC/replication
surface (D1-D3) on plain parquet:

- every row carries a ``version`` long; ``abs(version)`` is unique and
  monotonically increasing per table (DistributedDataVersion.java:26-51);
- deletes are tombstones: the row is kept with negated version
  (deleteInternal, DistributedDataRepositoryBaseOnTable.java:316-330);
- the live view strips ``version < 0`` (removeDeletedRows :481-488);
- every write also appends to a **change log** directory (the
  DistributedOperationQueue D1 analog, DistributedOperationQueue.java:21-103),
  partitioned by a version bucket so version-range delta extraction
  (D2, getDataIncrement :221-249) prunes partitions instead of scanning
  history.

Concurrency stance: the reference serializes writers with a per-key
lock manager (U6, DistributedLocker.java:103-160) because many RPC
threads mutate one MySQL instance.  Here concurrent *jobs* are
serialized by an optimistic commit sequence (``_commits/`` sidecar,
atomic put-if-absent reservation — see the commit-sequence section
below): the loser retries against the winner's state, versions never
overlap.  Replication (D3/D4) is subsumed by the shared, durable file
system, so "full restore" is a parquet copy and "incremental restore"
is a delta read + idempotent merge.

Scale notes: with ``num_buckets > 0`` the current state is
hash-partitioned on the primary key and every write is an incremental
MERGE — read only the touched buckets (partition pruning), rewrite only
those partitions (dynamic partition overwrite).  A 1-row upsert then
costs O(table/num_buckets), which is the 100 TB write path; size
buckets so one bucket ≈ a few hundred MB.  The unbucketed path
(full tmp-swap rewrite) remains for small dimension tables.  For
high-churn workloads, append to the changelog only and ``compact``
periodically.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from adfs_spark.backend import CommitBackend, LocalCommitBackend, backend_from_env
from adfs_spark.functions import xxh
from adfs_spark.schema import VERSION_COL, TableSpec

OP_COL = "_op"  # INSERT / UPDATE / DELETE, DistributedOperation op types
VBUCKET_COL = "_vbucket"
VBUCKET_SIZE = 1_000_000
KBUCKET_COL = "_kb"  # pk-hash bucket (partition column of current/)
VSTAMP_BUCKETS = 64  # parallelism of version stamping (see _stamp_versions)
# Max estimated batch size the distributed write tail will persist for
# the duration of one op (the batch is read ~3x: stamp counts,
# changelog append, merge).  Batches past the gate — bulk loads,
# restores — recompute instead of spooling themselves to local disk.
WRITE_BATCH_PERSIST_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_WRITE_PERSIST_MAX", str(4 << 30))
)

COMMITS_DIR = "_commits"
LOCK_TTL_SEC = 600.0  # a .lock older than this is a crashed writer's lease
_MAX_COMMIT_RETRIES = 50
POINT_CACHE_CAPACITY = 8192
"""Entries one table's driver-side point cache holds — positive and
negative, primary-key and unique-index keys together — before FIFO
eviction, the bound the reference's FileCache keeps (see
:class:`_PointCache`)."""

OVERLAY_META = "_overlay.json"
"""Per-table visibility metadata (written atomically via tmp+rename):

- ``compacted_through`` (ct): every visible op with abs(version) <= ct
  is folded into ``current/``.
- ``visible_through`` (vt): committed ops end here.  Changelog rows in
  (ct, vt] are the PENDING OVERLAY — written by the changelog-append
  fast path and merged into reads on the fly (:meth:`VersionedTable.
  snapshot`); a merge write or :meth:`~VersionedTable.compact` folds
  them down and advances ct to vt.
- ``aborted``: [lo, hi] abs-version ranges fenced off after a writer
  crashed between its changelog append and its visibility bump; rows
  in these ranges exist physically in the changelog but are excluded
  from every read (snapshot overlay, delta, time travel) forever.

Tables created before this metadata existed (no ``_overlay.json``)
read exactly as before: everything in ``current/`` + nothing pending.
"""


class WriteConflictError(RuntimeError):
    """A concurrent writer held the table's commit sequence for longer
    than the retry budget."""


def _commit_head(backend: CommitBackend, path: str, seen: int | None) -> int:
    """Id of the newest ``<id>.commit`` object under ``path``.

    Commit ids are dense — a failed write releases its reservation
    without burning the id, and an aborted transaction still commits a
    fence-only manifest — so from the last id a handle saw, the head is
    found by probing ``seen + 1, seen + 2, …`` until one is absent: ONE
    ``read`` when nothing new landed, where a listing costs O(commits)
    and grows without end on a serving table.  ``seen=None`` (a handle's
    first call) lists once."""
    if seen is None:
        seen = max(
            (
                int(f.split(".", 1)[0])
                for f in backend.list(path)
                if f.endswith(".commit")
            ),
            default=0,
        )
    while backend.read(os.path.join(path, f"{seen + 1}.commit")) is not None:
        seen += 1
    return seen


def _abs_version_range(frag) -> tuple[int, int]:
    """(lo, hi) bounding abs(version) over a parquet fragment's rows,
    from its footer statistics; (0, 2**63) when a row group has none."""
    lo, hi = 1 << 63, 0
    for rg in frag.row_groups:
        st = rg.statistics.get(VERSION_COL)
        if st is None or "min" not in st:
            return 0, 1 << 63
        a, b = sorted((abs(st["min"]), abs(st["max"])))
        lo = min(lo, 0 if st["min"] < 0 < st["max"] else a)
        hi = max(hi, b)
    return lo, hi


def _footer_maxes(frags, col: str) -> list | None:
    """The max of ``col`` in each non-empty row group of the parquet
    fragments ``frags``, from footer statistics; None when a row group
    has none."""
    stats = [
        rg.statistics.get(col)
        for frag in frags
        for rg in frag.row_groups
        if rg.num_rows
    ]
    if all(st is not None and "max" in st for st in stats):
        return [st["max"] for st in stats]
    return None


def _footer_min(frag, cols: Sequence[str]) -> tuple | None:
    """Each column of ``cols`` at its min over a parquet fragment's rows,
    from footer statistics — a pk-sorted file's first pk, or a lower
    bound of it for a pk of several columns; None when the file holds
    no row or a row group has no statistics."""
    frag.ensure_complete_metadata()
    groups = [rg for rg in frag.row_groups if rg.num_rows]
    stats = [[rg.statistics.get(c) for rg in groups] for c in cols]
    if not groups or any(st is None or "min" not in st for col in stats for st in col):
        return None
    return tuple(min(st["min"] for st in col) for col in stats)


def _isin_filter(schema, cols: Sequence[str], keys):
    """A pyarrow filter keeping the rows whose ``cols`` may equal one of
    ``keys`` — a set of key tuples, or a pyarrow table holding ``cols``:
    per column, one ``isin`` over the keys' values, bounded by their min
    and max so that row-group statistics prune (pyarrow does not prune
    on ``isin`` alone).  Exact for one column; for several a superset,
    which callers narrow by the key tuple (:func:`_with_keys`)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    parts = []
    for i, c in enumerate(cols):
        t = schema.field(c).type
        if isinstance(keys, pa.Table):
            vals = pc.unique(keys[c]).cast(t)
        else:
            vals = pa.array(list({k[i] for k in keys}), t)
        lo, hi = pc.min_max(vals).values()
        f = ds.field(c)
        parts.append(f.isin(vals) & (f >= lo) & (f <= hi))
    return functools.reduce(operator.and_, parts)


def _with_keys(tbl, cols: Sequence[str], keys):
    """The rows of pyarrow table ``tbl`` whose ``cols`` equal a row of
    the pyarrow table ``keys`` (which holds ``cols``) — exact, where
    :func:`_isin_filter` is a superset for several columns."""
    import pyarrow.compute as pc

    if len(cols) == 1:
        (c,) = cols
        return tbl.filter(pc.is_in(tbl[c], value_set=keys[c].combine_chunks()))
    return tbl.join(keys.select(list(cols)), keys=list(cols), join_type="left semi")


def _lww_arrow(tbl, pk: Sequence[str]):
    """The rule of :func:`_latest_by_abs_version` in pyarrow columns:
    per primary key the row with the greatest abs(version), tombstones
    kept.  Sorts by pk and abs(version) descending and keeps the first
    row of each pk run; the result is in pk order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if tbl.num_rows < 2:
        return tbl
    order = pc.sort_indices(
        tbl.append_column("_absv", pc.abs(tbl[VERSION_COL])),
        sort_keys=[(c, "ascending") for c in pk] + [("_absv", "descending")],
    )
    tbl = tbl.take(order)
    dup = None  # row i+1 has the pk of row i
    for c in pk:
        a, b = tbl[c].slice(1), tbl[c].slice(0, tbl.num_rows - 1)
        same = pc.or_(
            pc.fill_null(pc.equal(a, b), False),
            pc.and_(pc.is_null(a), pc.is_null(b)),
        )
        dup = same if dup is None else pc.and_(dup, same)
    return tbl.filter(pa.chunked_array([pa.array([True]), *pc.invert(dup).chunks]))


class _PointCache:
    """Driver-side write-through point cache of one table — the
    reference's FileCache (FileCache.java:34-99).  ``entries`` maps a
    slot to a value, one FIFO over all slots:

    - ``(None, pk)`` → the live Row, or None for a key known absent
      (negative caching, DistributedDataCache.addForFind :136-143);
    - ``(index, key)`` for each unique index the spec declares → the
      pk owning that key, or None.  An index hit is served only while
      the pk slot still holds a live row carrying that key, so a row
      that moved (rename) can never be returned under its old key.

    ``cid`` is the commit the entries reflect; the owning
    :class:`VersionedTable` keeps it coherent (see its
    ``_pc_validate``).  Like the rest of a table handle, the cache is
    used by one thread at a time: concurrent clients each open their
    own handle, and handles on one root stay coherent through the
    commit probe.

    ``max_pk`` is the high-water mark of a one-column integer primary
    key (:meth:`VersionedTable.pk_high_water`), or None while unknown:
    write-through raises it, and every clear drops it.  ``serving`` is
    set once the table serves a point read or point write; from then on
    every driver-side write writes through, even into an empty cache."""

    __slots__ = ("cols", "entries", "cid", "max_pk", "serving")

    def __init__(self, spec: TableSpec) -> None:
        # slot kind -> key columns: None is the primary key
        self.cols = {None: spec.primary_key}
        self.cols.update({ix.name: ix.columns for ix in spec.indexes if ix.unique})
        self.entries: OrderedDict = OrderedDict()
        self.cid: int | None = None
        self.max_pk: int | None = None
        self.serving = False

    def lookup(self, slot: tuple):
        """(hit, value): a pk slot's Row or None; an index slot's owning
        row, valid only while that row still carries the key."""
        if slot not in self.entries:
            return False, None
        index, key = slot
        hit = self.entries[slot]
        if index is None or hit is None:
            return True, hit
        row = self.entries.get((None, hit))
        if row is not None and tuple(row[c] for c in self.cols[index]) == key:
            return True, row
        return False, None

    def clear(self) -> None:
        self.entries.clear()
        self.max_pk = None

    def _put(self, slot: tuple, value) -> None:
        self.entries[slot] = value
        while len(self.entries) > POINT_CACHE_CAPACITY:
            self.entries.popitem(last=False)

    def _key(self, index: str | None, row: Row) -> tuple:
        return tuple(row[c] for c in self.cols[index])

    def _fill(self, row: Row) -> None:
        pk = self._key(None, row)
        self._put((None, pk), row)
        for index in self.cols:
            k = self._key(index, row)
            if index is not None and None not in k:
                self._put((index, k), pk)

    def fill_miss(self, slot: tuple, row: Row | None) -> None:
        """Cache what a miss read found: the row, or a negative entry."""
        if row is None:
            self._put(slot, None)
        else:
            self._fill(row)

    def write(self, rows: list[Row]) -> None:
        """Write-through of driver-appended rows, in version order: the
        pk slot takes the new row (a tombstone makes it negative), each
        unique-index slot the row held before goes negative, and the
        row's new index slots point at it."""
        for row in rows:
            pk = self._key(None, row)
            old = self.entries.get((None, pk))
            if old is not None:
                for index in self.cols:
                    k = self._key(index, old)
                    if index is not None and self.entries.get((index, k)) == pk:
                        self._put((index, k), None)
            if row[VERSION_COL] < 0:
                self._put((None, pk), None)
            else:
                self._fill(row)
        if self.max_pk is not None:
            (col,) = self.cols[None]
            self.max_pk = max([self.max_pk, *(row[col] for row in rows)])

    def advance(self, cid: int, keep: bool) -> None:
        """The owning handle published commit ``cid``.  Entries survive
        only if ``keep`` (the write maintained them: write-through or a
        clear) and they reflected the commit right before; otherwise
        the cache empties — an empty cache is valid at any commit."""
        if not (keep and self.cid == cid - 1):
            self.clear()
        self.cid = cid


def _latest_by_abs_version(
    df: DataFrame, pk: Sequence[str], cluster: tuple[str, int] | None = None
) -> DataFrame:
    """Last-writer-wins by abs(version) per primary key (U4 semantics,
    insert/update/deleteDirectly :420-470).

    ``cluster=(col, n)`` (r9): hash-partition the input by ``col`` — a
    pure function of the pk, e.g. the bucket column — into ``n``
    partitions FIRST and key the window by (col, *pk).  The result is
    identical (same-pk rows share the same ``col`` value), but the
    window's clustering requirement is satisfied by the explicit
    exchange (hash partitioning on a subset of the window keys already
    co-locates every (col, pk) group), so the plan carries ONE exchange
    that both merges versions and clusters the output for the bucketed
    write (guide §2.4: operations keyed the same way share one
    exchange)."""
    keys: list[str] = list(pk)
    if cluster is not None:
        ccol, n = cluster
        df = df.repartition(n, F.col(ccol))
        keys = [ccol, *keys]
    w = Window.partitionBy(*keys).orderBy(F.abs(F.col(VERSION_COL)).desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _stamp_versions(
    rows: DataFrame, pk: Sequence[str], base: int, negate: bool = False
) -> DataFrame:
    return _stamp_versions_n(rows, pk, base, negate)[0]


def _stamp_versions_n(
    rows: DataFrame, pk: Sequence[str], base: int, negate: bool = False
) -> tuple[DataFrame, int]:
    """Stamp each row with a dense unique version in (base, base+n] —
    **in parallel** (two-pass partition-offset numbering).

    A global ``row_number().over(Window.orderBy(pk))`` funnels the
    whole batch through one task; the reference's DistributedDataVersion
    is just an AtomicLong (DistributedDataVersion.java:26-51), so dense
    numbering without a global sort is enough.  Pass 1 hashes rows into
    ``VSTAMP_BUCKETS`` deterministic pk-hash buckets and collects the
    per-bucket *counts* (≤64 longs — metadata, not data) to compute
    cumulative offsets; pass 2 numbers rows within each bucket::

        version = base + offset[bucket] + row_number_within_bucket

    The stamping plan contains only a hash-partitioned Exchange — no
    single-partition funnel — and, because bucket assignment is a pure
    function of the key, versions are deterministic under recomputation
    (the same stamped frame feeds both the changelog append and the
    current-state merge).

    Returns ``(stamped, n)`` — n = total rows stamped (the batch's new
    visibility watermark is ``base + n``), already known from the
    pass-1 counts, so append-path writers never run an extra count job.
    """
    pk_concat = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in pk])
    bucket = F.pmod(F.xxhash64(pk_concat), F.lit(VSTAMP_BUCKETS)).cast("int")
    tagged = rows.withColumn("_vsb", bucket)
    counts = {r["_vsb"]: r["count"] for r in tagged.groupBy("_vsb").count().collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    if offsets:
        off = F.create_map(
            *[F.lit(x) for b_off in offsets.items() for x in b_off]
        )[F.col("_vsb")]
    else:
        off = F.lit(0)
    w = Window.partitionBy("_vsb").orderBy(*pk)
    v = (F.lit(base) + off + F.row_number().over(w)).cast("long")
    if negate:
        v = -v
    return tagged.withColumn(VERSION_COL, v).drop("_vsb"), acc


def _arrow_type(t: str):
    """The pyarrow type of a spec column type the driver reads and
    writes — one of ``VersionedTable._DRIVER_PA_TYPES``."""
    import pyarrow as pa

    return {
        "boolean": pa.bool_(), "byte": pa.int8(), "short": pa.int16(),
        "int": pa.int32(), "long": pa.int64(), "float": pa.float32(),
        "double": pa.float64(), "string": pa.string(), "binary": pa.binary(),
    }[t]


def _arrow_rows(tbl) -> list[Row]:
    """A pyarrow table's rows as the Rows a Spark ``collect()`` returns
    for them: the same field order and values, binary as bytearray."""
    import pyarrow as pa

    cols = [
        [bytearray(x) if x is not None else None for x in col.to_pylist()]
        if pa.types.is_binary(col.type)
        else col.to_pylist()
        for col in tbl.columns
    ]
    make = Row(*tbl.column_names)  # a Row class: no dict per row
    return [make(*vals) for vals in zip(*cols)]


_INT_BITS = {"byte": 8, "short": 16, "int": 32, "long": 64}
_PY_TYPES = {
    "boolean": bool, "float": (int, float), "double": (int, float),
    "string": str, "binary": (bytes, bytearray),
}


def _driver_value(table: str, col, v):
    """``v`` as the value a driver-side write stores in column ``col``
    (a :class:`~adfs_spark.schema.ColumnSpec`); ValueError when it does
    not fit the column's type — an integer out of a byte, short, int or
    long range included."""
    if v is None and col.nullable:
        return None
    bits = _INT_BITS.get(col.type)
    if bits is not None:
        try:
            v = operator.index(v)
        except TypeError:
            pass
        else:
            if -(1 << (bits - 1)) <= v < 1 << (bits - 1):
                return v
    elif v is not None and isinstance(v, _PY_TYPES[col.type]):
        return v
    raise ValueError(f"{table}.{col.name}: {v!r} is not a valid {col.type}")


@dataclass
class VersionedTable:
    """A parquet-backed table with version/tombstone semantics.

    Layout::

        <root>/current/           current state (one row per pk, incl. tombstones)
        <root>/changelog/         append-only ops, partitioned by _vbucket
    """

    spark: SparkSession
    spec: TableSpec
    root: str
    num_buckets: int = 0
    """When > 0, current/ is hash-partitioned into ``num_buckets``
    directories on a deterministic pk hash.  Writes then become
    **incremental merges**: only the buckets containing touched keys
    are read and rewritten (partition pruning on read, dynamic
    partition overwrite on write).  This is the 100 TB write path — a
    1-row upsert rewrites 1/num_buckets of the table, not all of it."""

    append_threshold: int = 100_000
    """The most rows the driver handles at once.  ``mode='auto'`` write
    routing: batches at or below this many rows take the
    changelog-append fast path (no bucket rewrite — the reference's
    B-tree point-update analog, FileRepository.updateInternal
    :226-286); larger batches amortize the merge floor and fold
    immediately.  The bound keeps the pending overlay broadcast-joinable
    on reads (overlay keys ≈ a few MB).  :meth:`compact` folds a tail of
    at most this many rows on the driver, and a driver fold splits the
    files it writes every this many rows."""

    txn: "TransactionLog | None" = None
    """Set by :meth:`TransactionLog.enroll`.  Enrolled tables commit
    through the SHARED transaction log: visibility (vt + fences) lives
    in its manifest instead of the local ``_overlay.json`` (which keeps
    only the physical fold state ct), every mutation takes the
    changelog-append path (a fold inside an uncommitted transaction
    would leak rows into current/), and serialization happens on the
    txn's single lock — the engine's analog of the one FSNamesystem
    lock under which the reference commits a multi-table op batch
    (DistributedOperationQueue.getOperations :82-103,
    FSNamesystem.startFileInternal :842-870)."""

    backend: CommitBackend = field(default_factory=backend_from_env)
    """Commit-plane storage (locks, commit manifests, overlay
    watermarks).  Every durability primitive routes through the SIX
    verbs of :class:`~adfs_spark.backend.CommitBackend` — swap in an
    object-store implementation (conditional PUT + atomic object
    create) and the protocol carries over unchanged; the
    MemoryCommitBackend fake runs the same protocol tests to prove the
    verb set is sufficient.  Data-plane I/O (parquet files in current/
    and the changelog) goes to the file system directly: Spark for
    distributed writes, pyarrow on the driver for point writes, point
    reads and the small-tail fold of :meth:`compact`."""

    mor_tail_fraction: float = 0.05
    """Merge-on-read routing bound for ``mode='auto'`` writes larger
    than ``append_threshold``: a spread update (e.g. 1% of keys, every
    pk bucket touched) makes the merge O(table) — the classic
    write-amplification wall of copy-on-write parquet.  When the batch
    would keep the pending changelog tail within
    ``max(append_threshold · overlay_fold_factor, mor_tail_fraction ·
    rows-folded-so-far)``, auto routes it to a *distributed append*
    instead: O(batch) changelog write, reads shuffle-merge the overlay
    (a ≤5% tax by construction), and ``compact()`` amortizes the fold.
    This is the Hudi/Delta merge-on-read trade, bounded so the read tax
    can't grow unbounded; the folded-rows watermark (``ct``) stands in
    for the table's row count (one metadata read, no counting job)."""

    overlay_fold_factor: int = 4
    """Read-amplification bound on the pending overlay: when the
    unfolded changelog tail exceeds ``append_threshold *
    overlay_fold_factor`` versions, the next append-routed write folds
    instead (and :meth:`snapshot` drops the broadcast hint in favor of
    a shuffle merge as a second guard) — otherwise a long append streak
    grows the overlay key broadcast without bound and eventually OOMs
    the driver on every read.  Enrolled tables never self-fold (a fold
    inside an uncommitted transaction leaks); they rely on the shuffle
    fallback plus a periodic :meth:`compact`."""

    def __post_init__(self) -> None:
        # cached current/ DataFrame HANDLE (plan + file index), r10:
        # see _read_current_raw.  Metadata only — no rows are memoized.
        self._current_df = None
        self._pc = _PointCache(self.spec)
        self._commit_seen: int | None = None  # see last_commit_id
        self._tail_frags: dict[str, tuple] = {}  # see _tail_fragments

    def _cast_spec(self, df: DataFrame) -> DataFrame:
        """Project onto the spec's columns WITH the spec's exact types.
        Every write funnels through this so the changelog stays
        type-uniform across files — an un-cast literal assignment (e.g.
        ``F.lit(106)`` into a long column) would otherwise write an
        int32 parquet file into a long column's history and break every
        later changelog read (delta / time travel / overlay)."""
        st = self.spec.struct_type()
        return df.select([F.col(f.name).cast(f.dataType) for f in st.fields])

    def _kbucket(self) -> Column:
        pk_concat = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in self.spec.primary_key])
        return F.pmod(F.xxhash64(pk_concat), F.lit(self.num_buckets)).cast("int")

    @property
    def current_path(self) -> str:
        return os.path.join(self.root, "current")

    @property
    def changelog_path(self) -> str:
        return os.path.join(self.root, "changelog")

    # -- bootstrap ---------------------------------------------------------

    def init(self, rows: DataFrame | None = None, start_version: int = 1) -> None:
        """Create the table, optionally seeding initial rows (stamped
        with consecutive versions starting at ``start_version``)."""
        def body() -> None:
            schema = self.spec.struct_type()
            if rows is None:
                df = self.spark.createDataFrame([], schema)
            else:
                df = _stamp_versions(rows, list(self.spec.primary_key), start_version - 1)
            # the stamped seed is read twice (current write + changelog
            # history); persist it for the op under the same size gate
            # as _write_op so the source scan + stamping compute once
            cached = None
            try:
                est = int(
                    df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
            except Exception:
                est = 1 << 62
            if rows is not None and est <= WRITE_BATCH_PERSIST_MAX_BYTES:
                from pyspark import StorageLevel

                cached = df.persist(StorageLevel.MEMORY_AND_DISK)
                df = cached
            try:
                if self.num_buckets:
                    # seed rows are external by contract (the table does
                    # not exist yet), so the anti-overwrite-while-reading
                    # tmp-swap is skipped — one write instead of two
                    self._write_partitions(
                        df.withColumn(KBUCKET_COL, self._kbucket()),
                        source_external=True,
                    )
                else:
                    self._write_current(df)
                ops = df.withColumn(OP_COL, F.lit("INSERT"))
                self._append_changelog(ops)
                self._mark_compacted()
            finally:
                if cached is not None:
                    cached.unpersist()

        self._transact(body, "INIT")

    # -- reads -------------------------------------------------------------

    def _full_schema(self) -> T.StructType:
        schema = self.spec.struct_type()
        if self.num_buckets:
            schema = schema.add(KBUCKET_COL, T.IntegerType())
        return schema

    def _read_current_raw(self) -> DataFrame:
        """Current state incl. the bucket partition column (if any)."""
        # r10: reuse the DataFrame handle across ops — a fresh
        # read.schema(...).parquet(...) re-resolves the DataSource and
        # re-lists current/ on EVERY op (~60-90 ms of the ~150 ms
        # namespace-op floor; rename/openClose/getFileStatus pay it per
        # call).  The handle caches the plan + file index only; every
        # action still scans the parquet files.  Freshness: the handle
        # is keyed on a stat token of current/ and its immediate
        # children (any rewrite — swap, dynamic overwrite, vacuum —
        # creates/removes entries there, bumping an mtime; ~64 stat
        # syscalls ≈ 0.1 ms), so writers in OTHER processes are picked
        # up too; in-process rewrites additionally invalidate
        # explicitly.
        tok = self._current_token()
        if self._current_df is None or self._current_df[0] != tok or tok is None:
            df = self.spark.read.schema(self._full_schema()).parquet(
                self.current_path
            )
            if tok is None:
                return df
            self._current_df = (tok, df)
        return self._current_df[1]

    def _current_token(self) -> "tuple | None":
        try:
            st = os.stat(self.current_path)
            tok = [("", st.st_mtime_ns)]
            with os.scandir(self.current_path) as it:
                for e in it:
                    tok.append((e.name, e.stat().st_mtime_ns))
            tok.sort()
            return tuple(tok)
        except OSError:
            return None

    def _invalidate_current(self) -> None:
        """Drop the cached current/ handle — call after ANY in-process
        rewrite of current/ (its file index holds the old file list).
        Cross-process rewrites are caught by the stat token above."""
        self._current_df = None

    # -- visibility metadata (overlay / fencing) ---------------------------

    @property
    def overlay_meta_path(self) -> str:
        return os.path.join(self.root, OVERLAY_META)

    def _local_overlay_meta(self) -> dict | None:
        raw = self.backend.read(self.overlay_meta_path)
        if raw is None:
            return None
        try:
            return json.loads(raw)
        except ValueError:
            return None

    def _overlay_meta(self) -> dict | None:
        """Effective visibility metadata.  Standalone tables: the local
        ``_overlay.json``.  Enrolled tables: ct from the local file
        (physical fold state), vt from the transaction log's manifest —
        the single source that flips atomically across tables — and
        aborted = the UNION of manifest fences and any fences recorded
        in the local file (e.g. from a crash while the table was still
        standalone, pre-enrollment — fences are permanent, so the union
        is always safe); inside an open transaction the writer's own
        staged watermark is merged in (read-your-own-writes)."""
        local = self._local_overlay_meta()
        if self.txn is None:
            return local
        m = self.txn.table_meta(self.spec.name)
        if local is None and m is None:
            return None
        ct = int(local["compacted_through"]) if local else 0
        local_ab = [list(r) for r in (local or {}).get("aborted", [])]
        if m is not None:
            vt = int(m.get("visible_through", 0))
            aborted = [list(r) for r in m.get("aborted", [])]
            for r in local_ab:
                if r not in aborted:
                    aborted.append(r)
        else:
            vt = int(local.get("visible_through", ct)) if local else ct
            aborted = local_ab
        return {
            "compacted_through": ct,
            "visible_through": max(vt, ct),
            "aborted": aborted,
        }

    def _write_overlay_meta(self, meta: dict) -> None:
        self.backend.replace(
            self.overlay_meta_path, json.dumps(meta).encode()
        )

    def _current_stats_max(self) -> int:
        """max abs(version) present in current/ — min/max on the raw
        column so parquet footer stats answer it without a data scan."""
        try:
            row = self._read_current_raw().agg(
                F.max(VERSION_COL), F.min(VERSION_COL)
            ).first()
        except Exception:
            return 0
        return max(int(row[0] or 0), -int(row[1] or 0), 0)

    def _changelog_phys_max(self, above_bucket: int) -> int:
        """max abs(version) physically present in the changelog tail
        (vbucket >= above_bucket) — includes orphaned rows a crashed
        writer appended but never made visible.  Footer stats only."""
        try:
            row = (
                self.changelog()
                .filter(F.col(VBUCKET_COL) >= above_bucket)
                .agg(F.max(VERSION_COL), F.min(VERSION_COL))
                .first()
            )
        except Exception:
            return 0
        return max(int(row[0] or 0), -int(row[1] or 0), 0)

    def _visible_cond(self) -> Column | None:
        """Changelog visibility filter: committed versions only — caps
        at visible_through and excludes aborted (fenced) ranges.  None
        when the table predates overlay metadata (everything visible)."""
        meta = self._overlay_meta()
        if meta is None:
            return None
        absv = F.abs(F.col(VERSION_COL))
        cond = absv <= F.lit(int(meta["visible_through"]))
        for lo, hi in meta.get("aborted", []):
            cond = cond & ~absv.between(int(lo), int(hi))
        return cond

    def _pending_overlay(self) -> DataFrame | None:
        """Committed-but-unfolded changelog rows (ct < abs(version) <=
        vt, aborted ranges excluded), or None when nothing is pending.
        The _vbucket partitioning prunes the history scan to the tail."""
        meta = self._overlay_meta()
        if meta is None:
            return None
        ct, vt = int(meta["compacted_through"]), int(meta["visible_through"])
        if vt <= ct:
            return None
        absv = F.abs(F.col(VERSION_COL))
        cond = (absv > ct) & (absv <= vt)
        for lo, hi in meta.get("aborted", []):
            cond = cond & ~absv.between(int(lo), int(hi))
        # direct-path read of just the tail's version-bucket dirs — the
        # partition-filter form re-lists the WHOLE history per read
        tail = self._changelog_range(ct // VBUCKET_SIZE, vt // VBUCKET_SIZE)
        if tail is None:
            return None
        return tail.filter(cond).select(*self.spec.column_names())

    def _mark_compacted(self, through: int | None = None) -> None:
        """After a fold (merge write / compact): ct := vt := ``through``,
        the version the fold wrote current/ through — or, when the caller
        does not know it (a merge of replayed rows), the max version now
        in current/ (one footer-stats job).  Monotonic — vacuum may
        physically remove the max-version tombstone, and regressing ct
        would resurrect folded changelog rows as overlay."""
        if through is None:
            through = self._current_stats_max()
        meta = self._overlay_meta() or {"aborted": []}
        ct = max(through, int(meta.get("compacted_through", 0)))
        meta["compacted_through"] = ct
        meta["visible_through"] = max(ct, int(meta.get("visible_through", 0)))
        meta["aborted"] = self._prune_fences(
            [list(r) for r in meta.get("aborted", [])], ct
        )
        self._write_overlay_meta(meta)

    def _prune_fences(self, aborted: list[list[int]], ct: int) -> list[list[int]]:
        """Retire fences wholly below the fold horizon: their orphaned
        rows are PHYSICALLY deleted from the changelog, then the range
        entries are dropped (locally, and — for enrolled tables — staged
        for removal in the open transaction's manifest commit).  Without
        this a crash-heavy history grows the fence list, and every
        read's exclusion predicate, without bound.  Rows are deleted
        BEFORE the entry is dropped, so delta()/snapshot_as_of stay
        sound: once no fence names a range, nothing physically remains
        in it."""
        done = [r for r in aborted if int(r[1]) <= ct]
        if not done:
            return aborted
        self._drop_changelog_ranges(done)
        if self.txn is not None and self.txn.active:
            self.txn.stage_fence_prune(self.spec.name, done)
        return [r for r in aborted if int(r[1]) > ct]

    def _drop_changelog_ranges(self, ranges: list[list[int]]) -> None:
        """Rewrite the changelog vbucket partitions overlapping
        ``ranges`` with the fenced rows filtered out — data-plane I/O
        (the same tmp+swap pattern as current/; a transactional table
        format's DELETE at scale).  Cost is bounded by the crashed
        batches' own vbucket directories, and runs only when a fence
        retires."""
        hit: set[int] = set()
        for lo, hi in ranges:
            hit.update(range(int(lo) // VBUCKET_SIZE, int(hi) // VBUCKET_SIZE + 1))
        schema = self.spec.struct_type().add(OP_COL, T.StringType())
        absv = F.abs(F.col(VERSION_COL))
        keep = F.lit(True)
        for lo, hi in ranges:
            keep = keep & ~absv.between(int(lo), int(hi))
        for vb in sorted(hit):
            d = os.path.join(self.changelog_path, f"{VBUCKET_COL}={vb}")
            if not os.path.isdir(d):
                continue
            kept = self.spark.read.schema(schema).parquet(d).filter(keep)
            tmp = os.path.join(self.root, f"_tmp_{uuid.uuid4().hex}")
            kept.write.mode("overwrite").parquet(tmp)
            final = self.spark.read.schema(schema).parquet(tmp)
            final.write.mode("overwrite").parquet(d)
            shutil.rmtree(tmp, ignore_errors=True)

    def _mark_visible(self, vt_new: int) -> None:
        """After a changelog-append write: publish versions up to
        ``vt_new`` (ct unchanged — the rows live only in the changelog
        until the next fold).  Enrolled tables STAGE the watermark in
        the open transaction instead — nothing becomes durable until
        the txn's single manifest commit."""
        if self.txn is not None:
            self.txn.stage(self, vt_new)
            return
        meta = self._overlay_meta()
        if meta is None:
            meta = {"compacted_through": self._current_stats_max(), "aborted": []}
        meta["visible_through"] = max(int(meta.get("visible_through", 0)), vt_new)
        self._write_overlay_meta(meta)

    def _stamp_base(self) -> int:
        """The version to stamp the next batch above: the visibility
        watermark, raised past any FENCED range (aborted ranges sit
        above vt until a fold passes them; stamping into one would
        collide with a crashed writer's orphaned rows).  Metadata-only —
        the happy path runs no Spark job here; orphan DETECTION happens
        on the failure paths (:meth:`_fence_orphans` from the
        transaction's exception handler and the stale-lock steal)."""
        meta = self._overlay_meta()
        if meta is None:
            return self.max_version()
        base = int(meta["visible_through"])
        for _lo, hi in meta.get("aborted", []):
            base = max(base, int(hi))
        return base

    def _orphan_range(self) -> tuple[int, int] | None:
        """The un-published changelog tail, if any: (lo, hi) abs-version
        range above the visibility watermark and every existing fence.
        One footer-stats job; failure-path only."""
        meta = self._overlay_meta()
        if meta is None:
            return None
        floor = int(meta["visible_through"])
        for _lo, hi in meta.get("aborted", []):
            floor = max(floor, int(hi))
        phys = self._changelog_phys_max(floor // VBUCKET_SIZE)
        return (floor + 1, phys) if phys > floor else None

    def _fence_orphans(self) -> None:
        """Record any un-published changelog tail (rows above the
        visibility watermark and existing fences) as an aborted range,
        so no later write stamps into it and no read ever sees it —
        the reference discards unfinished op batches on journal replay
        (DistributedOperationQueue.java:82-103).  Called on the failure
        paths only: after a write body raises (while still holding the
        commit reservation, so the probe is serialized against other
        writers) and after stealing a crashed writer's expired lock.
        Tables enrolled in a TransactionLog fence through its manifest
        instead (the txn context's failure path)."""
        rng = self._orphan_range()
        if rng is None:
            return
        self._pc.clear()
        meta = self._overlay_meta()
        meta.setdefault("aborted", []).append(list(rng))
        self._write_overlay_meta(meta)

    # -- reads (continued) -------------------------------------------------

    def snapshot(self) -> DataFrame:
        """All current rows including tombstones — current/ plus the
        pending changelog overlay, LWW-merged.

        While the overlay stays small (one append batch is bounded by
        ``append_threshold``) the merge never shuffles the table: the
        overlay is LWW-collapsed on its own, then its key set
        broadcast-splits current/ into uncontested rows (kept as-is via
        a broadcast anti-join) and contested rows (broadcast semi-join,
        re-merged with the overlay in a window over only that small
        set).  The overlay grows across successive append-mode writes,
        so past ``append_threshold * overlay_fold_factor`` unfolded
        versions the broadcast hint is dropped and the same split runs
        as shuffle joins (AQE still broadcasts if runtime stats allow)
        — a long un-compacted append streak degrades to a shuffle, it
        never OOMs the driver.  With nothing pending this is exactly
        the bare current/ scan."""
        df = self._read_current_raw()
        cur = df.drop(KBUCKET_COL) if self.num_buckets else df
        pend = self._pending_overlay()
        if pend is None:
            return cur
        meta = self._overlay_meta()
        bound = self.append_threshold * self.overlay_fold_factor
        small = (
            int(meta["visible_through"]) - int(meta["compacted_through"]) <= bound
        )
        hint = F.broadcast if small else (lambda d: d)
        pk = list(self.spec.primary_key)
        ov = _latest_by_abs_version(pend, pk)
        ovk = ov.select(*pk)
        contested = cur.join(hint(ovk), pk, "left_semi")
        merged = _latest_by_abs_version(contested.unionByName(ov), pk)
        return cur.join(hint(ovk), pk, "left_anti").unionByName(merged)

    def live(self) -> DataFrame:
        """P5: the live view — tombstones stripped."""
        return self.snapshot().filter(F.col(VERSION_COL) >= 0)

    def _live_hits(self, predicate=None, keys: DataFrame | None = None) -> DataFrame:
        """Live rows matching ``predicate`` (or whose pk appears in
        ``keys``) with the pending overlay LWW-merged — the hit scan of
        the predicate writes (point reads use :meth:`_live_rows`).

        Cheaper than ``live().filter(...)``: the full snapshot() merge
        anti/semi-splits the WHOLE table on the overlay key set before
        the filter can prune anything.  Here the filter pushes down to
        the current/ parquet scan and the (small) overlay rides along
        complete; the LWW window then runs over hits + overlay only.
        Sound because an overlay row always outranks the same key's
        current row (overlay versions ∈ (ct, vt], current ≤ ct): for a
        key with any overlay row the merge winner is an overlay row
        whether or not the current row survived the pushed filter, and
        for a key with none the pushed filter equals the post-merge
        filter.  The final post-merge ``predicate`` filter drops keys
        whose LATEST row no longer matches."""
        pk = list(self.spec.primary_key)
        cur = self._read_current_raw()
        if self.num_buckets:
            cur = cur.drop(KBUCKET_COL)
        pend = self._pending_overlay()
        if keys is not None:
            keyset = keys.select(*[c for c in keys.columns if c in pk])
            cur = cur.join(keyset, pk, "left_semi")
            if pend is not None:
                pend = pend.join(keyset, pk, "left_semi")
        if pend is None:
            base = cur if predicate is None else cur.filter(predicate)
        else:
            pre = cur if predicate is None else cur.filter(predicate)
            base = _latest_by_abs_version(pre.unionByName(pend), pk)
            if predicate is not None:
                base = base.filter(predicate)
        return base.filter(F.col(VERSION_COL) >= 0)

    def point_lookup(self, key_values: Sequence[tuple | object]) -> DataFrame:
        """S1/S3 point reads with PHYSICAL bucket pruning — the
        engine's analog of a HandlerSocket indexed point `find`
        (DatabaseExecutorForHandlerSocket.findInternal :120-132).

        ``key_values``: primary-key tuples (bare values for a 1-column
        pk).  With a bucketed layout the pk-hash bucket of each key is
        computed ON THE DRIVER in pure Python (``functions.xxh`` is
        bit-identical to the layout's ``xxhash64`` — no Spark job at
        all for int/str/bool keys; exotic key types fall back to one
        keys-sized job, bounded by the number of keys requested, never
        by table size) and the scan filters on the ``_kb`` PARTITION
        column — so a point read touches O(|keys|/num_buckets) of the
        table's files regardless of table size, mirroring the B-tree
        descent the reference gets from MySQL, and the whole lookup is
        ONE job.  Falls back to a broadcast semi-join on the unbucketed
        layout.  Tombstones are stripped (P5)."""
        pk = list(self.spec.primary_key)
        vals = [
            (kv if isinstance(kv, tuple) else (kv,)) for kv in key_values
        ]

        def _keys_df():
            pk_schema = T.StructType(
                [self.spec.struct_type()[c] for c in pk]
            )
            return self.spark.createDataFrame(vals, pk_schema)

        # small single-column key sets match by an EXACT literal isin —
        # no keys DataFrame, no broadcast exchange, no driver-RDD setup
        # per call (the high-churn group-commit read path).  Large
        # batches route to the broadcast semi-join instead: a
        # multi-thousand-literal In costs more to plan and push than
        # the one broadcast exchange it avoids (r8 regression: the
        # 2,000-id open/close batch ran 3× slower on the literal form).
        literal_keys = len(pk) == 1 and len(vals) <= 256

        def _match(df):
            if literal_keys:
                return df.filter(F.col(pk[0]).isin([v[0] for v in vals]))
            return df.join(F.broadcast(_keys_df()), pk, "left_semi")

        if not self.num_buckets:
            return _match(self.live())
        py_buckets = {xxh.kbucket_of(v, self.num_buckets) for v in vals}
        if None in py_buckets:  # non-replicable cast: one keys-sized job
            py_buckets = {
                r["_b"]
                for r in _keys_df().select(self._kbucket().alias("_b")).collect()
            }
        buckets = sorted(py_buckets)
        # Read the pruned bucket DIRECTORIES BY PATH instead of
        # partition-filtering a full-table listing: the filter form
        # still lists and plans over every bucket directory, a fixed
        # per-read cost that dominates point reads on big tables
        # (measured at 15M rows / 128 buckets: 0.67 s listing-filter vs
        # 0.25 s direct paths for the same 20-key read) — but ONLY
        # while the key set actually prunes.  A big batch whose keys
        # cover most buckets reads the same bytes either way and would
        # pay fresh per-call dir probes + per-dir planning for nothing,
        # so it falls back to the partition-filtered full-table scan
        # (the r7 shape; its listing amortizes across the batch).
        # Small batches (the ≤k-key group-commit read) always take the
        # direct path: at the top rung the full-table listing alone
        # dwarfs reading k bucket dirs, whatever the coverage ratio.
        direct_path = len(vals) <= 64 or len(buckets) * 2 <= self.num_buckets
        if not direct_path:
            raw = self._read_current_raw().filter(
                F.col(KBUCKET_COL).isin(buckets)
            )
        else:
            dirs = [
                os.path.join(self.current_path, f"{KBUCKET_COL}={b}")
                for b in buckets
            ]
            dirs = [d for d in dirs if os.path.isdir(d)]
            if not dirs:
                raw = self._read_current_raw().filter(F.lit(False))
            else:
                raw = (
                    self.spark.read.option("basePath", self.current_path)
                    .schema(self._full_schema())
                    .parquet(*dirs)
                )
        # the key match: an exact literal isin (reaches the scan as a
        # PushedFilter → row-group stats pruning where the layout
        # allows) for small single-column sets, a broadcast semi-join
        # otherwise
        hit = _match(raw.drop(KBUCKET_COL))
        pend = self._pending_overlay()
        if pend is not None:
            # append-path writes live only in the changelog until the
            # next fold: point reads must LWW-merge the (keys-bounded)
            # overlay slice over the pruned bucket scan
            hit = _latest_by_abs_version(hit.unionByName(_match(pend)), pk)
        return hit.filter(F.col(VERSION_COL) >= 0)

    # -- point cache (FileCache analog) -----------------------------------
    #
    # Indexed single-row finds — the reference's findByIdForFind /
    # findByParentIdAndName (FileRepository.java:67-71) — answered from
    # a driver-side cache.  A miss costs one driver-side parquet read
    # (:meth:`_live_rows`, no Spark job); a hit costs one commit-plane
    # ``read`` (the validity probe) and no Spark job either.  Coherence:
    #
    # - before serving, ``_pc_validate`` probes for the commit after
    #   the one the entries reflect; a newer commit this handle did not
    #   make clears the cache — this holds for writers in any process;
    # - the driver-side append path writes through (``_PointCache.write``);
    # - distributed-path writes, fence or abort changes, a failed
    #   write, rollback_to, sync_from and vacuum clear the cache;
    #   compact keeps it (the live content does not change);
    # - the pk high-water mark lives and dies with the entries, so a
    #   pk above it is known absent without a read.

    def find_one(self, key) -> Row | None:
        """The live row with primary key ``key`` (a tuple, or the bare
        value of a one-column pk), or None — through the point cache."""
        return self._find(None, key if isinstance(key, tuple) else (key,))

    def find_unique(self, index: str, key: tuple) -> Row | None:
        """The live row whose unique ``index`` (declared in the spec,
        e.g. FILE's PID_NAME over (parentId, name)) equals ``key``, or
        None — through the point cache."""
        return self._find(index, tuple(key))

    def find_by(self, index: str, *keys: tuple, limit: int | None = None) -> list[Row]:
        """The live rows whose ``index`` — any index the spec declares,
        e.g. BLOCK's FILE_ID or FILE's LEASE_HOLDER — equals one of
        ``keys`` on its leading columns, every key the same length (so
        ``("PID_NAME", (pid,))`` finds a directory's children, and
        ``("PID_NAME", (a,), (b,))`` those of two).  Uncached: one
        driver-side read, no Spark job.  ``limit`` stops the read once
        that many rows are found; which of the matching rows come back
        is then unspecified."""
        cols = next((ix.columns for ix in self.spec.indexes if ix.name == index), None)
        keys = {tuple(k) for k in keys}
        n = {len(k) for k in keys}
        if cols is None or len(n) > 1 or not 0 < min(n, default=1) <= len(cols):
            raise ValueError(f"{self.spec.name} has no index {index!r} over {sorted(n)} columns")
        if not keys:
            return []
        return self._live_rows(cols[: n.pop()], keys, limit)

    def _find(self, index: str | None, key: tuple) -> Row | None:
        pc = self._pc
        cols = pc.cols.get(index)
        if cols is None:
            raise ValueError(f"{self.spec.name} has no unique index {index!r}")
        slot = (index, key)
        # a NULL never matches an equality find (and a unique index may
        # hold many NULL keys), so such keys bypass the cache
        cacheable = None not in key
        if cacheable:
            self._pc_validate()
            hit, row = pc.lookup(slot)
            if hit:
                return row
            if index is None and pc.max_pk is not None and key[0] > pc.max_pk:
                return None
        got = self._live_rows(cols, {key})
        row = got[0] if got else None
        if cacheable:
            pc.fill_miss(slot, row)
        return row

    def _pc_validate(self) -> None:
        """Bring the point cache up to the newest commit before it
        serves: one backend ``read`` probes for the commit after ``cid``
        — ``_txn/<cid+1>.commit`` for enrolled tables,
        ``_commits/<cid+1>.commit`` for standalone ones.  Every commit
        found was made by another handle (this handle's own commits
        advance ``cid`` as they publish), so any clears the cache."""
        pc = self._pc
        log = self.txn
        be, path = (
            (log.backend, log.commits_path)
            if log is not None
            else (self.backend, self.commits_path)
        )
        head = _commit_head(be, path, pc.cid)
        if head != pc.cid:
            pc.clear()
            pc.cid = head
        pc.serving = True

    # -- driver point plane (HandlerSocket analog) -------------------------
    #
    # The reference serves a namespace point read as an indexed find
    # below the SQL layer (DatabaseExecutorForHandlerSocket.findInternal
    # :120-132).  Here the analog reads parquet with pyarrow on the
    # driver, below Spark SQL: current/ pruned by row-group statistics
    # (and, for a pk read on the pk-hash layout, by the key's ``_kb=``
    # directory), then the committed changelog tail (ct, vt] filtered by
    # the key and by the candidate pks, merged last-writer-wins by
    # abs(version) — the rule of :func:`_latest_by_abs_version`.

    def _arrow_schema(self):
        """The explicit pyarrow schema of stored rows: spec columns, then
        ``version`` — never inferred from the files."""
        import pyarrow as pa

        if not self._driver_appendable():
            raise ValueError(f"{self.spec.name}: a column type has no driver-side read")
        fields = [pa.field(c.name, _arrow_type(c.type)) for c in self.spec.columns]
        if all(f.name != VERSION_COL for f in fields):
            fields.append(pa.field(VERSION_COL, pa.int64()))
        return pa.schema(fields)

    def _current_dataset(self, pk_keys: set | None = None):
        """current/ as a pyarrow dataset, or None when it holds no file.
        On the pk-hash layout ``pk_keys`` narrows it to those keys'
        bucket directories (``xxh.kbucket_of``, the layout's own hash)."""
        import pyarrow.dataset as ds

        tops = [self.current_path]
        if self.num_buckets and pk_keys:
            buckets = {xxh.kbucket_of(k, self.num_buckets) for k in pk_keys}
            if None not in buckets:
                tops = [os.path.join(tops[0], f"{KBUCKET_COL}={b}") for b in sorted(buckets)]
        files = []
        for top in tops:
            for d, dirs, names in os.walk(top):
                dirs[:] = [x for x in dirs if "=" in x]  # partition dirs only
                files.extend(os.path.join(d, n) for n in names if n[0] not in "._")
        if not files:
            return None
        return ds.dataset(sorted(files), schema=self._arrow_schema(), format="parquet")

    def _tail_fragments(self, meta: dict | None) -> list[tuple]:
        """The changelog files that may hold committed tail rows
        (ct, vt], as (pyarrow parquet fragment, abs(version) range)
        pairs; empty when nothing is pending.  A file is picked by its
        abs(version) range from footer statistics.  Each file's footer
        is read once per handle and kept (a changelog file's path never
        names other content), so a read opens only the row groups its
        filter keeps."""
        import pyarrow.dataset as ds
        from pyarrow import fs as pafs

        if meta is None:
            return []
        ct, vt = int(meta["compacted_through"]), int(meta["visible_through"])
        if vt <= ct:
            return []
        try:
            dirs = os.listdir(self.changelog_path)
        except OSError:
            return []
        fmt, local = ds.ParquetFileFormat(), pafs.LocalFileSystem()
        memo, frags = {}, []
        for vb in dirs:
            num = vb.split("=", 1)[-1]
            if not (vb.startswith(f"{VBUCKET_COL}=") and num.isdigit()
                    and ct // VBUCKET_SIZE <= int(num) <= vt // VBUCKET_SIZE):
                continue
            d = os.path.join(os.path.abspath(self.changelog_path), vb)
            for n in sorted(os.listdir(d)):
                if n[0] in "._":
                    continue
                p = os.path.join(d, n)
                got = self._tail_frags.get(p)
                if got is None:
                    frag = fmt.make_fragment(p, filesystem=local)
                    frag.ensure_complete_metadata()
                    got = (frag, _abs_version_range(frag))
                memo[p] = got
                lo, hi = got[1]
                if hi > ct and lo <= vt:
                    frags.append(got)
        self._tail_frags = memo
        return frags

    def _tail_table(self, frags: list, meta: dict, where=None, columns=None):
        """The committed tail rows of ``frags`` matching the pyarrow
        expression ``where``: fragments are first cut to the row groups
        whose statistics may match, in memory, so a point read opens
        only the few files that can hold its key."""
        import pyarrow.dataset as ds

        schema = self._arrow_schema()
        if where is not None:
            frags = [
                f for f in (g.subset(filter=where, schema=schema) for g in frags)
                if f.num_row_groups
            ]
        if not frags:
            return schema.empty_table().select(columns or schema.names)
        tbl = ds.FileSystemDataset(
            frags, schema, frags[0].format, frags[0].filesystem
        ).to_table(filter=where, columns=columns)
        return self._visible_tail(tbl, meta)

    @staticmethod
    def _visible_tail(tbl, meta: dict):
        """Rows of ``tbl`` in the committed tail: ct < abs(version) <= vt
        and in no aborted range."""
        import pyarrow.compute as pc

        absv = pc.abs(tbl[VERSION_COL])
        keep = pc.and_(
            pc.greater(absv, int(meta["compacted_through"])),
            pc.less_equal(absv, int(meta["visible_through"])),
        )
        for lo, hi in meta.get("aborted", []):
            inside = pc.and_(pc.greater_equal(absv, int(lo)), pc.less_equal(absv, int(hi)))
            keep = pc.and_(keep, pc.invert(inside))
        return tbl.filter(keep)

    def _live_rows(
        self, cols: Sequence[str], keys: set[tuple], limit: int | None = None
    ) -> list[Row]:
        """The live rows whose ``cols`` equal one of ``keys``, read with
        pyarrow on the driver — never through Spark.  One key is a set of
        one: a point read and a subtree level are the same read.

        The candidates are the current/ rows and the committed tail rows
        (ct, vt] matching a key; every tail row of a candidate pk is read
        too, so a key that lives only in the tail is found, and one whose
        newest row moved off it is not (a tail row always outranks the
        current/ row of its pk: tail versions are above ct).  They are
        merged last-writer-wins in arrow columns (:func:`_lww_arrow`),
        and only the winners that are live and still carry one of the
        keys become Rows — the rule of :meth:`_live_hits`.  With
        ``limit`` the current/ scan runs batch by batch, ``limit`` rows
        at a time, and stops once enough rows are found: a bounded probe
        costs the rows it needs, not every row with the key.

        Read-your-own-writes holds: :meth:`_overlay_meta` includes an
        open transaction's staged watermark."""
        import pyarrow as pa
        import pyarrow.compute as pc

        schema = self._arrow_schema()
        types = [schema.field(c).type for c in cols]
        wanted = set()
        for key in keys:
            try:  # NULL, or a value outside the column's type, matches nothing
                if None not in key:
                    for v, t in zip(key, types):
                        pa.scalar(v, t)
                    wanted.add(tuple(key))
            except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError, OverflowError):
                pass
        if not wanted:
            return []
        wanted_tbl = pa.table(
            [pa.array([k[i] for k in wanted], t) for i, t in enumerate(types)], names=list(cols)
        )
        match = _isin_filter(schema, cols, wanted_tbl)
        pk = list(self.spec.primary_key)
        meta = self._overlay_meta()
        tail = [frag for frag, _ in self._tail_fragments(meta)]
        hits = None  # the pks of the tail rows that carry a key
        if tail:
            hits = self._tail_table(tail, meta, match, columns=[*pk, VERSION_COL]).select(pk)

        def settle(rows, pks):
            """The winners among ``rows`` and the tail rows of ``pks``
            that are live and carry a key."""
            if tail and pks.num_rows:
                more = self._tail_table(tail, meta, _isin_filter(schema, pk, pks))
                rows = _lww_arrow(pa.concat_tables([rows, more]), pk)
            return _with_keys(rows.filter(pc.field(VERSION_COL) >= 0), cols, wanted_tbl)

        cur = self._current_dataset(wanted if list(cols) == pk else None)
        if limit is None:
            found = schema.empty_table() if cur is None else cur.to_table(filter=match)
            pks = found.select(pk) if hits is None else pa.concat_tables([found.select(pk), hits])
            return _arrow_rows(settle(found, pks))
        out: list[Row] = []
        seen: set[tuple] = set()
        if hits is not None and hits.num_rows:
            out = _arrow_rows(settle(schema.empty_table(), hits).slice(0, limit))
            seen = set(zip(*(hits[c].to_pylist() for c in pk)))
        if cur is None or len(out) >= limit:
            return out
        for batch in cur.scanner(filter=match).to_batches():
            for i in range(0, batch.num_rows, limit):
                chunk = pa.Table.from_batches([batch.slice(i, limit)])
                out.extend(
                    r for r in _arrow_rows(settle(chunk, chunk.select(pk)))
                    if tuple(r[c] for c in pk) not in seen
                )
                if len(out) >= limit:
                    return out[:limit]
        return out

    def max_version(self) -> int:
        """A7: the version counter (max abs(version)); parquet column
        stats make this near-free."""
        row = self.snapshot().agg(F.max(F.abs(F.col(VERSION_COL)))).first()
        return int(row[0] or 0)

    def max_pk(self) -> int:
        """max of a one-column integer primary key over every stored
        row, tombstones included (0 for an empty table), read on the
        driver with no Spark job.  A key has the same value in all of
        its versions, so current/ and the pending tail are taken side
        by side — the answer of a max over :meth:`snapshot` without its
        LWW merge of the overlay.  Parquet footer statistics answer for
        current/ and for every tail file whose abs(version) range lies
        wholly inside (ct, vt] and meets no aborted range (all its rows
        are committed tail rows); a column is read only where a row
        group has no statistics, and a tail file's rows only where the
        file straddles ct or vt or an aborted range."""
        import pyarrow.compute as pc

        (col,) = self.spec.primary_key
        tops = []
        cur = self._current_dataset()
        if cur is not None:
            got = _footer_maxes(cur.get_fragments(), col)
            if got is None:
                got = [pc.max(cur.to_table(columns=[col])[col]).as_py()]
            tops.extend(got)
        meta = self._overlay_meta()
        read = []
        for frag, (lo, hi) in self._tail_fragments(meta):
            whole = (
                int(meta["compacted_through"]) < lo
                and hi <= int(meta["visible_through"])
                and all(hi < int(a) or int(b) < lo for a, b in meta.get("aborted", []))
            )
            got = _footer_maxes([frag], col) if whole else None
            if got is None:
                read.append(frag)
            else:
                tops.extend(got)
        if read:
            rows = self._tail_table(read, meta, columns=[col, VERSION_COL])
            tops.append(pc.max(rows[col]).as_py())
        tops = [t for t in tops if t is not None]
        return int(max(tops)) if tops else 0

    def pk_high_water(self) -> int:
        """:meth:`max_pk` from a mark held next to the point cache: the
        first call after any clear of the cache reads it again, and this
        handle's own driver-side writes raise the mark, so id
        allocation reads no footer per new row."""
        pc = self._pc
        self._pc_validate()
        if pc.max_pk is None:
            pc.max_pk = self.max_pk()
        return pc.max_pk

    def count(self) -> int:
        """S9/A1: live row count. The reference memoizes this in an
        AtomicLong (DatabaseExecutor.count :139-155); parquet footers
        make recount cheap enough."""
        return self.live().count()

    # -- optimistic commit sequence (U6 analog) ----------------------------
    #
    # The reference serializes concurrent RPC writers with a per-key
    # lock manager (DistributedLocker.java:103-160).  Here concurrent
    # *jobs* (e.g. two ingest pipelines) are serialized by a monotonic
    # commit sequence in a ``_commits/`` sidecar: each write reserves
    # commit id N+1 via an atomic put-if-absent (O_CREAT|O_EXCL — the
    # same primitive a transactional table format uses on HDFS/local;
    # on S3 it is a conditional PUT), runs its read-merge-write against
    # state that provably contains every committed write (no commit can
    # land without the reservation we now hold), then finalizes the
    # reservation into ``N+1.commit`` (atomic rename).  A loser's
    # reservation fails; it backs off and retries the WHOLE operation —
    # recomputing versions and merges against the winner's state — so
    # interleaved writers all land, none lost.
    #
    # The reservation is taken BEFORE the bucket overwrite on purpose:
    # validate-at-publish ("check the token moved, then write") is
    # unsound on overwrite storage — by the time the token mismatch is
    # seen the stale merge has already clobbered the winner's bucket
    # and there is nothing to roll back to.  Reserve-then-write keeps
    # the data write exclusive; a writer that dies mid-commit leaves a
    # ``.lock`` whose lease expires after LOCK_TTL_SEC and is stolen.

    @property
    def commits_path(self) -> str:
        return os.path.join(self.root, COMMITS_DIR)

    def last_commit_id(self) -> int:
        self._commit_seen = _commit_head(
            self.backend, self.commits_path, self._commit_seen
        )
        return self._commit_seen

    def _reserve_commit(self, cid: int) -> str | None:
        lock = os.path.join(self.commits_path, f"{cid}.lock")
        payload = f"pid={os.getpid()} ts={time.time()}\n".encode()
        if self.backend.put_if_absent(lock, payload):
            return lock
        mt = self.backend.mtime(lock)
        if mt is not None and time.time() - mt > LOCK_TTL_SEC:
            # steal a crashed writer's expired lease; the dead writer
            # may have appended without publishing — fence its tail
            # once we next hold the reservation
            self.backend.delete(lock)
            self._fence_after_acquire = True
        return None

    def _transact(self, body: Callable[[], object], op: str) -> object:
        """Run ``body`` (the full read-stamp-merge-write of one write
        op) holding the next commit reservation; retry with backoff
        when a concurrent writer holds it.

        Enrolled tables delegate serialization AND atomicity to the
        shared TransactionLog: inside an open transaction the body runs
        directly (the outer context holds the single lock); a bare call
        opens a one-verb transaction around the body."""
        if self.txn is not None:
            if self.txn.active:
                return body()
            with self.txn.transaction():
                return body()
        for attempt in range(_MAX_COMMIT_RETRIES):
            nxt = self.last_commit_id() + 1
            lock = self._reserve_commit(nxt)
            if lock is None:
                time.sleep(min(0.05 * (attempt + 1), 1.0))
                continue
            if getattr(self, "_fence_after_acquire", False):
                try:
                    self._fence_orphans()
                finally:
                    self._fence_after_acquire = False
            try:
                result = body()
            except BaseException:
                # failed writes release the reservation (no commit id
                # is burned); any half-appended changelog tail is
                # fenced FIRST — while this writer still serializes the
                # table — so no later write can stamp into it
                try:
                    self._fence_orphans()
                except Exception:
                    pass
                self._pc.clear()
                self.backend.delete(lock)
                raise
            # meta stays Spark-free: a max_version() probe here would
            # run an extra job inside the critical section per write.
            # Publish order: the .commit object appears first (atomic
            # replace), then the lock is released — a crash in between
            # leaves a stale lock alongside the commit, which the next
            # writer's reservation on cid+1 never contends with.
            self.backend.replace(
                os.path.join(self.commits_path, f"{nxt}.commit"),
                json.dumps({"op": op, "pid": os.getpid()}).encode(),
            )
            self._pc.advance(nxt, keep=True)
            self.backend.delete(lock)
            return result
        raise WriteConflictError(
            f"could not reserve commit after {_MAX_COMMIT_RETRIES} attempts"
        )

    # -- writes (U1-U4) ----------------------------------------------------
    #
    # Every write takes a ``mode``:
    #
    # - ``merge`` — stamp, append to the changelog, LWW-merge into
    #   current/ (read touched buckets, rewrite them).  Amortizes well
    #   for bulk batches; pays a fixed multi-job floor per call.
    # - ``append`` — stamp, append to the changelog, publish via the
    #   visibility watermark and STOP.  No bucket is read or rewritten;
    #   reads overlay the pending tail until the next merge-mode write
    #   or ``compact()`` folds it down.  This is the small-batch /
    #   high-churn path (SCALE.md §12) — the engine's analog of the
    #   reference's B-tree point update (FileRepository.updateInternal
    #   :226-286), where a rename is one index write, not a segment
    #   rewrite.
    # - ``auto`` — append iff the batch is at or below
    #   ``append_threshold`` rows (row count comes free from the
    #   stamping pass), else merge.

    # Spec types the driver-side small-batch writer can emit with exact
    # parquet physical-type parity to Spark's writer; anything else
    # (timestamp, array) falls back to the distributed append.
    _DRIVER_PA_TYPES = {
        "boolean", "byte", "short", "int", "long",
        "float", "double", "string", "binary",
    }

    def _driver_appendable(self) -> bool:
        return all(c.type in self._DRIVER_PA_TYPES for c in self.spec.columns)

    def _driver_append_rows(
        self, batches: list[list], op: str, base: int, negate: Sequence[bool]
    ) -> int:
        """The driver-side write tail — zero Spark jobs.  Stamps
        ``batches`` (lists of Rows or column mappings, each bounded by
        ``append_threshold`` — metadata-scale, like every other bounded
        collect in this engine) one after another above ``base``:
        versions are dense and in pk order within a batch, so k batches
        get exactly the stamps of k serial writes.  ``negate`` holds one
        flag per batch: True stamps that batch's rows as tombstones.
        The rows are written with pyarrow straight into the changelog's
        version-bucket directories, byte-compatible with Spark-written
        changelog files (same columns, same types, snappy), then the
        new watermark is published and returned.
        This is the engine's closest analog of the reference's
        single-process B-tree point update (FileRepository.
        updateInternal :226-286): a rename touches one index page there,
        one small parquet file here — not a bucket rewrite, not even a
        Spark job."""
        t0 = time.time()
        if self.txn is not None and self.txn.active:
            self.txn.touch(self)
        stamped: list = []
        for rows, neg in zip(batches, negate, strict=True):
            stamped.extend(self._stamp_rows_driver(rows, base + len(stamped), neg))
        self._write_stamped_driver(stamped, op)
        t1 = time.time()
        vt = base + len(stamped)
        self._mark_visible(vt)
        # machine-recorded per-phase breakdown of the small-batch write
        # (parquet append / watermark publish) — bench reads this to
        # prove where the namespace-op floor actually sits
        self.last_write_phases = {
            "driver_append_sec": round(t1 - t0, 4),
            "publish_sec": round(time.time() - t1, 4),
        }
        return vt

    def _stamp_rows_driver(
        self, rows: list, base: int, negate: bool = False
    ) -> list:
        """Dense pk-ordered version stamps for one driver-side batch of
        :meth:`_driver_append_rows`."""
        pk = list(self.spec.primary_key)
        rows = sorted(rows, key=lambda r: tuple((r[k] is None, r[k]) for k in pk))
        out = []
        for i, r in enumerate(rows):
            v = base + i + 1
            if negate:
                v = -v
            out.append((r, v))
        return out

    def _write_stamped_driver(self, stamped: list, op: str) -> None:
        """Write pre-stamped (row, version) pairs into the changelog,
        one parquet file per touched version bucket.  File layout is
        independent of how many ops produced the rows — version values
        carry ALL ordering semantics — so a k-op group commit leaves
        ONE file per vbucket instead of k (every subsequent overlay
        read lists the pending tail; k tiny files per group made
        sustained group traffic O(groups²) in listing cost).

        Tombstones and rows go to separate row groups, so the version
        statistics of each group have one sign and bound its abs(version)
        range tightly (:func:`_abs_version_range`)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        by_vb: dict[int, list] = {}
        for r, v in stamped:
            by_vb.setdefault(abs(v) // VBUCKET_SIZE, []).append((r, v))
        # write-through only on a table that serves point reads or point
        # writes: a bulk load into a table nobody point-reads pays
        # nothing here
        through: list[Row] | None = [] if self._pc.serving else None
        for vb, rs in by_vb.items():
            d = os.path.join(self.changelog_path, f"{VBUCKET_COL}={vb}")
            os.makedirs(d, exist_ok=True)
            names = [c.name for c in self.spec.columns] + [VERSION_COL, OP_COL]
            arrays = [
                pa.array([r[c.name] for r, _ in rs], _arrow_type(c.type))
                for c in self.spec.columns
            ]
            arrays.append(pa.array([v for _, v in rs], pa.int64()))
            if through is not None:
                # the rows as a read returns them: values round-trip
                # through the file's arrow types
                through.extend(
                    _arrow_rows(pa.Table.from_arrays(arrays, names=names[:-1]))
                )
            arrays.append(
                pa.array([op if v > 0 else "DELETE" for _, v in rs], pa.string())
            )
            tbl = pa.Table.from_arrays(arrays, names=names)
            path = os.path.join(d, f"part-{uuid.uuid4().hex}.snappy.parquet")
            with pq.ParquetWriter(path, tbl.schema, compression="snappy") as w:
                for tombstone in (True, False):
                    group = tbl.filter(pa.array([(v < 0) == tombstone for _, v in rs]))
                    if group.num_rows:
                        w.write_table(group)
        if through:
            through.sort(key=lambda r: abs(r[VERSION_COL]))
            self._pc.write(through)

    def _try_driver_append(
        self, hit: DataFrame, op: str, base: int, negate: bool = False
    ) -> int | None:
        """Attempt the driver-side append for ``hit``: collect up to
        ``append_threshold`` rows (take() lets point predicates stop
        early); returns the new watermark, or None when the batch is
        too large or the schema unsupported — caller falls back to a
        distributed path."""
        if not self._driver_appendable():
            return None
        t0 = time.time()
        rows = hit.take(self.append_threshold + 1)
        scan_sec = round(time.time() - t0, 4)
        if len(rows) > self.append_threshold:
            return None
        vt = self._driver_append_rows([rows], op, base, [negate])
        self.last_write_phases["hit_scan_sec"] = scan_sec
        return vt

    def _publish(self, stamped_ops: DataFrame, op: str, vt_new: int, mode: str) -> None:
        """Common write tail: changelog append + either fold (merge)
        or visibility bump (append)."""
        self._append_changelog(stamped_ops)
        if mode == "append":
            self._mark_visible(vt_new)
        else:
            self._merge_write(stamped_ops.drop(OP_COL))

    def _route(self, mode: str, n_rows: int) -> str:
        if mode == "auto":
            return "append" if n_rows <= self.append_threshold else "merge"
        if mode not in ("merge", "append"):
            raise ValueError(f"unknown write mode {mode!r}")
        return mode

    def _write_op(
        self, hit: DataFrame, op: str, mode: str, negate: bool = False
    ) -> tuple[int, int]:
        """Shared write tail (runs inside ``_transact``): stamp + publish
        ``hit`` under ``mode``; returns (new watermark, rows written).

        ``append``/``auto`` first try the driver-side small-batch
        writer (zero Spark jobs past the bounded collect); a too-large
        batch falls back to the distributed stamp — to a changelog-only
        publish for explicit ``append``, to a fold for ``auto``."""
        if mode not in ("merge", "append", "auto"):
            raise ValueError(f"unknown write mode {mode!r}")
        # phases are per-write evidence: clear up front so a write that
        # takes the distributed path never reports a PREVIOUS write's
        # driver-append breakdown as its own
        self.last_write_phases = {}
        if self.txn is not None:
            # a fold inside an uncommitted transaction would leak rows
            # into current/ before the manifest commit — enrolled
            # tables always publish through the changelog
            mode = "append"
        elif mode in ("append", "auto"):
            meta = self._overlay_meta()
            if meta is not None and (
                int(meta["visible_through"]) - int(meta["compacted_through"])
                > self._overlay_tail_bound(int(meta["compacted_through"]))
            ):
                # the pending overlay is past the read-amplification
                # bound: fold this write (the merge carries the whole
                # overlay down with it) instead of growing it further
                mode = "merge"
        pk = list(self.spec.primary_key)
        base = self._stamp_base()
        if mode in ("append", "auto"):
            vt = self._try_driver_append(hit, op, base, negate)
            if vt is not None:
                return vt, vt - base
            mode = "append" if mode == "append" else "auto"
        # The distributed tail evaluates ``hit`` up to three times:
        # the stamping counts job, the changelog append, and the merge
        # write.  Persist the batch for the op's duration (released in
        # the finally) so the source subtree — often a predicate scan
        # of a big table — computes once; MEMORY_AND_DISK keeps lost
        # blocks recomputable (stamping is deterministic), and the
        # size gate skips the double-write for bulk-load-sized batches
        # where recomputing a scan beats spooling it to disk.
        cached = None
        try:
            est = int(
                hit._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            est = 1 << 62
        if est <= WRITE_BATCH_PERSIST_MAX_BYTES:
            from pyspark import StorageLevel

            cached = hit.persist(StorageLevel.MEMORY_AND_DISK)
            hit = cached
        try:
            stamped, n = _stamp_versions_n(hit, pk, base, negate)
            stamped = self._cast_spec(stamped)
            if mode == "auto":
                # merge-on-read routing: a batch that keeps the pending
                # tail inside the read-amplification bound stays
                # changelog-resident (O(batch) write); past it, fold
                mode = "append" if self._mor_append_ok(n) else "merge"
                self.last_write_phases["route"] = f"auto->{mode}"
            self._publish(stamped.withColumn(OP_COL, F.lit(op)), op, base + n, mode)
            return base + n, n
        finally:
            if cached is not None:
                cached.unpersist()

    def _overlay_tail_bound(self, ct: int) -> int:
        """Max pending overlay versions before auto-routed writes fold:
        the absolute small-batch bound, widened by ``mor_tail_fraction``
        of the folded-rows watermark at scale."""
        return max(
            self.append_threshold * self.overlay_fold_factor,
            int(self.mor_tail_fraction * ct),
        )

    def _mor_append_ok(self, n: int) -> bool:
        """Would appending ``n`` more rows keep the pending changelog
        tail within the merge-on-read read-amplification bound?"""
        meta = self._overlay_meta()
        if meta is None:
            return False
        vt, ct = int(meta["visible_through"]), int(meta["compacted_through"])
        return (vt - ct + n) <= self._overlay_tail_bound(ct)

    def upsert(self, rows: DataFrame, overwrite: bool = True, mode: str = "merge") -> int:
        """U1: insert-with-overwrite-flag (insertInternal :281-296).

        ``overwrite=False`` raises if any incoming pk already exists
        live (exists & !overwrite → error); otherwise existing rows are
        replaced.  Returns the new max version (the watermark after
        this write — safe as a delta()/sync_from cursor).
        """

        def body() -> int:
            pk = list(self.spec.primary_key)
            if not overwrite:
                live = self.snapshot().filter(F.col(VERSION_COL) >= 0)
                clash = rows.join(live, pk, "left_semi")
                if clash.take(1):
                    raise ValueError("upsert(overwrite=False): key already exists")
            return self._write_op(rows, "UPSERT", mode)[0]

        return self._transact(body, "UPSERT")  # type: ignore[return-value]

    def group_upsert(self, batches, op: str = "UPSERT") -> int:
        """Group commit: apply k independent small upsert batches in ONE
        lock/changelog/publish cycle — the engine analog of the
        reference namenode absorbing 100 concurrent client syncs
        (BenchmarkerForNamenode.java sync2: each client op is tiny, the
        52 ops/s throughput comes from overlap, not per-op speed).

        Each batch keeps its own identity: versions are stamped densely
        batch-after-batch in submission order, exactly the stamps k
        serial ``upsert(mode="append")`` calls would have produced —
        ``delta()`` / LWW replay cannot tell the difference.  What is
        amortized is the fixed per-commit machinery: one lock
        reservation, one watermark publish, and one commit object for
        the whole group (the changelog still gets one small parquet
        file per batch per touched version bucket — per-batch stamping
        is what keeps two batches hitting the SAME key resolving in
        submission order under LWW).

        Constraints: every batch must fit the driver small-batch bound
        (``append_threshold`` rows) and the schema must be
        driver-appendable — this is the high-churn point-write surface,
        not a bulk loader (use ``upsert(mode="merge")`` for bulk).
        Overwrite semantics are upsert-replace (LWW by version).  If
        the appended tail crosses the merge-on-read read-amplification
        bound, one fold runs after the group commits (its own cycle),
        so the read-tax contract survives sustained group traffic.
        Returns the new visibility watermark.
        """
        batches = list(batches)
        if not batches:
            return self._stamp_base()
        if not self._driver_appendable():
            raise ValueError("group_upsert: schema is not driver-appendable")

        def body() -> int:
            base = self._stamp_base()
            # ONE Spark job collects every batch: the per-op scans are
            # unioned under a group index and taken together — k point
            # reads cost one job's latency, not k (the serial-job floor
            # is exactly what the published row's 100 threads overlap)
            tagged = None
            for i, b in enumerate(batches):
                tb = b.withColumn("_gop", F.lit(i))
                tagged = tb if tagged is None else tagged.unionByName(tb)
            limit = self.append_threshold * len(batches)
            all_rows = tagged.take(limit + 1)
            if len(all_rows) > limit:
                raise ValueError(
                    "group_upsert: group exceeds the driver small-batch "
                    f"bound ({limit} rows); use upsert(mode='merge')"
                )
            collected = [[] for _ in batches]
            for r in all_rows:
                collected[r["_gop"]].append(r)
            for rows in collected:
                if len(rows) > self.append_threshold:
                    raise ValueError(
                        "group_upsert: batch exceeds append_threshold "
                        f"({self.append_threshold}); use upsert(mode='merge')"
                    )
            # per-batch stamping preserves op boundaries in version
            # space (same-key conflicts resolve in submission order
            # under LWW); one changelog file per vbucket for the WHOLE
            # group — see group_point_update
            vt = self._driver_append_rows(collected, op, base, [False] * len(collected))
            self.last_write_phases["n_ops"] = len(collected)
            return vt

        vt = self._transact(body, f"GROUP_{op}x{len(batches)}")
        if self.txn is None and not self._mor_append_ok(0):
            self.compact()
        return vt  # type: ignore[return-value]

    def group_point_update(self, ops, op: str = "UPDATE") -> int:
        """Group commit of PK point updates: k read-modify-write ops in
        one lock/changelog/publish cycle AND one bucket-pruned Spark
        job — the scale form of :meth:`group_upsert` for the high-churn
        namenode surface (sync/append lease reacquires: read one row by
        pk, mutate a field, write back; BenchmarkerForNamenode.java
        sync2's 100 concurrent clients are exactly this).

        ``ops``: sequence of ``(key_values, assignments)`` — pk tuples
        (bare values for a 1-column pk) and a dict of column → plain
        Python value.  The group's current rows are fetched with ONE
        :meth:`point_lookup` over the union of all keys, so the read
        job scans O(|keys|/num_buckets) of the table's files via
        ``_kb`` partition pruning — flat in table size, where
        ``group_upsert`` over caller-built ``filter(pk == k)`` batches
        re-scans the table per group (the r7 verdict's sf100
        group-commit floor).  Ops then apply serially against a
        driver-side working copy, so an op reads every earlier op's
        writes — version stamps and same-key LWW outcomes are
        IDENTICAL to k serial ``update_where(mode="append")`` calls
        (pytest-pinned).  Keys with no live row are no-ops, exactly as
        an update matching zero rows.  Returns the new watermark.
        """
        ops = list(ops)
        if not ops:
            return self._stamp_base()
        if not self._driver_appendable():
            raise ValueError("group_point_update: schema is not driver-appendable")
        pk = list(self.spec.primary_key)
        norm: list[tuple[list[tuple], dict]] = []
        for kv, assigns in ops:
            keys = [k if isinstance(k, tuple) else (k,) for k in kv]
            norm.append((keys, dict(assigns)))
        all_keys = sorted({k for keys, _ in norm for k in keys})
        limit = self.append_threshold * len(norm)
        if len(all_keys) > limit:
            raise ValueError(
                "group_point_update: group exceeds the driver small-batch "
                f"bound ({limit} keys); use update_where(mode='merge')"
            )

        def body() -> int:
            base = self._stamp_base()
            # ONE bucket-pruned job for the whole group's reads
            fetched = self.point_lookup(all_keys).take(len(all_keys))
            state = {
                tuple(r[c] for c in pk): r.asDict() for r in fetched
            }
            # materialize and validate every op's batch BEFORE the first
            # append — an oversize op must fail the whole group without
            # a partial commit or burned versions
            staged: list[list[dict]] = []
            for keys, assigns in norm:
                batch = []
                for k in keys:
                    cur = state.get(k)
                    if cur is None:
                        continue
                    cur = dict(cur)
                    cur.update(assigns)
                    state[k] = cur
                    batch.append(cur)
                if len(batch) > self.append_threshold:
                    raise ValueError(
                        "group_point_update: op exceeds append_threshold "
                        f"({self.append_threshold}); use update_where(mode='merge')"
                    )
                staged.append(batch)
            # per-op stamping preserves op boundaries in version space
            # (same-key conflicts resolve in submission order); the
            # WRITE is one file per vbucket for the whole group —
            # version values carry the ordering, file count stays O(1)
            # per group so sustained group traffic's overlay reads
            # don't degrade with per-op file litter
            vt = self._driver_append_rows(staged, op, base, [False] * len(staged))
            self.last_write_phases["n_ops"] = len(norm)
            return vt

        vt = self._transact(body, f"GROUPPT_{op}x{len(norm)}")
        if self.txn is None and not self._mor_append_ok(0):
            self.compact()
        return vt  # type: ignore[return-value]

    def point_write(
        self,
        rows: Sequence[Mapping] = (),
        updates: Mapping | None = None,
        deletes: Sequence = (),
        overwrite: bool = True,
    ) -> int:
        """Point mutations as one commit, built from driver-side rows — the
        reference's cached read-modify-write of a row
        (FileRepository.updateInternal :226-286 over FileCache).  No
        DataFrame is built: rows are read through :meth:`find_one`,
        stamped and appended by the driver-side write tail, and write
        through into the point cache; a call runs no Spark job, warm or
        cold (a miss is a driver-side read, :meth:`_live_rows`).

        - ``rows``: whole rows (every spec column), upserted.  With
          ``overwrite=False`` a key that is already live raises
          ValueError;
        - ``updates``: pk → {column: value}, applied to the key's live
          row; a key with no live row is a no-op, like an
          :meth:`update_where` matching nothing;
        - ``deletes``: pks whose live row is tombstoned; absent keys are
          no-ops.

        Keys are pk tuples, or bare values for a one-column pk; each key
        appears once per call, and a call holds at most
        ``append_threshold`` keys.  Every value is checked against the spec
        first (ValueError), before a commit is reserved or a version
        stamped.  Tombstones stamp first, then the other rows, each in
        pk order.  Returns the new visibility watermark."""
        pk = self.spec.primary_key
        updates = dict(updates or {})
        if not self._driver_appendable():
            raise ValueError(f"point_write: {self.spec.name} is not driver-appendable")
        rows = [self._driver_row(r, whole=True) for r in rows]
        changes = {}
        for key, assigns in updates.items():
            if set(assigns) & set(pk):
                raise ValueError(f"point_write: cannot change primary key {pk}")
            changes[self._pk_tuple(key)] = self._driver_row(assigns, whole=False)
        tomb_keys = [self._pk_tuple(k) for k in deletes]
        keys = [tuple(r[c] for c in pk) for r in rows] + list(changes) + tomb_keys
        if len(set(keys)) != len(keys) or len(changes) != len(updates):
            raise ValueError("point_write: a key appears more than once")
        if len(keys) > self.append_threshold:
            raise ValueError(
                f"point_write: {len(keys)} keys exceed append_threshold "
                f"({self.append_threshold}); use upsert / update_where"
            )

        def body() -> int:
            self._pc_validate()
            tombs = [r for r in map(self.find_one, tomb_keys) if r is not None]
            puts = list(rows)
            if not overwrite:
                for r in rows:
                    if self.find_one(tuple(r[c] for c in pk)) is not None:
                        raise ValueError("point_write(overwrite=False): key already exists")
            for key, assigns in changes.items():
                cur = self.find_one(key)
                if cur is not None:
                    puts.append({**cur.asDict(), **assigns})
            op = "UPDATE" if changes and not rows else "UPSERT"
            base = self._stamp_base()
            return self._driver_append_rows([tombs, puts], op, base, [True, False])

        vt = self._transact(body, "POINT")
        if self.txn is None and not self._mor_append_ok(0):
            self.compact()
        return vt  # type: ignore[return-value]

    def _pk_tuple(self, key) -> tuple:
        key = key if isinstance(key, tuple) else (key,)
        pk = self.spec.primary_key
        if len(key) != len(pk):
            raise ValueError(f"{self.spec.name}: key {key!r} does not match pk {pk}")
        return tuple(self._driver_row(dict(zip(pk, key)), whole=False).values())

    def _driver_row(self, values: Mapping, whole: bool) -> dict:
        """``values`` checked against the spec, as the Python values a
        driver-side write stores: every column present when ``whole``,
        no unknown column, each value of its column's type and range.
        pyarrow would reject a bad value only mid-write, after a commit
        is reserved and other files may already be written."""
        cols = {c.name: c for c in self.spec.columns}
        bad = set(values) - set(cols) | (set(cols) - set(values) if whole else set())
        if bad:
            raise ValueError(f"{self.spec.name}: unknown or missing columns {sorted(bad)}")
        return {k: _driver_value(self.spec.name, cols[k], v) for k, v in values.items()}

    def update_where(
        self, predicate, assignments: dict[str, object], mode: str = "merge"
    ) -> int:
        """U2: field-masked update — read-modify-write of matching rows,
        version bumped (updateInternal :298-314; the bitmask of
        File.update :118-134 becomes the ``assignments`` dict).
        Returns the new max version (post-write watermark)."""

        def body() -> int:
            upd = self._live_hits(predicate=predicate)
            for col, val in assignments.items():
                upd = upd.withColumn(col, val if hasattr(val, "_jc") else F.lit(val))
            upd = self._cast_spec(upd)
            return self._write_op(upd, "UPDATE", mode)[0]

        return self._transact(body, "UPDATE")  # type: ignore[return-value]

    def delete_where(self, predicate, mode: str = "merge") -> int:
        """U3: tombstone delete — matching live rows get version =
        −(next version) and stay (deleteInternal :316-330).
        Returns the new max version (post-write watermark)."""

        def body() -> int:
            hit = self._live_hits(predicate=predicate)
            return self._write_op(hit, "DELETE", mode, negate=True)[0]

        return self._transact(body, "DELETE")  # type: ignore[return-value]

    def _tombstones_for_keys(self, keys: DataFrame) -> DataFrame:
        """The delete set for :meth:`delete_where_keys`: live rows
        semi-joined against the key DataFrame, tombstone-stamped.  Kept
        separate so plan tests can assert the key set stays distributed
        (LeftSemi join — never a collect()+isin literal)."""
        return self._tombstones_for_keys_n(keys)[0]

    def _tombstones_for_keys_n(self, keys: DataFrame) -> tuple[DataFrame, int, int]:
        """(tombstones, stamp base, row count) — count comes free from
        the stamping pass."""
        pk = list(self.spec.primary_key)
        hit = self._live_hits(keys=keys)
        base = self._stamp_base()
        tomb, n = _stamp_versions_n(hit, pk, base, negate=True)
        return self._cast_spec(tomb), base, n

    def delete_where_keys(self, keys: DataFrame, mode: str = "merge") -> int:
        """U3 set-based form: tombstone every live row whose pk appears
        in ``keys`` (a DataFrame holding pk columns).  This is the H5
        recursive-delete write path (StateManager.deleteFileByFile
        :604-632) done as a semi-join — the key set never visits the
        driver, unlike a collect()+isin literal.  Returns the number of
        rows tombstoned."""

        def body() -> int:
            hit = self._live_hits(keys=keys)
            return self._write_op(hit, "DELETE", mode, negate=True)[1]

        return self._transact(body, "DELETE")  # type: ignore[return-value]

    def append_ops(self, ops: DataFrame, op: str = "APPLY") -> int:
        """Changelog-append-ONLY apply of fully-stamped signed rows (the
        U4 shape: full row schema incl. ``version``; tombstones carry a
        negative sign).  Nothing in current/ is touched — the rows are
        published through the visibility watermark and folded by the
        next merge-mode write or ``compact()``.  Returns the new
        visibility watermark.  This is the SCALE.md §12 high-churn
        ingest surface: append micro-batches at O(batch) cost, pay the
        rewrite once per compaction cycle.

        Rows whose abs(version) is at or below the fold horizon
        (``compacted_through``) CANNOT publish through the watermark —
        the pending overlay reads only (ct, vt], so they would be
        appended yet permanently invisible.  A replica replaying an
        older-versioned op after a compact hits exactly this; such rows
        are split off and folded through the LWW merge path instead
        (same per-key outcome as the standalone U4 ``apply_directly``:
        they win iff newer than the stored version).  Inside an open
        multi-verb transaction a fold would leak pre-commit state, so
        the split is rejected loudly there — replay below the horizon
        is a standalone/sync surface, not a namespace-verb one."""

        def body() -> int:
            rows = self._cast_spec(ops)
            meta = self._overlay_meta()
            ct = int(meta["compacted_through"]) if meta else 0
            absv = F.abs(F.col(VERSION_COL))
            row = rows.agg(
                F.max(VERSION_COL), F.min(VERSION_COL), F.min(absv)
            ).first()
            vt_new = max(int(row[0] or 0), -int(row[1] or 0), 0)
            min_abs = int(row[2] or 0)
            if ct and min_abs and min_abs <= ct:
                if self.txn is not None and self.txn.active:
                    raise ValueError(
                        f"append_ops: incoming versions reach {min_abs} "
                        f"<= compacted_through {ct}; below-horizon replay "
                        "cannot publish atomically inside an open "
                        "transaction — run it standalone (sync_from / "
                        "apply_directly)"
                    )
                old = rows.filter(absv <= ct)
                self._append_changelog(old.withColumn(OP_COL, F.lit(op)))
                self._merge_write(old)
                rows = rows.filter(absv > ct)
                if vt_new <= ct:  # every row was below the horizon
                    return self.last_visible()
            fold = (
                self.txn is None
                and meta is not None
                and int(meta["visible_through"]) - ct
                > self.append_threshold * self.overlay_fold_factor
            )
            self._publish(
                rows.withColumn(OP_COL, F.lit(op)),
                op,
                vt_new,
                "merge" if fold else "append",
            )
            return max(vt_new, self.last_visible())

        return self._transact(body, op)  # type: ignore[return-value]

    def last_visible(self) -> int:
        meta = self._overlay_meta()
        return int(meta["visible_through"]) if meta else self.max_version()

    def apply_directly(self, ops: DataFrame) -> None:
        """U4: idempotent replay — apply incoming rows only where
        |incoming version| ≥ |stored version| (last-writer-wins;
        insert/update/deleteDirectly :420-470).  ``ops`` must carry the
        full row schema including signed ``version``."""

        if self.txn is not None:
            self.append_ops(ops)
            return

        def body() -> None:
            rows = self._cast_spec(ops)
            self._append_changelog(rows.withColumn(OP_COL, F.lit("APPLY")))
            self._merge_write(rows)

        self._transact(body, "APPLY")

    # -- CDC / delta (D1-D3) ----------------------------------------------

    def changelog(self) -> DataFrame:
        # explicit schema in the inferred layout's exact column order
        # and types (data cols, version, _op, then the _vbucket
        # partition column, int as partition-value inference yields) —
        # skips the per-call parquet schema inference, identical frame.
        # VERSION_COL is appended only when the spec doesn't already
        # declare it among its own columns (schema.py supports that;
        # a duplicate field would fail the read where inference worked).
        names = [c.name for c in self.spec.columns]
        fields = [self.spec.struct_type()[c] for c in names]
        if VERSION_COL not in names:
            fields.append(T.StructField(VERSION_COL, T.LongType()))
        fields.append(T.StructField(OP_COL, T.StringType()))
        fields.append(T.StructField(VBUCKET_COL, T.IntegerType()))
        return self.spark.read.schema(T.StructType(fields)).parquet(
            self.changelog_path
        )

    def _changelog_range(self, lo_vb: int, hi_vb: int) -> DataFrame | None:
        """Changelog rows from version-bucket dirs [lo_vb, hi_vb],
        read by DIRECT PATH: the filter form still lists every history
        directory (a 15M-row table's init history alone is thousands
        of part files), a fixed per-read cost that dominated the
        overlay half of a point read (measured 1.07 s vs 0.5 s at
        sf100).  None when no directory in the range exists."""
        # enumerate existing vbucket dirs and intersect with the range
        # (never iterate the numeric range itself — a caller passing a
        # far-future version must not walk 2^40 candidate paths)
        try:
            existing = os.listdir(self.changelog_path)
        except OSError:
            return None
        lo_vb, hi_vb = int(lo_vb), int(hi_vb)
        dirs = sorted(
            os.path.join(self.changelog_path, n)
            for n in existing
            if n.startswith(f"{VBUCKET_COL}=")
            and n.split("=", 1)[1].isdigit()
            and lo_vb <= int(n.split("=", 1)[1]) <= hi_vb
        )
        if not dirs:
            return None
        names = [c.name for c in self.spec.columns]
        fields = [self.spec.struct_type()[c] for c in names]
        if VERSION_COL not in names:
            fields.append(T.StructField(VERSION_COL, T.LongType()))
        fields.append(T.StructField(OP_COL, T.StringType()))
        return (
            self.spark.read.option("basePath", self.changelog_path)
            .schema(T.StructType(fields))
            .parquet(*dirs)
        )

    def delta(self, from_version: int, to_version: int) -> DataFrame:
        """D2: version-range delta extraction (getDataIncrement
        :221-249): change-log rows with abs(version) ∈ [from, to].
        The _vbucket partitioning prunes history directories.  Only
        COMMITTED rows qualify — fenced (aborted) ranges and anything
        past the visibility watermark are excluded, so a replica can
        never sync a crashed writer's half-batch."""
        lo_b, hi_b = from_version // VBUCKET_SIZE, to_version // VBUCKET_SIZE
        # direct-path read of just the range's version-bucket dirs —
        # the filter form re-lists the WHOLE history per extraction
        # (see _changelog_range)
        log = self._changelog_range(lo_b, hi_b)
        if log is None:
            return self.changelog().filter(F.lit(False)).drop(VBUCKET_COL)
        vis = self._visible_cond()
        if vis is not None:
            log = log.filter(vis)
        return log.filter(F.abs(F.col(VERSION_COL)).between(from_version, to_version)).drop(
            VBUCKET_COL
        )

    def snapshot_as_of(self, version: int) -> DataFrame:
        """Time travel: reconstruct the table state as of ``version``
        (inclusive) from the change log — LWW per pk over all ops with
        abs(version) ≤ v.  The _vbucket partitioning prunes history
        directories above the target, so reading an old snapshot scans
        history up to v, never the full log tail.  Includes tombstones;
        compose with a ``version >= 0`` filter for the live view
        (:meth:`live_as_of`)."""
        hi_b = version // VBUCKET_SIZE
        # direct-path read of vbucket dirs [0, hi_b] — an old snapshot
        # neither lists nor plans over the history above the target
        log = self._changelog_range(0, hi_b)
        if log is None:
            log = self.changelog().filter(F.lit(False))
        vis = self._visible_cond()
        if vis is not None:
            log = log.filter(vis)
        log = log.filter(F.abs(F.col(VERSION_COL)) <= version).drop(
            VBUCKET_COL, OP_COL
        )
        return _latest_by_abs_version(log, list(self.spec.primary_key))

    def live_as_of(self, version: int) -> DataFrame:
        """P5 over a historical snapshot: live rows as of ``version``."""
        return self.snapshot_as_of(version).filter(F.col(VERSION_COL) >= 0)

    def rollback_to(self, version: int) -> None:
        """Point-in-time restore: make the live view equal to
        :meth:`live_as_of`(version) via forward-written corrections
        (history is append-only; nothing is erased, so the rollback is
        itself rolled back-able).  Two deltas, both key-joined:

        - keys live at ``version`` whose row differs now (changed or
          since-deleted) → re-upsert the old values;
        - keys live now but absent at ``version`` → tombstone.
        """
        pk = list(self.spec.primary_key)
        data_cols = [c for c in self.spec.column_names() if c != VERSION_COL]
        old = self.live_as_of(version).select(*data_cols)
        cur = self.live().select(*data_cols)
        # exceptAll is resolved as a hash anti-join on all columns —
        # one shuffle each side, no row comparison loops
        revert = old.exceptAll(cur)
        if revert.take(1):
            self.upsert(revert)
        # recompute from fresh reads: the upsert swapped the current/
        # files, so pre-upsert DataFrames must not be re-executed (the
        # revert set ⊆ keys-at-v, so the "gone" set is unaffected)
        old_keys = self.live_as_of(version).select(*pk)
        gone = self.live().select(*pk).join(old_keys, pk, "left_anti")
        if gone.take(1):
            self.delete_where_keys(gone)
        self._pc.clear()

    def sync_from(self, other: "VersionedTable") -> None:
        """D2/D3 orchestration (restoreIncrementFromMasterServerInternal
        :677-716): catch this replica up to ``other``.  Small gap →
        incremental delta + idempotent merge; no local state → full
        snapshot copy."""
        try:
            my_v = self.max_version()
        except Exception:
            my_v = 0
        if my_v == 0:
            self.init()
            self.apply_directly(other.snapshot())
        else:
            delta = other.delta(my_v + 1, other.max_version()).drop(OP_COL)
            self.apply_directly(delta)
        self._pc.clear()

    def compact(
        self, zorder_cols: Sequence[str] | None = None, bits: int = 8
    ) -> None:
        """The checkpoint: fold the committed changelog tail (ct, vt]
        into current/, then advance ct to vt — the fold's own bound, with
        no job to read it back.  Like the reference's in-place page
        update (FileRepository.updateInternal :226-286), folding a few
        ops touches a few files:

        - an empty tail rewrites nothing;
        - a tail of at most ``append_threshold`` rows folds on the driver
          with pyarrow (:meth:`_fold_tail`): no Spark job, and only the
          current/ files the tail touches are rewritten;
        - a larger tail, a column type the driver cannot write, or
          ``zorder_cols`` takes the Spark rewrite of the whole
          :meth:`snapshot` — Spark is the only path for a tail that does
          not fit the driver.  It writes pk-sorted files, one pk range
          each (row-group stats = the pk "index"), or with
          ``zorder_cols`` a z-order layout
          (sources.generic) so row-group stats also prune scans on every
          listed column — the reference's secondary indexes (File.java
          LEASE_HOLDER etc.) as one physical layout.  Bucketed tables
          keep their pk-hash bucket dirs and z-sort *within* buckets;
          unbucketed tables range-repartition on the curve.

        The point cache is kept: the live content does not change."""
        def body() -> None:
            meta = self._overlay_meta()
            through = None if meta is None else int(meta["visible_through"])
            if through is not None and not zorder_cols and self._fold_tail(meta):
                self._mark_compacted(through)
                return
            snap = self.snapshot()
            sort_cols: tuple[str, ...] | None = None
            if zorder_cols:
                from adfs_spark.sources.generic import zorder_value

                snap, _ = zorder_value(snap, tuple(zorder_cols), bits=bits)
                sort_cols = ("_zvalue",)
            if not self.num_buckets:
                # one key range per file: a later driver fold then
                # touches the files of its tail's pks, not every file
                n = max(self.spark.sparkContext.defaultParallelism, 1)
                snap = snap.repartitionByRange(n, *(sort_cols or self.spec.primary_key))
            if self.num_buckets:
                # MUST keep the bucket partition column: a plain
                # _write_current here leaves current/ unpartitioned while
                # readers expect _kb dirs — later bucket-pruned merges then
                # match nothing and drop the table's other rows.
                self._write_partitions(
                    snap.withColumn(KBUCKET_COL, self._kbucket()), sort_cols=sort_cols
                )
            else:
                self._write_current(snap, sort_cols=sort_cols)
            # snapshot() folded the pending overlay through vt
            self._mark_compacted(through)

        self._transact(body, "COMPACT")

    def _fold_tail(self, meta: dict) -> bool:
        """Fold the committed tail (ct, vt] into current/ on the driver,
        with pyarrow and no Spark job; False, having done nothing, when
        the tail's files hold more than ``append_threshold`` rows (their
        footers tell) or a column type has no driver-side I/O.

        The tail is merged last-writer-wins (:func:`_lww_arrow`) and
        each winner goes to one file of its pk's directory — current/
        itself, or its ``_kb=`` bucket: the file that holds the pk, else
        the pk's *home*, the file with the greatest min pk at or below
        it, else the directory's first file.  Only those files are
        rewritten (:meth:`_stage_fold`); every touched directory is
        staged whole and swapped in by :meth:`_swap_in`.  The changelog
        keeps every tail row until ``_mark_compacted`` advances ct, so a
        crash anywhere here loses nothing."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if not self._driver_appendable():
            return False
        frags = [frag for frag, _ in self._tail_fragments(meta)]
        if sum(rg.num_rows for f in frags for rg in f.row_groups) > self.append_threshold:
            return False
        pk = list(self.spec.primary_key)
        tail = _lww_arrow(self._tail_table(frags, meta), pk) if frags else None
        if tail is None or not tail.num_rows:
            return True
        dirs = {self.current_path: tail}
        if self.num_buckets:
            buckets = [
                xxh.kbucket_of(k, self.num_buckets)
                for k in zip(*(tail[c].to_pylist() for c in pk))
            ]
            if None in buckets:  # a key type the driver cannot hash
                return False
            col = pa.array(buckets, pa.int64())
            dirs = {
                os.path.join(self.current_path, f"{KBUCKET_COL}={b}"): tail.filter(pc.equal(col, b))
                for b in sorted(set(buckets))
            }
        staged: list[tuple[str, str]] = []
        try:
            for d, rows in dirs.items():
                staged.append((self._stage_fold(d, rows), d))
            self._swap_in(staged)
        finally:
            for tmp, _ in staged:  # left over only when the swap did not run
                shutil.rmtree(tmp, ignore_errors=True)
        return True

    def _stage_fold(self, d: str, rows) -> str:
        """Stage current/ directory ``d`` with the tail winners ``rows``
        (a pk-sorted pyarrow table of its pks) folded in; returns the
        staged directory.  Untouched files are hard links, so they keep
        their inode; each touched file is merged with its rows and
        written pk-sorted, split every ``append_threshold`` rows — files
        keep disjoint pk ranges, and a later fold rewrites the files its
        tail touches, not the table."""
        import bisect

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        schema = self._arrow_schema()
        pk = list(self.spec.primary_key)
        names = sorted(n for n in os.listdir(d) if n[0] not in "._") if os.path.isdir(d) else []
        fmt, local = ds.ParquetFileFormat(), pafs.LocalFileSystem()
        frags = {n: fmt.make_fragment(os.path.join(d, n), filesystem=local) for n in names}
        where = _isin_filter(schema, pk, rows)
        owner: dict[tuple, str] = {}
        for n, frag in frags.items():
            held = frag.to_table(schema=schema, filter=where, columns=pk)
            owner.update((k, n) for k in zip(*(held[c].to_pylist() for c in pk)))
        homes = sorted(
            (m, n) for m, n in ((_footer_min(frag, pk), n) for n, frag in frags.items())
            if m is not None
        )
        first = homes[0][1] if homes else (names[0] if names else None)

        def home(k: tuple) -> str | None:
            if None in k:  # a NULL orders against no min
                return first
            i = bisect.bisect_right(homes, (k, "\uffff")) - 1
            return homes[i][1] if i >= 0 else first

        dest = pa.array(
            [owner.get(k) or home(k) for k in zip(*(rows[c].to_pylist() for c in pk))],
            pa.string(),
        )
        tmp = os.path.join(self.root, f"_tmp_{uuid.uuid4().hex}")
        os.makedirs(tmp)
        touched = set(dest.to_pylist())
        for n in names:
            if n not in touched:
                os.link(os.path.join(d, n), os.path.join(tmp, n))
        # integers delta-encoded, strings dictionary-encoded: pk-sorted
        # ids and versions shrink ~3x against a dictionary that overflows
        ints = [f.name for f in schema if pa.types.is_integer(f.type)]
        words = [f.name for f in schema if pa.types.is_string(f.type) or pa.types.is_binary(f.type)]
        step = max(self.append_threshold, 1)
        for n in touched:
            if n is None:  # the directory holds no file yet
                merged = rows
            else:
                mine = rows.filter(pc.equal(dest, n))
                merged = _lww_arrow(pa.concat_tables([frags[n].to_table(schema=schema), mine]), pk)
            for i in range(0, merged.num_rows, step):
                pq.write_table(
                    merged.slice(i, step),
                    os.path.join(tmp, f"part-{uuid.uuid4().hex}.snappy.parquet"),
                    compression="snappy",
                    use_dictionary=words,
                    column_encoding=dict.fromkeys(ints, "DELTA_BINARY_PACKED"),
                )
        return tmp

    def vacuum(
        self, before_version: int, prune_changelog: bool = False
    ) -> int:
        """``deletePhysically`` analog (DistributedDataRepositoryBase-
        OnTable.java:393-418): physically drop tombstone rows whose
        ``abs(version) <= before_version`` from current state — run
        once every consumer (replica sync, delta reader) has passed the
        horizon, exactly like the reference GCs tombstones after
        replication catch-up.  Returns the number of rows removed.

        ``prune_changelog`` additionally deletes changelog version-
        bucket directories that lie entirely below the horizon (a
        driver-side metadata op — at scale this is the transactional
        format's retention job).  After a vacuum, time travel
        (``snapshot_as_of``) to versions at or below the horizon is no
        longer exact — the same retention trade every versioned store
        makes.
        """
        def body() -> int:
            return self._vacuum_body(before_version, prune_changelog)

        return self._transact(body, "VACUUM")  # type: ignore[return-value]

    def _vacuum_body(self, before_version: int, prune_changelog: bool) -> int:
        self._pc.clear()
        cond = (F.col(VERSION_COL) < 0) & (
            F.abs(F.col(VERSION_COL)) <= before_version
        )
        snap = self.snapshot()
        n = snap.filter(cond).count()
        if n:
            kept = snap.filter(~cond)
            if self.num_buckets:
                gone_buckets = {
                    r[0]
                    for r in snap.filter(cond)
                    .select(self._kbucket().alias("_b"))
                    .distinct()
                    .collect()
                }
                kept_kb = kept.withColumn(KBUCKET_COL, self._kbucket())
                still = {
                    r[0]
                    for r in kept_kb.select(KBUCKET_COL).distinct().collect()
                }
                rewrite = gone_buckets & still
                if rewrite:
                    self._write_partitions(
                        kept_kb.filter(F.col(KBUCKET_COL).isin(list(rewrite)))
                    )
                # dynamic overwrite cannot write an EMPTY partition: a
                # bucket whose every row was a vacuumed tombstone must
                # have its directory removed outright
                for b in sorted(gone_buckets - still):
                    shutil.rmtree(
                        os.path.join(self.current_path, f"{KBUCKET_COL}={b}"),
                        ignore_errors=True,
                    )
                self._invalidate_current()
            else:
                self._write_current(kept)
        if prune_changelog:
            horizon_bucket = before_version // VBUCKET_SIZE
            if os.path.isdir(self.changelog_path):
                for d in os.listdir(self.changelog_path):
                    if d.startswith(f"{VBUCKET_COL}="):
                        try:
                            vb = int(d.split("=", 1)[1])
                        except ValueError:
                            continue
                        # only buckets ENTIRELY below the horizon
                        if (vb + 1) * VBUCKET_SIZE <= before_version + 1:
                            shutil.rmtree(
                                os.path.join(self.changelog_path, d),
                                ignore_errors=True,
                            )
        return n

    # -- internals ---------------------------------------------------------

    def _merge_write(self, delta_rows: DataFrame) -> None:
        """LWW-merge fully-stamped delta rows into current state.

        Bucketed tables: prune the read to the touched pk-hash buckets
        and dynamically overwrite only those partitions — write cost is
        O(touched buckets), not O(table).  Unbucketed: full rewrite via
        the tmp-swap path.

        Any pending changelog overlay (append-mode writes not yet
        folded) rides along in the same merge, so after every merge
        write current/ is complete through the new watermark and reads
        drop back to the bare scan."""
        pk = list(self.spec.primary_key)
        delta_rows = self._cast_spec(delta_rows)
        pend = self._pending_overlay()
        if pend is not None:
            delta_rows = delta_rows.unionByName(pend)
        if not self.num_buckets:
            raw = self._read_current_raw()
            merged = _latest_by_abs_version(raw.unionByName(delta_rows), pk)
            self._write_current(merged)
            self._mark_compacted()
            self.last_merge_stats = {"touched_buckets": 1, "num_buckets": 1,
                                     "touched_fraction": 1.0}
            return
        with_kb = delta_rows.withColumn(KBUCKET_COL, self._kbucket())
        touched = [r[0] for r in with_kb.select(KBUCKET_COL).distinct().collect()]
        cur = self._read_current_raw().filter(F.col(KBUCKET_COL).isin(touched))
        merged = _latest_by_abs_version(
            cur.unionByName(with_kb),
            pk,
            cluster=(KBUCKET_COL, self.num_buckets),
        )
        self._write_partitions(merged, pre_clustered=True)
        self._mark_compacted()
        # machine-recorded write-amplification evidence: the fraction
        # of pk-hash buckets this merge read + rewrote (1.0 = a spread
        # update paid the full O(table) copy-on-write cost)
        self.last_merge_stats = {
            "touched_buckets": len(touched),
            "num_buckets": self.num_buckets,
            "touched_fraction": round(len(touched) / self.num_buckets, 4),
        }

    def _write_partitions(
        self,
        df_with_kb: DataFrame,
        sort_cols: Sequence[str] | None = None,
        source_external: bool = False,
        pre_clustered: bool = False,
    ) -> None:
        """Write (a subset of) bucket partitions; dynamic overwrite
        replaces only the partitions present in ``df_with_kb``.

        File-count invariant (r9): the write is clustered so each
        touched bucket lands wholly in one task — one file per touched
        bucket at any scale or task count.  Without it every merge
        multiplied current/ files by the write-task count (measured
        64 → 243 files after init + 3 ops at sf0.1; thousands at
        sf100), and every later scan paid the listing + per-file open
        tax (guide §6).  ``pre_clustered=True`` means the CALLER
        already hash-partitioned the frame by the bucket column — the
        merge path does it BELOW the LWW window so the window reuses
        that same exchange (guide §2.4) and clustering costs nothing
        extra; otherwise one explicit exchange is added here, with
        ``num_buckets`` pinned as the partition count because an
        AQE-coalesced keyed repartition can collapse a small frame
        into one task and serialize all the per-bucket file writes.

        The in-task sort leads with the bucket column: the dynamic
        partition writer requires input sorted by the partition
        columns and inserts its own SortExec when the plan cannot
        prove it — leading with ``_kb`` satisfies that requirement as
        a prefix, so the writer sort is elided; on the merge path the
        LWW window already sorted by (bucket, pk, |version|), so this
        explicit sort is itself elided and the pk order inside each
        bucket file survives for free (min/max stats, guide §6).

        The tmp-materialize + read-back exists because merge inputs
        derive from a read of ``current_path`` (overwriting a path
        while reading it is undefined).  ``source_external=True`` (r9)
        skips it when the CALLER proves the frame reads nothing under
        ``current_path`` — init's seed rows — halving the write cost
        of bulk loads.  The tmp dir is itself bucket-partitioned, so
        the read-back sees whole single-bucket files and the final
        write keeps the one-file-per-bucket invariant without a second
        exchange."""
        sort_keys = list(sort_cols or self.spec.primary_key)

        def _clustered(df: DataFrame) -> DataFrame:
            if not pre_clustered:
                df = df.repartition(self.num_buckets, F.col(KBUCKET_COL))
            return df.sortWithinPartitions(KBUCKET_COL, *sort_keys)

        if source_external:
            (
                _clustered(df_with_kb).write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(KBUCKET_COL)
                .parquet(self.current_path)
            )
            self._invalidate_current()
            return
        # Stage to a tmp dir, then swap the touched bucket DIRECTORIES
        # into current/ with filesystem renames (r9).  The tmp
        # materialization is unavoidable (``df_with_kb`` derives from a
        # read of current_path; overwrite-while-reading is undefined),
        # but the old read-back + second dynamic-overwrite write paid a
        # whole extra Spark write cycle per merge (~1 s of the ~3 s
        # sf0.1 upsert) to move bytes the staging write already placed:
        # tmp is partitioned by bucket with one sorted file per touched
        # bucket — ALREADY the exact final layout.  The rename swap is
        # byte-for-byte what Spark's dynamic partition committer does
        # at job commit (delete replaced partition dirs, rename staged
        # dirs into place), minus a full read+write of the data.  Crash
        # story: the changelog holds this op's delta rows until
        # ``_mark_compacted`` runs after the swap (the overlay heals
        # those), and :meth:`_swap_in` keeps replaced bucket dirs aside
        # until every one is swapped.  Helper sort columns (compact's
        # _zvalue) are projected out BEFORE the staging write (Project
        # preserves ordering, so the in-task sort and the writer-sort
        # elision survive), where the old path dropped them on the
        # read-back.
        tmp = os.path.join(self.root, f"_tmp_{uuid.uuid4().hex}")
        out = _clustered(df_with_kb).select(
            *[F.col(f.name).cast(f.dataType) for f in self._full_schema().fields]
        )
        out.write.mode("overwrite").partitionBy(KBUCKET_COL).parquet(tmp)
        prefix = f"{KBUCKET_COL}="
        self._swap_in([
            (os.path.join(tmp, d), os.path.join(self.current_path, d))
            for d in sorted(os.listdir(tmp)) if d.startswith(prefix)
        ])
        shutil.rmtree(tmp, ignore_errors=True)

    def _write_current(
        self, df: DataFrame, sort_cols: Sequence[str] | None = None
    ) -> None:
        """Replace current/ of the plain layout with ``df`` — the Spark
        whole-table rewrite of a merge write and of a compact that does
        not fold on the driver.  ``df`` is staged to a tmp dir first, in
        its final layout (the spec projection drops helper sort columns;
        Project preserves the in-task order), because it may derive from
        a read of current/ (overwrite-while-reading is undefined), then
        swapped in whole by :meth:`_swap_in`.  On a real deployment this
        layer is a transactional table format; plain parquet + a rename
        swap keeps the semantics."""
        tmp = os.path.join(self.root, f"_tmp_{uuid.uuid4().hex}")
        out = df.sortWithinPartitions(*(sort_cols or self.spec.primary_key))
        out.select(
            *[F.col(f.name).cast(f.dataType) for f in self.spec.struct_type().fields]
        ).write.mode("overwrite").parquet(tmp)
        self._swap_in([(tmp, self.current_path)])

    def _swap_in(self, staged: Sequence[tuple[str, str]]) -> None:
        """Move staged directories into place: for each (staged, dst)
        pair — current/ itself, or one of its ``_kb=`` buckets — rename
        the old dst ASIDE (outside current/, so readers never see it),
        then rename the staged directory in.  The aside copies are
        deleted only after every pair is swapped: a dst is absent only
        between two renames, and a crash mid-swap loses no folded rows —
        every replaced directory still exists under ``_aside_*``, where
        an rmtree-then-rename would delete rows whose changelog entries
        were already compacted away (abs(version) <= compacted_through),
        which the overlay tail cannot replay (r9 advice).  Recovery from
        a mid-swap crash: restore the ``_aside_*`` dirs (or replay the
        FULL changelog); the tail alone heals only uncompacted rows."""
        aside = os.path.join(self.root, f"_aside_{uuid.uuid4().hex}")
        made_aside = False
        for src, dst in staged:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.isdir(dst):
                if not made_aside:
                    os.makedirs(aside)
                    made_aside = True
                os.rename(dst, os.path.join(aside, os.path.basename(dst)))
            os.rename(src, dst)
        if made_aside:
            shutil.rmtree(aside, ignore_errors=True)
        self._invalidate_current()

    def _append_changelog(self, ops: DataFrame) -> None:
        # the distributed write path: its rows never visit the driver,
        # so the point cache cannot write them through
        self._pc.clear()
        if self.txn is not None and self.txn.active:
            self.txn.touch(self)
        out = ops.withColumn(
            VBUCKET_COL, (F.abs(F.col(VERSION_COL)) / VBUCKET_SIZE).cast("long")
        )
        out.write.mode("append").partitionBy(VBUCKET_COL).parquet(self.changelog_path)


class TransactionLog:
    """Cross-table atomic commits — the engine's analog of the single
    FSNamesystem lock under which the reference mutates ``file`` +
    ``block`` + ``lease`` and ships the result as ONE dependency-ordered
    op batch (DistributedOperationQueue.getOperations :82-103; create
    path FSNamesystem.startFileInternal :842-870 → allocateBlock
    :1157-1187).

    Mechanism: every enrolled table's mutations go changelog-append-only
    (rows are physically written but carry versions above the table's
    visibility watermark), and the watermark for ALL enrolled tables
    lives in ONE manifest — ``<root>/_txn/<N>.commit``, a cumulative
    JSON written via the same put-if-absent lock + atomic-rename
    protocol as the per-table commit sequence.  A multi-table verb
    appends to each table, then the transaction commits ONE manifest
    raising every touched table's watermark together: readers see all
    of the verb's writes or none of them.

    Failure atomicity: a transaction that raises (or a writer that
    dies) leaves appended rows above the committed watermarks; the
    failure path — the context's exception handler, or the next writer
    after stealing the expired lock — records those tails as fenced
    (aborted) ranges in a fence-only manifest commit, so they stay
    invisible forever and later writers stamp past them.

    Read-your-own-writes: inside an open transaction the writer's own
    staged watermarks merge into the visibility it reads, so a verb can
    resolve state it created earlier in the same transaction (mkdir -p
    creating a chain of components) while other readers still see the
    pre-transaction state.
    """

    def __init__(self, root: str, backend: CommitBackend | None = None):
        self.root = root
        self.backend = backend if backend is not None else backend_from_env()
        self.tables: dict[str, VersionedTable] = {}
        self._staged: dict[str, int] | None = None
        self._touched: set[str] = set()
        self._pruned: dict[str, list[list[int]]] = {}
        self._fence_after_acquire = False
        self._commit_seen: int | None = None  # see last_commit_id

    @property
    def commits_path(self) -> str:
        return os.path.join(self.root, "_txn")

    def enroll(self, table: VersionedTable) -> VersionedTable:
        self.tables[table.spec.name] = table
        table.txn = self
        return table

    @property
    def active(self) -> bool:
        return self._staged is not None

    # -- manifest ----------------------------------------------------------

    def last_commit_id(self) -> int:
        self._commit_seen = _commit_head(
            self.backend, self.commits_path, self._commit_seen
        )
        return self._commit_seen

    def latest(self) -> dict:
        cid = self.last_commit_id()
        if cid == 0:
            return {"tables": {}}
        raw = self.backend.read(
            os.path.join(self.commits_path, f"{cid}.commit")
        )
        if raw is None:
            return {"tables": {}}
        try:
            return json.loads(raw)
        except ValueError:
            return {"tables": {}}

    def table_meta(self, name: str) -> dict | None:
        m = self.latest()["tables"].get(name)
        if self.active and name in self._staged:
            m = dict(m) if m else {"visible_through": 0, "aborted": []}
            m["visible_through"] = max(
                int(m.get("visible_through", 0)), self._staged[name]
            )
        return m

    # -- in-transaction staging -------------------------------------------

    def stage(self, table: VersionedTable, vt_new: int) -> None:
        if not self.active:
            raise RuntimeError("stage() outside an open transaction")
        name = table.spec.name
        self._touched.add(name)
        self._staged[name] = max(self._staged.get(name, 0), int(vt_new))

    def touch(self, table: VersionedTable) -> None:
        self._touched.add(table.spec.name)

    def stage_fence_prune(
        self, name: str, ranges: list[list[int]]
    ) -> None:
        """Stage retired fence ranges (rows already physically deleted
        by the table's fold — see ``VersionedTable._prune_fences``) for
        removal from the manifest at this transaction's commit."""
        if not self.active:
            raise RuntimeError("stage_fence_prune() outside an open transaction")
        self._pruned.setdefault(name, []).extend(list(r) for r in ranges)

    # -- lock + commit protocol -------------------------------------------

    def _reserve(self, cid: int) -> str | None:
        lock = os.path.join(self.commits_path, f"{cid}.lock")
        payload = f"pid={os.getpid()} ts={time.time()}\n".encode()
        if self.backend.put_if_absent(lock, payload):
            return lock
        mt = self.backend.mtime(lock)
        if mt is not None and time.time() - mt > LOCK_TTL_SEC:
            # steal a crashed writer's expired lease; the dead writer
            # may have appended to ANY enrolled table without
            # publishing — fence all tails under the next reservation
            self.backend.delete(lock)
            self._fence_after_acquire = True
        return None

    def _commit(
        self,
        lock: str,
        cid: int,
        staged: dict[str, int],
        fence_names: set[str],
        pruned: dict[str, list[list[int]]] | None = None,
    ) -> None:
        """Publish the cumulative manifest as ``<cid>.commit`` (atomic
        replace — readers see nothing or the full content), then
        release the lock.  ``pruned`` removes retired fence ranges
        whose rows the committing fold already physically deleted."""
        manifest = self.latest()
        tables = manifest.setdefault("tables", {})
        for name in sorted(fence_names):
            t = self.tables.get(name)
            if t is None:
                continue
            try:
                rng = t._orphan_range()
            except Exception:
                rng = None
            if rng:
                e = tables.setdefault(name, {"visible_through": 0, "aborted": []})
                e.setdefault("aborted", []).append(list(rng))
        for name, vt in staged.items():
            e = tables.setdefault(name, {"visible_through": 0, "aborted": []})
            e["visible_through"] = max(int(e.get("visible_through", 0)), vt)
        for name, ranges in (pruned or {}).items():
            e = tables.get(name)
            if not e:
                continue
            drop = [list(r) for r in ranges]
            e["aborted"] = [
                r for r in e.get("aborted", []) if list(r) not in drop
            ]
        self.backend.replace(
            os.path.join(self.commits_path, f"{cid}.commit"),
            json.dumps(manifest).encode(),
        )
        # a verb's point-cache write-through survives its own commit; a
        # fence (aborted verb, stolen lock) empties every table's cache
        for t in self.tables.values():
            t._pc.advance(cid, keep=not fence_names)
        self.backend.delete(lock)

    def transaction(self):
        """Context manager: one atomic multi-table commit scope."""
        return _Transaction(self)


class _Transaction:
    def __init__(self, log: TransactionLog):
        self.log = log
        self._lock: str | None = None
        self._cid = 0

    def __enter__(self) -> TransactionLog:
        log = self.log
        if log.active:
            raise RuntimeError("transactions do not nest")
        for attempt in range(_MAX_COMMIT_RETRIES):
            nxt = log.last_commit_id() + 1
            lock = log._reserve(nxt)
            if lock is None:
                time.sleep(min(0.05 * (attempt + 1), 1.0))
                continue
            if log._fence_after_acquire:
                # burn this commit id on a fence-only manifest covering
                # every enrolled table, then reserve a fresh one
                log._fence_after_acquire = False
                log._commit(lock, nxt, {}, set(log.tables))
                continue
            self._lock, self._cid = lock, nxt
            log._staged, log._touched, log._pruned = {}, set(), {}
            return log
        raise WriteConflictError(
            f"could not reserve txn commit after {_MAX_COMMIT_RETRIES} attempts"
        )

    def __exit__(self, exc_type, exc, tb) -> bool:
        log = self.log
        staged, touched = log._staged or {}, log._touched
        pruned = log._pruned
        log._staged, log._touched, log._pruned = None, set(), {}
        if exc_type is None:
            log._commit(self._lock, self._cid, staged, set(), pruned)
        else:
            # failed verb: publish NOTHING; fence every touched table's
            # appended tail in a fence-only commit (still holding the
            # lock, so the probe is serialized)
            try:
                log._commit(self._lock, self._cid, {}, touched | set(staged))
            except Exception:
                for t in log.tables.values():
                    t._pc.clear()
                log.backend.delete(self._lock)
        return False
