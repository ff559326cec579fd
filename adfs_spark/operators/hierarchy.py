"""Hierarchical / recursive queries H1-H6 — the distinctive workload.

The reference stores the namespace as an adjacency list
(file.parentId → file.id, File.java:30-58) and resolves paths with a
per-component indexed-lookup loop (StateManager.findFilesByPath
:681-694), descendants with recursive scans
(findFileDescendantByFileInternal :731-755).

Spark has no recursive CTE, so these are bounded driver loops over
joins — but crucially the *data* never visits the driver: each
iteration is a distributed join producing the next frontier DataFrame.
Depth is small (path depth ≤ ~16), so the loop count is tiny and each
step is a broadcast join of a shrinking frontier against the namespace
table — the namespace (the 100 TB side) is never shuffled.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROOT_ID = 0  # File.java:33-34


def split_path(path: str) -> list[str]:
    """F1: path → components (Utilities.getNamesInPath :1031)."""
    return [p for p in path.split("/") if p]


def resolve_path(ns: DataFrame, path: str, id_col: str = "id", parent_col: str = "parentId", name_col: str = "name") -> DataFrame:
    """H1: resolve '/a/b/c' to the row chain — returns the rows of every
    component, with a ``depth`` column (0 = first component).

    k-step iterative join (J4), k = path depth.  Each step is a point
    filter on (parentId, name), pushed down to the scan.
    """
    parts = split_path(path)
    spark = ns.sparkSession
    if not parts:
        return ns.filter(F.col(id_col) == ROOT_ID).withColumn("depth", F.lit(-1))
    current_parent = ROOT_ID
    out: DataFrame | None = None
    for depth, part in enumerate(parts):
        row = ns.filter((F.col(parent_col) == current_parent) & (F.col(name_col) == part)).limit(1)
        got = row.take(1)
        if not got:
            empty = ns.withColumn("depth", F.lit(0)).limit(0)
            return empty if out is None else out
        current_parent = got[0][id_col]
        step = spark.createDataFrame([got[0]], schema=ns.schema).withColumn("depth", F.lit(depth))
        out = step if out is None else out.unionByName(step)
    assert out is not None
    return out


def resolve_paths_batch(
    ns: DataFrame,
    paths: DataFrame,
    path_col: str = "path",
    id_col: str = "id",
    parent_col: str = "parentId",
    name_col: str = "name",
    max_depth: int = 32,
) -> DataFrame:
    """H1 batch form: resolve a whole DataFrame of paths at once.

    Iterative join to fixpoint: at step d, the frontier holds
    (path, resolved-id-so-far); join component d against (parentId,
    name).  All paths resolve in max(path-depth) ≤ ``max_depth`` rounds
    of distributed joins — this is the scale path (no per-path driver
    round-trips).  Returns (path, id) for fully resolved paths.
    """
    parts = paths.select(
        F.col(path_col).alias("_path"),
        F.split(F.regexp_replace(F.col(path_col), "^/|/$", ""), "/").alias("_parts"),
    ).withColumn("_n", F.size("_parts"))
    frontier = parts.withColumn("_cur", F.lit(ROOT_ID).cast("long")).withColumn(
        "_d", F.lit(0)
    )
    resolved = frontier.filter(F.col("_n") == 0).select("_path", F.col("_cur").alias(id_col))
    ns_small = ns.select(
        F.col(id_col).alias("_nid"), F.col(parent_col).alias("_npid"), F.col(name_col).alias("_nname")
    )
    for d in range(max_depth):
        frontier = frontier.filter(F.col("_d") < F.col("_n"))
        if not frontier.take(1):
            break
        step = frontier.join(
            ns_small,
            (F.col("_npid") == F.col("_cur"))
            & (F.col("_nname") == F.element_at(F.col("_parts"), F.col("_d") + 1)),
            "inner",
        ).select(
            "_path", "_parts", "_n", F.col("_nid").alias("_cur"), (F.col("_d") + 1).alias("_d")
        )
        frontier = step.localCheckpoint(eager=True)
        done = frontier.filter(F.col("_d") == F.col("_n")).select(
            "_path", F.col("_cur").alias(id_col)
        )
        resolved = resolved.unionByName(done)
    return resolved.withColumnRenamed("_path", path_col)


def children(ns: DataFrame, dir_id: int, parent_col: str = "parentId") -> DataFrame:
    """H3: directory listing (findFileChildrenByPath :701-720)."""
    return ns.filter(F.col(parent_col) == dir_id)


def descendants(
    ns: DataFrame,
    root_ids: Sequence[int],
    id_col: str = "id",
    parent_col: str = "parentId",
    include_self: bool = False,
    exclude_dirs: bool = False,
    dir_predicate=None,
    max_depth: int = 64,
) -> DataFrame:
    """H4: recursive descendant set (findFileDescendantByFileInternal
    :731-755) as a BFS frontier loop.

    Each round joins the (small, shrinking) frontier's id set against
    the namespace on parentId — broadcast the frontier keys, never
    shuffle the namespace.  Results accumulate with a ``level`` column.
    Self-edges are no tree edges: the root row is its own parent
    (parentId == id == 0), and without dropping them a walk from the
    root would re-enter it at every level.
    """
    spark = ns.sparkSession
    frontier_keys = spark.createDataFrame([(int(i),) for i in root_ids], f"{id_col}: long")
    out: DataFrame | None = None
    if include_self:
        out = ns.join(F.broadcast(frontier_keys), id_col, "left_semi").withColumn(
            "level", F.lit(0)
        )
    edges = ns.filter(F.col(id_col) != F.col(parent_col))
    for level in range(1, max_depth + 1):
        nxt = edges.join(
            F.broadcast(frontier_keys.withColumnRenamed(id_col, parent_col)),
            parent_col,
            "left_semi",
        )
        nxt = nxt.localCheckpoint(eager=True)
        if not nxt.take(1):
            break
        leveled = nxt.withColumn("level", F.lit(level))
        out = leveled if out is None else out.unionByName(leveled)
        frontier_keys = nxt.select(id_col)
    if out is None:
        return ns.withColumn("level", F.lit(0)).limit(0)
    if exclude_dirs and dir_predicate is not None:
        out = out.filter(~dir_predicate)
    return out


def path_strings(
    ns: DataFrame,
    id_col: str = "id",
    parent_col: str = "parentId",
    name_col: str = "name",
    out_col: str = "path",
    max_depth: int = 64,
    internal_filter=None,
) -> DataFrame:
    """H2 batch form, (id, path) only: materialize the full path string
    for every row by iterated parent-pointer joins toward the root,
    prepending one ancestor name per round (concat_ws accumulate).

    Scale shape: the parent side is restricted to INTERNAL nodes (one
    semi-join on the referenced-parent id set — a few percent of any
    real namespace), so every per-round join carries a dir-sized build
    side instead of the full table: D broadcast-able map joins, not D
    table self-shuffles.  Lineage is truncated every few rounds rather
    than per round — a 600k-row string-accumulating materialization per
    level was the dominant cost at depth 3; typical namespace depths
    (< 16) stay in one fused whole-stage plan.
    """
    # ``internal_filter``: a predicate selecting the rows that can be
    # parents (e.g. ``F.col("length") == -1`` on a FILE namespace) —
    # a map-side filter instead of the referenced-parent semi-join,
    # whose distinct() is a full shuffle of the parent-id column.
    if internal_filter is not None:
        pruned = ns.filter(internal_filter)
    else:
        referenced = ns.select(F.col(parent_col).alias("_rid")).distinct()
        pruned = ns.join(
            referenced, ns[id_col] == referenced["_rid"], "left_semi"
        )
    parents = pruned.select(
        F.col(id_col).alias("_pid"), F.col(parent_col).alias("_ppid"), F.col(name_col).alias("_pname")
    ).localCheckpoint(eager=True)
    # Tree depth probed on the TINY internal-node table (leaf depth <=
    # internal depth + 1): every convergence probe runs over |dirs|
    # rows, so the big table is touched by exactly ONE fused plan below
    # — the per-round 600k-row take()/checkpoint cycle was 3x the whole
    # query's cost at sf0.1.
    depth = 1
    walk = parents.select(F.col("_ppid").alias("_w"))
    for _ in range(max_depth):
        rem = walk.filter(F.col("_w") != ROOT_ID)
        if not rem.take(1):
            break
        walk = rem.join(
            parents, rem["_w"] == parents["_pid"], "inner"
        ).select(F.col("_ppid").alias("_w"))
        depth += 1
    acc = ns.select(
        F.col(id_col).alias("_tid"),
        F.col(parent_col).alias("_walk"),
        F.col(name_col).alias("_acc"),
    )
    for r in range(depth + 1):
        at_root = F.col("_walk") == ROOT_ID
        acc = acc.join(
            parents, acc["_walk"] == parents["_pid"], "left"
        ).select(
            "_tid",
            F.when(at_root, F.col("_walk"))
            .otherwise(F.coalesce(F.col("_ppid"), F.col("_walk")))
            .alias("_walk"),
            F.when(at_root, F.col("_acc"))
            .otherwise(
                F.when(
                    F.col("_pname").isNotNull(),
                    F.concat_ws("/", "_pname", "_acc"),
                ).otherwise(F.col("_acc"))
            )
            .alias("_acc"),
        )
        if (r + 1) % 8 == 0:  # truncate lineage on deep trees only
            acc = acc.localCheckpoint(eager=True)
    # rows that never reached the root (orphaned parent pointers) get a
    # NULL path, matching the point resolver's miss semantics
    return acc.select(
        F.col("_tid").alias(id_col),
        F.when(
            F.col("_walk") == ROOT_ID, F.concat(F.lit("/"), F.col("_acc"))
        ).alias(out_col),
    )


def path_column(
    ns: DataFrame,
    id_col: str = "id",
    parent_col: str = "parentId",
    name_col: str = "name",
    out_col: str = "path",
    max_depth: int = 64,
) -> DataFrame:
    """H2: every ns row with its computed ``path`` column attached —
    the reference's ``File.path`` field (File.java:58) set-at-a-time.
    Callers needing only (id, path) use :func:`path_strings` directly
    and skip this attach join."""
    paths = path_strings(ns, id_col, parent_col, name_col, out_col, max_depth)
    return ns.join(paths, id_col, "left")


def path_strings_for(ns, internal_filter, **kw):
    """path_strings with a caller-known internal-node predicate."""
    return path_strings(ns, internal_filter=internal_filter, **kw)


def recursive_delete_set(
    ns: DataFrame,
    target_id: int,
    recursive: bool,
    id_col: str = "id",
    parent_col: str = "parentId",
) -> DataFrame:
    """H5: compute the id set a recursive delete must tombstone.
    Non-recursive delete of a non-empty dir raises (guarded delete,
    FileRepository.deleteInternal :288-305)."""
    kids = children(ns, target_id, parent_col)
    if not recursive and kids.take(1):
        raise ValueError(f"directory {target_id} is not empty; recursive=False")
    desc = descendants(ns, [target_id], id_col=id_col, parent_col=parent_col, include_self=True)
    return desc.select(id_col)


def ancestor_closure(
    ns: DataFrame,
    id_col: str = "id",
    parent_col: str = "parentId",
    root_id: int = 0,
    max_depth: int = 64,
) -> DataFrame:
    """(node, anc) pairs for every proper ancestor of every node — the
    transitive closure of the parent edges.  Closure size is |nodes| ×
    depth; depth is tree height, so at namespace scale this is the
    same budget as the path column (H2).

    Built the same way as :func:`path_strings` (r9 — the old form
    paid a big-table join + eager localCheckpoint + take() probe PER
    LEVEL, ~2x the whole rollup's cost at sf0.1): ancestors beyond
    the direct parent are always INTERNAL nodes, so the hop side is
    the (tiny) referenced-parent map, tree depth is probed on that
    map alone, and the big table is touched by exactly ONE fused plan
    — depth broadcast map-joins accumulating per-level (emitted, anc)
    slots, then ``inline`` to rows.  Pair-for-pair identical to the
    iterative join, including the edge semantics: a dangling parent
    pointer ends the chain (inner-join drop ≡ unmatched left join),
    and a matched hop row whose own parent is NULL still emits its
    (node, NULL) pair but walks no further (NULL fails the
    ``anc != root`` continuation filter either way).
    """
    referenced = ns.select(F.col(parent_col).alias("_rid")).distinct()
    parents = (
        ns.join(referenced, ns[id_col] == referenced["_rid"], "left_semi")
        .select(
            F.col(id_col).alias("_pid"), F.col(parent_col).alias("_ppid")
        )
        .localCheckpoint(eager=True)
    )
    # depth probe over the internal-node map only (path_strings shape):
    # rounds until every dir's walk reaches the root — the deepest
    # node chain needs exactly that many hop levels past its parent.
    depth = 1
    walk = parents.select(F.col("_ppid").alias("_w"))
    for _ in range(max_depth):
        rem = walk.filter(F.col("_w") != root_id)
        if not rem.take(1):
            break
        walk = rem.join(
            parents, rem["_w"] == parents["_pid"], "inner"
        ).select(F.col("_ppid").alias("_w"))
        depth += 1
    # one fused pass over the big table: level 0 is the row's own
    # parent pointer; level i left-joins the parents map on the
    # previous ancestor (guarded so a dead chain emits nothing even
    # if its last value happens to match a map key).
    acc = ns.select(
        F.col(id_col).alias("node"),
        F.col(parent_col).alias("_a"),
        F.col(parent_col).isNotNull().alias("_e"),
    )
    levels = min(depth + 1, max_depth)
    for i in range(levels):
        alive = (
            F.col("_e")
            & F.col("_a").isNotNull()
            & (F.col("_a") != F.lit(root_id))
        )
        acc = acc.join(parents, acc["_a"] == parents["_pid"], "left").select(
            "node",
            *[F.col(f"_s{j}") for j in range(i)],
            F.struct(F.col("_e").alias("e"), F.col("_a").alias("a")).alias(
                f"_s{i}"
            ),
            F.when(alive, F.col("_ppid")).alias("_a"),
            (alive & F.col("_pid").isNotNull()).alias("_e"),
        )
        if (i + 1) % 8 == 0:  # truncate lineage on deep trees only
            acc = acc.localCheckpoint(eager=True)
    final = acc.select(
        "node",
        F.array(
            *[F.col(f"_s{j}") for j in range(levels)],
            F.struct(F.col("_e").alias("e"), F.col("_a").alias("a")),
        ).alias("_lv"),
    )
    return (
        final.select("node", F.inline("_lv"))
        .filter(F.col("e"))
        .select("node", F.col("a").alias("anc"))
    )


def rollup_sizes(
    ns: DataFrame,
    sizes: DataFrame,
    id_col: str = "id",
    parent_col: str = "parentId",
    size_col: str = "size",
    root_id: int = 0,
) -> DataFrame:
    """All-directories ``du``: total size and leaf count for EVERY
    node, not just one queried subtree — the analytics upgrade of the
    reference's per-path getContentSummary (FSNamesystem.java:
    1462-1473, which walks ONE subtree per RPC).  One ancestor-closure
    build (depth iterative joins) + one join + one groupBy; every
    directory's rollup materializes in a single pass instead of one
    recursive walk per directory.  Returns (id, n_files, total_size)
    for every node having at least one sized descendant."""
    anc = ancestor_closure(ns, id_col, parent_col, root_id=root_id)
    contrib = anc.join(
        sizes.select(F.col(id_col).alias("node"), F.col(size_col).alias("_sz")),
        "node",
    )
    return (
        contrib.groupBy(F.col("anc").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("_sz").alias("total_size"),
        )
    )
