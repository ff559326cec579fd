"""Physical-plan regression tests — the scale contract.

These assert the *shape* of the plans, not results: filters reach the
parquet scan, dimensions broadcast, argmax aggregates partially
map-side, top-k avoids full sorts.  A regression here is a 100 TB
performance bug even when sf0.01 results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adfs_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    fn, _ = QUERIES[name]
    return fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushdown(spark):
    p = plan_of(spark, "s1_point_lookup")
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,500)]" in p


def test_range_scan_pushdown(spark):
    p = plan_of(spark, "s1_range_limit_offset")
    assert "GreaterThanOrEqual(o_orderkey,100)" in p


def test_dim_join_broadcasts(spark):
    p = plan_of(spark, "j2_dim_broadcast")
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_anti_join_strategy(spark):
    p = plan_of(spark, "j5_anti_stored")
    assert "LeftAnti" in p


def test_argmax_is_partial_aggregate(spark):
    # a2 rides the packed-long argmax: a primitive partial max over one
    # 8-byte encoded column — map-side combine, no window, no struct
    # max_by buffer
    p = plan_of(spark, "a2_group_argmax")
    assert "partial_max" in p
    assert "max_by" not in p and "Window" not in p
    # only the 3 needed columns may reach the scan
    read = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_shipdate" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_group_argmax_general_form_is_partial_max_by(spark):
    # the general struct-order operator keeps its map-side max_by shape
    from adfs_spark.catalog import load_table
    from adfs_spark.operators.aggregates import group_argmax

    li = load_table(spark, SF, "lineitem")
    out = group_argmax(
        li,
        ["l_orderkey"],
        ["l_shipdate", "l_linenumber"],
        payload_cols=["l_orderkey", "l_linenumber", "l_shipdate"],
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in p
    assert "Window" not in p


def test_topk_avoids_global_sort(spark):
    p = plan_of(spark, "sort_topk_global")
    assert "TakeOrderedAndProject" in p


def test_q1_scans_prune_columns(spark):
    p = plan_of(spark, "q1_pricing_summary")
    # only the 5 needed columns reach the scan
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double" in p
    assert "l_orderkey" not in p.split("ReadSchema:")[1].splitlines()[0]


def test_q5_fact_join_not_broadcast_on_big_side(spark):
    from adfs_spark.queries import q5_nation_revenue

    # early form (the 100 TB plan, auto-chosen once lineitem's on-disk
    # size crosses the crossover threshold)
    df = q5_nation_revenue(spark, SF, early=True)
    p = df._jdf.queryExecution().executedPlan().toString()
    # joins on all 6 tables compile; small-SF statistics may still pick
    # runtime broadcasts, which is AQE's call, not a forced hint
    assert "Join" in p
    # the contract: only constant-size frames carry a broadcast HINT —
    # region into nation, then the ≤|nation| region-filtered nation
    # slice onto customer AND supplier (the early dim restriction, so
    # downstream shuffles move only qualifying rows).  customer /
    # supplier themselves grow with SF and must be left to AQE (a
    # forced broadcast OOMs executors at sf100)
    # 5 occurrences: nr's internal region hint prints under BOTH reuses
    # of the nr subtree (customer's and supplier's), the two nr hints
    # themselves, plus the size-gated supplier-slice hint onto lineitem
    # (supplier at test SF is far under Q5_SUPPLIER_BROADCAST_MAX_BYTES,
    # so the gate fires and the fact shuffle carries only qualifying
    # lineitem rows)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 5

    # toy-scale form: plain join chain, NO forced hints anywhere (the
    # fixed broadcast-stage cost dominates when the shuffle is tiny)
    small = q5_nation_revenue(spark, SF, early=False)
    analyzed_small = small._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint (strategy=broadcast)" not in analyzed_small

    # the auto gate picks the toy form at test SF (11 MB < 64 MB)
    # and both forms agree on the answer
    import adfs_spark.queries as Q

    assert (Q._table_disk_bytes(SF, "lineitem") or 0) < Q.Q5_EARLY_RESTRICT_MIN_BYTES
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, small.collect()))
    assert [r[0] for r in a] == [r[0] for r in b]
    for x, y in zip(a, b):
        assert abs(x[1] - y[1]) < 1e-6

    # third route: early form with the supplier-broadcast gate OFF
    # (the unbounded-supplier fallback) — same answer, no s2 hint
    old = Q.Q5_SUPPLIER_BROADCAST_MAX_BYTES
    Q.Q5_SUPPLIER_BROADCAST_MAX_BYTES = 0
    try:
        mid = q5_nation_revenue(spark, SF, early=True)
        analyzed_mid = mid._jdf.queryExecution().analyzed().toString()
        assert analyzed_mid.count("ResolvedHint (strategy=broadcast)") == 4
        m = sorted(map(tuple, mid.collect()))
        assert [r[0] for r in a] == [r[0] for r in m]
        for x, y in zip(a, m):
            assert abs(x[1] - y[1]) < 1e-6
    finally:
        Q.Q5_SUPPLIER_BROADCAST_MAX_BYTES = old


def test_q3_q14_no_forced_broadcast_of_scaled_tables(spark):
    for name in ("q3_unshipped_revenue", "q14_promo_revenue"):
        fn, _ = QUERIES[name]
        analyzed = fn(spark, SF)._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint (strategy=broadcast)" not in analyzed, name


def test_version_stamping_has_no_single_partition_exchange(spark):
    """Bulk writes must not funnel version assignment through one task:
    the two-pass stamp numbers rows inside hash buckets
    (storage._stamp_versions), so the only Exchange is hash-partitioned."""
    from adfs_spark.storage import _stamp_versions

    rows = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    stamped = _stamp_versions(rows, ["k"], base=0)
    p = stamped._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in p
    assert "Exchange hashpartitioning(_vsb" in p
    # versions are dense 1..n and unique
    got = stamped.agg(
        F.min("version"), F.max("version"), F.countDistinct("version")
    ).first()
    assert tuple(got) == (1, 10_000, 10_000)


def test_suite_union_preserves_member_pushdowns(spark):
    """The driver-facing tagged-union suites must not defeat member
    scan pushdown: every point/range member's filter still reaches its
    own FileScan through the Union."""
    p = plan_of(spark, "s1_find_suite")
    assert "Union" in p
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,500)]" in p
    assert "GreaterThanOrEqual(o_orderkey,100)" in p
    assert "EqualTo(l_linenumber,3)" in p
    assert "In(o_orderstatus, [F,P])" in p


def test_recursive_delete_keys_stay_distributed(spark, tmp_path):
    """H5 write path: the descendant key set feeds a LeftSemi join —
    never a collect()+isin literal (the round-1 scale bug)."""
    from adfs_spark.schema import ColumnSpec, TableSpec
    from adfs_spark.storage import VersionedTable

    spec = TableSpec(
        name="kv2",
        columns=(ColumnSpec("k", "long"), ColumnSpec("v", "string")),
        primary_key=("k",),
        versioned=True,
    )
    t = VersionedTable(spark, spec, str(tmp_path / "kv2"))
    t.init(spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k: long, v: string"))
    keys = spark.range(0, 50).select(F.col("id").alias("k"))
    tomb = t._tombstones_for_keys(keys)
    p = tomb._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p
    assert " IN (" not in p  # no materialized isin literal
    assert t.delete_where_keys(keys) == 50
    assert t.count() == 50


def test_aggregates_combine_map_side(spark):
    # two-phase hash aggregation: partial_* before the exchange
    for name in ("q1_pricing_summary", "a3_sum_per_parent"):
        p = plan_of(spark, name)
        assert "partial_sum" in p, name
        assert "HashAggregate" in p, name


def test_whole_stage_codegen_on_scan_path(spark):
    # codegen spans print as "*(n)" markers; AQE-wrapped plans only show
    # them once finalized, so assert on a non-adaptive scan query
    p = plan_of(spark, "t1_expired_threshold")
    assert "*(" in p


def test_q6_all_predicates_reach_scan(spark):
    p = plan_of(spark, "q6_filtered_revenue")
    # PushedFilters lists truncate in toString; assert the scan-level
    # DataFilters carry every predicate instead
    assert "GreaterThanOrEqual(l_shipda" in p and "< 24.0)" in p
    assert "partial_sum" in p  # map-side combine before the single-row exchange


def test_q14_dimension_broadcasts(spark):
    p = plan_of(spark, "q14_promo_revenue")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    # the date filter stays on the fact scan, not post-join
    assert "< 1995-07-01 00:00:00)" in p


def test_rollup_is_expand_plus_one_shuffle(spark):
    p = plan_of(spark, "agg_rollup_status_priority")
    assert "Expand" in p
    assert p.count("Exchange") == 1  # grouping sets never re-shuffle


def test_count_distinct_dedupes_map_side(spark):
    p = plan_of(spark, "agg_count_distinct")
    # two-phase distinct: pre-aggregate on (group, distinct-key) before
    # the final exchange so the shuffle carries deduped pairs
    assert "partial_count(distinct" in p
    assert "HashAggregate" in p


def test_exists_is_semi_join_with_residual(spark):
    p = plan_of(spark, "sq_exists_late_ship")
    assert "LeftSemi" in p and "l_shipdate" in p.split("LeftSemi")[1][:120]


def test_not_exists_pushes_filter_into_build_side(spark):
    p = plan_of(spark, "sq_not_exists_inactive")
    assert "LeftAnti" in p
    assert "GreaterThan(o_totalprice,400000.0)" in p


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """SCALE.md §3: pre-bucketing both sides on the join key removes
    the per-query shuffle entirely — the physical proof of the
    'co-locate via bucketing' claim."""
    from adfs_spark.catalog import load_table
    from adfs_spark.sources.generic import write_bucketed_table

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed_table(li, "li_bkt", ("l_orderkey",), num_buckets=8)
    write_bucketed_table(o, "o_bkt", ("o_orderkey",), num_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_bkt").join(
            spark.table("o_bkt"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p
        assert p.count("Exchange") == 0  # bucket layout IS the partitioning
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS o_bkt")


def test_heavy_hitters_is_takeordered(spark):
    p = plan_of(spark, "dq_heavy_hitters")
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p  # map-side combine before the shuffle


def test_fk_orphans_anti_join_and_partial_agg(spark):
    p = plan_of(spark, "dq_fk_orphans")
    assert "LeftAnti" in p
    assert "partial_count" in p


def test_decontaminate_broadcasts_eval_shingles(spark):
    p = plan_of(spark, "pipeline_decontaminate")
    # the eval side must broadcast (it's KB-scale); the corpus text
    # must never shuffle — only (doc_id, shingle) rows do
    assert "BroadcastHashJoin" in p


def test_profile_is_single_scan(spark):
    p = plan_of(spark, "dq_profile_orders")
    # one pass over the table: exactly one parquet scan even with 5
    # profiled columns (the distinct expand reuses it)
    assert p.count("Scan parquet") == 1


def test_url_filter_broadcast_anti(spark):
    p = plan_of(spark, "pipeline_url_filter")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_salted_join_bounds_skewed_partition_input(spark):
    """SCALE.md §5 skew demonstration: a zipf-shaped fixture (one
    monster key with 20k rows, a uniform tail) joined plainly funnels
    the monster key through ONE shuffle task; salted_join spreads it
    over num_salts tasks.  Pins (a) the salted plan shuffles on
    (key, _salt) — the monster key occupies num_salts partitions by
    construction — and (b) a quantified bound: the max per-(key,salt)
    group is within 2x of monster/num_salts, a 16x reduction of the
    max task input vs the plain join."""
    from pyspark.sql import functions as F

    from adfs_spark.operators.joins import salted_join

    n_monster, num_salts = 20_000, 16
    monster = spark.range(n_monster).select(F.lit(0).cast("long").alias("k"), F.col("id").alias("payload"))
    tail = spark.range(5_000).select((F.col("id") % 500 + 1).alias("k"), F.col("id").alias("payload"))
    skewed = monster.unionByName(tail)
    dim = spark.range(501).select(F.col("id").alias("k"), (F.col("id") * 7).alias("attr"))

    # (a) plan: the salted join's exchange hashes on the salt too
    out = salted_join(skewed, dim, "k", num_salts=num_salts)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan, "salted join must shuffle on (key, _salt)"

    # equality with the plain join
    plain = skewed.join(dim, "k")
    assert out.count() == plain.count() == 25_000

    # (b) quantified: same salt expression as salted_join
    salted_counts = (
        skewed.withColumn(
            "_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(num_salts))
        )
        .groupBy("k", "_salt")
        .count()
    )
    max_bucket = salted_counts.agg(F.max("count")).first()[0]
    plain_max = skewed.groupBy("k").count().agg(F.max("count")).first()[0]
    assert plain_max == n_monster  # the monster key IS one task plainly
    assert max_bucket <= (n_monster / num_salts) * 2, (
        f"salting failed to spread the monster key: max bucket {max_bucket}"
    )


def test_tfidf_token_table_shuffles_once(spark):
    """The round-3 tfidf rewrite: the exploded token table physically
    shuffles ONCE — the explicit doc-id repartition feeds the tf
    aggregate and the top-k window directly, and the doc-frequency
    subtree picks it up as a ReusedExchange at runtime.  Exchange
    reuse is an AQE runtime decision, so this asserts on the FINAL
    adaptive plan (after an action): exactly two materialized hash
    exchanges — the token repartition and the |vocab|-sized term
    aggregate — plus the reuse marker."""
    fn, _ = QUERIES["text_tfidf_top_terms"]
    df = fn(spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    final = p.split("Initial Plan")[0]
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, "token-table exchange reuse lost"
    live = [
        ln for ln in final.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    ]
    assert len(live) == 2, "tfidf shuffle count moved:\n" + "\n".join(live)
    assert "Window" in final  # top-k window present, fed shuffle-free


def test_plans_md_is_fresh():
    """PLANS.md must be regenerated whenever queries.py (or the bench
    query lists) change: its recorded Source-Hash has to match the
    current inputs, and every bench query — extras included — needs a
    plan section.  Regenerate with `python tools/dump_plans.py`."""
    import os
    import re
    import sys

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(here, "tools"))
    from bench import BENCH_EXTRAS, BENCH_QUERIES
    from dump_plans import plans_source_hash

    with open(os.path.join(here, "PLANS.md")) as f:
        text = f.read()
    m = re.search(r"Source-Hash: ([0-9a-f]+)", text)
    assert m, "PLANS.md has no Source-Hash — regenerate with tools/dump_plans.py"
    assert m.group(1) == plans_source_hash(), (
        "PLANS.md is stale (queries.py or the bench lists changed since "
        "generation) — rerun `python tools/dump_plans.py`"
    )
    sections = set(re.findall(r"^## (\S+)$", text, re.M))
    missing = [q for q in BENCH_QUERIES + BENCH_EXTRAS if q not in sections]
    assert not missing, f"PLANS.md lacks plan sections for: {missing}"


def test_topk_route_pinned_at_both_gate_ends(spark):
    """The auto-routed top-k (operators.skew.topk_per_group) must pick
    the plain single-window plan below SALTED_TOPK_MIN_BYTES, probe for
    skew above it, and take the two-phase salted plan only when a hot
    key would funnel a task-sized row count — the 100×-scale plan
    choice lives in the engine (r7 verdict ask #8).  Pinned by plan
    shape: the salted route partitions its FIRST window by (key, salt),
    so its plan carries the salt column and two window nodes; the plain
    route has exactly one window partitioned by the key alone."""
    from adfs_spark.catalog import load_table
    from adfs_spark.operators.skew import topk_per_group

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    args = (["l_orderkey"], [F.desc("l_quantity"), "l_linenumber"], 2)

    # below the size gate: plain, no probe, one window node
    plain = topk_per_group(li, *args, size_hint_bytes=1 << 20)
    p = plain._jdf.queryExecution().executedPlan().toString()
    assert "_skew_salt" not in p
    assert p.count("Window [") == 1  # one window node (WindowGroupLimit aside)

    # above the size gate WITH a task-sized hot key: salted two-phase
    salted = topk_per_group(
        li, *args, size_hint_bytes=100 << 30, max_group_hint=50_000_000
    )
    s = salted._jdf.queryExecution().executedPlan().toString()
    assert "_skew_salt" in s
    assert s.count("Window [") == 2  # local (key, salt) + final (key)

    # above the size gate but skew-free: plain (salting is pure
    # overhead without a hot key — measured 2.5x slower at sf10)
    big_uniform = topk_per_group(
        li, *args, size_hint_bytes=100 << 30, max_group_hint=7
    )
    u = big_uniform._jdf.queryExecution().executedPlan().toString()
    assert "_skew_salt" not in u

    # above the size gate with NO hint: the sample probe runs and
    # resolves the route from data (this corpus is skew-free -> plain)
    probed = topk_per_group(li, *args, size_hint_bytes=100 << 30)
    pr = probed._jdf.queryExecution().executedPlan().toString()
    assert "_skew_salt" not in pr

    # above the SMALL-K gate, skew-free, with a declarative order spec:
    # the partial-aggregating struct form — no Window node at all
    smallk = topk_per_group(
        li, *args, size_hint_bytes=100 << 30, max_group_hint=7,
        order_spec=[("l_quantity", "desc"), ("l_linenumber", "asc")],
    )
    sk = smallk._jdf.queryExecution().executedPlan().toString()
    assert "Window [" not in sk and "ObjectHashAggregate" in sk

    # same, with packing hints: the packed form wins the tie and the
    # aggregate runs on bare longs (no struct in the collect_list)
    q100 = F.round(F.col("l_quantity") * 100).cast("long")
    enc = F.shiftleft(F.lit(1 << 20) - q100, 32) + F.col("l_linenumber").cast("long")
    dec = [(F.pmod(F.col("_packed"), F.lit(1 << 32)).cast("int"), "l_linenumber")]
    packed = topk_per_group(
        li, *args, size_hint_bytes=100 << 30, max_group_hint=7,
        order_spec=[("l_quantity", "desc"), ("l_linenumber", "asc")],
        packed_enc=enc, packed_decode=dec,
    )
    pk = packed._jdf.queryExecution().executedPlan().toString()
    assert "Window [" not in pk and "ObjectHashAggregate" in pk
    assert "named_struct" not in pk.split("ObjectHashAggregate")[1][:400]

    # a task-sized hot key routes to salted even when the small-k
    # hints are present (a collect_list buffer must never hold a
    # task-sized group)
    hot = topk_per_group(
        li, *args, size_hint_bytes=100 << 30, max_group_hint=50_000_000,
        order_spec=[("l_quantity", "desc"), ("l_linenumber", "asc")],
        packed_enc=enc, packed_decode=dec,
    )
    h = hot._jdf.queryExecution().executedPlan().toString()
    assert "_skew_salt" in h

    # BELOW the size gate with packed hints AND a caller-vouched small
    # hottest key: packed engages at any size (r9 — measured ≤ the
    # window at every rung once the buffer bound is vouched)
    packed_small = topk_per_group(
        li, *args, size_hint_bytes=1 << 20, max_group_hint=7,
        order_spec=[("l_quantity", "desc"), ("l_linenumber", "asc")],
        packed_enc=enc, packed_decode=dec,
    )
    ps = packed_small._jdf.queryExecution().executedPlan().toString()
    assert "Window [" not in ps and "ObjectHashAggregate" in ps

    # ...but withOUT the group-size bound, small stays on the window
    # (an unvouched collect_list below the probe threshold is unsafe)
    win_small = topk_per_group(
        li, *args, size_hint_bytes=1 << 20,
        order_spec=[("l_quantity", "desc"), ("l_linenumber", "asc")],
        packed_enc=enc, packed_decode=dec,
    )
    ws = win_small._jdf.queryExecution().executedPlan().toString()
    assert ws.count("Window [") == 1 and "_skew_salt" not in ws

    # identical results across ALL routes on real data
    a = {tuple(r) for r in plain.select("l_orderkey", "l_linenumber", "rank").collect()}
    for alt in (salted, smallk, packed, hot, packed_small, win_small):
        b = {tuple(r) for r in alt.select("l_orderkey", "l_linenumber", "rank").collect()}
        assert a == b
