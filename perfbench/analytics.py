"""``analytics_suite``: the engine's 20-query headline suite, one query
per op.

A timed pass runs every query once, in the fixed order below: build the
DataFrame, run it to the ``noop`` sink.  Before the timed passes, one
pass collects every query's rows and compares them, order-insensitively,
with the query's DuckDB oracle over the same fixture files; that pass
also warms the JVM.  The order is fixed, not seeded, because the first
queries of a fresh session absorb JIT and code-generation costs the
later ones share; the seed picks the data.
"""

from __future__ import annotations

import math
import os

# The suite is fixed here rather than read from the engine, so that a
# change to the engine's own bench list does not change this workload.
QUERIES = (
    "q1_pricing_summary",
    "q3_unshipped_revenue",
    "q5_nation_revenue",
    "q6_filtered_revenue",
    "q14_promo_revenue",
    "j1_fact_join",
    "j5_anti_stored",
    "a2_group_argmax",
    "a3_sum_per_parent",
    "w2_topk_per_group",
    "u4_lww_merge",
    "h2_path_column",
    "events_hourly_window",
    "events_latest_per_user",
    "text_quality_ratios",
    "text_tfidf_top_terms",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "asof_click_after_error",
    "pipeline_split_counts",
)


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _multiset(rows, cols) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB over the same fixture files the engine reads."""

    def __init__(self, sf_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def agrees(self, sql: str, rows, cols) -> bool:
        res = self.con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        return sorted(cols) == sorted(dcols) and _multiset(
            [list(r) for r in rows], cols
        ) == _multiset(drows, dcols)

    def close(self) -> None:
        self.con.close()
