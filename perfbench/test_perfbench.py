"""The benchmark's own tests: seeded op streams, the metric lists in
BENCHMARK.json, and span coverage.  Run from the checkout root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import analytics  # noqa: E402
import fixtures  # noqa: E402
import ns_serve  # noqa: E402
import run  # noqa: E402

# the layers each workload must exercise (its primary workload)
PRIMARY = {
    "ns_serve": ("namespace", "filesystem", "blockmap", "storage", "backend",
                 "operators.hierarchy", "operators"),
    "analytics_suite": ("operators", "catalog", "queries", "functions.dedup",
                        "functions.text", "functions.similarity"),
}


def _decks(sf_dir: str, seed: int, n: int) -> list[dict]:
    gen = ns_serve.Generator(ns_serve.build_model(sf_dir, seed), seed)
    return [op for _ in range(n) for op in gen.deck()]


def test_op_stream_is_seeded(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    fixtures.generate(str(a), 7, run.SF)
    fixtures.generate(str(b), 7, run.SF)
    assert run.op_hash(_decks(str(a), 7, 3)) == run.op_hash(_decks(str(b), 7, 3))
    fixtures.generate(str(tmp_path / "c"), 8, run.SF)
    assert run.op_hash(_decks(str(a), 7, 3)) != run.op_hash(
        _decks(str(tmp_path / "c"), 8, 3))


def test_every_deck_has_the_same_composition(tmp_path):
    fixtures.generate(str(tmp_path), 3, run.SF)
    ops = _decks(str(tmp_path), 3, 4)
    decks = [ops[i:i + len(ns_serve.DECK)] for i in range(0, len(ops), len(ns_serve.DECK))]
    assert {tuple(op["verb"] for op in d) for d in decks} == {
        tuple(v for v, _ in ns_serve.DECK)}


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_spec()
    fake = run.Run(types.SimpleNamespace(), "")
    fake.lat = [("x", 0.5), ("y", 1.5)]
    e2e = fake.end_to_end(1.0, 100.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: u for k, (_, u) in e2e.items()}


def test_wrappers_reach_names_imported_by_value():
    spans = pytest.importorskip("spans")
    import adfs_spark.blockmap as blockmap
    import adfs_spark.namespace as namespace
    import adfs_spark.operators.aggregates as aggregates
    import adfs_spark.operators.hierarchy as hierarchy
    import adfs_spark.operators.joins as joins
    from adfs_spark.queries import QUERIES

    originals = {
        "descendants": namespace.descendants,
        "children": namespace.children,
        "group_argmax": blockmap.group_argmax,
        "fk_join": blockmap.fk_join,
        "report_diff": blockmap.report_diff,
        "q1": QUERIES["q1_pricing_summary"][0],
    }
    store = types.SimpleNamespace(statusStore=lambda: None)
    jsc = types.SimpleNamespace(sc=lambda: store)
    spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace(_jsc=jsc))
    tracer = spans.Tracer(spark)
    tracer.install()
    try:
        assert namespace.descendants is hierarchy.descendants is not originals["descendants"]
        assert namespace.children is hierarchy.children is not originals["children"]
        assert blockmap.group_argmax is aggregates.group_argmax is not originals["group_argmax"]
        assert blockmap.fk_join is joins.fk_join is not originals["fk_join"]
        assert blockmap.report_diff is joins.report_diff is not originals["report_diff"]
        assert QUERIES["q1_pricing_summary"][0] is not originals["q1"]
    finally:
        tracer.uninstall()
    assert namespace.descendants is originals["descendants"]
    assert blockmap.group_argmax is originals["group_argmax"]
    assert QUERIES["q1_pricing_summary"][0] is originals["q1"]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    summary = json.loads(lines[-2].split(": ", 1)[1])
    return summary, json.loads(lines[-1])


@pytest.mark.skipif(shutil.which("java") is None, reason="needs a JVM")
def test_every_layer_records_calls_on_its_primary_workload():
    plain, _ = _run("ns_serve", 0)
    for workload, layers in PRIMARY.items():
        summary, result = _run(workload, 1)
        assert result["correct"], result
        metrics = result["metrics"]
        assert set(metrics) == set(run.per_layer_spec())
        for layer in layers:
            assert metrics[f"{layer}.calls"]["value"] > 0, (workload, layer)
        assert "trace.overhead_pct" in metrics
        if workload == "ns_serve":
            assert summary["op_list_sha256"] == plain["op_list_sha256"]
