"""Closed-loop benchmark of the adfs_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ns_serve --seed 1 --seconds 15 --trace 0

One client, one process, Spark on ``local[N]`` with N at most the CPU
count.  Inputs (fixture tables, namespace, op stream) are generated from
``--seed``.  The run times whole decks of ops (ns_serve) or whole passes
over the query suite (analytics_suite) until about ``--seconds`` have
been measured, checks every answer, and prints a summary line and, as
the last line, one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from spans import LAYERS

HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.002
TAIL_PCT = 90
MAX_CPUS = 4
WORKLOADS = ("ns_serve", "analytics_suite")


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over ``pids`` and all their descendants."""
    seen, total, todo = set(), 0, list(pids)
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM"))
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (OSError, StopIteration):
            continue
    return total / 1024


def tree_files(roots: list[str]) -> dict[str, tuple[int, int]]:
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def op_hash(ops: list[dict]) -> str:
    """SHA-256 of the ops as issued (expected answers excluded)."""
    issued = [{k: v for k, v in op.items() if k != "expect"} for op in ops]
    return hashlib.sha256(json.dumps(issued, sort_keys=True).encode()).hexdigest()


def percentile(values: list[float], pct: float) -> float:
    xs = sorted(values)
    k = (len(xs) - 1) * pct / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Run:
    """One benchmark process: session, timed ops, checks, metrics."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.sf_dir = os.path.join(work, "fixtures")
        self.spark = None
        self.tracer = None
        self.lat: list[tuple[str, float]] = []
        self.parts: list[tuple[str, float]] = []  # sub-op timings
        self.jobs: list[tuple[str, int]] = []
        self.attempted = 0
        self.failed = 0
        self.failed_ops = 0  # timed ops among ``failed``
        self.first_op = None
        self.issued: list = []
        self.extra: dict[str, float] = {}  # per-layer values set by a workload
        self.summary: dict = {"deck_s": []}

    # -- session -----------------------------------------------------------

    def start(self) -> None:
        from adfs_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.range(1).count()
        if self.args.trace:
            import spans

            self.tracer = spans.Tracer(self.spark)
            self.tracer.install()

    def stop(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin pipe closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    # -- ops ---------------------------------------------------------------

    def op(self, kind: str, fn, check) -> None:
        """Time one op; ``check(result)`` runs after the clock stops."""
        if self.first_op is None:
            self.first_op = time.time()
        self.attempted += 1
        ctx = self.tracer.op() if self.tracer else nullcontext()
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            with ctx:
                result = fn()
            ok = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok, result = False, None
        self.lat.append((kind, time.perf_counter() - t0))
        if self.tracer:
            self.jobs.append((kind, self.tracer.harvest(wall0, time.time())))
        if ok and not check(result):
            print(f"perfbench: wrong answer from {kind}: {str(result)[:300]}",
                  file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            self.failed_ops += 1

    def measure(self, next_deck) -> None:
        """Run whole decks of ``(kind, fn, check)`` ops until about
        ``--seconds`` are measured: a deck starts only while the previous
        deck's duration still fits in the budget (always at least one)."""
        begin = time.perf_counter()
        while True:
            d0 = time.perf_counter()
            for kind, fn, check in next_deck():
                self.op(kind, fn, check)
            last = time.perf_counter() - d0
            self.summary["deck_s"].append(round(last, 2))
            if time.perf_counter() - begin + last > self.args.seconds:
                return

    def check(self, ok: bool, what: str) -> None:
        """An untimed correctness check, counted like an op."""
        self.attempted += 1
        if not ok:
            print(f"perfbench: check failed: {what}", file=sys.stderr)
            self.failed += 1

    # -- metrics -----------------------------------------------------------

    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        lat = [t for _, t in self.lat]
        return {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            "op_tail_ms": (percentile(lat, TAIL_PCT) * 1e3, "ms"),
            "ops_per_s": ((len(lat) - self.failed_ops) / sum(lat), "1/s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }

    def per_layer(self) -> dict:
        from analytics import QUERIES
        from ns_serve import VERBS

        tr = self.tracer
        lat = [t for _, t in self.lat]
        n = len(lat)
        v = {}
        for layer in LAYERS:
            v[f"{layer}.calls"] = tr.calls[layer] / n
            v[f"{layer}.self_ms"] = tr.self_s[layer] * 1e3 / n
            v[f"{layer}.spark_jobs"] = tr.jobs[layer] / n
        for verb in VERBS:
            ts = [t for k, t in self.lat if k == verb]
            js = [j for k, j in self.jobs if k == verb]
            v[f"namespace.{verb}.p50_ms"] = statistics.median(ts) * 1e3 if ts else 0.0
            v[f"namespace.{verb}.spark_jobs"] = sum(js) / len(js) if js else 0.0
        for q in QUERIES:
            for part in ("build", "execute"):
                ts = [t for k, t in self.parts if k == f"{q}.{part}"]
                v[f"queries.{q}.{part}_ms"] = statistics.median(ts) * 1e3 if ts else 0.0
        v.update(self.extra)
        v["backend.cas_failed"] = tr.cas_failed
        v["spark.jobs_per_op"] = tr.op_jobs / n
        v["spark.tasks_per_op"] = tr.tasks / n
        v["spark.failed_tasks"] = tr.failed_tasks
        v["spark.job_wall_share"] = tr.job_wall_s / sum(lat)
        v["trace.overhead_pct"] = 100 * tr.overhead_s / (sum(lat) - tr.overhead_s)
        return {name: (v.get(name, 0.0), unit) for name, unit in per_layer_spec().items()}


def per_layer_spec() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit.
    Values are per timed op where the unit says so; a layer or verb a
    workload never touches reads 0."""
    from analytics import QUERIES
    from ns_serve import VERBS

    spec = {}
    for layer in LAYERS:
        spec.update({f"{layer}.calls": "calls/op", f"{layer}.self_ms": "ms/op",
                     f"{layer}.spark_jobs": "jobs/op"})
    for verb in VERBS:
        spec.update({f"namespace.{verb}.p50_ms": "ms/op",
                     f"namespace.{verb}.spark_jobs": "jobs/op"})
    for q in QUERIES:
        spec.update({f"queries.{q}.build_ms": "ms/op", f"queries.{q}.execute_ms": "ms/op"})
    spec.update({
        "storage.bytes_written_per_row": "B/row",
        "storage.files_written": "count",
        "storage.rows_written_per_s": "1/s",
        "storage.stored_bytes_per_live_byte": "ratio",
        "backend.cas_failed": "count",
        "spark.jobs_per_op": "jobs/op",
        "spark.tasks_per_op": "tasks/op",
        "spark.failed_tasks": "count",
        "spark.job_wall_share": "ratio",
        "trace.overhead_pct": "%",
    })
    return spec


# -- workloads ---------------------------------------------------------------


def run_ns_serve(run: Run) -> None:
    import ns_serve as nsw
    from adfs_spark.filesystem import FileSystemStore

    model = nsw.build_model(run.sf_dir, run.args.seed)
    fs = FileSystemStore.create_at(run.spark, os.path.join(run.work, "ns"))
    nsw.load_engine(run.spark, fs, model)
    gen = nsw.Generator(model, run.args.seed)
    ex = nsw.Executor(fs)
    roots = [t.root for t in ex.tables()]
    before = tree_files(roots) if run.tracer else {}

    def deck():
        ops = gen.deck()
        run.issued.extend(ops)
        return [
            (op["verb"], lambda op=op: ex.run(op), lambda got, op=op: nsw.matches(op, got))
            for op in ops
        ]

    run.measure(deck)
    timed_s = sum(t for _, t in run.lat)
    run.check(ex.digest() == model.digest(), "final namespace digest")
    rows = sum(nsw.rows_written(op) for op in run.issued)
    run.summary["rows_written_per_s"] = rows / timed_s
    if run.tracer:
        after = tree_files(roots)
        new = [p for p, v in after.items() if before.get(p) != v]
        stored = sum(size for size, _ in after.values())
        live = 0
        for i, t in enumerate(ex.tables()):
            dest = os.path.join(run.work, "live", str(i))
            t.live().write.parquet(dest)
            live += sum(size for size, _ in tree_files([dest]).values())
        run.extra.update({
            "storage.bytes_written_per_row": sum(after[p][0] for p in new) / max(rows, 1),
            "storage.files_written": len(new),
            "storage.rows_written_per_s": rows / timed_s,
            "storage.stored_bytes_per_live_byte": stored / live,
        })
        run.summary["stored_bytes_per_live_byte"] = stored / live


def run_analytics_suite(run: Run) -> None:
    import analytics
    import fixtures
    from adfs_spark.queries import QUERIES, release_cached

    # check pass: collect every query and compare it with its oracle.
    # It is also the JVM's warm-up: a cold pass varies too much from run
    # to run to be timed.
    oracle = analytics.Oracle(run.sf_dir, fixtures.TABLES)
    try:
        for name in analytics.QUERIES:
            fn, sql = QUERIES[name]
            try:
                df = fn(run.spark, run.sf_dir)
                ok = sql is None or oracle.agrees(sql, df.collect(), df.columns)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            run.check(ok, f"{name} against its DuckDB oracle")
    finally:
        oracle.close()

    def deck():
        release_cached()
        run.issued.extend({"query": n} for n in analytics.QUERIES)
        return [_query_op(run, QUERIES[name][0], name) for name in analytics.QUERIES]

    run.measure(deck)
    release_cached()


def _query_op(run: Run, fn, name: str):
    """One query as an op: build its DataFrame, run it to the noop sink."""

    def op():
        t0 = time.perf_counter()
        df = fn(run.spark, run.sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        run.parts.append((f"{name}.build", t1 - t0))
        run.parts.append((f"{name}.execute", time.perf_counter() - t1))

    return name, op, lambda _: True


RUNNERS = {"ns_serve": run_ns_serve, "analytics_suite": run_analytics_suite}


# -- entry point ---------------------------------------------------------------


def configure_env(root: str, work: str, cpus: int) -> None:
    """Pin the load to the machine and keep every file in the checkout.
    Must run before pyspark or the engine is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_COMMIT_BACKEND": "local",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    if root not in sys.path:
        sys.path.insert(0, root)


def main(argv: list[str]) -> int:
    started = process_start()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "adfs_spark", "__init__.py")):
        print("perfbench: run from the root of an adfs_spark checkout", file=sys.stderr)
        return 2
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(root, work, cpus)

    import fixtures

    run = Run(args, work)
    try:
        fixtures.generate(run.sf_dir, args.seed, SF)
        run.start()
        RUNNERS[args.workload](run)
        setup_s = run.first_op - started
        rss = peak_rss_mb([os.getpid(), run.jvm_pid()])
        import pyspark

        conf = run.spark.conf
        config = {
            "cpus": cpus,
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "jdk": run.spark.sparkContext._jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "fixture_sf": SF,
            "tail_percentile": TAIL_PCT,
        }
        metrics = run.per_layer() if run.tracer else run.end_to_end(setup_s, rss)
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "config": config,
        "op_list_sha256": op_hash(run.issued),
        "ops": len(run.lat),
        "op_ms": {
            k: round(statistics.median([t for kk, t in run.lat if kk == k]) * 1e3, 1)
            for k in dict.fromkeys(k for k, _ in run.lat)
        },
        "failed_ratio": run.failed / run.attempted,
        **run.summary,
    }
    print("perfbench summary: " + json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
