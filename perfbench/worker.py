"""The measuring process of one benchmark run: cold set-up, input
generation, an untimed warm-up iteration whose outputs are checked, then
timed iterations until `--seconds` have passed. Writes its results as
JSON to `--out`. Started by `run.py`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from collections import Counter
from pathlib import Path
from types import SimpleNamespace

# run as a script, so its own directory is on sys.path
from procs import TreeCpu, steal_s

T_START, STEAL_START = time.monotonic(), steal_s()

HERE = Path(__file__).resolve().parent


def setup(root: Path, traced: bool):
    """Fresh process -> registry.load_all + session.get_spark (which
    includes deploy.ensure_workers_can_import). Returns the session and
    the set-up spans."""
    sys.path.insert(0, str(root))
    t0 = time.monotonic()
    from skills_vectors_spark import registry

    registry.load_all()
    t1 = time.monotonic()
    spans = {}
    if traced:
        from skills_vectors_spark import deploy

        ship = deploy.ensure_workers_can_import

        def timed_ship(spark):
            s = time.perf_counter()
            ship(spark)
            spans["deploy.ship_s"] = time.perf_counter() - s

        deploy.ensure_workers_can_import = timed_ship
    from skills_vectors_spark.session import get_spark

    spark = get_spark("perfbench")
    t2 = time.monotonic()
    cpu, jit = TreeCpu(os.getpid()).read()
    spark.sparkContext.setLogLevel("ERROR")
    spans.update(
        {
            "setup_wall_s": t2 - T_START,
            "setup_end": t2,
            "setup_cpu_s": cpu,
            "setup_jit_s": jit,
            "setup_steal_s": steal_s() - STEAL_START,
            "registry.load_all_s": t1 - t0,
            "session.get_spark_s": t2 - t1,
        }
    )
    return spark, spans


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(wl, timed) -> dict:
    """Figures of the timed iterations: the CPU ones the benchmark gates
    on, and their wall-clock counterparts. Per-op figures are first
    reduced to one median per op name, so every op counts once whatever
    the number of iterations."""
    latency: dict[str, list[float]] = {}
    for it in timed:
        for o in it.ops:
            latency.setdefault(o.name, []).append(o.latency_s)

    def med(f) -> float:
        return statistics.median(f(it) for it in timed)

    work: dict[str, list[float]] = {}
    for it in timed:
        for o in it.ops:
            work.setdefault(o.name, []).append(o.work_s)

    def items(it, cost) -> float:
        return wl.items() / sum(cost(o) for o in it.ops if o.name in wl.item_ops)

    n = len(timed)
    return {
        "iter_s": med(lambda it: it.latency_s),
        "op_p90_s": percentile([statistics.median(v) for v in latency.values()], 90),
        "items_per_s": med(lambda it: items(it, lambda o: o.latency_s)),
        "iter_cpu_s": med(lambda it: it.work_s),
        "op_p90_cpu_s": percentile([statistics.median(v) for v in work.values()], 90),
        "items_per_cpu_s": med(lambda it: items(it, lambda o: o.work_s)),
        "raw_iter_s": med(lambda it: it.wall_s),
        "raw_iter_cpu_s": med(lambda it: it.cpu_s),
        "jit_cpu_s": med(lambda it: it.jit_s),
        "steal_s": med(lambda it: it.steal_s),
        "slowdown": med(lambda it: it.slowdown),
        "iterations": [(it.wall_s, it.cpu_s, it.jit_s, it.steal_s, it.slowdown) for it in timed],
        "samples": {"iter": n, "op": len(latency), "items": n},
    }


def per_layer(traced, e2e, setup_spans) -> dict:
    """Per-iteration means of every layer counter over the traced
    iterations (op times at the reference host speed), and the CPU,
    raw wall-clock and host figures of the untraced ones (`e2e`)."""
    n = len(traced)
    sums = Counter()
    cache_peak = Counter()
    for it in traced:
        it_cache = Counter()
        for o in it.ops:
            sums[f"{o.layer}.build_s"] += o.normalized(o.build_s)
            sums[f"{o.layer}.exec_s"] += o.normalized(o.exec_s)
            sums.update(o.counters)
            for k, v in o.cache.items():
                it_cache[k] = max(it_cache[k], v)
        cache_peak.update(it_cache)
    out = {k: v / n for k, v in sums.items()}
    for k, v in cache_peak.items():
        out[k] = v / n
    wall = sums["spark.exec_wall_s"]
    out["spark.core_util"] = sums["spark.exec_run_s"] / (wall * setup_spans["cores"]) if wall else 0.0
    for k in ("registry.load_all_s", "session.get_spark_s", "deploy.ship_s"):
        out[k] = setup_spans.get(k, 0.0)
    for k in (
        "op_p90_s", "items_per_s", "op_p90_cpu_s", "items_per_cpu_s",
        "raw_iter_s", "raw_iter_cpu_s", "jit_cpu_s", "steal_s", "slowdown",
    ):
        out[f"run.{k}"] = e2e[k]
    traced_s = statistics.median(it.latency_s for it in traced)
    out["trace.iter_s"] = traced_s
    out["trace.overhead_s"] = traced_s - e2e["iter_s"]
    return out


def op_table(iters) -> list[dict]:
    """Per-op rows of the traced iterations, for the report."""
    rows = []
    for i, it in enumerate(iters):
        for o in it.ops:
            row = {"iteration": i, "op": o.name, "layer": o.layer, "build_s": o.build_s, "exec_s": o.exec_s}
            row.update(o.counters or {})
            row.update(o.cache or {})
            rows.append(row)
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", type=Path, required=True)
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", type=Path, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--scale", required=True)
    ap.add_argument("--speed", type=Path, required=True)
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    spark, spans = setup(a.root, bool(a.trace))
    spans["cores"] = spark.sparkContext.defaultParallelism
    result = {"setup": spans}
    try:
        result.update(run_workload(spark, spans, a))
    finally:
        spark.stop()
    a.out.write_text(json.dumps(result))
    return 0


def run_workload(spark, spans, a) -> dict:
    sys.path.insert(0, str(HERE.parent))
    from perfbench.speed import Speed
    from perfbench.tracing import Collector
    from perfbench.workloads import WORKLOADS, Runner, normalized_wall

    phases = {}
    t = time.perf_counter()
    wl = WORKLOADS[a.workload](a.root, a.data, a.seed, a.scale)
    wl.generate()
    wl.prepare(spark)
    phases["inputs"] = time.perf_counter() - t
    speed = Speed(a.speed)
    speed.load()
    setup = SimpleNamespace(
        cpu_s=spans["setup_cpu_s"],
        jit_s=spans["setup_jit_s"],
        steal_s=spans["setup_steal_s"],
        slowdown=speed.slowdown(spans["setup_end"] - spans["setup_wall_s"], spans["setup_end"]),
    )
    spans["setup_s"] = normalized_wall(spans["setup_wall_s"], setup)
    runner = Runner(speed, Collector(spark) if a.trace else None)
    attempted = failed = 0
    problems: list[str] = []

    def run(traced, warmup):
        nonlocal attempted, failed
        n0 = len(problems)
        try:
            it = runner.run(wl, traced, warmup)
        except Exception as e:  # an op or a check raised: count it, stop the run
            traceback.print_exc()
            attempted += len(runner.iteration.ops) + 1
            failed += 1
            problems.append(f"op raised {type(e).__name__}: {str(e)[:300]}")
            raise
        attempted += len(it.ops)
        problems.extend(wl.check(it.outputs, corrupt=a.corrupt and warmup))
        failed += min(len(problems) - n0, len(it.ops))
        return it

    try:
        t = time.perf_counter()
        run(False, True)
        phases["warmup"] = time.perf_counter() - t
        timed, traced = [], []
        t0 = time.perf_counter()
        # whole iterations until --seconds have passed; a traced run
        # alternates untraced and traced iterations, so the difference
        # between the two medians is the tracing overhead
        while True:
            timed.append(run(False, False))
            if a.trace:
                traced.append(run(True, False))
            if time.perf_counter() - t0 >= a.seconds:
                break
        phases["measure"] = time.perf_counter() - t0
        quality = wl.quality(timed[-1].outputs)
    except Exception:
        return {"attempted": max(attempted, 1), "failed": max(failed, 1), "problems": problems}
    out = {"attempted": attempted, "failed": failed, "problems": problems, "quality": quality, "phases": phases}
    out["end_to_end"] = end_to_end(wl, timed)
    if a.trace:
        out["per_layer"] = per_layer(traced, out["end_to_end"], spans)
        out["ops"] = op_table(traced)
    return out


if __name__ == "__main__":
    sys.exit(main())
