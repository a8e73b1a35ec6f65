"""Workload benchmark for skills_vectors_spark.

    python3 perfbench/run.py --workload <vector_search|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run generates its inputs from the
seed, starts a fresh process on local[<cores>] and calls the package's
public functions from one client, closed-loop. It prints a report, then
as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}` -- the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. It
exits non-zero when any correctness check fails. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from procs import proc_tree, rss_bytes  # noqa: E402

WORKLOADS = ("vector_search", "query_mix")

# The session default (16g) exceeds this host's RAM; every benchmark
# process runs with this driver heap instead.
DRIVER_MEMORY = "2g"
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "iter_s": "s",
    "iter_cpu_s": "s",
}

PIPELINE_STAGES = (
    "build_index_ivf", "build_index_lsh", "search_ivf", "search_lsh", "search_exact",
    "evaluate", "report_wide", "embed", "prepare_corpus",
)
OPERATOR_MODULES = (
    "dedup", "vector_blas", "textstats", "relational", "relational2",
    "scale", "scale2", "scale3", "streaming.windows", "relevance", "analytics",
    "corpus_eval", "corpusprep", "functions_suite",
)
PER_LAYER = (
    ["registry.load_all_s", "session.get_spark_s", "deploy.ship_s"]
    + [f"pipeline.{s}.{p}" for s in PIPELINE_STAGES for p in ("build_s", "exec_s")]
    + [f"{m}.{p}" for m in OPERATOR_MODULES for p in ("build_s", "exec_s")]
    + [
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
        "spark.core_util", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
        "spark.input_bytes", "spark.spill_bytes", "spark.broadcast_collect_s", "driver.eager_jobs",
        "pyworker.init_s", "pyworker.bytes_sent", "pyworker.bytes_returned", "pyworker.rows_out",
        "cache.persisted_rdds", "cache.mem_bytes", "cache.disk_bytes",
        "run.op_p90_s", "run.items_per_s", "run.op_p90_cpu_s", "run.items_per_cpu_s",
        "run.raw_iter_s", "run.raw_iter_cpu_s", "run.jit_cpu_s", "run.steal_s", "run.slowdown",
        "trace.iter_s", "trace.overhead_s", "peak_rss_mb",
    ]
)


def layer_unit(name: str) -> str:
    if name == "peak_rss_mb":
        return "MB"
    if ".items_per_" in name:
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    return "ratio" if name in ("spark.core_util", "run.slowdown") else "count"


# ------------------------------------------------------------- processes


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _reap_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the child's group (driver, JVM, Python
    workers) to end; kill what is left after the grace period."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + 5
        while _group_alive(pgid) and time.monotonic() < end:
            time.sleep(0.1)


def run_child(cmd: list[str], env: dict, timeout_s: float) -> tuple[int, int, str]:
    """Run one benchmark process in its own process group; return its
    exit code, the peak RSS of its whole tree in bytes, and its stderr
    tail."""
    err_path = Path(env["TMPDIR"]) / f"stderr-{time.monotonic_ns()}.log"
    with open(err_path, "wb") as err:
        child = subprocess.Popen(cmd, env=env, stdout=subprocess.DEVNULL, stderr=err, start_new_session=True)
        peak = 0
        done = threading.Event()

        def sample():
            nonlocal peak
            while not done.is_set():
                peak = max(peak, rss_bytes(proc_tree(child.pid)))
                done.wait(0.1)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            code = child.wait(timeout=max(timeout_s, 1))
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            code = child.wait()
        finally:
            done.set()
            sampler.join()
            _reap_group(child.pid)
    return code, peak, err_path.read_text(errors="replace")[-3000:]


# ------------------------------------------------------------------ main


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: a tiny input size, and a deliberately corrupted
    # result that the workload's check must catch
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    a = parse_args(argv)
    t_start = time.monotonic()
    root = Path.cwd()
    needed = ["skills_vectors_spark/__init__.py", "tools/gen_scale.py", "tools/verify_oracle.py"]
    missing = [p for p in needed if not (root / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the repository (missing {', '.join(missing)})", file=sys.stderr)
        return 2

    base = root / ".perfbench"
    work = base / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp, data = work / "tmp", work / "data"
    tmp.mkdir(parents=True, exist_ok=True)
    data.mkdir(exist_ok=True)
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(work / "spark"),
        SPARK_DRIVER_MEM=DRIVER_MEMORY,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        PYTHONDONTWRITEBYTECODE="1",
    )
    out, speed_log = work / "result.json", work / "speed.log"
    cmd = [
        sys.executable, str(HERE / "worker.py"), "--root", str(root), "--out", str(out), "--speed", str(speed_log),
        "--workload", a.workload, "--data", str(data), "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--scale", a.scale,
    ] + (["--corrupt"] if a.corrupt else [])
    probe = subprocess.Popen([sys.executable, str(HERE / "speed.py"), str(speed_log)], env=env)
    try:
        code, peak_rss, err = run_child(cmd, env, DEADLINE_S - (time.monotonic() - t_start))
        if code != 0 or not out.exists():
            print(f"perfbench: workload process failed ({code}):\n{err}", file=sys.stderr)
            return 1
        res = json.loads(out.read_text())
    finally:
        probe.terminate()
        probe.wait()
        shutil.rmtree(work, ignore_errors=True)

    correct = res["failed"] == 0 and "end_to_end" in res
    report(a, res, peak_rss)
    if not correct:
        print(json.dumps({"correct": False, "attempted": res["attempted"], "failed": res["failed"], "metrics": {}}))
        return 1
    if a.trace:
        layers = dict(res["per_layer"], peak_rss_mb=peak_rss / 2**20)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": layer_unit(k)} for k in PER_LAYER}
        trace_file = base / f"trace-{a.workload}-{a.seed}.json"
        trace_file.write_text(json.dumps({"per_layer": layers, "ops": res["ops"]}, indent=1))
    else:
        e2e = dict(res["end_to_end"])
        e2e["setup_s"] = res["setup"]["setup_s"]
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": True, "attempted": res["attempted"], "failed": 0, "metrics": metrics}))
    return 0


def report(a, res, peak_rss) -> None:
    """Human-readable lines before the final JSON line."""
    cores = res["setup"]["cores"]
    print(f"perfbench {a.workload} seed={a.seed} scale={a.scale} trace={a.trace} "
          f"local[{cores}] driver_memory={DRIVER_MEMORY}")
    print(f"  ops attempted {res['attempted']}  failed {res['failed']}")
    print("  phases: " + "  ".join(f"{k} {v:.1f} s" for k, v in res.get("phases", {}).items()))
    for p in res["problems"][:10]:
        print(f"  CHECK FAILED: {p}")
    if "end_to_end" not in res:
        return
    e2e, n = res["end_to_end"], res["end_to_end"]["samples"]
    rows = [
        ("setup_s", res["setup"]["setup_s"], "s", 1),
        ("iter_s", e2e["iter_s"], "s", n["iter"]),
        ("op_p90_s", e2e["op_p90_s"], "s", n["op"]),
        ("items_per_s", e2e["items_per_s"], "1/s", n["items"]),
        ("iter_cpu_s", e2e["iter_cpu_s"], "s", n["iter"]),
        ("op_p90_cpu_s", e2e["op_p90_cpu_s"], "s", n["op"]),
        ("items_per_cpu_s", e2e["items_per_cpu_s"], "1/s", n["items"]),
        ("raw_setup_s", res["setup"]["setup_wall_s"], "s", 1),
    ]
    rows += [(k, e2e[k], "s", n["iter"]) for k in ("raw_iter_s", "raw_iter_cpu_s", "jit_cpu_s", "steal_s")]
    rows.append(("host slowdown", e2e["slowdown"], "ratio", n["iter"]))
    rows.append(("peak_rss_mb", peak_rss / 2**20, "MB", 1))
    rows += [(k, v, "ratio", 1) for k, v in res.get("quality", {}).items()]
    for name, value, unit, count in rows:
        print(f"  {name:<18} {value:>12.4f} {unit:<6} n={count}")
    print("  timed iterations (wall s / raw CPU s / JIT CPU s / steal s / slowdown): "
          + "  ".join("%.2f/%.2f/%.2f/%.2f/%.3f" % tuple(x) for x in e2e["iterations"]))
    if a.trace:
        layers = res["per_layer"]
        print(f"  tracing overhead: traced iteration {layers['trace.iter_s']:.3f} s - "
              f"untraced {e2e['iter_s']:.3f} s = {layers['trace.overhead_s']:+.3f} s")
        for k in PER_LAYER:
            v = layers.get(k, 0.0)
            if v:
                print(f"  {k:<34} {v:>14.4f} {layer_unit(k)}")


if __name__ == "__main__":
    sys.exit(main())
