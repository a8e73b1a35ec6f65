"""Self-tests of the benchmark. Each end-to-end case starts a real Spark
run on tiny inputs (~1 min each on four cores), so run them apart from
the repository's test suite:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from speed import REF_BURST_S, Speed  # noqa: E402
from tracing import parse_metric  # noqa: E402
from workloads import normalized_wall  # noqa: E402


def _bench(*args: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    r = subprocess.run(
        [sys.executable, str(HERE / "run.py"), *args], cwd=cwd, capture_output=True, text=True, timeout=300
    )
    return r.returncode, r.stdout.strip().splitlines()


def test_benchmark_json_matches_the_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in spec["per_layer"])


@pytest.mark.parametrize(
    "text,value",
    [
        ("1.6 s", 1.6),
        ("354 ms", 0.354),
        ("100,000", 100000),
        ("total (min, med, max (stageId: taskId))\n2.1 KiB (527.0 B, 527.0 B, 527.0 B (stage 0.0: task 3))", 2150.4),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_slowdown_is_the_median_burst_around_an_interval(tmp_path):
    log = tmp_path / "speed.log"
    log.write_text("".join(f"{t} {b * REF_BURST_S}\n" for t, b in [(0.0, 9), (1.0, 1), (1.1, 2), (1.2, 3), (3.0, 9)]))
    speed = Speed(log)
    speed.load()
    assert speed.slowdown(1.05, 1.1) == pytest.approx(2.0)
    with pytest.raises(RuntimeError):
        speed.slowdown(10.0, 11.0)


def test_normalized_wall_takes_out_steal_and_slowdown():
    # 8 s of CPU were served and 2 s stolen: the program ran 80% of the
    # 10 s, at half the reference speed
    r = SimpleNamespace(cpu_s=6.0, jit_s=2.0, steal_s=2.0, slowdown=2.0)
    assert normalized_wall(10.0, r) == pytest.approx(4.0)


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    code, lines = _bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace, "--scale", "tiny")
    assert code == 0, lines
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = run.END_TO_END if trace == "0" else {n: run.layer_unit(n) for n in run.PER_LAYER}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_corrupted_result_trips_the_check(workload):
    code, lines = _bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0", "--scale", "tiny", "--corrupt")
    assert code != 0
    res = json.loads(lines[-1])
    assert res["correct"] is False and res["failed"] >= 1
    assert any("CHECK FAILED" in line for line in lines)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""
