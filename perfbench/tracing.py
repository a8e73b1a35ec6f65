"""Per-op counters read from Spark's own status stores.

Each op call runs under two job groups, `<span>:build` (the Python call
that returns a DataFrame) and `<span>:exec` (the action). After the op,
the collector drains the listener bus and reads:

* `AppStatusStore` (`sc._jsc.sc().statusStore()`): jobs of each group,
  then each job's stages — task count, executor run/CPU time, input,
  shuffle and spill bytes;
* `SQLAppStatusStore` (`sharedState().statusStore()`): the plan graph
  and metric values of every SQL execution started during the op —
  the Python-worker nodes (MapInPandas, ArrowEvalPython,
  FlatMapGroupsInPandas, ...) and broadcast "time to collect";
* `getRDDStorageInfo`: persisted RDDs and their memory/disk bytes.

Both stores answer with `spark.ui.enabled=false`. Nothing here runs in
an untraced run.
"""

from __future__ import annotations

import json
import re
from collections import Counter

# SQL metric names of PythonSQLMetrics (every Python-evaluating node)
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_BOOT = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_ROWS = "number of output rows"

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric: plain (`1.6 s`, `100,000`) or
    task-aggregated (`total (min, med, max ...)\\n1.1 s (...)`, where the
    total is the first figure of the second line). Bytes come back as
    bytes, times as seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Collector:
    """Reads the counters of one op from the status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._next_execution = 0
        # a plan that reads a persisted DataFrame embeds the cached plan,
        # with its accumulators, in its own graph: count each once
        self._counted: set[str] = set()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def _last_execution(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def start_op(self) -> None:
        """Mark every SQL execution so far as seen: the next
        `op_counters` call reads only executions the op started."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._next_execution = self._last_execution() + 1

    def _stages(self, group: str) -> tuple[int, dict[int, dict]]:
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = {}
        for s in stage_ids:
            try:
                stages[s] = self._json(self._store.lastStageAttempt(s))
            except Exception:  # evicted or never submitted (skipped)
                continue
        return len(job_ids), stages

    def _sql_metrics(self) -> Counter:
        """Python-boundary and broadcast metrics of every SQL execution
        started since the previous call."""
        out = Counter()
        last = self._last_execution()
        first, self._next_execution = self._next_execution, last + 1
        for eid in range(first, last + 1):
            if self._sql.execution(eid).isEmpty():
                continue
            values = self._json(self._sql.executionMetrics(eid))
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                ms = node.metrics()
                named = {ms.apply(k).name(): str(ms.apply(k).accumulatorId()) for k in range(ms.size())}
                named = {k: v for k, v in named.items() if v in values and v not in self._counted}
                self._counted.update(named.values())
                if _PY_SENT in named:
                    out["pyworker.nodes"] += 1
                    for key, metric in (
                        ("pyworker.init_s", _PY_BOOT),
                        ("pyworker.init_s", _PY_INIT),
                        ("pyworker.bytes_sent", _PY_SENT),
                        ("pyworker.bytes_returned", _PY_RETURNED),
                        ("pyworker.rows_out", _ROWS),
                    ):
                        if metric in named:
                            out[key] += parse_metric(values[named[metric]])
                if "time to collect" in named:
                    out["spark.broadcast_collect_s"] += parse_metric(values[named["time to collect"]])
        return out

    def _cache(self) -> Counter:
        infos = self._jsc.getRDDStorageInfo()
        out = Counter(
            {
                "cache.persisted_rdds": self._sc._jsc.getPersistentRDDs().size(),
                "cache.mem_bytes": 0,
                "cache.disk_bytes": 0,
            }
        )
        for i in range(len(infos)):
            out["cache.mem_bytes"] += infos[i].memSize()
            out["cache.disk_bytes"] += infos[i].diskSize()
        return out

    def op_counters(self, span: str, exec_wall_s: float) -> tuple[Counter, Counter]:
        """Counters of the op whose groups are `<span>:build` and
        `<span>:exec`, and the cache state after it."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = Counter()
        n_build_jobs, build_stages = self._stages(f"{span}:build")
        n_exec_jobs, exec_stages = self._stages(f"{span}:exec")
        out["driver.eager_jobs"] = n_build_jobs
        out["spark.jobs"] = n_build_jobs + n_exec_jobs
        exec_run_s = 0.0
        for stages, is_exec in ((build_stages, False), (exec_stages, True)):
            for st in stages.values():
                if st.get("status") == "SKIPPED":
                    continue
                run_s = st["executorRunTime"] / 1e3
                out["spark.stages"] += 1
                out["spark.tasks"] += st["numCompleteTasks"]
                out["spark.executor_run_s"] += run_s
                out["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                out["spark.input_bytes"] += st["inputBytes"]
                out["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
                out["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                out["spark.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                if is_exec:
                    exec_run_s += run_s
        out["spark.exec_run_s"] = exec_run_s
        out["spark.exec_wall_s"] = exec_wall_s
        out.update(self._sql_metrics())
        # cache state is a level, not a flow: kept apart from the sums
        return out, self._cache()
