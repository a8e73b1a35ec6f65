"""The workloads: their op sequences and their correctness checks.

An op is one call into the package, timed from outside in two parts:
`build` (the Python call that returns a DataFrame, including any jobs
it fires eagerly) and `execute` (the action: a noop sink or a collect).
Each op and each iteration also records the CPU time the whole process
tree (Python driver, JVM, Python workers) used meanwhile, with JIT
compiler threads apart (`procs.TreeCpu`), and the host's slowdown over
its interval (`speed.Speed`).
Each workload runs closed-loop from one client: the next op starts when
the previous one has returned.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from perfbench import inputs
from perfbench.procs import TreeCpu, steal_s

# Input sizes per scale. `full` is what the benchmark measures; `tiny`
# only exercises every code path (self-tests).
# vector_search: `batches` are the query batches of a timed iteration;
# the warm-up iteration searches one smaller batch of `warmup_batch`
# queries, enough to compile and JIT the same plans.
SIZES = {
    "full": {
        "vector_search": {"n_vectors": 3000, "dim": 64, "n_clusters": 10, "batches": [32], "warmup_batch": 8},
        "query_mix": {"n_docs": 400, "n_vecs": 500, "n_events": 20000},
    },
    "tiny": {
        "vector_search": {"n_vectors": 300, "dim": 64, "n_clusters": 4, "batches": [8], "warmup_batch": 4},
        "query_mix": {"n_docs": 100, "n_vecs": 100, "n_events": 2000},
    },
}

# query_mix rows: one registered row per operator module (the cheapest
# bench.py row, or the one the ROADMAP names; fn_cosine for
# functions_suite, which bench.py does not run), so a run of set-up,
# warm-up pass and timed pass stays near a minute on four cores.
# Dropped from bench.py's 82 rows for cost: graph_pagerank (~12 s a
# row), the transformWithState trio, dedup_minhash and the other rows of
# each module. The knn and ann modules have no row here: vector_search
# runs their code through pipeline.search_exact, build_index and search,
# and knn_exact + ann_ivf cost ~16 s of a run. The embed module is
# measured through pipeline.embed.
QUERY_MIX = [
    "dedup_exact",
    "dedup_embed_cosine_blas",
    "text_stats",
    "sort_limit",
    "grouped_zscore",
    "rollup_hypertable",
    "join_range_binned",
    "dedup_url",
    "stream_tumbling",
    "quality_entropy",
    "anomaly_mad",
    "text_zipf_slope",
    "mix_epochs",
    "fn_cosine",
]
# corpus-preparation stages of the pipeline facade, run on the mix's
# documents table alongside the registered rows
PIPELINE_OPS = ["prepare_corpus", "embed"]


def layer_of(fn) -> str:
    """Operator-module layer name of a registered query function."""
    return fn.__module__.removeprefix("skills_vectors_spark.").removeprefix("operators.")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def collect(df):
    return df.toPandas()


def persist_collect(df):
    df = df.persist()
    return df, df.toPandas()


@dataclass
class OpRecord:
    name: str
    layer: str
    build_s: float
    exec_s: float
    cpu_s: float
    jit_s: float
    steal_s: float
    start: float
    end: float
    slowdown: float = 1.0
    counters: Counter | None = None
    cache: Counter | None = None

    @property
    def latency_s(self) -> float:
        """Build + execute time at the reference host speed, without steal."""
        return normalized_wall(self.build_s + self.exec_s, self)

    def normalized(self, wall_s: float) -> float:
        return normalized_wall(wall_s, self)

    @property
    def work_s(self) -> float:
        """CPU time at the reference host speed."""
        return self.cpu_s / self.slowdown


@dataclass
class Iteration:
    wall_s: float = 0.0
    cpu_s: float = 0.0
    jit_s: float = 0.0
    steal_s: float = 0.0
    slowdown: float = 1.0
    ops: list[OpRecord] = field(default_factory=list)
    outputs: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return normalized_wall(self.wall_s, self)

    @property
    def work_s(self) -> float:
        return self.cpu_s / self.slowdown


def normalized_wall(wall_s: float, r) -> float:
    """Wall time at the reference host speed, without steal: the share of
    the tree's CPU demand the hypervisor served (CPU / (CPU + steal)) is
    the share of the wall time the program ran, which then ran
    `r.slowdown` times slower than at the reference speed."""
    used = r.cpu_s + r.jit_s
    return wall_s * used / (used + r.steal_s) / r.slowdown if used > 0 else wall_s / r.slowdown


class Runner:
    """Times each op call; with a collector, also reads its counters."""

    def __init__(self, speed, collector=None):
        self.speed = speed
        self.collector = collector
        self.seq = 0
        self.iteration: Iteration | None = None
        self.cpu = TreeCpu(os.getpid())

    def op(self, name: str, layer: str, build, execute):
        span = f"pb{self.seq}:{name}"
        self.seq += 1
        c = self.collector
        if c:
            c.start_op()
            c.set_group(f"{span}:build")
        (cpu0, jit0), steal0 = self.cpu.read(), steal_s()
        t0 = time.monotonic()
        df = build()
        t1 = time.monotonic()
        if c:
            c.set_group(f"{span}:exec")
        out = execute(df)
        t2 = time.monotonic()
        cpu1, jit1 = self.cpu.read()
        rec = OpRecord(name, layer, t1 - t0, t2 - t1, cpu1 - cpu0, jit1 - jit0, steal_s() - steal0, t0, t2)
        if c:
            rec.counters, rec.cache = c.op_counters(span, t2 - t1)
            c.set_group("perfbench")
        self.iteration.ops.append(rec)
        return out

    def run(self, workload, traced: bool, warmup: bool) -> Iteration:
        saved = self.collector
        if not traced:
            self.collector = None
        self.iteration = it = Iteration()
        (c0, j0), s0 = self.cpu.read(), steal_s()
        t0 = time.monotonic()
        try:
            it.outputs = workload.iteration(self, warmup)
        finally:
            t1 = time.monotonic()
            it.wall_s = t1 - t0
            c1, j1 = self.cpu.read()
            it.cpu_s, it.jit_s, it.steal_s = c1 - c0, j1 - j0, steal_s() - s0
            self.collector = saved
        self.speed.load()
        it.slowdown = self.speed.slowdown(t0, t1)
        for o in it.ops:
            o.slowdown = self.speed.slowdown(o.start, o.end)
        workload.release(it.outputs)
        return it


class Workload:
    name = ""

    def __init__(self, root: Path, data: Path, seed: int, scale: str):
        self.root, self.data, self.seed = root, data, seed
        self.size = SIZES[scale][self.name]

    def generate(self) -> None: ...

    def prepare(self, spark) -> None:
        self.spark = spark

    def iteration(self, run: Runner, warmup: bool) -> dict: ...

    def release(self, outputs: dict) -> None:
        """Drop what an iteration persisted (outside its timed wall)."""

    def check(self, outputs: dict, corrupt: bool = False) -> list[str]: ...

    # ops whose calls answer the workload's items, and the item count
    item_ops: tuple[str, ...] = ()

    def items(self) -> int: ...

    def quality(self, outputs: dict) -> dict[str, float]:
        return {}


# ------------------------------------------------------------------ vectors


class VectorSearch(Workload):
    """Paper stages 2-4 through `pipeline`: index build (IVF and LSH,
    buckets persisted), ANN search per query batch, exact gold, recall
    evaluation of the IVF results and the wide report of the LSH ones.
    Recall of both methods is also recomputed against a brute force."""

    name = "vector_search"

    def generate(self):
        z = self.size
        # batch 0 is the warm-up batch, batches 1.. are searched when timed
        self.batch_sizes = [z["warmup_batch"], *z["batches"]]
        self.arrays = inputs.clustered_vectors(
            self.data, self.seed, z["n_vectors"], z["dim"], z["n_clusters"], self.batch_sizes
        )
        self.gold = [self._gold(b) for b in range(len(self.batch_sizes))]

    def prepare(self, spark):
        super().prepare(spark)
        self.corpus = spark.read.parquet(str(self.data / "corpus.parquet"))
        self.queries = [
            spark.read.parquet(str(self.data / f"queries_{b}.parquet")) for b in range(len(self.batch_sizes))
        ]

    @staticmethod
    def _materialize(index):
        index.buckets = index.buckets.persist()
        index.buckets.count()
        return index

    def iteration(self, run, warmup):
        from skills_vectors_spark import pipeline

        out = {"persisted": [], "exact": [], "ivf": [], "lsh": [], "evaluate": [], "report": []}
        out["batches"] = [0] if warmup else list(range(1, len(self.batch_sizes)))
        indexes = {}
        for method, key in (("ivf", "ivf"), ("hyperplane_lsh", "lsh")):
            indexes[key] = run.op(
                f"build_index_{key}",
                f"pipeline.build_index_{key}",
                lambda m=method: pipeline.build_index(self.corpus, "doc_id", m),
                self._materialize,
            )
            out["persisted"].append(indexes[key].buckets)
        for q in (self.queries[b] for b in out["batches"]):
            res = {}
            for key in ("ivf", "lsh"):
                res[key], pdf = run.op(
                    f"search_{key}",
                    f"pipeline.search_{key}",
                    lambda k=key: pipeline.search(indexes[k], q),
                    persist_collect,
                )
                out[key].append(pdf)
            gold, gold_pdf = run.op(
                "search_exact", "pipeline.search_exact",
                lambda: pipeline.search_exact(self.corpus, q), persist_collect,
            )
            out["exact"].append(gold_pdf)
            out["persisted"] += [res["ivf"], res["lsh"], gold]
            ev = run.op("evaluate", "pipeline.evaluate", lambda: pipeline.evaluate(res["ivf"], gold), collect)
            out["evaluate"].append(ev)
            out["report"].append(
                run.op("report_wide", "pipeline.report_wide", lambda: pipeline.report_wide(res["lsh"]), collect)
            )
        return out

    def release(self, outputs):
        for df in outputs.get("persisted", []):
            df.unpersist()
        outputs.pop("persisted", None)

    def _gold(self, b: int) -> dict[int, list[tuple[float, int]]]:
        """Brute-force cosine neighbours per query over the generated
        arrays, ties by ascending id: {q_id: [(score, c_id)] * 11}; the
        11th bounds the near-tie tolerance."""
        C = self.arrays["corpus"].astype(np.float64)
        Q = self.arrays[f"queries_{b}"].astype(np.float64)
        S = (Q @ C.T) / np.outer(np.linalg.norm(Q, axis=1), np.linalg.norm(C, axis=1))
        gold = {}
        for q, row in zip(self.arrays[f"q_ids_{b}"], S):
            order = np.lexsort((np.arange(len(row)), -row))[:11]
            gold[int(q)] = [(float(row[j]), int(j)) for j in order]
        return gold

    def _recalls(self, outputs) -> dict[str, float]:
        """Mean recall@10 of each ANN method against the brute force."""
        out = {}
        for key in ("ivf", "lsh"):
            hits = 0
            for b, pdf in zip(outputs["batches"], outputs[key]):
                for q, ranked in self.gold[b].items():
                    want = {c for _, c in ranked[:10]}
                    hits += len(want & set(pdf.loc[pdf["q_id"] == q, "c_id"]))
            out[f"recall_{key}"] = hits / (10 * sum(len(self.gold[b]) for b in outputs["batches"]))
        return out

    def check(self, outputs, corrupt=False):
        from skills_vectors_spark.operators.ann import RECALL_GATE

        problems = []
        for i, (b, pdf) in enumerate(zip(outputs["batches"], outputs["exact"])):
            if corrupt and i == 0:
                pdf = pdf.copy()
                pdf.loc[pdf.index[0], "c_id"] = -1
            gold = self.gold[b]
            got = {q: g.sort_values("rnk")["c_id"].tolist() for q, g in pdf.groupby("q_id")}
            if set(got) != set(gold):
                problems.append(f"search_exact batch {b}: query ids differ from the generated batch")
                continue
            for q, ranked in gold.items():
                want = [c for _, c in ranked[:10]]
                if got[q] == want:
                    continue
                # accept a different order only inside float near-ties
                scores = {c: s for s, c in ranked}
                tenth = ranked[9][0]
                if len(got[q]) != 10 or any(scores.get(c, -2.0) < tenth - 1e-9 for c in got[q]):
                    problems.append(f"search_exact batch {b} q {q}: top-10 {got[q]} != brute force {want}")
                    break
        recalls = self._recalls(outputs)
        for key, r in recalls.items():
            if r < RECALL_GATE:
                problems.append(f"{key} {r:.3f} < RECALL_GATE {RECALL_GATE}")
        evaluated = float(np.mean([ev["recall"].mean() for ev in outputs["evaluate"]]))
        if abs(evaluated - recalls["recall_ivf"]) > 0.02:
            problems.append(f"evaluate recall {evaluated:.4f} != brute-force recall_ivf {recalls['recall_ivf']:.4f}")
        for b, rep, lsh in zip(outputs["batches"], outputs["report"], outputs["lsh"]):
            top1 = lsh[lsh["rnk"] == 1].set_index("q_id")["c_id"]
            if len(rep) != len(self.gold[b]) or (rep.set_index("q_id")["id0"] != top1).any():
                problems.append(f"report_wide batch {b}: rows or id0 differ from search_lsh rank 1")
        return problems

    item_ops = ("search_ivf", "search_lsh")

    def items(self):
        """Query vectors answered by `pipeline.search`, both indexes."""
        return 2 * sum(self.size["batches"])

    def quality(self, outputs):
        return self._recalls(outputs)


# ---------------------------------------------------------------- query mix


class QueryMix(Workload):
    """Registered query rows and the corpus-preparation pipeline stages,
    one at a time, in a fixed order. A pass clears the session cache
    first, so the first member of each cache family pays the shared
    build. The order is not drawn from the seed: with a shuffled order
    the pass time fell into two modes ~15% apart between seeds."""

    name = "query_mix"

    def generate(self):
        inputs.query_corpus(self.root, self.data, self.seed, **self.size)

    def prepare(self, spark):
        super().prepare(spark)
        self.docs = spark.read.parquet(str(self.data / "documents.parquet"))

    def _op(self, name: str):
        """(layer, build) of one entry of the mix."""
        from skills_vectors_spark import pipeline

        if name in PIPELINE_OPS:
            return f"pipeline.{name}", lambda: getattr(pipeline, name)(self.docs)
        from skills_vectors_spark import registry

        fn = registry.QUERIES[name]
        return layer_of(fn), lambda: fn(self.spark, str(self.data))

    def iteration(self, run, warmup):
        from skills_vectors_spark import cache

        cache.clear()
        out = {}
        for name in PIPELINE_OPS + QUERY_MIX:
            layer, build = self._op(name)
            res = run.op(name, layer, build, collect if warmup else noop)
            if warmup:
                out[name] = res
        return out

    def release(self, outputs):
        from skills_vectors_spark import cache

        cache.clear()

    def check(self, outputs, corrupt=False):
        """Rows with a DuckDB oracle must match it under the repository's
        own compare (tools/verify_oracle.py); the others must be
        non-empty. Only the warm-up pass collects results."""
        if not outputs:
            return []
        import duckdb

        from skills_vectors_spark import registry
        from skills_vectors_spark.sources import TABLES

        compare = inputs.load_tool(self.root, "verify_oracle").compare
        con = duckdb.connect()
        try:
            for t in TABLES:
                if (self.data / f"{t}.parquet").exists():
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
            problems = []
            for i, (name, pdf) in enumerate(sorted(outputs.items())):
                if corrupt and i == 0:
                    pdf = pdf.iloc[1:] if len(pdf) > 1 else pdf.iloc[0:0]
                if name in registry.ORACLES:
                    p = compare(name, pdf, con.execute(registry.ORACLES[name]).df())
                    problems += [f"{name}: {x}" for x in p]
                elif len(pdf) == 0:
                    problems.append(f"{name}: no rows")
            return problems
        finally:
            con.close()

    item_ops = tuple(PIPELINE_OPS + QUERY_MIX)

    def items(self):
        return len(self.item_ops)


WORKLOADS = {w.name: w for w in (VectorSearch, QueryMix)}
