"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric", "value", "unit", "queries", "sf"}.

Each query executes fully via the noop sink (no result serialization
to Python — measures the engine, not the driver pickle path).

Isolation protocol (round-over-round adjudication): suite-mode
numbers move with SUITE composition — a growing query set raises
executor cache pressure and GC on every member, so a +x% drift on
one query between rounds cannot distinguish "this query regressed"
from "the suite around it grew" (the r4 lesson: a +14% 43-query
overlap drift with zero plan changes). One such pressure was the
codegen class cache: while a suite generated more classes than Spark's
default 100-entry cache holds, every member recompiled its classes on
every pass; session.get_spark now sizes the cache to the full suite.
`bench.py --isolate q1 q2 ...`
answers that: each named query runs in its OWN fresh process/JVM
(warmup + min-of-3), immune to suite composition by construction.
Compare isolated numbers across rounds to adjudicate; suite mode
remains the headline (it measures the amortized production mix).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from skills_vectors_spark import registry
from skills_vectors_spark.session import get_spark

registry.load_all()

HEADLINE = [
    "knn_exact",
    "knn_exact_l2",
    "ann_lsh",
    "ann_ivf",
    "ann_ivf_pq",
    "eval_recall",
    "report_pivot",
    "embed_knn_pipeline",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_embed_cosine_blas",
    "dedup_decontaminate",
    "sim_topk_bruteforce",
    "text_stats",
    "lang_id",
    "quality_score",
    "agg_hash",
    "agg_rollup",
    "join_inner_hash",
    "join_cross_topk",
    "win_rank_topk",
    "win_running",
    "sort_limit",
    "join_asof",
    "agg_percentile",
    "grouped_zscore",
    "join_skew_salted",
    "rollup_hypertable",
    "dedup_clusters",
    "stream_tumbling",
    "stream_session",
    "stream_stateful",
    "join_range_binned",
    "sessionize_batch",
    "agg_hll_sketch",
    "quality_filter_apply",
    "text_tfidf_sim",
    "text_bm25_search",
    "search_hybrid_rrf",
    "knn_filtered",
    "dedup_containment",
    "quality_repetition",
    "scrub_pii",
    "mix_temperature",
    "dedup_incremental",
    "dedup_substring",
    "text_normalize",
    "dedup_url",
    "scd2_history",
    "graph_pagerank",
    "agg_heavy_hitters",
    "dedup_normalized",
    "stream_cms_counters",
    "join_bloom_prefilter",
    "scan_binaryfile",
    "stream_transform_state",
    "stream_transform_topk",
    "stream_transform_typecounts",
    "retention_cohorts",
    "seq_transitions",
    "ts_gapfill",
    "quality_entropy",
    "eval_ndcg_mrr",
    "quality_drift_psi",
    "text_pmi_bigrams",
    "anomaly_mad",
    "scan_merge_schema",
    "stream_drift_psi",
    "sink_merge_rows",
    "eval_ab_lift",
    "stream_sink_files",
    "agg_corr_matrix",
    # r7 wave
    "stream_late_metrics",
    "ts_ewma",
    "agg_moments",
    "agg_gini",
    "text_zipf_slope",
    "mix_epochs",
    "text_ngram_novelty",
    "agg_winsorized_mean",
]


def _extras() -> dict:
    """Sketch-only production variants benched alongside the
    registered exact forms, plus the raw ANN top-k operators (their
    registered rows became r13 gate summaries, which add the exact
    gold computation — these rows keep the pure operator wall
    visible)."""
    from skills_vectors_spark.operators import ann
    from skills_vectors_spark.operators.analytics import anomaly_mad_production
    from skills_vectors_spark.operators.dedup import dedup_ngram_jaccard_production
    from skills_vectors_spark.operators.relational2 import (
        agg_gini_distributed,
        approx_percentile_production,
    )
    from skills_vectors_spark.operators.scale2 import hll_sketch_production

    return {
        "approx_percentile_production": approx_percentile_production,
        "hll_sketch_production": hll_sketch_production,
        "dedup_ngram_jaccard_production": dedup_ngram_jaccard_production,
        "anomaly_mad_production": anomaly_mad_production,
        "agg_gini_distributed": agg_gini_distributed,
        "ann_lsh_topk": ann.ann_lsh,
        "ann_ivf_topk": ann.ann_ivf,
        "ann_ivf_pq_topk": ann.ann_ivf_pq,
    }


def _sf_value(sf_dir: str):
    sf = Path(sf_dir).name.replace("sf", "")
    return float(sf) if sf.replace(".", "").isdigit() else sf


def run_isolated(names: list[str]) -> None:
    """One fresh process (and so one fresh JVM) per query: warmup +
    min-of-3 steady state, unaffected by any other query's cached
    blocks, shuffle files, or GC debt."""
    import subprocess

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    timings: dict[str, float] = {}
    for name in names:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True,
            text=True,
        )
        lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
        if not lines:
            raise RuntimeError(f"isolated run of {name} failed:\n{r.stderr[-2000:]}")
        timings[name] = json.loads(lines[-1])["queries"][name]
    print(
        json.dumps(
            {
                "metric": "isolated_queries_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": _sf_value(sf_dir),
            }
        )
    )


def run_one(name: str) -> None:
    """Child of --isolate: measure ONE query in this fresh process."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_isolated")
    spark.sparkContext.setLogLevel("ERROR")
    from skills_vectors_spark import cache

    fn = _extras().get(name) or registry.QUERIES[name]
    best = None
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warmup
    for _ in range(3):
        cache.clear()
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        best = dt if best is None else min(best, dt)
    print(
        json.dumps(
            {
                "metric": "isolated_query_wall",
                "value": best,
                "unit": "sec",
                "queries": {name: best},
                "sf": _sf_value(sf_dir),
            }
        )
    )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--isolate":
        run_isolated(sys.argv[2:] or HEADLINE)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--one":
        run_one(sys.argv[2])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM, codegen, and shuffle machinery with one tiny
    # join+window+agg on the smallest tables so the first timed query
    # measures the engine, not cold-start compilation
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .withColumn("rn", F.row_number().over(Window.partitionBy("r_regionkey").orderBy("n_name")))
        .groupBy("r_regionkey")
        .agg(F.count("*"), F.avg("rn"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # two passes, min per query: steady-state engine time, not
    # GC/compilation/host-contention outliers. The session-scoped
    # subtree cache is CLEARED at each pass start so every pass
    # computes the shared pipelines at least once — within a pass
    # later consumers read the persisted stage (the production
    # amortization), but a cached full result from a previous pass
    # never masquerades as query execution.
    from skills_vectors_spark import cache

    # sketch-only production variants: the constant-memory forms the
    # exact+gate registered queries trade into at 100 TB. Benched
    # alongside so the production path has its own wall-clock row.
    extras = _extras()

    timings: dict[str, float] = {}
    for _ in range(2):
        cache.clear()
        for name in HEADLINE:
            fn = registry.QUERIES[name]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
        for name, fn in extras.items():
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)

    _print_report(timings, sf_dir)


# Session-cache cost-shift families (r13 verdict item 5): members
# share persisted subtrees (exact-gold KNN, shingle index, pair
# intersections, minhash candidates), so whichever member runs first
# pays the materialization — per-row numbers inside a family are not
# individually meaningful round-over-round, family subtotals are.
FAMILIES = {
    "knn_gold": [
        "knn_exact",
        "knn_exact_l2",
        "ann_lsh",
        "ann_ivf",
        "ann_ivf_pq",
        "eval_recall",
        "report_pivot",
        "embed_knn_pipeline",
    ],
    "shingle_dedup": [
        "dedup_ngram_jaccard",
        "dedup_ngram_jaccard_production",
        "dedup_containment",
        "dedup_minhash",
        "dedup_incremental",
        "dedup_clusters",
        "dedup_decontaminate",
    ],
    "text_index": [
        "text_tfidf_sim",
        "text_bm25_search",
        "search_hybrid_rrf",
        "eval_ndcg_mrr",
    ],
}


def _print_report(timings: dict[str, float], sf_dir: str) -> None:
    """Emit the bench report: a SHORT summary line first (r13 verdict
    item 2 — the r12 full line was truncated out of the driver's tail
    capture, killing the round-over-round comparison; a short line
    carrying the headline total cannot be), then family subtotals for
    the cache-sharing families (audit aid, same rationale), then the
    FULL per-query line LAST — byte-compatible with every prior
    round's format, nothing removed or renamed."""
    total = round(sum(timings.values()), 3)
    sf = _sf_value(sf_dir)
    print(
        json.dumps(
            {
                "metric": "headline_total_summary",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "family_subtotals",
                "unit": "sec",
                "families": {
                    fam: round(sum(timings[n] for n in names if n in timings), 3)
                    for fam, names in FAMILIES.items()
                },
                "sf": sf,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
