import importlib.util
import sys
from pathlib import Path


def _load_entry():
    path = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_entry_contract(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    assert df.count() > 0

    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert qs, "queries() must not be empty"
    for name in oracles:
        assert name in qs, f"oracle {name} has no query"


def test_sweep_window_prioritizes_least_attested():
    """Bounded front-to-back sweeps read the first 50 registered
    queries; that window must hold the least-attested-on-current-code
    surface. Round-14 rotation (the r13 verdict's item 3): the r13
    optimizer-touched rows the r13 window never graded, the r13
    queue's plan-only rows, this round's touched rows (minhash
    caches, the shared-ANN family, the TWS retry path, the
    cost-shift family heads), and the r13 re-plans keeping slots."""
    from skills_vectors_spark import registry

    registry.load_all()
    window = list(registry.QUERIES)[:50]
    assert window == registry._PROMOTED
    for must in (
        # r13 optimizer-touched rows the r13 window never graded
        # (the r13 verdict's item 3 names them)
        ["anomaly_mad", "join_cross_topk", "graph_pagerank",
         "report_pivot", "eval_recall", "knn_exact", "knn_exact_l2",
         "eval_avgsim", "ts_gapfill", "text_ngram_novelty"]
        # the r13 rotation queue's plan-only rows
        + ["text_bm25_search", "search_hybrid_rrf",
           "quality_perplexity", "quality_entropy", "text_zipf_slope",
           "text_pmi_bigrams", "agg_winsorized_mean",
           "agg_approx_percentile", "eval_recall_lsh", "scan_npy"]
        # r14-touched: minhash caches, the shared-ANN family, the
        # cost-shift family heads
        + ["dedup_minhash", "ann_lsh", "ann_ivf", "ann_pq",
           "ann_ivf_pq", "eval_backend_compare", "eval_dedup_compare",
           "dedup_ngram_jaccard", "dedup_containment",
           "text_tfidf_sim", "eval_ndcg_mrr", "embed_knn_pipeline"]
        # TWS trio (run_to_completion retry path this round)
        + ["stream_transform_state", "stream_transform_topk",
           "stream_transform_typecounts"]
        # r13 re-plans keeping their slots
        + ["join_bloom_prefilter", "dedup_substring", "agg_percentile",
           "sim_topk_bruteforce"]
    ):
        assert must in window, f"{must} fell out of the 50-query sweep window"
