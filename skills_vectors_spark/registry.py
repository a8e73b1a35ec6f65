"""Query registry: the single source of truth behind the driver
contract (__spark_entry__.py::queries / oracle_sql).

Each operator module registers `name -> callable(spark, sf_dir) ->
DataFrame`, optionally with a DuckDB oracle SQL string. Ops that are
not ANSI-SQL-expressible (LSH, mock embedding, streaming-stateful)
register without an oracle and get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            if "--" in oracle:
                raise ValueError(
                    f"oracle for {name!r} contains a '--' SQL comment; whitespace "
                    "collapsing would comment out the rest of the statement"
                )
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


# Round-14 window (the r13 verdict's item 3, executed): the driver
# must formally grade (1) every query the r13/r14 OPTIMIZER touched
# that sat outside the r13 graded sample — the verdict's named list —
# (2) the r13 rotation queue's plan-only rows, and (3) this round's
# own touched queries. All 189 remain value-verified on final code
# by the full driver simulation; the window picks which 50 the
# driver formally grades:
# (a) r13 optimizer-touched, outside the r13 window (verdict item 3
#   names them): anomaly_mad, join_cross_topk (re-planned again this
#   round), graph_pagerank, report_pivot, eval_recall, knn_exact,
#   knn_exact_l2, eval_avgsim, ts_gapfill (cache gate re-measured
#   and LOWERED this round), text_ngram_novelty;
# (b) the r13 queue's plan-only rows: bm25, rrf, perplexity,
#   entropy, zipf, pmi, winsorized, approx_percentile,
#   eval_recall_lsh, scan_npy;
# (c) r14-touched: dedup_minhash (candidate caches), the ANN family
#   (ann_lsh / ann_ivf / ann_pq / ann_ivf_pq search per-session
#   pipeline indexes, ann_brp_l2 / eval_backend_compare consume the
#   shared gold and allr cache), the TWS trio +
#   stream_tumbling (run_to_completion retry path), and the
#   cost-shift families' heads (jaccard/containment/production,
#   tfidf/ndcg, embed pipeline) that ride the session caches the
#   r14 load-memo change sits under;
# (d) r13 re-plans keeping their slots: join_bloom_prefilter
#   (DISTINCT elision now rests on the documented PK contract),
#   dedup_substring, agg_percentile, sim_topk_bruteforce.
# Displaced r13-window rows move to the head of _DEFERRED so the
# beyond-window sweep still visits them first.
_PROMOTED = [
    # (a) r13 optimizer-touched, formally ungraded until now
    "join_cross_topk",
    "anomaly_mad",
    "graph_pagerank",
    "report_pivot",
    "eval_recall",
    "knn_exact",
    "knn_exact_l2",
    "eval_avgsim",
    "ts_gapfill",
    "text_ngram_novelty",
    # (b) r13 queue: plan-only rows
    "text_bm25_search",
    "search_hybrid_rrf",
    "quality_perplexity",
    "quality_entropy",
    "text_zipf_slope",
    "text_pmi_bigrams",
    "agg_winsorized_mean",
    "agg_approx_percentile",
    "eval_recall_lsh",
    "scan_npy",
    # (c) r14-touched
    "dedup_minhash",
    "ann_lsh",
    "ann_ivf",
    "ann_pq",
    "ann_ivf_pq",
    "ann_brp_l2",
    "eval_backend_compare",
    "eval_dedup_compare",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_production",
    "dedup_containment",
    "stream_transform_state",
    "stream_transform_topk",
    "stream_transform_typecounts",
    "stream_tumbling",
    "stream_late_metrics",
    "stream_sink_files",
    "sink_merge_rows",
    "mix_temperature",
    "quality_drift_psi",
    "knn_filtered",
    "agg_gini",
    "agg_gini_distributed",
    "text_tfidf_sim",
    "eval_ndcg_mrr",
    "embed_knn_pipeline",
    # (d) r13 re-plans keeping their slots
    "join_bloom_prefilter",
    "dedup_substring",
    "agg_percentile",
    "sim_topk_bruteforce",
]
# Displaced r13-window rows, oldest verification signal first: the
# beyond-window sweep (driver_sim first-N, spot checks) visits these
# right after the graded 50.
_DEFERRED: list[str] = [
    "dedup_clusters",
    "dedup_apply",
    "dedup_decontaminate",
    "dedup_incremental",
    "dedup_near",
    "dedup_simhash",
    "embed_mock",
    "embed_provider_switch",
    "embed_project_pca",
    "dedup_embed_cosine_blas",
    "stream_stateful",
    "stream_foreach_batch",
    "stream_ann_assign",
    "agg_mode",
    "agg_minmax_by",
    "agg_hll_sketch",
    "hll_sketch_production",
    "agg_stats",
    "agg_corr_matrix",
    "agg_moments",
    "eval_ab_lift",
    "sink_ann_index",
    "sink_partitioned",
    "sink_upsert_partition",
    "scan_binaryfile",
    "mm_image_features",
    "mm_image_resize",
    "text_chunk",
    "fingerprint_rolling",
]


def load_all() -> None:
    """Import every operator module so registration side-effects run.

    Registration order is the priority order for bounded verification
    sweeps (tools/driver_sim.py's first-N window, spot checks, and any
    consumer that samples the registry front-to-back). The head of the
    order is the surface with the least accumulated verification
    signal. Round-13 final rotation: every row whose oracle or
    output semantics moved in the degenerate-input differential pass
    (zero-row / NULL-heavy / constant corpora), plus the earlier-r13
    schema and re-plan changes that still fit. The explicit 50-entry
    _PROMOTED list IS the window; what follows it is queued in the
    r14 rotation comment above.
    """
    import skills_vectors_spark.operators.functions_suite  # noqa: F401
    import skills_vectors_spark.operators.textstats  # noqa: F401
    import skills_vectors_spark.operators.scale  # noqa: F401
    import skills_vectors_spark.operators.scale2  # noqa: F401
    import skills_vectors_spark.operators.knn  # noqa: F401
    import skills_vectors_spark.operators.ann  # noqa: F401
    import skills_vectors_spark.operators.dedup  # noqa: F401
    import skills_vectors_spark.operators.vector_blas  # noqa: F401
    import skills_vectors_spark.operators.embed  # noqa: F401
    import skills_vectors_spark.operators.multimodal  # noqa: F401
    import skills_vectors_spark.streaming.windows  # noqa: F401
    import skills_vectors_spark.operators.relevance  # noqa: F401
    import skills_vectors_spark.operators.relational  # noqa: F401
    import skills_vectors_spark.operators.relational2  # noqa: F401
    import skills_vectors_spark.operators.scale3  # noqa: F401
    import skills_vectors_spark.operators.multimodal2  # noqa: F401
    import skills_vectors_spark.operators.analytics  # noqa: F401
    import skills_vectors_spark.operators.corpus_eval  # noqa: F401
    import skills_vectors_spark.operators.corpusprep  # noqa: F401
    import skills_vectors_spark.operators.scale_twins  # noqa: F401

    # Only the _PROMOTED window (and the _DEFERRED head after it) is
    # order-stable: those names are pinned explicitly, so the
    # driver's first-50 sweep is deterministic regardless of import
    # order. The tail keeps raw QUERIES insertion order — an ad-hoc
    # operator import before load_all() can shift tail positions,
    # which only affects beyond-window sweep order, never membership
    # or the graded window (advisor r6: comment corrected).
    order = [n for n in _PROMOTED if n in QUERIES]
    seen = set(order)
    order += [n for n in _DEFERRED if n in QUERIES and n not in seen]
    seen.update(order)
    order += [n for n in QUERIES if n not in seen]
    reordered = {n: QUERIES[n] for n in order}
    QUERIES.clear()
    QUERIES.update(reordered)
