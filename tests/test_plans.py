"""Plan-shape assertions: the engine's Catalyst-awareness contract.
These fail if a code change silently degrades a plan (lost broadcast,
lost pushdown, lost window group limit) even when results stay right.
"""

from pyspark.sql import functions as F

from skills_vectors_spark import sources
from skills_vectors_spark.operators import knn, relational
from skills_vectors_spark.plans import PlanFacts, read_schema_columns


def test_scan_parquet_pushdown_and_pruning(spark, sf_dir):
    df = relational.scan_parquet(spark, sf_dir)
    facts = PlanFacts.of(df)
    assert facts.pushed_filters, "l_quantity filter should reach the parquet scan"
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity", "l_extendedprice"}, cols


def test_join_broadcast_is_broadcast(spark, sf_dir):
    assert PlanFacts.of(relational.join_broadcast(spark, sf_dir)).has_broadcast


def test_knn_uses_window_group_limit_and_broadcast(spark, sf_dir):
    facts = PlanFacts.of(knn.knn_exact(spark, sf_dir))
    assert facts.has_broadcast, "query side must broadcast"
    assert facts.has_window_group_limit, "top-k must use partial group limits"


def test_win_rank_topk_group_limit(spark, sf_dir):
    assert PlanFacts.of(relational.win_rank_topk(spark, sf_dir)).has_window_group_limit


def test_agg_hash_single_shuffle(spark, sf_dir):
    facts = PlanFacts.of(relational.agg_hash(spark, sf_dir))
    assert facts.n_exchanges <= 2, "hash agg should shuffle once (plus AQE read)"


def test_projection_prunes_unused_columns(spark, sf_dir):
    df = sources.load(spark, sf_dir, "lineitem").select("l_orderkey").filter(
        F.col("l_orderkey") > 0
    )
    assert read_schema_columns(df) == ["l_orderkey"]


def test_knn_filtered_pushes_label_predicate(spark, sf_dir):
    from skills_vectors_spark.operators.knn import knn_filtered
    from skills_vectors_spark.plans import PlanFacts, formatted_plan

    df = knn_filtered(spark, sf_dir)
    facts = PlanFacts.of(df)
    assert facts.pushed_filters, "label predicate must reach the parquet scan"
    assert "label" in formatted_plan(df), "filter column visible in scan"
    assert facts.has_window_group_limit, "top-k must use partial group limits"


def test_seq_funnel_single_event_shuffle(spark, sf_dir):
    from skills_vectors_spark.operators.relational2 import seq_funnel

    facts = PlanFacts.of(seq_funnel(spark, sf_dir))
    # one shuffle on user_id feeds all three window stages + the
    # per-user collapse; only the single-row global agg adds one more
    assert facts.n_exchanges_live <= 3, facts.n_exchanges_live


def test_dedup_minhash_verification_has_no_forced_broadcast(spark, sf_dir):
    from skills_vectors_spark.operators.dedup import dedup_minhash

    # the verification stage joins candidate pairs to full shingle
    # ARRAYS — a forced broadcast there can exceed memory on a
    # near-dup-heavy corpus. The plan must carry no user broadcast
    # hint; AQE decides at runtime from measured sizes.
    analyzed = dedup_minhash(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, "no forced broadcast in minhash verification"


def test_hybrid_rrf_arms_truncate_before_global_sort(spark, sf_dir):
    from skills_vectors_spark.operators.relevance import search_hybrid_rrf
    from skills_vectors_spark.plans import physical_plan

    # each arm's rank filter sits directly after its unpartitioned
    # window, so Catalyst pushes the limit below the window as
    # TakeOrderedAndProject (per-partition top-C + bounded merge) —
    # the fix for the r3 full-corpus single-partition sort. Both arms
    # (limit=HYBRID_ARM_C) and the fused top-N (limit=HYBRID_TOPN)
    # must get the rewrite; any leftover global Sort over an
    # unbounded input would show as Exchange SinglePartition feeding
    # a Sort with no TakeOrdered.
    plan = physical_plan(search_hybrid_rrf(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 3, plan


def test_composite_text_queries_persist_shared_subtrees(spark, sf_dir):
    from skills_vectors_spark.operators.relevance import text_bm25_search, text_tfidf_sim

    # live plans (excluding the one-time cache build) must stay small:
    # round-1 recomputed the weight subtree per reference (47 printed
    # Exchanges for tfidf); r8's dl-on-the-index change took bm25 from
    # 11 live exchanges to 9 (dl groupBy + doc_id join deleted)
    assert PlanFacts.of(text_tfidf_sim(spark, sf_dir)).n_exchanges_live <= 10
    assert PlanFacts.of(text_bm25_search(spark, sf_dir)).n_exchanges_live <= 9


def test_quality_entropy_is_one_aggregation_no_self_join(spark, sf_dir):
    from skills_vectors_spark.operators.relevance import quality_entropy
    from skills_vectors_spark.plans import physical_plan

    # r8: the index carries dl, so per-token probability tf/dl is a
    # row-local expression — the plan must contain NO join (the old
    # form self-joined tf with a per-doc nd aggregate) and exactly one
    # live exchange (the doc_id grouping)
    plan = physical_plan(quality_entropy(spark, sf_dir))
    assert "Join" not in plan, plan
    assert PlanFacts.of(quality_entropy(spark, sf_dir)).n_exchanges_live <= 1


def test_dedup_url_canonicalization_stays_in_codegen(spark, sf_dir):
    from skills_vectors_spark.operators.scale3 import dedup_url
    from skills_vectors_spark.plans import physical_plan

    # the r5 rewrite keeps canonicalization in whole-stage codegen
    # with the anchored single-pattern extraction: no Python stage
    # (the Arrow variant measured slower), and exactly two exchanges
    # (parallelism repartition + the canonical-key groupBy)
    plan = physical_plan(dedup_url(spark, sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "MapInArrow" not in plan and "MapInPandas" not in plan, plan
    facts = PlanFacts.of(dedup_url(spark, sf_dir))
    assert facts.n_exchanges_live <= 2, facts.n_exchanges_live


def test_agg_percentile_two_pass_structure(spark, sf_dir):
    """The exact-quantile refinement must stay two JVM passes: the
    returned result is a LocalRelation (values computed from the two
    bounded collects), and no Python workers appear anywhere — the r3
    form shipped full groups through applyInPandas."""
    from unittest import mock

    from skills_vectors_spark.operators import relational2

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    collected_plans = []
    orig = ClassicDataFrame.collect

    def spy(df):
        collected_plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(df)

    with mock.patch.object(ClassicDataFrame, "collect", spy):
        out = relational2.agg_percentile(spark, sf_dir)
    assert len(collected_plans) == 2, f"expected 2 passes, got {len(collected_plans)}"
    for plan in collected_plans:
        assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    # pass 2 must be guarded by the cheap long-typed IN prefilter
    assert " IN (" in collected_plans[1] or "isin" in collected_plans[1].lower(), (
        collected_plans[1]
    )
    from skills_vectors_spark.plans import physical_plan

    assert "LocalTableScan" in physical_plan(out) or "LocalRelation" in physical_plan(
        out
    )


def test_r7_wave_plan_shapes(spark, sf_dir):
    """Scale-shape pins for the r7 wave: mix_epochs must stay a pure
    map-side expansion (ZERO exchanges — the explode multiplies rows
    executor-side); ts_ewma/agg_moments/agg_gini exactly one exchange;
    text_ngram_novelty stays JVM-side with its filter pushed to the
    scan."""
    from skills_vectors_spark.operators.analytics import ts_ewma
    from skills_vectors_spark.operators.corpusprep import mix_epochs, text_ngram_novelty
    from skills_vectors_spark.operators.relational2 import agg_gini, agg_moments
    from skills_vectors_spark.plans import PlanFacts, physical_plan

    assert PlanFacts.of(mix_epochs(spark, sf_dir)).n_exchanges_live == 0
    for fn in (ts_ewma, agg_gini):
        assert PlanFacts.of(fn(spark, sf_dir)).n_exchanges_live == 1, fn.__name__
    # agg_moments: the group exchange only — r9 measured the
    # conditional load_spread round-robin OUT (with limb-based long
    # sums the per-row work is too cheap to buy back a row shuffle;
    # the exact integer sums stay order-safe under any partitioning)
    assert PlanFacts.of(agg_moments(spark, sf_dir)).n_exchanges_live == 1
    nov = text_ngram_novelty(spark, sf_dir)
    p = physical_plan(nov)
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    facts = PlanFacts.of(nov)
    assert facts.pushed_filters


def test_cross_topk_one_aggregate_no_window(spark, sf_dir):
    """r14 re-plan: the per-supplier top-K is one collect_set
    aggregate (single post-union exchange), not a dedup exchange +
    row_number window — a regression re-introducing the window shape
    doubles the shuffle count on the candidate frame."""
    from skills_vectors_spark.plans import physical_plan

    p = physical_plan(relational.join_cross_topk(spark, sf_dir))
    assert "Window" not in p, "top-K must not re-grow a window exchange"
    assert p.count("WindowGroupLimit") == 0


def test_load_memo_returns_same_plan_and_evicts(spark, sf_dir):
    """r14 fixed-cost shave: sources.load memoizes the (immutable)
    DataFrame plan per (session, path); cache.evict drops it."""
    from skills_vectors_spark import cache

    a = sources.load(spark, sf_dir, "customer")
    b = sources.load(spark, sf_dir, "customer")
    assert a is b, "same session+path must reuse the loaded plan"
    cache.evict(spark, ("load", sf_dir, "customer"))
    c = sources.load(spark, sf_dir, "customer")
    assert c is not a, "cache.evict must force a fresh read"
    assert c.schema == a.schema
