from conftest import quantized_recall_xfail
from skills_vectors_spark.operators import ann
from skills_vectors_spark.operators.knn import K, N_QUERIES, ranked_knn


def _recall(gold_rows, approx_rows):
    gold = {(r.q_id, r.c_id) for r in gold_rows}
    approx = {(r.q_id, r.c_id) for r in approx_rows}
    return len(gold & approx) / len(gold)


def test_ann_lsh_recall_gate(spark, sf_dir):
    gold = ranked_knn(spark, sf_dir, "cosine").collect()
    approx = ann.ann_lsh(spark, sf_dir).collect()
    assert _recall(gold, approx) >= 0.8


def test_ann_ivf_recall_gate(spark, sf_dir):
    gold = ranked_knn(spark, sf_dir, "cosine").collect()
    approx = ann.ann_ivf(spark, sf_dir).collect()
    assert _recall(gold, approx) >= 0.7


def test_ann_brp_l2_recall(spark, sf_dir):
    gold = ranked_knn(spark, sf_dir, "l2").collect()
    approx = ann.ann_brp_l2(spark, sf_dir).collect()
    assert _recall(gold, approx) >= 0.8


def test_lsh_deterministic(spark, sf_dir):
    a = sorted(map(tuple, ann.ann_lsh(spark, sf_dir).collect()))
    b = sorted(map(tuple, ann.ann_lsh(spark, sf_dir).collect()))
    assert a == b


def test_eval_recall_lsh_shape(spark, sf_dir):
    rows = ann.recall_lsh_per_query(spark, sf_dir).collect()
    assert len(rows) == N_QUERIES
    for r in rows:
        assert 0 <= r.n_match <= K
    # the declared query is the one-row gate summary over those rows
    summary = ann.eval_recall_lsh(spark, sf_dir).collect()
    assert len(summary) == 1
    assert summary[0].n_queries == N_QUERIES
    assert summary[0].n_match_total == sum(r.n_match for r in rows)
    mean_recall = sum(r.n_match for r in rows) / (len(rows) * K)
    assert summary[0].recall_ok == (mean_recall >= ann.RECALL_GATE)
    assert abs(summary[0].mean_recall - mean_recall) < 1e-6


def test_ann_gate_runs_each_subtree_once(spark, sf_dir):
    """The ann_ivf gate row plans one top-k window over the search
    pairs and one scan of the persisted gold: a second reference to
    either would run the whole search or the gold read twice."""
    import re

    from skills_vectors_spark.plans import _strip_cached_subtrees, physical_plan

    plan = physical_plan(ann.ann_ivf_gate(spark, sf_dir))
    live = _strip_cached_subtrees(plan)
    assert live.count("Window [row_number()") == 1, live
    lines = plan.splitlines()
    gold_scans = [
        a
        for a, b in zip(lines, lines[1:])
        if "InMemoryTableScan" in a and re.search(r"InMemoryRelation \[q_id#\d+L, rnk#", b)
    ]
    assert len(gold_scans) == 1, plan


@quantized_recall_xfail
def test_eval_backend_compare_report(spark, sf_dir):
    from skills_vectors_spark.operators.ann import (
        backend_compare_report,
        eval_backend_compare,
    )

    rows = {r.backend: r for r in backend_compare_report(spark, sf_dir).collect()}
    assert set(rows) == set(ann.BACKEND_FLOORS)
    for name, r in rows.items():
        assert 0.0 <= r.avg_recall <= 1.0, (name, r.avg_recall)
        assert -1.0 <= r.avg_cos_sim <= 1.0, (name, r.avg_cos_sim)
    # every tier must clear its declared design-point floor
    for name, floor in ann.BACKEND_FLOORS.items():
        assert rows[name].avg_recall >= floor, (name, rows[name].avg_recall)
    # the declared gate query agrees with the numeric report
    gates = {r.backend: r for r in eval_backend_compare(spark, sf_dir).collect()}
    assert set(gates) == set(rows)
    for name, g in gates.items():
        assert g.recall_floor == ann.BACKEND_FLOORS[name]
        assert g.recall_ok == (rows[name].avg_recall >= ann.BACKEND_FLOORS[name]), name


@quantized_recall_xfail
def test_ann_pq_recall(spark, sf_dir):
    from skills_vectors_spark.operators.ann import ann_pq
    from skills_vectors_spark.operators.knn import ranked_knn

    gold = {
        (r.q_id, r.c_id)
        for r in ranked_knn(spark, sf_dir, "cosine").select("q_id", "c_id").collect()
    }
    got = {(r.q_id, r.c_id) for r in ann_pq(spark, sf_dir).select("q_id", "c_id").collect()}
    recall = len(gold & got) / len(gold)
    assert recall >= 0.6, f"PQ+ADC recall vs exact too low: {recall}"


@quantized_recall_xfail
def test_ann_ivf_pq_recall(spark, sf_dir):
    from skills_vectors_spark.operators.ann import ann_ivf_pq
    from skills_vectors_spark.operators.knn import knn_exact

    gold = {(r.q_id, r.c_id) for r in knn_exact(spark, sf_dir).select("q_id", "c_id").collect()}
    got = {(r.q_id, r.c_id) for r in ann_ivf_pq(spark, sf_dir).select("q_id", "c_id").collect()}
    recall = len(gold & got) / len(gold)
    # bounded by the IVF probe recall (~0.8 on near-random vectors);
    # residual-PQ ADC + exact re-rank should not lose much more
    assert recall >= 0.6, f"IVF+PQ recall vs exact too low: {recall}"


def test_sink_ann_index_partition_pruned_search(spark, sf_dir):
    from pathlib import Path

    from pyspark.sql import functions as F

    from skills_vectors_spark.operators import ann
    from skills_vectors_spark.scratch import scratch as _scratch

    manifest = {r.cell: r.n_vectors for r in ann.ann_index_manifest(spark, sf_dir).collect()}
    from skills_vectors_spark import sources

    emb_n = sources.load(spark, sf_dir, "embeddings").count()
    assert sum(manifest.values()) == emb_n, "every vector indexed exactly once"
    # the table is laid out one directory per cell -> probing prunes
    idx_dir = Path(_scratch(sf_dir, "ivf_index"))
    cell_dirs = [p for p in idx_dir.iterdir() if p.name.startswith("cell=")]
    assert len(cell_dirs) == len(manifest)
    # a one-cell read plans a partition filter, not a full scan
    from skills_vectors_spark.plans import formatted_plan

    probe = spark.read.parquet(str(idx_dir)).filter(F.col("cell") == list(manifest)[0])
    assert "PartitionFilters: [" in formatted_plan(probe)


def test_stream_ann_assign_matches_batch_assignment(spark, sf_dir):
    from pyspark.sql import functions as F

    from skills_vectors_spark import sources
    from skills_vectors_spark.operators import ann

    streamed = {
        r.cell: r.n_vectors for r in ann.stream_ann_assign_counts(spark, sf_dir).collect()
    }
    emb = sources.load(spark, sf_dir, "embeddings")
    cents = ann.ivf_centroids(spark, sf_dir)
    batch = {
        r.cell: r.n
        for r in ann.assign_cells(emb, cents)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert streamed == batch


def test_centroids_do_not_depend_on_first_consumer(spark, sf_dir):
    """Every IVF consumer trains from the same full-width frame, so the
    centroids a streaming ingest trains first equal the ones the
    ann_ivf path trains fresh (the training frame's partitioning fixes
    the seeded k-means init)."""
    from skills_vectors_spark import cache
    from skills_vectors_spark.operators import ann

    cache.clear(spark)
    ann.stream_ann_assign_counts(spark, sf_dir).collect()
    after_stream = ann.ivf_centroids(spark, sf_dir)
    cache.clear(spark)
    ann.ann_ivf(spark, sf_dir)
    assert ann.ivf_centroids(spark, sf_dir) == after_stream


def test_index_maintenance_summary_gates(spark, sf_dir):
    """The REGISTERED rows for the index-maintenance pair are one-row
    gate summaries (r13): vector totals must equal the corpus count
    (the cross-engine-verified column) and the self-attested gates
    must hold on healthy tiers."""
    from skills_vectors_spark import sources
    from skills_vectors_spark.operators import ann

    emb_n = sources.load(spark, sf_dir, "embeddings").count()
    sink = ann.sink_ann_index(spark, sf_dir).collect()
    assert len(sink) == 1
    assert sink[0].n_vectors == emb_n
    assert sink[0].cells_bounded_ok
    stream = ann.stream_ann_assign(spark, sf_dir).collect()
    assert len(stream) == 1
    assert stream[0].n_vectors == emb_n
    assert stream[0].matches_batch
