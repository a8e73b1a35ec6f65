"""Behavior gates for rows-only queries (no SQL oracle): sketches vs
their exact twins, MLlib MinHash vs the exact Jaccard tier, pipeline
determinism, fingerprint shape."""

from pyspark.sql import functions as F

from skills_vectors_spark import sources
from skills_vectors_spark.operators import dedup, embed, textstats
from skills_vectors_spark.operators.relational2 import agg_approx_percentile, agg_percentile


def test_agg_approx_distinct_near_exact(spark, sf_dir):
    from skills_vectors_spark.operators.relational import agg_approx_distinct

    rows = agg_approx_distinct(spark, sf_dir).collect()
    li = sources.load(spark, sf_dir, "lineitem")
    exact = {
        r[0]: r[1]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert {r.l_returnflag for r in rows} == set(exact)
    for r in rows:
        assert r.n_parts_exact == exact[r.l_returnflag]
        assert r.within_5pct, (r.l_returnflag, r.n_parts_exact)


def test_agg_approx_percentile_near_exact(spark, sf_dir):
    rows = agg_approx_percentile(spark, sf_dir).collect()
    exact = {r[0]: r[1] for r in agg_percentile(spark, sf_dir).collect()}  # p50 col
    assert {r.l_returnflag for r in rows} == set(exact)
    for r in rows:
        assert abs(r.p50_exact - exact[r.l_returnflag]) < 1e-6
        assert r.within_5pct, (r.l_returnflag, r.p50_exact)


def test_dedup_near_overlaps_exact_tier(spark, sf_dir):
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    near = {(r.doc_a, r.doc_b) for r in dedup.dedup_near_pairs(spark, sf_dir).collect()}
    assert exact, "exact tier must find near-dups in the test corpus"
    recall = len(exact & near) / len(exact)
    assert recall >= 0.5, f"MLlib MinHash recall vs exact tier too low: {recall}"


def test_embed_knn_pipeline_deterministic(spark, sf_dir):
    a = embed.embed_knn_pipeline(spark, sf_dir)
    rows = sorted(map(tuple, a.collect()))
    assert len(rows) > 0
    assert sorted(map(tuple, embed.embed_knn_pipeline(spark, sf_dir).collect())) == rows
    # 10 query docs x top-5 each
    n_q = a.select("q_id").distinct().count()
    assert n_q == 10
    assert a.groupBy("q_id").count().agg(F.max("count")).collect()[0][0] <= 5


def test_fingerprint_rolling_shape(spark, sf_dir):
    fp = textstats.fingerprint_rolling(spark, sf_dir)
    n_docs = sources.load(spark, sf_dir, "documents").count()
    rows = fp.collect()
    assert len(rows) == n_docs
    assert all(r.rolling_fp is not None for r in rows)
    # order sensitivity: identical docs share a fingerprint, and there
    # are fewer distinct fingerprints than docs iff duplicates exist
    n_distinct = fp.select("rolling_fp").distinct().count()
    assert n_distinct <= n_docs


def test_text_tfidf_sim_self_consistency(spark, sf_dir):
    from skills_vectors_spark.operators import relevance

    rows = relevance.text_tfidf_sim(spark, sf_dir).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.q_doc, []).append(r)
    for q_rows in by_q.values():
        q_rows.sort(key=lambda r: r.rnk)
        sims = [r.sim for r in q_rows]
        assert sims == sorted(sims, reverse=True), "ranked by descending sim"
        assert all(0.0 <= s <= 1.0 + 1e-9 for s in sims)
        assert all(r.c_doc != r.q_doc for r in q_rows), "self excluded"


def test_text_bm25_search_hits_contain_terms(spark, sf_dir):
    from skills_vectors_spark import sources
    from skills_vectors_spark.operators import relevance

    rows = relevance.text_bm25_search(spark, sf_dir).collect()
    assert rows and all(r.score > 0 for r in rows)
    top_ids = [r.doc_id for r in rows[:5]]
    texts = {
        r.doc_id: r.text
        for r in sources.load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(top_ids))
        .collect()
    }
    for did in top_ids:
        assert any(t in texts[did].lower() for t in relevance.BM25_TERMS)


def test_stream_transform_state_matches_batch(spark, sf_dir):
    from skills_vectors_spark.streaming.windows import stream_transform_state

    got = {
        r.user_id: (r.n_events, r.max_value, r.argmax_event)
        for r in stream_transform_state(spark, sf_dir).collect()
    }
    ev = sources.load(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    gold_df = (
        ev.withColumn("r", F.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (F.round(F.max("value") * 100) / 100).alias("mx"),
            F.max(F.when(F.col("r") == 1, F.col("event_id"))).alias("arg"),
        )
    )
    gold = {r.user_id: (r.n, r.mx, r.arg) for r in gold_df.collect()}
    assert got == gold


def test_stream_transform_topk_matches_batch(spark, sf_dir):
    from skills_vectors_spark.streaming.windows import stream_transform_topk

    got = {
        (r.user_id, r.rnk): (r.value, r.event_id)
        for r in stream_transform_topk(spark, sf_dir).collect()
    }
    ev = sources.load(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    gold_df = (
        ev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select(
            "user_id",
            "rnk",
            (F.round(F.col("value") * 100) / 100).alias("value"),
            "event_id",
        )
    )
    gold = {(r.user_id, r.rnk): (r.value, r.event_id) for r in gold_df.collect()}
    assert got == gold


def test_stream_transform_typecounts_matches_batch(spark, sf_dir):
    from skills_vectors_spark.streaming.windows import stream_transform_typecounts

    got = {
        (r.user_id, r.event_type): r.n
        for r in stream_transform_typecounts(spark, sf_dir).collect()
    }
    ev = sources.load(spark, sf_dir, "events")
    gold = {
        (r.user_id, r.event_type): r.n
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert got == gold


def test_embed_project_pca_shapes_and_error(spark, sf_dir):
    from skills_vectors_spark.operators import vector_blas

    rows = vector_blas.project_pca(spark, sf_dir).collect()
    emb_n = sources.load(spark, sf_dir, "embeddings").count()
    assert len(rows) == emb_n
    assert all(len(r.proj) == vector_blas.PCA_DIM for r in rows[:50])
    assert all(r.recon_err >= 0 for r in rows[:50])
    # the Pythagorean identity gate is genuinely computed and holds
    assert all(r.recon_ok for r in rows)
    # projection is deterministic across runs (seedless but sample+eigh fixed)
    again = vector_blas.project_pca(spark, sf_dir).collect()
    a = {r.vec_id: r.recon_err for r in rows}
    b = {r.vec_id: r.recon_err for r in again}
    assert a == b
    # the declared query is scalar-only (driver canonicalizer must hash it)
    declared = vector_blas.embed_project_pca(spark, sf_dir)
    assert [f.name for f in declared.schema.fields] == [
        "vec_id",
        "proj_dim",
        "recon_ok",
    ]
    assert all(r.proj_dim == vector_blas.PCA_DIM for r in declared.collect())


def test_sketch_only_production_variants(spark, sf_dir):
    """The production (sketch-only) forms of the approx aggregates run
    without the exact verification subplan and land near the exact
    answers the gate queries verify."""
    from skills_vectors_spark.operators.relational import approx_distinct_production
    from skills_vectors_spark.operators.relational2 import approx_percentile_production
    from skills_vectors_spark.operators.scale2 import hll_sketch_production

    li = sources.load(spark, sf_dir, "lineitem")
    exact_d = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("n")).collect()
    }
    for r in approx_distinct_production(spark, sf_dir).collect():
        assert abs(r.n_parts_approx - exact_d[r.l_returnflag]) <= 0.05 * exact_d[r.l_returnflag]

    exact_p = {
        r.l_returnflag: r.p
        for r in li.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", F.lit(0.5)).alias("p"))
        .collect()
    }
    for r in approx_percentile_production(spark, sf_dir).collect():
        assert abs(r.p50_approx - exact_p[r.l_returnflag]) <= 0.05 * exact_p[r.l_returnflag]

    ev = sources.load(spark, sf_dir, "events")
    n_all = ev.select("user_id").distinct().count()
    rows = {r.event_type: r.est_distinct for r in hll_sketch_production(spark, sf_dir).collect()}
    assert abs(rows["__all__"] - n_all) <= 0.05 * n_all


def test_diag_partition_stats_invariants(spark, sf_dir):
    row = textstats.partition_stats_report(spark, sf_dir).collect()[0]
    n_rows = sources.load(spark, sf_dir, "lineitem").count()
    assert row.total_rows == n_rows
    assert row.n_partitions >= 1
    assert row.balance_ratio >= 1.0
    # the declared gate query agrees with the report
    gate = textstats.diag_partition_stats(spark, sf_dir).collect()[0]
    assert gate.total_rows == n_rows
    assert gate.partitions_ok and gate.balance_ok


def test_quality_repetition_flags_repetitive_text(spark, sf_dir):
    """Falsifiability: a maximally repetitive doc must score uniq_frac
    -> 0 and top fractions -> 1, a diverse doc the opposite — computed
    through the registered operator's exact pipeline on a planted
    frame."""
    from unittest import mock

    planted = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam spam spam"),
            (1, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    with mock.patch.object(
        textstats.sources, "load", lambda _spark, _sf, _t: planted
    ):
        rows = {r.doc_id: r for r in textstats.quality_repetition(spark, sf_dir).collect()}
    rep, div = rows[0], rows[1]
    assert rep.n_tok == 8 and div.n_tok == 8
    assert rep.uniq_frac == 0.125 and rep.top_tok_frac == 1.0
    assert rep.top_bigram_frac == 1.75  # 7 identical bigrams * 2 / 8
    assert div.uniq_frac == 1.0 and div.top_tok_frac == 0.125
    assert div.top_bigram_frac == 0.25


def test_scrub_pii_redacts_planted_identifiers(spark, sf_dir):
    rows = textstats.scrub_pii(spark, sf_dir).limit(50).collect()
    assert rows
    for r in rows:
        assert r.n_emails >= 1 and r.n_phones >= 1
    # byte-level check: scrubbing really rewrites the planted PII
    d = sources.load(spark, sf_dir, "documents").filter(F.col("doc_id") == rows[0].doc_id)
    text = d.collect()[0]["text"]
    import hashlib
    import re

    raw = (
        f"{text} contact user{rows[0].doc_id}@example.com or "
        f"+1-555-{rows[0].doc_id % 10000:04d}"
    )
    scrubbed = re.sub(
        r"\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}",
        "[PHONE]",
        re.sub(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]", raw),
    )
    assert "[EMAIL]" in scrubbed and "[PHONE]" in scrubbed
    expect = hashlib.md5(scrubbed.encode()).hexdigest()
    assert rows[0].scrub_md5 == expect


def test_stream_transform_nan_and_null_type_semantics(spark, tmp_path):
    """Pins the TWS trio's edge semantics to the ORACLE's total
    order: NaN above every numeric (both engines rank NaN first
    under ORDER BY value DESC), NULL values below every numeric
    (both engines default NULLS LAST) and excluded from max(); a
    NULL event_type must surface as the oracle's NULL group; a
    non-finite running max must not crash Python's round(). The r13
    is_nan companion columns disambiguate a NaN metric (transported
    as NULL by Arrow) from a genuine NULL, and the whole fixture is
    ALSO cross-checked against the registered DuckDB oracles — the
    driver corpus carries no NaN/NULL values, so this is where the
    NaN/NULL contract is actually oracle-verified."""
    import math
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from skills_vectors_spark.streaming.windows import (
        stream_transform_state,
        stream_transform_topk,
        stream_transform_typecounts,
    )

    d = str(tmp_path)
    base = 1_700_000_000_000_000  # us
    rows = [
        # user 1: NaN interleaved with real values and +inf — NaN
        # outranks inf outranks reals, ties break toward low eid
        (1, 1, "click", 5.0),
        (2, 1, "click", float("nan")),
        (3, 1, None, 7.0),
        (4, 1, "view", float("nan")),
        (7, 1, "view", float("inf")),
        # user 2: all-NaN values, two null types
        (5, 2, None, float("nan")),
        (6, 2, None, float("nan")),
        # user 3: +inf max must not crash round(); a NULL value ranks
        # below the numerics but still lands in the top-3
        (8, 3, "view", float("inf")),
        (9, 3, "view", 1.0),
        (12, 3, "view", None),
        # user 4: all-NULL values — max is NULL (not NaN), argmax is
        # the lowest-eid NULL row (the oracle's NULLS-LAST r=1)
        (10, 4, "view", None),
        (11, 4, "view", None),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [base + i * 1_000_000 for i in range(len(rows))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array([r[2] for r in rows]),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        os.path.join(d, "events.parquet"),
    )

    state_rows = stream_transform_state(spark, d).collect()
    prof = {
        r.user_id: (r.n_events, r.max_value, r.max_is_nan, r.argmax_event)
        for r in state_rows
    }
    # NaN ranks FIRST (oracle ordering) so argmax is the lowest-eid
    # NaN row; the NaN metric itself arrives NULL (Arrow transport)
    # with max_is_nan=True disambiguating it from user 4's genuine
    # NULL maximum (max_is_nan=None there: isnan(NULL) is NULL)
    assert prof[1] == (5, None, True, 2)
    assert prof[2] == (2, None, True, 5)
    n3, mx3, nan3, arg3 = prof[3]
    assert (n3, nan3, arg3) == (3, False, 8) and math.isinf(mx3)
    assert prof[4] == (2, None, None, 10)

    topk_rows = stream_transform_topk(spark, d).collect()
    topk = {}
    for r in topk_rows:
        topk.setdefault(r.user_id, {})[r.rnk] = (r.value, r.value_is_nan, r.event_id)
    # user 1: NaN@2, NaN@4, inf@7 — NaN > inf > 7.0, eid-asc ties;
    # NaN values arrive NULL with value_is_nan=True
    assert [topk[1][k][2] for k in (1, 2, 3)] == [2, 4, 7]
    assert topk[1][1][:2] == (None, True) and topk[1][2][:2] == (None, True)
    assert math.isinf(topk[1][3][0]) and topk[1][3][1] is False
    assert [topk[2][k][2] for k in (1, 2)] == [5, 6]
    # user 3: inf > 1.0 > NULL — the NULL row ranks LAST (oracle
    # NULLS-LAST), value NULL with value_is_nan=None
    assert [topk[3][k][2] for k in (1, 2, 3)] == [8, 9, 12]
    assert topk[3][3][:2] == (None, None)
    # user 4: two NULL rows, eid-asc
    assert [topk[4][k][2] for k in (1, 2)] == [10, 11]

    hist = {
        (r.user_id, r.event_type): r.n
        for r in stream_transform_typecounts(spark, d).collect()
    }
    assert hist == {
        (1, "click"): 2,
        (1, "view"): 2,
        (1, None): 1,  # the oracle's NULL group, preserved
        (2, None): 2,
        (3, "view"): 3,
        (4, "view"): 2,
    }

    # cross-engine: the registered DuckDB oracles on the SAME fixture
    # must match row-for-row — the NaN/NULL contract is hash-exact,
    # not just documented
    import duckdb

    from skills_vectors_spark.registry import ORACLES

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )

    def norm(vals):
        return {
            tuple(
                round(v, 6) if isinstance(v, float) and not math.isnan(v) else v
                for v in row
            )
            for row in vals
        }

    duck_state = norm(con.execute(ORACLES["stream_transform_state"]).fetchall())
    got_state = norm(tuple(r) for r in state_rows)
    assert got_state == duck_state
    duck_topk = norm(con.execute(ORACLES["stream_transform_topk"]).fetchall())
    got_topk = norm(tuple(r) for r in topk_rows)
    assert got_topk == duck_topk
    con.close()
