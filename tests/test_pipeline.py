"""End-to-end pipeline facade: embed -> index -> search -> evaluate
-> report, the reference's full workflow in one chained Catalyst plan."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from skills_vectors_spark import pipeline, sources
from skills_vectors_spark.functions.vector import cosine_sim
from skills_vectors_spark.plans import physical_plan


def test_full_pipeline_end_to_end(spark, sf_dir):
    docs = sources.load(spark, sf_dir, "documents")
    emb = pipeline.embed(docs).select("doc_id", "embedding")
    assert emb.columns == ["doc_id", "embedding"]

    queries = emb.filter(F.col("doc_id") < 5).withColumnRenamed("doc_id", "q_id")
    index = pipeline.build_index(emb)
    approx = pipeline.search(index, queries, k=10)
    gold = pipeline.search_exact(emb, queries, k=10)

    ev = pipeline.evaluate(approx, gold, k=10).collect()
    assert len(ev) == 5
    mean_recall = sum(r.recall for r in ev) / len(ev)
    assert mean_recall >= 0.6, f"pipeline ANN recall too low: {mean_recall}"

    rep = pipeline.report_wide(gold, k=10)
    assert rep.count() == 5
    assert "id0" in rep.columns and "score9" in rep.columns
    row = rep.filter(F.col("q_id") == 0).collect()[0]
    # rank-0 hit must be the gold rank-1 neighbor
    top = gold.filter((F.col("q_id") == 0) & (F.col("rnk") == 1)).collect()[0]
    assert row.id0 == top.c_id


def test_search_exact_matches_registered_knn(spark, sf_dir):
    from skills_vectors_spark.operators.knn import N_QUERIES, ranked_knn

    emb = sources.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).withColumnRenamed("vec_id", "q_id")
    for metric in ("cosine", "l2"):
        got = pipeline.search_exact(emb, queries, metric=metric, id_col="vec_id")
        assert _rows(got).equals(_rows(ranked_knn(spark, sf_dir, metric))), metric


def test_search_exact_drops_self_matches(spark, sf_dir):
    """Queries drawn from the corpus: search_exact, like search, never
    returns a query as its own neighbor, and still fills k rows."""
    from collections import Counter

    emb = sources.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    rows = pipeline.search_exact(emb, queries, k=10, id_col="vec_id").collect()
    assert not [r for r in rows if r.q_id == r.c_id]
    assert Counter(r.q_id for r in rows) == {q: 10 for q in range(5)}


def test_prepare_corpus_end_to_end(spark, sf_dir):
    from skills_vectors_spark import sources
    from skills_vectors_spark.pipeline import prepare_corpus

    docs = sources.load(spark, sf_dir, "documents")
    out = prepare_corpus(docs, pack_budget=128)
    rows = out.orderBy("id").collect()
    assert 0 < len(rows) <= docs.count()
    # dedup: normalized text unique
    texts = [r.text_norm for r in rows]
    assert len(texts) == len(set(texts))
    # packing: pack_id nondecreasing in id order, starts at 0
    packs = [r.pack_id for r in rows]
    assert packs[0] == 0
    assert all(b - a >= 0 for a, b in zip(packs, packs[1:]))
    # each pack's token total covers its budget share (except the last)
    from collections import defaultdict

    tot = defaultdict(int)
    for r in rows:
        tot[r.pack_id] += r.n_tok
    last = max(tot)
    assert all(tot[p] + 1 >= 0 for p in tot)  # sanity
    # deterministic: re-running the lazy plan yields identical packs
    again = [r.pack_id for r in prepare_corpus(docs, pack_budget=128).orderBy("id").collect()]
    assert again == packs


def test_observed_metrics_ride_the_job(spark, sf_dir):
    from skills_vectors_spark import sources
    from skills_vectors_spark.pipeline import observed

    ev = sources.load(spark, sf_dir, "events").filter(F.col("value") > 100)
    df, obs = observed(ev, "ev_metrics", value_col="value")
    n = df.count()  # one action runs BOTH the query and the metrics
    got = obs.get
    assert got["n_rows"] == n > 0
    assert got["min_v"] > 100
    assert got["sum_v"] >= got["max_v"] >= got["min_v"]


def test_build_index_ivf_and_search_recall(spark, sf_dir):
    from skills_vectors_spark import sources
    from skills_vectors_spark.pipeline import build_index, search, search_exact

    emb = sources.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    idx = build_index(corpus, method="ivf")
    approx = {(r.q_id, r.c_id) for r in search(idx, queries, k=10).collect()}
    gold = {(r.q_id, r.c_id) for r in search_exact(corpus, queries, k=10).collect()}
    recall = len(gold & approx) / len(gold)
    assert recall >= 0.7, f"facade IVF recall too low: {recall}"


def test_lsh_search_does_not_spread_the_query_batch(spark, sf_dir):
    """The LSH query side of pipeline.search runs at the batch's own
    width: a few query rows fanned out round-robin cost an exchange
    and a Python worker round trip per task and buy nothing. The
    corpus here is already wide, so build_index's own spread is a
    no-op and any round-robin exchange left is the query side's."""
    from skills_vectors_spark import sources
    from skills_vectors_spark.plans import physical_plan

    emb = sources.load(spark, sf_dir, "embeddings")
    width = spark.sparkContext.defaultParallelism
    corpus = emb.select(F.col("vec_id").alias("doc_id"), "embedding").repartition(width, "doc_id")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    index = pipeline.build_index(corpus)
    assert "RoundRobinPartitioning" not in physical_plan(pipeline.search(index, queries, k=10))


# ------------------------------------------ search plan shape and identity


@pytest.fixture(scope="module")
def one_file(spark, sf_dir, tmp_path_factory):
    """(corpus, queries) over the smoke embeddings rewritten as ONE
    parquet file: one scan partition, the shape a spread must widen."""
    path = str(tmp_path_factory.mktemp("one_file") / "corpus.parquet")
    emb = sources.load(spark, sf_dir, "embeddings")
    emb.select(F.col("vec_id").alias("doc_id"), "embedding").coalesce(1).write.parquet(path)
    corpus = spark.read.parquet(path)
    assert corpus.rdd.getNumPartitions() == 1
    queries = corpus.filter(F.col("doc_id") < 20).withColumnRenamed("doc_id", "q_id")
    return corpus, queries


def _searches(corpus, queries):
    methods = {"ivf": "ivf", "lsh": "hyperplane_lsh", "pq": "pq", "ivf_pq": "ivf_pq"}
    return {
        "exact": pipeline.search_exact(corpus, queries),
        **{
            name: pipeline.search(pipeline.build_index(corpus, method=method), queries)
            for name, method in methods.items()
        },
    }


def _registered(spark, sf_dir):
    """The library outputs of the registered rows that search through
    this module."""
    from skills_vectors_spark.operators import ann, embed, knn

    fns = (
        knn.knn_exact,
        knn.knn_filtered,
        embed.embed_knn_pipeline,
        ann.ann_lsh,
        ann.ann_ivf,
        ann.ann_pq,
        ann.ann_ivf_pq,
    )
    return {fn.__name__: fn(spark, sf_dir) for fn in fns}


def _input_plan(df):
    """The JVM SparkPlan tree of `df`, before adaptive execution."""
    plan = df._jdf.queryExecution().executedPlan()
    return plan.inputPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan


def _nodes(node):
    """Every node of a JVM SparkPlan tree, preorder. A cache scan is a
    leaf: the plan it caches is not walked."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _find(node, name):
    """First node named `name` in a JVM SparkPlan tree, preorder."""
    return next((n for n in _nodes(node) if n.nodeName() == name), None)


def test_search_exact_streams_the_corpus_at_full_width(spark, one_file):
    """A one-file corpus is one scan partition; spread first, the
    nested-loop join streams it on every core."""
    corpus, queries = one_file
    join = _find(_input_plan(pipeline.search_exact(corpus, queries)), "BroadcastNestedLoopJoin")
    assert join is not None
    streamed = join.left().execute().getNumPartitions()
    assert streamed >= spark.sparkContext.defaultParallelism


def test_ivf_index_buckets_are_spread(spark, one_file):
    corpus, _ = one_file
    index = pipeline.build_index(corpus, method="ivf")
    assert index.buckets.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_searches_fold_once_per_pair(spark, sf_dir, one_file):
    """Above the topmost join every projection is pair-level; there the
    score holds one zip_with fold (the dot product), because both norm
    folds run in the per-row projections below the join. knn_exact
    reads the persisted gold, whose plan prints under the cache scan."""
    for name, df in {**_searches(*one_file), **_registered(spark, sf_dir)}.items():
        lines = physical_plan(df).splitlines()
        top_join = next(i for i, line in enumerate(lines) if "Join" in line)
        pair_level = "\n".join(lines[:top_join])
        assert "AS score#" in pair_level, name
        assert pair_level.count("zip_with(") == 1, (name, pair_level)


def test_lsh_search_plans_one_q_id_exchange(spark, sf_dir, one_file):
    """One hash exchange on q_id above the bucket join serves the
    dedup, the re-rank and the top-k window, in the facade search and
    in the registered ann_lsh row."""
    from skills_vectors_spark.operators import ann

    for df in (_searches(*one_file)["lsh"], ann.ann_lsh(spark, sf_dir)):
        lines = physical_plan(df).splitlines()
        bucket_join = next(i for i, line in enumerate(lines) if "Join [table" in line)
        above = [line for line in lines[:bucket_join] if "Exchange" in line]
        assert len(above) == 1, above
        assert "Exchange hashpartitioning(q_id#" in above[0], above


def test_ivf_search_is_one_probe_join(spark, one_file):
    """IVF search picks its probe cells per query row and joins the
    broadcast probes to the persisted lists once: no nested-loop join,
    no window or shuffle below that join, and no scan of the corpus.
    The queries are a local relation, so any file scan is the corpus."""
    corpus, queries = one_file
    index = pipeline.build_index(corpus, method="ivf")
    index.buckets = index.buckets.persist()
    try:
        local = spark.createDataFrame(queries.toPandas(), queries.schema)
        plan = _input_plan(pipeline.search(index, local))
        joins = [n for n in _nodes(plan) if "Join" in n.nodeName()]
        assert [j.nodeName() for j in joins] == ["BroadcastHashJoin"]
        below = [n.nodeName() for n in _nodes(joins[0])]
        assert not {"Window", "WindowGroupLimit", "Exchange"} & set(below), below
        assert "InMemoryTableScan" in below
        names = [n.nodeName() for n in _nodes(plan)]
        assert not any(name.startswith("Scan ") for name in names), names
    finally:
        index.buckets.unpersist()


METHODS = ["hyperplane_lsh", "ivf", "pq", "ivf_pq"]


@pytest.mark.parametrize("method", METHODS)
def test_index_is_one_row_per_vector_with_its_norm(one_file, method):
    """Every index is one per-vector table: each corpus id once, with
    its vector passed through and the norm l2_norm computes, bit for
    bit."""
    import numpy as np

    from skills_vectors_spark.functions.vector import l2_norm

    corpus, _ = one_file
    index = pipeline.build_index(corpus, method=method)
    src = corpus.select("doc_id", F.col("embedding").alias("src"), l2_norm("embedding").alias("want"))
    rows = index.buckets.join(src, "doc_id", "full_outer").toPandas()
    assert len(rows) == corpus.count() == rows["doc_id"].nunique()
    assert all(np.array_equal(a, b) for a, b in zip(rows["embedding"], rows["src"]))
    assert np.array_equal(rows["norm"].to_numpy().view(np.int64), rows["want"].to_numpy().view(np.int64))


@pytest.mark.parametrize("method", METHODS)
def test_search_reads_only_the_index_and_the_queries(spark, one_file, method):
    """Over a persisted index and local-relation queries, a search plans
    no file scan: every vector it re-ranks comes from the index's own
    table, never from the corpus."""
    corpus, queries = one_file
    index = pipeline.build_index(corpus, method=method)
    index.buckets = index.buckets.persist()
    try:
        local = spark.createDataFrame(queries.toPandas(), queries.schema)
        names = [n.nodeName() for n in _nodes(_input_plan(pipeline.search(index, local)))]
        assert "InMemoryTableScan" in names
        assert not any(name.startswith("Scan ") for name in names), names
    finally:
        index.buckets.unpersist()


def test_ivf_probes_rank_nulls_last_and_ties_by_cell(spark):
    """Each query probes its N_PROBE best cells by cosine, equal scores
    to the lower cell and NULL scores (a zero-norm center or query)
    last: the cells a row_number window over (score DESC NULLS LAST,
    cell ASC) picks."""
    from collections import defaultdict

    from skills_vectors_spark.operators.ann import N_PROBE

    # cell 1 is zero-norm; cells 0, 2 and 9 tie, as do 6 and 7, and the
    # 8th/9th places (cells 8 and 10) for query 1
    centers = [[1, 0], [0, 0], [1, 0], [0, 1], [-1, 0], [0, -1], [1, 1], [1, 1], [-1, -1], [2, 0], [-1, -1]]
    centers = [[float(x) for x in c] for c in centers]
    # one list member per cell, id 100 + cell
    lists = spark.createDataFrame(
        [(100 + c, c, [1.0, 0.0], 1.0) for c in range(len(centers))],
        "doc_id long, cell int, embedding array<float>, norm double",
    )
    index = pipeline.VectorIndex("ivf", lists, "doc_id", centers)
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [-1.0, 0.5])], "q_id long, embedding array<float>"
    )
    got = defaultdict(set)
    for r in pipeline.search(index, queries, k=len(centers)).collect():
        got[r.q_id].add(r.c_id - 100)

    cells = spark.createDataFrame(list(enumerate(centers)), "cell int, center array<double>")
    w = Window.partitionBy("q_id").orderBy(F.col("c_score").desc(), F.col("cell"))
    window_rule = (
        queries.crossJoin(cells)
        .withColumn("c_score", cosine_sim("embedding", "center"))
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= N_PROBE)
    )
    want = defaultdict(set)
    for r in window_rule.collect():
        want[r.q_id].add(r.cell)
    assert got == want
    assert got[1] == {0, 2, 9, 6, 7, 3, 5, 8}
    assert got[2] == set(range(N_PROBE))


def _rerank_per_pair(cand, queries, corpus, k=10):
    """The re-rank as every search wrote it with the per-pair
    cosine_sim form: the reference the searches must equal bitwise."""
    qv = queries.select("q_id", F.col("embedding").alias("q_emb"))
    cv = corpus.select(F.col("doc_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    scored = cand.join(qv, "q_id").join(cv, "c_id").withColumn(
        "score", cosine_sim("q_emb", "c_emb")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("q_id", "rnk", "c_id", "score")
    )


def _rows(df):
    return df.toPandas().sort_values(["q_id", "rnk"]).reset_index(drop=True)


def test_searches_equal_the_per_pair_reference(spark, one_file):
    from skills_vectors_spark.operators.ann import N_PROBE, hyperplane_buckets, train_ivf_centroids

    corpus, queries = one_file
    got = _searches(corpus, queries)
    ids = corpus.select(F.col("doc_id").alias("c_id"))
    exact = queries.select("q_id").crossJoin(ids).filter(F.col("q_id") != F.col("c_id"))

    def tables(df, id_col, alias):
        rows = hyperplane_buckets(df.select(F.col(id_col).alias("vec_id"), "embedding"))
        return rows.select(F.col("vec_id").alias(alias), F.posexplode("buckets").alias("table", "bucket"))

    lsh = (
        tables(queries, "q_id", "q_id")
        .join(tables(corpus, "doc_id", "c_id"), ["table", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )

    index = pipeline.build_index(corpus, method="ivf")
    # k-means trains on the caller's frame, not the spread one
    unspread = corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
    assert index.centers == train_ivf_centroids(unspread)
    centers = spark.createDataFrame(
        list(enumerate(index.centers)), "cell int, center array<double>"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("c_score").desc(), F.col("cell"))
    probes = (
        queries.crossJoin(centers)
        .withColumn("c_score", cosine_sim("embedding", "center"))
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= N_PROBE)
    )
    ivf = (
        probes.join(index.buckets.withColumnRenamed("doc_id", "c_id"), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
    )

    for name, cand in (("exact", exact), ("lsh", lsh), ("ivf", ivf)):
        want = _rows(_rerank_per_pair(cand, queries, corpus))
        assert _rows(got[name]).equals(want), name


@pytest.fixture(scope="module")
def tied(spark):
    """(corpus, queries): 800 random vectors and two hot ones, each hot
    vector under 800 ids spread over the id range, so that exact ADC
    ties straddle the K*PQ_OVERSHOOT cut, also within either partition
    of a two-way split. Rows come in shuffled id order, so no partition
    sees its ids sorted. The queries are drawn from the corpus, hot and
    not."""
    import numpy as np

    rng = np.random.default_rng(5)
    V = rng.standard_normal((2400, 64)).astype(np.float32)
    V[0::3], V[1::3] = V[0], V[1]
    corpus = spark.createDataFrame(
        [(int(i), V[i].tolist()) for i in rng.permutation(len(V))],
        "doc_id long, embedding array<float>",
    )
    queries = corpus.filter(F.col("doc_id") < 6).withColumnRenamed("doc_id", "q_id")
    return corpus, queries


def _adc_reference(index, corpus, queries, n_cand):
    """(q_id, c_id) rows: each query's global (adc, c_id) shortlist
    without itself, in numpy from the index's centers and codebooks."""
    import numpy as np

    from skills_vectors_spark.operators.ann import N_PROBE, PQ_M

    def nearest(X, B):
        return ((B**2).sum(axis=1)[None, :] - 2.0 * (X @ B.T)).argmin(axis=1)

    C, books = np.array(index.centers), index.codebooks
    d_sub = books.shape[2]
    pdf = corpus.toPandas()
    ids = pdf["doc_id"].to_numpy()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cell = nearest(V, C)
    R = V - C[cell]
    codes = np.stack([nearest(R[:, m * d_sub : (m + 1) * d_sub], books[m]) for m in range(PQ_M)], 1)
    rows, straddled = [], False
    for r in queries.toPandas().itertuples():
        q = np.asarray(r.embedding, dtype=np.float64)
        probes = list(np.argsort((C**2).sum(axis=1) - 2.0 * (C @ q), kind="stable")[:N_PROBE])
        sel = np.flatnonzero(np.isin(cell, probes) & (ids != r.q_id))
        adc = np.zeros(len(sel))
        for m in range(PQ_M):
            sub = slice(m * d_sub, (m + 1) * d_sub)
            luts = np.stack([(((q - C[c])[sub] - books[m]) ** 2).sum(axis=1) for c in probes])
            adc += luts[[probes.index(c) for c in cell[sel]], codes[sel, m]]
        order = np.lexsort((ids[sel], adc))
        straddled |= adc[order[n_cand - 1]] == adc[order[n_cand]]
        rows += [(r.q_id, int(ids[sel][o])) for o in order[:n_cand]]
    return rows, straddled


@pytest.mark.parametrize("method", ["pq", "ivf_pq"])
def test_pq_search_equals_the_numpy_reference(spark, tied, method):
    """pipeline.search on a PQ or IVF-PQ index is the global (adc, c_id)
    shortlist without self, re-ranked per pair, whatever the
    partitioning: exact ADC ties at the cut go to the lower c_id, also
    where one partition holds more tied rows than the cut."""
    from dataclasses import replace

    from skills_vectors_spark.operators.ann import PQ_OVERSHOOT

    corpus, queries = tied
    index = pipeline.build_index(corpus, method=method)
    rows, straddled = _adc_reference(index, corpus, queries, 10 * PQ_OVERSHOOT)
    assert straddled, "no exact ADC tie across the cut: the corpus does not test the tie rule"
    cand = spark.createDataFrame(rows, "q_id long, c_id long")
    want = _rows(_rerank_per_pair(cand, queries, corpus))
    for lists in (index.buckets, index.buckets.coalesce(2)):
        assert lists.rdd.getNumPartitions() >= 2
        assert _rows(pipeline.search(replace(index, buckets=lists), queries)).equals(want)


# ------------------------------------------------------------- evaluate


def _eval_frames(spark):
    """(results, gold) with every counting edge case: a duplicated
    result row, a duplicated gold row, a result-only q_id (3) and a
    gold q_id without hits (2, 4)."""
    results = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 11), (1, 19), (2, 20), (3, 10)], "q_id long, c_id long"
    )
    gold = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 11), (1, 12), (2, 21), (4, 40)], "q_id long, c_id long"
    )
    return results, gold


def test_evaluate_counts_each_result_row_once_per_gold_query(spark):
    import pandas as pd

    got = pipeline.evaluate(*_eval_frames(spark), k=10).toPandas()
    want = pd.DataFrame(
        {
            "q_id": [1, 2, 4],
            "n_match": [3, 0, 0],
            "recall": [0.3, 0.0, 0.0],
            "n_result": [4, 1, 0],
            "n_gold": [3, 1, 1],
        }
    )
    pd.testing.assert_frame_equal(
        got.sort_values("q_id").reset_index(drop=True), want, check_exact=True
    )


def test_evaluate_plans_one_exchange(spark):
    lines = physical_plan(pipeline.evaluate(*_eval_frames(spark))).splitlines()
    exchanges = [line for line in lines if "Exchange" in line]
    assert len(exchanges) == 1, exchanges
    assert "hashpartitioning(q_id#" in exchanges[0], exchanges
