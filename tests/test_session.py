"""session.get_spark: the codegen class cache holds the engine's working
set, so running the same plans again compiles nothing."""

import logging

import numpy as np
import pytest

from skills_vectors_spark import cache, pipeline, registry, session

# perfbench's query_mix rows (perfbench/workloads.py QUERY_MIX)
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


def _compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _clustered(spark, n: int, first_id: int, id_col: str, rng, centers):
    member = rng.integers(len(centers), size=n)
    V = centers[member] + 0.8 * rng.standard_normal((n, centers.shape[1])) / np.sqrt(centers.shape[1])
    rows = [(first_id + i, [float(x) for x in v]) for i, v in enumerate(V.astype(np.float32))]
    return spark.createDataFrame(rows, f"{id_col} long, embedding array<float>")


def _vector_search_pass(spark, _sf_dir, data):
    """The vector_search stages: index build (IVF, LSH), ANN and exact
    search, recall evaluation and the wide report."""
    corpus, queries = data
    indexes = {m: pipeline.build_index(corpus, "doc_id", m) for m in ("ivf", "hyperplane_lsh")}
    for index in indexes.values():
        _noop(index.buckets)
    ivf = pipeline.search(indexes["ivf"], queries)
    lsh = pipeline.search(indexes["hyperplane_lsh"], queries)
    gold = pipeline.search_exact(corpus, queries)
    for df in (ivf, lsh, gold, pipeline.evaluate(ivf, gold), pipeline.report_wide(lsh)):
        _noop(df)


def _query_mix_pass(spark, sf_dir, _data):
    cache.clear()
    registry.load_all()
    for name in QUERY_MIX:
        _noop(registry.QUERIES[name](spark, sf_dir))


def _vector_data(spark):
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((4, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    return _clustered(spark, 400, 0, "doc_id", rng, centers), _clustered(spark, 8, 400, "q_id", rng, centers)


@pytest.mark.parametrize(
    "run_pass, make_data",
    [(_vector_search_pass, _vector_data), (_query_mix_pass, lambda spark: None)],
    ids=["vector_search", "query_mix"],
)
def test_second_pass_compiles_no_class(spark, sf_dir, run_pass, make_data):
    """Pass 1 generates the classes; pass 2 plans the same work and
    finds every class in the codegen cache. With Spark's default cache
    (100 entries) pass 2 recompiles most of them.

    The passes plan with adaptive execution off. AQE re-plans from
    runtime statistics in the order stages finish, so two runs of one
    query can end in different valid plans (2 of 10 identical
    report_wide runs did; one flipped a broadcast join's build side),
    and a new plan compiles new classes whatever the cache holds."""
    fixed = session.scoped(spark, {"spark.sql.adaptive.enabled": "false"})
    data = make_data(fixed)
    run_pass(fixed, sf_dir, data)
    before = _compiles(spark)
    run_pass(fixed, sf_dir, data)
    assert _compiles(spark) - before == 0


@pytest.mark.parametrize("context_has_setting", [True, False])
def test_get_spark_warns_when_context_lacks_codegen_cache_size(spark, monkeypatch, caplog, context_has_setting):
    """The cache size is a static conf: a SparkContext created outside
    get_spark (a host's session) keeps its own. get_spark says so once
    per call, and the host path's entry() once per session however
    often it runs, naming the setting."""
    from pyspark import SparkConf, SparkContext
    from test_entry import _load_entry

    entry = _load_entry().entry
    host = spark.newSession()  # a session entry() has not checked yet
    callers = {
        "get_spark": lambda: session.get_spark("tests", cpus="8"),
        "entry": lambda: (entry(host), entry(host)),
    }
    assert spark.sparkContext.getConf().get(session.CODEGEN_CACHE_CONF) == str(session.CODEGEN_CACHE_ENTRIES)
    if not context_has_setting:
        monkeypatch.setattr(SparkContext, "getConf", lambda self: SparkConf(loadDefaults=False))
    try:
        for name, call in callers.items():
            caplog.clear()
            with caplog.at_level(logging.WARNING, logger=session.__name__):
                call()
            warnings = [r.getMessage() for r in caplog.records if r.name == session.__name__]
            if context_has_setting:
                assert warnings == [], name
            else:
                assert len(warnings) == 1 and session.CODEGEN_CACHE_CONF in warnings[0], name
    finally:
        cache.clear(host)
