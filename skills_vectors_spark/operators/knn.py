"""Exact K-nearest-neighbor search + evaluation + wide report.

This is the Spark rendering of the reference's flagship pipeline
(/root/reference/skills_for_jobs.py): per-query top-K vector search
(:73-173, K=MAX_SKILLS=10 at :23), exact-NN ground truth via full
scan ORDER BY distance LIMIT (:354-387), rank-order dedup (:371-379),
recall-style match counting (:199-200), average cosine of hits
(:204-211), and the wide skill0/level0/... report (:188-207).

Scale design (100 TB): every top-K here is pipeline.search_exact —
the query set is the SMALL side, broadcast against the spread corpus;
the per-query top-K is a row_number window that Spark >=3.5 rewrites
into WindowGroupLimit, so shuffle volume is O(n_queries * K *
n_partitions), independent of corpus size. Distance math is
functions/vector.py on both sides: its SQL-text folds score the pairs
(JVM-side, no Python boundary, interpreted because ArrayAggregate is
CodegenFallback) and its DUCK_COSINE / DUCK_L2 twins score the
oracles. Recall counting is pipeline.evaluate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skills_vectors_spark import cache, sources
from skills_vectors_spark.functions.vector import DUCK_COSINE, DUCK_L2
from skills_vectors_spark.pipeline import evaluate, search_exact
from skills_vectors_spark.registry import register

K = 10
N_QUERIES = 20


def ranked_knn(spark: SparkSession, sf_dir: str, metric: str = "cosine") -> DataFrame:
    """Core exact-KNN: (q_id, rnk, c_id, score) for the first
    N_QUERIES vectors against the whole corpus, rnk <= K.

    Self-matches are excluded (q_id != c_id); ties broken by c_id so
    ranks are deterministic for oracle comparison. The exact gold is
    the reference ranking every ANN gate, the knn/eval family and
    report_pivot compare against, so it is persisted once per session
    and metric: a bounded result (N_QUERIES*K rows) of a full corpus
    pass, the build-once / read-many split cached_df models.
    """

    def build() -> DataFrame:
        emb = sources.load(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        return search_exact(emb, queries, K, metric, id_col="vec_id", q_id_col="vec_id")

    return cache.cached_df(f"ranked_knn_{metric}", spark, sf_dir, build)


_RANKED_SQL = """
WITH scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, {label_sel}
         {metric_expr} AS score
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {n_queries}
), ranked AS (
  SELECT q_id, c_id, score, {label_col}
         row_number() OVER (PARTITION BY q_id ORDER BY score {dir}, c_id) AS rnk
  FROM scored
)
"""


def _ranked_sql(metric: str, with_label: bool = False, n_queries: int = N_QUERIES) -> str:
    if metric == "cosine":
        expr = DUCK_COSINE.format(a="q.embedding", b="c.embedding")
        direction = "DESC"
    else:
        expr = DUCK_L2.format(a="q.embedding", b="c.embedding")
        direction = "ASC"
    return _RANKED_SQL.format(
        metric_expr=expr,
        dir=direction,
        n_queries=n_queries,
        label_sel="c.label AS label," if with_label else "",
        label_col="label," if with_label else "",
    )


@register(
    "knn_exact",
    _ranked_sql("cosine")
    + f"""
    SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, round(score, 6) AS cos_sim
    FROM ranked WHERE rnk <= {K}
    """,
)
def knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors per query vector (ref skills_for_jobs.py:145-159,363)."""
    return ranked_knn(spark, sf_dir, "cosine").select(
        "q_id", "rnk", "c_id", F.round("score", 6).alias("cos_sim")
    )


@register(
    "knn_exact_l2",
    _ranked_sql("l2")
    + f"""
    SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, round(score, 6) AS l2_dist
    FROM ranked WHERE rnk <= {K}
    """,
)
def knn_exact_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 L2 neighbors per query vector (ref load_skill_vectors_milvus.py:55-59)."""
    return ranked_knn(spark, sf_dir, "l2").select(
        "q_id", "rnk", "c_id", F.round("score", 6).alias("l2_dist")
    )


@register(
    "eval_avgsim",
    _ranked_sql("cosine")
    + f"""
    SELECT q_id, round(avg(score), 6) AS avg_cos_sim
    FROM ranked WHERE rnk <= {K}
    GROUP BY q_id
    """,
)
def eval_avgsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean cosine similarity of the top-10 hits per query
    (ref skills_for_jobs.py:204-211)."""
    return (
        ranked_knn(spark, sf_dir, "cosine")
        .groupBy("q_id")
        .agg(F.round(F.avg("score"), 6).alias("avg_cos_sim"))
    )


@register(
    "eval_recall",
    _ranked_sql("cosine")
    + _ranked_sql("l2").replace("WITH scored", ", scored2").replace("ranked AS", "ranked2 AS").replace("FROM scored\n", "FROM scored2\n")
    + f"""
    SELECT a.q_id, CAST(count(b.c_id) AS BIGINT) AS n_match,
           round(count(b.c_id) / {K}.0, 6) AS recall
    FROM (SELECT q_id, c_id FROM ranked WHERE rnk <= {K}) a
    LEFT JOIN (SELECT q_id, c_id FROM ranked2 WHERE rnk <= {K}) b
      ON a.q_id = b.q_id AND a.c_id = b.c_id
    GROUP BY a.q_id
    """,
)
def eval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-style match counting between two top-K result sets (here:
    L2 ranking scored against the cosine gold standard) — the exact
    evaluation structure of ref skills_for_jobs.py:199-200,209-211,
    where each backend's hits are counted against the exact-NN set.
    A projection of pipeline.evaluate: every gold query, 0-hit ones
    included."""
    gold = ranked_knn(spark, sf_dir, "cosine")
    cand = ranked_knn(spark, sf_dir, "l2")
    return evaluate(cand, gold, K).select("q_id", "n_match", F.round("recall", 6).alias("recall"))


def _pivot_cols_sql() -> str:
    cols = []
    for r in range(K):
        cols.append(f"max(CASE WHEN rnk = {r + 1} THEN c_id END) AS skill{r}")
        cols.append(f"CAST(max(CASE WHEN rnk = {r + 1} THEN label END) AS INT) AS level{r}")
    return ", ".join(cols)


@register(
    "report_pivot",
    _ranked_sql("cosine", with_label=True)
    + f"""
    SELECT q_id, {_pivot_cols_sql()}
    FROM ranked WHERE rnk <= {K}
    GROUP BY q_id
    """,
)
def report_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-query report skill0,level0,...,skill9,level9 — the
    reference's CSV report shape (skills_for_jobs.py:188-207).
    Conditional aggregation instead of .pivot() so column names and
    order are fully deterministic."""
    # the label is functionally dependent on c_id: joining it onto the
    # SHARED cosine gold (at most N_QUERIES*K rows, always the
    # broadcast side) costs one tiny join instead of a second
    # corpus-expansion build per suite pass.
    emb = sources.load(spark, sf_dir, "embeddings")
    ranked = ranked_knn(spark, sf_dir, "cosine").join(
        emb.select(F.col("vec_id").alias("c_id"), "label"), "c_id"
    )
    aggs = []
    for r in range(K):
        aggs.append(F.max(F.when(F.col("rnk") == r + 1, F.col("c_id"))).alias(f"skill{r}"))
        aggs.append(
            F.max(F.when(F.col("rnk") == r + 1, F.col("label"))).cast("int").alias(f"level{r}")
        )
    return ranked.groupBy("q_id").agg(*aggs)


FILTER_LABEL = 1  # metadata predicate for the filtered search


@register(
    "knn_filtered",
    f"""
    WITH scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label,
             {DUCK_COSINE.format(a="q.embedding", b="c.embedding")} AS score
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES} AND c.label = {FILTER_LABEL}
    ), ranked AS (
      SELECT q_id, c_id, label, score,
             row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rnk
      FROM scored
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, CAST(label AS INT) AS label,
           round(score * 1e6) / 1e6 AS cos_sim
    FROM ranked WHERE rnk <= {K}
    """,
)
def knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-K cosine among only the corpus rows
    passing a metadata predicate — the vector-store table-stakes
    feature the reference exercises as Weaviate's `Like` filter
    (load_skill_vectors_weaviate.py:49-53) and every backend exposes
    as payload filtering. PRE-filter semantics (predicate first, then
    rank — post-filtering top-K would return < K rows when the filter
    is selective). In Spark the predicate is just a pushed parquet
    filter feeding the same broadcast-join + window top-k as
    knn_exact: filtered search costs LESS than unfiltered, the
    opposite of most ANN index structures, because candidate
    generation is a scan, not a graph walk."""
    emb = sources.load(spark, sf_dir, "embeddings")
    hits = search_exact(
        emb.filter(F.col("label") == FILTER_LABEL),
        emb.filter(F.col("vec_id") < N_QUERIES),
        K,
        id_col="vec_id",
        q_id_col="vec_id",
    )
    return hits.select(
        "q_id",
        "rnk",
        "c_id",
        # every hit passed the pre-filter; `when` keeps the column
        # nullable, like the parquet label it stands for
        F.when(F.col("c_id").isNotNull(), F.lit(FILTER_LABEL)).alias("label"),
        (F.round(F.col("score") * 1e6) / 1e6).alias("cos_sim"),
    )
