"""User-facing pipeline facade: the reference's five workflow stages
as composable DataFrame-in / DataFrame-out library calls, so a user
of the reference's scripts can run the same end-to-end flow here:

  reference script                     this facade
  ------------------------------------ ------------------------------
  create_*_embeddings.py               embed()
  load_skill_vectors_*.py (load+index) build_index()
  skills_for_jobs.py:73-173 (search)   search() / search_exact()
  skills_for_jobs.py:181-352 (eval)    evaluate()
  skills_for_jobs.py:188-207 (report)  report_wide()

Every stage is a lazy DataFrame transform — chaining them builds ONE
Catalyst plan, so the whole pipeline optimizes globally (pushdown
through all five stages, shared scans, broadcasts chosen end-to-end).
Nothing here is sf_dir-bound: callers pass any DataFrame with an id
column and either a text or an embedding column.

This is the one implementation of exact top-k, LSH and IVF search:
the registered knn/ann rows (operators/knn.py, operators/ann.py,
embed_knn_pipeline) call these stages over their corpus and keep only
their own output projection.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from skills_vectors_spark import sources
from skills_vectors_spark.functions.vector import cosine_from_norms, cosine_sim, l2_dist, l2_norm


def embed(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, embedding) for every row — the create_*_embeddings.py
    stage (batched Arrow embedding client; deterministic mock in this
    container, see operators/embed.py)."""
    from skills_vectors_spark.operators.embed import embed_documents

    return embed_documents(df, text_col=text_col, id_col=id_col)


@dataclass
class VectorIndex:
    """A built ANN index: the bucketed corpus plus what search needs.
    The Spark analogue of the reference's server-side index build
    (load_skill_vectors_pg.py:48-59, load_skill_vectors_milvus.py:
    53-68): a pre-materialized table keyed for candidate equi-joins.
    Both methods compute `buckets` over the spread corpus
    (sources.spread), so the persisted table is the wide stream side
    of the search's probe join."""

    method: str  # "hyperplane_lsh" | "ivf"
    corpus: DataFrame  # (id, embedding)
    buckets: DataFrame  # (id, table, bucket) | (id, cell)
    id_col: str
    centers: list[list[float]] | None = None  # ivf: trained centroids


def build_index(
    corpus: DataFrame, id_col: str = "doc_id", method: str = "hyperplane_lsh"
) -> VectorIndex:
    """Index build = one vectorized signature pass over the corpus.
    Persist `index.buckets` as a table partitioned by (table, bucket)
    to reuse it across many search batches — the reference's
    load-once / search-many split."""
    from skills_vectors_spark.operators.ann import hyperplane_buckets

    emb = corpus.select(F.col(id_col).alias("vec_id"), "embedding")
    if method == "hyperplane_lsh":
        spread = sources.spread(corpus.sparkSession, emb)
        return VectorIndex(
            method=method,
            corpus=emb.withColumnRenamed("vec_id", id_col),
            buckets=hyperplane_buckets(spread).withColumnRenamed("vec_id", id_col),
            id_col=id_col,
        )
    if method == "ivf":
        # pgvector IVFFlat analogue (load_skill_vectors_pg.py:48-59):
        # train a coarse quantizer, assign every corpus vector to its
        # nearest cell — the cell id IS the index
        from skills_vectors_spark.operators.ann import assign_cells, train_ivf_centroids

        # trained on the un-spread frame: its limit(MAX_TRAIN) sample
        # follows partition order and seeds k-means (see sources)
        centers = train_ivf_centroids(emb)
        return VectorIndex(
            method=method,
            corpus=emb.withColumnRenamed("vec_id", id_col),
            buckets=assign_cells(sources.spread(corpus.sparkSession, emb), centers).select(
                F.col("vec_id").alias(id_col), "cell"
            ),
            id_col=id_col,
            centers=centers,
        )
    raise ValueError(f"unknown index method: {method}")


def search_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
) -> DataFrame:
    """Exact top-k: broadcast the (small) query set against the
    corpus, spread first (sources.spread) so the nested-loop join
    streams it on every core even when it is one parquet file; score
    with codegen distance expressions, keep per-query top-k via
    WindowGroupLimit. Self-matches (q_id == c_id) are dropped, as in
    search(). The ground-truth tier (skills_for_jobs.py:354-387)."""
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col("embedding").alias("q_emb"))
    c = sources.spread(
        corpus.sparkSession,
        corpus.select(F.col(id_col).alias("c_id"), F.col("embedding").alias("c_emb")),
    )
    if metric == "cosine":
        # norms once per row on each side, below the join: the pair
        # projection folds only the dot product
        q = q.withColumn("q_norm", l2_norm("q_emb"))
        c = c.withColumn("c_norm", l2_norm("c_emb"))
        score = cosine_from_norms("q_emb", "c_emb", "q_norm", "c_norm")
        order = [F.col("score").desc(), F.col("c_id").asc()]
    elif metric == "l2":
        score = l2_dist("q_emb", "c_emb")
        order = [F.col("score").asc(), F.col("c_id").asc()]
    else:
        raise ValueError(metric)
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("score", score)
    )
    w = Window.partitionBy("q_id").orderBy(*order)
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("q_id", "rnk", "c_id", "score")
    )


def search(index: VectorIndex, queries: DataFrame, k: int = 10, q_id_col: str = "q_id") -> DataFrame:
    """ANN search against a built index: bucket the queries with the
    same hash family, equi-join on (table, bucket) for candidates,
    exact re-rank of candidates only (the fetch-then-verify shape,
    skills_for_jobs.py:363,371-379)."""
    from skills_vectors_spark.operators.ann import hyperplane_buckets

    qe = queries.select(F.col(q_id_col).alias("vec_id"), "embedding")
    bc = index.buckets.withColumnRenamed(index.id_col, "c_id")
    if index.method == "hyperplane_lsh":
        # the query batch is bucketed at its own width, never spread
        bq = hyperplane_buckets(qe).withColumnRenamed("vec_id", "q_id")
        cand = (
            bq.join(bc, ["table", "bucket"])
            .filter(F.col("q_id") != F.col("c_id"))
            .select("q_id", "c_id")
            # one hash exchange on q_id serves the dedup, the re-rank
            # and the top-k window. AQE keeps a keyed repartition at
            # this width, where it would coalesce the distinct's own
            # exchange to one task
            .repartition(queries.sparkSession.sparkContext.defaultParallelism, "q_id")
            .distinct()
        )
    else:  # ivf: probe the N_PROBE nearest cells per query
        from skills_vectors_spark.operators.ann import N_PROBE

        centers_df = queries.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(index.centers)], "cell int, center array<double>"
        )
        qc = qe.crossJoin(F.broadcast(centers_df)).withColumn(
            "c_score", cosine_sim("embedding", "center")
        )
        wq = Window.partitionBy("vec_id").orderBy(F.col("c_score").desc(), F.col("cell"))
        probes = (
            qc.withColumn("pr", F.row_number().over(wq))
            .filter(F.col("pr") <= N_PROBE)
            .select(F.col("vec_id").alias("q_id"), "cell")
        )
        cand = (
            F.broadcast(probes)
            .join(bc, "cell")
            .filter(F.col("q_id") != F.col("c_id"))
            .select("q_id", "c_id")
        )
    # norms once per row, below the joins (as in search_exact)
    qv = queries.select(
        F.col(q_id_col).alias("q_id"), F.col("embedding").alias("q_emb")
    ).withColumn("q_norm", l2_norm("q_emb"))
    cv = index.corpus.select(
        F.col(index.id_col).alias("c_id"), F.col("embedding").alias("c_emb")
    ).withColumn("c_norm", l2_norm("c_emb"))
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .withColumn("score", cosine_from_norms("q_emb", "c_emb", "q_norm", "c_norm"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("q_id", "rnk", "c_id", "score")
    )


def evaluate(results: DataFrame, gold: DataFrame, k: int = 10) -> DataFrame:
    """Per-query recall@k of `results` against `gold` (both in the
    (q_id, c_id) long format) — the reference's match counting
    (skills_for_jobs.py:199-200, 209-211) as one semi-join + agg."""
    hits = results.select("q_id", "c_id").join(
        gold.select("q_id", "c_id"), ["q_id", "c_id"], "left_semi"
    )
    per_q = (
        gold.select("q_id")
        .distinct()
        .join(hits.groupBy("q_id").agg(F.count("*").alias("n_hit")), "q_id", "left")
        .select("q_id", F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_match"))
    )
    return per_q.withColumn("recall", F.col("n_match") / F.lit(float(k)))


def report_wide(results: DataFrame, k: int = 10) -> DataFrame:
    """Wide per-query report — id0, score0, id1, score1, ... like the
    reference's skill0/level0/... CSV rows (skills_for_jobs.py:
    188-207). Pivot happens ONLY at report time; everything upstream
    stays long-format and relational (SURVEY §1.3)."""
    ranks = list(range(1, k + 1))
    wide = (
        results.groupBy("q_id")
        .pivot("rnk", ranks)
        .agg(F.first("c_id").alias("id"), F.round(F.first("score"), 6).alias("score"))
    )
    cols = [F.col("q_id")]
    for r in ranks:
        cols.append(F.col(f"{r}_id").alias(f"id{r - 1}"))
        cols.append(F.col(f"{r}_score").alias(f"score{r - 1}"))
    return wide.select(*cols)


def prepare_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_min: float = 0.35,
    chars: tuple[int, int] = (80, 50000),
    pack_budget: int = 256,
) -> DataFrame:
    """The training-data preparation pipeline as ONE lazy plan:

        normalize -> quality-filter -> exact-dedup (keep-first)
                  -> token-count -> sequence-pack

    Returns (id, text_norm, n_tok, pack_id) — the cleaned, deduped,
    packing-ready corpus. Each stage is the library form of a
    registered operator (quality_filter_apply / dedup_exact /
    text_pack_tokens), composed here so Catalyst optimizes across
    stage boundaries: the quality expressions and the dedup hash run
    in the SAME scan projection, the only shuffles are the dedup
    group-by and the packing window, and nothing materializes until
    the caller acts."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = F.split(norm, " ")
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
    length = F.greatest(F.length(text_col), F.lit(1)).cast("double")
    punct = F.regexp_count(text_col, F.lit(r"[^\w\s]")).cast("double") / length
    quality = 0.5 * F.least(length / 500.0, F.lit(1.0)) + 0.5 * (
        1 - F.least(5 * punct, F.lit(1.0))
    )
    scored = docs.select(
        F.col(id_col).alias("id"),
        norm.alias("text_norm"),
        F.size(toks).cast("long").alias("n_tok"),
        quality.alias("quality"),
        F.length(text_col).alias("n_chars"),
        F.md5(F.encode(norm, "UTF-8")).alias("fp"),
    ).filter(
        (F.col("quality") >= quality_min) & F.col("n_chars").between(*chars)
    )
    # keep-first exact dedup on the content fingerprint
    keep = Window.partitionBy("fp").orderBy("id")
    deduped = (
        scored.withColumn("_rn", F.row_number().over(keep))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "quality", "n_chars", "fp")
    )
    # sequence packing: running token offset over id order
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    return deduped.withColumn(
        "pack_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / pack_budget).cast("long"),
    )


def observed(df: DataFrame, name: str = "metrics", *, value_col: str | None = None):
    """Attach zero-cost in-flight metrics to a plan (ref A7: the
    reference prints running counts/latency every 25 rows,
    create_skill_embeddings.py:44-52 — here the metrics ride the
    SAME job as the data instead of a second pass). Returns
    (df, Observation); read `obs.get` after any action. Metrics:
    row count, and min/max/sum of `value_col` if given."""
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if value_col is not None:
        metrics += [
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
            F.sum(value_col).alias("sum_v"),
        ]
    return df.observe(obs, *metrics), obs
