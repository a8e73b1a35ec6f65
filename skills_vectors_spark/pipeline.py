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

This is the one implementation of exact top-k, LSH, IVF, PQ and
IVF-PQ search: the registered knn/ann rows (operators/knn.py,
operators/ann.py, embed_knn_pipeline) call these stages over their
corpus and keep only their own output projection. evaluate() is
likewise the one count of top-k matches against a gold set:
eval_recall, recall_lsh_per_query and the ANN gate rows project or
aggregate its output (ann.backend_compare_report, keyed by backend,
keeps its own semi-join).

Every index is one per-vector table that carries each vector and its
norm beside the method's key, as pgvector's IVFFlat lists do
(load_skill_vectors_pg.py:51): search reads that table and the
queries, never the corpus.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from skills_vectors_spark import sources
from skills_vectors_spark.functions.text import content_md5, normalize_text, punct_ratio, tokens
from skills_vectors_spark.functions.vector import cosine_from_norms, cosine_sql, l2_dist, l2_norm


def embed(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, embedding) for every row — the create_*_embeddings.py
    stage (batched Arrow embedding client; deterministic mock in this
    container, see operators/embed.py)."""
    from skills_vectors_spark.operators.embed import embed_documents

    return embed_documents(df, text_col=text_col, id_col=id_col)


@dataclass
class VectorIndex:
    """A built ANN index: one per-vector table plus what search needs.
    The Spark analogue of the reference's server-side index build
    (load_skill_vectors_pg.py:48-59, load_skill_vectors_milvus.py:
    53-68). The method's key is LSH's N_TABLES bucket ids as one array
    (`buckets`), IVF's `cell`, or PQ's and IVF-PQ's `cell` and packed
    4-bit-per-subspace `code`; flat PQ is IVF-PQ with one cell
    centered at the origin, so its cell is 0."""

    method: str  # "hyperplane_lsh" | "ivf" | "pq" | "ivf_pq"
    buckets: DataFrame  # (id, <method key>, embedding, norm)
    id_col: str
    centers: list[list[float]] | None = None  # ivf, ivf_pq: trained centroids; pq: the origin
    codebooks: np.ndarray | None = None  # pq, ivf_pq: (PQ_M, PQ_K, dim / PQ_M)


def build_index(
    corpus: DataFrame, id_col: str = "doc_id", method: str = "hyperplane_lsh"
) -> VectorIndex:
    """Index build = one vectorized pass over the spread corpus
    (sources.spread), so the table is the wide stream side of the
    search: the method's Arrow kernel (ann.hyperplane_buckets,
    ann.assign_cells or ann.pq_encode) keys each vector and passes it
    through, and one projection adds its L2 norm. IVF, PQ and IVF-PQ
    first train their quantizers on one driver-side sample of `corpus`
    (an eager job) — the un-spread frame: its limit(MAX_TRAIN) sample
    follows partition order and seeds k-means (see sources).
    Persist `index.buckets` to reuse it across many search batches —
    the reference's load-once / search-many split. A search reads the
    table twice (candidates, then their vectors), so an unpersisted
    index runs the build's pass twice per search."""
    from skills_vectors_spark.operators.ann import (
        assign_cells,
        hyperplane_buckets,
        pq_encode,
        train_ivf_centroids,
        train_pq,
    )

    emb = corpus.select(F.col(id_col).alias("vec_id"), "embedding")
    spread = sources.spread(corpus.sparkSession, emb)
    centers = codebooks = None
    if method == "hyperplane_lsh":
        lists = hyperplane_buckets(spread)
    elif method == "ivf":
        # pgvector IVFFlat analogue (load_skill_vectors_pg.py:48-59):
        # train a coarse quantizer, assign every corpus vector to its
        # nearest cell — the cell id IS the index
        centers = train_ivf_centroids(emb)
        lists = assign_cells(spread, centers)
    elif method in ("pq", "ivf_pq"):
        centers, codebooks = train_pq(emb, method)
        lists = pq_encode(spread, centers, codebooks)
    else:
        raise ValueError(f"unknown index method: {method}")
    lists = lists.withColumnRenamed("vec_id", id_col).withColumn("norm", l2_norm("embedding"))
    return VectorIndex(method, lists, id_col, centers, codebooks)


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
    with the functions/vector.py folds (interpreted: ArrayAggregate
    is CodegenFallback), keep per-query top-k via WindowGroupLimit.
    Self-matches (q_id == c_id) are dropped, as in search(). The
    ground-truth tier (skills_for_jobs.py:354-387)."""
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
    return _top_k(scored, k, order)


def search(index: VectorIndex, queries: DataFrame, k: int = 10, q_id_col: str = "q_id") -> DataFrame:
    """ANN search against a built index, fetch-then-verify
    (skills_for_jobs.py:363,371-379), reading only the index's table
    and the queries. IVF joins each query's broadcast probe cells to
    the lists, which carry vectors and norms: one join. The other
    methods pick candidate ids, then join them to the table's
    (id, embedding, norm) columns for the exact re-rank: LSH
    posexplodes both sides' bucket arrays into (table, bucket) rows and
    equi-joins them; PQ and IVF-PQ keep each query's k * PQ_OVERSHOOT
    best codes by asymmetric distance (ann.adc_shortlist), which reads
    (id, cell, code) of the same table. That kernel needs the query
    batch in its closure, so a PQ or IVF-PQ search collects the
    queries once when the plan is built: a bounded eager job, and the
    one break in the pipeline's "one lazy plan"."""
    # norms once per row, below the joins (as in search_exact)
    qv = queries.select(
        F.col(q_id_col).alias("q_id"), F.col("embedding").alias("q_emb")
    ).withColumn("q_norm", l2_norm("q_emb"))
    c_id = F.col(index.id_col).alias("c_id")
    vectors = (c_id, F.col("embedding").alias("c_emb"), F.col("norm").alias("c_norm"))
    if index.method == "ivf":
        lists = index.buckets.select("cell", *vectors)
        pairs = lists.join(F.broadcast(_probes(qv, index.centers)), "cell").filter(
            F.col("q_id") != F.col("c_id")
        )
    else:
        if index.method == "hyperplane_lsh":
            from skills_vectors_spark.operators.ann import hyperplane_buckets

            table = F.posexplode("buckets").alias("table", "bucket")
            # the query batch is bucketed at its own width, never spread
            bq = hyperplane_buckets(queries.select(F.col(q_id_col).alias("vec_id"), "embedding"))
            cand = (
                bq.select(F.col("vec_id").alias("q_id"), table)
                .join(index.buckets.select(c_id, table), ["table", "bucket"])
                .filter(F.col("q_id") != F.col("c_id"))
                .select("q_id", "c_id")
                # one hash exchange on q_id serves the dedup, the re-rank
                # and the top-k window. AQE keeps a keyed repartition at
                # this width, where it would coalesce the distinct's own
                # exchange to one task
                .repartition(queries.sparkSession.sparkContext.defaultParallelism, "q_id")
                .distinct()
            )
        else:  # pq | ivf_pq
            from skills_vectors_spark.operators.ann import PQ_OVERSHOOT, adc_shortlist

            batch = queries.select(F.col(q_id_col).alias("q_id"), "embedding").toPandas()
            lists = index.buckets.select(c_id, "cell", "code")
            n_cand = k * PQ_OVERSHOOT
            cand = adc_shortlist(lists, batch.sort_values("q_id"), index.centers, index.codebooks, n_cand)
        pairs = cand.join(F.broadcast(qv), "q_id").join(index.buckets.select(*vectors), "c_id")
    scored = pairs.withColumn("score", cosine_from_norms("q_emb", "c_emb", "q_norm", "c_norm"))
    return _top_k(scored, k)


def _probes(qv: DataFrame, centers: list[list[float]]) -> DataFrame:
    """qv plus `cell`, one row per probe: each query's N_PROBE nearest
    centers by cosine, picked per row (no exchange) from one centers
    literal. Sorting (score, -cell) descending ranks ties to the lower
    cell and NULL scores (zero norm) last, as a NULL field sorts low."""
    from skills_vectors_spark.operators.ann import N_PROBE

    # one JSON string the optimizer folds to an array literal, not ~130 py4j
    # calls per center; shortest-repr floats parse back to the same doubles
    scores = F.expr(
        f"transform(from_json('{json.dumps(centers)}', 'array<array<double>>'),"
        f" (c, i) -> named_struct('score', {cosine_sql('q_emb', 'c', 'q_norm')}, 'neg_cell', -i))"
    )
    ranked = F.sort_array(scores, asc=False)
    probes = qv.select("*", F.explode(F.slice(ranked, 1, N_PROBE)).alias("p"))
    return probes.select(*qv.columns, (-F.col("p.neg_cell")).alias("cell"))


def _top_k(scored: DataFrame, k: int, order: list[Column] | None = None) -> DataFrame:
    """(q_id, rnk, c_id, score): the first k rows per query under
    `order`, by default best cosine first (a WindowGroupLimit)."""
    order = order or [F.col("score").desc(), F.col("c_id")]
    w = Window.partitionBy("q_id").orderBy(*order)
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("q_id", "rnk", "c_id", "score")
    )


def evaluate(results: DataFrame, gold: DataFrame, k: int = 10) -> DataFrame:
    """(q_id, n_match, recall, n_result, n_gold): per-query recall@k of
    `results` against `gold` (both in the (q_id, c_id) long format) —
    the reference's match counting (skills_for_jobs.py:199-200,
    209-211) as one aggregate of both, tagged, under one q_id
    exchange: each result row in gold counts once, gold q_ids without
    hits read 0, result-only q_ids drop. n_result counts the query's
    result c_ids, n_gold its distinct gold c_ids. Each input is
    referenced once, so a caller aggregating this output runs each
    subtree once."""
    tagged = (
        # a NULL q_id matches no gold row, as in an equi-join
        results.where(F.col("q_id").isNotNull())
        .select("q_id", "c_id", F.lit(False).alias("is_gold"))
        .unionByName(gold.select("q_id", "c_id", F.lit(True).alias("is_gold")))
    )
    per_q = tagged.groupBy("q_id").agg(
        F.bool_or("is_gold").alias("in_gold"),
        F.collect_set(F.when(F.col("is_gold"), F.col("c_id"))).alias("gold_ids"),
        F.collect_list(F.when(~F.col("is_gold"), F.col("c_id"))).alias("result_ids"),
    )
    n_match = F.size(F.filter("result_ids", lambda c: F.array_contains("gold_ids", c)))
    per_q = per_q.where("in_gold").select(
        "q_id",
        n_match.cast("long").alias("n_match"),
        F.size("result_ids").cast("long").alias("n_result"),
        F.size("gold_ids").cast("long").alias("n_gold"),
    )
    recall = (F.col("n_match") / F.lit(float(k))).alias("recall")
    return per_q.select("q_id", "n_match", recall, "n_result", "n_gold")


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
    length = F.greatest(F.length(text_col), F.lit(1)).cast("double")
    quality = 0.5 * F.least(length / 500.0, F.lit(1.0)) + 0.5 * (
        1 - F.least(5 * punct_ratio(text_col), F.lit(1.0))
    )
    scored = docs.select(
        F.col(id_col).alias("id"),
        normalize_text(text_col).alias("text_norm"),
        F.size(tokens(text_col)).cast("long").alias("n_tok"),
        quality.alias("quality"),
        F.length(text_col).alias("n_chars"),
        content_md5(text_col).alias("fp"),
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
