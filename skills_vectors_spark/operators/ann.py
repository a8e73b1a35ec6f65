"""Approximate nearest neighbor — the reference's index tier (A11:
pgvector IVFFlat /root/reference/load_skill_vectors_pg.py:48-59,
Milvus HNSW load_skill_vectors_milvus.py:53-68) re-expressed as
batch Spark jobs.

Three strategies, all subquadratic candidate generation + exact
re-rank (the same fetch-then-verify overshoot the reference's gold
query uses, skills_for_jobs.py:363,371-379):

  * ann_lsh       — random-hyperplane cosine LSH (custom; MLlib's LSH
                    family lacks cosine — SURVEY §4 hard part #1)
  * ann_ivf       — IVF-style coarse quantizer via MLlib KMeans cells
                    + nprobe probing (the IVFFlat analogue)
  * ann_brp_l2    — stock MLlib BucketedRandomProjectionLSH (L2)

Scale: every strategy turns the all-pairs cross join into an
equi-join on bucket/cell ids — shuffle-partitionable, skew-salted by
construction (multiple tables/probes spread hot buckets). Signatures
are computed in one Arrow-vectorized matmul per batch (the idiomatic
"index build" compute shape), everything after is pure DataFrame.

All rows-only: results depend on seeded projections, not
SQL-expressible; quality is gated by recall-vs-knn_exact unit tests
(the reference's own evaluation pattern, skills_for_jobs.py:354-387).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skills_vectors_spark import cache, sources
from skills_vectors_spark.functions.vector import cosine_sim
from skills_vectors_spark.operators.knn import K, N_QUERIES
from skills_vectors_spark.registry import register

DIM = 64
# Tuned for the synthetic corpus, whose vectors are near-random (avg
# pairwise cosine ~3e-4): the 10th-nearest neighbor sits at cosine
# ~0.25 (theta ~75deg, per-plane agreement p ~0.58), so long codes
# almost never collide. Short codes x many tables (5 bits x 40
# tables) give 1-(1-p^5)^40 ~ 0.9 recall while random pairs collide
# in ~0.7 of cases — i.e. on *unclustered* data LSH must examine most
# of the corpus to reach recall 0.8 (the classic LSH regime result);
# on real clustered embeddings the same code re-tunes to far fewer
# probes. The recall gate (>=0.8 vs knn_exact) is enforced in tests.
N_PLANES = 5  # bits per table
N_TABLES = 40  # independent hash tables (union of candidates)
SEED = 42

def _plane_matrix(dim: int = DIM) -> np.ndarray:
    """Seeded hyperplane normals for `dim`-dimensional vectors —
    deterministic per dimension, so corpus and query sides always
    hash with the same planes."""
    rng = np.random.default_rng(SEED)
    return rng.standard_normal((N_TABLES * N_PLANES, dim)).astype(np.float64)


_SIG_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("table", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
    ]
)


def hyperplane_buckets(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, table, bucket) — sign-of-dot-product bit buckets, one row
    per hash table. One numpy matmul per Arrow batch: the index-build
    hot loop stays vectorized, output is long-format for equi-joins.

    Runs at `df`'s own width: a corpus caller spreads its input
    (sources.spread), while a query side bounded at a few rows is left
    alone, since fanning 20 rows across 32 tasks costs an exchange
    plus 31 extra Python worker round trips and buys nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        weights = (1 << np.arange(N_PLANES)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)  # (n, dim)
            if planes is None:
                planes = _plane_matrix(V.shape[1])  # (T*P, dim)
            bits = (V @ planes.T) > 0  # (n, T*P)
            bits = bits.reshape(len(pdf), N_TABLES, N_PLANES)
            buckets = (bits * weights).sum(axis=2)  # (n, T)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf[id_col].to_numpy(), N_TABLES),
                    "table": np.tile(np.arange(N_TABLES, dtype=np.int32), n),
                    "bucket": buckets.reshape(-1),
                }
            )

    return df.select(F.col(id_col).alias("vec_id"), "embedding").mapInPandas(run, _SIG_SCHEMA)


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 cosine KNN via random-hyperplane LSH:
    candidates = corpus vectors sharing any (table, bucket) with the
    query, then exact cosine re-rank of candidates only. Bucket join
    replaces the knn_exact cross join — candidate count is ~corpus /
    2^bits per table, independent of total corpus size."""

    emb = sources.load(spark, sf_dir, "embeddings")
    # the query side is tiny (N_QUERIES rows): bucket it in its own
    # pass rather than re-deriving it from the corpus buckets, which
    # would force the full-corpus Arrow pass to execute twice. The
    # corpus bucket table is the LSH INDEX — persisted per session,
    # exactly the build-once/search-many split of a real vector store.
    emb_sp = sources.load_spread(spark, sf_dir, "embeddings", sized=True)
    buckets_c = cache.cached_df(
        "lsh_buckets_c", spark, sf_dir, lambda: hyperplane_buckets(emb_sp)
    ).withColumnRenamed("vec_id", "c_id")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    buckets_q = hyperplane_buckets(q).withColumnRenamed("vec_id", "q_id")
    cand = (
        # the query bucket table is bounded at N_QUERIES*N_TABLES rows
        # — broadcast it so the corpus index side never shuffles for
        # the candidate join, at any corpus size
        F.broadcast(buckets_q).join(buckets_c, ["table", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )
    qv = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    cv = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .withColumn("score", cosine_sim("q_emb", "c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= K)
        .select("q_id", "rnk", "c_id", (F.round(F.col("score") * 1e6) / 1e6).alias("cos_sim"))
    )


RECALL_GATE = 0.8  # suite-level recall@K floor, same bar as tests/test_ann.py


def recall_lsh_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of ann_lsh against the exact gold standard — the
    reference's ANN evaluation loop (skills_for_jobs.py:354-387,
    199-200) as one join+agg. Library form: per-query detail rows
    (q_id, n_match, recall); the seeded hyperplanes make the values
    non-SQL-expressible, so the registered ``eval_recall_lsh`` reduces
    this to a gate-column summary the driver can hash."""
    from skills_vectors_spark.operators.knn import ranked_knn

    gold = ranked_knn(spark, sf_dir, "cosine").select("q_id", "c_id")
    approx = ann_lsh(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("hit")
    )
    # single left join + one grouped count: the gold subtree (a full
    # exact-KNN scan) and the LSH subtree each execute ONCE — the
    # previous semi-join + distinct-q_id shape referenced gold twice,
    # so Spark ran the whole gold cross-join/window pipeline twice.
    # Every gold q_id keeps exactly K rows, so grouping the joined
    # frame preserves the query set; count("hit") counts matches only.
    per_q = (
        gold.join(approx, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(F.count("hit").cast("long").alias("n_match"))
    )
    return per_q.select(
        "q_id", "n_match", (F.round(F.col("n_match") / F.lit(float(K)) * 1e6) / 1e6).alias("recall")
    )


def _lsh_oracle_sql() -> str:
    """DuckDB replica of the ENTIRE LSH evaluation — signatures,
    candidate generation, exact re-rank, gold top-K, and recall — so
    the gate is cross-engine computed, not Spark-attested. The seeded
    hyperplanes are deterministic, so they embed as literals (200
    rows of 64 doubles; repr() round-trips each double exactly).
    Sign-of-dot bucket bits agree across engines because both
    evaluate in float64 and a plane/vector dot landing within
    reassociation distance (~1e-15) of exactly 0 has negligible
    probability (~1e-8 over the corpus). All recall arithmetic stays
    in exact integers (sum of per-query match counts) until one final
    division, so there is no float-ordering hazard in the compared
    values."""
    planes = _plane_matrix(DIM)
    rows = []
    for t in range(N_TABLES):
        for p in range(N_PLANES):
            vec = ", ".join(repr(float(x)) for x in planes[t * N_PLANES + p])
            rows.append(f"({t}, {p}, [{vec}])")
    values = ", ".join(rows)
    return f"""
    WITH planes(t, p, pl) AS (VALUES {values}),
    vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    sigs AS (
      SELECT v.vec_id, pl.t,
             CAST(sum(CASE WHEN list_dot_product(v.emb, pl.pl) > 0
                           THEN (1 << pl.p) ELSE 0 END) AS BIGINT) AS bucket
      FROM vecs v CROSS JOIN planes pl
      GROUP BY v.vec_id, pl.t
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
      FROM sigs q JOIN sigs c ON q.t = c.t AND q.bucket = c.bucket
      WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    approx AS (
      SELECT q_id, c_id FROM (
        SELECT cand.q_id, cand.c_id,
               row_number() OVER (
                 PARTITION BY cand.q_id
                 ORDER BY list_cosine_similarity(qv.emb, cv.emb) DESC, cand.c_id
               ) AS rnk
        FROM cand
        JOIN vecs qv ON qv.vec_id = cand.q_id
        JOIN vecs cv ON cv.vec_id = cand.c_id
      ) WHERE rnk <= {K}
    ),
    gold AS (
      SELECT q_id, c_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id
               ) AS rnk
        FROM vecs q JOIN vecs c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rnk <= {K}
    ),
    recall AS (
      SELECT g.q_id, count(a.c_id) AS n_match
      FROM gold g LEFT JOIN approx a ON a.q_id = g.q_id AND a.c_id = g.c_id
      GROUP BY g.q_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(n_match) AS BIGINT) AS n_match_total,
           round(sum(n_match) / (count(*) * {K}.0) * 1e6) / 1e6 AS mean_recall,
           sum(n_match) / (count(*) * {K}.0) >= {RECALL_GATE} AS recall_ok
    FROM recall
    """


@register("eval_recall_lsh", _lsh_oracle_sql())
def eval_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable summary of :func:`recall_lsh_per_query`: the
    reference's pass/fail evaluation verdict (skills_for_jobs.py:
    354-355) as one row — how many queries were evaluated, the total
    and mean recall@K, and whether mean recall clears the 0.8 floor.
    The oracle recomputes the whole seeded-LSH pipeline in DuckDB
    (see :func:`_lsh_oracle_sql`), so every output column — including
    the gate itself — is verified cross-engine."""
    per_q = recall_lsh_per_query(spark, sf_dir)
    kf = float(K)
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("n_match").cast("long").alias("n_match_total"),
        (F.round(F.sum("n_match") / (F.count("*") * kf) * 1e6) / 1e6).alias(
            "mean_recall"
        ),
        (F.sum("n_match") / (F.count("*") * kf) >= RECALL_GATE).alias("recall_ok"),
    )


# ------------------------------------------------------------------- IVF

N_CELLS = 16
N_PROBE = 8  # near-random corpus: half the cells for recall >= 0.8
MAX_TRAIN = 16384  # coarse-quantizer training sample cap

# The coarse quantizer is an INDEX — the reference builds it once at
# load time (load_skill_vectors_pg.py:48-59) and searches many times.
# The fitted centroids (and the PQ codebooks below) are result
# entries of the session store (cache.py), keyed by corpus, so
# repeated searches skip the fit and cache.clear() retrains.
#
# Training runs driver-side on a bounded uniform sample (numpy
# Lloyd's): this is the standard IVF recipe — FAISS trains coarse
# quantizers on ~256 vectors per cell, so even at 100 TB the training
# set is MAX_TRAIN rows, a constant. The full corpus is never
# collected; only assignment (below) touches it, and that is a
# per-row codegen expression with no shuffle.


def _train_sample(emb: DataFrame) -> np.ndarray | None:
    """(n, DIM) float64 driver-side training sample of at most
    MAX_TRAIN rows; None on an empty corpus."""
    rows = emb.select("embedding").limit(MAX_TRAIN).toPandas()["embedding"].to_numpy()
    return np.stack(rows).astype(np.float64) if len(rows) else None


def corpus_sample(spark: SparkSession, sf_dir: str) -> np.ndarray | None:
    """Training sample of every corpus quantizer (IVF, PQ, PCA). Always
    the full-width spread frame: the limit(MAX_TRAIN) sample rides
    partition order, so the training frame's partitioning fixes the
    seeded k-means init and with it every IVF/PQ result (verified by
    bit-diff, r14). One frame for every trainer keeps the quantizers
    independent of which query trained first."""
    return _train_sample(sources.load_spread(spark, sf_dir, "embeddings"))


def _kmeans(sample: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """(k, d) centroids: 10 Lloyd rounds from a seeded random init."""
    # replace only when the sample is smaller than k (degenerate tiny
    # corpus); normal tiers keep replace=False
    cent = sample[rng.choice(len(sample), k, replace=len(sample) < k)].copy()
    for _ in range(10):
        # argmin_c ||x - c||^2 = argmin_c (||c||^2 - 2 x.c)
        d = (cent**2).sum(axis=1)[None, :] - 2.0 * (sample @ cent.T)
        assign = d.argmin(axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def train_ivf_centroids(
    emb: DataFrame, n_cells: int = N_CELLS, seed: int = SEED
) -> list[list[float]]:
    """Lloyd's k-means on a bounded driver-side sample — the coarse-
    quantizer training step (corpus-size-independent: MAX_TRAIN rows)."""
    sample = _train_sample(emb)
    if sample is None:
        # empty corpus (an empty daily increment is routine at scale):
        # no centroids — consumers degrade to empty results, not a
        # np.stack crash
        return []
    cent = _kmeans(sample, n_cells, np.random.default_rng(seed))
    return [[float(x) for x in c] for c in cent]


def ivf_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    return cache.memo(
        spark,
        ("ivf_centroids", sf_dir),
        # the same full-width frame as corpus_sample — see there
        lambda: train_ivf_centroids(sources.load_spread(spark, sf_dir, "embeddings")),
    )


def _query_rows(spark: SparkSession, sf_dir: str):
    """The N_QUERIES query vectors on the driver, shared by ann_pq and
    ann_ivf_pq (one filter+toPandas job per session, not one each)."""
    return cache.memo(
        spark,
        ("query_rows", sf_dir),
        lambda: sources.load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id"),
    )


def assign_cells(emb: DataFrame, centers: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, cell) — nearest-centroid assignment as one
    Arrow-vectorized matmul per batch (the KMeans prediction rule):
    zero shuffle, zero row blow-up, linear in corpus size."""
    import pandas as pd

    # empty-corpus training yields zero centroids; keep C 2-D so the
    # closure constructs (the batch loop never runs — no batches)
    C = (
        np.array(centers, dtype=np.float64)
        if centers
        else np.zeros((0, 1), dtype=np.float64)
    )
    c_sq = (C**2).sum(axis=1)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cell = (c_sq[None, :] - 2.0 * (V @ C.T)).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cell": cell.astype(np.int32),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        assign,
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("cell", T.IntegerType()),
            ]
        ),
    )


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the pgvector IVFFlat analogue, lists=N_CELLS,
    probes=N_PROBE — ref load_skill_vectors_pg.py:15,51 and the
    probes commentary skills_for_jobs.py:360-362): KMeans coarse
    quantizer -> assign corpus to cells -> each query probes its
    N_PROBE nearest centroids -> exact re-rank within probed cells.
    Corpus scan per query drops to nprobe/ncells of the data; at
    100 TB the cell assignment is the partitioning key."""
    # centroid training reads its own full-width frame (see
    # corpus_sample); the per-row Arrow passes below read the sized
    # frame — identical rows, bounded task fan-out
    emb = sources.load_spread(spark, sf_dir, "embeddings")
    emb_sp = sources.load_spread(spark, sf_dir, "embeddings", sized=True)
    cents = ivf_centroids(spark, sf_dir)
    if not cents:  # empty corpus: nothing to index or search
        return spark.createDataFrame(
            [], "q_id long, rnk long, c_id long, cos_sim double"
        )
    centers = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cell int, center array<double>",
    )
    # cell assignment = argmin L2 to the cached centroids (the KMeans
    # prediction rule) as one Arrow-vectorized matmul per batch —
    # zero shuffle, zero row blow-up, linear in corpus size (vs the
    # naive corpus x centroids explode + window, which shuffles
    # N_CELLS x corpus rows). Persisted per session: the assignment
    # IS the IVF index and every search probes the same table.

    assigned = cache.cached_df(
        "ivf_assigned", spark, sf_dir, lambda: assign_cells(emb_sp, cents)
    )
    # queries don't need their own cell — pull them straight from the
    # source so the assignment pass only ever runs once (filters do
    # not push through mapInPandas)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # rank centroids per query by cosine, keep N_PROBE
    qc = q.crossJoin(F.broadcast(centers)).withColumn(
        "c_score", cosine_sim("q_emb", "center")
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("c_score").desc(), F.col("cell"))
    probes = (
        qc.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= N_PROBE)
        .select("q_id", "q_emb", "cell")
    )
    # probes is bounded at N_QUERIES*N_PROBE rows — broadcast it so
    # the corpus-sized index never shuffles by the 16-value cell key
    # (the same hint ann_ivf_pq's candidate join already carries)
    cand = assigned.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"), "cell"
    ).join(F.broadcast(probes), "cell").filter(F.col("q_id") != F.col("c_id"))
    scored = cand.withColumn("score", cosine_sim("q_emb", "c_emb"))
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= K)
        .select("q_id", "rnk", "c_id", (F.round(F.col("score") * 1e6) / 1e6).alias("cos_sim"))
    )


def ann_brp_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock MLlib BucketedRandomProjectionLSH (L2) approx similarity
    join -> per-query top-10 by L2 (the Milvus-HNSW seat in the
    reference's backend matrix, via the one LSH family MLlib ships
    for dense L2)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = sources.load(spark, sf_dir, "embeddings")
    feat = emb.select("vec_id", array_to_vector("embedding").alias("features"))
    if feat.isEmpty():  # MLlib fit() throws on an empty frame
        return spark.createDataFrame(
            [], "q_id long, rnk long, c_id long, l2_dist double"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=SEED
    )
    model = lsh.fit(feat)
    q = feat.filter(F.col("vec_id") < N_QUERIES)
    joined = model.approxSimilarityJoin(q, feat, threshold=15.0, distCol="l2")
    pairs = joined.select(
        F.col("datasetA.vec_id").alias("q_id"),
        F.col("datasetB.vec_id").alias("c_id"),
        F.col("l2"),
    ).filter(F.col("q_id") != F.col("c_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("l2").asc(), F.col("c_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= K)
        .select("q_id", "rnk", "c_id", (F.round(F.col("l2") * 1e6) / 1e6).alias("l2_dist"))
    )


def backend_compare_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's closing report (skills_for_jobs.py:435-456):
    every ANN backend scored side-by-side against the exact gold
    standard — avg recall@K (match counting :199-200,209-211) and avg
    cosine of returned hits (:204-211) per backend, one row each.
    Backends = hyperplane cosine LSH, IVF cell probing, and MLlib
    BRP-L2 (the reference compares mixed-metric backends the same
    way: Milvus L2 beside pgvector cosine). All per-backend results
    union into ONE long DataFrame before a single semi-join + agg —
    one pass over gold, not one per backend."""
    from skills_vectors_spark.functions.vector import cosine_sim as _cos
    from skills_vectors_spark.operators.knn import K, N_QUERIES, ranked_knn


    gold = ranked_knn(spark, sf_dir, "cosine").select("q_id", "c_id")

    def build_allr() -> DataFrame:
        parts = [
            fn(spark, sf_dir).select(F.lit(name).alias("backend"), "q_id", "c_id")
            for name, fn in [
                ("hyperplane_lsh", ann_lsh),
                ("ivf", ann_ivf),
                ("brp_l2", ann_brp_l2),
                ("pq", ann_pq),
                ("ivf_pq", ann_ivf_pq),
            ]
        ]
        allr = parts[0]
        for p in parts[1:]:
            allr = allr.unionByName(p)
        return allr

    # referenced twice below (recall semi-join + similarity join);
    # without a persist each reference re-runs ALL THREE backend
    # pipelines — at scale that doubles three corpus-wide passes
    allr = cache.cached_df("eval_backend_allr", spark, sf_dir, build_allr)

    emb = sources.load(spark, sf_dir, "embeddings")
    qv = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    cv = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    hits = allr.join(gold, ["q_id", "c_id"], "left_semi").groupBy("backend").agg(
        F.count("*").alias("n_hits")
    )
    sims = (
        allr.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .withColumn("cs", _cos("q_emb", "c_emb"))
        .groupBy("backend")
        .agg(
            F.count("*").alias("n_returned"),
            (F.round(F.avg("cs") * 1e6) / 1e6).alias("avg_cos_sim"),
        )
    )
    return (
        sims.join(hits, "backend", "left")
        .select(
            "backend",
            "n_returned",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (
                F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(float(K * N_QUERIES)) * 1e6)
                / 1e6
            ).alias("avg_recall"),
            "avg_cos_sim",
        )
        .orderBy("backend")
    )


# Per-backend recall@K floors — each tier's design point, matching
# the unit-test gates in tests/test_ann.py: the sign-preserving tiers
# (hyperplane LSH, MLlib BRP) must reach 0.8; IVF trades recall for
# probed-cell pruning (0.7); the quantized tiers add code
# approximation on top (0.6). Part of the declared contract: the
# floor is emitted as a column so the verdict is interpretable.
BACKEND_FLOORS = {
    "hyperplane_lsh": 0.8,
    "brp_l2": 0.8,
    "ivf": 0.7,
    "pq": 0.6,
    "ivf_pq": 0.6,
}


@register(
    "eval_backend_compare",
    # Gate-column oracle: the backend list and each tier's declared
    # recall floor are checked for real (one row per backend);
    # returned_ok and recall_ok are computed Spark-side from the
    # seeded ANN output and asserted against the constant TRUE.
    # Self-attested gates — value-level recall floors per backend
    # live in tests/test_ann.py.
    f"""
    SELECT backend, recall_floor, TRUE AS returned_ok, TRUE AS recall_ok
    FROM (VALUES {", ".join(f"('{b}', {f})" for b, f in sorted(BACKEND_FLOORS.items()))})
      AS b(backend, recall_floor)
    """,
)
def eval_backend_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable verdict over :func:`backend_compare_report` —
    per backend, whether it returned a full K results for every query
    and whether its recall@K clears that tier's declared floor (the
    reference's pass/fail framing at skills_for_jobs.py:354-355).
    The full numeric report (n_hits, avg_recall, avg_cos_sim) stays
    in the library function for human consumption."""
    from skills_vectors_spark.operators.knn import K, N_QUERIES

    floors = F.create_map(
        *[F.lit(x) for kv in BACKEND_FLOORS.items() for x in kv]
    )
    return (
        backend_compare_report(spark, sf_dir)
        .select(
            "backend",
            floors[F.col("backend")].alias("recall_floor"),
            (F.col("n_returned") == F.lit(K * N_QUERIES)).alias("returned_ok"),
            (F.col("avg_recall") >= floors[F.col("backend")]).alias("recall_ok"),
        )
        .orderBy("backend")
    )


# ---------------------------------------------------------------- PQ (ADC)

PQ_M = 8  # subvectors per vector
PQ_K = 16  # centroids per subspace -> 4 bits; code = 8 bytes/vector
# ADC candidates per final result before exact re-rank. r11 A/B at
# sf0.1: 8 -> 32 lifts pq recall 0.455 -> 0.850 and ivf_pq
# 0.535 -> 0.755 at FLAT cost (9.0 -> 9.0 s, 11.5 -> 11.9 s — the
# shortlist re-rank join is negligible next to the ADC scan), taking
# every backend past its declared floor at that tier. The 10x
# word-salad tier stays below the 0.6 floor even at 32 (0.52/0.50):
# 4-bit-x-8-subspace codes cannot separate near-random vectors — the
# documented accuracy boundary, still xfail-gated there. At 100 TB
# the shortlist is per-query-constant (K*32 rows), so overshoot does
# not change any stage's asymptotic shape.
PQ_OVERSHOOT = 32

def _fit_pq(sample: np.ndarray | None, seed: int) -> np.ndarray:
    """(M, K, d/M) codebooks: one k-means per subspace, all drawing
    their inits from one rng in subspace order."""
    if sample is None:
        # empty corpus: zero-width codebooks; the search path returns
        # empty before they are ever applied
        return np.zeros((PQ_M, PQ_K, 0))
    d_sub = sample.shape[1] // PQ_M
    rng = np.random.default_rng(seed)
    return np.stack(
        [_kmeans(sample[:, m * d_sub : (m + 1) * d_sub], PQ_K, rng) for m in range(PQ_M)]
    )


def pq_codebooks(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """(M, K, DIM/M) product-quantization codebooks, trained
    driver-side on a bounded sample exactly like the IVF coarse
    quantizer (per-subspace Lloyd's) — the index-build step."""
    return cache.memo(
        spark, ("pq_codebooks", sf_dir), lambda: _fit_pq(corpus_sample(spark, sf_dir), SEED)
    )


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the memory-bound scale tier: 8-byte
    codes instead of 256-byte vectors — at 100 TB the codes for the
    WHOLE corpus fit in cluster RAM). Encode: per-subspace nearest
    codebook entry, one matmul per Arrow batch. Search: asymmetric
    distance computation — each query precomputes an (M x K) lookup
    table of exact subspace distances, scoring a code is M table
    gathers; top candidates get an exact cosine re-rank (the same
    overshoot-then-verify shape as the reference's gold query,
    skills_for_jobs.py:363,371-379)."""
    books = pq_codebooks(spark, sf_dir)  # (M, K, d_sub)
    d_sub = books.shape[2]
    q_rows = _query_rows(spark, sf_dir)
    if not len(q_rows):  # empty corpus / no query slice: empty result
        return spark.createDataFrame(
            [], "q_id long, rnk long, c_id long, cos_sim double"
        )
    Q = np.stack(q_rows["embedding"].to_numpy()).astype(np.float64)  # (nq, DIM)
    q_ids = q_rows["vec_id"].to_numpy()
    # per-query ADC tables: luts[q, m, k] = ||Q[q, sub m] - books[m, k]||^2
    luts = np.empty((len(Q), PQ_M, PQ_K))
    for m in range(PQ_M):
        qs = Q[:, m * d_sub : (m + 1) * d_sub]
        diff = qs[:, None, :] - books[m][None, :, :]
        luts[:, m, :] = (diff**2).sum(axis=2)
    n_cand = K * PQ_OVERSHOOT

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.empty((len(V), PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                sub = V[:, m * d_sub : (m + 1) * d_sub]
                cent = books[m]
                codes[:, m] = (
                    (cent**2).sum(axis=1)[None, :] - 2.0 * (sub @ cent.T)
                ).argmin(axis=1)
            # adc[q, i] = sum_m luts[q, m, codes[i, m]] — gather via
            # flattened (m, k) indices: one fancy-index per batch
            flat = codes + (np.arange(PQ_M) * PQ_K)[None, :]  # (n, M)
            adc = luts.reshape(len(luts), PQ_M * PQ_K)[:, flat].sum(axis=2)
            ids = pdf["vec_id"].to_numpy()
            out = {"q_id": [], "c_id": [], "adc": []}
            keep = min(n_cand, adc.shape[1])
            for qi in range(adc.shape[0]):
                top = np.argpartition(adc[qi], keep - 1)[:keep]
                out["q_id"].extend([int(q_ids[qi])] * len(top))
                out["c_id"].extend(int(ids[t]) for t in top)
                out["adc"].extend(float(adc[qi, t]) for t in top)
            yield pd.DataFrame(out)

    cand_schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("c_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )
    # per-partition candidates: each partition returns its local ADC
    # top keep; the global window below merges them (candidates per
    # query = keep x n_partitions upper bound, still << corpus)
    # sized scan for the ADC scoring pass (results are
    # partition-independent: each partition emits its local top
    # n_cand, a superset of the global top n_cand); the codebook
    # training keeps the full-width frame — see corpus_sample
    emb_sp = sources.load_spread(spark, sf_dir, "embeddings", sized=True)
    cand = emb_sp.select("vec_id", "embedding").mapInPandas(score, cand_schema)
    w_adc = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id"))
    shortlist = (
        cand.filter(F.col("q_id") != F.col("c_id"))
        .withColumn("arnk", F.row_number().over(w_adc))
        .filter(F.col("arnk") <= n_cand)
    )
    qv = sources.load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cv = sources.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        shortlist.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .withColumn("score", cosine_sim("q_emb", "c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= K)
        .select("q_id", "rnk", "c_id", (F.round(F.col("score") * 1e6) / 1e6).alias("cos_sim"))
    )


# ------------------------------------------------------------- IVF + PQ

def pq_residual_codebooks(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """PQ codebooks trained on RESIDUALS (x - nearest centroid) — the
    FAISS IVFADC formulation: the coarse quantizer removes the
    between-cell variance, so the 4-bit-per-subspace budget is spent
    on the (much smaller) within-cell displacement."""

    def fit() -> np.ndarray:
        sample = corpus_sample(spark, sf_dir)
        if sample is not None:
            C = np.array(ivf_centroids(spark, sf_dir), dtype=np.float64)
            cell = ((C**2).sum(axis=1)[None, :] - 2.0 * (sample @ C.T)).argmin(axis=1)
            sample = sample - C[cell]
        return _fit_pq(sample, SEED + 1)

    return cache.memo(spark, ("pq_residual_codebooks", sf_dir), fit)


def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFADC architecture, and what the
    reference's two index choices — IVFFlat lists
    /root/reference/load_skill_vectors_pg.py:51 and a compressed
    in-RAM graph load_skill_vectors_milvus.py:55-63 — converge to at
    scale): coarse cells bound WHICH vectors each query scores
    (nprobe/ncells of the corpus), packed 32-bit PQ codes bound WHAT
    moves through the shuffle (4 bytes/vector instead of 256), ADC
    table lookups bound the per-candidate cost, and an exact cosine
    re-rank of the shortlist restores accuracy (the reference's own
    overshoot-then-verify shape, skills_for_jobs.py:363,371-379).
    The candidate join carries only (q_id, cell, c_id, code) — at
    100 TB no embedding ever crosses the wire until the final
    re-rank join fetches the few shortlisted vectors."""
    cents = ivf_centroids(spark, sf_dir)
    if not cents:  # empty corpus: nothing to index or search
        return spark.createDataFrame(
            [], "q_id long, rnk long, c_id long, cos_sim double"
        )
    books = pq_residual_codebooks(spark, sf_dir)
    C = np.array(cents, dtype=np.float64)
    c_sq = (C**2).sum(axis=1)  # query-side probe ranking below
    d_sub = books.shape[2]

    # --- index build: residual-encode FROM the shared cell assignment
    # (r14, verdict item 7): ann_ivf's cached `ivf_assigned` table
    # already holds (vec_id, embedding, cell) computed by the exact
    # argmin this encode pass used to repeat — reading it deletes one
    # full corpus argmin matmul whenever both backends run in a
    # session (the suite order and eval_backend_compare both do). An
    # isolated cold ann_ivf_pq now materializes the assignment first
    # (one extra cache write) — the recorded trade for sharing the
    # subtree; at 100 TB the assignment IS the IVF index a real
    # deployment builds exactly once for both consumers.
    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cell = pdf["cell"].to_numpy().astype(np.int64)
            R = V - C[cell]
            code = np.zeros(len(V), dtype=np.int64)
            for m in range(PQ_M):
                sub = R[:, m * d_sub : (m + 1) * d_sub]
                cent = books[m]
                cm = ((cent**2).sum(axis=1)[None, :] - 2.0 * (sub @ cent.T)).argmin(axis=1)
                code |= cm.astype(np.int64) << (4 * m)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cell.astype("int32"), "code": code}
            )


    # same sized frame as ann_ivf's assignment build (the shared
    # cache key must build identically from either consumer);
    # training frames above stay full-width — see ann_ivf
    emb_sp = sources.load_spread(spark, sf_dir, "embeddings", sized=True)
    assigned = cache.cached_df(
        "ivf_assigned", spark, sf_dir, lambda: assign_cells(emb_sp, cents)
    )
    # the (vec_id, cell, code) table IS the IVFADC index — persist per
    # session so repeated searches skip the encode pass entirely
    index = cache.cached_df(
        "ivfpq_index",
        spark,
        sf_dir,
        lambda: assigned.mapInPandas(
            encode,
            T.StructType(
                [
                    T.StructField("vec_id", T.LongType()),
                    T.StructField("cell", T.IntegerType()),
                    T.StructField("code", T.LongType()),
                ]
            ),
        ),
    )

    # --- query side: probe lists + per-(query, cell) ADC tables,
    # all driver-side over N_QUERIES rows (constant work)
    q_rows = _query_rows(spark, sf_dir)
    Q = np.stack(q_rows["embedding"].to_numpy()).astype(np.float64)
    q_ids = q_rows["vec_id"].to_numpy()
    qc_d2 = c_sq[None, :] - 2.0 * (Q @ C.T)  # (nq, ncells) L2 rank
    probe_cells = np.argsort(qc_d2, axis=1)[:, :N_PROBE]
    probes = spark.createDataFrame(
        [
            (int(q_ids[qi]), int(c))
            for qi in range(len(Q))
            for c in probe_cells[qi]
        ],
        "q_id long, cell int",
    )
    # ADC tables ONLY for the (query, probed-cell) pairs that can ever
    # be scored — (nq x N_PROBE x M x K), independent of the total
    # cell count (at production scale ncells ~ sqrt(N); an all-cells
    # table would explode on the driver). Executors resolve a
    # candidate row's (q, cell) to its table via binary search over
    # the sorted composite keys.
    nq = len(Q)
    n_cells = len(C)
    probe_keys = np.array(
        sorted(
            int(q_ids[qi]) * n_cells + int(c)
            for qi in range(nq)
            for c in probe_cells[qi]
        ),
        dtype=np.int64,
    )
    luts = np.empty((len(probe_keys), PQ_M, PQ_K))
    for qi in range(nq):
        for c in probe_cells[qi]:
            slot = int(np.searchsorted(probe_keys, int(q_ids[qi]) * n_cells + int(c)))
            r = Q[qi] - C[c]
            for m in range(PQ_M):
                diff = r[m * d_sub : (m + 1) * d_sub][None, :] - books[m]
                luts[slot, m] = (diff**2).sum(axis=1)

    # --- candidate scoring: ADC gather over (q_id, cell, code) rows;
    # the join payload is ids + 4-byte codes only
    cand = index.join(F.broadcast(probes), "cell").filter(F.col("q_id") != F.col("vec_id"))

    def adc_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            q = pdf["q_id"].to_numpy()
            cell = pdf["cell"].to_numpy().astype(np.int64)
            code = pdf["code"].to_numpy().astype(np.int64)
            # every candidate came through the probes join, so its
            # (q, cell) key is guaranteed present in probe_keys
            slot = np.searchsorted(probe_keys, q * n_cells + cell)
            adc = np.zeros(len(pdf))
            for m in range(PQ_M):
                sub_code = (code >> (4 * m)) & 0xF
                adc += luts[slot, m, sub_code]
            yield pd.DataFrame({"q_id": q, "c_id": pdf["vec_id"], "adc": adc})

    scored_cand = cand.mapInPandas(
        adc_score,
        T.StructType(
            [
                T.StructField("q_id", T.LongType()),
                T.StructField("c_id", T.LongType()),
                T.StructField("adc", T.DoubleType()),
            ]
        ),
    )
    n_cand = K * PQ_OVERSHOOT
    w_adc = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id"))
    shortlist = scored_cand.withColumn("arnk", F.row_number().over(w_adc)).filter(
        F.col("arnk") <= n_cand
    )
    qv = sources.load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cv = sources.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    reranked = (
        shortlist.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .withColumn("score", cosine_sim("q_emb", "c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return (
        reranked.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= K)
        .select("q_id", "rnk", "c_id", (F.round(F.col("score") * 1e6) / 1e6).alias("cos_sim"))
    )


def ann_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the IVF index as a TABLE partitioned by cell and
    read the per-cell manifest back from the reloaded copy — the
    reference's load-once / search-many split made concrete
    (load_skill_vectors_*.py persist vectors + index server-side;
    here the 'server' is the lakehouse: a hive-partitioned parquet
    table whose partition key is the cell id). A query probing
    nprobe cells reads exactly nprobe directories — partition
    pruning is the index traversal. Returns (cell, n_vectors); the
    recall-equivalence of searching the reloaded index is gated in
    tests."""
    from skills_vectors_spark.scratch import scratch as _scratch

    emb = sources.load_spread(spark, sf_dir, "embeddings")
    cents = ivf_centroids(spark, sf_dir)
    path = _scratch(sf_dir, "ivf_index")
    idx = assign_cells(emb, cents)
    idx.write.mode("overwrite").partitionBy("cell").parquet(path)
    # explicit schema: a zero-vector corpus writes no data file for
    # inference; the relation is identical otherwise
    reloaded = spark.read.schema(idx.schema).parquet(path)
    return (
        reloaded.groupBy("cell")
        .agg(F.count("*").alias("n_vectors"))
        .select(F.col("cell").cast("int"), "n_vectors")
    )


@register(
    "sink_ann_index",
    # Gate-column oracle (r13 promotion from rows-only, the
    # eval_backend_compare pattern): the vector total is REAL in both
    # engines — an index that drops or duplicates a vector goes red
    # against the corpus count — while the cell-bound gate is
    # Spark-computed and self-attested (cell ids are
    # quantizer-seeded, not SQL-expressible); the per-cell manifest
    # and the partition-pruning property stay unit-gated
    # (tests/test_ann.py).
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           TRUE AS cells_bounded_ok
    FROM embeddings
    """,
)
def sink_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable summary of :func:`ann_index_manifest`: total
    vectors landed in the persisted index (hash-checked against the
    corpus count — every vector indexed exactly once) and whether the
    cell set stays within the trained quantizer's N_CELLS."""
    m = ann_index_manifest(spark, sf_dir)
    # manifest rows are distinct cells, so min/max bounds alone pin
    # the cell-id range to the trained quantizer's [0, N_CELLS)
    # coalesced for the zero-cell (empty-corpus) manifest: 0 vectors
    # and a vacuously bounded cell set, matching the oracle's row
    return m.agg(
        F.coalesce(F.sum("n_vectors"), F.lit(0)).cast("long").alias("n_vectors"),
        F.coalesce(
            (F.max("cell") < F.lit(N_CELLS)) & (F.min("cell") >= F.lit(0)),
            F.lit(True),
        ).alias("cells_bounded_ok"),
    )


def stream_ann_assign_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming index maintenance: newly-arriving vectors are
    assigned to their IVF cell inside the micro-batch (broadcast
    centroids + the same Arrow matmul as the batch path) and the
    per-cell ingest counts update incrementally — how a lakehouse
    vector index absorbs a live embedding feed without rebuilds
    (new vectors land in cell partitions; the coarse quantizer
    retrains only on drift). Bounded input -> final counts equal the
    batch assignment, asserted in tests and in the registered
    summary's matches_batch gate."""
    cents = ivf_centroids(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    assigned = assign_cells(stream, cents)
    counts = assigned.groupBy("cell").count()
    from skills_vectors_spark.streaming.windows import run_to_completion

    out = run_to_completion(counts, mode="complete")
    return out.select(F.col("cell").cast("int"), F.col("count").alias("n_vectors"))


@register(
    "stream_ann_assign",
    # Gate-column oracle (r13 promotion from rows-only): the streamed
    # ingest total is REAL — a micro-batch that drops rows goes red
    # against the corpus count — and the batch-equivalence of the
    # full per-cell distribution (the unit test's assertion) rides as
    # a Spark-computed self-attested gate.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           TRUE AS matches_batch
    FROM embeddings
    """,
)
def stream_ann_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable summary of :func:`stream_ann_assign_counts`:
    total vectors ingested by the stream (hash-checked against the
    corpus count) and whether the streaming per-cell counts equal the
    batch assignment cell-for-cell (full-outer comparison, so a cell
    present on only one side fails the gate)."""
    sc = stream_ann_assign_counts(spark, sf_dir)
    emb = sources.load(spark, sf_dir, "embeddings")
    cents = ivf_centroids(spark, sf_dir)
    bc = assign_cells(emb, cents).groupBy("cell").agg(F.count("*").alias("nb"))
    j = sc.join(bc, "cell", "full_outer")
    # coalesce both aggregates for the zero-cell (empty-corpus) case:
    # 0 vectors streamed and a vacuously matching distribution, not
    # NULLs
    return j.agg(
        F.coalesce(F.sum("n_vectors"), F.lit(0)).cast("long").alias("n_vectors"),
        F.coalesce(
            F.bool_and(
                F.coalesce("n_vectors", F.lit(-1)) == F.coalesce("nb", F.lit(-2))
            ),
            F.lit(True),
        ).alias("matches_batch"),
    )


# ------------------------------------------- driver-facing gate rows
#
# The ANN operators above stay library functions (their top-k rows
# depend on seeded projections / sampled quantizers — not
# SQL-expressible), but each one is REGISTERED as a gate-column
# summary the driver can hash (r12 verdict item 5, the eval_recall_lsh
# pattern reduced to its driver-checkable core): query coverage is
# verified for REAL in both engines — n_queries must equal the
# corpus's query count and n_results must equal n_queries*K, so an
# operator that drops a query or under-fills its top-K goes red — and
# the recall-vs-exact-gold floor (BACKEND_FLOORS, same bars as
# tests/test_ann.py) rides as a Spark-computed gate column the oracle
# self-attests (TRUE), the documented gate-column caveat from SURVEY
# §2.C. Value-level recall remains cross-engine-verified where it is
# SQL-expressible (eval_recall_lsh replays the whole seeded pipeline
# in DuckDB) and unit-gated everywhere else.


def _ann_gate_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT count(*) AS nq FROM embeddings WHERE vec_id < {N_QUERIES}
    )
    SELECT CAST(nq AS BIGINT) AS n_queries,
           CAST(nq * {K} AS BIGINT) AS n_results,
           TRUE AS full_k,
           TRUE AS recall_ok
    FROM q
    """


def _ann_gate_summary(
    spark: SparkSession, sf_dir: str, topk_fn, gold_metric: str, floor: float
) -> DataFrame:
    """One-row coverage + recall-gate summary of an ANN operator: the
    operator's top-k joined against the exact gold ranking
    (ranked_knn — the reference's ground-truth full scan,
    skills_for_jobs.py:354-387), reduced to driver-hashable columns.
    Single full-outer join + one aggregation pass: the ANN top-k and
    the exact gold subtrees each execute ONCE. The previous
    three-arm shape (stats agg / semi-join / gold count) referenced
    each subtree twice, so Spark materialized the whole ANN pipeline
    AND the exact-KNN scan twice per gate row. Both sides are unique
    on (q_id, c_id) by construction (top-K pairs), so the outer join
    is 1:1 and plain counts over the markers reproduce the previous
    arm values exactly."""
    from skills_vectors_spark.operators.knn import ranked_knn

    a = topk_fn(spark, sf_dir).select("q_id", "c_id", F.lit(1).alias("in_a"))
    g = ranked_knn(spark, sf_dir, gold_metric).select(
        "q_id", "c_id", F.lit(1).alias("in_g")
    )
    j = a.join(g, ["q_id", "c_id"], "full_outer")
    return j.agg(
        F.count_distinct(F.when(F.col("in_a").isNotNull(), F.col("q_id")))
        .cast("long")
        .alias("n_queries"),
        F.count("in_a").cast("long").alias("n_results"),
        F.count(F.when(F.col("in_g").isNotNull(), F.col("in_a"))).alias("n_match"),
        F.count("in_g").alias("n_gold"),
    ).select(
        "n_queries",
        "n_results",
        (F.col("n_results") == F.col("n_queries") * K).alias("full_k"),
        # vacuously true on zero gold rows (empty corpus) — the
        # 0/0 division would otherwise render NULL, not a verdict
        F.when(F.col("n_gold") == 0, F.lit(True))
        .otherwise(F.col("n_match") / F.col("n_gold") >= floor)
        .alias("recall_ok"),
    )


@register("ann_lsh", _ann_gate_oracle())
def ann_lsh_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for :func:`ann_lsh`: coverage oracle-checked,
    recall@K vs the exact cosine gold gated at 0.8."""
    return _ann_gate_summary(
        spark, sf_dir, ann_lsh, "cosine", BACKEND_FLOORS["hyperplane_lsh"]
    )


@register("ann_ivf", _ann_gate_oracle())
def ann_ivf_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for :func:`ann_ivf`: coverage oracle-checked,
    recall@K vs the exact cosine gold gated at 0.7 (nprobe=8 of 16
    cells on a near-random corpus, same bar as tests/test_ann.py)."""
    return _ann_gate_summary(spark, sf_dir, ann_ivf, "cosine", BACKEND_FLOORS["ivf"])


@register("ann_brp_l2", _ann_gate_oracle())
def ann_brp_l2_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for :func:`ann_brp_l2`: coverage oracle-checked,
    recall@K vs the exact L2 gold gated at 0.8."""
    return _ann_gate_summary(spark, sf_dir, ann_brp_l2, "l2", BACKEND_FLOORS["brp_l2"])


@register("ann_pq", _ann_gate_oracle())
def ann_pq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for :func:`ann_pq`: coverage oracle-checked,
    recall@K vs the exact cosine gold gated at 0.6 (8-byte codes +
    ADC + exact re-rank; the quantization tier's floor)."""
    return _ann_gate_summary(spark, sf_dir, ann_pq, "cosine", BACKEND_FLOORS["pq"])


@register("ann_ivf_pq", _ann_gate_oracle())
def ann_ivf_pq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for :func:`ann_ivf_pq`: coverage oracle-checked,
    recall@K vs the exact cosine gold gated at 0.6 (bounded by the
    IVF probe recall; residual-PQ ADC + re-rank loses little more)."""
    return _ann_gate_summary(
        spark, sf_dir, ann_ivf_pq, "cosine", BACKEND_FLOORS["ivf_pq"]
    )
