"""Deduplication operator family (BASELINE.json north star: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup).

Generalizes the reference's in-list dedup (A16,
/root/reference/skills_for_jobs.py:371-379) to corpus-level content
dedup. Two tiers per technique:

  * an ORACLE-CHECKED exact formulation (inverted-index n-gram
    Jaccard, all-pairs embedding cosine) that defines ground truth,
  * the SCALE formulation (MinHash banding, SimHash chunk blocking)
    whose candidate generation is subquadratic — the only shape that
    survives 100 TB — validated against the exact tier by recall
    tests instead of SQL.

Skew note: inverted-index joins on shingles are skewed by stop-
shingles; `shingle_df` supports a document-frequency cap (drop
shingles appearing in > max_df docs) — they contribute almost no
Jaccard discrimination but dominate pair-generation cost. Off in
oracle queries (semantics!), on by default in the MinHash path.
"""

from __future__ import annotations

import random

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skills_vectors_spark import sources
from skills_vectors_spark.functions.text import (
    normalize_text,
    tokens as tokens_col,
    word_shingles,
)
from skills_vectors_spark.functions.vector import cosine_sim
from skills_vectors_spark.registry import register

# shared DuckDB fragments (tokenization contract, see textstats.py)
D_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
D_TOKENS = f"string_split({D_NORM}, ' ')"
# word 3-shingles in DuckDB: list slicing is inclusive, t[i:i+2] = 3 tokens
D_SHINGLES = (
    f"list_transform(range(1, greatest(len({D_TOKENS}) - 2, 1) + 1),"
    f" i -> array_to_string({D_TOKENS}[i:i+2], ' '))"
)

JACCARD_THRESHOLD = 0.3


@register(
    "dedup_exact",
    f"""
    SELECT md5({D_NORM}) AS text_md5,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY md5({D_NORM})
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash of normalized text: one row per
    distinct content, keeping the lowest doc_id (keep-first semantics,
    ref A16). Hash-group-by = one shuffle on a 32-byte key regardless
    of document size — the 100 TB exact-dedup idiom."""
    d = sources.load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.encode(normalize_text("text"), "UTF-8")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingle_df(
    spark: SparkSession, sf_dir: str, n: int = 3, max_df: int | None = None
) -> DataFrame:
    """(doc_id, shingle) exploded distinct word-n-gram table — the
    inverted index both Jaccard tiers build on. Input is repartitioned
    before the explode: the explode expands ~100x and the source
    parquet is a single scan partition. The default-parameter index is
    persisted per (session, sf_dir): both Jaccard tiers reference it
    3x per plan (sizes + both self-join sides), and containment /
    jaccard / clusters / apply all start from the same table — at
    corpus scale re-exploding the shingle set per reference is the
    dominant cost."""

    def build() -> DataFrame:
        d = sources.load_spread(spark, sf_dir, "documents")
        sh = d.select(
            "doc_id", F.explode(F.array_distinct(word_shingles("text", n))).alias("s")
        )
        if max_df is not None:
            df_counts = sh.groupBy("s").agg(F.count("*").alias("df"))
            sh = sh.join(
                F.broadcast(df_counts.filter(F.col("df") <= max_df)), "s", "left_semi"
            )
        return sh

    if n == 3:
        from skills_vectors_spark.cache import cached_df

        # the capped variants are persisted too: without it the
        # production Jaccard plan evaluates the capped-index subtree
        # (explode + df_counts groupBy + semi-join) THREE times — both
        # self-join sides plus the per-doc size aggregate
        stage = "shingles_3" if max_df is None else f"shingles_3_df{max_df}"
        return cached_df(stage, spark, sf_dir, build)
    return build()


# the exact Jaccard pair computation, reused by the dedup_clusters
# oracle as its edge set
_JACCARD_PAIRS_SQL = f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({D_SHINGLES}) AS s FROM documents
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(i::DOUBLE / (sa.n + sb.n - i) * 1e6) / 1e6 AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE i::DOUBLE / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
"""


def _pair_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, i, na, nb) — shingle-intersection counts plus
    both docs' set sizes for every pair sharing at least one shingle.
    The heaviest intermediate of the exact near-dup tiers, and
    IDENTICAL between them: Jaccard and containment differ only in
    the final ratio. Persisted per (session, sf_dir) so the inverted
    -index self-join runs once for both queries instead of once
    each.

    Storage bound (advisor r13): this frame is PRE-threshold — one
    row per doc pair sharing ANY shingle — which is superlinear in
    docs on a dense shared vocabulary. MEMORY_AND_DISK spills rather
    than OOMs, but the disk bound is the same frame the self-join
    must materialize as shuffle output anyway (the persist adds at
    most one extra copy of what the aggregation already wrote).
    At 100 TB the operator to run is the max_df-capped production
    variant, whose cap bounds exactly this fanout; the uncapped exact
    form exists to BE the ground truth, and any corpus it is viable
    on can hold one extra spilled copy of its own join output."""
    from skills_vectors_spark.cache import cached_df

    def build() -> DataFrame:
        sh = shingle_df(spark, sf_dir)
        sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        a = sh.select(F.col("doc_id").alias("doc_a"), "s")
        b = sh.select(F.col("doc_id").alias("doc_b"), "s")
        inter = (
            a.join(b, "s")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("i"))
        )
        sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
        szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
        return inter.join(F.broadcast(sza), "doc_a").join(F.broadcast(szb), "doc_b")

    return cached_df("pair_intersections", spark, sf_dir, build)


@register("dedup_ngram_jaccard", _JACCARD_PAIRS_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join:
    explode distinct 3-shingles, self-join on shingle (only docs
    sharing a shingle ever meet — no all-pairs), count intersections,
    Jaccard = i / (|A| + |B| - i). The ground truth the MinHash tier
    is scored against. The pair set itself is persisted per session:
    dedup_clusters and dedup_apply both start from it, and the
    pre-threshold intersection frame is shared with
    dedup_containment (`_pair_intersections`)."""
    from skills_vectors_spark.cache import cached_df

    def build() -> DataFrame:
        jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
        return (
            _pair_intersections(spark, sf_dir)
            .filter(jac >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", (F.round(jac * 1e6) / 1e6).alias("jaccard"))
        )

    return cached_df("ngram_jaccard_pairs", spark, sf_dir, build)


# production max_df (document-frequency cap): shingles shared by more
# docs than this are dropped before the self-join — they are too
# common to certify a >=JACCARD_THRESHOLD pair and are exactly the
# hot keys that make the join superlinear on dense-vocab corpora
# (measured at the 10x tier: -44% wall, zero recall loss, SCALING.md)
NGRAM_PROD_MAX_DF = 500


def dedup_ngram_jaccard_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_df-capped form of dedup_ngram_jaccard — the operator to run
    at 100 TB. The registered query keeps the cap OFF so it stays an
    exact oracle-equivalent ground truth; production turns it on
    because hot shingles (stop-shingle keys) dominate the join cost
    while contributing no certifiable pair. Same downstream contract
    (doc_a, doc_b, jaccard >= threshold). NOTE: jaccard here is over
    the CAPPED shingle sets — pair membership is what the cap
    preserves (verified by the SCALING.md recall measurement), not
    the exact jaccard value of dropped-shingle pairs."""
    sh = shingle_df(spark, sf_dir, max_df=NGRAM_PROD_MAX_DF)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(F.broadcast(sza), "doc_a")
        .join(F.broadcast(szb), "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", (F.round(jac * 1e6) / 1e6).alias("jaccard"))
    )


# ------------------------------------------------------------ MinHash + LSH

N_PERM = 128  # signature length
N_BANDS = 32  # 32 bands x 4 rows -> catches jaccard >~ 0.3 w.h.p.
# Mersenne-31 keeps (a * h + b) < 2^62: no int64 overflow under ANSI
# mode; 31-bit hash space is ample for per-permutation min-hashing.
_MERSENNE = (1 << 31) - 1


def _perms(seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(N_PERM)]


# The minhash tier's ENTIRE seeded pipeline re-expressed in DuckDB SQL
# (the eval_recall_lsh pattern, ann.py, extended to MinHash): the 128
# (a, b) permutation pairs are embedded as literals, token hashes are
# the md5-conv value both engines compute identically, the rolling
# trigram mix / per-permutation min / 4-row band keys / candidate
# self-join / exact-Jaccard verification all recompute for real. The
# shared CTE chain serves two oracles — the pair-level
# _MINHASH_PAIRS_SQL hash-checks dedup_minhash's full (doc_a, doc_b,
# jaccard) output, and _MINHASH_EVAL_SQL reduces it to the
# recall/precision gate row of eval_dedup_compare.
_POLY = 1000003
_PERMS_SQL = ", ".join(f"({k}, {a}, {b})" for k, (a, b) in enumerate(_perms()))
_MINHASH_CTES = f"""
    docs AS (
      SELECT doc_id,
             list_transform({D_TOKENS},
               t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % {_MERSENNE}) AS th
      FROM documents
    ),
    rolled AS (
      SELECT doc_id,
             CASE WHEN len(th) >= 3 THEN
               list_transform(range(1, len(th) - 1),
                 i -> ((th[i] * {_POLY} + th[i+1]) % {_MERSENNE}
                        * {_POLY} + th[i+2]) % {_MERSENNE})
             ELSE th END AS g
      FROM docs WHERE len(th) > 0
    ),
    hsx AS (
      SELECT DISTINCT doc_id, unnest(g) AS h FROM rolled
    ),
    sizes AS (
      SELECT doc_id, count(*) AS n FROM hsx GROUP BY doc_id
    ),
    perms(k, a, b) AS (VALUES {_PERMS_SQL}),
    sigrows AS (
      SELECT x.doc_id, p.k, min((p.a * x.h + p.b) % {_MERSENNE}) AS sigv
      FROM hsx x CROSS JOIN perms p
      GROUP BY x.doc_id, p.k
    ),
    bandkeys AS (
      SELECT doc_id, k // {N_PERM // N_BANDS} AS band,
             string_agg(sigv::VARCHAR, ',' ORDER BY k) AS bucket
      FROM sigrows GROUP BY doc_id, k // {N_PERM // N_BANDS}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bandkeys x
      JOIN bandkeys y ON x.band = y.band AND x.bucket = y.bucket
                     AND x.doc_id < y.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN hsx x ON x.doc_id = c.doc_a
      JOIN hsx y ON y.doc_id = c.doc_b AND y.h = x.h
      GROUP BY c.doc_a, c.doc_b
    )
"""
_MINHASH_PAIRS_SQL = f"""
    WITH {_MINHASH_CTES}
    SELECT i.doc_a, i.doc_b,
           round(i.i::DOUBLE / (sa.n + sb.n - i.i) * 1e6) / 1e6 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.i::DOUBLE / (sa.n + sb.n - i.i) >= {JACCARD_THRESHOLD}
"""


def shingle_sigs(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """(doc_id, hs array<long>, sig array<long>[N_PERM]) — hashed
    distinct shingle set AND MinHash signature from ONE fused Arrow
    pass. The JVM side tokenizes AND hashes each token (md5 prefix as
    a 32-bit int inside codegen — string hashing was the Python hot
    loop when done with per-token crc32 calls; md5-conv rather than
    xxhash64 because DuckDB computes the identical value, which is
    what lets eval_dedup_compare's oracle recompute this WHOLE
    pipeline cross-engine — the token hash is the only primitive the
    two engines must agree on, and 32 bits folded mod Mersenne-31 is
    the same signature quality xxhash64 had after its own fold);
    numpy then does everything per-shingle fully
    vectorized: a rolling polynomial n-gram mix mod Mersenne-31,
    np.unique for the set, and the (N_PERM x m) universal-hash
    modmul + row-min for the signature. Fusing the stages beat the
    previous JVM higher-order-function pipeline (array_distinct over
    concat_ws shingles) ~8x at sf0.1: HOF lambdas evaluate
    interpreted per element, while this path is one Arrow transfer +
    vectorized kernels (same lesson as the LSH plane matmul). No
    explode, no shuffle: one corpus scan at any scale; token hashes
    are pre-modded to 31 bits so every intermediate stays < 2^62 and
    int64 never overflows."""
    import pandas as pd

    # sized spread: every downstream consumer of the persisted base
    # also scans its cached partitions once per stage, so near-empty
    # ones cost twice
    d = sources.load_spread(spark, sf_dir, "documents", sized=True)
    toks = F.split(normalize_text("text"), " ")
    # hash tokens JVM-side: the transform runs in codegen, and the
    # Arrow batch then carries int64s, not strings. Cross-engine
    # contract: conv(substr(md5(t),1,8),16,10) here equals DuckDB's
    # ('0x'||substr(md5(t),1,8))::BIGINT exactly.
    tdf = d.select(
        "doc_id",
        F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(F.encode(t, "UTF-8")), 1, 8), 16, 10).cast(
                "long"
            ),
        ).alias("th"),
    )
    perms = _perms()
    A = np.array([a for a, _ in perms], dtype=np.int64)[:, None]  # (N_PERM, 1)
    B = np.array([b for _, b in perms], dtype=np.int64)[:, None]
    poly = 1000003  # rolling-mix multiplier (fits: (2^31)*1000003 < 2^62)

    def run(batches):
        for pdf in batches:
            out_id, out_hs, out_sig = [], [], []
            for did, tk in zip(pdf["doc_id"], pdf["th"]):
                if tk is None:  # NULL text: no tokens, no signature
                    continue
                m = len(tk)
                if m == 0:
                    continue
                th = np.asarray(tk, dtype=np.int64) % _MERSENNE  # 31-bit, nonneg
                if m >= n:
                    g = th[: m - n + 1]
                    for j in range(1, n):
                        g = (g * poly + th[j : m - n + 1 + j]) % _MERSENNE
                else:
                    g = th
                hs = np.unique(g)
                sig = ((hs[None, :] * A + B) % _MERSENNE).min(axis=1)
                out_id.append(did)
                out_hs.append(hs)
                out_sig.append(sig)
            yield pd.DataFrame({"doc_id": out_id, "hs": out_hs, "sig": out_sig})

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("hs", T.ArrayType(T.LongType())),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    return tdf.mapInPandas(run, schema)


@register("dedup_minhash", _MINHASH_PAIRS_SQL)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup detection — the subquadratic
    scale path (ref A11's ANN-index idea applied to dedup). Signature
    -> 32 bands of 4 rows -> candidate pairs from band-bucket
    collisions only -> exact Jaccard verification of candidates.
    Verified against dedup_ngram_jaccard by a recall unit test AND
    value-hashed pair-for-pair against _MINHASH_PAIRS_SQL, which
    replays the whole seeded pipeline (md5-conv token hashes, the 128
    embedded permutations, banding, candidate join, exact-Jaccard
    verify) in DuckDB — promoted from rows-only in r13."""
    from skills_vectors_spark.cache import cached_df

    # the fused Arrow signature pass feeds the band self-join (2x) and
    # the shingle-set verification (2x more); persist so the corpus is
    # tokenized+hashed ONCE — at 100 TB recomputing this pass per
    # reference is the dominant cost (round-1 plan showed 28 Exchanges
    # re-deriving it)
    base = cached_df("shingle_sigs", spark, sf_dir, lambda: shingle_sigs(spark, sf_dir))
    sigs = base.select("doc_id", "sig")
    sets0 = base.select("doc_id", F.col("hs").alias("ss"))
    rows_per_band = N_PERM // N_BANDS
    # band key = the EXACT 4-signature slice rendered as a short string
    # (not an xxhash64 of it): identical buckets are then identical
    # slices by construction in ANY engine, which is what lets the
    # eval_dedup_compare oracle rebuild the same candidate set in
    # DuckDB with a plain string_agg — and removes the (cosmically
    # rare) cross-tuple hash-collision candidate the hashed form could
    # admit. ~40-byte keys shuffle instead of 8-byte hashes; candidate
    # generation cost is unchanged in shape.
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            F.col("sig")[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    # candidate pairs by grouping each (band, bucket) ONCE and pairing
    # within the bucket, instead of the band self-join: the join
    # shuffled the bands frame TWICE (both sides) plus the distinct's
    # exchange; groupBy shuffles it once. Within a group doc_ids are
    # unique (a doc emits exactly one row per band), so the sorted
    # in-bucket combinations are exactly the join's doc_a < doc_b
    # pairs. The interpreted HOF pair expansion only ever sees buckets
    # that survived `size >= 2` — collision buckets, a vanishing
    # fraction at any scale — and per-bucket work is bounded by
    # bucket size, same as the join's build side was.
    # r14: the candidate frame is referenced FIVE times downstream
    # (the pair join, twice inside the cand_ids union, and the whole
    # union again under each of the two set semi-joins) — the r13
    # plan re-evaluated this band-agg + pair-expansion + distinct
    # subtree on every reference (26 Spark jobs / 75 stages for one
    # execution, the driver-measured 9.3 s row). Persisting the tiny
    # (doc_a, doc_b) result via the session cache runs it ONCE; every
    # consumer reads an InMemoryTableScan. Size is the candidate set
    # itself — two longs per colliding pair, already bounded by the
    # verify joins that must materialize it anyway.
    cand = cached_df(
        "minhash_cand",
        spark,
        sf_dir,
        lambda: (
            bands.groupBy("band", "bucket")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, (a, i) -> "
                        "transform(slice(ids, i + 2, size(ids) - i - 1), "
                        "b -> struct(a as doc_a, b as doc_b))))"
                    )
                ).alias("p")
            )
            .select("p.doc_a", "p.doc_b")
            .distinct()
        ),
    )
    # exact verification of the (few) candidates: fetch the shingle
    # SETS of just the docs that appear in some candidate pair and
    # intersect them per pair with array_intersect. The expensive
    # inverted-index self-join never runs — candidate count, not
    # corpus size, bounds this stage (per-doc sets are bounded by
    # document length, so the collect_set state is O(doc), fine at
    # any corpus scale). No broadcast hints here on purpose: each
    # candidate row carries a full shingle ARRAY, so on a near-dup-
    # heavy 100 TB corpus a forced broadcast of sets_ could exceed
    # driver/executor memory. AQE picks broadcast at runtime when the
    # candidate set is measured-small, and falls back to a shuffle
    # join when it isn't.
    # r14: sets_ is referenced twice (sa and sb) — without a persist
    # each reference re-runs the semi-join AND the cand_ids
    # union+distinct under it. Persisting the candidate docs' sets
    # (bounded by the candidate count, which the verify joins
    # materialize anyway) runs both once.
    def _build_cand_sets() -> DataFrame:
        cand_ids = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        return sets0.join(cand_ids, "doc_id", "left_semi")

    sets_ = cached_df("minhash_cand_sets", spark, sf_dir, _build_cand_sets)
    paired = cand.join(
        sets_.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa")),
        "doc_a",
    ).join(
        sets_.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb")),
        "doc_b",
    )
    i = F.size(F.array_intersect("sa", "sb"))
    jac = i.cast("double") / (F.size("sa") + F.size("sb") - i)
    return (
        paired.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", (F.round(jac * 1e6) / 1e6).alias("jaccard"))
    )


def dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via stock MLlib MinHashLSH over hashed shingle
    sets (SURVEY §2.B dedup_near) — the library counterpart of the
    hand-rolled dedup_minhash: HashingTF turns each doc's shingle set
    into a sparse binary vector, approxSimilarityJoin generates
    candidate pairs from min-hash collisions, and the reported
    distance is Jaccard on the HASHED feature space (collisions can
    perturb it slightly vs true shingle Jaccard; MLlib's hash seeds
    are not SQL-expressible, so the pairs stay a library function
    gated by an overlap unit test and the registered gate summary)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = sources.load_spread(spark, sf_dir, "documents")
    # NULL-text docs are excluded by the filter — but the filter
    # alone cannot PROTECT the MLlib UDFs: codegen subexpression
    # elimination hoists the HashingTF/LSH-hash UDF chain above the
    # null-guarding conjunct when approxSimilarityJoin merges its
    # predicates, so every row must be UDF-safe under any evaluation
    # order. NULL shingles therefore coalesce to a [''] sentinel
    # (hashes harmlessly; never NPEs, never an all-zero vector) and
    # the isNotNull predicate — which always applies semantically,
    # wherever the optimizer evaluates it — keeps those rows out of
    # the results. Found by the r13 NULL-corpus differential.
    docs = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.coalesce(
            F.array_distinct(word_shingles("text", 3)), F.array(F.lit(""))
        ).alias("shingles"),
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True)
    feat = tf.transform(docs).filter(F.expr("size(shingles) > 0"))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, threshold=1.0 - JACCARD_THRESHOLD, distCol="jd")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (F.round((1 - F.col("jd")) * 1e6) / 1e6).alias("jaccard"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


@register(
    "dedup_near",
    # Gate-column oracle (r13, the last rows-only promotion): the
    # shingled-doc count and exact-gold pair count are REAL in both
    # engines; the recall/precision gates vs DEDUP_FLOORS are
    # Spark-computed from the seeded MLlib pairs and self-attested
    # (the hash seeds are not SQL-expressible). Pair-level output
    # stays in dedup_near_pairs, unit-gated.
    f"""
    WITH gold AS ({_JACCARD_PAIRS_SQL})
    SELECT (SELECT count(*) FROM documents
             WHERE text IS NOT NULL)::BIGINT AS n_docs,
           (SELECT count(*) FROM gold)::BIGINT AS n_gold,
           TRUE AS recall_ok,
           TRUE AS precision_ok
    """,
)
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable summary of :func:`dedup_near_pairs`: input
    coverage (shingled docs) and the exact-gold pair count are
    hash-checked cross-engine, and the MLlib tier's recall/precision
    vs that gold ride as Spark-computed gates against the
    DEDUP_FLOORS bars."""
    from skills_vectors_spark.cache import cached_df

    fr, fp = DEDUP_FLOORS["mllib_minhash"]
    # persist the MLlib subtree: it is referenced twice below (found
    # rows + the gold semi-join) and approxSimilarityJoin over the
    # corpus is the dominant cost — same reuse pattern as
    # dedup_minhash's shingle_sigs base
    p = cached_df(
        "dedup_near_pairs", spark, sf_dir, lambda: dedup_near_pairs(spark, sf_dir)
    ).select("doc_a", "doc_b")
    g = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    hits = p.join(g, ["doc_a", "doc_b"], "left_semi")
    d = sources.load(spark, sf_dir, "documents")
    # n_docs = docs the MLlib path can shingle. word_shingles emits
    # >= 1 element for every non-null text (sequence(1, greatest(...,
    # 1))), so the only excludable rows are NULL text — count that
    # predicate directly instead of materializing shingles per doc
    # (the DuckDB twin is WHERE text IS NOT NULL for the same reason)
    docs = d.filter(F.col("text").isNotNull())
    lab = (
        docs.select(F.lit("d").alias("k"))
        .unionByName(g.select(F.lit("g").alias("k")))
        .unionByName(p.select(F.lit("f").alias("k")))
        .unionByName(hits.select(F.lit("h").alias("k")))
    )
    cnt = lambda tag: F.sum(F.when(F.col("k") == tag, 1).otherwise(0))  # noqa: E731
    return lab.agg(
        cnt("d").cast("long").alias("n_docs"),
        cnt("g").cast("long").alias("n_gold"),
        (
            F.round(cnt("h") / F.greatest(cnt("g"), F.lit(1)) * 1e6) / 1e6 >= fr
        ).alias("recall_ok"),
        (
            F.round(cnt("h") / F.greatest(cnt("f"), F.lit(1)) * 1e6) / 1e6 >= fp
        ).alias("precision_ok"),
    )


# ----------------------------------------------------------------- SimHash

_SIM_BITS = 60  # 15 md5 hex chars -> positive BIGINT in both engines
_SIM_HAMMING = 3  # pigeonhole: hamming<=3 => one of 4 chunks identical
# The simhash pipeline replayed in DuckDB (same cross-engine md5-conv
# token-hash contract as _MINHASH_CTES): per-bit votes via an
# unnest x range(60) cross join, sign-of-vote signature assembly,
# 15-bit chunk blocking, and bit_count(xor) hamming verification.
# CTE names are s-prefixed so the chain composes with _MINHASH_CTES
# inside eval_dedup_compare's single oracle statement.
_SIMHASH_CTES = f"""
    sdocs AS (
      SELECT doc_id,
             list_transform({D_TOKENS},
               t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS th
      FROM documents
    ),
    stok AS (
      SELECT doc_id, unnest(th) AS h FROM sdocs WHERE len(th) > 0
    ),
    sbits(b) AS (SELECT unnest(range({_SIM_BITS}))),
    svotes AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM stok CROSS JOIN sbits
      GROUP BY doc_id, b
    ),
    ssigs AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
      FROM svotes GROUP BY doc_id
    ),
    schunkpos(c) AS (SELECT unnest(range(4))),
    schunks AS (
      SELECT doc_id, sig, c,
             (sig >> ({_SIM_BITS // 4} * c)) & {(1 << (_SIM_BITS // 4)) - 1} AS chunk
      FROM ssigs CROSS JOIN schunkpos
    ),
    scand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                      x.sig AS sig_a, y.sig AS sig_b
      FROM schunks x
      JOIN schunks y ON x.c = y.c AND x.chunk = y.chunk
                    AND x.doc_id < y.doc_id
    ),
    sh_pairs AS (
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
      FROM scand
      WHERE bit_count(xor(sig_a, sig_b)) <= {_SIM_HAMMING}
    )
"""
_SIMHASH_PAIRS_SQL = f"""
    WITH {_SIMHASH_CTES}
    SELECT doc_a, doc_b, hamming FROM sh_pairs
"""


@register("dedup_simhash", _SIMHASH_PAIRS_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit signature = sign of per-bit vote over
    token hashes; candidate pairs must share one of four 15-bit
    chunks (pigeonhole: hamming<=3 implies an identical chunk);
    verified by bit_count(xor) <= 3. Token hashing and bit votes stay
    JVM-side; chunk blocking makes candidate generation subquadratic.

    The token hash is the md5-prefix conv value (60 bits — 15 hex
    chars so the BIGINT stays positive) rather than xxhash64: both
    engines compute it identically (the shingle_sigs contract), which
    is what lets _SIMHASH_PAIRS_SQL replay signatures, chunk
    blocking, and hamming verification end-to-end in DuckDB — the
    r13 promotion of this query from rows-only to a value-hashed
    oracle row. Hash quality is equivalent for vote purposes (md5
    bits are uniform); the hamming radius over 60 vs 63 vote bits is
    the same design point."""
    import pandas as pd

    d = sources.load_spread(spark, sf_dir, "documents")
    # token -> 60-bit hash stays JVM-side; the 60 per-bit votes and
    # signature assembly are one numpy shift + column-sum per Arrow
    # batch (same zero-shuffle shape as minhash_signatures — replaces
    # an explode + 60-aggregate groupBy shuffle).
    hashed = d.select(
        "doc_id",
        F.transform(
            F.split(normalize_text("text"), " "),
            lambda t: F.conv(F.substring(F.md5(F.encode(t, "UTF-8")), 1, 15), 16, 10).cast(
                "long"
            ),
        ).alias("hs"),
    )

    def run(batches):
        weights = (1 << np.arange(_SIM_BITS, dtype=np.uint64)).astype(np.uint64)
        for pdf in batches:
            ids_out, sigs_out = [], []
            for did, hs in zip(pdf["doc_id"], pdf["hs"]):
                if hs is None:  # NULL text: no tokens, no signature
                    continue
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                # bits[i, b] = bit b of token i's hash
                bits = ((h[:, None] >> np.arange(_SIM_BITS, dtype=np.uint64)) & 1).astype(
                    np.int64
                )
                votes = (2 * bits - 1).sum(axis=0)  # +1/-1 vote per bit
                sig = int(((votes > 0).astype(np.uint64) * weights).sum())
                ids_out.append(did)
                sigs_out.append(sig)
            yield pd.DataFrame({"doc_id": ids_out, "sig": sigs_out})

    sigs = hashed.mapInPandas(
        run,
        T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("sig", T.LongType())]
        ),
    )
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), (_SIM_BITS // 4) * c).bitwiseAND(
                        F.lit((1 << (_SIM_BITS // 4)) - 1)
                    )
                    for c in range(4)
                ]
            )
        ).alias("chunk_pos", "chunk"),
    )
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk_pos", "chunk"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.sig").alias("sig_a"),
            F.col("y.sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= _SIM_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# ------------------------------------------- cross-tier dedup evaluation

# Per-tier floors vs the exact n-gram-Jaccard gold — each tier's
# design point: MinHash banding + exact verification must essentially
# reproduce the gold (recall 0.8 by the banding probability bound,
# precision ~1 because candidates are verified with true Jaccard);
# MLlib MinHashLSH likewise but on the hashed feature space
# (collisions can perturb); SimHash optimizes HAMMING similarity,
# a different neighborhood than Jaccard, so its agreement floors are
# deliberately lower — it exists to catch reorder-heavy dups the
# shingle tiers miss, not to reproduce them.
DEDUP_FLOORS: dict[str, tuple[float, float]] = {
    "minhash": (0.8, 0.95),
    "mllib_minhash": (0.8, 0.8),
    "simhash": (0.5, 0.5),
}


def dedup_compare_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every approximate near-dup tier scored side-by-side against the
    exact inverted-index gold (dedup_ngram_jaccard) — pair recall and
    precision per tier, the dedup mirror of the ANN family's
    backend_compare_report. All tiers union into ONE long DataFrame
    before a single semi-join against the gold pair set."""
    gold = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    parts = [
        fn(spark, sf_dir).select(F.lit(name).alias("tier"), "doc_a", "doc_b")
        for name, fn in [
            ("minhash", dedup_minhash),
            ("mllib_minhash", dedup_near_pairs),
            ("simhash", dedup_simhash),
        ]
    ]
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    n_gold = gold.count()
    # ONE pass over the tier union (r13): the previous per_tier-agg +
    # semi-join shape referenced `allr` twice, so every approximate
    # tier's WHOLE pipeline (band grouping, chunk blocking, the MLlib
    # approxSimilarityJoin) executed twice per report — the same
    # double-subtree defect the ANN gate rows had. A left join that
    # marks gold membership lets one aggregation produce both counts:
    # gold pairs are unique on (doc_a, doc_b), so the join is 1:1 and
    # count(marker) == the old semi-join count exactly.
    marked = allr.join(
        gold.withColumn("_g", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    per_tier = marked.groupBy("tier").agg(
        F.count("*").alias("n_found"), F.count("_g").alias("n_hit")
    )
    return (
        per_tier
        .select(
            "tier",
            "n_found",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            (
                F.round(F.coalesce("n_hit", F.lit(0)) / F.lit(float(max(n_gold, 1))) * 1e6)
                / 1e6
            ).alias("recall"),
            (
                F.round(
                    F.coalesce("n_hit", F.lit(0)) / F.greatest("n_found", F.lit(1)) * 1e6
                )
                / 1e6
            ).alias("precision"),
        )
        .orderBy("tier")
    )


# eval_dedup_compare's oracle rides the same shared CTE chains as the
# dedup_minhash and dedup_simhash pair-level oracles (defined above)
# — both tiers' numerators and gate booleans are genuinely
# cross-engine, not Spark-attested. Only the mllib tier stays
# self-attested (MLlib's MinHashLSH seeds are not SQL-expressible).
_MINHASH_EVAL_SQL = f"""
    WITH {_MINHASH_CTES},
    {_SIMHASH_CTES},
    mh_pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE i.i::DOUBLE / (sa.n + sb.n - i.i) >= {JACCARD_THRESHOLD}
    ),
    gold AS ({_JACCARD_PAIRS_SQL}),
    stats AS (
      SELECT (SELECT count(*) FROM mh_pairs) AS n_found,
             (SELECT count(*) FROM mh_pairs p
                JOIN gold g ON g.doc_a = p.doc_a AND g.doc_b = p.doc_b) AS n_hit,
             (SELECT count(*) FROM gold) AS n_gold
    ),
    s_stats AS (
      SELECT (SELECT count(*) FROM sh_pairs) AS n_found,
             (SELECT count(*) FROM sh_pairs p
                JOIN gold g ON g.doc_a = p.doc_a AND g.doc_b = p.doc_b) AS n_hit,
             (SELECT count(*) FROM gold) AS n_gold
    )
    SELECT * FROM (
      SELECT 'minhash' AS tier,
             CAST(n_found AS BIGINT) AS n_found,
             CAST(n_hit AS BIGINT) AS n_hit,
             CAST({DEDUP_FLOORS["minhash"][0]} AS DOUBLE) AS recall_floor,
             CAST({DEDUP_FLOORS["minhash"][1]} AS DOUBLE) AS precision_floor,
             (round(n_hit::DOUBLE / greatest(n_gold, 1) * 1e6) / 1e6)
               >= {DEDUP_FLOORS["minhash"][0]} AS recall_ok,
             (round(n_hit::DOUBLE / greatest(n_found, 1) * 1e6) / 1e6)
               >= {DEDUP_FLOORS["minhash"][1]} AS precision_ok
      FROM stats
      UNION ALL
      SELECT 'mllib_minhash', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             CAST({DEDUP_FLOORS["mllib_minhash"][0]} AS DOUBLE),
             CAST({DEDUP_FLOORS["mllib_minhash"][1]} AS DOUBLE), TRUE, TRUE
      UNION ALL
      SELECT 'simhash',
             CAST(n_found AS BIGINT), CAST(n_hit AS BIGINT),
             CAST({DEDUP_FLOORS["simhash"][0]} AS DOUBLE),
             CAST({DEDUP_FLOORS["simhash"][1]} AS DOUBLE),
             (round(n_hit::DOUBLE / greatest(n_gold, 1) * 1e6) / 1e6)
               >= {DEDUP_FLOORS["simhash"][0]},
             (round(n_hit::DOUBLE / greatest(n_found, 1) * 1e6) / 1e6)
               >= {DEDUP_FLOORS["simhash"][1]}
      FROM s_stats
    ) ORDER BY tier
"""


@register("eval_dedup_compare", _MINHASH_EVAL_SQL)
def eval_dedup_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable verdict over :func:`dedup_compare_report` —
    per approximate tier, whether pair recall and precision vs the
    exact gold clear that tier's declared floors (the same
    evaluate-against-gold shape as the reference's recall loop,
    skills_for_jobs.py:199-211, applied to dedup).

    Attestation tiers: the MINHASH and SIMHASH rows' numerators
    (n_found, n_hit) and gates are recomputed end-to-end by the
    DuckDB oracle (_MINHASH_EVAL_SQL composes both pair-oracle CTE
    chains — the 128 embedded permutations, band keys, candidates,
    and exact-Jaccard verify for minhash; the 60-bit vote
    signatures, chunk blocking, and hamming verify for simhash).
    Only the mllib_minhash row stays self-attested (NULL numerators,
    literal gates): MLlib's MinHashLSH hash seeds are not
    SQL-expressible in DuckDB; its value-level assertions live in
    tests/test_dedup.py. The simhash gates fail honestly at the
    degraded 10x tier exactly where theory predicts — and since r13
    both engines compute that failure identically, so the row stays
    hash-equal even where the gate is FALSE."""
    is_real = F.col("tier").isin("minhash", "simhash")
    floors_r = F.create_map(*[F.lit(x) for t, (r, _) in DEDUP_FLOORS.items() for x in (t, r)])
    floors_p = F.create_map(*[F.lit(x) for t, (_, p) in DEDUP_FLOORS.items() for x in (t, p)])
    return (
        dedup_compare_report(spark, sf_dir)
        .select(
            "tier",
            F.when(is_real, F.col("n_found")).cast("long").alias("n_found"),
            F.when(is_real, F.col("n_hit")).cast("long").alias("n_hit"),
            floors_r[F.col("tier")].alias("recall_floor"),
            floors_p[F.col("tier")].alias("precision_floor"),
            # gates stay REAL for every tier (the sf0.1 simhash
            # failure must keep failing honestly); since r13 the
            # minhash AND simhash gates are recomputed by the oracle,
            # leaving only the mllib tier's TRUE literals matched at
            # the healthy sf0.01 gate
            (F.col("recall") >= floors_r[F.col("tier")]).alias("recall_ok"),
            (F.col("precision") >= floors_p[F.col("tier")]).alias("precision_ok"),
        )
        .orderBy("tier")
    )


# ------------------------------------------------- duplicate clustering


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id
    )
    SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc
    gets cluster_id = min doc_id reachable through near-dup edges
    (singletons keep their own id). This is the step that turns
    pairwise dedup output into actionable keep/drop groups ("keep
    the lowest id per cluster" = ref A16's keep-first semantics,
    /root/reference/skills_for_jobs.py:371-379, lifted to the
    transitive closure).

    Iterative min-label propagation: label(v) <- min(label(v),
    min label(neighbors)). Each round is one broadcast-sized join +
    partial-aggregating groupBy; lineage is cut with localCheckpoint
    each round (the Pregel pattern — without it the plan doubles per
    iteration); convergence is detected by a changed-count action.
    Rounds needed = component diameter, which for near-dup clusters
    is tiny (they are near-cliques); the same loop is the standard
    100 TB connected-components recipe (large-star/small-star).
    Oracle: DuckDB recursive CTE computing min reachable id."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .toDF("src", "dst")
        .localCheckpoint()  # pair mining runs once, not once per round
    )
    labels = (
        sources.load(spark, sf_dir, "documents")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .localCheckpoint()
    )
    for _ in range(20):  # diameter bound; loop exits on convergence
        prop = (
            edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = (
            labels.join(prop, "doc_id", "left")
            .select(
                "doc_id",
                F.least("cluster_id", F.coalesce("nbr_min", "cluster_id")).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            updated.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    return labels


# ------------------------------------------------- embedding-cosine near-dup

COSINE_DUP_THRESHOLD = 0.4


@register(
    "dedup_embed_cosine",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1e6)
             / 1e6 AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs formulation
    (the oracle tier; ann_lsh in operators/ann.py is the bucketed
    scale tier and dedup_embed_cosine_blas the GEMM-vectorized exact
    tier). Self-join upper triangle + a JVM higher-order dot product
    over PRE-normalized vectors: each row pays its norm once in the
    scan projection instead of per pair, so the O(n^2) join evaluates
    one 64-element fold per pair instead of three (~3x on the
    all-pairs regime, identical results to within 1 ulp). Note the
    fold is an INTERPRETED expression (ArrayAggregate is
    CodegenFallback), which is why the BLAS twin exists for bulk
    workloads — this form's value is being oracle-identical."""
    from skills_vectors_spark.functions.vector import l2_norm

    # load_spread matters doubly here: the theta-join plans as a
    # BroadcastNestedLoopJoin, and a one-row-group scan would leave
    # the STREAMED side a single partition — the entire O(n^2) pair
    # evaluation on one task (measured: 45+ min at the 10x tier on
    # one core vs minutes across 32). At cluster scale the scan is
    # already multi-split and this adds nothing.
    e = sources.load_spread(spark, sf_dir, "embeddings")

    def unit(id_alias: str, vec_alias: str) -> DataFrame:
        return e.select(
            F.col("vec_id").alias(id_alias),
            l2_norm("embedding").alias("nrm"),
            "embedding",
        ).select(
            id_alias,
            F.transform("embedding", lambda x: x.cast("double") / F.col("nrm")).alias(vec_alias),
        )

    a, b = unit("id_a", "ua"), unit("id_b", "ub")
    from skills_vectors_spark.functions.vector import dot

    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", dot("ua", "ub"))
        .filter(F.col("cos_raw") >= COSINE_DUP_THRESHOLD)
        .select("id_a", "id_b", (F.round(F.col("cos_raw") * 1e6) / 1e6).alias("cos_sim"))
    )


@register(
    "dedup_apply",
    f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id
    ),
    clusters AS (
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    )
    SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
    WHERE c.cluster_id = d.doc_id
    """,
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of the dedup family: the CLEANED corpus.
    Keep-first semantics lifted to transitive near-dup clusters
    (ref A16, skills_for_jobs.py:371-379): a document survives iff it
    is its cluster's minimum id — singletons (most of the corpus)
    survive trivially. One semi-join of the cluster assignment
    against the corpus; at 100 TB the assignment table is tiny
    relative to the corpus and broadcasts."""
    clusters = dedup_clusters(spark, sf_dir)
    keepers = clusters.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    d = sources.load(spark, sf_dir, "documents")
    return d.join(F.broadcast(keepers), "doc_id", "left_semi").select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


CONTAINMENT_THRESHOLD = 0.6


@register(
    "dedup_containment",
    f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({D_SHINGLES}) AS s FROM documents
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(i::DOUBLE / least(sa.n, sb.n) * 1e6) / 1e6 AS containment
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE i::DOUBLE / least(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A ∩ B| / min(|A|, |B|) — the
    asymmetric metric that catches a short document EMBEDDED in a
    longer one (quote inclusion, boilerplate wrapping, excerpt pages),
    which symmetric Jaccard misses because the union is dominated by
    the longer side. Same inverted-index skeleton as
    dedup_ngram_jaccard: only docs sharing a shingle are ever paired,
    one shuffle on the shingle key, one on the pair key — and the
    pair-intersection frame itself is the SAME intermediate, shared
    per session via `_pair_intersections`."""
    cont = F.col("i").cast("double") / F.least("na", "nb")
    return (
        _pair_intersections(spark, sf_dir)
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", (F.round(cont * 1e6) / 1e6).alias("containment"))
    )


# ------------------------------------------------- decontamination

N_BENCH_DOCS = 20  # first N docs act as the held-out benchmark set
DECON_TAU = 0.6  # benchmark-coverage threshold that flags a train doc


@register(
    "dedup_decontaminate",
    f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({D_SHINGLES}) AS s FROM documents
    ), bsz AS (
      SELECT doc_id, count(*) AS n FROM sh
      WHERE doc_id < {N_BENCH_DOCS} GROUP BY doc_id
    ), hits AS (
      SELECT c.doc_id AS c_id, b.doc_id AS b_id, count(*) AS i
      FROM sh c JOIN sh b ON c.s = b.s
      WHERE c.doc_id >= {N_BENCH_DOCS} AND b.doc_id < {N_BENCH_DOCS}
      GROUP BY c.doc_id, b.doc_id
    ), contaminated AS (
      SELECT DISTINCT hits.c_id FROM hits JOIN bsz ON bsz.doc_id = hits.b_id
      WHERE i::DOUBLE / bsz.n >= {DECON_TAU}
    )
    SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id >= {N_BENCH_DOCS}
      AND d.doc_id NOT IN (SELECT c_id FROM contaminated)
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-corpus stage that
    removes documents CONTAINING held-out evaluation content (the
    n-gram-overlap decontamination recipe used for large LM training
    sets; the reference has no analogue — this generalizes its A16
    keep/drop semantics to a train-vs-eval split). The first
    N_BENCH_DOCS documents stand in for the benchmark set; a training
    doc is contaminated when it covers >= DECON_TAU (60%) of some
    benchmark doc's distinct 3-shingles (coverage of the BENCHMARK
    side — the asymmetric direction that catches eval text quoted
    inside a larger training page).

    Scale shape: the benchmark shingle set is tiny and broadcasts;
    training docs meet it through the (cached) inverted index on the
    shingle key, so candidate generation touches only docs sharing a
    shingle with some benchmark doc — never an all-pairs compare. The
    contaminated-id set is again tiny and anti-joins broadcast."""
    sh = shingle_df(spark, sf_dir)
    bench = sh.filter(F.col("doc_id") < N_BENCH_DOCS)
    bsz = bench.groupBy("doc_id").agg(F.count("*").alias("n"))
    hits = (
        sh.filter(F.col("doc_id") >= N_BENCH_DOCS)
        .select(F.col("doc_id").alias("c_id"), "s")
        .join(
            F.broadcast(bench.select(F.col("doc_id").alias("b_id"), "s")), "s"
        )
        .groupBy("c_id", "b_id")
        .agg(F.count("*").alias("i"))
    )
    contaminated = (
        hits.join(F.broadcast(bsz.withColumnRenamed("doc_id", "b_id")), "b_id")
        .filter(F.col("i").cast("double") / F.col("n") >= DECON_TAU)
        .select(F.col("c_id").alias("doc_id"))
        .distinct()
    )
    d = sources.load(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= N_BENCH_DOCS
    )
    return d.join(F.broadcast(contaminated), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


# ------------------------------------------------- incremental ingest dedup

# base/delta split for the incremental-ingest scenario: docs whose
# md5 bucket falls below the boundary are the "already-ingested"
# corpus, the rest are today's increment. Same deterministic bucket
# arithmetic as scale2's mixing/split family.
INCR_BUCKETS = 10_000
INCR_BASE_FRAC = 0.8


def _incr_bucket(col):
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % INCR_BUCKETS


@register(
    "dedup_incremental",
    f"""
    WITH bk AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {INCR_BUCKETS} AS b,
             md5({D_NORM}) AS h
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, unnest({D_SHINGLES}) AS s FROM documents
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), ex AS (
      SELECT DISTINCT d.doc_id
      FROM bk d JOIN bk ba ON d.h = ba.h
      WHERE d.b >= {int(INCR_BASE_FRAC * INCR_BUCKETS)}
        AND ba.b < {int(INCR_BASE_FRAC * INCR_BUCKETS)}
    ), pairs AS (
      SELECT dd.doc_id AS ddoc, bb.doc_id AS bdoc, count(*) AS i
      FROM sh dd
      JOIN bk dk ON dk.doc_id = dd.doc_id
                AND dk.b >= {int(INCR_BASE_FRAC * INCR_BUCKETS)}
      JOIN sh bb ON bb.s = dd.s
      JOIN bk bkk ON bkk.doc_id = bb.doc_id
                 AND bkk.b < {int(INCR_BASE_FRAC * INCR_BUCKETS)}
      GROUP BY dd.doc_id, bb.doc_id
    ), near AS (
      SELECT DISTINCT p.ddoc AS doc_id
      FROM pairs p
      JOIN sz sa ON sa.doc_id = p.ddoc
      JOIN sz sb ON sb.doc_id = p.bdoc
      WHERE p.i::DOUBLE / (sa.n + sb.n - p.i) >= {JACCARD_THRESHOLD}
    )
    SELECT doc_id, 'exact' AS kind FROM ex
    UNION ALL
    SELECT doc_id, 'near' FROM near
    WHERE doc_id NOT IN (SELECT doc_id FROM ex)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the daily-crawl flow: check ONLY the
    new increment (md5 bucket >= 80% boundary) against the
    already-ingested base, never base-vs-base. Two tiers, mirroring a
    real ingest gate: exact (normalized-text md5 equality — the
    content-hash store lookup) then near (3-shingle Jaccard >=
    {JACCARD_THRESHOLD} through the inverted index). A delta doc
    reports its strongest verdict: 'exact' wins over 'near'.

    Scale shape: this is the operator whose cost is proportional to
    the INCREMENT, not the corpus — the exact tier is a hash
    equi-join of the delta's hashes against the base hash set, and
    the near tier joins only the delta's shingles (typically a few %
    of the corpus) through the shared cached inverted index
    (shingle_df), so daily ingest cost stays flat as the base grows
    (the base side streams through the join; only the delta side is
    small). Contrast dedup_ngram_jaccard, which certifies the whole
    corpus against itself."""
    d = sources.load(spark, sf_dir, "documents")
    boundary = int(INCR_BASE_FRAC * INCR_BUCKETS)
    hashed = d.select(
        "doc_id",
        _incr_bucket(F.col("doc_id")).alias("b"),
        F.md5(normalize_text("text").cast("binary")).alias("h"),
    )
    delta_h = hashed.filter(F.col("b") >= boundary)
    base_h = hashed.filter(F.col("b") < boundary)
    exact = (
        delta_h.join(base_h.select("h"), "h", "left_semi")
        .select("doc_id")
        .distinct()
    )

    sh = shingle_df(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    bucket_of = _incr_bucket(F.col("doc_id"))
    delta_sh = sh.filter(bucket_of >= boundary).select(
        F.col("doc_id").alias("ddoc"), "s"
    )
    base_sh = sh.filter(bucket_of < boundary).select(
        F.col("doc_id").alias("bdoc"), "s"
    )
    pairs = (
        delta_sh.join(base_sh, "s")
        .groupBy("ddoc", "bdoc")
        .agg(F.count("*").alias("i"))
    )
    sza = sz.select(F.col("doc_id").alias("ddoc"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("bdoc"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    # no broadcast hints on the size frames: they are per-doc rows and
    # scale with the corpus — AQE picks broadcast at test SFs from
    # measured sizes and falls back to shuffle when they outgrow the
    # threshold (the reversibility a forced hint would destroy; same
    # adjudication as the r2 minhash-verification hint removal)
    near = (
        pairs.join(sza, "ddoc")
        .join(szb, "bdoc")
        .filter(jac >= JACCARD_THRESHOLD)
        .select(F.col("ddoc").alias("doc_id"))
        .distinct()
    )
    return exact.select("doc_id", F.lit("exact").alias("kind")).unionByName(
        near.join(exact, "doc_id", "left_anti").select(
            "doc_id", F.lit("near").alias("kind")
        )
    )


# ------------------------------------------------ substring-level dedup

# exact substring dedup a la Lee et al. 2021 ("Deduplicating Training
# Data Makes Language Models Better", public): duplicated TOKEN SPANS
# across documents, not whole-document similarity. Spark rendering:
# overlapping fixed-width token windows, fingerprint each window,
# windows whose fingerprint appears in >= 2 distinct docs are
# duplicated spans. The suffix-array of the paper is a single-machine
# structure; windowed fingerprints are its standard distributed
# approximation (span resolution = stride).
SUBSTR_W = 30  # window width in tokens
SUBSTR_S = 15  # stride (50% overlap)


@register(
    "dedup_substring",
    f"""
    WITH t AS (
      SELECT doc_id, {D_TOKENS} AS toks, len({D_TOKENS}) AS n FROM documents
    ), w AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, CASE WHEN n < {SUBSTR_W} THEN 1
                             ELSE (n - {SUBSTR_W}) // {SUBSTR_S} + 1 END),
               j -> md5(array_to_string(
                      toks[(j * {SUBSTR_S} + 1):(j * {SUBSTR_S} + {SUBSTR_W})],
                      ' ')))) AS fp
      FROM t
    ), dup AS (
      SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(*) FILTER (WHERE w.fp IN (SELECT fp FROM dup)) AS BIGINT)
             AS n_dup_windows,
           round(count(*) FILTER (WHERE w.fp IN (SELECT fp FROM dup))
                 * 1.0 / count(*) * 1e6) / 1e6 AS dup_frac
    FROM w GROUP BY w.doc_id
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup report: per document, how many of
    its {SUBSTR_W}-token windows (stride {SUBSTR_S}) also appear
    verbatim in ANOTHER document — the signal behind span-level
    training-data dedup (boilerplate headers, license blocks, quoted
    passages that doc-level Jaccard misses when the rest of the doc
    differs). Cross-doc duplication only: a window repeated within
    one document does not count.

    Scale shape (r13 single-pass form): windows explode to
    ~n_tokens/stride rows per doc but immediately collapse — first to
    32-byte fingerprints, then to (fp, doc_id, window-count) grain in
    ONE map-side-combinable groupBy, so the fingerprint pass runs
    once (the r12 plan referenced the exploded frame three times —
    duplicate set, flag join, per-doc totals — recomputing the
    explode+md5 pass each time; at 100 TB that is two full extra
    corpus passes). Cross-doc duplication falls out of a count window
    over the fp key on the collapsed grain: (fp, doc) rows are unique,
    so rows-per-fp IS distinct-docs-per-fp, and the per-doc report is
    one final groupBy — two shuffles of fixed-width keys total, linear
    in corpus size, no pairwise comparison anywhere. The fingerprint
    pass reads a sized spread (r13 A/B: 0.97 -> 0.63 s at sf0.1, 1.25
    -> 1.11 s at 10x vs the full 32-way fan-out)."""
    d = sources.load_spread(spark, sf_dir, "documents", sized=True)
    t = d.select("doc_id", tokens_col("text").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    w = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, "
                f"CASE WHEN n < {SUBSTR_W} THEN 0 ELSE int((n - {SUBSTR_W}) / {SUBSTR_S}) END),"
                f" j -> md5(concat_ws(' ', slice(toks, j * {SUBSTR_S} + 1, {SUBSTR_W}))))"
            )
        ).alias("fp"),
    )
    # (fp, doc) grain: c = this doc's windows carrying this span.
    # Pre-partition by fp ALONE: hashpartitioning(fp) satisfies both
    # the (fp, doc_id) aggregation's clustered distribution (same fp
    # -> same partition, so same (fp, doc) certainly colocated) and
    # the count window's partitionBy(fp) — collapsing what would
    # otherwise be two separate exchanges (by (fp, doc_id), then by
    # fp) into the single documented fingerprint shuffle.
    g = w.repartition("fp").groupBy("fp", "doc_id").agg(F.count("*").alias("c"))
    # distinct docs per fp == rows per fp on the unique (fp, doc) grain
    nd = F.count("*").over(Window.partitionBy("fp"))
    return (
        g.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_windows"),
            F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            (F.round(F.col("n_dup_windows") / F.col("n_windows") * 1e6) / 1e6).alias(
                "dup_frac"
            ),
        )
    )
