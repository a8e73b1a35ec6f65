"""Corpus evaluation & monitoring wave (round 6): ranking-quality
metrics, distribution-drift detection, and collocation mining — the
measurement layer a training-data pipeline runs over its own corpus
and retrieval stack.

- eval_ndcg_mrr: graded ranking metrics (NDCG@K, MRR) scoring a cheap
  lexical-overlap retrieval against the exact TF-IDF gold ranking —
  the same gold-vs-candidate framing as the reference's recall loop
  (/root/reference/skills_for_jobs.py:354-387), upgraded from set
  recall to position-discounted graded relevance.
- quality_drift_psi: population-stability index between two corpus
  splits over document-length buckets — the standard drift monitor
  run before mixing a new crawl snapshot into training data.
- text_pmi_bigrams: top collocations by pointwise mutual information
  with a min-count support floor — the corpus-analysis primitive
  behind phrase vocabularies and tokenizer merges.

Scale notes: all three are aggregation-shaped. The PSI scan collapses
to |buckets| x 2 cells map-side; PMI's bigram extraction is pure
whole-stage codegen (array slice + zip, no Python), its counts are
map-side-combinable, and the support floor prunes the join inputs
before any token-key shuffle; NDCG rides the same persisted inverted
index (`_term_freqs`) and broadcast-gold joins as the TF-IDF family.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from skills_vectors_spark import sources
from skills_vectors_spark.functions.text import DUCK_TOKENS, tokens
from skills_vectors_spark.operators.relevance import (
    N_Q_DOCS,
    TOPK,
    _term_freqs,
    tfidf_pairs,
)
from skills_vectors_spark.registry import register

# Ideal DCG@K when the gold list has exactly K graded entries
# (rel = K..1): a compile-time constant, embedded as the same double
# literal in both engines (repr round-trips doubles exactly).
IDCG_AT_K = sum((TOPK + 1 - i) / math.log2(i + 1) for i in range(1, TOPK + 1))

PSI_BUCKETS = 10  # fixed bucket spine 0..9
PSI_BUCKET_W = 64.0  # chars per length bucket
PMI_MIN_COUNT = 5  # collocation support floor
PMI_TOPN = 50


@register(
    "eval_ndcg_mrr",
    f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY doc_id, tok
    ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    idf AS (
      SELECT tok, ln((n.n_docs + 1) / (count(*) + 1)) + 1 AS idf
      FROM tf, n GROUP BY tok, n.n_docs
    ), w AS (
      SELECT tf.doc_id, tf.tok, (1 + ln(tf.tf)) * idf.idf AS w
      FROM tf JOIN idf USING (tok)
    ), nrm AS (
      SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id
    ), pairs AS (
      SELECT q.doc_id AS q_doc, c.doc_id AS c_doc, sum(q.w * c.w) AS dot
      FROM w q JOIN w c ON q.tok = c.tok AND q.doc_id <> c.doc_id
      WHERE q.doc_id < {N_Q_DOCS}
      GROUP BY q.doc_id, c.doc_id
    ), ranked AS (
      SELECT q_doc, c_doc,
             row_number() OVER (PARTITION BY q_doc
                                ORDER BY round(dot / (nq.nrm * nc.nrm) * 1e6) DESC,
                                         c_doc) AS rnk
      FROM pairs
      JOIN nrm nq ON nq.doc_id = q_doc
      JOIN nrm nc ON nc.doc_id = c_doc
    ), gold AS (
      SELECT q_doc, c_doc, {TOPK} + 1 - rnk AS rel FROM ranked WHERE rnk <= {TOPK}
    ), ov AS (
      SELECT q.doc_id AS q_doc, c.doc_id AS c_doc, count(*) AS n_shared
      FROM tf q JOIN tf c ON q.tok = c.tok AND q.doc_id <> c.doc_id
      WHERE q.doc_id < {N_Q_DOCS}
      GROUP BY q.doc_id, c.doc_id
    ), cand AS (
      SELECT q_doc, c_doc,
             row_number() OVER (PARTITION BY q_doc
                                ORDER BY n_shared DESC, c_doc) AS pos
      FROM ov
    ), hits AS (
      SELECT c.q_doc, c.pos, coalesce(g.rel, 0) AS rel
      FROM cand c LEFT JOIN gold g ON g.q_doc = c.q_doc AND g.c_doc = c.c_doc
      WHERE c.pos <= {TOPK}
    )
    SELECT q_doc,
           round(sum(rel / log2(pos + 1)) / {IDCG_AT_K!r} * 1e6) / 1e6 AS ndcg,
           round(coalesce(max(CASE WHEN rel > 0 THEN 1.0 / pos END), 0) * 1e6)
             / 1e6 AS mrr,
           CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
    FROM hits GROUP BY q_doc
    """,
)
def eval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@K and MRR of a lexical-overlap retrieval scored against
    the exact TF-IDF gold ranking, per query document.

    The candidate ranking is deliberately the cheap tier (number of
    shared distinct tokens — an inverted-index count with no weights),
    exactly the production situation these metrics exist for:
    quantify how much ranking quality the cheap retrieval gives up
    versus the exact scorer. Gold relevance is graded by gold rank
    (rel = K+1-rank), so NDCG rewards putting the best documents
    first, not just finding them; MRR is the reciprocal rank of the
    first gold hit.

    Scale shape (r7 fusion, the r6 verdict's squeeze): both arms pair
    documents through the SAME token equi-join, so one fused join
    computes the weighted dot product (gold) AND the shared-token
    count (candidate) in a single aggregate (`relevance.tfidf_pairs`,
    shared with text_tfidf_sim, over the persisted `tfidf_weights`) —
    the second token join and the gold broadcast join of the r6 plan
    are gone. The two rankings are two window sorts over the same
    q_doc partitioning (one exchange); the query side is filtered to
    N_Q_DOCS docs then BROADCAST into the token join, so the
    corpus-side index streams without a shuffle; the final metric agg
    touches K x N_QUERIES rows. IDCG is the ideal permutation of the
    K graded gold entries — a compile-time constant, identical
    literal in both engines.
    """
    scored = tfidf_pairs(spark, sf_dir)
    # gold ranks at the 1e-6 grain (see text_tfidf_sim: raw-float tie
    # order is engine-dependent); the candidate key n_shared is an
    # exact integer and needs no rounding
    gold_w = Window.partitionBy("q_doc").orderBy(
        F.round(F.col("sim") * 1e6).desc(), "c_doc"
    )
    cand_w = Window.partitionBy("q_doc").orderBy(F.col("n_shared").desc(), "c_doc")
    both = scored.withColumn("grnk", F.row_number().over(gold_w)).withColumn(
        "pos", F.row_number().over(cand_w)
    )
    hits = both.filter(F.col("pos") <= TOPK).select(
        "q_doc",
        "pos",
        F.when(F.col("grnk") <= TOPK, F.lit(TOPK + 1) - F.col("grnk"))
        .otherwise(F.lit(0))
        .alias("rel"),
    )
    return hits.groupBy("q_doc").agg(
        (
            F.round(
                F.sum(F.col("rel") / F.log2(F.col("pos") + 1))
                / F.lit(IDCG_AT_K)
                * 1e6
            )
            / 1e6
        ).alias("ndcg"),
        (
            F.round(
                F.coalesce(
                    F.max(F.when(F.col("rel") > 0, F.lit(1.0) / F.col("pos"))),
                    F.lit(0.0),
                )
                * 1e6
            )
            / 1e6
        ).alias("mrr"),
        F.sum((F.col("rel") > 0).cast("long")).alias("n_hits"),
    )


@register(
    "quality_drift_psi",
    f"""
    WITH b AS (
      SELECT CAST(least(9, floor(n_chars / {PSI_BUCKET_W!r})) AS BIGINT) AS bucket,
             doc_id % 2 AS side
      FROM documents
    ), cnt AS (
      SELECT bucket,
             sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_b
      FROM b GROUP BY bucket
    ), spine AS (
      SELECT unnest(generate_series(0, {PSI_BUCKETS - 1})) AS bucket
    ), f AS (
      SELECT s.bucket, coalesce(c.n_a, 0) AS n_a, coalesce(c.n_b, 0) AS n_b
      FROM spine s LEFT JOIN cnt c ON c.bucket = s.bucket
    ), tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM f),
    p AS (
      SELECT bucket, n_a, n_b,
             (n_a + 0.5) / (ta + {PSI_BUCKETS / 2.0!r}) AS pa,
             (n_b + 0.5) / (tb + {PSI_BUCKETS / 2.0!r}) AS pb
      FROM f CROSS JOIN tot
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(pa * 1e6) / 1e6 AS pa, round(pb * 1e6) / 1e6 AS pb,
           round((pa - pb) * ln(pa / pb) * 1e6) / 1e6 AS psi_term,
           round(sum((pa - pb) * ln(pa / pb)) OVER () * 1e6) / 1e6 AS psi_total
    FROM p
    """,
)
def quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index between two corpus splits (even vs
    odd doc_id — the stand-in for "reference snapshot vs new crawl")
    over fixed document-length buckets, with Laplace smoothing so
    empty buckets contribute finite terms: the drift monitor a data
    pipeline runs before admitting a new batch into the training mix.
    One row per bucket with both split probabilities and the PSI
    contribution, plus the total (PSI < 0.1 is the conventional
    "stable" threshold).

    Scale shape: ONE codegen scan collapses map-side into at most
    |buckets| x 2 cells (the conditional sums combine locally before
    the single tiny exchange); the fixed 10-row bucket spine makes
    the output schema data-independent, and everything after the
    first agg is constant-size work regardless of corpus size.
    """
    docs = sources.load(spark, sf_dir, "documents")
    return _psi_report(spark, _psi_bucket_counts(docs))


def _psi_bucket_counts(docs: DataFrame) -> DataFrame:
    """(bucket, n_a, n_b) split counts — the aggregation shared by the
    batch monitor and its streaming twin (identical expressions, so
    stream==batch equality is by construction, not by coincidence)."""
    return (
        docs.select(
            F.least(
                F.lit(9), F.floor(F.col("n_chars") / F.lit(PSI_BUCKET_W))
            ).alias("bucket"),
            (F.col("doc_id") % 2).alias("side"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("n_b"),
        )
    )


def _psi_report(spark: SparkSession, cnt: DataFrame) -> DataFrame:
    """Spine-join + smoothing + PSI terms over final (bucket, n_a,
    n_b) counts — constant-size post-processing shared by the batch
    and streaming monitors."""
    eps = PSI_BUCKETS / 2.0  # 0.5 per bucket over the fixed spine
    spine = spark.range(PSI_BUCKETS).select(F.col("id").alias("bucket"))
    f = spine.join(F.broadcast(cnt), "bucket", "left").select(
        "bucket",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    tot = Window.partitionBy()
    pa = (F.col("n_a") + 0.5) / (F.sum("n_a").over(tot) + F.lit(eps))
    pb = (F.col("n_b") + 0.5) / (F.sum("n_b").over(tot) + F.lit(eps))
    term = (pa - pb) * F.log(pa / pb)
    return f.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (F.round(pa * 1e6) / 1e6).alias("pa"),
        (F.round(pb * 1e6) / 1e6).alias("pb"),
        (F.round(term * 1e6) / 1e6).alias("psi_term"),
        (F.round(F.sum(term).over(tot) * 1e6) / 1e6).alias("psi_total"),
    )


@register(
    "text_pmi_bigrams",
    f"""
    WITH toks AS (SELECT {DUCK_TOKENS} AS l FROM documents),
    bi AS (
      SELECT unnest(l[1:len(l) - 1]) AS w1, unnest(l[2:len(l)]) AS w2 FROM toks
    ), ab AS (
      SELECT w1, w2, count(*) AS cnt_ab FROM bi GROUP BY w1, w2
      HAVING count(*) >= {PMI_MIN_COUNT}
    ), uni AS (
      SELECT tok, count(*) AS cnt
      FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY tok
    ), tot AS (
      SELECT (SELECT count(*) FROM bi) AS n_bi,
             (SELECT sum(cnt) FROM uni) AS n_uni
    ), scored AS (
      SELECT ab.w1, ab.w2, ab.cnt_ab,
             round(ln(
               (ab.cnt_ab / CAST(tot.n_bi AS DOUBLE))
               / ((ua.cnt / CAST(tot.n_uni AS DOUBLE))
                  * (ub.cnt / CAST(tot.n_uni AS DOUBLE)))
             ) * 1e6) / 1e6 AS pmi
      FROM ab
      JOIN uni ua ON ua.tok = ab.w1
      JOIN uni ub ON ub.tok = ab.w2
      CROSS JOIN tot
    ), top AS (
      SELECT * FROM scored ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOPN}
    )
    SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rnk,
           w1, w2, CAST(cnt_ab AS BIGINT) AS cnt_ab, pmi
    FROM top
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information:
    pmi(a,b) = ln(p(a,b) / (p(a) p(b))) over consecutive token pairs,
    with a min-count support floor so rare accidental pairs can't
    dominate — the phrase-mining primitive behind multi-word
    vocabulary entries and tokenizer merge candidates.

    Scale shape: bigram extraction never leaves whole-stage codegen
    (array slice + zip + explode — no Python worker); both count
    layers are map-side-combinable groupBys; the support floor prunes
    the bigram side BEFORE the two unigram joins, so only pairs that
    already matter shuffle on token keys; corpus totals are 1-row
    broadcasts and the final top-N is TakeOrdered (sort K, not sort
    N). Ordering ties break on the ROUNDED pmi then (w1, w2), so the
    cross-engine order is exact.
    """
    docs = sources.load(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("l"))
    bi = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("l", 1, F.size("l") - 1).alias("w1"),
                F.slice("l", 2, F.size("l") - 1).alias("w2"),
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    ab = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= PMI_MIN_COUNT)
    )
    tf = _term_freqs(spark, sf_dir)
    uni = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    tot = bi.agg(F.count("*").alias("n_bi")).crossJoin(
        tf.agg(F.sum("tf").alias("n_uni"))
    )
    ua = uni.select(F.col("tok").alias("w1"), F.col("cnt").alias("cnt_a"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("cnt").alias("cnt_b"))
    pmi = F.log(
        (F.col("cnt_ab") / F.col("n_bi").cast("double"))
        / (
            (F.col("cnt_a") / F.col("n_uni").cast("double"))
            * (F.col("cnt_b") / F.col("n_uni").cast("double"))
        )
    )
    top = (
        ab.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "cnt_ab", (F.round(pmi * 1e6) / 1e6).alias("pmi")
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOPN)
    )
    w = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return top.select(
        F.row_number().over(w).cast("long").alias("rnk"),
        "w1",
        "w2",
        F.col("cnt_ab").cast("long").alias("cnt_ab"),
        "pmi",
    )


@register(
    "stream_drift_psi",
    # same oracle as quality_drift_psi: the streaming monitor's final
    # state must equal the one-shot batch computation exactly —
    # micro-batch-merged counts are checked cell-for-cell through the
    # identical PSI post-processing
    f"""
    WITH b AS (
      SELECT CAST(least(9, floor(n_chars / {PSI_BUCKET_W!r})) AS BIGINT) AS bucket,
             doc_id % 2 AS side
      FROM documents
    ), cnt AS (
      SELECT bucket,
             sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_b
      FROM b GROUP BY bucket
    ), spine AS (
      SELECT unnest(generate_series(0, {PSI_BUCKETS - 1})) AS bucket
    ), f AS (
      SELECT s.bucket, coalesce(c.n_a, 0) AS n_a, coalesce(c.n_b, 0) AS n_b
      FROM spine s LEFT JOIN cnt c ON c.bucket = s.bucket
    ), tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM f),
    p AS (
      SELECT bucket, n_a, n_b,
             (n_a + 0.5) / (ta + {PSI_BUCKETS / 2.0!r}) AS pa,
             (n_b + 0.5) / (tb + {PSI_BUCKETS / 2.0!r}) AS pb
      FROM f CROSS JOIN tot
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(pa * 1e6) / 1e6 AS pa, round(pb * 1e6) / 1e6 AS pb,
           round((pa - pb) * ln(pa / pb) * 1e6) / 1e6 AS psi_term,
           round(sum((pa - pb) * ln(pa / pb)) OVER () * 1e6) / 1e6 AS psi_total
    FROM p
    """,
)
def stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PSI drift monitor maintained BY A STREAM: documents arrive
    through a Structured Streaming file source and the split counts
    are a real streaming aggregation (complete mode); the final
    micro-batch-merged state flows through the SAME spine-join/
    smoothing/PSI post-processing as the batch monitor. The batch
    oracle checks mergeability end-to-end: streamed counts must equal
    the one-shot batch computation cell-for-cell — the
    stream_cms_counters pattern applied to drift monitoring, which is
    how a production pipeline actually watches an INCOMING corpus
    feed rather than re-scanning the lake per check.

    Scale shape: streaming state is |buckets| rows x 2 counters —
    constant regardless of stream length (the reason complete mode is
    safe); per-micro-batch work is the same map-side-combinable
    conditional sum as the batch scan.
    """
    from skills_vectors_spark.streaming.windows import run_to_completion

    docs = (
        spark.readStream.schema(sources.SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    cnt = run_to_completion(_psi_bucket_counts(docs))
    return _psi_report(spark, cnt)


ZIPF_TOPN = 1000  # rank-frequency fit over the top-N tokens


@register(
    "text_zipf_slope",
    f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY doc_id, tok
    ), freq AS (
      SELECT tok, CAST(sum(tf) AS BIGINT) AS freq FROM tf GROUP BY tok
    ), ranked AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE))
               AS x,
             ln(CAST(freq AS DOUBLE)) AS y
      FROM freq
      ORDER BY freq DESC, tok LIMIT {ZIPF_TOPN}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tokens,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x)) * 1e6) / 1e6
             AS slope,
           round((sum(y) - (count(*) * sum(x * y) - sum(x) * sum(y))
                           / (count(*) * sum(x * x) - sum(x) * sum(x))
                           * sum(x)) / count(*) * 1e6) / 1e6 AS intercept
    FROM ranked
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: OLS slope
    and intercept of ln(frequency) against ln(rank) for the top-N
    tokens — the corpus-health diagnostic a data pipeline runs to
    spot template spam or boilerplate floods (natural text slopes
    ~ -1; machine-generated repetition bends the curve). Identical
    closed-form normal-equation arithmetic in both engines,
    deterministic rank tie-break by token.

    Scale shape: rides the persisted `_term_freqs` inverted index;
    the vocabulary agg is map-side-combinable; the top-N truncation
    is a TakeOrdered over |vocab| rows (never the corpus); the fit is
    a 5-sum aggregate over N rows on the driver-adjacent tail."""
    tf = _term_freqs(spark, sf_dir)
    freq = tf.groupBy("tok").agg(F.sum("tf").cast("long").alias("freq"))
    top = freq.orderBy(F.col("freq").desc(), "tok").limit(ZIPF_TOPN)
    rw = Window.orderBy(F.col("freq").desc(), "tok")
    ranked = top.select(
        F.log(F.row_number().over(rw).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    n, sx, sy = F.count("*"), F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return ranked.agg(
        n.cast("long").alias("n_tokens"),
        (F.round(slope * 1e6) / 1e6).alias("slope"),
        (F.round((sy - slope * sx) / n * 1e6) / 1e6).alias("intercept"),
    )
