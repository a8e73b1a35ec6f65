"""Sparse text relevance: TF-IDF similarity and BM25 search.

The dense-vector family (knn/ann) finds neighbors in embedding space;
this module is its sparse twin — the lexical similarity/search tier
every corpus pipeline keeps alongside embeddings (hybrid retrieval).
Same computational skeleton as dedup_ngram_jaccard: explode to an
inverted index, equi-join on term, aggregate per pair — never an
all-pairs comparison.

Scale notes: the term join is the classic skewed workload (stop-words
are hot keys). The standard lever is a document-frequency cap that
drops terms too common to rank and too hot to join — implemented as
`max_df` in the dedup family's shingle_df; kept OFF here so the
declared queries stay cap-free and oracle-equivalent (idf already
drives near-zero weight to those terms, so the cap is a cost knob,
not a quality knob). Weights, norms, and scores are all single-pass
grouped aggregations; the query side is a filtered subset broadcast
into the index join.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skills_vectors_spark import sources
from skills_vectors_spark.cache import cached_df as _cached
from skills_vectors_spark.functions.text import DUCK_TOKENS, py_tokens
from skills_vectors_spark.registry import register

# vocab-sized dimension frames (idf weights, unigram probabilities)
# are broadcast-hinted only while the corpus is LOCALLY small: at
# 100 TB the vocabulary is itself huge (Heaps' law, but hundreds of
# millions of tokens on web text) and forcing a broadcast would be
# wrong — off a local master the hint is omitted and AQE picks the
# strategy from the runtime size it observes.
BCAST_VOCAB_MAX_CORPUS = 64 << 20

N_Q_DOCS = 10  # tf-idf: first N docs act as similarity queries
TOPK = 10
BM25_TERMS = ("vector", "hash", "join")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPN = 20


_TF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("tok", T.StringType()),
        T.StructField("tf", T.LongType()),
        T.StructField("dl", T.LongType()),
    ]
)


def _term_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, tf, dl) term frequencies from the normalized text
    — the inverted-index base all scorers share, carrying each doc's
    total length dl alongside (the Counter pass knows it for free, and
    shipping it as a column deletes the per-doc groupBy + doc_id join
    BM25 otherwise needs to recover it — one exchange and one join
    gone from every dl-consuming scorer). Persisted per (session,
    sf_dir): every consumer references it 2-4x in one plan.

    Built as a fused Arrow pass (tokenize + per-doc Counter inside
    mapInPandas) rather than explode+groupBy: a doc's tokens never
    leave the partition that read it, so the exchange the groupBy
    needed disappears entirely — the same fusion that bought the
    MinHash signature pass its 8x. Shuffles only happen downstream,
    on the already-collapsed (doc, tok, tf) rows. Tokens come from
    functions.text.py_tokens, the oracles' DUCK_TOKENS in Python."""

    def build() -> DataFrame:
        # sized spread: the tokenize pass is the measured case behind
        # sources.BYTES_PER_TASK
        d = sources.load_spread(spark, sf_dir, "documents", sized=True)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from collections import Counter

            for pdf in batches:
                ids: list[int] = []
                toks: list[str] = []
                tfs: list[int] = []
                dls: list[int] = []
                for did, text in zip(pdf["doc_id"], pdf["text"]):
                    if text is None:
                        # DUCK_TOKENS (string_split of NULL) unnests to
                        # no rows in the oracle; mirror that, don't raise.
                        continue
                    counts = Counter(py_tokens(text))
                    dl = sum(counts.values())
                    for t, n in counts.items():
                        ids.append(did)
                        toks.append(t)
                        tfs.append(n)
                        dls.append(dl)
                yield pd.DataFrame(
                    {"doc_id": ids, "tok": toks, "tf": tfs, "dl": dls}
                )

        return d.select("doc_id", "text").mapInPandas(run, _TF_SCHEMA)

    return _cached("tf", spark, sf_dir, build)


def _vocab_bcast(sf_dir: str, df: DataFrame) -> DataFrame:
    """Broadcast-hint a vocab-sized dimension frame (idf weights,
    unigram probabilities) iff the corpus is locally small (<
    BCAST_VOCAB_MAX_CORPUS under a local master). Removes the planner's
    shuffle on BOTH sides of the token join at test tiers — AQE only
    converts the join AFTER the exchanges are staged — while a
    cluster gets no hint at all: at 100 TB the vocabulary is too
    large to force into executor memory, and AQE decides from
    observed runtime sizes."""
    spark = df.sparkSession
    size = sources.plan_bytes(spark, sources.load(spark, sf_dir, "documents"))
    if size is not None and size < BCAST_VOCAB_MAX_CORPUS:
        return F.broadcast(df)
    return df


def tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, w) TF-IDF weights over the inverted index
    (log-damped tf, smoothed idf) — the scorer base shared by
    text_tfidf_sim and eval_ndcg_mrr. Persisted per (session, sf_dir):
    each consumer references it 2-3x in one plan, and sharing it
    across the two queries makes the gold arm's warm cost one cache
    scan."""

    def build() -> DataFrame:
        tf = _term_freqs(spark, sf_dir)
        n_docs = tf.select(F.count_distinct("doc_id").alias("n_docs"))
        idf = (
            tf.groupBy("tok")
            .agg(F.count("*").alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .select(
                "tok", (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1).alias("idf")
            )
        )
        return tf.join(_vocab_bcast(sf_dir, idf), "tok").select(
            "doc_id", "tok", ((1 + F.log("tf")) * F.col("idf")).alias("w")
        )

    return _cached("tfidf_w", spark, sf_dir, build)


def tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_doc, c_doc, sim, n_shared) for every query doc (doc_id <
    N_Q_DOCS) and every other doc sharing a token with it: TF-IDF
    cosine over `tfidf_weights` and the shared distinct-token count.
    One token join serves both text_tfidf_sim (sim) and eval_ndcg_mrr
    (sim as gold, n_shared as the cheap candidate ranking). The
    weights are referenced 3x (query side, corpus side, norms), which
    is why tfidf_weights is persisted. The query side is filtered
    before the join and broadcast, so the corpus side streams."""
    w = tfidf_weights(spark, sf_dir)
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    q = w.filter(F.col("doc_id") < N_Q_DOCS).select(
        F.col("doc_id").alias("q_doc"), "tok", F.col("w").alias("wq")
    )
    c = w.select(F.col("doc_id").alias("c_doc"), "tok", F.col("w").alias("wc"))
    pairs = (
        F.broadcast(q)
        .join(c, "tok")
        .filter(F.col("q_doc") != F.col("c_doc"))
        .groupBy("q_doc", "c_doc")
        .agg(
            F.sum(F.col("wq") * F.col("wc")).alias("dot"),
            F.count("*").alias("n_shared"),
        )
    )
    nq = nrm.select(F.col("doc_id").alias("q_doc"), F.col("nrm").alias("nq"))
    nc = nrm.select(F.col("doc_id").alias("c_doc"), F.col("nrm").alias("nc"))
    return (
        pairs.join(F.broadcast(nq), "q_doc")
        .join(F.broadcast(nc), "c_doc")
        .select(
            "q_doc", "c_doc", (F.col("dot") / (F.col("nq") * F.col("nc"))).alias("sim"), "n_shared"
        )
    )


@register(
    "text_tfidf_sim",
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
    ), scored AS (
      SELECT q_doc, c_doc, dot / (nq.nrm * nc.nrm) AS sim,
             row_number() OVER (PARTITION BY q_doc
                                ORDER BY round(dot / (nq.nrm * nc.nrm) * 1e6) DESC,
                                         c_doc) AS rnk
      FROM pairs
      JOIN nrm nq ON nq.doc_id = q_doc
      JOIN nrm nc ON nc.doc_id = c_doc
    )
    SELECT q_doc, CAST(rnk AS BIGINT) AS rnk, c_doc,
           round(sim * 1e6) / 1e6 AS sim
    FROM scored WHERE rnk <= {TOPK}
    """,
)
def text_tfidf_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K most-similar documents per query doc under TF-IDF cosine
    (log-damped tf, smoothed idf). Sparse formulation: weights join on
    token through the inverted index, so only docs SHARING a term are
    ever paired, and the per-pair work is a sum of products — the
    lexical mirror of knn_exact's dense cosine. The query side is
    filtered before the join (broadcast), the corpus side streams."""
    scored = tfidf_pairs(spark, sf_dir)
    # rank at the 1e-6 output grain (the displayed sim IS the rank
    # key): raw-float ranking makes tie order engine-dependent when
    # per-pair summation orders differ at the last ulp — the r13
    # duplicated-corpus differential finding; ties break by c_doc
    win = Window.partitionBy("q_doc").orderBy(
        F.round(F.col("sim") * 1e6).desc(), F.col("c_doc")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= TOPK)
        .select("q_doc", "rnk", "c_doc", (F.round(F.col("sim") * 1e6) / 1e6).alias("sim"))
    )


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) BM25 scores for the fixed query term set —
    the scorer shared by text_bm25_search (ranked top-N) and
    search_hybrid_rrf (lexical arm). The term filter prunes the
    inverted index BEFORE any join; document length rides the index
    as the dl column (emitted by the same Counter pass that builds
    tf), so no per-doc groupBy or doc_id join is needed to recover
    it, and the corpus stats collapse to ONE aggregate over the index
    (n_docs = distinct docs; avgdl = sum(tf)/n_docs — exact integer
    arithmetic until the single division, identical to the oracle's
    avg over per-doc lengths)."""
    tf = _term_freqs(spark, sf_dir)
    # ONE aggregate over the persisted index yields every corpus
    # statistic BM25 needs — n_docs, total token mass, and each query
    # term's document frequency as a conditional count (tf holds one
    # row per (doc, tok), so rows with tok = t ARE t's df). All exact
    # integers, so the idf/avgdl doubles derived below are
    # bit-identical to the oracle's independently-grouped versions.
    # This replaces the former separate stats agg + per-term groupBy
    # + idf broadcast join: one exchange and one join fewer on every
    # bm25-scored plan (text_bm25_search + search_hybrid_rrf's arm).
    stats = tf.agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.sum("tf").alias("sumtf"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    # per-row idf: a CASE over the broadcast stats row — same
    # log(1 + (N - df + 0.5)/(df + 0.5)) text as the oracle
    idf_case = None
    for i, t in enumerate(BM25_TERMS):
        e = F.log(
            1
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
        )
        idf_case = (
            F.when(F.col("tok") == t, e)
            if idf_case is None
            else idf_case.when(F.col("tok") == t, e)
        )
    avgdl = F.col("sumtf") / F.col("n_docs")
    term_score = idf_case * F.col("tf") * (BM25_K1 + 1) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)
    )
    return (
        tf.filter(F.col("tok").isin(*BM25_TERMS))
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
    )


@register(
    "text_bm25_search",
    f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY doc_id, tok
    ), dl AS (
      SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
    ), stats AS (
      SELECT (SELECT count(*) FROM dl) AS n_docs,
             (SELECT avg(dl) FROM dl) AS avgdl
    ), qtf AS (
      SELECT doc_id, tok, tf FROM tf
      WHERE tok IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
    ), idf AS (
      SELECT tok, ln(1 + (stats.n_docs - count(*) + 0.5) / (count(*) + 0.5)) AS idf
      FROM qtf, stats GROUP BY tok, stats.n_docs
    ), scored AS (
      SELECT qtf.doc_id,
             sum(idf.idf * qtf.tf * ({BM25_K1} + 1)
                 / (qtf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
             ) AS score
      FROM qtf
      JOIN idf USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY qtf.doc_id
    )
    SELECT doc_id, round(score * 1e6) / 1e6 AS score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
    FROM scored
    ORDER BY rnk LIMIT {BM25_TOPN}
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search: score every document for a fixed term set
    and return the top hits — the classic lexical retrieval scorer
    (k1={BM25_K1}, b={BM25_B}). The final top-N is a TakeOrdered, not
    a full sort; scoring lives in :func:`bm25_scores`."""
    scored = bm25_scores(spark, sf_dir)
    win = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= BM25_TOPN)
        .select("doc_id", (F.round(F.col("score") * 1e6) / 1e6).alias("score"), "rnk")
        .orderBy("rnk")
    )


@register(
    "quality_perplexity",
    f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY doc_id, tok
    ), tot AS (SELECT sum(tf) AS n FROM tf),
    p AS (
      SELECT tok, sum(tf) / tot.n AS p FROM tf, tot GROUP BY tok, tot.n
    )
    SELECT tf.doc_id,
           round(sum(tf.tf * -ln(p.p)) / sum(tf.tf) * 1e6) / 1e6 AS avg_nll,
           CAST(sum(tf.tf) AS BIGINT) AS n_tok
    FROM tf JOIN p USING (tok)
    GROUP BY tf.doc_id
    """,
)
def quality_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model surprisal per document: train token
    probabilities on the corpus itself (one grouped agg + one scalar
    broadcast), then score each doc's token-weighted mean negative
    log-likelihood — the classic perplexity-style quality filter
    (documents full of rare/garbled tokens score high and get cut;
    the heavy-tailed real-corpus version of quality_score's
    heuristics). Model "training" and scoring are the same
    inverted-index shapes as TF-IDF: no new machinery, one extra
    join on the token key."""
    tf = _term_freqs(spark, sf_dir)
    tot = tf.agg(F.sum("tf").alias("n"))
    p = (
        tf.groupBy("tok")
        .agg(F.sum("tf").alias("ctok"))
        .crossJoin(F.broadcast(tot))
        .select("tok", (F.col("ctok") / F.col("n")).alias("p"))
    )
    return (
        tf.join(_vocab_bcast(sf_dir, p), "tok")
        .groupBy("doc_id")
        .agg(
            (
                F.round(F.sum(F.col("tf") * -F.log("p")) / F.sum("tf") * 1e6) / 1e6
            ).alias("avg_nll"),
            F.sum("tf").cast("long").alias("n_tok"),
        )
    )


# ------------------------------------------------------ hybrid retrieval

RRF_K = 60  # standard reciprocal-rank-fusion constant
HYBRID_TOPN = 20
HYBRID_QUERY_VEC = 0  # dense query = embedding of vec_id 0
# Truncated-list RRF: each arm contributes only its top-C candidates
# (the standard production form — fusing full corpus rankings adds
# nothing past the fusion depth but forces a global sort). C >> TOPN
# so truncation can't perturb the fused top-N in practice, and the
# DuckDB oracle computes the identical truncated semantics.
HYBRID_ARM_C = 100


@register(
    "search_hybrid_rrf",
    f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY doc_id, tok
    ), dl AS (
      SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
    ), stats AS (
      SELECT (SELECT count(*) FROM dl) AS n_docs,
             (SELECT avg(dl) FROM dl) AS avgdl
    ), qtf AS (
      SELECT doc_id, tok, tf FROM tf
      WHERE tok IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
    ), idf AS (
      SELECT tok, ln(1 + (stats.n_docs - count(*) + 0.5) / (count(*) + 0.5)) AS idf
      FROM qtf, stats GROUP BY tok, stats.n_docs
    ), lex_scored AS (
      SELECT qtf.doc_id,
             sum(idf.idf * qtf.tf * ({BM25_K1} + 1)
                 / (qtf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
             ) AS s
      FROM qtf JOIN idf USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY qtf.doc_id
    ), lex AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM lex_scored
      ) WHERE r <= {HYBRID_ARM_C}
    ), qv AS (
      SELECT embedding FROM embeddings WHERE vec_id = {HYBRID_QUERY_VEC}
    ), dense AS (
      SELECT doc_id, r FROM (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (
                 ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                 qv.embedding::DOUBLE[]) DESC,
                          e.vec_id) AS r
        FROM embeddings e CROSS JOIN qv
      ) WHERE r <= {HYBRID_ARM_C}
    ), fused AS (
      SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
             coalesce(1.0 / ({RRF_K} + l.r), 0) + coalesce(1.0 / ({RRF_K} + d.r), 0) AS f
      FROM lex l FULL JOIN dense d ON l.doc_id = d.doc_id
    )
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY f DESC, doc_id) AS BIGINT) AS rnk,
           round(f * 1e6) / 1e6 AS rrf
    FROM fused ORDER BY rnk LIMIT {HYBRID_TOPN}
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the BM25 lexical
    arm and a dense cosine arm (query = one corpus embedding) each
    rank documents independently, then fuse as sum of 1/(K + rank) —
    the standard modern hybrid-search combiner (rank-based, so the
    two arms' incomparable score scales never need calibration; the
    reference runs lexical-free dense search only, this is the
    composition every production retrieval stack adds on top).

    Scale: each arm is the already-scaled operator (term-pruned
    inverted index / broadcast query vector over a linear scan), and
    each arm is TRUNCATED to its top-C candidates immediately after
    its rank window — the rank-filter-right-after-window shape that
    Catalyst rewrites (LimitPushDownThroughWindow) to a
    TakeOrderedAndProject below the window: per-partition top-C, then
    a C*nPart-row merge, so no arm ever moves the full corpus through
    a single-partition sort. The residual Window then ranks <=C rows.
    The fusion is a UNION of the two <=C-row rank lists followed by a
    sum per doc — trivially small at any corpus size (asserted in
    tests/test_plans). Union+sum, not a full outer join: a doc's
    fused score is the sum of its (at most two) arm contributions,
    and IEEE addition of <=2 addends is order-insensitive, so the
    result is bit-identical to the join-coalesce form while the
    plan drops the join exchange entirely (one 2C-row hash agg
    remains). The dense arm reads the corpus through load_spread:
    the per-row interpreted HOF cosine is exactly the CPU-bound
    single-task shape the one-row-group local scan starves (round-8
    finding); at cluster scale the spread is a no-op."""
    from skills_vectors_spark.functions.vector import cosine_sim

    lex = bm25_scores(spark, sf_dir)
    w_lex = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lex_r = lex.select("doc_id", F.row_number().over(w_lex).alias("r")).filter(
        F.col("r") <= HYBRID_ARM_C
    )

    emb = sources.load_spread(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("q_emb")
    )
    w_dense = Window.orderBy(F.col("cs").desc(), F.col("doc_id"))
    dense_r = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_sim("embedding", "q_emb").alias("cs"),
        )
        .select("doc_id", F.row_number().over(w_dense).alias("r"))
        .filter(F.col("r") <= HYBRID_ARM_C)
    )

    arm_f = (1.0 / (F.lit(RRF_K) + F.col("r"))).alias("f")
    fused = (
        lex_r.select("doc_id", arm_f)
        .unionByName(dense_r.select("doc_id", arm_f))
        .groupBy("doc_id")
        .agg(F.sum("f").alias("f"))
    )
    w_f = Window.orderBy(F.col("f").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w_f).cast("long"))
        .filter(F.col("rnk") <= HYBRID_TOPN)
        .select("doc_id", "rnk", (F.round(F.col("f") * 1e6) / 1e6).alias("rrf"))
        .orderBy("rnk")
    )


@register(
    "quality_entropy",
    f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    nd AS (
      SELECT doc_id, sum(tf) AS n, count(*) AS uniq FROM tf GROUP BY doc_id
    )
    SELECT tf.doc_id,
           CAST(nd.n AS BIGINT) AS n_tok,
           CAST(nd.uniq AS BIGINT) AS n_uniq,
           round(sum(-(tf.tf / nd.n) * log2(tf.tf / nd.n)) * 1e6) / 1e6
             AS entropy_bits
    FROM tf JOIN nd ON tf.doc_id = nd.doc_id
    GROUP BY tf.doc_id, nd.n, nd.uniq
    """,
)
def quality_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits) —
    the information-theoretic sibling of quality_repetition's
    frequency-fraction signals: boilerplate and looping text carries
    low entropy, natural prose carries high, so entropy thresholds are
    a standard training-corpus quality cut. Rides the same persisted
    `_term_freqs` subtree as the TF-IDF/BM25/perplexity family, and
    since the index carries each doc's length dl as a column, the
    per-token probability tf/dl is a plain per-row expression — no
    per-doc pre-aggregate and no doc_id self-join at all, just ONE
    map-side-combinable aggregation over the index (the oracle's nd
    CTE computes the identical sum(tf)-per-doc integers).
    """
    tf = _term_freqs(spark, sf_dir)
    p = F.col("tf") / F.col("dl")
    return tf.groupBy("doc_id").agg(
        F.max("dl").cast("long").alias("n_tok"),
        F.count("*").cast("long").alias("n_uniq"),
        (F.round(F.sum(-p * F.log2(p)) * 1e6) / 1e6).alias("entropy_bits"),
    )
