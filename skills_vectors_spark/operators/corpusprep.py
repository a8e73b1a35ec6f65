"""Corpus-preparation wave 2 (round 7): epoch-weighted mixture
upsampling and cross-split n-gram novelty — the two remaining
training-data recipe primitives next to mix_corpus (rate downsample),
mix_temperature (T-scaled rebalance), split_train_eval (holdout), and
dedup_decontaminate (eval-overlap removal).

- mix_epochs: the multi-epoch data recipe (public practice in the
  LLaMA/GPT data-mixture line): each source is repeated a FRACTIONAL
  number of epochs — floor(e) full passes plus one more with
  probability frac(e), decided by a deterministic md5 bucket so the
  expansion is reproducible row-for-row and oracle-recomputable.
- text_ngram_novelty: per-document fraction of word 5-grams unseen in
  the reference split — the novelty/decontamination coverage metric a
  pipeline scores candidate documents with before admission.

Scale notes: mix_epochs is a narrow map-side expression + explode
(rows multiply executor-side, no shuffle at all); novelty's gram
extraction never leaves whole-stage codegen (higher-order transform
over the token array), both sides reduce to DISTINCT gram keys before
the one equi-join, and the metric agg is map-side-combinable per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skills_vectors_spark import sources
from skills_vectors_spark.functions.text import tokens
from skills_vectors_spark.registry import register

# fractional epoch targets per language (the data-recipe knob);
# deliberately includes <1 (downsample), integer, and fractional tiers
EPOCH_TARGETS: dict[str, float] = {
    "en": 1.0,
    "zh": 2.5,
    "de": 2.0,
    "fr": 3.25,
    "es": 0.5,
}
_EPOCH_BUCKETS = 10_000

NGRAM_N = 5  # word n-gram order for the novelty metric


@register(
    "mix_epochs",
    f"""
    WITH e AS (
      SELECT doc_id, lang,
             CASE lang {" ".join(f"WHEN '{k}' THEN {v!r}" for k, v in EPOCH_TARGETS.items())} ELSE 0.0 END AS ep,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'epoch'), 1, 8))::BIGINT
               % {_EPOCH_BUCKETS} AS b
      FROM documents
    ), n AS (
      SELECT doc_id, lang,
             CAST(floor(ep) AS BIGINT)
             + CASE WHEN b < CAST(floor((ep - floor(ep)) * {_EPOCH_BUCKETS}) AS BIGINT)
                    THEN 1 ELSE 0 END AS n_copies
      FROM e
    )
    SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) AS BIGINT)
             AS epoch_idx
    FROM n WHERE n_copies > 0
    """,
)
def mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted corpus expansion: each document is emitted
    floor(e) times plus one extra copy iff its md5 bucket falls under
    the fractional remainder — so a language with e = 2.5 sees every
    document twice and a deterministic half of them a third time,
    exactly the fractional-epoch semantics of published LLM data
    recipes, reproducible row-for-row (no RNG state) and fully
    recomputable by the oracle.

    Scale shape: a narrow map-side expression computes n_copies, then
    explode(sequence(1, n)) multiplies rows EXECUTOR-SIDE — zero
    shuffles, zero driver state; downstream consumers see the
    expanded corpus as an ordinary lazily-planned frame. At 100 TB
    the expansion cost is exactly the extra rows written, never a
    reshuffle of the base corpus."""
    d = sources.load(spark, sf_dir, "documents")
    ep = F.coalesce(
        F.create_map(*[F.lit(x) for kv in EPOCH_TARGETS.items() for x in kv])[
            F.col("lang")
        ],
        F.lit(0.0),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("epoch"))), 1, 8), 16, 10)
        .cast("long")
        % _EPOCH_BUCKETS
    )
    # floor() explicitly on BOTH sides (advisor r7): Spark .cast("long")
    # truncates while DuckDB CAST(..AS BIGINT) rounds-to-nearest, so the
    # fractional-remainder threshold must be floored before the cast or
    # a target like 1.1 (inexact binary fraction) would silently
    # diverge on the extra-copy cutoff
    n_copies = F.floor(ep).cast("long") + (
        bucket < F.floor((ep - F.floor(ep)) * _EPOCH_BUCKETS).cast("long")
    ).cast("long")
    return (
        d.select("doc_id", "lang", n_copies.alias("n_copies"))
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))).alias(
                "epoch_idx"
            ),
        )
    )


def _gram_expr(col: str) -> F.Column:
    """Word NGRAM_N-grams of a whitespace-normalized lowercase text
    column as an array of space-joined strings — a single whole-stage
    codegen higher-order expression (split -> transform over start
    indices -> array_join slices); no Python worker."""
    toks = tokens(col)
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0] (it
    # infers step -1), so short documents must short-circuit to an
    # empty gram list instead (DuckDB's generate_series(1, 0) is
    # already empty)
    return F.when(
        F.size(toks) >= NGRAM_N,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (NGRAM_N - 1)),
            lambda i: F.array_join(F.slice(toks, i, NGRAM_N), " "),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))


@register(
    "text_ngram_novelty",
    f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g')), ' ')
               AS l
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(l) - {NGRAM_N - 1}, 0)),
               i -> array_to_string(list_slice(l, i, i + {NGRAM_N - 1}), ' ')))
               AS gram
      FROM toks
    ), gh AS (
      SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
      FROM grams
    ), ref AS (
      SELECT DISTINCT gh FROM gh WHERE doc_id % 2 = 0
    ), cand AS (
      SELECT DISTINCT doc_id, gh FROM gh WHERE doc_id % 2 = 1
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           round(avg(CASE WHEN r.gh IS NULL THEN 1.0 ELSE 0.0 END) * 1e6)
             / 1e6 AS novelty
    FROM cand c LEFT JOIN ref r ON c.gh = r.gh
    GROUP BY c.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split n-gram novelty: for every candidate document (odd
    doc_id), the fraction of its DISTINCT word 5-grams that appear
    nowhere in the reference split (even doc_id) — the admission
    metric that catches near-copies and boilerplate floods that exact
    dedup misses, and the coverage mirror of dedup_decontaminate
    (which removes overlap; this measures it).

    Scale shape: gram extraction is one whole-stage codegen
    higher-order expression (no Python); grams collapse to 60-bit
    md5-prefix longs INSIDE the per-doc array (transform), and
    array_distinct dedups them executor-side BEFORE the explode — so
    the candidate half needs NO global distinct at all (per-doc
    uniqueness is the required grain, and dedup-on-hashes keeps the
    astronomically-rare within-doc hash collision bit-identical to
    the oracle's DISTINCT doc_id, gh). The oracle recomputes the SAME
    hash, so cross-doc collisions are also bit-identical in both
    engines, and the remaining exchanges (reference-vocabulary
    DISTINCT, the one equi-join) carry 8-byte keys instead of
    ~40-byte gram strings. Both sides reduce to distinct keys BEFORE
    the single equi-join (the inverted-index discipline — candidates
    join the reference vocabulary, not the reference corpus); the
    per-doc metric agg is map-side-combinable. Measured at sf0.1: the
    r7 explode-then-distinct-both-sides form cost one extra full
    exchange + HashAggregate over the candidate half; this form
    removed it, and load_spread parallelizes the extraction across
    all cores instead of the single task a one-row-group parquet scan
    yields (2.3 s -> 0.54 s warm at sf0.1 — see SCALING.md round-8
    notes; no-op on a multi-split cluster read)."""
    docs = sources.load_spread(spark, sf_dir, "documents")
    gram_keys = F.array_distinct(
        F.transform(
            _gram_expr("text"),
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
        )
    )
    def keys_of(d: DataFrame) -> DataFrame:
        return d.select("doc_id", F.explode(gram_keys).alias("gh"))

    # split sides BEFORE extraction (explicit, not left to pushdown
    # through Generate): each branch only ever tokenizes its half, so
    # total extraction work equals one corpus pass
    ref = (
        keys_of(docs.filter(F.col("doc_id") % 2 == 0)).select("gh").distinct()
    )
    # per-doc distinct is already guaranteed by array_distinct above
    cand = keys_of(docs.filter(F.col("doc_id") % 2 == 1))
    # the reference VOCABULARY (8-byte distinct keys) is the small
    # side; broadcasting it under the same local-corpus-size gate as
    # the tfidf idf frame means the exploded candidate half — the
    # heavy side — never shuffles for the join at all (its only
    # remaining exchange is the final per-doc agg). Non-local paths
    # get no hint; AQE decides from observed sizes at scale.
    from skills_vectors_spark.operators.relevance import _vocab_bcast

    joined = cand.join(
        _vocab_bcast(sf_dir, ref.withColumn("_hit", F.lit(1))), "gh", "left"
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        (
            F.round(
                F.avg(F.when(F.col("_hit").isNull(), 1.0).otherwise(0.0)) * 1e6
            )
            / 1e6
        ).alias("novelty"),
    )
