"""Text-analysis operators over the documents table (the LLM-data-
pipeline surface from BASELINE.json: language-ID, quality scoring,
token counting, fingerprinting, corpus stats).

Generalizes the reference's text handling (A5 newline scrub,
/root/reference/create_skill_embeddings.py:12,16; the embedded
`level_description`/`gpt_job_description` text columns). Everything
is Catalyst built-ins — at 100 TB these run inside whole-stage
codegen with zero Python; the only shuffle is the final group-by.

Tokenization is the one rule of functions/text.py, which states it
for Spark, for the DuckDB oracles and for the Arrow passes alike.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from skills_vectors_spark import sources
from skills_vectors_spark.functions.text import (
    DUCK_BPE_COUNT,
    DUCK_NORM,
    DUCK_PUNCT_RATIO,
    DUCK_TOKENS,
    STOPWORDS,
    bpe_ish_token_count,
    content_md5,
    digit_ratio,
    punct_ratio,
    py_tokens,
    stopword_hits,
    token_count,
    tokens,
)
from skills_vectors_spark.registry import register


def _d_stop_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({DUCK_TOKENS}, x -> list_contains([{words}], x)))"


@register(
    "text_stats",
    f"""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({DUCK_TOKENS})) AS BIGINT) AS total_tokens,
           round(avg(n_chars) * 100) / 100 AS avg_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per (lang, source) — doc counts, token totals,
    char distribution (SURVEY §2.B text_stats)."""
    d = sources.load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("total_tokens"),
        (F.round(F.avg("n_chars") * 100) / 100).alias("avg_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@register(
    "token_count",
    f"""
    SELECT doc_id,
           CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens_ws,
           {DUCK_BPE_COUNT} AS n_tokens_bpe
    FROM documents
    """,
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    (word-pieces + single digits + punctuation — the common GPT-2-style
    pre-tokenizer heuristic). Pure regexp_count, no tokenizer lib."""
    d = sources.load_spread(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens_ws"),
        bpe_ish_token_count("text").alias("n_tokens_bpe"),
    )


# language-ID decision chain shared between engines: zh by CJK chars,
# then argmax of stopword hits with priority en > es > de > fr.
_CJK = "[一-鿿]"


@register(
    "lang_id",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '{_CJK}')) AS zh,
             {_d_stop_hits("en")} AS en, {_d_stop_hits("es")} AS es,
             {_d_stop_hits("de")} AS de, {_d_stop_hits("fr")} AS fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN zh > 0 THEN 'zh'
                WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
                WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                WHEN es >= de AND es >= fr THEN 'es'
                WHEN de >= fr THEN 'de'
                ELSE 'fr' END AS lang_pred,
           CAST(CASE WHEN lang = (CASE WHEN zh > 0 THEN 'zh'
                WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
                WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                WHEN es >= de AND es >= fr THEN 'es'
                WHEN de >= fr THEN 'de'
                ELSE 'fr' END) THEN 1 ELSE 0 END AS INT) AS is_correct
    FROM scored
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language identification: CJK character presence for
    zh, stopword-hit argmax for en/es/de/fr (n-gram-heuristic family;
    north-star text analysis). Deterministic priority tie-break."""
    d = sources.load_spread(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        F.regexp_count("text", F.lit(_CJK)).alias("zh"),
        stopword_hits("text", "en").alias("en"),
        stopword_hits("text", "es").alias("es"),
        stopword_hits("text", "de").alias("de"),
        stopword_hits("text", "fr").alias("fr"),
    )
    zh, en, es, de, fr = [F.col(c) for c in ("zh", "en", "es", "de", "fr")]
    pred = (
        F.when(zh > 0, "zh")
        .when((en == 0) & (es == 0) & (de == 0) & (fr == 0), "und")
        .when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        F.when(F.col("lang") == pred, 1).otherwise(0).cast("int").alias("is_correct"),
    )


@register(
    "quality_score",
    f"""
    WITH feats AS (
      SELECT doc_id,
             least(n_chars / 500.0, 1.0) AS len_score,
             {DUCK_PUNCT_RATIO} AS punct_ratio,
             len(regexp_extract_all(text, '[0-9]'))::DOUBLE
               / greatest(length(text), 1) AS digit_ratio,
             {_d_stop_hits("en")}::DOUBLE
               / greatest(len({DUCK_TOKENS}), 1) AS stop_ratio
      FROM documents
    )
    SELECT doc_id,
           round(len_score * 1e6) / 1e6 AS len_score,
           round(punct_ratio * 1e6) / 1e6 AS punct_ratio,
           round(digit_ratio * 1e6) / 1e6 AS digit_ratio,
           round((0.4 * len_score
                + 0.3 * (1 - least(5 * punct_ratio, 1.0))
                + 0.3 * least(10 * stop_ratio, 1.0)) * 1e6) / 1e6 AS quality
    FROM feats
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring from length / punctuation / digit /
    stopword ratios — the standard pretraining-data quality heuristic
    family (north-star text analysis)."""
    feats = quality_features(sources.load_spread(spark, sf_dir, "documents"))
    r6 = [_r6(F.col(c)).alias(c) for c in ("len_score", "punct_ratio", "digit_ratio")]
    return feats.select("doc_id", *r6, "quality")


def quality_features(d: DataFrame, *keep: str) -> DataFrame:
    """doc_id, the `keep` columns, quality_score's four features of the
    documents frame `d` and its rounded `quality`."""
    n_tok = F.greatest(F.size(tokens("text")), F.lit(1)).cast("double")
    feats = d.select(
        "doc_id",
        *keep,
        F.least(F.col("n_chars") / 500.0, F.lit(1.0)).alias("len_score"),
        punct_ratio("text").alias("punct_ratio"),
        digit_ratio("text").alias("digit_ratio"),
        (stopword_hits("text", "en").cast("double") / n_tok).alias("stop_ratio"),
    )
    return feats.withColumn(
        "quality",
        _r6(
            0.4 * F.col("len_score")
            + 0.3 * (1 - F.least(5 * F.col("punct_ratio"), F.lit(1.0)))
            + 0.3 * F.least(10 * F.col("stop_ratio"), F.lit(1.0))
        ),
    )


def _r6(c: Column) -> Column:
    return F.round(c * 1e6) / 1e6


@register(
    "fingerprint",
    f"""
    SELECT doc_id, md5({DUCK_NORM}) AS fp,
           substr(md5({DUCK_NORM}), 1, 8) AS fp_bucket
    FROM documents
    """,
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text
    (the canonical exact-dedup key), plus an 8-hex prefix bucket for
    shard-local grouping. Content-defined, order-independent —
    partitioning by fp_bucket co-locates duplicates at any scale."""
    d = sources.load_spread(spark, sf_dir, "documents")
    fp = content_md5("text")
    return d.select("doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp_bucket"))


def _rolling_hash(c: Column) -> Column:
    """Polynomial rolling hash over tokens, mod 1e9+7 (overflow-safe
    under ANSI mode). Not SQL-oracle'd: DuckDB's list_reduce has no
    initial-value form."""
    return F.aggregate(
        c,
        F.lit(0).cast("long"),
        lambda h, t: (h * 31 + F.ascii(t) + F.length(t)) % 1000000007,
    )


@register(
    "fingerprint_rolling",
    # Full exact oracle: DuckDB 1.0's two-arg list_reduce has no
    # initial-value form, so the init-0 fold is emulated by
    # prepending 0 to the per-token value list — algebraically
    # identical ((0*31 + v1) = v1 starts the same chain).
    f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
    )
    SELECT doc_id,
           CASE WHEN toks IS NULL THEN NULL ELSE
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, tk -> CAST(ascii(tk) + length(tk) AS BIGINT))),
             (h, v) -> (h * 31 + v) % 1000000007
           ) END AS rolling_fp
    FROM t
    """,
)
def fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash fingerprint over the token stream —
    order-sensitive (catches reorderings md5-of-sorted misses)."""
    d = sources.load_spread(spark, sf_dir, "documents")
    return d.select("doc_id", _rolling_hash(tokens("text")).alias("rolling_fp"))


CHUNK_SIZE = 50  # tokens per chunk
CHUNK_STRIDE = 40  # overlap = size - stride


@register(
    "text_chunk",
    f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENS} AS toks
      FROM documents
      WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks), 1) + 1, {CHUNK_STRIDE})) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS INT) AS chunk_id,
           CAST(len(toks[start:start + {CHUNK_SIZE - 1}]) AS BIGINT) AS n_tokens,
           array_to_string(toks[start:start + {CHUNK_SIZE - 1}], ' ') AS chunk_text
    FROM s
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: {size}-token chunks with
    {overlap}-token overlap — the packing step between raw documents
    and a context-length-bounded training set. Pure array expressions
    (sequence + posexplode + slice), no Python; the explode is the
    only row expansion and the input is pre-spread. Chunk ids are
    deterministic (ordinal of the window start)."""
    d = sources.load_spread(spark, sf_dir, "documents")
    toks = tokens("text")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(CHUNK_STRIDE))
    # NULL text chunks to NOTHING (the DUCK_TOKENS unnest convention): the
    # oracle's unnest(range(..NULL..)) emits no rows, while Spark's
    # greatest(size(NULL), 1) would fabricate one phantom empty chunk
    chunked = d.filter(F.col("text").isNotNull()).select(
        "doc_id", toks.alias("toks"), F.posexplode(starts).alias("chunk_id", "start")
    )
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_SIZE)
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


@register(
    "diag_skew",
    """
    WITH per_key AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_rows,
           round(avg(c) * 100) / 100 AS avg_rows,
           round(quantile_cont(c, 0.5) * 100) / 100 AS p50_rows,
           round(quantile_cont(c, 0.99) * 100) / 100 AS p99_rows,
           round(max(c) / avg(c) * 1e4) / 1e4 AS skew_ratio
    FROM per_key
    """,
)
def diag_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the distribution of per-key group sizes
    (count, max, avg, p50, p99, max/avg ratio) for a prospective
    join/agg key. This is the measurement that decides between plain
    shuffle, AQE skew-join, and explicit salting (join_skew_salted) —
    measure, don't guess. Two cheap aggregations, the second over one
    row per key."""
    ev = sources.load(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    qs = F.percentile("c", F.array(F.lit(0.5), F.lit(0.99)))
    return per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_rows"),
        (F.round(F.avg("c") * 100) / 100).alias("avg_rows"),
        (F.round(qs[0] * 100) / 100).alias("p50_rows"),
        (F.round(qs[1] * 100) / 100).alias("p99_rows"),
        (F.round(F.max("c") / F.avg("c") * 1e4) / 1e4).alias("skew_ratio"),
    )


def partition_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-balance diagnostic: per-partition row counts of the
    post-shuffle lineitem scan, summarized as count/min/max/ratio —
    the operational sibling of diag_skew (that one profiles KEY skew
    before a join; this one profiles the PHYSICAL layout after a
    repartition, which is what actually determines straggler tasks).
    Library form with the runtime numbers; the registered query
    reduces them to a gate summary (spark_partition_id() is runtime
    state, not SQL-expressible)."""
    li = sources.load(spark, sf_dir, "lineitem").repartition(32, "l_orderkey")
    per_part = li.groupBy(F.spark_partition_id().alias("pid")).agg(
        F.count("*").alias("rows")
    )
    return per_part.agg(
        F.count("*").alias("n_partitions"),
        F.sum("rows").alias("total_rows"),
        F.min("rows").alias("min_rows"),
        F.max("rows").alias("max_rows"),
        (F.round(F.max("rows") / F.greatest(F.min("rows"), F.lit(1)) * 100) / 100).alias(
            "balance_ratio"
        ),
    )


@register(
    "diag_partition_stats",
    # Gate-column oracle: total_rows (no row lost or duplicated by
    # the repartition) is checked for real; the physical-layout gates
    # are computed Spark-side and asserted against constants.
    # Value-level invariants live in tests/test_rows_only.py.
    """
    SELECT CAST(count(*) AS BIGINT) AS total_rows,
           TRUE AS partitions_ok, TRUE AS balance_ok
    FROM lineitem
    """,
)
def diag_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable summary of :func:`partition_stats_report`:
    every input row accounted for after the shuffle, partition count
    within the requested bound, balance ratio sane (>= 1; a hash
    repartition on a high-cardinality key should also stay far from
    pathological imbalance, but only >= 1 is an invariant)."""
    return partition_stats_report(spark, sf_dir).select(
        F.col("total_rows").cast("long").alias("total_rows"),
        (F.col("n_partitions").between(1, 32)).alias("partitions_ok"),
        (F.col("balance_ratio") >= 1.0).alias("balance_ok"),
    )


# ------------------------------------------- repetition & PII scrubbing


@register(
    "quality_repetition",
    f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    tokc AS (
      SELECT doc_id, max(c) AS max_tok, count(*) AS n_uniq
      FROM (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok)
      GROUP BY doc_id
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM t WHERE len(toks) >= 2
    ),
    bigc AS (
      SELECT doc_id, max(c) AS max_big
      FROM (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY doc_id, bg)
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tok,
           round(tokc.n_uniq * 1.0 / len(t.toks) * 1e6) / 1e6 AS uniq_frac,
           round(tokc.max_tok * 1.0 / len(t.toks) * 1e6) / 1e6 AS top_tok_frac,
           round(coalesce(bigc.max_big * 2.0 / len(t.toks), 0) * 1e6) / 1e6
             AS top_bigram_frac
    FROM t JOIN tokc USING (doc_id) LEFT JOIN bigc USING (doc_id)
    """,
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, public):
    token-diversity fraction, most-frequent-token fraction, and
    most-frequent-bigram mass per document — the signals that cut
    boilerplate/looping text from a training corpus (a repetitive doc
    has low uniq_frac and a dominant n-gram).

    Shape: the metric is inherently PER-DOCUMENT, so it never leaves
    the partition that read it — one fused Arrow pass (the
    `_term_freqs` / MinHash-signature pattern: tokenize + Counter
    per doc inside mapInPandas), zero shuffle. Measured at the 10x
    tier against the alternatives: explode -> two grouped aggs 15 s
    (pays exchanges for a per-row metric), per-row Catalyst
    higher-order functions 5.6 s (HOF lambda evaluation is
    per-element interpreted), fused Arrow pass 0.79 s — 0.28x DuckDB
    on the same query. Tokens come from functions.text.py_tokens,
    the oracle's DUCK_TOKENS in Python; null text drops, as
    unnest(NULL) does."""
    import pandas as pd

    d = sources.load_spread(spark, sf_dir, "documents")

    def run(batches):
        import math
        from collections import Counter

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "n_tok": [],
                "uniq_frac": [],
                "top_tok_frac": [],
                "top_bigram_frac": [],
            }
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = py_tokens(text)
                n = len(toks)
                c = Counter(toks)
                bc = Counter(zip(toks, toks[1:]))
                # half-up rounding (floor(x*1e6+0.5)) to match SQL
                # round(); Python's round() is banker's and diverges
                # on exact .5 ties
                r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
                out["doc_id"].append(did)
                out["n_tok"].append(n)
                out["uniq_frac"].append(r6(len(c) / n))
                out["top_tok_frac"].append(r6(max(c.values()) / n))
                out["top_bigram_frac"].append(
                    r6(max(bc.values()) * 2 / n if bc else 0.0)
                )
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_tok long, uniq_frac double, "
        "top_tok_frac double, top_bigram_frac double"
    )
    return d.select("doc_id", "text").mapInPandas(run, schema)


# PII patterns (public, standard scrubber shapes). The corpus is
# synthetic word salad with no organic PII, so the query plants one
# deterministic email + phone per doc (derived from doc_id) and then
# scrubs — the injection makes the scrubber's effect observable and
# oracle-checkable end-to-end (n_* prove the patterns fire; the md5
# of the scrubbed text proves the replacement is byte-identical).
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


@register(
    "scrub_pii",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{PII_PHONE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(raw, '{PII_EMAIL}', '[EMAIL]', 'g'),
                              '{PII_PHONE}', '[PHONE]', 'g')) AS scrub_md5
    FROM aug
    """,
)
def scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus — regex email/phone detection and
    replacement, the mandatory scrub pass before any training-data
    release. Pure codegen (`regexp_count`/`regexp_replace`): at 100 TB
    this is a narrow map with zero shuffle and zero Python. Counts
    surface as columns (the audit trail a scrub job must emit); the
    scrubbed text itself is hashed so the oracle compares bytes
    without hauling full text through the harness.

    load_spread exists because the test corpus is one small parquet
    file -> one input partition -> serial regex; at scale the scan has
    natural parallelism and the spread is a no-op (regex cost is
    per-byte, so partition-parallel is the whole game)."""
    d = sources.load_spread(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    aug = d.select("doc_id", raw.alias("raw"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("raw"), PII_EMAIL, "[EMAIL]"), PII_PHONE, "[PHONE]"
    )
    return aug.select(
        "doc_id",
        F.regexp_count("raw", F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("raw", F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("scrub_md5"),
    )
