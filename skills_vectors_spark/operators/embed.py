"""Embedding stage — the Spark rendering of the reference's
create_*_embeddings.py scripts (E2): text column in, dense vector
column out.

The reference loops rows and calls a remote embedding API one row at
a time (/root/reference/create_skill_embeddings.py:37-43, provider
switch :11-20). Here the provider client is replaced by a
deterministic hash-projection mock (hermetic tests, no network); the
*Spark plumbing is the real design*: mapInPandas over Arrow batches,
one "client" per partition, vectorized batch requests — swap
`_mock_embed_batch` for a real HTTP client and the operator is
production-shaped (batch size = Arrow batch, connection reuse per
partition, no driver round-trips).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skills_vectors_spark import sources
from skills_vectors_spark.functions.vector import DUCK_COSINE, l2_norm
from skills_vectors_spark.pipeline import search_exact
from skills_vectors_spark.registry import register

EMBED_DIM = 32
_PROVIDER = "mock-hash-v1"  # default; stands in for openai ada-002
# the reference switches provider by env var, with different vector
# dims (openai 1536-d / gemini 768-d — create_skill_embeddings.py:11-20,
# dims at load_skill_vectors_pg.py:10-13); mirrored here at test scale.
# mock-sqlhash-v1 is the CROSS-ENGINE provider: every coordinate is an
# md5-derived value DuckDB computes bit-identically, which is what
# lets embed_knn_pipeline's oracle recompute the embed->knn
# composition end-to-end (the eval_recall_lsh pattern applied to the
# embedding stage itself).
SQLHASH_PROVIDER = "mock-sqlhash-v1"
SQLHASH_DIM = 16
PROVIDERS = {
    "mock-hash-v1": EMBED_DIM,
    "mock-openai": 48,
    "mock-gemini": 24,
    SQLHASH_PROVIDER: SQLHASH_DIM,
}


def _mock_embed_batch(texts: pd.Series, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic unit-norm embedding per text: seed an RNG from the
    md5 of the text so the vector depends only on content (row order
    and partitioning never change results)."""
    out = []
    for t in texts:
        seed = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
        v = np.random.default_rng(seed).standard_normal(dim)
        v /= np.linalg.norm(v)
        out.append(v.astype(np.float32).tolist())
    return out


def _sqlhash_embed_batch(texts: pd.Series, dim: int = SQLHASH_DIM) -> list[list[float]]:
    """Python reference implementation of the sqlhash embedding —
    kept as the parity witness for the codegen column below (unit
    test asserts bit-identical float32 output); the engine path is
    sqlhash_embedding_col."""
    out = []
    for t in texts:
        inner = hashlib.md5(t.encode("utf-8")).hexdigest()
        out.append(
            [
                int.from_bytes(
                    hashlib.md5(f"{inner}:{j}".encode("utf-8")).digest()[:4], "big"
                )
                / 2147483648.0
                - 1.0
                for j in range(dim)
            ]
        )
    return out


def sqlhash_embedding_col(text_col: str = "text", dim: int = SQLHASH_DIM):
    """Deterministic embedding whose every coordinate is SQL-
    expressible AND computed entirely in JVM codegen (no Python
    worker): coord_j = conv(substr(md5(md5(text)||':'||j),1,8),16,10)
    / 2^31 - 1 — equal to DuckDB's ('0x'||substr(md5(..),1,8))::BIGINT
    form, an exact double in [-1, 1) both engines derive from the
    same md5 bytes, stored as float32 by the cast (IEEE
    round-to-nearest everywhere). The text is digested ONCE and the
    per-coordinate hashes run over the fixed 32-char hex digest —
    without the inner md5 every coordinate re-hashes the whole
    document (16x the scan's dominant cost on multi-KB docs; measured
    0.95 s -> ~0.2 s at 5k docs). Deliberately NOT unit-normalized:
    cosine is scale-invariant, and skipping the norm keeps the stored
    value free of any summation-order dependence."""
    inner = F.md5(F.encode(F.col(text_col), "UTF-8"))
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.encode(F.concat(inner, F.lit(f":{j}")), "UTF-8")),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                / F.lit(2147483648.0)
                - F.lit(1.0)
            ).cast("float")
            for j in range(dim)
        ]
    )


_EMBED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("provider", T.StringType()),
    ]
)


def embed_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    provider: str = _PROVIDER,
) -> DataFrame:
    """text -> embedding via Arrow-batched mapInPandas (the E2 shape).
    `provider` selects the (mock) backend and its vector dim — the
    reference's provider switch (create_skill_embeddings.py:11-20)."""
    dim = PROVIDERS[provider]

    # NULL text embeds to NOTHING (no row) — the pipeline contract;
    # rows that must surface failures instead go through
    # embed_with_status, the error-ledger path (ref A21)
    src = df.select(id_col, text_col).filter(F.col(text_col).isNotNull())
    # spread the (often single-partition) input so embedding batches
    # run on every core / executor, not one — conditionally, so a
    # multi-split cluster read is never reshuffled
    spread = sources.spread(df.sparkSession, src)
    if provider == SQLHASH_PROVIDER:
        # engine-expression provider: whole-stage codegen, no Python
        # worker stage at all — and a plan that reuses for free when a
        # pipeline references the embeddings from several branches
        return spread.select(
            F.col(id_col).alias("doc_id"),
            sqlhash_embedding_col(text_col, dim).alias("embedding"),
            F.lit(provider).alias("provider"),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition setup: a real impl creates its API client here
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "embedding": _mock_embed_batch(pdf[text_col], dim),
                    "provider": provider,
                }
            )

    return spread.mapInPandas(run, _EMBED_SCHEMA)


@register(
    "embed_mock",
    f"""
    SELECT doc_id, 'mock-hash-v1' AS provider, {EMBED_DIM} AS dim,
           TRUE AS unit_norm_ok
    FROM documents
    WHERE text IS NOT NULL
    """,
)
def embed_mock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mock-embed the documents table (A6) and emit the deterministic
    embed-stage contract: every doc got a vector of the provider's
    declared width, unit-normalized (checked JVM-side with an
    aggregate over the vector — the gate column pattern, since the
    hash-seeded vector VALUES aren't SQL-expressible). The vectors
    themselves flow through `embed_documents`, which downstream
    pipelines (embed_knn_pipeline) consume directly."""
    e = embed_documents(sources.load(spark, sf_dir, "documents"))
    return e.select(
        "doc_id",
        "provider",
        F.size("embedding").alias("dim"),
        (F.abs(l2_norm("embedding") - 1.0) < 1e-3).alias("unit_norm_ok"),
    )


_SQLHASH_COORD = (
    "CAST(('0x' || substr(md5(dig || ':' || CAST(j AS VARCHAR)), 1, 8))::BIGINT"
    " / 2147483648.0 - 1.0 AS FLOAT)"
)


@register(
    "embed_knn_pipeline",
    # the full embed->knn composition recomputed in DuckDB: the
    # mock-sqlhash-v1 provider's float32 coordinates are md5-derived
    # values both engines produce bit-identically (text digested once,
    # coordinates from the hex digest), and the cosine top-5 then
    # reuses the knn_exact oracle pattern
    f"""
    WITH digests AS (
      SELECT doc_id, md5(text) AS dig FROM documents WHERE text IS NOT NULL
    ),
    emb AS (
      SELECT doc_id,
             list_transform(range(0, {SQLHASH_DIM}), j -> {_SQLHASH_COORD}) AS v
      FROM digests
    ),
    scored AS (
      SELECT q.doc_id AS q_id, c.doc_id AS c_id,
             {DUCK_COSINE.format(a="q.v", b="c.v")} AS score
      FROM emb q JOIN emb c ON q.doc_id <> c.doc_id
      WHERE q.doc_id < 10
    ),
    ranked AS (
      SELECT q_id, c_id, score,
             row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rnk
      FROM scored
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, round(score, 6) AS cos_sim
    FROM ranked WHERE rnk <= 5
    """,
)
def embed_knn_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end flagship pipeline: embed documents -> top-5 cosine
    neighbors per query doc — the full E2+E1 composition (embed ->
    index -> search -> rank) of the reference, in one declarative
    plan. First 10 docs act as 'jobs', the corpus as 'skills'
    (skills_for_jobs.py:416-433). Embeds with the mock-sqlhash-v1
    provider so the WHOLE composition is oracle-recomputable: the
    stored float32 coordinates are exact md5-derived values, and the
    cosine/rank stage is knn_exact's own pipeline.search_exact, with
    its proven cross-engine parity (list_cosine_similarity over
    DOUBLE[] + round 6)."""
    emb = embed_documents(sources.load(spark, sf_dir, "documents"), provider=SQLHASH_PROVIDER)
    hits = search_exact(emb, emb.filter(F.col("doc_id") < 10), k=5, q_id_col="doc_id")
    return hits.select("q_id", "rnk", "c_id", F.round("score", 6).alias("cos_sim"))


_EMBED_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dim", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

MIN_EMBED_CHARS = 20  # the mock "API" rejects degenerate inputs


@register(
    "embed_with_status",
    f"""
    SELECT doc_id,
           CASE WHEN text IS NULL
                  OR length(trim(text, ' ' || chr(9) || chr(10) || chr(13)
                                 || chr(11) || chr(12))) < {MIN_EMBED_CHARS}
                THEN NULL ELSE {EMBED_DIM} END AS dim,
           CASE WHEN text IS NULL
                  OR length(trim(text, ' ' || chr(9) || chr(10) || chr(13)
                                 || chr(11) || chr(12))) < {MIN_EMBED_CHARS}
                THEN 'error' ELSE 'ok' END AS status,
           CASE WHEN text IS NULL
                  OR length(trim(text, ' ' || chr(9) || chr(10) || chr(13)
                                 || chr(11) || chr(12))) < {MIN_EMBED_CHARS}
                THEN 'input below {MIN_EMBED_CHARS} chars' END AS error
    FROM documents
    """,
)
def embed_with_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row error surfacing (ref A21: every remote call is wrapped
    in try/except-continue with an error counter,
    /root/reference/skills_for_jobs.py:75-79,421-426,
    load_skill_vectors_pg.py:35-43). The engine's rendering: a failed
    row keeps flowing with status='error' + message and a null vector
    instead of killing the job or being silently dropped — at 100 TB
    a 0.001% failure rate is thousands of rows you must be able to
    retry, so failures are DATA, queryable and re-drivable
    (``WHERE status = 'error'`` is the retry queue). The acceptance
    rule is pure input predicate, so the whole status ledger is
    SQL-checkable; the vector itself is reported as its width (the
    hash-seeded values aren't SQL-expressible)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, dims, statuses, errors = [], [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                ids.append(did)
                try:
                    # the mock client enforces a minimal contract the
                    # way a real API rejects empty/oversized payloads
                    if text is None or len(text.strip()) < MIN_EMBED_CHARS:
                        raise ValueError(f"input below {MIN_EMBED_CHARS} chars")
                    dims.append(len(_mock_embed_batch(pd.Series([text]))[0]))
                    statuses.append("ok")
                    errors.append(None)
                except Exception as exc:  # the A21 continue-on-error seat
                    dims.append(None)
                    statuses.append("error")
                    errors.append(str(exc))
            yield pd.DataFrame(
                {"doc_id": ids, "dim": pd.array(dims, dtype="Int32"),
                 "status": statuses, "error": errors}
            )

    d = sources.load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(run, _EMBED_STATUS_SCHEMA)


@register(
    "embed_provider_switch",
    f"""
    WITH n AS (SELECT least(200, count(*)) AS c FROM documents
               WHERE text IS NOT NULL)
    SELECT 'mock-openai' AS provider, CAST(c AS BIGINT) AS n_docs,
           {PROVIDERS["mock-openai"]} AS dim FROM n
    UNION ALL
    SELECT 'mock-gemini', CAST(c AS BIGINT), {PROVIDERS["mock-gemini"]} FROM n
    """,
)
def embed_provider_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's provider switch as data: embed the corpus under
    two providers with different vector dims (openai 1536 / gemini 768
    in the reference — scaled mocks here) and report per-provider
    row count and dimensionality. One scan per provider, unioned; at
    100 TB each provider run is an independent Arrow-batched pass
    whose dim only changes the output width."""
    # embeddable (non-null-text) docs first, THEN the cap: keeps the
    # selected set deterministic cross-engine when NULL texts exist
    d = sources.load(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).limit(200)
    parts = [
        embed_documents(d, provider=p).select(
            "provider", F.size("embedding").alias("dim")
        )
        for p in ("mock-openai", "mock-gemini")
    ]
    u = parts[0].unionByName(parts[1])
    return u.groupBy("provider").agg(
        F.count("*").alias("n_docs"), F.first("dim").alias("dim")
    )
