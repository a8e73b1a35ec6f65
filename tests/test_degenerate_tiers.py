"""Degenerate-corpus differential tests: NULL-heavy and zero-variance
tiers, value-compared against the DuckDB oracle.

The r13 degenerate-input sweeps ran every registered query on two
synthesized corpora and found 31 divergences/crashes beyond the
zero-row tier (tests/test_empty_corpus.py):

- a NULL-heavy tier (documents.text NULL for doc_id%3==0,
  events.value NULL for event_id%5==0, events.event_type NULL for
  event_id%7==0) exposed: word_shingles fabricating [''] for NULL
  text (making every NULL doc a jaccard-1.0 duplicate of every
  other), None crashes in the minhash/simhash/embed/image/blob
  Python paths, SQL-aggregate NULL semantics (mode over NULL,
  min_by/max_by on NULL values, sum-over-only-NULLs), and equi-joins
  silently dropping the NULL group key;
- a constant tier (all values/prices/texts/embeddings identical)
  exposed: ANSI DIVIDE_BY_ZERO crashes on zero variance
  (corr/moments/z-stat), argpartition top-k pools that cannot
  recover id-ordered winners when score ties span the pool boundary,
  and raw-float rank keys whose tie order is engine-dependent at the
  last ulp (blocked-BLAS GEMM scores differ BY COLUMN POSITION even
  for identical vectors).

A control-whitespace tier (the first two spaces of documents.text
turned into vertical tabs for doc_id%3==1) pins the tokenization
rule: RE2's \\s, which the oracles use, does not match \\x0B, while
Java's and Python's do, so a row that tokenizes with its own \\s
splits words the oracle keeps whole.

These tests pin representative members of every fixed class with a
full cross-engine value compare on freshly-built tiers.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pytest

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _build_null_tier(src: str, dst: Path, text_mod: int = 3) -> str:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for f in sorted(Path(src).glob("*.parquet")):
        t = pq.read_table(str(f))
        if f.stem == "documents":
            mask = pa.array((np.asarray(t["doc_id"].combine_chunks()) % text_mod) == 0)
            text = pc.if_else(mask, pa.nulls(len(t), pa.string()),
                              t["text"].combine_chunks())
            t = t.set_column(t.schema.get_field_index("text"), "text", text)
        elif f.stem == "events":
            eid = np.asarray(t["event_id"].combine_chunks())
            vm = pa.array((eid % 5) == 0)
            tm = pa.array((eid % 7) == 0)
            val = pc.if_else(vm, pa.nulls(len(t), pa.float64()),
                             t["value"].combine_chunks())
            et = pc.if_else(tm, pa.nulls(len(t), pa.string()),
                            t["event_type"].combine_chunks())
            t = t.set_column(t.schema.get_field_index("value"), "value", val)
            t = t.set_column(t.schema.get_field_index("event_type"), "event_type", et)
        pq.write_table(t, str(dst / f.name))
    return str(dst)


def _build_const_tier(src: str, dst: Path) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    const_text = "the quick brown fox jumps over the lazy dog and runs far away " * 3
    for f in sorted(Path(src).glob("*.parquet")):
        t = pq.read_table(str(f))
        n = len(t)
        if f.stem == "lineitem":
            for col, v in [("l_quantity", 5.0), ("l_extendedprice", 100.0),
                           ("l_discount", 0.05), ("l_tax", 0.0)]:
                t = t.set_column(t.schema.get_field_index(col), col,
                                 pa.array([v] * n, pa.float64()))
        elif f.stem == "events":
            t = t.set_column(t.schema.get_field_index("value"), "value",
                             pa.array([42.0] * n, pa.float64()))
        elif f.stem == "documents":
            t = t.set_column(t.schema.get_field_index("text"), "text",
                             pa.array([const_text] * n, pa.string()))
        elif f.stem == "embeddings":
            first = t["embedding"][0].as_py()
            t = t.set_column(t.schema.get_field_index("embedding"), "embedding",
                             pa.array([first] * n, t.schema.field("embedding").type))
        pq.write_table(t, str(dst / f.name))
    return str(dst)


def _build_ws_tier(src: str, dst: Path) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in sorted(Path(src).glob("*.parquet")):
        t = pq.read_table(str(f))
        if f.stem == "documents":
            text = [
                s.replace(" ", "\x0b", 2) if s is not None and i % 3 == 1 else s
                for i, s in zip(t["doc_id"].to_pylist(), t["text"].to_pylist())
            ]
            t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(text, pa.string()))
        pq.write_table(t, str(dst / f.name))
    return str(dst)


@pytest.fixture(scope="module")
def null_sf(tmp_path_factory, sf_dir) -> str:
    return _build_null_tier(sf_dir, tmp_path_factory.mktemp("svs_null_tier"))


@pytest.fixture(scope="module")
def media_null_sf(tmp_path_factory, sf_dir) -> str:
    # text NULL for doc_id % 2 == 0 reaches all three media residues
    # (doc_id % 3: image 0, audio 1, video 2); the default tier's
    # doc_id % 3 == 0 nulls only the image residue
    return _build_null_tier(sf_dir, tmp_path_factory.mktemp("svs_media_null_tier"), text_mod=2)


@pytest.fixture(scope="module")
def const_sf(tmp_path_factory, sf_dir) -> str:
    return _build_const_tier(sf_dir, tmp_path_factory.mktemp("svs_const_tier"))


@pytest.fixture(scope="module")
def ws_sf(tmp_path_factory, sf_dir) -> str:
    return _build_ws_tier(sf_dir, tmp_path_factory.mktemp("svs_ws_tier"))


def _oracle_compare(spark, tier_dir: str, name: str) -> None:
    """Row-count + order-insensitive value compare vs DuckDB, the
    driver-style check (sorted by all columns, NaN==NaN)."""
    import duckdb
    import pandas as pd

    from skills_vectors_spark import registry

    registry.load_all()
    sdf = registry.QUERIES[name](spark, tier_dir).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tier_dir}/{t}.parquet')"
        )
    ddf = con.execute(registry.ORACLES[name]).df()
    assert len(sdf) == len(ddf), f"{name}: rows {len(sdf)} != {len(ddf)}"
    assert sorted(sdf.columns) == sorted(ddf.columns), f"{name}: columns differ"
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    b = ddf[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype("float64")
            bv = bv.astype("float64")
            ok = (av.isna() & bv.isna()) | (np.abs(av - bv) <= 1e-9)
            assert ok.all(), f"{name}.{c}: value mismatch"
        else:
            assert av.astype(object).where(av.notna(), None).equals(
                bv.astype(object).where(bv.notna(), None)
            ), f"{name}.{c}: value mismatch"


NULL_TIER_QUERIES = [
    # word_shingles NULL fabrication + downstream dedup families
    "dedup_ngram_jaccard",
    "dedup_apply",
    "dedup_incremental",
    "dedup_minhash",
    "dedup_simhash",
    # embed family: NULL text embeds to nothing
    "embed_mock",
    "embed_knn_pipeline",
    # SQL-aggregate NULL semantics
    "agg_mode",
    "agg_minmax_by",
    "agg_hll_sketch",
    "hll_sketch_production",
    # NULL group key must survive the join (null-safe join)
    "stream_stateful",
    # phantom chunk / fingerprint of a NULL doc
    "text_chunk",
    "fingerprint_rolling",
    # blob/image planting skips NULL docs
    "scan_binaryfile",
]

CONST_TIER_QUERIES = [
    # ANSI divide-by-zero on zero variance -> NULL, both engines
    "agg_stats",
    "agg_corr_matrix",
    "agg_moments",
    "eval_ab_lift",
    # tie-complete pools + output-grain rank keys
    "sim_topk_bruteforce",
    "text_tfidf_sim",
    "eval_ndcg_mrr",
    # every score ties: recall inputs' order and the top-k tie-breaks
    "eval_recall",
    "eval_recall_lsh",
    "ann_lsh",
    "ann_ivf",
]


# the rows that diverged from their oracles while the Spark and Python
# sides tokenized with their regex engines' \s
WS_TIER_QUERIES = [
    "text_stats",
    "token_count",
    "lang_id",
    "quality_score",
    "fingerprint",
    "fingerprint_rolling",
    "text_chunk",
    "quality_repetition",
    "quality_filter_apply",
    "text_pack_tokens",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_production",
    "dedup_minhash",
    "dedup_simhash",
    "eval_dedup_compare",
    "dedup_containment",
    "dedup_substring",
    "text_normalize",
    "agg_heavy_hitters",
    "text_pmi_bigrams",
]


@pytest.mark.parametrize("name", NULL_TIER_QUERIES)
def test_null_tier_oracle_parity(spark, null_sf, name):
    _oracle_compare(spark, null_sf, name)


@pytest.mark.parametrize("name", ["mm_image_features", "mm_frame_sample", "mm_audio_features"])
def test_media_null_tier_oracle_parity(spark, media_null_sf, name):
    """Each media planter follows its oracle on NULL text: image and
    video drop the document, audio emits the all-NULL feature row
    DuckDB computes from md5(NULL)."""
    _oracle_compare(spark, media_null_sf, name)


@pytest.mark.parametrize("name", CONST_TIER_QUERIES)
def test_const_tier_oracle_parity(spark, const_sf, name):
    _oracle_compare(spark, const_sf, name)


@pytest.mark.parametrize("name", WS_TIER_QUERIES)
def test_ws_tier_oracle_parity(spark, ws_sf, name):
    _oracle_compare(spark, ws_sf, name)


def test_word_shingles_null_text_yields_null_array(spark):
    from pyspark.sql import functions as F

    from skills_vectors_spark.functions.text import word_shingles

    df = spark.createDataFrame([(1, "a b c d"), (2, None)], "id long, text string")
    out = {r["id"]: r["sh"] for r in df.select("id", word_shingles("text").alias("sh")).collect()}
    assert out[1] == ["a b c", "b c d"]
    assert out[2] is None
