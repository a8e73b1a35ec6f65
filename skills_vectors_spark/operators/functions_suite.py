"""Scalar function families (SURVEY §2.B "fn_*").

Each family is one declared query exercising the JVM-side builtin
functions the engine standardizes on — no Python UDFs anywhere in
this module; everything stays inside whole-stage codegen.

Reference anchors: text cleanup before embedding (A5,
/root/reference/create_skill_embeddings.py:12,16), id concat
(load_skill_vectors_pg.py:29), cosine/L2 math (skills_for_jobs.py:
175-176), vector string literals (A22, :146-150,313,385), JSON-ish
metadata payloads (load_skill_vectors_qdrant.py:53-56).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skills_vectors_spark import sources
from skills_vectors_spark.functions.vector import DUCK_COSINE, DUCK_L2, cosine_sim, l2_dist
from skills_vectors_spark.registry import register


@register(
    "fn_string",
    """
    SELECT doc_id,
           lower(substring(replace(text, chr(10), ' '), 1, 40)) AS head_lc,
           CAST(length(text) AS BIGINT) AS n_len,
           concat_ws('-', lang, source) AS lang_src,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens_ws,
           replace(upper(source), 'SRC', 'S') AS src_code
    FROM documents
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: replace/lower/substring/length/concat_ws — the
    reference's newline-scrub before embedding (A5) plus id synthesis
    (load_skill_vectors_pg.py:29).

    load_spread: the per-row regexp/substring work is CPU-bound, so a
    one-split local scan would serialize it on one core (measured
    0.73 -> 0.41 s at 10x, 0.28 -> 0.24 s at sf0.1); at cluster scale
    the conditional is a no-op — no full-corpus reshuffle."""
    d = sources.load_spread(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace("text", "\n", " ")
    return d.select(
        "doc_id",
        F.lower(F.substring(scrubbed, 1, 40)).alias("head_lc"),
        F.length("text").cast("long").alias("n_len"),
        F.concat_ws("-", "lang", "source").alias("lang_src"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1)
        .cast("long")
        .alias("n_tokens_ws"),
        F.regexp_replace(F.upper("source"), "SRC", "S").alias("src_code"),
    )


@register(
    "fn_date",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mth,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_95
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family over o_orderdate (ms-precision — safe across
    engines, unlike events.ts ns)."""
    o = sources.load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mth"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_95"),
    )


@register(
    "fn_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) / 100 AS charge,
           round(sqrt(l_extendedprice) * 1e6) / 1e6 AS sqrt_price,
           round(pow(l_quantity, 2) * 100) / 100 AS qty_sq,
           CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_bucket,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           CAST(CAST(l_orderkey AS BIGINT) % 7 AS BIGINT) AS key_mod
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic family — the TPC-H charge expression plus pow/sqrt
    (the building blocks of the distance macros, A14/A15)."""
    li = sources.load(spark, sf_dir, "lineitem")
    # fractional rounding via scale-then-round-to-integer: Spark's
    # round(x, n) uses the exact decimal expansion of the double while
    # DuckDB's re-scales (round(x*10^n)/10^n) — only the latter form is
    # bit-identical across engines, so declared queries use it too.
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.round(charge * 100) / 100).alias("charge"),
        (F.round(F.sqrt("l_extendedprice") * 1e6) / 1e6).alias("sqrt_price"),
        (F.round(F.pow("l_quantity", F.lit(2)) * 100) / 100).alias("qty_sq"),
        F.ceil(F.col("l_extendedprice") / 1000).cast("long").alias("price_bucket"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod"),
    )


@register(
    "fn_array",
    """
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS n_dims,
           round(embedding[1]::DOUBLE, 6) AS e0,
           round(list_aggregate(embedding::DOUBLE[], 'sum'), 6) AS sum_all,
           round(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum'), 6)
             AS sum_sq,
           round(list_aggregate(embedding[1:8]::DOUBLE[], 'sum'), 6) AS sum_head8
    FROM embeddings
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order family over the embedding column — size,
    element access, aggregate, transform, slice (A14's building
    blocks; replaces the reference's string round-trip A22)."""
    e = sources.load(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.round(F.element_at(dbl, 1), 6).alias("e0"),
        F.round(F.aggregate(dbl, F.lit(0.0), lambda s, x: s + x), 6).alias("sum_all"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda s, x: s + x * x),
            6,
        ).alias("sum_sq"),
        F.round(
            F.aggregate(F.slice(dbl, 1, 8), F.lit(0.0), lambda s, x: s + x), 6
        ).alias("sum_head8"),
    )


@register(
    "fn_json",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
    FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props payload (A22's serialized
    metadata, qdrant payload load_skill_vectors_qdrant.py:53-56).

    load_spread: get_json_object parses the payload per row — the
    CPU-heavy class where spreading a one-split local scan wins
    (measured 1.96 -> 1.49 s at 10x, 0.43 -> 0.32 s at sf0.1);
    conditional, so zero added shuffle on a multi-split cluster
    read."""
    ev = sources.load_spread(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id", "event_type", k.alias("prop_k"), (k % 10).alias("k_mod")
    )


@register(
    "fn_cosine",
    f"""
    SELECT a.vec_id,
           round({DUCK_COSINE.format(a="a.embedding", b="b.embedding")}, 6)
             AS cos_next
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
)
def fn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity macro on consecutive vector pairs (A14,
    skills_for_jobs.py:175-176). Pure codegen expression."""
    e = sources.load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("eb"))
    return a.join(b, "vec_id").select(
        "vec_id", F.round(cosine_sim("ea", "eb"), 6).alias("cos_next")
    )


@register(
    "fn_l2",
    f"""
    SELECT a.vec_id,
           round({DUCK_L2.format(a="a.embedding", b="b.embedding")}, 6) AS l2_next
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
)
def fn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-distance macro on consecutive vector pairs (A15, Milvus L2
    metric load_skill_vectors_milvus.py:55-59)."""
    e = sources.load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("eb"))
    return a.join(b, "vec_id").select(
        "vec_id", F.round(l2_dist("ea", "eb"), 6).alias("l2_next")
    )


@register(
    "fn_regex",
    """
    SELECT o_orderkey,
           regexp_extract(o_orderpriority, '^([0-9]+)-', 1) AS prio_code,
           CAST(regexp_matches(o_orderpriority, 'URGENT|HIGH') AS VARCHAR) AS is_hot,
           regexp_replace(o_orderpriority, '[0-9]+-', '', 'g') AS prio_word
    FROM orders
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family: extract a capture group, boolean match, global
    replace — all codegen'd JVM regex (compiled once per task, not
    per row). Booleans compare as strings because engines disagree
    on bool<->pandas dtypes."""
    o = sources.load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", r"^([0-9]+)-", 1).alias("prio_code"),
        F.col("o_orderpriority").rlike("URGENT|HIGH").cast("string").alias("is_hot"),
        F.regexp_replace("o_orderpriority", "[0-9]+-", "").alias("prio_word"),
    )


@register(
    "fn_conditional",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity >= 40 THEN 'bulk'
                WHEN l_quantity >= 10 THEN 'mid'
                ELSE 'small' END AS qty_band,
           coalesce(nullif(l_returnflag, 'N'), 'kept') AS flag_or_kept,
           CASE WHEN l_discount > 0.05 THEN round(l_extendedprice * (1 - l_discount) * 100) / 100
                ELSE l_extendedprice END AS eff_price
    FROM lineitem
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional family: CASE/WHEN banding, nullif/coalesce null
    plumbing, conditional arithmetic — pure row-local expressions,
    fused into the scan's codegen stage (zero extra passes)."""
    li = sources.load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") >= 40, "bulk")
        .when(F.col("l_quantity") >= 10, "mid")
        .otherwise("small")
        .alias("qty_band"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("kept")).alias(
            "flag_or_kept"
        ),
        F.when(
            F.col("l_discount") > 0.05,
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100) / 100,
        )
        .otherwise(F.col("l_extendedprice"))
        .alias("eff_price"),
    )


@register(
    "fn_bitwise",
    """
    SELECT o_orderkey,
           o_orderkey & 255 AS key_and,
           xor(o_orderkey, 4095) AS key_xor,
           o_orderkey << 2 AS key_shl,
           o_orderkey >> 3 AS key_shr,
           CAST(bit_count(o_orderkey) AS BIGINT) AS key_bits
    FROM orders
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family: and/xor/shifts/popcount on 64-bit keys — the
    primitives the engine's own SimHash and band-hash operators build
    on, exposed as a declared query."""
    o = sources.load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("key_and"),
        k.bitwiseXOR(F.lit(4095)).alias("key_xor"),
        F.shiftleft(k, 2).alias("key_shl"),
        F.shiftright(k, 3).alias("key_shr"),
        F.bit_count(k).cast("long").alias("key_bits"),
    )


@register(
    "fn_explode",
    """
    WITH pos AS (
      SELECT vec_id, embedding,
             unnest(range(1, len(embedding) + 1)) AS i
      FROM embeddings
    )
    SELECT vec_id, CAST(i - 1 AS INT) AS pos,
           round(embedding[i]::DOUBLE * 1e6) / 1e6 AS val
    FROM pos
    """,
)
def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: array column -> (row, ordinal, element) long form —
    the expansion primitive under the shingle/band/bucket operators,
    declared standalone. Expansions multiply rows, so real pipelines
    repartition BEFORE exploding (see dedup.shingle_df); here the
    corpus is pre-spread by the source scan (conditionally: a
    multi-split cluster read is already spread, so no reshuffle is
    added at 100 TB)."""
    e = sources.load_spread(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "raw")
    ).select(
        "vec_id", "pos", (F.round(F.col("raw").cast("double") * 1e6) / 1e6).alias("val")
    )


@register(
    "fn_map",
    """
    SELECT event_id,
           CAST(len(json_keys(props)) AS INT) AS n_keys,
           array_to_string(json_keys(props), ',') AS keys_csv,
           json_extract_string(props, '$.k') AS k_val
    FROM events
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType family: parse the JSON props payload into a
    map<string,string> once, then map_keys / size / element_at —
    the typed alternative to repeated get_json_object calls (one
    parse, many lookups; SURVEY §1.3 maps metadata dicts to typed
    columns)."""
    ev = sources.load(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return ev.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.concat_ws(",", F.map_keys(m)).alias("keys_csv"),
        F.element_at(m, "k").alias("k_val"),
    )


@register(
    "fn_variant",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CASE WHEN json_extract_string(props, '$.missing') IS NULL
                THEN NULL ELSE 1 END AS missing_val
    FROM events
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via the VARIANT type (Spark 4): parse
    the JSON props once into a binary variant and extract typed paths
    with variant_get — the open-ended-schema lane beside fn_json
    (per-path string extraction) and fn_map (closed map). At 100 TB
    variant's advantage is parse-once binary storage: shredded
    access without re-tokenizing JSON text per path, and missing
    paths are NULL (try semantics), not errors."""
    ev = sources.load(spark, sf_dir, "events")
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.try_variant_get(F.col("v"), "$.k", "bigint").alias("k_val"),
        F.try_variant_get(F.col("v"), "$.missing", "int").alias("missing_val"),
    )


@register(
    "fn_xml",
    """
    WITH x AS (
      SELECT event_id,
             '<event id="' || event_id || '" type="' || event_type
               || '"><v>' || round(value, 2) || '</v></event>' AS xml
      FROM events
    )
    SELECT event_id,
           regexp_extract(xml, 'type="([^"]*)"', 1) AS xtype,
           CAST(regexp_extract(xml, '<v>([0-9.]+)</v>', 1) AS DOUBLE) AS xval
    FROM x
    """,
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round trip with the native Spark 4 parser: serialize each
    event to an XML fragment, parse it back with from_xml against a
    declared schema (attributes via _-prefix convention, nested
    element as a field). Completes the interchange-format matrix
    (parquet/csv/json/orc/npy/map/variant/xml); the oracle re-extracts
    the same fields by regex, so the parser's semantics are pinned."""
    ev = sources.load(spark, sf_dir, "events")
    x = ev.select(
        "event_id",
        F.concat(
            F.lit('<event id="'),
            F.col("event_id"),
            F.lit('" type="'),
            F.col("event_type"),
            F.lit('"><v>'),
            F.round("value", 2),
            F.lit("</v></event>"),
        ).alias("xml"),
    )
    schema = "struct<_id: long, _type: string, v: double>"
    parsed = x.select("event_id", F.from_xml("xml", schema).alias("p"))
    return parsed.select(
        "event_id",
        F.col("p._type").alias("xtype"),
        F.col("p.v").alias("xval"),
    )
