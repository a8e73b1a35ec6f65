"""Scale-path operators, part 2 (SURVEY §2.C additions).

Each entry is a 100 TB-motivated physical strategy whose *semantics*
stay oracle-checkable:

  * join_range_binned — the big×big band join: bucketize the range key
    and equi-join on bin (replicating one side into neighbor bins), so
    a BroadcastNestedLoopJoin becomes a shuffled hash join that scales
    with data, not with |L|×|R|.
  * sessionize_batch — gap-based sessionization of the events log
    (lag + running sum of session-break flags), the batch twin of
    streaming session_window.
  * agg_minmax_by — argmax/argmin aggregation via lexicographic struct
    max: one pass, map-side combinable, deterministic under ties.
  * agg_hll_sketch — mergeable HyperLogLog sketches: per-group sketch
    build + estimate + a grand union. The pre-aggregation pattern for
    distinct counting at 100 TB (sketches persist and re-merge, so
    daily partials compose into any rollup without a re-scan).
  * quality_filter_apply — the end-product corpus filter: language
    known + quality score above threshold + length band.
  * fn_url — URL parsing family (host/path/query-param extraction),
    the web-corpus normalization primitive.
  * sink_zorder — Morton (Z-order) interleaved layout on two
    dimensions so parquet min/max row-group stats prune on BOTH
    predicates, not just the leading sort key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skills_vectors_spark import sources
from skills_vectors_spark.functions.text import DUCK_PUNCT_RATIO, DUCK_TOKENS, tokens
from skills_vectors_spark.functions.vector import DUCK_NORM, l2_norm
from skills_vectors_spark.scratch import scratch as _scratch
from skills_vectors_spark.operators.textstats import _d_stop_hits, quality_features
from skills_vectors_spark.registry import register

BAND = 100  # acctbal band half-width; also the bin width
SESSION_GAP_US = 1800 * 1_000_000  # 30-min inactivity gap
ZBITS = 8


@register(
    "join_range_binned",
    f"""
    SELECT c.c_custkey, s.s_suppkey,
           round(c.c_acctbal - s.s_acctbal, 2) AS bal_diff
    FROM customer c JOIN supplier s
      ON c.c_acctbal BETWEEN s.s_acctbal - {BAND} AND s.s_acctbal + {BAND}
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join via range binning — the scale path for join_theta_range
    (ref A13's full-scan compare, skills_for_jobs.py:363). Each customer
    lands in bin floor(bal/W); each supplier is replicated into every
    bin its ±W band can touch (≤3 rows). The join is then a plain
    equi-join on bin + residual filter: shuffled hash join, partial
    partition pruning, AQE skew handling — all of which a nested-loop
    range join forfeits. Replication factor is band/W + 2 ≈ constant,
    so cost is O(|L|+|R|) shuffle instead of O(|L|×|R|) compare."""
    c = sources.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", F.floor(F.col("c_acctbal") / BAND).alias("bin")
    )
    s = (
        sources.load(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            "s_acctbal",
            F.explode(
                F.sequence(
                    F.floor((F.col("s_acctbal") - BAND) / BAND),
                    F.floor((F.col("s_acctbal") + BAND) / BAND),
                )
            ).alias("bin"),
        )
    )
    return (
        c.join(s, "bin")
        .filter(
            (F.col("c_acctbal") >= F.col("s_acctbal") - BAND)
            & (F.col("c_acctbal") <= F.col("s_acctbal") + BAND)
        )
        .select(
            "c_custkey",
            "s_suppkey",
            F.round(F.col("c_acctbal") - F.col("s_acctbal"), 2).alias("bal_diff"),
        )
    )


@register(
    "sessionize_batch",
    f"""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                    OR lag(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, t_us,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(t_us) AS start_us, max(t_us) AS end_us,
           round((max(t_us) - min(t_us)) / 1e6, 3) AS duration_s
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a session break is >30 min of user
    inactivity; session id is the running count of breaks. Batch twin
    of stream_session (session_window) — one shuffle on user_id feeds
    both windows and the final aggregate, and the window never sorts
    more than one user's rows per task. Timestamps flow as integer
    epoch-µs (unix_micros/epoch_us) so Spark-vs-oracle comparison is
    exact — events.ts is µs-aligned at every SF."""
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    ev = sources.load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us")
    )
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.col("t_us") - F.lag("t_us").over(w) > SESSION_GAP_US, 1
        )
        .when(F.lag("t_us").over(w).isNull(), 1)
        .otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("is_new")
        .over(
            Window.partitionBy("user_id")
            .orderBy("t_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("t_us").alias("start_us"),
        F.max("t_us").alias("end_us"),
        F.round((F.max("t_us") - F.min("t_us")) / 1e6, 3).alias("duration_s"),
    )


@register(
    "agg_minmax_by",
    """
    WITH ranked AS (
      SELECT event_type, user_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, user_id DESC) AS rmax,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value ASC, user_id ASC) AS rmin
      FROM events
      WHERE value IS NOT NULL
    )
    SELECT event_type,
           max(CASE WHEN rmax = 1 THEN user_id END) AS top_user,
           max(CASE WHEN rmin = 1 THEN user_id END) AS bottom_user,
           round(max(value), 6) AS max_value,
           round(min(value), 6) AS min_value
    FROM ranked GROUP BY event_type
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin per group in ONE aggregation pass via lexicographic
    struct min/max — no window, no self-join, map-side combinable, and
    deterministic under value ties (user_id is the tiebreaker inside
    the struct). The classic "who had the largest event" query that a
    window-based top-1 would pay a full sort for."""
    # min_by/max_by semantics: a NULL value is not an extremum
    # candidate (a NULL field inside the struct would also sort
    # engine-differently), so the argmax runs over valued rows only
    ev = sources.load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        F.max(F.struct("value", "user_id"))["user_id"].alias("top_user"),
        F.min(F.struct("value", "user_id"))["user_id"].alias("bottom_user"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.round(F.min("value"), 6).alias("min_value"),
    )


@register(
    "agg_hll_sketch",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__', CAST(count(DISTINCT user_id) AS BIGINT), TRUE FROM events
    """,
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog distinct-count sketches (Datasketches HLL,
    built into Spark 3.5+): per event_type build a sketch over user_id,
    estimate its cardinality, then UNION the binary sketches into a
    grand total WITHOUT re-scanning rows. At 100 TB this is the whole
    point: persist per-partition/day sketch bytes (~1 KB each), and any
    later rollup (week, month, all-time) is a merge of kilobytes, not a
    re-aggregation of the log.

    The sketch and exact aggregates run as separate subplans joined on
    the group key (fusing them would drag sketch state through the
    distinct-rewrite's per-value rows), and the declared output is the
    gate-column contract: exact counts + a boolean that the estimate
    landed within 5% — fully SQL-checkable while still exercising
    sketch build, estimate, and union."""
    ev = sources.load(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sketch"))
    est = sketches.select(
        "event_type", F.hll_sketch_estimate("sketch").alias("est_distinct")
    )
    grand_est = sketches.agg(
        F.lit("__all__").alias("event_type"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_distinct"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    grand_exact = ev.agg(
        F.lit("__all__").alias("event_type"),
        F.count_distinct("user_id").alias("exact_distinct"),
    )
    # null-safe join key: a NULL event_type group exists on both
    # sides, and a plain equi-join would silently drop it
    ex = exact.unionByName(grand_exact).withColumnRenamed("event_type", "et_x")
    merged = (
        est.unionByName(grand_est)
        .join(F.broadcast(ex), F.col("event_type").eqNullSafe(F.col("et_x")))
        .drop("et_x")
    )
    return merged.select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            <= 0.05
        ).alias("within_5pct"),
    )


def hll_sketch_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-ONLY form of agg_hll_sketch — the operator to run at
    100 TB: build per-group HLL sketches, estimate, and merge the
    grand total from sketch bytes, with NO exact count_distinct
    verification subplan (that verification is what the registered
    gate query adds for the oracle)."""
    ev = sources.load(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sketch"))
    est = sketches.select(
        "event_type", F.hll_sketch_estimate("sketch").alias("est_distinct")
    )
    grand = sketches.agg(
        F.lit("__all__").alias("event_type"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_distinct"),
    )
    return est.unionByName(grand)


_QUALITY_MIN = 0.5
_CHARS_LO, _CHARS_HI = 120, 20000


@register(
    "quality_filter_apply",
    f"""
    WITH feats AS (
      SELECT doc_id,
             least(n_chars / 500.0, 1.0) AS len_score,
             {DUCK_PUNCT_RATIO} AS punct_ratio,
             {_d_stop_hits("en")}::DOUBLE
               / greatest(len({DUCK_TOKENS}), 1) AS stop_ratio
      FROM documents
    ), scored AS (
      SELECT doc_id,
             round((0.4 * len_score
                  + 0.3 * (1 - least(5 * punct_ratio, 1.0))
                  + 0.3 * least(10 * stop_ratio, 1.0)) * 1e6) / 1e6 AS quality
      FROM feats
    )
    SELECT d.doc_id, d.lang, d.source, s.quality
    FROM documents d JOIN scored s USING (doc_id)
    WHERE s.quality >= {_QUALITY_MIN}
      AND d.lang <> 'und'
      AND d.n_chars BETWEEN {_CHARS_LO} AND {_CHARS_HI}
    """,
)
def quality_filter_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline end-product: keep documents whose heuristic quality
    clears a threshold, whose language is identified, and whose length
    sits inside the training band — the standard pretraining-corpus
    filter (quality_score made actionable, like dedup_apply is for the
    dedup family). The score is quality_score's feature projection
    over the same documents rows that carry lang, source and n_chars,
    so the whole filter is one scan with no join, and only the rows
    inside the language and length band are scored."""
    docs = sources.load_spread(spark, sf_dir, "documents").filter(
        (F.col("lang") != "und") & F.col("n_chars").between(_CHARS_LO, _CHARS_HI)
    )
    feats = quality_features(docs, "lang", "source")
    return feats.select("doc_id", "lang", "source", "quality").filter(F.col("quality") >= _QUALITY_MIN)


@register(
    "fn_url",
    """
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.org/docs/' || doc_id
               || '?lang=' || lang || '&v=2' AS url
      FROM documents
    )
    SELECT doc_id, url,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
    FROM u
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing family — host/path/query/param extraction with
    parse_url (codegen builtin), the first normalization step of any
    web-crawl corpus pipeline (canonical host grouping, per-domain
    dedup, parameter stripping)."""
    d = sources.load(spark, sf_dir, "documents")
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/docs/"),
            F.col("doc_id"),
            F.lit("?lang="),
            F.col("lang"),
            F.lit("&v=2"),
        ).alias("url"),
    )
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


def _morton(x: Column, y: Column, bits: int = ZBITS) -> Column:
    """Interleave the low `bits` of x and y into a Z-order key —
    pure bitwise builtins, stays inside whole-stage codegen."""
    z = F.lit(0)
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


_ZMAX = 3  # probe the [0, _ZMAX] × [0, _ZMAX] bucket square


@register(
    "sink_zorder",
    f"""
    SELECT event_id, user_id, value
    FROM events
    WHERE user_id % 256 BETWEEN 0 AND {_ZMAX}
      AND CAST(floor(value) AS BIGINT) % 256 BETWEEN 0 AND {_ZMAX}
    """,
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout: Morton-interleave (user bucket, value
    bucket), range-partition + sort by the Z key, write parquet. Points
    near each other in BOTH dimensions land in the same row groups, so
    parquet min/max stats prune a 2-D predicate — a linear sort key
    clusters only its leading column and scans everything for the
    second. This is the multi-dim generalization of sink_clustered,
    and the standard lakehouse answer (Delta/Iceberg Z-ORDER) re-built
    from bitwise primitives."""
    path = _scratch(sf_dir, "events_zorder")
    ev = sources.load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.pmod(F.col("user_id"), F.lit(256)).cast("int").alias("ub"),
        F.pmod(F.floor("value").cast("long"), F.lit(256)).cast("int").alias("vb"),
    )
    z = ev.withColumn("zkey", _morton(F.col("ub"), F.col("vb")))
    (
        z.repartitionByRange(8, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("ub").between(0, _ZMAX) & F.col("vb").between(0, _ZMAX))
        .select("event_id", "user_id", "value")
    )


PACK_BUDGET = 256  # tokens per training sequence


@register(
    "text_pack_tokens",
    f"""
    WITH counted AS (
      SELECT doc_id, source,
             len({DUCK_TOKENS}) AS n_tok
      FROM documents
    ), packed AS (
      SELECT source, doc_id, n_tok,
             CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tok)
                        / {PACK_BUDGET}) AS BIGINT) AS pack_id
      FROM counted
    )
    SELECT source, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM packed GROUP BY source, pack_id
    """,
)
def text_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget
    training sequences (the step after text_chunk in an LLM data
    pipeline — concatenate short docs so no context window is
    wasted). Distributed formulation: pack_id = floor(running-token-
    offset / budget) per source stream — boundary documents straddle
    two budgets (standard in distributed packing, where exact
    first-fit would serialize the corpus). One window + one agg,
    both on the same source partitioning: a single shuffle."""
    d = sources.load(spark, sf_dir, "documents")
    counted = d.select("doc_id", "source", F.size(tokens("text")).alias("n_tok"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    packed = counted.withColumn(
        "pack_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / PACK_BUDGET).cast("long"),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


COMPACT_TARGET_BYTES = 32 * 1024 * 1024  # per-file target for the rewrite


@register(
    "sink_compact",
    """
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance operator every
    long-lived 100 TB table needs (streaming sinks and per-partition
    upserts fragment tables into thousands of KB-sized files whose
    open/footer cost dominates scans). Simulate the fragmented state
    (64-way write), size it from the filesystem, rewrite at
    ceil(bytes/target) files via coalesce — coalesce, not
    repartition: compaction must not pay a shuffle, it only glues
    existing partitions. Content round-trips unchanged (the oracle);
    the file-count collapse is asserted in tests."""
    import math
    from pathlib import Path as P

    frag = _scratch(sf_dir, "events_fragmented")
    compact = _scratch(sf_dir, "events_compacted")
    ev = sources.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    n_bytes = sum(f.stat().st_size for f in P(frag).glob("*.parquet"))
    n_files = max(1, math.ceil(n_bytes / COMPACT_TARGET_BYTES))
    spark.read.parquet(frag).coalesce(n_files).write.mode("overwrite").parquet(compact)
    return spark.read.parquet(compact)


LEV_MAX = 4  # max edit distance for a fuzzy match


@register(
    "join_fuzzy_blocked",
    f"""
    WITH named AS (
      SELECT p_partkey, p_name,
             string_split(p_name, ' ')[-1] AS block
      FROM part
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM named a JOIN named b
      ON a.block = b.block AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {LEV_MAX}
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: fuzzy self-match of part names within
    a bounded edit distance, BLOCKED on the head noun so the O(n^2)
    Levenshtein never runs corpus-wide — pairs are generated by an
    equi-join on the blocking key and only same-block pairs pay the
    edit-distance compare. The canonical dedup shape for catalog /
    record-linkage data: at 100 TB the blocking key bounds every
    task's candidate set, and a skewed block (a too-common noun)
    is exactly the diag_skew + join_skew_salted case."""
    p = sources.load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"), "block"
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"), "block"
    )
    # plain 2-arg levenshtein, measured fastest: an A/B at sf0.1 put
    # it at ~35s vs ~50s with a length-gap pre-filter and ~48-80s with
    # the banded 3-arg form — the names are near-uniform length, so
    # the "lossless prunes" prune nothing and only add per-row
    # evaluation overhead. Keep the straightforward expression and
    # let the block key do the real work.
    return (
        a.join(b, "block")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= LEV_MAX)
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
    )


HIST_WIDTH = 10.0


@register(
    "agg_hist",
    f"""
    SELECT CAST(floor(value / {HIST_WIDTH}) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM events GROUP BY bucket
    """,
)
def agg_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the event value distribution — one
    map-side-combinable aggregation (the profiling primitive behind
    diag_skew's decisions and any quality-score threshold choice).
    Bucket ids are explicit floor arithmetic, identical in both
    engines, rather than width_bucket (whose edge rounding is
    engine-specific)."""
    ev = sources.load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / HIST_WIDTH).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


# seeding collects the corpus to the driver — cap it so the fixture
# path can never run at production scale by accident (sf0.1 has 20k
# vectors; 1M float32x64 rows ~ 256 MB, still driver-safe headroom)
NPY_SEED_MAX_ROWS = 1_000_000


@register(
    "scan_npy",
    f"""
    SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
           round({DUCK_NORM.format(a="embedding")} * 1e6)
             / 1e6 AS norm
    FROM embeddings
    """,
)
def scan_npy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel scan of the reference's native embedding artifact — a
    positional .npy matrix (ref A2, create_skill_embeddings.py:54-55,
    np.load at skills_for_jobs.py:399-400) — via a custom Python Data
    Source (Spark 4 API, sources/npy.py). The driver parses only the
    8-byte-aligned npy header; each task memory-maps its row slice
    and emits Arrow RecordBatches, so a 100 GB matrix scans with full
    executor parallelism and never touches driver memory. The row
    index surfaces as an explicit vec_id column (the positional join
    made explicit, SURVEY §1.3), which is exactly why the result is
    oracle-checkable against the embeddings table that seeded it."""
    import numpy as np

    from skills_vectors_spark.sources.npy import register_npy_source

    register_npy_source(spark)
    path = _scratch(sf_dir, "embeddings.npy")
    # seed the reference-format artifact once per sf (vec_id order =
    # row order; small at test SFs — production would use the
    # parallel reader against an existing matrix, not this adapter).
    # Hard row cap: the seeding path collects to the driver, so it
    # must be impossible to trigger on a real corpus — past the cap
    # we fail loudly instead of OOMing the driver.
    import os

    if not os.path.exists(path):
        emb = sources.load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        n = emb.count()
        if n > NPY_SEED_MAX_ROWS:
            raise RuntimeError(
                f"scan_npy fixture seeding is test-SF-only: corpus has {n} rows "
                f"(cap {NPY_SEED_MAX_ROWS}). At scale, point the npy reader at an "
                "existing matrix instead of synthesizing one driver-side."
            )
        pdf = emb.orderBy("vec_id").toPandas()
        arr = (
            np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
            if len(pdf)
            else np.zeros((0, 0), dtype=np.float32)  # empty-corpus fixture
        )
        np.save(path, arr)
    # project to scalars for the value compare (the harness hashes
    # scalar columns): id + dimension + norm pin the round trip
    return (
        spark.read.format("npy")
        .option("path", path)
        .option("num_partitions", "8")
        .load()
        .select(
            "vec_id",
            F.size("embedding").alias("dim"),
            (F.round(l2_norm("embedding") * 1e6) / 1e6).alias("norm"),
        )
    )


UPSERT_DATE = "2024-01-15"  # restated day (present at every SF)


@register(
    "sink_upsert_partition",
    f"""
    SELECT event_id, user_id,
           round(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '{UPSERT_DATE}'
                      THEN value * 2 ELSE value END, 6) AS value,
           CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS event_date
    FROM events
    """,
)
def sink_upsert_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level upsert via DYNAMIC partition overwrite — the
    incremental-maintenance idiom for hive-layout tables (a late
    restatement of one day rewrites ONE directory, not the table;
    without Delta/Iceberg this is the lakehouse merge primitive).
    Base load writes all days; the restated day (values doubled)
    then overwrites only its own partition because
    partitionOverwriteMode=dynamic scopes the overwrite to
    partitions present in the incoming frame. A static overwrite
    here would silently wipe every other day — which the oracle
    (full table, one day doubled) would catch."""
    path = _scratch(sf_dir, "events_upsert")
    ev = sources.load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("value").cast("double").alias("value"),
        F.to_date("ts").alias("event_date"),
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    restated = ev.filter(F.col("event_date") == F.lit(UPSERT_DATE).cast("date")).withColumn(
        "value", F.col("value") * 2
    )
    (
        restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
    )
    # explicit schema: a zero-row base write leaves no data file for
    # inference (empty increment); same relation otherwise
    return spark.read.schema(ev.schema).parquet(path).select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
        F.col("event_date").cast("string").alias("event_date"),
    )


# ------------------------------------------------ corpus mixing / splits

# Target keep-rates per language — the "rebalance toward the primary
# training language" mixture every LLM corpus pipeline applies before
# packing. Deterministic (md5-bucket) rather than RNG sampling so the
# mixture is reproducible row-for-row across engines and reruns.
MIX_RATES: dict[str, float] = {"en": 1.0, "zh": 0.5, "de": 0.5, "fr": 0.25, "es": 0.25}
_BUCKETS = 10_000

SPLIT_TRAIN, SPLIT_VAL = 0.8, 0.9  # cumulative bucket boundaries


def _bucket(col):
    """Deterministic [0, _BUCKETS) bucket from md5 — bit-identical in
    Spark (conv hex->dec) and DuckDB ('0x'||hex cast), verified."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % _BUCKETS


@register(
    "mix_corpus",
    f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {_BUCKETS}
               AS b
      FROM documents
    )
    WHERE b < CASE lang {" ".join(f"WHEN '{k}' THEN {int(v * _BUCKETS)}" for k, v in MIX_RATES.items())} ELSE 0 END
    """,
)
def mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture sampling: keep each document iff
    its md5 bucket falls under its language's target rate — the
    training-mixture construction step (rebalance per source/lang).
    A narrow map-side filter: no shuffle, no RNG state, reproducible
    row-for-row at any scale and across engines (exact oracle)."""
    d = sources.load(spark, sf_dir, "documents")
    rate = F.coalesce(
        F.create_map(*[F.lit(x) for kv in MIX_RATES.items() for x in kv])[
            F.col("lang")
        ],
        F.lit(0.0),
    )
    return d.filter(_bucket(F.col("doc_id")) < (rate * _BUCKETS).cast("long")).select(
        "doc_id", "lang"
    )


@register(
    "mix_temperature",
    f"""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT min(n) AS nmin FROM c),
    thr AS (
      SELECT lang,
             CAST(floor(sqrt(nmin / CAST(n AS DOUBLE)) * {_BUCKETS}) AS BIGINT) AS t
      FROM c, m
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr ON thr.lang = d.lang
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % {_BUCKETS}
          < thr.t
    """,
)
def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (T=2), the multilingual
    sampling rule from the mBERT/XLM-R line of work (public): sample
    language l proportional to p_l^(1/T), which downsamples
    high-resource languages toward uniform without upsampling. With
    T=2 the keep rate reduces to sqrt(n_min / n_l) — the smallest
    language keeps 100%, a 4x-larger one keeps 50%. Rates are derived
    FROM the corpus (one tiny grouped count) rather than declared, the
    difference from mix_corpus's fixed-rate mixture.

    Engine-equality note: the rate expression uses only IEEE
    correctly-rounded ops (int->double divide, sqrt, multiply, floor)
    — deliberately NOT pow(), whose last-ulp rounding differs between
    Java's Math.pow and libm and could flip a bucket threshold.
    Selection is the same md5-bucket map-side filter as mix_corpus:
    no shuffle on the corpus path, reproducible row-for-row."""
    from pyspark.sql import Window

    d = sources.load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    # global min over the per-lang counts via an unpartitioned window:
    # the frame is lang-cardinality rows (tiny by construction), and
    # this avoids the 1-row crossJoin's nested-loop plan
    nmin = F.min("n").over(Window.partitionBy())
    thr = counts.select(
        "lang",
        F.floor(F.sqrt(nmin / F.col("n")) * _BUCKETS).cast("long").alias("t"),
    )
    return (
        d.join(F.broadcast(thr), "lang")
        .filter(_bucket(F.col("doc_id")) < F.col("t"))
        .select("doc_id", "lang")
    )


@register(
    "split_train_eval",
    f"""
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM (
      SELECT doc_id,
             CASE
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % {_BUCKETS} < {int(SPLIT_TRAIN * _BUCKETS)} THEN 'train'
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % {_BUCKETS} < {int(SPLIT_VAL * _BUCKETS)} THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    )
    GROUP BY split
    """,
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by md5 bucket (80/10/10):
    assignment is a pure function of doc_id, so it is stable across
    engines, reruns, and incremental corpus growth (a doc never
    changes split when new docs arrive — the property RNG splits
    lack). Declared output is the per-split census; the assignment
    itself is the obvious projection of the same expression."""
    d = sources.load(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < int(SPLIT_TRAIN * _BUCKETS), "train")
        .when(b < int(SPLIT_VAL * _BUCKETS), "val")
        .otherwise("test")
    )
    return (
        d.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
    )
