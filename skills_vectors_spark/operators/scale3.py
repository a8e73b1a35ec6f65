"""Round-4 pipeline extensions: Unicode normalization, URL-canonical
dedup, SCD type-2 history, fixed-iteration PageRank, and count-min
heavy hitters.

These extend the training-data-pipeline surface (normalize before
dedup; crawl-frontier URL dedup; lakehouse dimension history; graph
centrality over the order graph; sketch-based frequency profiling).
They generalize the reference's text/scale handling the same way the
textstats family does: the reference scrubs text before embedding
(/root/reference/create_skill_embeddings.py:12,16 — ``text.replace
("\\n", " ")``) and its loaders dedup on primary keys before upsert
(load_skill_vectors_pg.py:48-59 ON CONFLICT semantics).

Everything here except the single NFC Arrow pass is Catalyst
built-ins: whole-stage codegen expressions, map-side-combinable
aggregations, and bounded-size sketch state — all of which survive a
1000-executor 100 TB run without plan changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from skills_vectors_spark import cache, sources
from skills_vectors_spark.functions.text import DUCK_NORM, DUCK_TOKENS, normalize_text, tokens
from skills_vectors_spark.registry import register

# ------------------------------------------------ text_normalize

# Planted Unicode rows (negative doc_ids, disjoint from the corpus):
# decomposed vs composed accents and a compatibility ligature, so the
# NFC step is exercised with known-answer inputs in BOTH engines.
# Single spaces only — the registry collapses oracle whitespace, so
# multi-space literals would not survive inside the SQL string (the
# corpus rows still exercise the whitespace collapse).
_PLANTED: list[tuple[int, str]] = [
    (-1, "Cafe\u0301 LATTE"),  # decomposed e + U+0301 -> caf\u00e9
    (-2, "CAF\u00c9 latte"),  # composed \u00c9 -> caf\u00e9 (same norm as -1)
    (-3, "\ufb01ne Dining"),  # fi ligature: NFC keeps it (NFKC would fold)
    (-4, "A\u030angstro\u0308m UNIT"),  # decomposed ring/diaeresis
    (-5, "\u00c5ngstr\u00f6m unit"),  # composed twin of -4
]

_PLANTED_SQL = " UNION ALL ".join(
    "SELECT CAST(%d AS BIGINT) AS doc_id, '%s' AS text" % (i, t.replace("'", "''"))
    for i, t in _PLANTED
)


@register(
    "text_normalize",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      {_PLANTED_SQL}
    )
    SELECT doc_id,
           nfc_normalize({DUCK_NORM}) AS norm_text,
           nfc_normalize({DUCK_NORM}) <> text AS changed
    FROM all_docs
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC text normalization (lowercase + whitespace collapse
    + canonical composition) — the pass every corpus pipeline runs
    BEFORE dedup so that composed and decomposed spellings of the same
    string hash identically. Generalizes the reference's pre-embedding
    scrub (create_skill_embeddings.py:12,16).

    Scale shape: lowercase + whitespace collapse stay in whole-stage codegen;
    only the NFC step (no Catalyst builtin exists) runs as one
    Arrow-vectorized pass (pandas ``str.normalize`` = unicodedata NFC,
    the same UAX#15 algorithm utf8proc implements for the DuckDB
    oracle). Narrow plan: no shuffle, no state, linear in input.
    """
    pre = _docs_with_planted(spark, sf_dir)

    def nfc(batches):
        for pdf in batches:
            pdf["norm_text"] = pdf["pre_norm"].str.normalize("NFC")
            pdf["changed"] = pdf["norm_text"] != pdf["text"]
            yield pdf[["doc_id", "norm_text", "changed"]]

    return pre.mapInPandas(nfc, schema="doc_id long, norm_text string, changed boolean")


def _docs_with_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ planted rows, with the codegen half of the
    normalization (lower + whitespace collapse) precomputed.

    The planted rows ride a VALUES local relation, not
    createDataFrame: the latter parallelizes 5 rows across every
    core, and each empty-ish partition still pays a Python-worker
    launch in the downstream Arrow stage."""
    d = sources.load(spark, sf_dir, "documents").select("doc_id", "text")
    vals = ", ".join(
        "(CAST(%d AS BIGINT), '%s')" % (i, t.replace("'", "''")) for i, t in _PLANTED
    )
    planted = spark.sql(f"SELECT doc_id, text FROM VALUES {vals} AS t(doc_id, text)")
    return d.unionByName(planted).select(
        "doc_id",
        "text",
        normalize_text("text").alias("pre_norm"),
    )


@register(
    "dedup_normalized",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      {_PLANTED_SQL}
    ),
    norm AS (
      SELECT doc_id,
             nfc_normalize({DUCK_NORM}) AS norm_text
      FROM all_docs
    )
    SELECT md5(norm_text) AS norm_key,
           CAST(count(*) AS BIGINT) AS n_dups,
           min(doc_id) AS keep_doc_id
    FROM norm
    GROUP BY md5(norm_text)
    HAVING count(*) > 1
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER NFC normalization — the normalize→dedup
    composition: case, whitespace, and composed/decomposed Unicode
    variants of the same content collapse to one cluster that raw
    byte-hash dedup (dedup_exact, operators/dedup.py:59) misses by
    construction. The planted composed/decomposed twins guarantee
    true positives in both engines.

    Scale shape: same as dedup_exact — hash the normalized text,
    ONE map-side-combinable groupBy on the 128-bit key; the Arrow
    NFC pass is narrow and linear. The norm key, not the full text,
    is what shuffles.
    """
    pre = _docs_with_planted(spark, sf_dir)

    def nfc(batches):
        for pdf in batches:
            yield pdf.assign(norm_text=pdf["pre_norm"].str.normalize("NFC"))[
                ["doc_id", "norm_text"]
            ]

    norm = pre.mapInPandas(nfc, schema="doc_id long, norm_text string")
    return (
        norm.select("doc_id", F.md5("norm_text").alias("norm_key"))
        .groupBy("norm_key")
        .agg(F.count("*").cast("long").alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


# ------------------------------------------------ dedup_url

# Crawl-dedup fixture: each doc carries one deterministic messy URL
# (5 surface variants per base URL), so canonicalization must collapse
# exactly 5 variants into one canonical key. The variant construction
# and the canonicalization chain are expressed with the same regexes
# in both engines (Spark regexp_replace is global by default; the
# DuckDB mirror passes the 'g' flag where more than one match exists).
_URL_CASES_SQL = """
CASE CAST(doc_id % 5 AS INTEGER)
  WHEN 0 THEN 'https://example' || b || '.com/docs/item' || b
  WHEN 1 THEN 'https://www.EXAMPLE' || b || '.COM/docs/item' || b || '/'
  WHEN 2 THEN 'https://example' || b || '.com:443/docs/item' || b || '?utm_source=feed'
  WHEN 3 THEN 'https://example' || b || '.com/docs/item' || b || '#section-2'
  ELSE 'HTTPS://WWW.example' || b || '.com:443/docs/item' || b || '/?utm_campaign=x&utm_medium=email#top'
END
"""


# One ANCHORED pattern captures every URL part; the remaining regexes
# then run on the SHORT captured substrings (host / path / query),
# never the full URL again. Anchoring is the whole fix: an unanchored
# pattern makes java.util.regex retry the match at every character
# offset, so the r4 chain of 9 unanchored ops rescanned each URL
# dozens of times.
_URL_ANCHORED_RE = r"^([A-Za-z]+)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"


@register(
    "dedup_url",
    f"""
    WITH raw AS (
      SELECT doc_id, {_URL_CASES_SQL} AS url
      FROM (SELECT doc_id, CAST(doc_id // 5 AS VARCHAR) AS b FROM documents)
    ),
    parts AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             regexp_replace(regexp_replace(
               lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
               '^www\\.', ''), ':(443|80)$', '') AS host,
             regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
               '/+$', '') AS path,
             regexp_replace(regexp_replace(
               regexp_extract(url, '^[A-Za-z]+://[^/?#]+[^?#]*\\?([^#]*)', 1),
               'utm_[a-z]+=[^&#]*&?', '', 'g'), '&$', '') AS query
      FROM raw
    ),
    canon AS (
      SELECT doc_id,
             scheme || '://' || host || path ||
               CASE WHEN query <> '' THEN '?' || query ELSE '' END AS canonical_url
      FROM parts
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_dups,
           min(doc_id) AS keep_doc_id
    FROM canon
    GROUP BY canonical_url
    """,
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-frontier dedup step of
    a web-scale corpus pipeline (scheme/host case-folding, www and
    default-port stripping, trailing-slash and fragment removal,
    tracking-param scrub), then keep-first per canonical URL (the
    reference's on-conflict upsert semantics,
    load_skill_vectors_pg.py:48-59, applied to URLs).

    Canonicalization stays in whole-stage codegen but extracts every
    part with ONE anchored pattern (_URL_ANCHORED_RE); the five
    remaining regexes operate on the short captured substrings only.
    The r4 form — 9 chained UNANCHORED java.util.regex ops, each
    retrying the match at every character offset of the full URL —
    measured 6.05x DuckDB cold at the 10x tier. This form measures
    ~0.51 s vs DuckDB 0.14 s (~3.7x): the canonicalization itself
    shrank ~7x and the residual is the engine floor, not the regexes
    — a bare scan+groupBy with NO canonicalization at all already
    measures 0.25 s exec + 0.18 s Python plan-build at this 50k-row
    tier (1.8x DuckDB's ENTIRE query). Same floor class as
    sql_api_region_revenue (SCALING.md): fixed per-stage scheduling
    and plan construction, the cost that vanishes at real scale. A
    fused pyarrow.compute variant (extract_regex + RE2 replaces)
    measured slower still (~0.72 s) — the Python-worker stage costs
    more than the regex work it saves.

    Scale shape: narrow codegen expressions, partition-parallel; only
    the canonical key reaches the one groupBy, which
    partial-aggregates map-side. The repartition shuffles ONLY the
    8-byte doc_id (the fixture synthesizes URLs from it) so the regex
    work spreads past the fixture's 2 scan partitions; 8 slices keeps
    ≥~5k rows per task at the smallest tier (32 slices measured
    slower — task overhead beats the gain). A real crawl's many scan
    partitions make it a no-op to drop. At 100 TB the canonical key
    is high-cardinality and uniform — no skew, no broadcast.
    """
    d = (
        sources.load(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(8)
        .select("doc_id", F.expr("doc_id div 5").cast("string").alias("b"))
    )
    raw = d.select("doc_id", F.expr(_URL_CASES_SQL).alias("url"))
    scheme = F.lower(F.regexp_extract("url", _URL_ANCHORED_RE, 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", _URL_ANCHORED_RE, 2)), r"^www\.", ""
        ),
        r":(443|80)$",
        "",
    )
    path = F.regexp_replace(F.regexp_extract("url", _URL_ANCHORED_RE, 3), r"/+$", "")
    query = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", _URL_ANCHORED_RE, 4), r"utm_[a-z]+=[^&#]*&?", ""
        ),
        r"&$",
        "",
    )
    canon = raw.select(
        "doc_id",
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count("*").cast("long").alias("n_dups"),
        F.min("doc_id").alias("keep_doc_id"),
    )


# ------------------------------------------------ scd2_history

@register(
    "scd2_history",
    """
    WITH ordered AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS t_us,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, event_id, t_us
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type,
           t_us AS valid_from_us,
           lead(t_us) OVER w AS valid_to_us,
           CAST(row_number() OVER w AS BIGINT) AS version,
           lead(t_us) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: collapse each
    user's event stream into versioned validity intervals of its
    attribute value (``event_type``) — change rows open a version,
    ``lead`` closes it, the open row is ``is_current``. This is the
    lakehouse MERGE-as-SCD2 primitive (the reference's upsert loaders
    overwrite in place, load_skill_vectors_pg.py:48-59; SCD2 is the
    history-preserving variant a warehouse needs).

    Scale shape: ONE shuffle — both windows and the change filter
    share the same (user_id, ts, event_id) partitioning/ordering, so
    Catalyst plans a single Exchange + Sort feeding chained Window
    nodes. Deterministic under timestamp ties via the event_id
    tiebreak. Micro-second epochs (BIGINT) keep the NTZ timestamp
    comparison engine-neutral.
    """
    ev = sources.load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    w1 = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w1))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("t_us").alias("valid_from_us"),
        F.lead("t_us").over(w2).alias("valid_to_us"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.lead("t_us").over(w2).isNull().alias("is_current"),
    )


# ------------------------------------------------ graph_pagerank

PR_ITERS = 3
PR_DAMP = 0.85
# eager localCheckpoint every 2nd iteration, not every iteration: the
# checkpoint bounds lineage/recompute, but each one is a full eager
# materialization — halving their count won all 3 paired cold A/Bs at
# sf0.1 (5.63/4.49/4.68 s every-1 vs 4.76/4.42/4.24 s every-2,
# identical output). Lineage depth between checkpoints stays ≤ 2
# join+agg rounds, so the Pregel quadratic-recompute hazard stays
# bounded at any iteration count.
PR_CHECKPOINT_EVERY = 2
# broadcast the per-iteration rank×degree side while the node set is
# provably small. Sizing (advisor r13): a string-keyed
# BroadcastHashJoin HashedRelation costs ~3-5x the raw row bytes and
# is rebuilt on every one of the PR_ITERS iterations, so the gate
# budgets the BUILT relation, not the 40 B/row back-of-envelope:
# 500k nodes x ~40 B x ~5 ≈ 100 MB per build — comfortable for
# driver and executors. Beyond it the shuffle plan takes over
# (correctness unaffected; the broadcast is purely a fast path).
PR_BCAST_MAX_NODES = 500_000


def _pagerank_oracle() -> str:
    """Chained-CTE oracle: fixed PR_ITERS power iterations, unrolled
    (standard SQL forbids aggregation inside a recursive CTE term).
    Each iteration rounds to 10 dp — in both engines — so float
    summation-order drift cannot compound across iterations; the
    output rounds to 6 dp."""
    head = """
    WITH e0 AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS d FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS cnt FROM deg),
    r0 AS (SELECT node, 1.0 / min(nn.cnt) AS pr FROM deg CROSS JOIN nn GROUP BY node)
    """
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f""",
    r{i} AS (
      SELECT e.dst AS node,
             round(0.15 / min(nn.cnt) + {PR_DAMP} * sum(r{i-1}.pr / dg.d), 10) AS pr
      FROM edges e
      JOIN r{i-1} ON r{i-1}.node = e.src
      JOIN deg dg ON dg.node = e.src
      CROSS JOIN nn
      GROUP BY e.dst
    )"""
        )
    return (
        head
        + "".join(steps)
        + f" SELECT node, round(pr, 6) AS pr FROM r{PR_ITERS}"
    )


@register("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the undirected customer↔supplier
    graph (an edge per distinct trading pair from orders⋈lineitem) —
    the iterative-algorithm representative: graph centrality over a
    transaction graph, the standard entity-importance signal.

    Scale shape: the classic distributed PageRank loop — edges built
    once, cached, reused every iteration; each iteration is one join
    (rank×degree side is node-cardinality, Catalyst broadcasts it
    while it fits, reverts to shuffle when it doesn't) plus one
    map-side-combinable groupBy on dst. Iterations are a fixed small
    constant so lineage stays shallow (no checkpoint needed; the
    unbounded-iteration sibling with convergence detection +
    localCheckpoint is dedup_clusters, operators/dedup.py:578).
    Per-iteration 10-dp rounding in BOTH engines stops float
    summation-order drift from compounding. Residual oracle risk,
    documented rather than hidden: a partial sum landing within
    ~1e-15 of a 1e-10 rounding boundary could still round differently
    per engine and then compound — ~1e-5 probability per value per
    iteration, never observed across the attested tiers. If it ever
    trips at a larger tier, the correct fix is tolerance-based
    comparison (abs 1e-6, matching the output rounding), not more
    rounding.
    """
    o = sources.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = sources.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # dedup on the two int keys, THEN stringify: distinct over 16-byte
    # rows shuffles ~3x less than over the concatenated strings
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )
    # the half-edge list is reused 3x below (node count, both union
    # arms); cache it so the orders⋈lineitem distinct runs once
    pairs = pairs.cache()
    # node count from the cached half-edges: the 'c'/'s' prefixes make
    # the two node families disjoint, so n = |distinct src| +
    # |distinct dst| — one small aggregate, no full edge build yet.
    # n gates the join strategy below, so it must be known BEFORE the
    # edge cache's partition key is chosen.
    cnt = pairs.agg(
        F.countDistinct("src").alias("a"), F.countDistinct("dst").alias("b")
    ).collect()[0]
    n = int(cnt["a"] or 0) + int(cnt["b"] or 0)
    if n == 0:  # empty corpus: no graph — empty ranks, not 1/0
        pairs.unpersist()
        return spark.createDataFrame([], "node string, pr double")
    # node-cardinality gate for broadcasting the rank×degree side: the
    # rank vector is one (string, double) row per node, ~40 B framed,
    # so 2M nodes ≈ 80 MB — the conventional broadcast ceiling. Below
    # it, shipping ranks to every executor deletes the per-iteration
    # rank-side exchanges (the classic small-rank/big-edges PageRank
    # plan) AND lets the edge cache be keyed by dst — the groupBy key
    # — so each iteration aggregates over 2|E| rows with ZERO
    # exchanges. Above it, rank rows outgrow executor memory and the
    # shuffle plan keyed by src (the join key) is the only correct
    # one. The gate reads a measured count, not a size estimate, so
    # it scales with the corpus, not the host.
    bcast_ranks = n <= PR_BCAST_MAX_NODES
    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    edges = sym.repartition("dst" if bcast_ranks else "src").cache()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("double").alias("d")
    ).cache()
    # eager localCheckpoint on a 2-iteration cadence (see
    # PR_CHECKPOINT_EVERY): without ANY checkpoint the single final
    # action re-derives iteration i inside iterations i+1..N —
    # quadratic recompute — and the lineage deepens per round (the
    # Pregel pattern, same as dedup_clusters); checkpointing EVERY
    # round over-materializes (measured: every-2 won all 3 paired
    # A/Bs). The final iteration always checkpoints so the returned
    # frame is self-contained once the iteration caches release.
    ranks = deg.select("node", F.lit(1.0 / n).alias("pr")).localCheckpoint()
    for i in range(PR_ITERS):
        rd = ranks.join(deg, "node").select("node", (F.col("pr") / F.col("d")).alias("w"))
        if bcast_ranks:
            rd = F.broadcast(rd)
        ranks = (
            edges.join(rd, edges.src == rd.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.round(F.lit(0.15 / n) + PR_DAMP * F.sum("w"), 10).alias("pr"))
        )
        if (i + 1) % PR_CHECKPOINT_EVERY == 0 or i == PR_ITERS - 1:
            ranks = ranks.localCheckpoint()
    # the eager checkpoint makes the final ranks self-contained, so
    # the iteration-only caches can release their executor blocks now
    # instead of living until session teardown (cache-pressure lesson
    # from the r4 suite runs, SCALING.md)
    pairs.unpersist()
    edges.unpersist()
    deg.unpersist()
    return ranks.select("node", F.round("pr", 6).alias("pr"))


# ------------------------------------------------ agg_heavy_hitters

CMS_W = 256  # counter width per hash row
CMS_SEEDS = [1, 2, 3, 4]  # depth-4 sketch
HH_TOPK = 20


def _cms_bucket_sql(seed_expr: str, val_expr: str) -> str:
    """DuckDB twin of ``_cms_bucket`` — single source for the bucket
    expression used by every CMS oracle (both args are SQL fragments:
    a seed column/literal and the hashed value column)."""
    return (
        f"('0x' || substr(md5({seed_expr} || ':' || {val_expr}), 1, 8))::BIGINT % {CMS_W}"
    )


def _cms_bucket(seed_col, val_col):
    """seed-salted md5 bucket in [0, CMS_W) — bit-identical to the
    DuckDB form (same trick as operators/scale2.py:_bucket)."""
    h = F.md5(F.concat(seed_col.cast("string"), F.lit(":"), val_col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % CMS_W


@register(
    "agg_heavy_hitters",
    f"""
    WITH toks AS (SELECT unnest({DUCK_TOKENS}) AS tok FROM documents),
    cnts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT sum(cnt) AS tot FROM cnts),
    seeds AS (SELECT unnest({CMS_SEEDS}) AS seed),
    cms AS (
      SELECT seed,
             {_cms_bucket_sql("seed", "tok")} AS b,
             CAST(sum(cnt) AS BIGINT) AS c
      FROM cnts CROSS JOIN seeds
      GROUP BY 1, 2
    ),
    topk AS (SELECT tok, cnt FROM cnts ORDER BY cnt DESC, tok LIMIT {HH_TOPK}),
    est AS (
      SELECT t.tok, t.cnt, min(c.c) AS cms_est
      FROM topk t
      CROSS JOIN seeds s
      JOIN cms c ON c.seed = s.seed
        AND c.b = {_cms_bucket_sql("s.seed", "t.tok")}
      GROUP BY t.tok, t.cnt
    )
    SELECT tok, cnt AS exact_cnt, cms_est,
           (cms_est >= cnt AND cms_est - cnt <= CAST(ceil(tot * 2.0 / {CMS_W}) AS BIGINT))
             AS within_bound
    FROM est CROSS JOIN total
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters two ways: exact top-HH_TOPK (20) token frequencies
    AND their count-min-sketch estimates from a depth-4 × width-256
    CMS, with the classic overestimate bound (est ≥ exact, slack ≤
    2/w · total) emitted as a checked column. The sketch is the
    100 TB path — frequency profiling with O(d·w) mergeable state
    instead of a full vocabulary groupBy — and emitting both sides
    makes the accuracy claim data-attested, the same pattern as
    agg_hll_sketch / eval_backend_compare.

    Scale shape: the CMS build is a map-side-combinable groupBy into
    d·w = 4x256 = 1024 cells — bounded state regardless of
    corpus size, mergeable across partitions (and micro-batches).
    Hashing is the md5-bucket trick (operators/scale2.py:_bucket),
    bit-identical in both engines, so the entire sketch — not just a
    gate — is exact-oracle-checked.
    """
    def build_counts() -> DataFrame:
        d = sources.load(spark, sf_dir, "documents")
        toks = d.select(F.explode(tokens("text")).alias("tok"))
        return toks.groupBy("tok").agg(F.count("*").cast("long").alias("cnt"))

    # session cache module, not a bare .cache(): the returned plan
    # references the counts 4x, and routing through cached_df means
    # session teardown / bench cache-clear releases the blocks (the
    # r4 leak the advisor flagged)
    cnts = cache.cached_df("cms_token_counts", spark, sf_dir, build_counts)
    total = cnts.agg(F.sum("cnt").alias("tot"))
    seeds = F.explode(F.array(*[F.lit(s) for s in CMS_SEEDS])).alias("seed")
    cms = (
        cnts.select(seeds, "tok", "cnt")
        .select("seed", _cms_bucket(F.col("seed"), F.col("tok")).alias("b"), "cnt")
        .groupBy("seed", "b")
        .agg(F.sum("cnt").alias("c"))
    )
    topk = cnts.orderBy(F.desc("cnt"), "tok").limit(HH_TOPK)
    est = (
        topk.select(seeds, "tok", "cnt")
        .withColumn("b", _cms_bucket(F.col("seed"), F.col("tok")))
        .join(cms, ["seed", "b"])
        .groupBy("tok", "cnt")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.crossJoin(F.broadcast(total)).select(
        "tok",
        F.col("cnt").alias("exact_cnt"),
        "cms_est",
        (
            (F.col("cms_est") >= F.col("cnt"))
            & (F.col("cms_est") - F.col("cnt") <= F.ceil(F.col("tot") * 2.0 / CMS_W).cast("long"))
        ).alias("within_bound"),
    )


# ------------------------------------------------ join_bloom_prefilter

BLOOM_FACTOR = 8  # bits per build key (m = FACTOR * n -> fp ~ 0.2%)
BLOOM_SEEDS = [1, 2, 3]  # k = 3 hash functions (partitioned: one array each)
HIGH_VALUE = 300_000.0  # build-side predicate: high-value orders


def _bloom_bit_sql(seed_expr: str, key_expr: str, m_expr: str) -> str:
    return (
        f"('0x' || substr(md5({seed_expr} || ':' || {key_expr}), 1, 8))::BIGINT"
        f" % {m_expr}"
    )


def _bloom_bit(seed_col, key_col, m: int):
    h = F.md5(F.concat(seed_col.cast("string"), F.lit(":"), key_col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % m


@register(
    "join_bloom_prefilter",
    f"""
    WITH seeds AS (SELECT unnest({BLOOM_SEEDS}) AS seed),
    build AS (SELECT DISTINCT o_orderkey AS k FROM orders
              WHERE o_totalprice > {HIGH_VALUE}),
    msz AS (SELECT greatest(1, {BLOOM_FACTOR} * count(*)) AS m FROM build),
    bits AS (SELECT DISTINCT seed, {_bloom_bit_sql("seed", "k", "msz.m")} AS bit
             FROM build CROSS JOIN seeds CROSS JOIN msz),
    probe_keys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    probes AS (
      SELECT p.k, seed, {_bloom_bit_sql("seed", "p.k", "msz.m")} AS bit
      FROM probe_keys p CROSS JOIN seeds CROSS JOIN msz
    ),
    hits AS (
      SELECT p.k
      FROM probes p
      JOIN bits b USING (seed, bit)
      GROUP BY p.k
      HAVING count(*) = {len(BLOOM_SEEDS)}
    ),
    cand AS (SELECT l_orderkey FROM lineitem WHERE l_orderkey IN (SELECT k FROM hits)),
    truth AS (SELECT l_orderkey FROM lineitem WHERE l_orderkey IN (SELECT k FROM build))
    SELECT CAST((SELECT count(*) FROM build) AS BIGINT) AS n_build_keys,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_probe_rows,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidate_rows,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_rows,
           CAST((SELECT count(*) FROM cand) - (SELECT count(*) FROM truth) AS BIGINT)
             AS n_false_positive_rows,
           (SELECT count(*) FROM cand) >= (SELECT count(*) FROM truth)
             AND 20 * ((SELECT count(*) FROM cand) - (SELECT count(*) FROM truth))
                 <= (SELECT count(*) FROM lineitem) - (SELECT count(*) FROM truth) + 19
             AS bloom_ok
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-Bloom semi-join prefilter — the runtime-filter
    pattern for big-probe/small-build joins at 100 TB: summarize the
    build side's keys into a partitioned Bloom filter (k arrays of
    m = BLOOM_FACTOR·n bits, one per hash — fp = (1-e^(-n/m))^k ≈
    0.2% at factor 8), broadcast the bit set, and drop probe rows
    MAP-SIDE before any exchange; the exact semi-join then runs over
    the ~fp-reduced survivors. (Spark's own adaptive runtime filtering
    does this JVM-internally; this operator makes the mechanism
    explicit, measurable, and oracle-checkable.)

    The query emits the audit row: build-key count, probe rows,
    Bloom-pass candidates, exact-semi-join truth, false positives,
    and the no-false-negative + fp-bound gate. Because the k hash
    functions are the md5-bucket construction, the ENTIRE filter —
    bit set, candidate set, fp count — is bit-identical in DuckDB and
    exact-oracle-checked, the same pattern as agg_heavy_hitters.

    Scale shape: the filter is sized FROM the build cardinality
    (m = BLOOM_FACTOR·n bits per hash — the fixed-width variant
    measured fp≈100% once n outgrew it, so sizing is part of the
    operator, exactly as production runtime filters size from build
    statistics). The bits table is ≤ k·n rows of two ints —
    broadcast-safe precisely when a runtime filter makes sense
    (selective build side). The fact table is scanned ONCE: the
    map-side-combinable groupBy collapses it to per-key row counts —
    the same exchange the old distinct-key probe already paid, now
    carrying the count alongside — and every audit number (probe
    rows, candidate rows, exact-truth rows) is a broadcast-flagged
    conditional sum over that key-grain frame, so the two extra
    full-fact semi-join scans of the r8 shape are gone (r12 verdict
    item: cold 2.93 -> ~1.2 s at sf0.1, identical audit row by
    construction).
    """
    o = sources.load(spark, sf_dir, "orders")
    li = sources.load(spark, sf_dir, "lineitem").select("l_orderkey")
    seeds = F.explode(F.array(*[F.lit(s) for s in BLOOM_SEEDS])).alias("seed")

    # no .distinct(): o_orderkey is the orders primary key, so the
    # filtered projection is already unique — the dedup exchange the
    # old shape paid bought nothing (oracle's DISTINCT is likewise a
    # no-op on unique keys, values unchanged)
    build = cache.cached_df(
        "bloom_build",
        spark,
        sf_dir,
        lambda: o.filter(F.col("o_totalprice") > HIGH_VALUE).select(
            F.col("o_orderkey").alias("k")
        ),
    )
    build_n = build.count()  # scalar: sizes the filter (one driver int)
    m = max(1, BLOOM_FACTOR * build_n)
    bits = (
        build.select(seeds, "k")
        .select("seed", _bloom_bit(F.col("seed"), F.col("k"), m).alias("bit"))
        .distinct()
    )
    # ONE fact scan: per-key row counts (map-side combinable; the key
    # exchange is what probe_keys.distinct() cost before, the count
    # rides along for free). Cached: the Bloom probe and the audit
    # sums both read it.
    key_counts = cache.cached_df(
        "bloom_key_counts",
        spark,
        sf_dir,
        lambda: li.groupBy("l_orderkey")
        .agg(F.count("*").alias("c"))
        .withColumnRenamed("l_orderkey", "k"),
    )
    # the md5 bucket computation is the CPU hot spot of this pass
    # (|probe keys| x k hashes); spread() re-parallelizes the
    # AQE-coalesced post-groupBy frame across local cores and is a
    # no-op on a cluster (sources.spread policy)
    hits = (
        sources.spread(spark, key_counts.select(seeds, "k"))
        .select("seed", "k", _bloom_bit(F.col("seed"), F.col("k"), m).alias("bit"))
        .join(F.broadcast(bits), ["seed", "bit"])
        .groupBy("k")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == len(BLOOM_SEEDS))
        .select("k")
    )
    # one scalar action over the key-grain frame: candidate and
    # exact-truth row counts are conditional sums under broadcast
    # membership flags (truth ⊆ candidates is separately gated, but
    # the truth flag joins the build set directly, so the audit
    # numbers are exact regardless). A per-seed-broadcast-join variant
    # (k flag joins, no explode/groupBy) measured SLOWER locally
    # (2.7-3.2 s vs 2.06 s): three broadcast exchanges serialize
    # behind each other while the single hits broadcast overlaps.
    # The candidate and truth flags ride ONE broadcast (full-outer
    # merge of the two key sets) instead of two stacked broadcast
    # joins — one fewer broadcast exchange on the critical path.
    flags = hits.withColumn("h", F.lit(1)).join(
        build.withColumn("t", F.lit(1)), "k", "full_outer"
    )
    flagged = key_counts.join(F.broadcast(flags), "k", "left")
    r = flagged.agg(
        F.sum("c").alias("probe"),
        F.sum(F.when(F.col("h") == 1, F.col("c")).otherwise(0)).alias("cand"),
        F.sum(F.when(F.col("t") == 1, F.col("c")).otherwise(0)).alias("truth"),
    ).collect()[0]
    probe_n = int(r["probe"] or 0)
    cand_n = int(r["cand"] or 0)
    true_n = int(r["truth"] or 0)
    # every action that reads the cached sides has run; free their
    # blocks now rather than at the next cache.clear()
    cache.evict(spark, ("df", sf_dir, "bloom_build"), ("df", sf_dir, "bloom_key_counts"))
    fp = cand_n - true_n
    # gate: no false negatives, and fp <= ceil(5% of non-member rows)
    # (integer form: 20*fp <= nonmember + 19 — engine-identical)
    ok = cand_n >= true_n and 20 * fp <= (probe_n - true_n) + 19
    row = (
        f"SELECT CAST({build_n} AS BIGINT) AS n_build_keys, "
        f"CAST({probe_n} AS BIGINT) AS n_probe_rows, "
        f"CAST({cand_n} AS BIGINT) AS n_candidate_rows, "
        f"CAST({true_n} AS BIGINT) AS n_true_rows, "
        f"CAST({fp} AS BIGINT) AS n_false_positive_rows, "
        f"{'true' if ok else 'false'} AS bloom_ok"
    )
    return spark.sql(row)


# ------------------------------------------------ stream_cms_counters

@register(
    "stream_cms_counters",
    f"""
    WITH seeds AS (SELECT unnest({CMS_SEEDS}) AS seed)
    SELECT seed,
           {_cms_bucket_sql("seed", "user_id")} AS b,
           CAST(count(*) AS BIGINT) AS c
    FROM events CROSS JOIN seeds
    GROUP BY 1, 2
    """,
)
def stream_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch maintained BY A STREAM: per-user event
    frequencies sketched into the same depth-4 × width-CMS_W (256) counter
    table as agg_heavy_hitters, but built incrementally by a real
    Structured Streaming aggregation over the event stream. The batch
    oracle checks the mergeability claim end-to-end: running counter
    state merged across micro-batches must equal the one-shot batch
    sketch, cell for cell.

    Scale shape: streaming state is d·w = 1024
    cells regardless of stream length or key cardinality — the whole
    point of sketch-backed monitoring on an unbounded stream (exact
    per-user counts would grow state linearly in users). Complete
    output mode is safe for the same reason: the result table is
    constant-size.
    """
    from skills_vectors_spark.streaming.windows import run_to_completion, stream_events

    ev = stream_events(spark, sf_dir).select("user_id")
    seeds = F.explode(F.array(*[F.lit(s) for s in CMS_SEEDS])).alias("seed")
    keyed = ev.select(seeds, "user_id").select(
        "seed", _cms_bucket(F.col("seed"), F.col("user_id")).alias("b")
    )
    agg = keyed.groupBy("seed", "b").agg(F.count("*").cast("long").alias("c"))
    return run_to_completion(agg)
