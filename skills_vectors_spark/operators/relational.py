"""Relational operator inventory (SURVEY §2.B, M1).

Generalizes the reference's client-side row operations — CSV scans
(/root/reference/skills_for_jobs.py:394-395), batched upsert sinks
(load_skill_vectors_pinecone.py:33-49), membership counting
(skills_for_jobs.py:199-200), dedup (:371-379), means (:206-211),
caps/limits (:22) — into the full join/agg/window/setop surface,
each as a declarative Catalyst plan with a DuckDB oracle.

Scale notes are per-operator; globally: every group-by aggregation
here is partial (map-side combine) by construction, joins to small
dims are broadcast, and top-k windows hit WindowGroupLimit so no
executor ever materializes a full partition sort at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skills_vectors_spark import cache, sources
from skills_vectors_spark.registry import register
from skills_vectors_spark.scratch import scratch as _scratch


# ---------------------------------------------------------------- sources


@register(
    "scan_parquet",
    """
    SELECT l_orderkey, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity > 30
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with filter+projection pushed to the parquet reader
    (ref A1: pandas read_csv full-table scans at skills_for_jobs.py:394).
    Catalyst pushes both into the FileScan: PushedFilters + 3-col
    ReadSchema — verify with .explain("formatted")."""
    return (
        sources.load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    )


@register("scan_csv", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest with an explicit StructType — no schema inference in
    the engine proper (ref A1 reads CSV with pandas inference;
    SURVEY §1.3 mandates engine-declared schemas)."""
    path = _scratch(sf_dir, "nation_csv")
    sources.load(spark, sf_dir, "nation").write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(sources.SCHEMAS["nation"]).option("header", True).csv(path)


@register(
    "sink_parquet",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 100000",
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write + re-read round trip (ref A3/A8 CSV report sink + bulk
    upsert). Partition-parallel writers, no driver funnel."""
    path = _scratch(sf_dir, "orders_sink")
    df = (
        sources.load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@register("sink_overwrite", "SELECT p_partkey, p_brand, p_retailprice FROM part")
def sink_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncate-and-load semantics (ref A9: delete-all before load,
    load_skill_vectors_pinecone.py:37 etc.) — first write garbage,
    then overwrite with the real table; reader must see only the
    second load."""
    path = _scratch(sf_dir, "part_sink")
    part = sources.load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    part.limit(7).write.mode("overwrite").parquet(path)  # stale load to be wiped
    part.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# ------------------------------------------------------- project / filter


@register(
    "project_rename",
    """
    SELECT c_custkey AS cust_id, upper(c_name) AS name_uc,
           CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           c_mktsegment AS segment
    FROM customer
    """,
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection, alias, computed column (ref A4 iterrows+pick-column,
    create_skill_embeddings.py:37-38) — pure narrow transform, no
    shuffle, codegen'd."""
    return sources.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.upper("c_name").alias("name_uc"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        F.col("c_mktsegment").alias("segment"),
    )


@register(
    "filter_pred",
    """
    SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
    FROM part
    WHERE (p_size IN (5, 10, 15, 20) OR p_name LIKE '%re%')
      AND p_retailprice BETWEEN 500 AND 1800
      AND p_brand IS NOT NULL
      AND p_type NOT LIKE 'SMALL%'
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive/disjunctive predicates, IN, BETWEEN, LIKE, IS NULL
    (ref: weaviate Like filter load_skill_vectors_weaviate.py:49-53,
    empty-input guards skills_for_jobs.py:396-398). All predicates
    push to the scan."""
    p = sources.load(spark, sf_dir, "part")
    return p.filter(
        (F.col("p_size").isin(5, 10, 15, 20) | F.col("p_name").like("%re%"))
        & F.col("p_retailprice").between(500, 1800)
        & F.col("p_brand").isNotNull()
        & ~F.col("p_type").like("SMALL%")
    ).select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")


# ------------------------------------------------------------------ joins


@register(
    "join_inner_hash",
    """
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join (ref A12: query-vector x corpus matching). At
    scale both sides shuffle on the key unless one is broadcast-able;
    AQE picks shuffled-hash vs sort-merge at runtime."""
    o = sources.load(spark, sf_dir, "orders")
    c = sources.load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@register(
    "join_broadcast",
    """
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dimension broadcast join (ref A12: the skill corpus is the
    small side shipped to every probe). Explicit broadcast() hint: zero
    shuffle of the fact side — the 100 TB-scale default for dims."""
    n = sources.load(spark, sf_dir, "nation")
    r = sources.load(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@register(
    "join_left_outer",
    """
    SELECT c.c_custkey, o.o_orderkey
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping unmatched rows (ref A17: jobs with zero
    matching gold hits still appear in the report)."""
    c = sources.load(spark, sf_dir, "customer")
    o = sources.load(spark, sf_dir, "orders")
    return c.join(o, o.o_custkey == c.c_custkey, "left").select("c_custkey", "o_orderkey")


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi membership (ref A17 match counting: hit IN gold-set,
    skills_for_jobs.py:199-200). Semi joins ship only the key column —
    cheapest distributed membership test."""
    c = sources.load(spark, sf_dir, "customer")
    o = sources.load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, "c_custkey", "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti exclusion (ref A17 miss counting — hits NOT in gold).
    Filtered to high-value orders so the anti set is non-empty at
    every sf (every customer has *some* order in this corpus)."""
    c = sources.load(spark, sf_dir, "customer")
    o = (
        sources.load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_name")


@register(
    "join_theta_range",
    """
    SELECT c.c_custkey, s.s_suppkey,
           round(c.c_acctbal - s.s_acctbal, 2) AS bal_diff
    FROM customer c JOIN supplier s
      ON c.c_acctbal BETWEEN s.s_acctbal - 100 AND s.s_acctbal + 100
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi band join (ref A13: full-scan compare of every query
    against every corpus vector within a metric band). Spark executes
    as BroadcastNestedLoopJoin with the small side broadcast; at
    100 TB with two big sides you'd bucketize the range key and
    equi-join on bucket — see operators/ann.py for that pattern.

    The streamed side is load_spread: a one-row-group scan leaves the
    ENTIRE nested-loop compare on one task (measured 24.73 s plain vs
    1.57 s spread at the 10x tier — the last single-task plan in the
    package, SCALING.md round-9); on a multi-split cluster read the
    spread is a no-op."""
    c = sources.load_spread(spark, sf_dir, "customer")
    s = sources.load(spark, sf_dir, "supplier")
    cond = (F.col("c_acctbal") >= F.col("s_acctbal") - 100) & (
        F.col("c_acctbal") <= F.col("s_acctbal") + 100
    )
    return c.join(F.broadcast(s), cond).select(
        "c_custkey",
        "s_suppkey",
        F.round(F.col("c_acctbal") - F.col("s_acctbal"), 2).alias("bal_diff"),
    )


@register(
    "join_cross_topk",
    """
    WITH scored AS (
      SELECT s.s_suppkey, c.c_custkey,
             abs(s.s_acctbal - c.c_acctbal) AS d,
             row_number() OVER (
               PARTITION BY s.s_suppkey
               ORDER BY abs(s.s_acctbal - c.c_acctbal), c.c_custkey) AS rnk
      FROM supplier s CROSS JOIN customer c
    )
    SELECT s_suppkey, CAST(rnk AS BIGINT) AS rnk, c_custkey, round(d, 2) AS bal_dist
    FROM scored WHERE rnk <= 3
    """,
)
def join_cross_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-left top-k nearest on a scalar metric (ref A12/A13) —
    result identical to the brute-force CROSS JOIN + window the oracle
    runs, computed by sorted-neighbor CANDIDATE GENERATION instead of
    the |S| x |C| expansion (measured: the brute-force plan cost 63 s
    at the 10x tier on its own 1.5e9-row blow-up; this plan touches
    O(|C| + |S|) rows).

    Why the candidate set is exact (provable superset of any top-3 by
    (|s_bal - c_bal|, c_custkey)):
      1. within one distinct balance value every customer ties on
         distance, so only the value's 3 smallest custkeys can ever
         rank — keep exactly those per value;
      2. a 4th-nearest distinct value on one side is strictly farther
         than 3 whole values on that side, each holding >= 1 customer
         that beats it on distance (ties impossible across strictly
         different distances) — so the 3 nearest distinct values
         below s_bal plus the 3 nearest above cover every winner.
    An exact re-rank over the <= 18 candidates per supplier (same
    (d, custkey) expressions as the brute force) then reproduces the
    oracle rows bit-for-bit.

    NULL balances are exact too (r12, advisor-r10 item): a NULL on
    either side makes d NULL, which the oracle's ASC window ranks
    after every real distance (ANSI/DuckDB NULLS LAST), tie-broken by
    custkey. So (a) NULL-balance customers can only contribute their
    K smallest custkeys, appended to every supplier with d = NULL;
    (b) a NULL-balance supplier ties ALL customers at d = NULL, so
    its top-K is the K smallest custkeys of the whole table. Both
    arms are K-row broadcasts, guarded by a 1-row existence probe
    (parquet null-count stats prune the probe to metadata on a
    NULL-free corpus) so the common-path plan is unchanged. The
    final window orders d ASC NULLS LAST to match the oracle.

    Scale shape: one hash exchange builds the per-value custkey
    lists; ONE range exchange co-sorts values and suppliers, and the
    neighbor scan is a per-partition numpy searchsorted. Partition
    edges are handled by over-submitting each partition's first/last
    3 value rows to the (few) edge suppliers through a broadcast —
    bounded at 6 rows per range partition, so no path depends on
    |S| x |C| and the final window sorts <= ~24 rows per supplier."""
    import pandas as pd

    K = 3
    s = sources.load(spark, sf_dir, "supplier")
    # plain load, not load_spread (r14): the only pre-exchange work on
    # the customer side is a trivial filter+project feeding the vals
    # groupBy, whose hash exchange re-spreads anyway — the round-robin
    # spread exchange bought no parallelism and cost a full extra
    # shuffle of the table (plan: Exchange 20 -> fewer, see
    # plans/r14/join_cross_topk_after.txt)
    c = sources.load(spark, sf_dir, "customer")

    # NULL-balance existence probes (see docstring): bounded 1-row
    # actions whose isNull filters push to parquet null-count stats,
    # so a NULL-free corpus answers from row-group metadata. A result
    # entry of the session store (cache.py) — the corpus under one
    # sf_dir is immutable for a session, so repeat invocations (warm
    # bench runs, loops) skip the probe job. ONE probe job, not two:
    # both existence checks ride one union (each arm limit-1).
    def probe() -> tuple[bool, bool]:
        tags = {
            r.t
            for r in (
                c.filter(F.col("c_acctbal").isNull())
                .select(F.lit("c").alias("t"))
                .limit(1)
                .unionAll(
                    s.filter(F.col("s_acctbal").isNull())
                    .select(F.lit("s").alias("t"))
                    .limit(1)
                )
                .collect()
            )
        }
        return "c" in tags, "s" in tags

    has_null_cust, has_null_sup = cache.memo(spark, ("null_bal_probe", sf_dir), probe)
    if has_null_sup:
        s = s.filter(F.col("s_acctbal").isNotNull())

    # (1) per distinct balance: the K smallest custkeys, ascending.
    # Skew note: a heavy-hitter balance value funnels its customers
    # into one window task here. Bounded in practice by the corpus'
    # 2-decimal balance domain (~1e6 distinct values spread the hash
    # exchange); for an adversarial single-value corpus the r12 A/B
    # (6M customers, 3M planted on ONE value, local[32]) measured the
    # plain window at 2.25-3.4 s vs 2.9-3.3 s for a (balance, salt)
    # two-level min-K merge with identical output — the one fat task
    # streams a single sort while salting pays an extra agg, so the
    # simple form is kept; revisit only if a real corpus planted a
    # hitter orders of magnitude past the per-task sort budget.
    # one aggregate, not row_number-then-aggregate (r13): the window
    # form sorted every (bal, custkey) row inside the exchange's
    # partitions before ranking; collecting per value and slicing the
    # sorted array keeps the same exchange but replaces the full
    # partition sort with per-group array sorts bounded by value
    # multiplicity — the same per-group state bound the skew A/B above
    # already accepts for the window's one fat task.
    vals = (
        c.select("c_acctbal", "c_custkey")
        .filter(F.col("c_acctbal").isNotNull())
        .groupBy("c_acctbal")
        .agg(
            F.slice(F.array_sort(F.collect_list("c_custkey")), 1, K).alias("cks")
        )
    )

    # (2) co-sort values and suppliers on balance in one range shuffle.
    # s_suppkey carries a -1 sentinel (never NULL) on the value arm:
    # a NULL-unioned bigint renders float64 in mixed Arrow->pandas
    # batches and int(sk) drops the low bit of keys > 2^53 — the
    # confirmed r11 silent-row-loss bug (advisor r10; pinned by
    # tests/test_cross_topk.py::test_cross_topk_suppkeys_above_2_53_survive,
    # green since this fix). Value rows are identified by cks, never
    # by the sentinel.
    cks_t = "array<bigint>"
    v_tag = vals.select(
        F.col("c_acctbal").alias("bal"),
        F.lit(-1).cast("bigint").alias("s_suppkey"),
        F.lit(None).cast("double").alias("s_bal"),
        F.col("cks").cast(cks_t).alias("cks"),
    )
    s_tag = s.select(
        F.col("s_acctbal").alias("bal"),
        F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
        F.col("s_acctbal").alias("s_bal"),
        F.lit(None).cast(cks_t).alias("cks"),
    )
    # Byte-budgeted range partition count (r14, guide §2.2/§6): the
    # range exchange at defaultParallelism put 32 near-empty partitions
    # under the mapInPandas scan at bench tiers — 32 Python worker
    # round-trips, 32x the boundary rows, and a range-sampling pass
    # sized to 32 targets, while the 8-core run was FASTER (the r13
    # scaling inversion, ratio 0.47). Size partitions to the CUSTOMER
    # table bytes (the dominant side) at ~128 KiB per partition,
    # clamped to [1, defaultParallelism]: a big tier reaches full
    # width, a cluster path (no local probe) keeps defaultParallelism.
    n_range = spark.sparkContext.defaultParallelism
    try:
        _csz = sources._local_file_sizes(f"{sf_dir}/customer.parquet")
    except FileNotFoundError:
        _csz = None
    if _csz is not None:
        n_range = max(1, min(n_range, -(-sum(_csz) // (128 << 10))))
    merged = v_tag.unionByName(s_tag).repartitionByRange(n_range, "bal")

    out_schema = (
        "kind int, s_suppkey bigint, s_bal double, bal double, cks array<bigint>"
    )

    def scan(batches):
        import numpy as np

        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        is_val = pdf["cks"].notna()
        v = pdf[is_val].sort_values("bal", kind="mergesort").reset_index(drop=True)
        sup = pdf[~is_val]
        vb = v["bal"].to_numpy()
        rows = {"kind": [], "s_suppkey": [], "s_bal": [], "bal": [], "cks": []}

        def emit(kind, sk, sb, bal, cks):
            rows["kind"].append(kind)
            rows["s_suppkey"].append(sk)
            rows["s_bal"].append(sb)
            rows["bal"].append(bal)
            rows["cks"].append(cks)

        # partition-boundary value rows (first/last K): every edge
        # supplier's missing neighbors are provably among some
        # partition's first/last K (a partition with <= 2K values
        # contributes ALL of them)
        n = len(v)
        for i in list(range(min(K, n))) + list(range(max(0, n - K), n)):
            emit(2, None, None, float(vb[i]), list(v["cks"].iloc[i]))
        idx = np.searchsorted(vb, sup["s_bal"].to_numpy(), side="right")
        for (sk, sb), i in zip(zip(sup["s_suppkey"], sup["s_bal"]), idx):
            lo, hi = max(0, i - K), min(n, i + K)
            for j in range(lo, hi):
                emit(0, int(sk), float(sb), float(vb[j]), list(v["cks"].iloc[j]))
            if i - K < 0 or i + K > n:  # fewer than K neighbors a side
                emit(1, int(sk), float(sb), None, None)
        out = pd.DataFrame(rows)
        # nullable Int64, NOT object-with-None: pyspark's Arrow
        # serializer coerces an object column holding None through
        # float64, which re-introduces the exact >2^53 key rounding
        # this function exists to avoid (verified: object path maps
        # 2^53+1 -> 2^53; Int64 path is exact)
        out["s_suppkey"] = pd.array(rows["s_suppkey"], dtype="Int64")
        yield out

    # Persisted, deliberate: the plan references the scanned subtree
    # three times (kind-0 candidates, kind-1 edge suppliers, kind-2
    # broadcast boundary) and the r11 suite-shaped A/B measured persist
    # 7.57 s cold / 2.65 warm vs 9.04 / 3.80 without — recomputing the
    # mapInPandas pass twice costs more than the one cache write even
    # on a single cold action. One cached_df entry per sf_dir, dropped
    # by cache.clear().
    scanned = cache.cached_df(
        "cross_topk_scanned", spark, sf_dir, lambda: merged.mapInPandas(scan, out_schema)
    )
    cand = scanned.filter(F.col("kind") == 0).select("s_suppkey", "s_bal", "bal", "cks")
    edge_sup = scanned.filter(F.col("kind") == 1).select("s_suppkey", "s_bal")
    # global boundary rows: <= 2K per range partition, broadcast-safe.
    # No dropDuplicates on either frame any more (r14): duplicate
    # (s_suppkey, bal) candidates — a partition's first/last-K overlap
    # or an edge supplier re-receiving a bal it already holds — explode
    # to IDENTICAL (d, c_custkey) entries (a custkey's balance is
    # unique, so per (supplier, custkey) there is exactly one d), and
    # the final collect_set aggregate dedups them exactly where the
    # old plan paid a dedicated dedup exchange + two sort-aggregates.
    boundary = scanned.filter(F.col("kind") == 2).select("bal", "cks")
    cand = cand.unionByName(
        edge_sup.crossJoin(F.broadcast(boundary)).select("s_suppkey", "s_bal", "bal", "cks")
    )

    # (3) exact re-rank over candidates — same (d, custkey) ordering
    # expressions as the brute force, so results are bit-identical
    exploded = cand.select(
        "s_suppkey",
        F.explode("cks").alias("c_custkey"),
        F.abs(F.col("s_bal") - F.col("bal")).alias("d"),
    )

    # NULL-balance arms (probe-guarded; see docstring). Each is a
    # K-row broadcast crossed with the supplier side — linear, never
    # |S| x |C|.
    if has_null_cust:
        null_cks = (
            c.filter(F.col("c_acctbal").isNull())
            .select("c_custkey")
            .orderBy("c_custkey")
            .limit(K)
        )
        exploded = exploded.unionByName(
            s.select("s_suppkey")
            .crossJoin(F.broadcast(null_cks))
            .select("s_suppkey", "c_custkey", F.lit(None).cast("double").alias("d"))
        )
    if has_null_sup:
        min_cks = c.select("c_custkey").orderBy("c_custkey").limit(K)
        null_sups = (
            sources.load(spark, sf_dir, "supplier")
            .filter(F.col("s_acctbal").isNull())
            .select("s_suppkey")
        )
        exploded = exploded.unionByName(
            null_sups.crossJoin(F.broadcast(min_cks)).select(
                "s_suppkey", "c_custkey", F.lit(None).cast("double").alias("d")
            )
        )

    # ONE aggregate replaces dedup-exchange + window-exchange (r14,
    # guide §2.4): the oracle's ordering (d ASC NULLS LAST, custkey
    # ASC) is encoded as a lexicographic struct — null-flag first
    # (reals before NULLs), then the distance, then the tiebreak key —
    # so array_sort reproduces row_number's visit order exactly, and
    # collect_set is the dedup the old plan bought with its own
    # exchange. Per-group state stays bounded by the candidate-set
    # construction (<= ~2K value rows x K custkeys per supplier plus
    # the broadcast boundary — never O(|C|)), the same bound the
    # window's sort buffer already carried.
    entry = F.struct(
        F.col("d").isNull().cast("int").alias("dn"),
        F.coalesce(F.col("d"), F.lit(0.0)).alias("dv"),
        F.col("c_custkey").alias("ck"),
    )
    return (
        exploded.groupBy("s_suppkey")
        .agg(F.slice(F.array_sort(F.collect_set(entry)), 1, K).alias("es"))
        .select("s_suppkey", F.posexplode("es").alias("pos", "e"))
        .select(
            "s_suppkey",
            (F.col("pos") + 1).cast("long").alias("rnk"),
            F.col("e.ck").alias("c_custkey"),
            F.round(F.when(F.col("e.dn") == 0, F.col("e.dv")), 2).alias("bal_dist"),
        )
    )


# ----------------------------------------------------------- aggregations


@register(
    "agg_hash",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregation with multiple measures — TPC-H Q1 shape
    (ref A18 means, skills_for_jobs.py:178-179). Spark plans partial
    aggregation before the shuffle automatically: only
    n_groups x n_partitions rows move. Plain load, NOT load_spread:
    converted in r10 on the 10x A/B (0.83 -> 0.56 s) and REVERTED on
    the sf0.1 bench measurement (0.47 -> 1.02 s cold, consistent over
    three protocol runs) — the round-robin exchange moves every row
    to save an 8-expression projection, the exact cheap-per-row
    aggregation class the round-9 spread boundary says to leave
    plain."""
    li = sources.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "agg_distinct",
    """
    SELECT o_orderstatus, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT per group (ref A16 in-list dedup generalized).
    Spark expands to a two-phase distinct-then-count plan."""
    return (
        sources.load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_cust"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "agg_approx_distinct",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approximate cardinality (ref A11's approx-for-speed
    tradeoff, load_skill_vectors_pg.py:51 IVFFlat). Raw sketch values
    are engine-specific, so the deterministic contract is emitted
    instead: the exact cardinality plus a boolean asserting the HLL
    estimate (rsd 0.02) landed within 5% of it — SQL-checkable AND a
    live accuracy gate.

    The exact and approx aggregates run as SEPARATE subplans joined on
    the tiny group key: fusing them makes Catalyst's distinct-rewrite
    carry the full HLL register array (408 longs at rsd 0.02) through
    every (group, value) distinct row — constant-size sketch state per
    GROUP is the whole point of the sketch, and the split keeps it
    that way at any cardinality."""
    li = sources.load(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts_exact")
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx")
    )
    return exact.join(F.broadcast(approx), "l_returnflag").select(
        "l_returnflag",
        "n_parts_exact",
        (
            F.abs(F.col("approx") - F.col("n_parts_exact"))
            / F.col("n_parts_exact")
            <= 0.05
        ).alias("within_5pct"),
    )


def approx_distinct_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-ONLY form of agg_approx_distinct — the operator to run
    at 100 TB. The registered query computes the exact distinct
    alongside the sketch purely so the oracle can verify accuracy;
    that verification pays the full shuffle-distinct the sketch
    exists to avoid. This form carries constant-size HLL state per
    group and never expands per-value rows."""
    return (
        sources.load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("n_parts_approx"))
    )


@register(
    "agg_collect",
    """
    SELECT l_orderkey,
           string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS line_numbers,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY l_orderkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group list collection (ref A19: per-job hit list before the
    wide pivot). Sorted inside the group so output is deterministic;
    serialized to CSV-string so the oracle hash is type-stable."""
    return (
        sources.load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("l_linenumber"))).alias("line_numbers"),
            F.count("*").alias("n_lines"),
        )
    )


_ROLLUP_JOIN_SQL = """
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
"""


def _cust_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = sources.load(spark, sf_dir, "customer")
    n = sources.load(spark, sf_dir, "nation")
    r = sources.load(spark, sf_dir, "region")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )


@register(
    "agg_rollup",
    f"""
    SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
           round(sum(c_acctbal), 2) AS sum_bal
    {_ROLLUP_JOIN_SQL}
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals region -> nation -> grand (ref A18 mean-of-
    means generalized). Dim joins broadcast; rollup adds one grouping
    pass, still partial-aggregated."""
    return _cust_geo(spark, sf_dir).rollup("r_name", "n_name").agg(
        F.count("*").alias("n_cust"), F.round(F.sum("c_acctbal"), 2).alias("sum_bal")
    )


@register(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations (ref A18 generalized)."""
    return (
        sources.load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


@register(
    "agg_gsets",
    f"""
    SELECT r_name, c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust
    {_ROLLUP_JOIN_SQL}
    GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
    """,
)
def agg_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (Catalyst plans it the
    same as the DataFrame path)."""
    _cust_geo(spark, sf_dir).createOrReplaceTempView("cust_geo")
    return spark.sql(
        """
        SELECT r_name, c_mktsegment, count(*) AS n_cust
        FROM cust_geo
        GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
        """
    )


# ---------------------------------------------------------------- windows


@register(
    "win_rank_topk",
    """
    WITH ranked AS (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER w AS rn,
             rank() OVER w AS rk,
             dense_rank() OVER w AS drk
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    )
    SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal,
           CAST(rn AS BIGINT) AS rn, CAST(rk AS BIGINT) AS rk, CAST(drk AS BIGINT) AS drk
    FROM ranked WHERE rn <= 3
    """,
)
def win_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group — the KNN rank core on relational data (ref A12
    window shape). rank<=k filter -> WindowGroupLimit partial top-k."""
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        sources.load(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rk"),
            F.dense_rank().over(w).cast("long").alias("drk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_running",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           round(avg(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
    FROM orders
    """,
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + moving average frames (ref A7 running totals,
    skills_for_jobs.py:408). Unique o_orderkey tie-break keeps frame
    contents deterministic across engines."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return sources.load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias(
            "running_total"
        ),
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).alias("moving_avg3"),
    )


@register(
    "win_lag_lead",
    """
    SELECT event_id, user_id, round(value, 4) AS value,
           round(lag(value) OVER w, 4) AS prev_value,
           round(lead(value) OVER w, 4) AS next_value,
           round(value - lag(value) OVER w, 4) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deltas between consecutive per-user events (ref A7 ETA calc:
    duration deltas between loop iterations). Ordered by unique
    event_id, not raw ts — events.ts is ns-precision parquet which
    Spark truncates to µs (FIXTURES.md oracle notes)."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    return sources.load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("value"),
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.lead("value").over(w), 4).alias("next_value"),
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


@register(
    "win_ntile_cume",
    """
    SELECT p_partkey, round(p_retailprice, 2) AS price,
           CAST(ntile(4) OVER w AS BIGINT) AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM part
    WINDOW w AS (ORDER BY p_retailprice, p_partkey)
    """,
)
def win_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketing + distribution ranks (ref A18 generalized).
    Single global window — fine for dimension-sized data; at fact
    scale use approx_percentile instead (see fn_math)."""
    w = Window.orderBy("p_retailprice", "p_partkey")
    return sources.load(spark, sf_dir, "part").select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price"),
        F.ntile(4).over(w).cast("long").alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# ------------------------------------------------------ sort / limit / dedup


@register(
    "sort_limit",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders ORDER BY orders.o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (ref A13's SQL `ORDER BY dist LIMIT K*10`,
    skills_for_jobs.py:363). Catalyst plans TakeOrderedAndProject:
    each partition keeps 100 rows, the driver merges — no global sort."""
    return (
        sources.load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


@register(
    "dedup_first",
    """
    SELECT l_orderkey, l_linenumber, l_partkey
    FROM lineitem
    QUALIFY row_number() OVER (
      PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) = 1
    """,
)
def dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-by-rank dedup, keep-first-occurrence semantics (ref A16,
    skills_for_jobs.py:371-379: dedup AFTER rank, keep first).
    (l_orderkey, l_linenumber) is NOT unique in the corpus — the
    secondary l_partkey key makes the kept row deterministic.
    load_spread parallelizes the pre-shuffle scan+project (2.08 ->
    1.53 s at 10x); the window's own hash exchange is unavoidable."""
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    return (
        sources.load_spread(spark, sf_dir, "lineitem")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


# ----------------------------------------------------------------- set ops


@register(
    "set_union",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two sources (ref A8: the same vectors loaded
    into multiple stores form one logical corpus)."""
    c = sources.load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.unionByName(b).distinct()


@register(
    "set_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — overlap of two result sets (ref A17 matches)."""
    c = sources.load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.intersect(b)


@register(
    "set_except",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT — difference of two result sets (ref A17 misses)."""
    c = sources.load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.exceptAll(b).distinct()
