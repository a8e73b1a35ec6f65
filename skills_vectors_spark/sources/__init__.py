"""Table catalog over the parquet corpus + CSV round-trip readers.

The reference ingests row-oriented CSV + positional .npy matrices
(/root/reference/create_skill_embeddings.py:31,54-55). Here every
table is a columnar parquet scan with Catalyst pushdown; embeddings
live as an `array<float>` column keyed by `vec_id` (never positional).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from skills_vectors_spark import cache

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Engine-declared schemas (SURVEY §1.3: fixed StructType per table;
# inference allowed only at CSV ingest). Used for CSV reads and
# streaming sources, where schema-on-read must be explicit.
#
# Key contract (advisor r13): *_key columns named like the TPC-H
# primary keys (r_regionkey, n_nationkey, c_custkey, s_suppkey,
# p_partkey, o_orderkey, event_id, doc_id, vec_id) are UNIQUE in
# their table — operators may and do elide DISTINCT on them
# (join_bloom_prefilter's build side, the knn/embedding id joins).
# A corpus that ships duplicate primary keys is out of contract for
# every engine here (DuckDB oracles assume it too).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one corpus table. Plain parquet scan — Catalyst handles
    predicate pushdown / column pruning from whatever the caller
    selects downstream.

    Memoized as a session-lifetime plan entry (cache.py): each
    spark.read.parquet(path) pays a py4j round-trip, a file listing
    and a footer schema read — measured 0.15-0.4 s per call on the
    bench host, called 1-3x by nearly every query. A DataFrame is an
    immutable plan, so the same object serves every consumer; every
    execution still scans parquet.

    events.ts ships as parquet timestamp[us] (isAdjustedToUTC=false),
    which Spark reads natively as TIMESTAMP_NTZ — same naive-wall-clock
    semantics DuckDB applies, so oracle comparisons line up with a plain
    scan. Branch on the dtype actually read rather than assuming a
    physical encoding. A corpus shipping TIMESTAMP(NANOS) parquet is
    handled too: Spark rejects nanos at schema resolution, so the
    fallback retries that one read under the legacy nanos-as-long conf
    (restored afterwards) and truncates the long column to the
    engine's µs — the same truncation DuckDB applies.
    """
    path = f"{sf_dir}/{name}.parquet"
    return cache.memo(spark, ("load", sf_dir, name), lambda: _load_uncached(spark, path, name))


def _load_uncached(spark: SparkSession, path: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    try:
        df = spark.read.parquet(path)
        if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
            # a host session with nanosAsLong already set surfaces nanos
            # as a raw long column
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    except AnalysisException as exc:
        if name != "events" or "NANOS" not in str(exc).upper():
            raise
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf_key, "false")
    spark.conf.set(conf_key, "true")
    try:
        df = spark.read.parquet(path)
        # the read above is lazy w.r.t. the conf only at planning time;
        # schema resolution already happened, so restoring is safe
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    finally:
        spark.conf.set(conf_key, prev)


# Temp-view bindings are session-lifetime plan entries (cache.py),
# key ("view", name) -> the sf_dir the view is bound to:
# createOrReplaceTempView is a ~100 ms catalog round-trip per table,
# so re-registering the same six views on every SQL-API invocation
# cost more than the query's own execution at bench tiers (measured
# round-9: 0.6 s of a 0.94 s cold row). A view re-binds only when the
# requested sf_dir differs from the bound one. Temp views live in a
# session's own catalog, and so does the store: a sibling
# spark.newSession() starts with no bindings. Catalog-mutating
# callers that bypass register_views/bind_view (a raw
# createOrReplaceTempView / dropTempView) must
# cache.evict(spark, ("view", name)) so the next consumer re-binds.


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register every corpus table as a temp view for the SQL API
    (idempotent and memoized per SparkSession; a view re-binds
    only when pointed at a different sf_dir)."""
    for n in names:
        bind_view(spark, n, sf_dir, lambda n=n: load(spark, sf_dir, n))


def bind_view(spark: SparkSession, name: str, sf_dir: str, frame_fn) -> None:
    """Bind `name` as a temp view over frame_fn()'s DataFrame, with
    the same per-session memo as register_views — for operators
    that expose a derived frame (e.g. a load_spread scan) to a
    spark.sql statement without paying the catalog round-trip on
    every invocation."""

    def bind() -> str:
        frame_fn().createOrReplaceTempView(name)
        return sf_dir

    key = ("view", name)
    if cache.memo(spark, key, bind) != sf_dir:
        cache.evict(spark, key)
        cache.memo(spark, key, bind)


def _parse_bytes(s: str, default: int) -> int:
    """Spark byte-size conf string -> int ('134217728b', '128m',
    '1g' ...). Falls back to `default` on anything unparseable."""
    v = s.strip().lower()
    mult = 1
    for suf, m in (("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10)):
        if v.endswith(suf + "b"):
            v, mult = v[: -(len(suf) + 1)], m
            break
        if v.endswith(suf):
            v, mult = v[: -len(suf)], m
            break
    else:
        if v.endswith("b"):
            v = v[:-1]
    try:
        return int(v) * mult
    except ValueError:
        return default


def _local_file_sizes(path: str) -> list[int] | None:
    """Data-file byte sizes under a LOCAL table path; None when the
    path is not on the local filesystem (an object-store / DFS URI on
    a real cluster — there the listing itself is the cost we refuse
    to pay). Raises FileNotFoundError on a missing/renamed path so
    callers never memoize a decision for a table that was not there
    to probe."""
    if "://" in path and not path.startswith("file://"):
        return None
    p = path[len("file://") :] if path.startswith("file://") else path
    if os.path.isfile(p):
        return [os.path.getsize(p)]
    if os.path.isdir(p):
        # recurse: a hive-partitioned table is nested subdirectories
        # of data files — a top-level-only scandir would sum 0 bytes
        # and misreport the table as single-split (advisor r9)
        sizes = []
        for root, dirs, files in os.walk(p):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            sizes.extend(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith(("_", "."))
            )
        return sizes
    # missing/renamed path: let the caller decide
    raise FileNotFoundError(p)


def _local_scan_splits(spark: SparkSession, path: str) -> int | None:
    """Estimated scan-split count for a LOCAL parquet table path —
    computed from filesystem file sizes with Spark's own
    FilePartition packing math (maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, bytesPerCore))), WITHOUT compiling a physical
    plan or listing files through the DataFrame API.

    Returns None when the path is not on the local filesystem (an
    object-store / DFS URI on a real cluster): there the probe itself
    is the cost we refuse to pay — listing a 100 TB table a second
    time just to decide what would be a no-op anyway (a cluster read
    of any table big enough to matter is multi-split by construction).

    Known estimate limit, stated: parquet cannot split inside a row
    group, so a pathological writer that packs one giant row group
    into a >maxPartitionBytes file yields fewer EFFECTIVE partitions
    than this byte math predicts. The corpus tiers here are
    one-file-one-row-group SMALL files, where the estimate and the
    physical plan agree."""
    sizes = _local_file_sizes(path)
    if sizes is None:
        return None
    total = sum(sizes)
    if total == 0:
        return 1
    max_part = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"), 128 << 20
    )
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b"), 4 << 20
    )
    parallelism = max(1, spark.sparkContext.defaultParallelism)
    bytes_per_core = (total + open_cost * len(sizes)) // parallelism
    max_split = max(1, min(max_part, max(open_cost, bytes_per_core)))
    # Replicate FilePartition.getFilePartitions exactly: files are cut
    # into <= maxSplitBytes chunks, chunks sorted largest-first, then
    # greedily packed — a partition closes when the next chunk would
    # push its BYTE size past maxSplitBytes, and every added chunk
    # also charges openCostInBytes against the budget. The previous
    # per-file ceil() skipped the packing step and over-counted
    # many-small-file layouts (12 tiny files -> estimate 12 vs
    # physical 6), which would make load_spread SKIP a needed local
    # spread on a fragmented table (r11 property test pins agreement).
    chunks: list[int] = []
    for sz in sizes:
        while sz > max_split:
            chunks.append(max_split)
            sz -= max_split
        if sz:
            chunks.append(sz)
    chunks.sort(reverse=True)
    n_parts, current = 0, 0
    for c in chunks:
        if current + c > max_split and current > 0:
            n_parts += 1
            current = 0
        current += c + open_cost
    if current > 0:
        n_parts += 1
    return max(1, n_parts)


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, budget_bytes: int | None = None
) -> DataFrame:
    """Scan one corpus table, guaranteeing at least default-parallelism
    partitions before CPU-heavy per-row work (regex tokenization,
    n-gram extraction, hashing, binary decode).

    Why: a small corpus tier ships as ONE parquet file with ONE row
    group, and parquet can't split inside a row group — so every
    downstream narrow stage runs as a single task and 31 of 32 local
    cores idle (measured 4x wall on text_ngram_novelty at sf0.1). On a
    real cluster the same operator reads thousands of splits, the
    partition count already exceeds the target, and this is a NO-OP —
    no shuffle is ever added at scale, which is exactly why this lives
    behind a conditional instead of an unconditional repartition()
    (an unconditional one would reshuffle the full corpus at 100 TB).
    Round-robin repartition is only applied where downstream results
    are partitioning-independent (grouped aggregations / joins whose
    oracles are order-robust by construction).

    The probe is a driver-local stat of the table's file sizes fed
    through Spark's split-packing math (see _local_scan_splits),
    memoized per (session, path, budget): non-local paths are
    never probed (no plan compile, no second file listing at cluster
    scale), and repeated load_spread calls reuse the decision.

    ``budget_bytes`` sizes the spread to the WORK instead of the
    machine: when set, the target is ceil(table_bytes / budget),
    clamped to [1, defaultParallelism] — so a small tier fans out to
    a handful of tasks instead of paying task-scheduling + Python
    worker fan-out for 32 near-empty partitions, while a bigger tier
    still reaches full width. Measured on the tokenize pass
    (_term_freqs, r13 sweep, one process, min-of-3): sf0.1
    0.48 s at 4-8 parts vs 0.62 s at 32 and 0.69 s at 1; 10x tier
    monotone down to 32 parts (0.73 s) — a 128 KiB budget lands both
    tiers on their measured best. At cluster scale the conditional
    still short-circuits: a multi-split read already exceeds any
    target, so no shuffle is ever added."""
    df = load(spark, sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"

    def decide() -> int:
        """Target partition count; 0 = don't spread."""
        # raises FileNotFoundError before anything is memoized: the
        # load() above resolved a schema, so the table exists under
        # some layout this probe doesn't see (e.g. a path alias);
        # don't spread, and don't memoize 'never spread' for a path
        # that wasn't probe-able (advisor r9)
        sizes = _local_file_sizes(path)
        est = _local_scan_splits(spark, path)
        if est is None:
            return 0
        target = spark.sparkContext.defaultParallelism
        if budget_bytes is not None and sizes is not None:
            target = max(1, min(target, -(-sum(sizes) // budget_bytes)))
        return target if est < target else 0

    try:
        tgt = cache.memo(spark, ("spread", sf_dir, name, budget_bytes), decide)
    except FileNotFoundError:
        return df
    return df.repartition(tgt) if tgt else df


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Conditionally repartition an arbitrary frame to default
    parallelism — the load_spread policy for frames that already had
    a projection applied. No-op whenever the plan already carries
    enough partitions (multi-split cluster reads, post-shuffle
    frames), so no shuffle is added at scale.

    On a non-local master this returns the frame UNTOUCHED without
    probing at all: a cluster read big enough to matter is multi-split
    by construction, and the probe itself (a physical-plan compile
    that lists the table's files) is the at-scale cost the round-8
    advisor flagged. The accepted trade (advisor r11): a genuinely
    single-split cluster input — a tiny dim table or driver-created
    frame — keeps its one task; the fail direction is bounded
    missed-parallelism on small inputs, never an added shuffle.

    Under local[*] the compile is milliseconds against page-cached
    files, and memoized per (session, semanticHash) so loop-hot
    call sites (ranked_knn, embed paths) compile the probe plan once
    per distinct plan rather than per invocation (advisor r11). A
    32-bit semanticHash collision could at worst replay the other
    plan's decision: a skipped spread (missed local parallelism) or
    an extra local repartition — never a cluster-side shuffle, since
    non-local masters return above."""
    if not spark.sparkContext.master.startswith("local"):
        return df
    target = spark.sparkContext.defaultParallelism
    dec = cache.memo(
        spark, ("spread", df.semanticHash()), lambda: df.rdd.getNumPartitions() < target
    )
    return df.repartition(target) if dec else df
