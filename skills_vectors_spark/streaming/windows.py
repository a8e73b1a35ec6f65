"""Structured Streaming window family over the events table (SURVEY
§2.9 / M4 — the north-star streaming surface; the reference is
batch-only, so these generalize its per-row loop metrics A7 into
real stateful stream processing).

Each declared query actually RUNS a streaming query: file source ->
windowed stateful aggregation -> sink, driven to completion with
processAllAvailable() (the documented local test pattern). The
oracles are the batch-equivalent GROUP BYs — for a bounded input that
has fully arrived, streaming and batch semantics must agree, which is
exactly what the driver's hash compare certifies.

Every stream runs through one harness, ``drain``: start, process all
available input, stop. Stateful operators keep one state-store
instance per shuffle partition, with a snapshot and a commit each per
micro-batch, so the bounded local stream runs at 8 partitions
(``STATE_PARTITIONS``); the transformWithState rows add the RocksDB
provider (``ROCKSDB``). A streaming query copies its session's conf
when it starts, so ``drain`` sets these on a clone of the caller's
session; the caller's session, shared by every other query planned on
it, is never written.

The three transformWithState rows (ValueState, ListState and
MapState) register like every other row and run through one per-user
runner, ``_per_user_state``. Their state calls speak protobuf; where
the runtime has no protobuf wheel the vendored one serves
(protocompat), and a runtime where neither loads fails the row with
an ImportError rather than dropping it.

Scale: state lives in the state store keyed by (window, key);
watermarks bound state size — without them an unbounded stream grows
state forever. On a cluster the same code shards state by key hash
across executors.
"""

from __future__ import annotations

import logging
import uuid
from collections.abc import Callable

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.stateful_processor import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.window import Window as W

from skills_vectors_spark import cache, protocompat, session, sources
from skills_vectors_spark.registry import register


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the file source requires a directory and an explicit schema:
    # scan sf_dir with a glob filter so only the events table streams
    # in. events.ts ships as parquet timestamp[us]
    # (isAdjustedToUTC=false) -> TIMESTAMP_NTZ, as in sources.load.
    # Watermarks demand a TIMESTAMP (with-local-tz) event-time column,
    # so cast the NTZ wall clock; with a UTC session tz the instant is
    # unchanged and the batch oracles (naive arithmetic) agree exactly.
    raw = (
        spark.readStream.schema(sources.SCHEMAS["events"])
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# a deployment sizes this to key cardinality x executor count; it is
# fixed for a checkpoint's lifetime
STATE_PARTITIONS = {"spark.sql.shuffle.partitions": "8"}
ROCKSDB = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}


def drain(
    df: DataFrame,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    conf: dict[str, str] | None = None,
) -> StreamingQuery:
    """Start ``df``'s stream into the writer ``sink`` configures, process
    everything available, stop, and return the stopped query (its
    ``recentProgress`` stays readable). A query copies its session's
    conf when it starts, so it starts on a ``session.scoped`` clone of
    ``df``'s session carrying ``STATE_PARTITIONS`` (few state stores
    for a small stream) plus ``conf``; the caller's session is never
    written. The clone is reused by every drain with the same conf;
    each query still leaves one listener on the SparkContext's bus,
    from the session ``StreamExecution`` clones for its run."""
    clone = session.scoped(df.sparkSession, {**STATE_PARTITIONS, **(conf or {})})
    q = sink(session.rebind(df, clone).writeStream).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def run_to_completion(
    agg: DataFrame, mode: str = "complete", conf: dict[str, str] | None = None
) -> DataFrame:
    """``drain`` a streaming aggregation into a memory sink; return the
    final result as a batch DataFrame of ``agg``'s session. The sink's
    table is a temp view of ``drain``'s clone, rebound here and then
    dropped, so neither the caller's catalog nor the reused clone's
    holds it.

    One retry covers one TRANSIENT failure: Spark gives a freshly
    spawned Python worker a hardcoded 10 s to connect back, which the
    transformWithState worker spawn can exceed on a loaded host. Each
    attempt has a fresh sink and checkpoint, so it recomputes the same
    result (a foreachBatch sink's driver-side state or a file sink's
    checkpoint would not, so ``drain`` never retries). A retry logs a
    warning and counts as ``cache.stats(spark)["stream"]["retries"]``.
    Any other error, or a second failure, propagates."""
    spark = agg.sparkSession
    for attempt in (0, 1):
        name = f"svs_mem_{uuid.uuid4().hex[:12]}"
        try:
            q = drain(agg, lambda w: w.outputMode(mode).format("memory").queryName(name), conf)
            break
        except StreamingQueryException as exc:
            if attempt == 1 or "failed to connect back" not in str(exc):
                raise
            logging.getLogger(__name__).warning("retrying a transient stream failure: %s", exc)
            cache.tally(spark, "stream", "retries")
    clone = SparkSession(spark.sparkContext, q._jsq.sparkSession())
    out = session.rebind(clone.table(name), spark)
    clone.catalog.dropTempView(name)
    return out


def _last_emission(out: DataFrame, n_col: str) -> DataFrame:
    """An update-mode sink holds one emission per user per micro-batch;
    keep each user's final one: the rows whose running count ``n_col``
    is the user's largest."""
    final = out.withColumn("_maxn", F.max(n_col).over(W.partitionBy("user_id")))
    return final.filter(F.col(n_col) == F.col("_maxn")).drop("_maxn")


def _per_user_state(
    spark: SparkSession,
    sf_dir: str,
    processor: StatefulProcessor,
    out_schema: T.StructType,
    n_col: str,
    *cols,
) -> DataFrame:
    """Run ``processor`` over the event stream's ``cols``, grouped by
    user, through transformWithStateInPandas (RocksDB state store,
    update mode, no timers), and return each user's final emission.
    The processor's state calls speak protobuf to the JVM state server
    (protocompat)."""
    protocompat.ensure_workers(spark)
    profiled = (
        stream_events(spark, sf_dir)
        .select(*cols)
        .groupBy("user_id")
        .transformWithStateInPandas(processor, out_schema, "Update", "None")
    )
    return _last_emission(run_to_completion(profiled, mode="update", conf=ROCKSDB), n_col)


@register(
    "stream_tumbling",
    """
    SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value) * 100) / 100 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-minute tumbling-window counts/sums per event_type, computed by
    an actual streaming query with a 10-minute watermark."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count("*").alias("n"), (F.round(F.sum("value") * 100) / 100).alias("sum_value"))
    )
    out = run_to_completion(agg)
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "n", "sum_value"
    )


@register(
    "stream_sliding",
    """
    SELECT date_trunc('minute', CAST(ts AS TIMESTAMP))
             - INTERVAL (k.k) MINUTE AS window_start,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value) * 100) / 100 AS sum_value
    FROM events CROSS JOIN (SELECT unnest(range(0, 5)) AS k) k
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute windows sliding every 1 minute (each event lands in 5
    overlapping windows). Oracle replays the window assignment as a
    cross join with offsets 0..4 — the relational definition of a
    sliding window."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes", "1 minute"))
        .agg(F.count("*").alias("n"), (F.round(F.sum("value") * 100) / 100).alias("sum_value"))
    )
    out = run_to_completion(agg)
    return out.select(F.col("window.start").alias("window_start"), "n", "sum_value")


@register(
    "stream_session",
    """
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 5 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessioned AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    )
    SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
    FROM sessioned GROUP BY user_id, session_no
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 5-minute inactivity gap — true
    stateful session_window aggregation in the stream; the oracle is
    the classic lag-gap-cumsum sessionization (identical partitions
    for bounded input)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_to_completion(agg)
    return out.select(
        "user_id", F.col("session_window.start").alias("session_start"), "n_events"
    )


@register(
    "stream_stateful",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value) * 100) / 100 AS total_value,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-user running profile (event count, value total, distinct
    type set) maintained in the state store across micro-batches —
    the applyInPandasWithState seat from SURVEY §2 UDF surface. For
    fully-arrived bounded input the final state equals the batch
    GROUP BY, which is the oracle."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("n_types", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("types", T.ArrayType(T.StringType())),
        ]
    )

    def update(key, pdfs, state):
        # SQL-aggregate NULL semantics, pinned by the NULL-corpus
        # differential (SCALING.md r13): sum() over zero non-NULL
        # values is NULL (total stays None until a value arrives),
        # count(DISTINCT event_type) ignores NULL types (dropna before
        # the set union — a None in the set also crashes sorted()),
        # count(*) still counts every row.
        n, total, types = (state.get if state.exists else (lambda: (0, None, [])))()
        types = set(types or [])
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].dropna()
            if len(vals):
                total = (total or 0.0) + float(vals.sum())
            types |= set(pdf["event_type"].dropna())
        state.update((n, total, sorted(types)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [
                    None if total is None else round(total * 100) / 100
                ],
                "n_types": [len(types)],
            }
        )

    ev = stream_events(spark, sf_dir)
    profiled = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(update, out_schema, state_schema, "update", "NoTimeout")
    )
    return _last_emission(run_to_completion(profiled, mode="update"), "n_events")


@register(
    "stream_dedup_late",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates under a watermark (late-data handling:
    duplicates arriving within the watermark are suppressed; for a
    bounded, fully-arrived input this equals batch DISTINCT, which the
    oracle asserts)."""
    ev = stream_events(spark, sf_dir)
    dedup = ev.withWatermark("ts", "10 minutes").dropDuplicates(["user_id", "event_type"])
    out = run_to_completion(dedup.select("user_id", "event_type"), mode="append")
    return out.select("user_id", "event_type").distinct()


@register(
    "stream_enrich",
    """
    SELECT c.c_mktsegment,
           date_trunc('minute', CAST(e.ts AS TIMESTAMP)) AS window_start,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(e.value) * 100) / 100 AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the
    static customer dimension BEFORE the windowed aggregation — the
    canonical streaming-ETL shape (dimension lookup per micro-batch;
    Spark re-plans the static side each batch, so a broadcast hash
    join with no stream-side shuffle). Oracle is the equivalent batch
    join + GROUP BY."""
    ev = stream_events(spark, sf_dir)
    dim = sources.load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
    agg = (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy("c_mktsegment", F.window("ts", "1 minute"))
        .agg(F.count("*").alias("n"), (F.round(F.sum("value") * 100) / 100).alias("sum_value"))
    )
    out = run_to_completion(agg)
    return out.select(
        "c_mktsegment", F.col("window.start").alias("window_start"), "n", "sum_value"
    )


@register(
    "stream_join_interval",
    """
    SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
           CAST(date_diff('second', CAST(v.ts AS TIMESTAMP),
                          CAST(p.ts AS TIMESTAMP)) AS BIGINT) AS secs_before
    FROM events p JOIN events v
      ON p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.user_id = p.user_id
     AND CAST(v.ts AS TIMESTAMP)
         BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL 5 MINUTE
             AND CAST(p.ts AS TIMESTAMP)
    """,
)
def stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    every (purchase, view-from-the-same-user-within-5-minutes) pair.
    Both sides carry watermarks, so the join state for a purchase is
    dropped once the view-side watermark passes its 5-minute window —
    bounded state on unbounded streams, which is the whole point of
    interval joins over naive stream buffering. Oracle is the batch
    interval self-join."""
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        F.expr(
            "v_user_id = p_user_id AND "
            "v_ts BETWEEN p_ts - INTERVAL 5 MINUTES AND p_ts"
        ),
    )
    out = run_to_completion(
        joined.select(
            "purchase_id",
            "view_id",
            F.col("p_user_id").alias("user_id"),
            (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("secs_before"),
        ),
        mode="append",
    )
    return out


@register(
    "stream_foreach_batch",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value) * 100) / 100 AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: per-micro-batch partial aggregates appended
    to an external upsert target — here a parquet table partitioned by
    batch_id standing in for the KV/OLTP store, so the data path stays
    executor-side end to end (no driver collect; the partial rows are
    written by the tasks that computed them). The merge arithmetic is
    the real pattern: additive per-batch partials, idempotent per
    batch id (a re-run batch overwrites its own partition). The final
    read-side merge collapses partials per key; for bounded input the
    merged store equals the batch GROUP BY, the oracle."""
    import shutil

    from skills_vectors_spark.scratch import scratch

    target = scratch(sf_dir, "foreach_batch_store")
    shutil.rmtree(target, ignore_errors=True)  # fresh store per run

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(target)
        )

    ev = stream_events(spark, sf_dir)
    drain(ev, lambda w: w.outputMode("append").foreachBatch(upsert))
    import os

    if not os.path.isdir(target):  # zero micro-batches ran: empty store
        return spark.createDataFrame(
            [], "event_type string, n long, sum_value double"
        )
    # read-back schema built from the same expressions the upsert
    # writes — inference needs >=1 data file, which a zero-event
    # stream (empty increment) never produces
    store_schema = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .withColumn("batch_id", F.lit(0))
        .schema
    )
    merged = (
        spark.read.schema(store_schema).parquet(target)
        .groupBy("event_type")
        .agg(F.sum("n").cast("long").alias("n"), F.sum("s").alias("s"))
    )
    return merged.select(
        "event_type", "n", (F.round(F.col("s") * 100) / 100).alias("sum_value")
    )


def _ranked_values() -> list:
    """The columns the value-ranking processors read. ``v_nan`` is
    computed Spark-side, where NULL and NaN are still distinct
    (isnan(NULL) is false; the flag is true only for a genuine NaN):
    worker-side both arrive as NaN in float64."""
    return [
        "user_id",
        "event_id",
        "value",
        (F.col("value").isNotNull() & F.isnan("value")).alias("v_nan"),
    ]


# max_value goes NULL whenever isnan(max(value)) — Spark's Arrow
# pandas serializer cannot transport an emitted NaN — and the
# max_is_nan companion column disambiguates that NULL from an
# all-NULL group's genuine NULL maximum (isnan(NULL) is NULL in both
# engines). Hash-exact even on NaN/NULL-bearing corpora.
@register(
    "stream_transform_state",
    """
    WITH ranked AS (
      SELECT user_id, value, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id ASC) AS r
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CASE WHEN isnan(max(value)) THEN NULL
                ELSE round(max(value) * 100) / 100 END AS max_value,
           isnan(max(value)) AS max_is_nan,
           max(CASE WHEN r = 1 THEN event_id END) AS argmax_event
    FROM ranked GROUP BY user_id
    """,
)
def stream_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user high-water-mark profile via transformWithStateInPandas —
    the Spark 4 arbitrary-state API (typed ValueState in the RocksDB
    state store, timers available) that succeeds
    applyInPandasWithState (stream_stateful keeps the older seat).
    State is one fixed-size tuple per user regardless of stream
    length; for fully-arrived bounded input the final state equals
    the batch GROUP BY, which is the oracle. Ties on max value break
    toward the lowest event_id in both formulations.

    NaN/NULL contract (r13, closing the r12 transport-boundary note):
    every input row carries a Spark-computed ``v_nan`` flag, because
    the Arrow->pandas boundary renders BOTH a NULL value and a NaN
    value as NaN in the float64 column — without the flag the two are
    indistinguishable worker-side (advisor r13). Rows rank in the
    engines' total order — NaN above every numeric (both engines sort
    NaN greatest under ORDER BY value DESC), NULL below every numeric
    (both engines default NULLS LAST) — tracked as an explicit rank
    class in state. The emitted ``max_value`` is NULL whenever
    max(value) is NaN (the pandas serializer cannot transport NaN
    anyway), and the new ``max_is_nan`` companion column — oracle:
    ``isnan(max(value))`` — disambiguates that NULL from an all-NULL
    group's genuine NULL maximum, making the contract hash-exact even
    on NaN/NULL-bearing corpora."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("max_value", T.DoubleType()),
            T.StructField("max_is_nan", T.BooleanType()),
            T.StructField("argmax_event", T.LongType()),
        ]
    )

    class HighWaterProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # cls = the best row's rank class: 2 NaN, 1 numeric,
            # 0 NULL value, -1 no rows yet. max_value round-trips as
            # NULL for both the NaN and NULL classes (Arrow boundary);
            # cls disambiguates on restore.
            self._state = handle.getValueState(
                "profile",
                "n BIGINT, rcls BIGINT, max_value DOUBLE, argmax_event BIGINT",
            )

        def handleInputRows(self, key, rows, timerValues):
            # one get() — ValueState.get() returns None on missing, so
            # the exists() round trip to the state server is redundant
            # (r11 floor experiment: ~0.5 s of the 1M-event floor)
            st = self._state.get()
            n, cls, mx, arg = st if st is not None else (0, -1, None, None)
            if cls == 2:
                mx = float("nan")  # NaN transported as NULL; restore
            # numpy per batch, not per row (r11 variant C, output
            # hashes bit-identical; 17.4 -> 12.3 s at the cold 1M-event
            # tier). Batch best row under (class desc, value desc,
            # event_id asc) merges with the running (cls, mx, arg)
            # under the same rule the oracle's row_number applies:
            # ORDER BY value DESC, event_id with NaN greatest and
            # NULLS LAST.
            import numpy as np

            import math

            for pdf in rows:
                n += len(pdf)
                if not len(pdf):
                    continue
                vals = pdf["value"].to_numpy(dtype=np.float64)
                eids = pdf["event_id"].to_numpy(dtype=np.int64)
                vnan = pdf["v_nan"].to_numpy(dtype=np.bool_)
                # rank class per row: genuine NaN (flag) = 2, numeric
                # = 1, NULL (NaN in pandas without the flag) = 0
                bcls_arr = np.where(vnan, 2, np.where(np.isnan(vals), 0, 1))
                bcls = int(bcls_arr.max())
                in_cls = bcls_arr == bcls
                if bcls == 1:
                    bmx = float(vals[in_cls].max())
                    barg = int(eids[in_cls & (vals == bmx)].min())
                else:
                    bmx = float("nan") if bcls == 2 else None
                    barg = int(eids[in_cls].min())
                take = cls < bcls or (
                    cls == bcls
                    and (
                        (cls == 1 and (bmx > mx or (not (bmx < mx) and barg < arg)))
                        or (cls != 1 and barg < arg)
                    )
                )
                if take:
                    cls, mx, arg = bcls, bmx, barg
            self._state.update((n, cls, mx, arg))
            # round() raises OverflowError on +/-inf AND on a finite
            # mx whose mx*100 overflows to inf (advisor r13: guard the
            # SCALED value, not mx); non-finite results pass through
            # unrounded, exactly as DuckDB's round() leaves inf/NaN
            # untouched. A NaN maximum is emitted as NULL with
            # max_is_nan=True (it cannot transport anyway); an
            # all-NULL group emits NULL with max_is_nan=NULL — the
            # oracle's isnan(max(value)) is NULL there too.
            if cls == 1:
                out_mx = mx if not math.isfinite(mx * 100) else round(mx * 100) / 100
                is_nan = False
            elif cls == 2:
                out_mx, is_nan = None, True
            else:  # all-NULL (0) or no rows yet (-1)
                out_mx, is_nan = None, None
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "max_value": [out_mx],
                    "max_is_nan": pd.array([is_nan], dtype="boolean"),
                    "argmax_event": [arg],
                }
            )

    return _per_user_state(
        spark, sf_dir, HighWaterProcessor(), out_schema, "n_events", *_ranked_values()
    )


@register(
    "stream_transform_topk",
    """
    WITH ranked AS (
      SELECT user_id, value, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id ASC) AS rnk
      FROM events
    )
    SELECT user_id, CAST(rnk AS BIGINT) AS rnk,
           CASE WHEN isnan(value) THEN NULL
                ELSE round(value * 100) / 100 END AS value,
           isnan(value) AS value_is_nan,
           event_id
    FROM ranked WHERE rnk <= 3
    """,
)
def stream_transform_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top-3 (value, event_id) via the Spark 4 arbitrary-state
    ListState — the second transformWithStateInPandas seat, exercising
    the typed-list RocksDB state variable (ListStatePut/Get, paginated
    fetch) next to stream_transform_state's ValueState. State per user
    is a bounded 3-element list + one counter regardless of stream
    length; for fully-arrived bounded input the final list equals the
    batch per-group top-3, which is the oracle. Ties break toward the
    lowest event_id in both formulations.

    NaN/NULL contract (r13): rows carry the Spark-computed ``v_nan``
    flag (NULL and NaN both arrive as NaN in the float64 column —
    the flag is the only worker-side disambiguator) and rank in the
    engines' total order — NaN greatest, NULLs last — via an explicit
    rank class stored alongside each list entry. Emitted ``value`` is
    NULL for a NaN row (Arrow cannot transport NaN) and for a NULL
    row; the ``value_is_nan`` companion — oracle: ``isnan(value)`` —
    tells them apart."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("rnk", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("value_is_nan", T.BooleanType()),
            T.StructField("event_id", T.LongType()),
        ]
    )

    class TopKProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # cls per entry: 2 NaN, 1 numeric, 0 NULL value. A NaN (or
            # NULL) value round-trips the state store as NULL; cls
            # disambiguates on restore.
            self._top = handle.getListState(
                "top3", "rcls BIGINT, value DOUBLE, event_id BIGINT"
            )
            self._n = handle.getValueState("nseen", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            # ListState.get() yields an empty iterator when the list
            # is absent and ValueState.get() returns None — both
            # exists() round trips dropped (r11 floor experiment).
            cur = [
                (int(c), float(v) if v is not None else None, int(e))
                for (c, v, e) in self._top.get()
            ]
            nst = self._n.get()
            n = nst[0] if nst is not None else 0
            # numpy per batch: reduce each Arrow batch to ITS top-3 by
            # (class desc, value desc, event_id asc) before merging —
            # a batch's top-3 is a superset of its contribution to the
            # global top-3, so the merge is exact (r11 variant C,
            # bit-identical hashes; cold-tier win). Ordering is the
            # engines' total order for ORDER BY value DESC: NaN
            # greatest, NULLS LAST; the lexsort primary key is the
            # rank class and the Python merge key mirrors it (a raw
            # tuple sort with NaN floats is comparison-unstable and
            # batch-order-dependent).
            import numpy as np

            def _rank_key(t):
                c, v, e = t
                return (-c, -v if c == 1 else 0.0, e)

            for pdf in rows:
                n += len(pdf)
                if not len(pdf):
                    continue
                vals = pdf["value"].to_numpy(dtype=np.float64)
                eids = pdf["event_id"].to_numpy(dtype=np.int64)
                vnan = pdf["v_nan"].to_numpy(dtype=np.bool_)
                cls = np.where(vnan, 2, np.where(np.isnan(vals), 0, 1))
                sortval = np.where(cls == 1, -vals, 0.0)
                top = np.lexsort((eids, sortval, -cls))[:3]
                cur.extend(
                    (
                        int(cls[i]),
                        float(vals[i]) if cls[i] == 1 else None,
                        int(eids[i]),
                    )
                    for i in top
                )
            cur.sort(key=_rank_key)
            cur = cur[:3]
            self._top.put(cur)
            self._n.update((n,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(cur),
                    "n_seen": [n] * len(cur),
                    "rnk": list(range(1, len(cur) + 1)),
                    "value": [v for _, v, _ in cur],
                    "value_is_nan": pd.array(
                        [c == 2 if c != 0 else None for c, _, _ in cur],
                        dtype="boolean",
                    ),
                    "event_id": [e for _, _, e in cur],
                }
            )

    final = _per_user_state(
        spark, sf_dir, TopKProcessor(), out_schema, "n_seen", *_ranked_values()
    )
    return final.select(
        "user_id",
        "rnk",
        (F.round(F.col("value") * 100) / 100).alias("value"),
        "value_is_nan",
        "event_id",
    )


@register(
    "stream_transform_typecounts",
    """
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_transform_typecounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type histogram via the Spark 4 arbitrary-state
    MapState — the third and final state-variable kind (typed
    key->value map in RocksDB: getValue/containsKey/updateValue and
    the paginated iterator all exercised), completing the
    ValueState / ListState / MapState trio. State per user is one
    counter per DISTINCT event type — bounded by type cardinality,
    not stream length; for fully-arrived bounded input the final map
    equals the batch (user, type) GROUP BY, which is the oracle."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )

    class TypeCountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "type_counts", "event_type STRING", "n BIGINT"
            )
            # n + the NULL-type count live together in the ValueState:
            # a NULL event_type forms its own group in the oracle's
            # GROUP BY, but a NULL map key is not serializable to the
            # state server, so its counter rides here instead.
            self._n = handle.getValueState("nseen", "n BIGINT, n_null BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            # single get()s: ValueState.get() returns None on missing
            # and MapState.getValue() returns None for an absent key,
            # so the exists()/containsKey() round trips are redundant
            # (r11 floor experiment: each is a state-server call).
            nst = self._n.get()
            n, n_null = nst if nst is not None else (0, 0)
            batch: dict[str, int] = {}
            # vectorized per-batch histogram instead of the per-row
            # Python loop (r11 variant C). dropna=False keeps the
            # null-type rows the oracle groups as NULL — one pass
            # yields both the histogram and the NULL count.
            import pandas as _pd

            for pdf in rows:
                n += len(pdf)
                if not len(pdf):
                    continue
                for et, cnt in pdf["event_type"].value_counts(dropna=False).items():
                    if _pd.isna(et):
                        n_null += int(cnt)
                    else:
                        batch[str(et)] = batch.get(str(et), 0) + int(cnt)
            # ONE paginated iterator read replaces a getValue round
            # trip per type (the map is per-user and bounded by type
            # cardinality, so the full read is small); only the types
            # seen in THIS batch are written back, and the emission
            # reuses the merged dict instead of a second iterator pass.
            # r12 paired A/B at 1M events, fresh process per run,
            # 3 alternating pairs: committed shape median 12.0 s vs
            # this shape 10.6 s — the new shape won every pair.
            merged = {k[0]: v[0] for k, v in self._counts.iterator()}
            for et, c in batch.items():
                merged[et] = merged.get(et, 0) + c
                self._counts.updateValue((et,), (merged[et],))
            self._n.update((n, n_null))
            items = sorted(merged.items())
            if n_null:
                items.append((None, n_null))  # the oracle's NULL group
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(items),
                    "n_seen": [n] * len(items),
                    "event_type": [k for k, _ in items],
                    "n": [v for _, v in items],
                }
            )

    # each user's final emission carries the complete map snapshot
    final = _per_user_state(
        spark, sf_dir, TypeCountProcessor(), out_schema, "n_seen", "user_id", "event_type"
    )
    return final.select("user_id", "event_type", "n").distinct()


@register(
    "stream_sink_files",
    # append-mode watermark-close semantics, exactly: a window flushes
    # to the file sink once the final watermark (max event time minus
    # the 1-hour delay) has passed its END — so the oracle keeps
    # every hour bucket whose end <= max(ts) - 1 hour and drops the
    # still-open tail, mirroring what the checkpointed parquet sink
    # actually committed
    """
    WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
    w AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value) * 100) / 100 AS sum_value
      FROM events GROUP BY 1
    )
    SELECT w.h AS window_start, w.n, w.sum_value
    FROM w, m WHERE w.h + INTERVAL 1 HOUR <= m.mx - INTERVAL 1 HOUR
    """,
)
def stream_sink_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production streaming sink: hourly windowed aggregates
    written APPEND-mode to checkpointed parquet files — Spark's
    exactly-once file commit (manifest-tracked, no partial files) —
    then read back as a batch table. Unlike the memory-sink queries
    (complete mode: every window re-emitted each batch), append mode
    emits a window exactly once, when the watermark closes it; the
    still-open tail windows are correctly ABSENT from the files, and
    the batch oracle reproduces that boundary arithmetically.

    Scale shape: streaming state is one row per open window (bounded
    by the watermark horizon, not stream length); the sink writes
    partition-parallel files with a transactional manifest per
    micro-batch — the shape a 100 TB ingest pipeline runs
    continuously. Output + checkpoint dirs are recreated per run for
    determinism.
    """
    import shutil

    from skills_vectors_spark.scratch import scratch as _scratch

    out = _scratch(sf_dir, "stream_sink_out")
    chk = _scratch(sf_dir, "stream_sink_chk")
    for p in (out, chk):
        shutil.rmtree(p, ignore_errors=True)
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("n"),
            (F.round(F.sum("value") * 100) / 100).alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n", "sum_value")
    )
    drain(
        agg,
        lambda w: w.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk),
    )
    return spark.read.schema("window_start timestamp, n long, sum_value double").parquet(out)


LATE_DELAY_MS = 3_600_000  # the 1-hour watermark delay, in ms


@register(
    "stream_late_metrics",
    # batch-equivalent of the late-row audit: the replay micro-batch
    # re-offers every event after the watermark advanced to
    # ms-truncated max(ts) - 1h (Spark tracks event-time stats in
    # MILLISECONDS), so exactly the events strictly below that
    # horizon count as late
    """
    WITH m AS (
      SELECT date_trunc('milliseconds', max(CAST(ts AS TIMESTAMP)))
             - INTERVAL 1 HOUR AS wm
      FROM events
    )
    SELECT CAST((SELECT count(*) FROM events) * 2 AS BIGINT) AS n_input,
           CAST((SELECT count(*) FROM events, m
                 WHERE CAST(ts AS TIMESTAMP) < wm) AS BIGINT) AS n_dropped_late
    """,
)
def stream_late_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness observability (the reference's operational-
    metrics pattern, skills_for_jobs.py:74-84, applied to streams): a
    per-micro-batch count of rows arriving below the watermark
    horizon, the number a production ingest pipeline alarms on.

    Spark 4.1 does NOT surface this for aggregations — late rows are
    filtered above the stateful operator, so stateOperators[].
    numRowsDroppedByWatermark stays 0 and observe() nodes sit below
    the planner-inserted filter (both measured) — so this is an
    explicit foreachBatch audit stage, the dead-letter accounting
    pattern: per batch, ONE bounded aggregate computes (row count,
    max event time, count below the current horizon), and the
    driver-side horizon mirror advances exactly as Spark's watermark
    does (ms-truncated max event time minus the delay, applied from
    the NEXT batch). The mirror is then cross-checked batch-by-batch
    against the engine's own reported eventTime.watermark from the
    progress feed — a drifting mirror raises instead of reporting
    wrong metrics.

    The fixture makes lateness deterministic: the events file is
    staged TWICE and maxFilesPerTrigger=1 forces two micro-batches in
    mtime order; batch 1 advances the watermark to max(ts) - 1h at
    commit, so batch 2's replay counts exactly the events strictly
    below that horizon — closed-form for the oracle.

    Scale shape: the audit adds one map-side-combinable aggregate per
    micro-batch (3 numbers to the driver, no extra shuffle of the
    data, no state); the horizon mirror is O(1) driver memory."""
    import datetime as _dt
    import os
    import shutil

    from skills_vectors_spark.scratch import scratch as _scratch

    # the watermark-mirror cross-check below parses the progress feed's
    # %Y-%m-%dT%H:%M:%S.%fZ (UTC) into NAIVE datetimes and compares
    # them against driver-side max(ts) arithmetic, which is correct
    # only while collected timestamps render in UTC too — assert the
    # session pin rather than silently drifting under another timezone
    # (advisor r7)
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            f"stream_late_metrics requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}): the watermark mirror compares naive UTC datetimes"
        )

    stage = _scratch(sf_dir, "stream_late_stage")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    src = os.path.join(sf_dir, "events.parquet")
    a, b = os.path.join(stage, "a_live.parquet"), os.path.join(stage, "b_replay.parquet")
    shutil.copyfile(src, a)
    shutil.copyfile(src, b)
    os.utime(a, (1_000_000, 1_000_000))  # older mtime -> first batch
    os.utime(b, (2_000_000, 2_000_000))
    raw = (
        spark.readStream.schema(sources.SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    batches: list[tuple[int, int, int]] = []  # (batch_id, n_rows, n_late)
    mirror: dict[int, _dt.datetime | None] = {}  # wm used by each batch
    state = {"wm": None}

    def audit(bdf: DataFrame, batch_id: int) -> None:
        wm = state["wm"]
        mirror[batch_id] = wm
        late = (
            F.count(F.when(F.col("ts") < F.lit(wm), True))
            if wm is not None
            else F.lit(0).cast("long")
        )
        r = bdf.agg(
            F.count("*").alias("n"), F.max("ts").alias("mx"), late.alias("late")
        ).collect()[0]
        batches.append((batch_id, int(r.n), int(r.late)))
        if r.mx is not None:
            # Spark's watermark arithmetic: event-time stats are kept
            # in ms, so truncate before subtracting the delay; the
            # watermark never regresses
            mx_ms = r.mx.replace(microsecond=r.mx.microsecond // 1000 * 1000)
            cand = mx_ms - _dt.timedelta(milliseconds=LATE_DELAY_MS)
            if wm is None or cand > wm:
                state["wm"] = cand

    q = drain(raw.withWatermark("ts", "1 hour"), lambda w: w.foreachBatch(audit))
    # honesty gate: the mirror must equal the engine's own per-batch
    # watermark (epoch batches report 1970-01-01)
    for p in q.recentProgress:
        got = p.get("eventTime", {}).get("watermark")
        bid = int(p["batchId"])
        if got is None or bid not in mirror:
            continue
        eng = _dt.datetime.strptime(got, "%Y-%m-%dT%H:%M:%S.%fZ")
        mine = mirror[bid] or _dt.datetime(1970, 1, 1)
        if eng != mine:
            raise ValueError(
                f"watermark mirror drift at batch {bid}: engine {eng} != audit {mine}"
            )
    n_input = sum(n for _, n, _ in batches)
    n_late = sum(late for _, _, late in batches)
    return spark.createDataFrame(
        [(n_input, n_late)], "n_input long, n_dropped_late long"
    )
