"""Behavioral-analytics wave (round 5): cohort retention and event
transitions — the two classic product-analytics operators the
registry lacked next to its funnel (seq_funnel) and sessionization
(sessionize_batch) seats.

Reference tie: the reference's evaluation loop reduces per-user
match behavior to summary tables (/root/reference/skills_for_jobs.py:354-387);
these operators are the same user-grain reduction applied to the
event stream, the workload any training-data/product pipeline runs
to understand its users before sampling from them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from skills_vectors_spark import sources
from skills_vectors_spark.registry import register


@register(
    "retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS age_days
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ),
    sizes AS (
      SELECT cohort_day, count(*) AS cohort_size
      FROM firsts GROUP BY cohort_day
    )
    SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(a.age_days AS BIGINT) AS age_days,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           round(count(*) / CAST(s.cohort_size AS DOUBLE) * 1e6) / 1e6
             AS retention
    FROM activity a JOIN sizes s ON a.cohort_day = s.cohort_day
    GROUP BY a.cohort_day, a.age_days, s.cohort_size
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by their first
    active day; each (cohort_day, age_days) cell counts distinct
    users from that cohort active that many days later, plus the
    retention fraction — the standard product-analytics triangle.

    Scale shape: ONE exchange total — a single user-grain agg
    computes each user's first day AND their distinct active-day set
    (collect_set is bounded by the calendar span in days, not by the
    user's event count, so the state per user is small by
    construction). Exploding that set replaces the join+distinct a
    naive formulation pays (a second full-fact shuffle; measured
    1.01 s vs 0.73 s at the 1M-event tier). The cohort-size branch is
    GONE as of r7 (the r6 verdict's ordered A/B): every user is
    active at age 0 by definition, so cohort_size == the cohort's own
    age-0 cell, recovered with one window over the |cohorts| x |ages|
    matrix — days x days rows, tiny at any corpus size — instead of
    re-aggregating the user-grain frame and broadcast-joining it
    back. Measured a WASH at the 1M-event tier (min-of-3 isolated
    1.00 s before vs 1.05 s after — the fact scan + user exchange is
    the floor, confirming the accepted-floor register entry); kept
    because it removes a whole second pass over the user-grain frame,
    which is the term that grows at 100 TB.
    """
    ev = sources.load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("day").alias("cohort_day"), F.collect_set("day").alias("days")
    )
    activity = per_user.select("cohort_day", F.explode("days").alias("day")).select(
        "cohort_day", F.datediff("day", "cohort_day").alias("age_days")
    )
    size_w = Window.partitionBy("cohort_day")
    return (
        activity.groupBy("cohort_day", "age_days")
        .agg(F.count("*").alias("n_active"))
        .withColumn(
            "cohort_size",
            F.max(F.when(F.col("age_days") == 0, F.col("n_active"))).over(size_w),
        )
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.col("age_days").cast("long").alias("age_days"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            (
                F.round(F.col("n_active") / F.col("cohort_size").cast("double") * 1e6)
                / 1e6
            ).alias("retention"),
        )
    )


@register(
    "seq_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE)
                 * 1e6) / 1e6 AS p_next
    FROM pairs
    """,
)
def seq_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (Markov counts): each
    user's timeline ordered by (ts, event_id) yields (prev, next)
    pairs; counts plus the row-normalized transition probability —
    the path-analysis primitive behind sankey/flow views and
    next-action models.

    Scale shape: ONE shuffle on user_id feeds the lag window; the
    pair count is map-side-combinable into |types|^2 cells and the
    probability normalization windows over those same tiny cells —
    nothing after the first exchange scales with the corpus.
    """
    ev = sources.load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    # r7 A/B (the r6 verdict's ordered squeeze): pre-aggregating per
    # user (sort_array(collect_list(struct)) + slice/zip/explode, all
    # JVM-side) LOSES to the lag window — min-of-3 isolated 1.42 s vs
    # 0.97 s at the 1M-event tier; the ObjectHashAggregate list state
    # costs more than the window's partition sort. The window plan is
    # the measured floor: one user_id exchange, then everything is
    # |types|^2 cells.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    wprev = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        (F.round(F.col("n") / F.sum("n").over(wprev).cast("double") * 1e6) / 1e6).alias(
            "p_next"
        ),
    )


# fact-size gate for persisting ts_gapfill's hourly rollup: below
# this local byte size, two scans of the fact are cheaper than the
# cache-materialization barrier; above it — and on any non-local
# path — one fact pass + the bounded rollup cache wins. r14
# measurement bracketed the crossover: at the 2 MB sf0.1 fact the
# persist is neutral-to-slightly-worse (interleaved 1.7-2.7 vs
# 1.7-2.4 s), at the 21.5 MB 10x fact it wins ~1.5x interleaved
# (4.5-5.4 vs 7.3-9.1 s; plans/r14/ts_gapfill_10x_cache_{on,off}.txt
# — runtime fact scans 2 -> 1). 8 MiB sits between the two measured
# points; the r13 value (256 MiB) was a conservative guess that lost
# the win at every realistic mid tier.
TS_CACHE_MIN_FACT_BYTES = 8 << 20


@register(
    "ts_gapfill",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             round(avg(value) * 1e6) / 1e6 AS v
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    spans AS (
      SELECT user_id, min(h) AS hmin, max(h) AS hmax FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h
      FROM spans
    )
    SELECT g.user_id, epoch_us(g.h) AS hour_us,
           last_value(hy.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           hy.v IS NULL AS filled
    FROM grid g LEFT JOIN hourly hy ON hy.user_id = g.user_id AND hy.h = g.h
    """,
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap filling: per-user hourly averages
    densified onto each user's full [first, last] hour grid, missing
    hours carried forward (LOCF) and flagged — the
    time_bucket_gapfill primitive every timeseries warehouse ships,
    the step that turns an irregular event log into a
    regularly-sampled training series.

    Scale shape: the hourly rollup is one map-side-combinable agg;
    the grid explode is bounded per user by the CALENDAR SPAN in
    hours (never by event count); the fill join and the LOCF window
    share the user_id partitioning. Hourly values are rounded BEFORE
    the carry-forward so filled cells are bit-identical across
    engines.
    """
    from skills_vectors_spark.cache import cached_df

    def _hourly() -> DataFrame:
        ev = sources.load(spark, sf_dir, "events").select(
            "user_id", F.date_trunc("hour", "ts").alias("h"), "value"
        )
        return ev.groupBy("user_id", "h").agg(
            (F.round(F.avg("value") * 1e6) / 1e6).alias("v")
        )

    # persist the hourly rollup iff the fact is non-trivial: without
    # the cache the grid arm's min/max and the fill-join arm each
    # re-scan the events FACT (Catalyst collapses the grid arm's agg
    # straight onto the scan — two full fact passes per query). The
    # rollup is bounded by users x hours, far smaller than the log it
    # summarizes, so at scale one fact pass + a rollup cache wins; on
    # a locally-tiny fact the materialization barrier costs more than
    # the second scan saves (measured +0.3 s at sf0.1), so the cache
    # engages only above the byte gate — and always off a local
    # master (a cluster), where the fact is never trivial.
    size = sources.plan_bytes(spark, sources.load(spark, sf_dir, "events"))
    if size is not None and size < TS_CACHE_MIN_FACT_BYTES:
        hourly = _hourly()
    else:
        hourly = cached_df("ts_hourly", spark, sf_dir, _hourly)
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
        .select(
            "user_id",
            F.explode(
                F.sequence("hmin", "hmax", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.unix_micros(F.col("h").cast("timestamp")).alias("hour_us"),
            F.last("v", ignorenulls=True).over(w).alias("value"),
            F.col("v").isNull().alias("filled"),
        )
    )


# Modified z-score constants (Iglewicz & Hoaglin): 0.6745 rescales the
# MAD to the stddev of a normal; 3.5 is the conventional outlier cut.
MAD_SCALE = 0.6745
MAD_CUTOFF = 3.5


@register(
    "anomaly_mad",
    f"""
    WITH med AS (
      SELECT user_id, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY user_id
    ), dev AS (
      SELECT e.user_id, m.med, abs(e.value - m.med) AS dev
      FROM events e JOIN med m ON m.user_id = e.user_id
    ), mad AS (
      SELECT user_id, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY user_id
    )
    SELECT d.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(max(d.med) * 1e6) / 1e6 AS med,
           round(max(m2.mad) * 1e6) / 1e6 AS mad,
           CAST(sum(CASE WHEN m2.mad > 0
                          AND {MAD_SCALE!r} * d.dev / m2.mad > {MAD_CUTOFF!r}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m2 ON m2.user_id = d.user_id
    GROUP BY d.user_id
    """,
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user anomaly summary via median absolute deviation:
    each user's event values are scored with the modified z-score
    (0.6745·|x−med|/MAD, outlier above 3.5) — the outlier detector
    that, unlike `grouped_zscore`'s mean/stddev, is not itself pulled
    by the outliers it is hunting. One summary row per user: event
    count, median, MAD, and how many events breach the cut.

    Scale shape: the fact shuffles once onto user grain; the median
    agg, the deviation join, the MAD agg, and the final count all
    reuse that one partitioning (plan-tested ≤2 live fact exchanges).
    The exact per-group quantile buffers one user's values per group —
    bounded by per-user event count, the same exact-tier contract as
    `agg_percentile`; at 100 TB swap `percentile` for
    `approx_percentile` (same plan shape) exactly as the sketch-tier
    variants document.
    """
    ev = sources.load(spark, sf_dir, "events").select("user_id", "value")
    # ONE shuffle, ONE fact scan (r13): the previous med-agg → join →
    # mad-agg → join → final-agg chain scanned the fact four times and
    # shuffled it twice (plans/r13/anomaly_mad_before.txt: 14
    # Exchange/Broadcast nodes). Everything here is per-user, and the
    # exact-percentile tier already buffers one user's values in the
    # aggregation state — so collecting the group ONCE into a sorted
    # array and deriving med/MAD/outliers with JVM higher-order
    # functions computes the identical result with a single hash
    # exchange. The interpolation below reproduces Spark's
    # Percentile.getPercentile arithmetic term-for-term
    # ((hi-pos)*lower + (pos-lo)*higher with pos=(m-1)/2, i.e.
    # 0.5*lower + 0.5*higher at even m), so med/mad are bit-identical
    # to percentile(value, 0.5); dev and the breach predicate keep the
    # exact expression shapes of the old plan. Per-group memory is the
    # same bound as percentile's buffer; the sketch-tier twin below
    # remains the unbounded-cardinality swap-in.
    def _median_of(sorted_arr: str) -> str:
        return f"""
        CASE WHEN size({sorted_arr}) = 0 THEN CAST(NULL AS DOUBLE)
             WHEN size({sorted_arr}) % 2 = 1
               THEN element_at({sorted_arr}, CAST((size({sorted_arr}) + 1) DIV 2 AS INT))
             ELSE 0.5D * element_at({sorted_arr}, CAST(size({sorted_arr}) DIV 2 AS INT))
                  + 0.5D * element_at({sorted_arr}, CAST(size({sorted_arr}) DIV 2 + 1 AS INT))
        END"""

    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.array_sort(F.collect_list("value")).alias("_vs"),
        )
        .withColumn("_med", F.expr(_median_of("_vs")))
        .withColumn(
            "_mad",
            F.expr(_median_of("array_sort(transform(_vs, x -> abs(x - _med)))")),
        )
        .select(
            "user_id",
            "n_events",
            (F.round(F.col("_med") * 1e6) / 1e6).alias("med"),
            (F.round(F.col("_mad") * 1e6) / 1e6).alias("mad"),
            F.when(
                F.col("_mad") > 0,
                F.size(
                    F.expr(
                        f"filter(_vs, x -> {MAD_SCALE!r}D * abs(x - _med) / _mad"
                        f" > {MAD_CUTOFF!r}D)"
                    )
                ),
            )
            .otherwise(0)
            .cast("long")
            .alias("n_outliers"),
        )
    )


def anomaly_mad_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier twin of :func:`anomaly_mad` (benched via bench.py
    _extras, not registered — approximate results have no exact
    oracle): approx_percentile replaces the exact percentile so the
    per-group aggregation state is a BOUNDED sketch instead of a
    buffer of every value — the variant a 100 TB deployment runs when
    per-key cardinality is unbounded, exactly as
    approx_percentile_production twins agg_percentile. At the
    1M-event tier (bounded ~100 events/user) the exact tier is
    actually faster (1.25 s vs 1.48 s for the med pass — sketch
    update cost > sorting 100 values); the sketch pays off only when
    groups grow past what an executor can buffer."""
    ev = sources.load(spark, sf_dir, "events").select("user_id", "value")
    med = ev.groupBy("user_id").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("med")
    )
    dev = ev.join(med, "user_id").select(
        "user_id", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("user_id").agg(
        F.expr("approx_percentile(dev, 0.5, 10000)").alias("mad")
    )
    breach = (F.col("mad") > 0) & (
        F.lit(MAD_SCALE) * F.col("dev") / F.col("mad") > F.lit(MAD_CUTOFF)
    )
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.round(F.max("med") * 1e6) / 1e6).alias("med"),
            (F.round(F.max("mad") * 1e6) / 1e6).alias("mad"),
            F.sum(F.when(breach, 1).otherwise(0)).cast("long").alias("n_outliers"),
        )
    )


Z_CRIT = 1.959963984540054  # two-sided 95% normal critical value
AB_VALUE_CUT = 48.0  # event-level conversion: purchase above this value


@register(
    "eval_ab_lift",
    f"""
    WITH per_event AS (
      SELECT event_id % 2 AS arm,
             CASE WHEN event_type = 'purchase' AND value > {AB_VALUE_CUT!r}
                  THEN 1 ELSE 0 END AS conv
      FROM events
    ), arms AS (
      SELECT arm, count(*) AS n, sum(conv) AS k FROM per_event GROUP BY arm
    ), w AS (
      SELECT max(CASE WHEN arm = 0 THEN n END) AS n_c,
             max(CASE WHEN arm = 0 THEN k END) AS k_c,
             max(CASE WHEN arm = 1 THEN n END) AS n_t,
             max(CASE WHEN arm = 1 THEN k END) AS k_t
      FROM arms
    )
    SELECT CAST(n_c AS BIGINT) AS n_control,
           CAST(k_c AS BIGINT) AS conv_control,
           CAST(n_t AS BIGINT) AS n_treatment,
           CAST(k_t AS BIGINT) AS conv_treatment,
           round(k_c / CAST(n_c AS DOUBLE) * 1e6) / 1e6 AS rate_control,
           round(k_t / CAST(n_t AS DOUBLE) * 1e6) / 1e6 AS rate_treatment,
           round(((k_t / CAST(n_t AS DOUBLE))
                  / nullif(k_c / CAST(n_c AS DOUBLE), 0) - 1)
                 * 1e6) / 1e6 AS lift,
           round((k_t / CAST(n_t AS DOUBLE) - k_c / CAST(n_c AS DOUBLE))
                 / nullif(sqrt(((k_c + k_t) / CAST(n_c + n_t AS DOUBLE))
                        * (1 - (k_c + k_t) / CAST(n_c + n_t AS DOUBLE))
                        * (1.0 / n_c + 1.0 / n_t)), 0) * 1e6) / 1e6 AS z,
           abs((k_t / CAST(n_t AS DOUBLE) - k_c / CAST(n_c AS DOUBLE))
               / nullif(sqrt(((k_c + k_t) / CAST(n_c + n_t AS DOUBLE))
                      * (1 - (k_c + k_t) / CAST(n_c + n_t AS DOUBLE))
                      * (1.0 / n_c + 1.0 / n_t)), 0)) > {Z_CRIT!r} AS significant
    FROM w
    """,
)
def eval_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: events split into control/treatment by
    key parity (the stand-in for a real assignment hash), event-level
    conversion (a purchase above AB_VALUE_CUT — the click-through-rate
    shape), then per-arm rates, relative lift, and the pooled
    two-proportion z statistic with a 95% significance flag — the
    experimentation primitive next to the funnel/retention/transition
    seats. (On uniformly-synthetic data the flag should come out
    false — the unit test pins that the instrument does not
    hallucinate an effect.)

    Scale shape: the conversion indicator and arm key are computed in
    the scan; the arm rollup is a map-side-combinable agg into 2
    cells, and the final single-row statistics are constant-size
    arithmetic — nothing past the 2-cell exchange grows with the
    corpus. The z expression is written with identical literal
    structure in both engines so the boolean flag compares identical
    doubles.
    """
    ev = sources.load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    per_event = ev.select(
        (F.col("event_id") % 2).alias("arm"),
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") > AB_VALUE_CUT), 1
        )
        .otherwise(0)
        .alias("conv"),
    )
    arms = per_event.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("conv").alias("k")
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("arm") == 0, F.col("k"))).alias("k_c"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("arm") == 1, F.col("k"))).alias("k_t"),
    )
    rate_c = F.col("k_c") / F.col("n_c").cast("double")
    rate_t = F.col("k_t") / F.col("n_t").cast("double")
    pooled = (F.col("k_c") + F.col("k_t")) / (
        F.col("n_c") + F.col("n_t")
    ).cast("double")
    # nullif guards: zero conversions in BOTH arms (possible on a
    # degenerate corpus) zero the pooled variance and the control
    # rate; SQL division yields NULL there, ANSI Spark would raise
    z_denom = F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("n_c") + 1.0 / F.col("n_t"))
    )
    z = (rate_t - rate_c) / F.nullif(z_denom, F.lit(0.0))
    return w.select(
        F.col("n_c").cast("long").alias("n_control"),
        F.col("k_c").cast("long").alias("conv_control"),
        F.col("n_t").cast("long").alias("n_treatment"),
        F.col("k_t").cast("long").alias("conv_treatment"),
        (F.round(rate_c * 1e6) / 1e6).alias("rate_control"),
        (F.round(rate_t * 1e6) / 1e6).alias("rate_treatment"),
        (F.round((rate_t / F.nullif(rate_c, F.lit(0.0)) - 1) * 1e6) / 1e6).alias("lift"),
        (F.round(z * 1e6) / 1e6).alias("z"),
        (F.abs(z) > F.lit(Z_CRIT)).alias("significant"),
    )


EWMA_K = 16  # bounded lookback window (frames the geometric decay)
EWMA_DECAY = 0.8  # per-step decay (1 - alpha)


@register(
    "ts_ewma",
    f"""
    WITH r AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL
    )
    SELECT a.user_id, a.event_id,
           round(sum(b.value * power({EWMA_DECAY!r}, a.rn - b.rn))
                 / ((1 - power({EWMA_DECAY!r}, count(*)))
                    / (1 - {EWMA_DECAY!r})) * 1e6) / 1e6 AS ewma
    FROM r a JOIN r b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - {EWMA_K - 1} AND a.rn
    GROUP BY a.user_id, a.event_id, a.rn
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of each user's event
    values over a BOUNDED lookback of the last K events (the
    normalized/adjusted EWMA over a truncated geometric window — the
    smoothing a monitoring pipeline runs over per-user metrics).
    Bounding the window is the scale decision: the classic recursive
    EWMA needs either per-row sequential state or an unbounded
    (1-a)^(-rn) factoring that overflows doubles for long histories;
    truncating at K = 16 steps (weight floor 0.8^15 ~ 3.5%) makes it
    a pure window computation with closed-form normalization
    (1 - d^m) / (1 - d).

    Scale shape: ONE exchange on user_id feeds the ordered window;
    collect_list over the K-row frame is constant state per row; the
    weighted fold is a JVM higher-order function (zip_with/aggregate,
    no Python). The oracle expresses the same frame as a bounded
    row_number self-join — identical weights, identical closed-form
    denominator."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_K - 1), 0)
    )
    # null semantics pinned (advisor r7): collect_list silently drops
    # NULLs from the frame, which would shift both the weights and the
    # (1-d^m)/(1-d) denominator relative to any engine that counts the
    # null-valued rows — so null-valued events are excluded from the
    # series on BOTH sides before ranking (the oracle filters in its
    # row_number CTE)
    ev = (
        sources.load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    vals = ev.withColumn("vals", F.collect_list("value").over(w))
    num = F.expr(
        f"aggregate(zip_with(vals, sequence(size(vals) - 1, 0, -1),"
        f" (v, e) -> v * power({EWMA_DECAY!r}, e)),"
        f" cast(0 as double), (acc, x) -> acc + x)"
    )
    den = (1 - F.pow(F.lit(EWMA_DECAY), F.size("vals"))) / (1 - EWMA_DECAY)
    return vals.select(
        "user_id",
        "event_id",
        (F.round(num / den * 1e6) / 1e6).alias("ewma"),
    )
