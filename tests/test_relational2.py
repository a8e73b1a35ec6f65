from collections import defaultdict

from skills_vectors_spark import sources
from skills_vectors_spark.operators import relational2
from skills_vectors_spark.streaming import windows


def test_join_asof_semantics(spark, sf_dir):
    """Check the carry-forward as-of result against a plain-python replay."""
    ev = sources.load(spark, sf_dir, "events").collect()
    got = {r.event_id: r.view_event_id for r in relational2.join_asof(spark, sf_dir).collect()}

    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r)
    expected = {}
    for user, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        last_view = None
        for r in rows:
            if r.event_type == "view":
                last_view = r.event_id
            elif r.event_type == "purchase":
                expected[r.event_id] = last_view
    assert got == expected


def test_agg_pivot_row_per_nation(spark, sf_dir):
    rows = relational2.agg_pivot(spark, sf_dir).collect()
    n_nations = sources.load(spark, sf_dir, "customer").select("c_nationkey").distinct().count()
    assert len(rows) == n_nations
    assert rows[0].__fields__ == ["c_nationkey"] + [s.lower() for s in relational2._SEGMENTS]


def test_grouped_zscore_stats(spark, sf_dir):
    import statistics

    rows = relational2.grouped_zscore(spark, sf_dir).collect()
    by_seg = defaultdict(list)
    for r in rows:
        by_seg[r.c_mktsegment].append(r.zscore)
    for seg, zs in by_seg.items():
        assert abs(statistics.fmean(zs)) < 1e-3, f"{seg} zscores should center on 0"


def test_stream_stateful_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    got = {r.user_id: (r.n_events, r.n_types) for r in windows.stream_stateful(spark, sf_dir).collect()}
    batch = {
        r.user_id: (r.n, r.t)
        for r in sources.load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.countDistinct("event_type").alias("t"))
        .collect()
    }
    assert got == batch


def test_sample_stratified_proportions(spark, sf_dir):
    from skills_vectors_spark import sources
    from skills_vectors_spark.operators.relational2 import sample_stratified

    rows = sample_stratified(spark, sf_dir).collect()
    base = {
        r.c_mktsegment: r.n
        for r in sources.load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    segs = {"AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"}
    assert {r.c_mktsegment for r in rows} == segs  # 0.0 stratum still reported
    for r in rows:
        assert r.n_total == base[r.c_mktsegment]
        assert r.within_bounds, (r.c_mktsegment, r.n_total)


def test_agg_percentile_matches_numpy(spark, sf_dir):
    """The two-pass log-bucket refinement must reproduce numpy's
    'linear' quantile exactly (modulo the 1e-4 output rounding) on the
    real lineitem distribution."""
    import numpy as np
    import pytest as pt

    got = {r.l_returnflag: (r.p50, r.p90, r.p99)
           for r in relational2.agg_percentile(spark, sf_dir).collect()}
    li = relational2.sources.load(spark, sf_dir, "lineitem")
    pdf = li.select("l_returnflag", "l_extendedprice").toPandas()
    for g, sub in pdf.groupby("l_returnflag"):
        exp = np.quantile(sub["l_extendedprice"].to_numpy(), [0.5, 0.9, 0.99],
                          method="linear")
        assert got[g] == pt.approx(tuple(exp), abs=1.1e-4), g


def test_agg_percentile_histogram_path_edge_distributions(spark, sf_dir):
    """The log-bucket refinement against adversarial group shapes:
    constant group (min==max bucket resolves without pass 2), single
    element (k+1 clamp), duplicate-heavy (single-valued buckets hold
    several needed order statistics), heavy log-normal skew, and
    negatives (mirrored bucket encoding). Each must reproduce numpy's
    linear quantile exactly (modulo the 1e-4 output rounding)."""
    from unittest import mock

    import numpy as np
    import pytest as pt

    rng = np.random.default_rng(7)
    groups = {
        "const": [5.0] * 1000,
        "single": [3.14],
        "two": [1.0, 2.0],
        "dupheavy": [1.0] * 400 + [2.0] * 400 + [3.0] * 200,
        "skew": [float(x) for x in np.exp(rng.normal(0, 3, 2000))],
        "neg": [float(x) for x in rng.normal(-100.0, 5.0, 500)],
    }
    rows = [(g, float(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "l_returnflag string, l_extendedprice double")
    with mock.patch.object(relational2.sources, "load", lambda *_a: df):
        got = {
            r.l_returnflag: (r.p50, r.p90, r.p99)
            for r in relational2.agg_percentile(spark, sf_dir).collect()
        }
    for g, vs in groups.items():
        exp = np.quantile(np.array(vs), [0.5, 0.9, 0.99], method="linear")
        assert got[g] == pt.approx(tuple(exp), abs=1.1e-4), g


def test_agg_percentile_refinement_levels(spark, sf_dir, monkeypatch):
    """Distributions that pack one log bucket must refine, not raise:
    with the pick guard forced tiny, (a) a duplicate-packed bucket
    resolves at level 1 via single-valued sub-ranges, (b) sub-ulp-
    spaced distinct values force several levels of width shrink, and
    (c) a mixed multi-group corpus exercises the multi-region CASE
    chain. Results must still match numpy's linear quantile."""
    from unittest import mock

    import numpy as np
    import pytest as pt

    rng = np.random.default_rng(11)
    groups = {
        # 5k copies of one price + a thin tail in the SAME log bucket
        "packed": [7000.0] * 5000 + [float(7000.0 + i * 1e-9) for i in range(200)],
        # distinct values spaced ~1e-13 apart: one bucket, never
        # resolvable without width refinement
        "subulp": [float(7.0 + i * 1e-13) for i in range(800)],
        # ordinary spread group to keep non-refined paths in the mix
        "spread": [float(x) for x in np.exp(rng.normal(8, 2, 1500))],
    }
    rows = [(g, float(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "l_returnflag string, l_extendedprice double")
    monkeypatch.setattr(relational2, "PCTL_MAX_PICK_ROWS", 50)
    with mock.patch.object(relational2.sources, "load", lambda *_a: df):
        got = {
            r.l_returnflag: (r.p50, r.p90, r.p99)
            for r in relational2.agg_percentile(spark, sf_dir).collect()
        }
    for g, vs in groups.items():
        exp = np.quantile(np.array(vs), [0.5, 0.9, 0.99], method="linear")
        assert got[g] == pt.approx(tuple(exp), abs=1.1e-4), g


def test_agg_percentile_zero_width_region_guard():
    """A region whose [lo, hi] cannot be split — lo == hi, or so
    close that the equal-width sub-range width underflows to 0.0 —
    must resolve its picks to lo instead of entering a refinement
    scan where floor((v-lo)/0.0) would be NaN (advisor r6)."""
    kval = {"g": {}}
    tiny = 5e-324  # smallest subnormal double
    regions = [
        ("g", 3, None, 5000, 7000.0, 7000.0, [(1, 0), (4, 2)]),
        ("g", 4, None, 100, tiny, tiny * 8, [(9, 5)]),  # width underflows
        ("g", 5, None, 10, 1.0, 2.0, [(12, 3)]),  # splittable: kept
    ]
    kept = relational2._pctl_resolve_zero_width(regions, kval)
    assert [r[1] for r in kept] == [5]
    assert kval["g"] == {1: 7000.0, 4: 7000.0, 9: tiny}


def test_agg_percentile_overfull_single_valued_bucket(spark, sf_dir, monkeypatch):
    """An over-full log bucket of IDENTICAL values (count far above
    the pick guard) resolves at the histogram walk (lo == hi) without
    engaging refinement or tripping the zero-width split path."""
    from unittest import mock

    rows = [("const", 7000.0)] * 5000 + [("const", 1.0), ("const", 90000.0)]
    df = spark.createDataFrame(rows, "l_returnflag string, l_extendedprice double")
    monkeypatch.setattr(relational2, "PCTL_MAX_PICK_ROWS", 50)
    with mock.patch.object(relational2.sources, "load", lambda *_a: df):
        got = relational2.agg_percentile(spark, sf_dir).collect()
    import numpy as np
    import pytest as pt

    vals = np.array([v for _, v in rows])
    exp = np.quantile(vals, [0.5, 0.9, 0.99], method="linear")
    assert (got[0].p50, got[0].p90, got[0].p99) == pt.approx(tuple(exp), abs=1.1e-4)


def test_retention_cohorts_invariants(spark, sf_dir):
    from skills_vectors_spark.operators.analytics import retention_cohorts

    rows = retention_cohorts(spark, sf_dir).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        assert 0 < r.n_active <= r.cohort_size
        assert abs(r.retention - round(r.n_active / r.cohort_size, 6)) < 1e-9
        by_cohort.setdefault(r.cohort_day, {})[r.age_days] = r
    for cohort, ages in by_cohort.items():
        # day 0 retention is definitionally 1.0 (everyone active on
        # their own first day)
        assert 0 in ages and ages[0].retention == 1.0, cohort
        assert ages[0].n_active == ages[0].cohort_size


def test_seq_transitions_rows_normalize(spark, sf_dir):
    from collections import defaultdict

    from skills_vectors_spark.operators.analytics import seq_transitions

    rows = seq_transitions(spark, sf_dir).collect()
    assert rows
    per_prev = defaultdict(float)
    for r in rows:
        assert r.n > 0 and 0 < r.p_next <= 1
        per_prev[r.prev_type] += r.p_next
    for prev, total in per_prev.items():
        assert abs(total - 1.0) < 1e-4, (prev, total)


def test_ts_gapfill_grid_contiguous_and_locf(spark, sf_dir):
    from skills_vectors_spark.operators.analytics import ts_gapfill

    rows = ts_gapfill(spark, sf_dir).collect()
    assert rows
    HOUR_US = 3_600_000_000
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, urows in by_user.items():
        urows.sort(key=lambda r: r.hour_us)
        # dense contiguous hourly grid from first to last hour
        hours = [r.hour_us for r in urows]
        assert hours == list(range(hours[0], hours[-1] + 1, HOUR_US)), user
        # endpoints are observations, and every filled cell carries
        # the previous cell's value forward
        assert not urows[0].filled and not urows[-1].filled
        for prev, cur in zip(urows, urows[1:]):
            if cur.filled:
                assert cur.value == prev.value, (user, cur.hour_us)


def test_agg_percentile_empty_input(spark, sf_dir):
    from unittest import mock

    df = spark.createDataFrame([], "l_returnflag string, l_extendedprice double")
    with mock.patch.object(relational2.sources, "load", lambda *_a: df):
        out = relational2.agg_percentile(spark, sf_dir)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["l_returnflag", "p50", "p90", "p99"]


def test_quality_entropy_bounds(spark, sf_dir):
    import math

    from skills_vectors_spark.operators.relevance import quality_entropy

    rows = quality_entropy(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_uniq <= r.n_tok
        # 0 <= H <= log2(distinct tokens), and H == 0 iff one token
        assert -1e-6 <= r.entropy_bits <= math.log2(r.n_uniq) + 1e-6
        if r.n_uniq == 1:
            assert r.entropy_bits == 0.0


def test_anomaly_mad_matches_numpy(spark, sf_dir):
    import numpy as np

    from skills_vectors_spark import sources
    from skills_vectors_spark.operators.analytics import (
        MAD_CUTOFF,
        MAD_SCALE,
        anomaly_mad,
    )

    # Arrow path, not collect(): at the 10x battery tier this frame is
    # 1M rows — py4j row-object deserialization takes minutes and GBs
    pdf = sources.load(spark, sf_dir, "events").select("user_id", "value").toPandas()
    by_user = {uid: g["value"].to_numpy() for uid, g in pdf.groupby("user_id")}
    out = {r.user_id: r for r in anomaly_mad(spark, sf_dir).collect()}
    assert set(out) == set(by_user)
    for uid, vals in by_user.items():
        a = np.asarray(vals)
        med = float(np.percentile(a, 50))
        dev = np.abs(a - med)
        mad = float(np.percentile(dev, 50))
        r = out[uid]
        assert r.n_events == len(vals)
        assert abs(r.med - round(med, 6)) < 1e-9, uid
        assert abs(r.mad - round(mad, 6)) < 1e-9, uid
        expect_out = int(np.sum(MAD_SCALE * dev / mad > MAD_CUTOFF)) if mad > 0 else 0
        assert r.n_outliers == expect_out, uid


def test_anomaly_mad_single_fact_partitioning(spark, sf_dir):
    from skills_vectors_spark.operators.analytics import anomaly_mad
    from skills_vectors_spark.plans import PlanFacts

    facts = PlanFacts.of(anomaly_mad(spark, sf_dir))
    # r13 single-pass shape: med/MAD/outliers all derive from ONE
    # sorted per-user array, so the whole query is one fact scan and
    # ONE hash exchange (the partial collect_list aggregate) — no
    # joins, no broadcast, no second pass
    assert facts.n_exchanges_live == 1, facts.n_exchanges_live
    assert not facts.has_broadcast
    from skills_vectors_spark.plans import physical_plan

    p = physical_plan(anomaly_mad(spark, sf_dir))
    assert p.count("Scan parquet") == 1, p
    # the one exchange carries the partial aggregate, not raw fact rows
    lines = p.splitlines()
    for i, line in enumerate(lines):
        if "Exchange hashpartitioning" in line:
            nxt = lines[i + 1]
            assert "Aggregate" in nxt, nxt


def test_scan_merge_schema_null_pads_old_generation(spark, sf_dir):
    from skills_vectors_spark import sources
    from skills_vectors_spark.operators.scale import scan_merge_schema

    rows = scan_merge_schema(spark, sf_dir).collect()
    n_part = sources.load(spark, sf_dir, "part").count()
    assert len(rows) == n_part
    for r in rows:
        if r.schema_v == 1:
            assert r.p_retailprice is None, r
        else:
            assert r.p_retailprice is not None, r
    # both generations present and disjoint by parity
    assert {r.schema_v for r in rows} == {1, 2}
    assert all(r.p_partkey % 2 == (0 if r.schema_v == 1 else 1) for r in rows)


def test_sink_merge_rows_semantics(spark, sf_dir):
    from skills_vectors_spark import sources
    from skills_vectors_spark.operators.scale import sink_merge_rows

    base = {
        r.c_custkey: r
        for r in sources.load(spark, sf_dir, "customer").collect()
    }
    merged = {r.c_custkey: r for r in sink_merge_rows(spark, sf_dir).collect()}
    maxk = max(base)
    n_inserts = sum(1 for k in base if k % 97 == 0)
    assert len(merged) == len(base) + n_inserts
    for k, b in base.items():
        m = merged[k]
        if b.c_mktsegment == "AUTOMOBILE":
            # matched: balance updated
            assert abs(m.c_acctbal - round(b.c_acctbal + 100.0, 2)) < 1e-9, k
        else:
            # target-only: carried over untouched
            assert abs(m.c_acctbal - round(b.c_acctbal, 2)) < 1e-9, k
        assert m.c_name == b.c_name
    for k in base:
        if k % 97 == 0:
            # source-only: inserted under the remapped key — offset
            # by max(c_custkey)+1 so the insert range is disjoint
            # from real keys at EVERY scale tier (advisor r6)
            ins = merged[k + maxk + 1]
            assert ins.c_name == f"new-{k}" and ins.c_acctbal == 0.0


def test_eval_ab_lift_consistency_and_no_false_effect(spark, sf_dir):
    import math

    from skills_vectors_spark import sources
    from skills_vectors_spark.operators.analytics import (
        AB_VALUE_CUT,
        Z_CRIT,
        eval_ab_lift,
    )

    [r] = eval_ab_lift(spark, sf_dir).collect()
    n_events = sources.load(spark, sf_dir, "events").count()
    assert r.n_control + r.n_treatment == n_events
    assert 0 < r.conv_control < r.n_control
    assert 0 < r.conv_treatment < r.n_treatment
    assert abs(r.rate_control - round(r.conv_control / r.n_control, 6)) < 1e-9
    assert abs(r.rate_treatment - round(r.conv_treatment / r.n_treatment, 6)) < 1e-9
    # recompute z from the counts
    pc, pt = r.conv_control / r.n_control, r.conv_treatment / r.n_treatment
    pooled = (r.conv_control + r.conv_treatment) / (r.n_control + r.n_treatment)
    z = (pt - pc) / math.sqrt(
        pooled * (1 - pooled) * (1 / r.n_control + 1 / r.n_treatment)
    )
    assert abs(r.z - round(z, 6)) < 1e-9
    # parity split of uniform synthetic data: the instrument must NOT
    # hallucinate a significant effect
    assert r.significant == (abs(z) > Z_CRIT)
    assert not r.significant
    assert AB_VALUE_CUT == 48.0


def test_agg_corr_matrix_matches_numpy(spark, sf_dir):
    import numpy as np

    from skills_vectors_spark.operators.relational2 import (
        CORR_PAIRS,
        agg_corr_matrix,
    )

    pdf = (
        sources.load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .toPandas()
    )
    got = {
        (r.l_returnflag, r.x, r.y): (r.corr_xy, r.n)
        for r in agg_corr_matrix(spark, sf_dir).collect()
    }
    assert len(got) == pdf["l_returnflag"].nunique() * len(CORR_PAIRS)
    for flag, g in pdf.groupby("l_returnflag"):
        for x, y in CORR_PAIRS:
            expect = float(np.corrcoef(g[x].to_numpy(), g[y].to_numpy())[0, 1])
            corr, n = got[(flag, x, y)]
            assert n == len(g)
            assert abs(corr - expect) < 2e-6, (flag, x, y)


def test_agg_moments_limb_sums_exact_adversarial(spark):
    """The limb decomposition must reproduce the EXACT integer power
    sums for adversarial cent values: negatives (sign rides the
    limbs), zeros, duplicate extremes, and magnitudes at the
    documented |u| < 2^23 bound — checked against arbitrary-precision
    Python ints via the same moment formulas in float."""
    from fractions import Fraction

    from skills_vectors_spark.operators.relational2 import (
        _MOMENTS_SPARK_SQL,
        MOMENTS_SHIFT_CENTS,
    )

    # prices whose shifted cents u hit: -(2^23 - 1) .. near-max,
    # exact zero (u == 0), tiny, and repeated boundary values
    us = [
        -(2**23) + 1,
        -(2**23) + 1,
        -7_100_000,
        -1,
        0,
        1,
        2,
        6_999_999,
        7_100_000,
        8_388_607,  # 2^23 - 1
        123_456,
        -654_321,
    ]
    rows = [
        ("X", (u + MOMENTS_SHIFT_CENTS) / 100.0) for u in us
    ] + [("Y", (u + MOMENTS_SHIFT_CENTS) / 100.0) for u in us[:3]]
    df = spark.createDataFrame(rows, ["l_returnflag", "l_extendedprice"])
    df.createOrReplaceTempView("svs_moments_lineitem")
    try:
        got = {r.l_returnflag: r for r in spark.sql(_MOMENTS_SPARK_SQL).collect()}
    finally:
        # do not leave the planted frame bound for other tests — and
        # purge the bind_view memo so a later agg_moments call in this
        # session re-binds instead of trusting the entry this direct
        # createOrReplaceTempView bypassed
        from skills_vectors_spark import cache

        spark.catalog.dropTempView("svs_moments_lineitem")
        cache.evict(spark, ("view", "svs_moments_lineitem"))

    def expect(uvals):
        n = len(uvals)
        s1, s2, s3, s4 = (sum(Fraction(u) ** k for u in uvals) for k in (1, 2, 3, 4))
        m1, m2, m3, m4 = (float(s / n) for s in (s1, s2, s3, s4))
        mean = m1 / 100.0 + 40000.0
        var = (m2 - m1 * m1) / 1e4
        skew = (m3 - 3 * m1 * m2 + 2 * m1**3) / (m2 - m1 * m1) ** 1.5
        kurt = (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1**4) / (
            m2 - m1 * m1
        ) ** 2 - 3
        return n, mean, var, skew, kurt

    for flag, uvals in (("X", us), ("Y", us[:3])):
        n, mean, var, skew, kurt = expect(uvals)
        r = got[flag]
        assert r.n == n, flag
        assert abs(r.mean - mean) <= 1e-6 * max(1.0, abs(mean)), flag
        assert abs(r.variance - var) <= 1e-6 * max(1.0, abs(var)), flag
        assert abs(r.skewness - skew) <= 1e-5, flag
        assert abs(r.kurtosis - kurt) <= 1e-5, flag


def test_agg_moments_matches_numpy(spark, sf_dir):
    import numpy as np

    from skills_vectors_spark import sources
    from skills_vectors_spark.operators.relational2 import agg_moments

    li = sources.load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect()
    by_g = {}
    for r in li:
        by_g.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    got = {r.l_returnflag: r for r in agg_moments(spark, sf_dir).collect()}
    assert set(got) == set(by_g)
    for g, vals in by_g.items():
        x = np.array(vals, dtype=np.float64)
        m, v = x.mean(), x.var()  # population
        skew = ((x - m) ** 3).mean() / v**1.5
        kurt = ((x - m) ** 4).mean() / v**2 - 3
        r = got[g]
        assert abs(r.mean - m) < 1e-4 and abs(r.variance - v) < 1e-2, g
        assert abs(r.skewness - skew) < 1e-5 and abs(r.kurtosis - kurt) < 1e-5, g
        assert r.n == len(vals)


def test_agg_gini_definition_and_degenerate_cases(spark, sf_dir):
    import numpy as np

    from skills_vectors_spark import sources
    from skills_vectors_spark.operators.relational2 import agg_gini

    rows = {r.o_orderpriority: r for r in agg_gini(spark, sf_dir).collect()}
    od = sources.load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    by_g = {}
    for r in od:
        by_g.setdefault(r.o_orderpriority, []).append(r.o_totalprice)
    for g, vals in by_g.items():
        x = np.sort(np.array(vals, dtype=np.float64))
        n = len(x)
        gini = (2 * np.sum(np.arange(1, n + 1) * x) - (n + 1) * x.sum()) / (
            n * x.sum()
        )
        assert abs(rows[g].gini - gini) < 1e-5, g
        assert 0.0 <= rows[g].gini < 1.0
    # planted: equal values -> 0; extreme concentration -> ~1-1/n
    from unittest import mock

    from skills_vectors_spark.operators import relational2

    df = spark.createDataFrame(
        [("eq", float(i % 1 == 0) * 5.0, i) for i in range(100)]
        + [("conc", 1e9 if i == 0 else 1e-9, 1000 + i) for i in range(100)],
        "o_orderpriority string, o_totalprice double, o_orderkey long",
    )
    with mock.patch.object(relational2.sources, "load", lambda *_a: df):
        got = {r.o_orderpriority: r.gini for r in agg_gini(spark, sf_dir).collect()}
    assert got["eq"] == 0.0
    assert got["conc"] > 0.98


def test_agg_gini_distributed_equals_windowed(spark, sf_dir):
    """The bucket-offset exact-rank form (the 100 TB swap) must
    reproduce the plain windowed Gini cell-for-cell — same ranks by
    construction (equal values share a log bucket, so the tie-break
    never crosses a bucket boundary)."""
    from skills_vectors_spark.operators.relational2 import (
        agg_gini,
        agg_gini_distributed,
    )
    a = sorted(map(tuple, agg_gini(spark, sf_dir).collect()))
    b = sorted(map(tuple, agg_gini_distributed(spark, sf_dir).collect()))
    assert a == b


def test_agg_winsorized_mean_matches_numpy(spark, sf_dir):
    import numpy as np

    from skills_vectors_spark.operators.relational2 import agg_winsorized_mean

    got = {r.l_returnflag: r for r in agg_winsorized_mean(spark, sf_dir).collect()}
    li = sources.load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect()
    by_g: dict = {}
    for r in li:
        by_g.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    for g, vals in by_g.items():
        x = np.array(vals, dtype=np.float64)
        lo, hi = np.quantile(x, [0.05, 0.95], method="linear")
        wm = np.clip(x, lo, hi).mean()
        r = got[g]
        assert r.n == len(vals)
        assert abs(r.wins_mean - wm) < 1e-3, g
        assert abs(r.raw_mean - x.mean()) < 1e-3, g
        # winsorizing pulls the mean toward the median of a skewed
        # distribution — it must differ from the raw mean here
        assert r.wins_mean != r.raw_mean, g


def test_agg_winsorized_closed_form_equals_clip_scan(spark, sf_dir, monkeypatch):
    """The r13 driver-side fragment decomposition (no third fact
    scan) must produce the same rows as the r7 clip-scan plan it
    replaced — forced here by blanking the fragment stats so the
    operator takes its fallback path."""
    from skills_vectors_spark.operators import relational2 as r2

    fast = {r.l_returnflag: r for r in r2.agg_winsorized_mean(spark, sf_dir).collect()}

    real = r2.exact_group_quantiles

    def no_frags(gv, qs, return_frags=False):
        res = real(gv, qs, return_frags=return_frags)
        return (res[0], None) if return_frags else res

    monkeypatch.setattr(r2, "exact_group_quantiles", no_frags)
    slow = {r.l_returnflag: r for r in r2.agg_winsorized_mean(spark, sf_dir).collect()}
    assert set(fast) == set(slow) and fast
    for g, a in fast.items():
        b = slow[g]
        assert a.n == b.n, g
        # both paths round to the 1e-4 grid; pre-rounding drift is
        # ~1e-12 relative, so the grid values must coincide
        assert abs(a.wins_mean - b.wins_mean) < 1e-9, g
        assert abs(a.raw_mean - b.raw_mean) < 1e-9, g
