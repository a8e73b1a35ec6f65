"""Loader contract tests: native µs timestamps pass through, and a
TIMESTAMP(NANOS) corpus triggers the guarded legacy-conf fallback
(truncate to µs, conf restored)."""

import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import types as T

from skills_vectors_spark import cache, sources

CONF = "spark.sql.legacy.parquet.nanosAsLong"


def test_events_native_us_reads_as_ntz(spark, sf_dir):
    df = sources.load(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    assert spark.conf.get(CONF, "false") == "false", "loader must not leak conf"


@pytest.fixture()
def nanos_dir():
    d = tempfile.mkdtemp(prefix="svs_nanos_")
    ts = pa.array(
        np.array([1700000000123456789, 1700000001987654321], dtype="int64"),
        pa.timestamp("ns"),
    )
    t = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts,
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(t, os.path.join(d, "events.parquet"), coerce_timestamps=None)
    return d


def test_events_nanos_fallback_truncates_and_restores_conf(spark, nanos_dir):
    df = sources.load(spark, nanos_dir, "events")
    rows = {r.event_id: r.ts for r in df.select("event_id", "ts").collect()}
    # nanos truncate to µs: ...123456789 ns -> ...123456 µs
    assert rows[1].microsecond == 123456
    assert rows[2].microsecond == 987654
    assert spark.conf.get(CONF, "false") == "false", "conf must be restored"


def test_load_spread_parallelizes_single_partition_scan(spark, sf_dir):
    """A one-row-group parquet file scans as a single partition; the
    spread rule must raise it to default parallelism (full width) or
    to tasks_for (sized) so CPU-heavy narrow stages don't run on one
    core (measured 4x-32x at sf0.1/10x on ngram extraction and the
    all-pairs cosine NLJ). The embeddings table is over one
    BYTES_PER_TASK at every tier, so its sized case repartitions too."""
    width = spark.sparkContext.defaultParallelism
    for name in ("documents", "embeddings"):
        plain = sources.load(spark, sf_dir, name)
        n_plain = plain.rdd.getNumPartitions()
        sized_target = sources.tasks_for(spark, plain)
        assert 1 <= sized_target <= width
        for sized, target in ((False, width), (True, sized_target)):
            spreaded = sources.load_spread(spark, sf_dir, name, sized=sized)
            assert spreaded.rdd.getNumPartitions() == max(target, n_plain)
            # the memo holds the chosen count, 0 for "left alone"
            chosen = cache.entries(spark)[("spread", sf_dir, name, sized)]
            assert type(chosen) is int
            assert chosen == (target if n_plain < target else 0)
            # row identity preserved
            assert spreaded.count() == plain.count()


def test_spread_is_a_noop_when_already_parallel(spark, sf_dir, tmp_path):
    """The cluster-safety contract: a frame that already carries
    enough partitions must come back UNCHANGED — no shuffle is ever
    added at scale (a repartition node would show in the plan)."""
    target = spark.sparkContext.defaultParallelism
    wide = sources.load(spark, sf_dir, "documents").repartition(target + 7)
    out = sources.spread(spark, wide)
    assert out.rdd.getNumPartitions() == target + 7
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Repartition") == 1, plan
    assert cache.entries(spark)[("spread", wide.semanticHash())] == 0
    # a table stored as many files already scans wide: both sized and
    # full-width load_spread leave it alone
    d = str(tmp_path)
    wide.write.parquet(f"{d}/documents.parquet")
    n_scan = sources.load(spark, d, "documents").rdd.getNumPartitions()
    assert n_scan >= target
    for sized in (False, True):
        out = sources.load_spread(spark, d, "documents", sized=sized)
        assert out.rdd.getNumPartitions() == n_scan
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "Repartition" not in plan, plan
        assert cache.entries(spark)[("spread", d, "documents", sized)] == 0
    cache.evict(spark, d)


def test_plan_bytes_is_the_on_disk_table_size(spark, sf_dir):
    """Every sized decision and size gate rests on plan_bytes of a
    bare scan being the table's data-file bytes."""
    for name in sources.TABLES:
        on_disk = os.path.getsize(f"{sf_dir}/{name}.parquet")
        assert sources.plan_bytes(spark, sources.load(spark, sf_dir, name)) == on_disk, name


def _view_bindings(spark):
    """This session's view name -> bound sf_dir entries."""
    return {k[1]: v for k, v in cache.entries(spark).items() if k[0] == "view"}


@pytest.fixture()
def _clean_view_memo(spark):
    """Drop and evict every view binding this test touched (created OR
    re-pointed), so the next consumer re-binds lazily from a clean
    memo. Saved entries may be bind_view DERIVED frames (not corpus
    tables), so teardown never tries to recreate a view — eviction is
    the only safe restore."""
    saved = _view_bindings(spark)
    yield
    now = _view_bindings(spark)
    touched = {
        name
        for name in set(now) | set(saved)
        if now.get(name) != saved.get(name)
    }
    for name in touched:
        spark.catalog.dropTempView(name)
    cache.evict(spark, *(("view", name) for name in touched))


def test_register_views_memo_skips_rebind_same_sf(spark, sf_dir, _clean_view_memo, monkeypatch):
    """Memo-hit contract: a second register_views at the SAME sf_dir
    must not touch the catalog again (the ~100 ms/table round-trip is
    the whole point of the memo — measured 0.6 s of a 0.94 s cold
    SQL-API row, SCALING.md round-9)."""
    sources.register_views(spark, sf_dir, names=("region",))
    calls = []
    monkeypatch.setattr(
        sources, "load", lambda *a, **k: calls.append(a) or (_ for _ in ()).throw(AssertionError("rebound"))
    )
    sources.register_views(spark, sf_dir, names=("region",))
    assert calls == [], "memo hit must skip the catalog round-trip"


def test_register_views_rebinds_on_sf_dir_change(spark, sf_dir, _clean_view_memo):
    """Correctness side of the memo: pointing the same view name at a
    DIFFERENT sf_dir must re-bind, and spark.sql must see the new
    tier's data (stale-view reads are the failure mode the memo must
    never introduce)."""
    other = "/root/testdata/sf0.01"
    if not os.path.isdir(other) or other == sf_dir:
        pytest.skip("needs two distinct sf tiers")
    sources.register_views(spark, sf_dir, names=("orders",))
    n_small = spark.sql("SELECT count(*) AS c FROM orders").collect()[0].c
    sources.register_views(spark, other, names=("orders",))
    n_big = spark.sql("SELECT count(*) AS c FROM orders").collect()[0].c
    assert n_big != n_small, "re-bind must expose the new tier's rows"
    assert n_big == sources.load(spark, other, "orders").count()


def test_bind_view_memo_same_contract(spark, sf_dir, _clean_view_memo):
    """bind_view (derived-frame views) shares the memo: frame_fn runs
    once per (app, name, sf_dir) and again only on sf_dir change."""
    calls = []

    def frame_fn():
        calls.append(1)
        return sources.load(spark, sf_dir, "nation")

    sources.bind_view(spark, "svs_test_bind_memo", sf_dir, frame_fn)
    sources.bind_view(spark, "svs_test_bind_memo", sf_dir, frame_fn)
    assert len(calls) == 1, "memo hit must not re-run frame_fn"
    other = "/root/testdata/sf0.01"
    if os.path.isdir(other) and other != sf_dir:
        sources.bind_view(
            spark, "svs_test_bind_memo", other,
            lambda: sources.load(spark, other, "nation"),
        )
        assert (
            spark.sql("SELECT count(*) AS c FROM svs_test_bind_memo").collect()[0].c
            == sources.load(spark, other, "nation").count()
        )


def test_view_memo_is_per_session(spark, sf_dir, _clean_view_memo):
    """Temp views live in a SESSION's catalog, not the application's:
    a sibling spark.newSession() shares the applicationId but has its
    own (empty) catalog, so the memo must not suppress the rebind
    there (advisor r10). The sibling's binding must not leak back
    into the parent session's memo either."""
    sources.register_views(spark, sf_dir, names=("region",))
    sibling = spark.newSession()
    try:
        assert _view_bindings(sibling) == {}, "fresh session, fresh memo"
        # without a rebind this would raise TABLE_OR_VIEW_NOT_FOUND
        sources.register_views(sibling, sf_dir, names=("region",))
        assert sibling.sql("SELECT count(*) AS c FROM region").collect()[0].c > 0
        assert _view_bindings(sibling) == {"region": sf_dir}
    finally:
        sibling.catalog.dropTempView("region")
        cache.evict(sibling)


def test_evict_views_forces_rebind(spark, sf_dir, _clean_view_memo):
    """cache.evict is the public seam for catalog-mutating callers: a
    direct dropTempView desyncs the memo, and eviction must make the
    next register_views re-bind instead of silently skipping."""
    sources.register_views(spark, sf_dir, names=("nation",))
    spark.catalog.dropTempView("nation")
    cache.evict(spark, ("view", "nation"))
    sources.register_views(spark, sf_dir, names=("nation",))
    assert spark.sql("SELECT count(*) AS c FROM nation").collect()[0].c > 0


def test_plan_bytes_recurses_partitioned_layout(spark, sf_dir):
    """A hive-partitioned table is NESTED subdirectories of data
    files: a nested copy of a table must size, and spread, exactly like
    the flat file — leaf files counted, `_`-prefixed metadata pruned
    (advisor r10)."""
    d = tempfile.mkdtemp(prefix="svs_nested_")
    table = f"{d}/lineitem.parquet"
    os.makedirs(f"{table}/lang=en", exist_ok=True)
    os.makedirs(f"{table}/_delta_log", exist_ok=True)  # must be pruned
    data = open(f"{sf_dir}/lineitem.parquet", "rb").read()
    open(f"{table}/lang=en/part-0.parquet", "wb").write(data)
    open(f"{table}/_delta_log/0.json", "wb").write(b"x" * (64 << 20))
    open(f"{table}/_SUCCESS", "wb").close()
    flat, nested = (sources.load(spark, s, "lineitem") for s in (sf_dir, d))
    assert sources.plan_bytes(spark, nested) == sources.plan_bytes(spark, flat) == len(data)
    assert (
        sources.load_spread(spark, d, "lineitem", sized=True).rdd.getNumPartitions()
        == sources.load_spread(spark, sf_dir, "lineitem", sized=True).rdd.getNumPartitions()
    )
    assert cache.entries(spark)[("spread", d, "lineitem", True)] == cache.entries(spark)[
        ("spread", sf_dir, "lineitem", True)
    ]
    cache.evict(spark, d)


def test_load_spread_missing_table_raises_and_never_memoizes(spark, sf_dir):
    """A missing/renamed table must raise from `load` before any
    spread decision is stored, rather than memoize 'never spread' for
    the session's lifetime (advisor r10)."""
    from pyspark.sql.utils import AnalysisException

    gone = "/nonexistent/svs_gone"
    for sized in (False, True):
        with pytest.raises(AnalysisException):
            sources.load_spread(spark, gone, "documents", sized=sized)
    entries = cache.entries(spark)
    assert not [k for k in entries if len(k) > 1 and k[1] == gone]
    # every per-table decision, ("spread", sf_dir, name, sized), names
    # a table that exists (spread() keys are ("spread", semanticHash)
    # and carry no path)
    assert all(
        os.path.exists(f"{k[1]}/{k[2]}.parquet".removeprefix("file://"))
        for k in entries
        if k[0] == "spread" and len(k) == 4
    )
