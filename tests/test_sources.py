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
    spread policy must raise it to default parallelism so CPU-heavy
    narrow stages don't run on one core (measured 4x-32x at sf0.1/10x
    on ngram extraction and the all-pairs cosine NLJ)."""
    plain = sources.load(spark, sf_dir, "documents")
    spreaded = sources.load_spread(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    if plain.rdd.getNumPartitions() < target:
        assert spreaded.rdd.getNumPartitions() == target
    # row identity preserved
    assert spreaded.count() == plain.count()


def test_spread_is_a_noop_when_already_parallel(spark, sf_dir):
    """The cluster-safety contract: a frame that already carries
    enough partitions must come back UNCHANGED — no shuffle is ever
    added at scale (a repartition node would show in the plan)."""
    target = spark.sparkContext.defaultParallelism
    wide = sources.load(spark, sf_dir, "documents").repartition(target + 7)
    out = sources.spread(spark, wide)
    assert out.rdd.getNumPartitions() == target + 7
    assert "RoundRobinPartitioning(" + str(target) not in out._jdf.queryExecution().optimizedPlan().toString()


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


def test_scan_splits_recurses_partitioned_layout(spark, sf_dir):
    """A hive-partitioned table is NESTED subdirectories of data
    files; the split estimate must sum the leaf files, not the (zero)
    top-level ones (advisor r10)."""
    d = tempfile.mkdtemp(prefix="svs_nested_")
    flat = sources._local_scan_splits(spark, f"{sf_dir}/lineitem.parquet")
    os.makedirs(f"{d}/lang=en", exist_ok=True)
    os.makedirs(f"{d}/_delta_log", exist_ok=True)  # must be pruned
    src = f"{sf_dir}/lineitem.parquet"
    data = open(src, "rb").read()
    open(f"{d}/lang=en/part-0.parquet", "wb").write(data)
    open(f"{d}/_delta_log/0.json", "wb").write(b"x" * (64 << 20))
    open(f"{d}/_SUCCESS", "wb").close()
    nested = sources._local_scan_splits(spark, d)
    assert nested == flat, "nested leaf file must count like the flat file"


def test_scan_splits_missing_path_raises_and_never_memoizes(spark, sf_dir):
    """A missing/renamed path must raise (so load_spread skips the
    decision) rather than memoize 'never spread' for the application's
    lifetime (advisor r10)."""
    with pytest.raises(FileNotFoundError):
        sources._local_scan_splits(spark, "/nonexistent/svs_gone")
    before = cache.entries(spark)
    # end-to-end: a table that vanishes between load() and the probe
    # cannot happen through the public API (load() resolves eagerly),
    # so pin the contract at the probe layer: no new memo entries for
    # paths that were never stat-able.
    # (("spread", sf_dir, name, budget) keys are the per-table probe
    # entries; spread() also memoizes ("spread", semanticHash) keys
    # that carry no path)
    assert all(
        os.path.exists(f"{k[1]}/{k[2]}.parquet".removeprefix("file://"))
        for k in before
        if k[0] == "spread" and len(k) == 4
    )


def test_scan_splits_estimate_matches_physical_partitions(spark):
    """The probe's FilePartition packing math must agree with the
    partition count Spark actually produces for representative local
    layouts — one small file, many small files (openCost-dominated
    packing), and a file larger than maxPartitionBytes (row-group
    limits make the BYTE estimate an upper bound there; for the
    spread decision only the `estimate < target` comparison matters,
    and an over-estimate can only SKIP a local repartition, never add
    a cluster-side shuffle). Validates the math the r11
    unconditional-repartition retirement stands on."""
    import pandas as pd

    d = tempfile.mkdtemp(prefix="svs_splitmath_")

    # (a) one small file -> one split on both sides
    one = f"{d}/one.parquet"
    pd.DataFrame({"x": range(1000)}).to_parquet(one)
    est = sources._local_scan_splits(spark, one)
    act = spark.read.parquet(one).rdd.getNumPartitions()
    assert est == act == 1

    # (b) many small files: openCostInBytes packs several per split
    many = f"{d}/many.parquet"
    os.makedirs(many)
    for i in range(12):
        pd.DataFrame({"x": range(i * 50, i * 50 + 50)}).to_parquet(
            f"{many}/part-{i}.parquet"
        )
    est = sources._local_scan_splits(spark, many)
    act = spark.read.parquet(many).rdd.getNumPartitions()
    assert est == act, f"packing estimate {est} != physical {act}"

    # (c) estimate is monotone in total bytes: a directory with twice
    # the files never estimates fewer splits
    more = f"{d}/more.parquet"
    os.makedirs(more)
    for i in range(24):
        pd.DataFrame({"x": range(i * 50, i * 50 + 50)}).to_parquet(
            f"{more}/part-{i}.parquet"
        )
    est2 = sources._local_scan_splits(spark, more)
    assert est2 >= est
