"""The streaming harness (`streaming.windows.drain`) runs every stream on
a clone of the caller's session: the caller's conf and temp-view
catalog stay as they were while a row runs and after it returns, and
the one transient-failure retry is logged and counted. The clone is
reused, so drains leave at most one listener of a kind each on the
listener bus and no memory-sink view behind."""

import threading
from collections import Counter

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from skills_vectors_spark import cache, session
from skills_vectors_spark.streaming import windows

PARTITIONS = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize(
    "row", ["stream_tumbling", "stream_sink_files", "stream_transform_state"]
)
def test_stream_rows_leave_session_conf_and_catalog_alone(spark, sf_dir, row):
    own = (spark.conf.get(PARTITIONS), spark.conf.get(PROVIDER, None))
    views = _temp_views(spark)
    seen = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add((spark.conf.get(PARTITIONS), spark.conf.get(PROVIDER, None)))
            done.wait(0.005)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        assert getattr(windows, row)(spark, sf_dir).collect()
    finally:
        done.set()
        poller.join()
    assert seen == {own}
    assert _temp_views(spark) == views


def _retries(spark):
    return cache.stats(spark).get("stream", {}).get("retries", 0)


def test_transient_start_failure_retries_once_and_is_counted(spark, sf_dir, monkeypatch):
    clean = sorted(windows.stream_tumbling(spark, sf_dir).collect())
    before = _retries(spark)
    start = DataStreamWriter.start
    calls = []

    def flaky(self, *args, **kwargs):
        calls.append(self)
        if len(calls) == 1:
            raise StreamingQueryException(
                message="Python worker failed to connect back in 10000 ms"
            )
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", flaky)
    assert sorted(windows.stream_tumbling(spark, sf_dir).collect()) == clean
    assert len(calls) == 2
    assert _retries(spark) == before + 1

    def broken(self, *args, **kwargs):
        calls.append(self)
        raise StreamingQueryException(message="state schema mismatch")

    calls.clear()
    monkeypatch.setattr(DataStreamWriter, "start", broken)
    with pytest.raises(StreamingQueryException, match="state schema mismatch"):
        windows.stream_tumbling(spark, sf_dir)
    assert len(calls) == 1
    assert _retries(spark) == before + 1


def _listeners(spark):
    bus = spark.sparkContext._jsc.sc().listenerBus().listeners()
    return Counter(bus.get(i).getClass().getName() for i in range(bus.size()))


def test_drains_reuse_one_clone_and_leave_at_most_one_listener_of_a_kind_each(spark, sf_dir):
    """Per drain, the session Spark clones for the query adds one
    StreamingQueryListenerBus, plus one ExecutionListenerBus when the
    caller's session has a QueryExecutionListener; the reused clone
    adds none."""
    windows.stream_tumbling(spark, sf_dir)  # the clone exists from here on
    clone = session.scoped(spark, windows.STATE_PARTITIONS)
    views = _temp_views(clone)
    before = _listeners(spark)
    n = 3
    for _ in range(n):
        windows.stream_tumbling(spark, sf_dir)
    added = _listeners(spark) - before
    assert max(added.values(), default=0) <= n, added
    assert session.scoped(spark, windows.STATE_PARTITIONS) is clone
    assert _temp_views(clone) == views


def test_clone_follows_a_change_of_the_session_conf(spark):
    """A clone copies its session's conf when it is made: a caller that
    changes that conf gets a new clone, which carries the change."""
    key = "spark.sql.session.timeZone"
    own = spark.conf.get(key)
    first = session.scoped(spark, windows.STATE_PARTITIONS)
    spark.conf.set(key, "America/New_York")
    try:
        moved = session.scoped(spark, windows.STATE_PARTITIONS)
        assert moved is not first
        assert moved.conf.get(key) == "America/New_York"
    finally:
        spark.conf.set(key, own)
    assert session.scoped(spark, windows.STATE_PARTITIONS) is first


def test_reused_clone_runs_the_plan_of_a_view_made_after_it(spark, sf_dir):
    """A drain rebinds ``df``'s analyzed plan, so a temp view the caller
    (re)defines after the clone was made is read as the caller sees it."""
    windows.stream_tumbling(spark, sf_dir)
    for weight in (1, 7):
        spark.range(1).select(F.lit(weight).alias("w")).createOrReplaceTempView("svs_later_view")
        try:
            ev = windows.stream_events(spark, sf_dir).crossJoin(spark.table("svs_later_view"))
            got = windows.run_to_completion(ev.agg(F.sum("w").alias("s"), F.count("*").alias("n")))
            row = got.collect()[0]
        finally:
            spark.catalog.dropTempView("svs_later_view")
        assert row.s == weight * row.n > 0
