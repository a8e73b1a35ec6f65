"""The streaming harness (`streaming.windows.drain`) runs every stream on
a clone of the caller's session: the caller's conf and temp-view
catalog stay as they were while a row runs and after it returns, and
the one transient-failure retry is logged and counted."""

import threading

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql.streaming import DataStreamWriter

from skills_vectors_spark import cache
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
