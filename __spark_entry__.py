"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``skills_vectors_spark/``; this file only
adapts the registry to the driver's contract.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from skills_vectors_spark import cache, registry, session  # noqa: E402
from skills_vectors_spark.deploy import ensure_workers_can_import  # noqa: E402

registry.load_all()


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    """Ship the package to Python workers before the first query runs —
    the host (driver) may load this file by path from any cwd, and
    executors must still be able to import the closure modules."""
    import functools

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_workers_can_import(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: exact top-10 cosine KNN
    (the Spark rendering of /root/reference/skills_for_jobs.py:416-433)."""
    from skills_vectors_spark.operators.knn import knn_exact

    ensure_workers_can_import(spark)
    # a host builds its own session, whose codegen cache get_spark
    # never sized: report it once per session
    cache.memo(spark, ("conf", session.CODEGEN_CACHE_CONF), lambda: session.report_codegen_cache(spark))
    return knn_exact(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in registry.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(registry.ORACLES)
