"""SparkSession factory tuned for the test harness (local[N]) while
keeping every knob meaningful on a real cluster.

Scale notes: AQE handles runtime partition coalescing and skew joins;
`spark.sql.shuffle.partitions` is a pre-AQE ceiling sized to cores
locally (on a 1000-executor cluster you would set it to ~2-3x total
cores and let AQE coalesce). Arrow is enabled for every
pandas_udf/mapInPandas boundary.

The codegen class cache is sized to the engine's working set. Spark
keeps Janino-compiled classes in one LRU per JVM, 100 entries by
default, and one pass of the engine generates more distinct classes
than that. Each pass then evicts its own classes, recompiles
byte-identical source and JIT-compiles the fresh classes again, so a
repeated plan (a top-k search per job vector, a re-run query) pays
compilation every time.
"""

from __future__ import annotations

import logging
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from skills_vectors_spark import cache

# Entries of Spark's codegen class cache. Distinct classes one pass
# compiles, counted by CodegenMetrics on a 4-core host: perfbench's 14
# query_mix rows at sf0.01 126 and all 189 registered rows at sf0.01
# 1982 (tools/codegen_census.py), the vector_search pipeline stages on
# a 400x32 corpus 119. 4096 holds the full suite with 2x headroom.
# The conf is static: it applies only when get_spark creates the
# SparkContext, because a running JVM keeps the cache it was started
# with.
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "skills_vectors_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    warehouse = os.path.join(tempfile.gettempdir(), "svs_warehouse")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    report_codegen_cache(spark)
    spark.sparkContext.setLogLevel("WARN")
    from skills_vectors_spark.deploy import ensure_workers_can_import

    ensure_workers_can_import(spark)
    return spark


def report_codegen_cache(spark: SparkSession) -> None:
    """Log a WARNING when ``spark``'s SparkContext was created without
    CODEGEN_CACHE_ENTRIES, as a context a host built is."""
    if spark.sparkContext.getConf().get(CODEGEN_CACHE_CONF) != str(CODEGEN_CACHE_ENTRIES):
        logging.getLogger(__name__).warning(
            "SparkContext was created without %s=%d: generated classes are "
            "recompiled whenever a pass outgrows Spark's default cache",
            CODEGEN_CACHE_CONF,
            CODEGEN_CACHE_ENTRIES,
        )


def scoped(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` (conf, temp views and functions copied;
    SparkContext and cache manager shared) with ``conf`` set on the
    clone only. A session is shared by every query planned on it, so
    an operator that needs other settings plans on a clone; this is
    the package's one conf write.

    There is one clone per (session, session conf, conf), a plan entry
    of ``cache``: every clone registers a streaming listener on the
    SparkContext's listener bus for as long as the context lives, so a
    clone per call would grow the bus with every stream drained. A
    clone copies the session's conf when it is made, so the key holds
    that conf too, and a caller that changes it gets a new clone. The
    temp views are those of the first call; callers hand the clone
    analyzed plans (``rebind``) or file reads, never view names of
    ``spark``."""

    def clone() -> SparkSession:
        s = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
        for key, value in conf.items():
            s.conf.set(key, value)
        return s

    own = tuple(sorted(spark.conf.getAll.items()))
    return cache.memo(spark, ("clone", tuple(sorted(conf.items())), own), clone)


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a DataFrame of ``spark``. Relations
    resolved on another session keep what they resolved there (a file
    relation its inferred schema, a temp view of a clone its rows)."""
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jds, spark)
