"""SparkSession factory tuned for the test harness (local[N]) while
keeping every knob meaningful on a real cluster.

Scale notes: AQE handles runtime partition coalescing and skew joins;
`spark.sql.shuffle.partitions` is a pre-AQE ceiling sized to cores
locally (on a 1000-executor cluster you would set it to ~2-3x total
cores and let AQE coalesce). Arrow is enabled for every
pandas_udf/mapInPandas boundary.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


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
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from skills_vectors_spark.deploy import ensure_workers_can_import

    ensure_workers_can_import(spark)
    return spark


def scoped(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` (conf, temp views and functions copied;
    SparkContext and cache manager shared) with ``conf`` set on the
    clone only. A session is shared by every query planned on it, so
    an operator that needs other settings plans on a clone; this is
    the package's one conf write."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for key, value in conf.items():
        clone.conf.set(key, value)
    return clone


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a DataFrame of ``spark``. Relations
    resolved on another session keep what they resolved there (a file
    relation its inferred schema, a temp view of a clone its rows)."""
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jds, spark)
