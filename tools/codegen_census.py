"""Codegen census: how many classes the registered rows generate, and
how many of them a second pass compiles again.

Runs every registered row (or the named rows) twice in one `get_spark`
session, through the noop sink as bench.py does, with the session
cache cleared before each pass, and prints:

- the classes compiled in pass 1. While that count stays below the
  codegen cache size nothing is evicted, so each compile is a distinct
  generated source;
- the rows that compiled classes again in pass 2, with their counts
  (a row whose generated source carries a per-call value recompiles
  even with a cache that holds everything);
- the JVM's Metaspace and CodeHeap use after both passes, in MB.

    SPARK_GRAFT_SF_DIR=<data dir> python tools/codegen_census.py [row ...]

The data directory comes from $SPARK_GRAFT_SF_DIR, as for bench.py;
the census quoted in session.py ran on the sf0.01 tier.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from skills_vectors_spark import cache, registry
from skills_vectors_spark.session import CODEGEN_CACHE_CONF, get_spark

registry.load_all()


def compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def memory_mb(spark) -> dict[str, float]:
    """Used MB of the Metaspace pool and of all CodeHeap pools."""
    out = {"Metaspace": 0.0, "CodeHeap": 0.0}
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    for pool in pools:
        name = pool.getName()
        key = "CodeHeap" if name.startswith("CodeHeap") else name
        if key in out:
            out[key] += pool.getUsage().getUsed() / 2**20
    return out


def run_pass(spark, sf_dir: str, names: list[str]) -> tuple[dict[str, int], list[str]]:
    """Compiles per row, and the rows that raised."""
    cache.clear()
    per_row, failed = {}, []
    for name in names:
        before = compiles(spark)
        try:
            registry.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # report the row and keep counting the others
            failed.append(f"{name}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
        per_row[name] = compiles(spark) - before
    return per_row, failed


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("set SPARK_GRAFT_SF_DIR to the data directory", file=sys.stderr)
        return 2
    names = sys.argv[1:] or list(registry.QUERIES)
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        print(f"unknown rows: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("codegen_census")
    spark.sparkContext.setLogLevel("ERROR")
    size = int(spark.sparkContext.getConf().get(CODEGEN_CACHE_CONF, "100"))  # 100: Spark's default

    first, failed1 = run_pass(spark, sf_dir, names)
    second, failed2 = run_pass(spark, sf_dir, names)
    mem = memory_mb(spark)

    print(f"rows: {len(names)} at {sf_dir}, codegen cache entries: {size}")
    total1 = sum(first.values())
    print(f"pass 1 compiled classes: {total1}")
    if total1 >= size:
        print("  (at or above the cache size: the count includes recompiles of evicted classes)")
    recompiled = sorted(((n, c) for n, c in second.items() if c), key=lambda nc: (-nc[1], nc[0]))
    print(f"pass 2 recompiled classes: {sum(second.values())} in {len(recompiled)} rows")
    for name, count in recompiled:
        print(f"  {name}: {count}")
    print(f"Metaspace used: {mem['Metaspace']:.0f} MB, CodeHeap used: {mem['CodeHeap']:.0f} MB")
    for failure in failed1 + failed2:
        print(f"FAILED {failure}")
    return 1 if failed1 or failed2 else 0


if __name__ == "__main__":
    sys.exit(main())
