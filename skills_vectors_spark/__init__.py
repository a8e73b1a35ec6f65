"""skills_vectors_spark — a PySpark-native analytics engine.

Re-creates the computational semantics of the reference vector-search
pipeline (`empathco/skills_vectors`: embed -> index -> KNN search ->
evaluate -> report, see /root/reference/skills_for_jobs.py) as
declarative Spark DataFrame queries, and generalizes them into a full
relational + vector + text + streaming operator surface designed for
100 TB scale (broadcast-able small sides, partial aggregation,
window-group-limit top-k, LSH bucketed similarity joins).

Layout:
    session.py    — tuned SparkSession builder for local[N] testing
    sources/      — table catalog over the parquet corpus, csv/parquet IO
    functions/    — column-expression macros (vector distances, text)
    operators/    — query families (relational, knn, ann, dedup, text, multimodal)
    streaming/    — Structured Streaming window family
    registry.py   — name -> (spark query, duckdb oracle SQL) registry
"""

__version__ = "0.1.0"

from skills_vectors_spark import deploy as _deploy

_deploy.reread_changed_zips_only()
