"""Vector-distance column macros built from Catalyst higher-order
functions — pure JVM-side expressions, no UDFs.

Re-expresses the reference's distance math:
  cosine  = dot(a,b)/(norm(a)*norm(b))   (/root/reference/skills_for_jobs.py:175-176)
  L2      = Milvus metric_type "L2"       (/root/reference/load_skill_vectors_milvus.py:55-59)

All arithmetic is forced to double (testdata embeddings are float32)
so results are bit-identical with a DuckDB oracle computing over
DOUBLE[] — verified: `list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])`
matches this fold with maxdiff == 0.0 on the test corpus.

The fold is interpreted, not compiled: ArrayAggregate is
CodegenFallback, so the Project holding it drops out of whole-stage
codegen (no `*(n)` marker in an executed plan). There is still no
Python boundary; all-pairs bulk work belongs to the BLAS kernels of
operators/vector_blas.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold dot product in double precision."""
    a, b = _col(a), _col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_from_norms(
    a: Column | str,
    b: Column | str,
    a_norm: Column | str | None = None,
    b_norm: Column | str | None = None,
) -> Column:
    """Cosine similarity over supplied norms: one fold per pair. A
    pair-scoring join computes `l2_norm` once per row on each side,
    below the join, and passes the columns here; the result equals
    `cosine_sim` bit for bit (same folds, same operand order). A norm
    left as None is folded here, per pair, after the dot product, so
    `cosine_sim`'s plan keeps its lambda names too."""
    ab = dot(a, b)
    a_norm = l2_norm(a) if a_norm is None else _col(a_norm)
    b_norm = l2_norm(b) if b_norm is None else _col(b_norm)
    return ab / F.nullif(a_norm * b_norm, F.lit(0.0))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either vector has zero norm.

    The nullif guard is load-bearing at scale: cosine is undefined
    for a zero vector, and under ANSI mode the bare division RAISES
    DIVIDE_BY_ZERO — one zero-norm embedding row (a padding vector, a
    dead feature) would kill an entire 100 TB similarity job instead
    of yielding one NULL score. Cross-engine boundary, documented
    rather than hidden: DuckDB's list_cosine_similarity kernel clamps
    the zero-vector case to -1.0, so zero-norm rows are outside the
    oracle parity contract (the test corpus embeddings are non-zero
    by construction; the kernel's NULL is pinned by a unit test)."""
    return cosine_from_norms(a, b)


def l2_dist(a: Column | str, b: Column | str) -> Column:
    a, b = _col(a), _col(b)
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: F.pow(x.cast("double") - y.cast("double"), F.lit(2))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


# DuckDB-side equivalents for oracle SQL strings. DuckDB's list_*
# kernels over DOUBLE[] reproduce the Spark folds exactly (verified
# empirically, maxdiff 0.0), so oracles can stay terse.
DUCK_COSINE = "list_cosine_similarity({a}::DOUBLE[], {b}::DOUBLE[])"
DUCK_L2 = "list_distance({a}::DOUBLE[], {b}::DOUBLE[])"
