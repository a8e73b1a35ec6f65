"""The vector distance rule, stated once for Spark and for DuckDB.

Re-expresses the reference's distance math:
  cosine  = dot(a,b)/(norm(a)*norm(b))   (skills_for_jobs.py:175-176)
  L2      = Milvus metric_type "L2"       (load_skill_vectors_milvus.py:55-59)

The rule is one left fold over the element pairs in double precision:
each pair maps to ``CAST(x AS DOUBLE) * CAST(y AS DOUBLE)`` (L2:
``pow(x - y, 2)`` of the cast pair), the fold starts at ``0D`` and adds
``acc + v`` in array order. A norm is ``sqrt`` of a vector's dot with
itself and cosine divides the dot by ``nullif(norm * norm, 0D)``. The
testdata embeddings are float32, so the casts are what make DuckDB's
kernels over ``DOUBLE[]`` (``DUCK_COSINE``, ``DUCK_L2``, ``DUCK_NORM``)
agree with these folds bit for bit on the test corpus.

Every Spark macro is one SQL-text template under one ``F.expr``: the
parser builds the whole expression tree in the JVM, so a macro costs
about three py4j round trips. Built from pyspark Column lambdas, the
same tree cost one round trip per node, 120-400 per macro. Macros take
column names, backtick-quoted into the text; a caller that needs the
rule inside its own SQL (a lambda over a literal array) takes the text
from :func:`cosine_sql`. The fold is still interpreted, not compiled:
ArrayAggregate is CodegenFallback, so the Project holding it drops out
of whole-stage codegen. There is no Python boundary; all-pairs bulk
work belongs to the BLAS kernels of operators/vector_blas.py.

Zero norm is a cross-engine boundary, documented rather than hidden.
Cosine is undefined for a zero vector, and under ANSI mode a bare
division raises DIVIDE_BY_ZERO: one zero-norm row (a padding vector, a
dead feature) would kill a whole similarity job. The nullif guard makes
it one NULL score instead. DuckDB's ``list_cosine_similarity`` returns
-1.0 there, so zero-norm rows are outside the oracle parity contract;
the test corpus embeddings are non-zero by construction, and the NULL
is pinned by a unit test.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the fold over the element pairs of SQL operands {a} and {b}
_FOLD = "aggregate(zip_with({a}, {b}, (x, y) -> {term}), 0D, (acc, v) -> acc + v)"
_PRODUCT = "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)"
_SQUARED_DIFF = "pow(CAST(x AS DOUBLE) - CAST(y AS DOUBLE), 2)"

# DuckDB twins for oracle SQL, over operands {a} and {b}
DUCK_COSINE = "list_cosine_similarity({a}::DOUBLE[], {b}::DOUBLE[])"
DUCK_L2 = "list_distance({a}::DOUBLE[], {b}::DOUBLE[])"
DUCK_NORM = "sqrt(list_inner_product({a}::DOUBLE[], {a}::DOUBLE[]))"


def _name(c: str) -> str:
    return f"`{c}`"


def _dot_sql(a: str, b: str) -> str:
    return _FOLD.format(a=_name(a), b=_name(b), term=_PRODUCT)


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def cosine_sql(a: str, b: str, a_norm: str | None = None, b_norm: str | None = None) -> str:
    """:func:`cosine_from_norms` as Spark SQL text. A name may also be
    a lambda variable of the caller's own SQL."""
    a_norm = _name(a_norm) if a_norm else _norm_sql(a)
    b_norm = _name(b_norm) if b_norm else _norm_sql(b)
    return f"{_dot_sql(a, b)} / nullif({a_norm} * {b_norm}, 0D)"


def dot(a: str, b: str) -> Column:
    """Sequential left-fold dot product in double precision."""
    return F.expr(_dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(_norm_sql(a))


def cosine_from_norms(a: str, b: str, a_norm: str | None = None, b_norm: str | None = None) -> Column:
    """Cosine similarity over supplied norms: one fold per pair. A
    pair-scoring join computes `l2_norm` once per row on each side,
    below the join, and passes the columns here; the result equals
    `cosine_sim` bit for bit (same folds, same operand order). A norm
    left as None is folded here, per pair, after the dot product."""
    return F.expr(cosine_sql(a, b, a_norm, b_norm))


def cosine_sim(a: str, b: str) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    return cosine_from_norms(a, b)


def l2_dist(a: str, b: str) -> Column:
    return F.expr(f"sqrt({_FOLD.format(a=_name(a), b=_name(b), term=_SQUARED_DIFF)})")
