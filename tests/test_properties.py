"""Property-based tests (hypothesis) for the numeric kernels that
everything vector/dedup-shaped leans on. Spark round-trips are batched
(one job per property, all examples in one DataFrame) so the suite
stays fast; the pure-numpy kernel properties run without Spark."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

finite_floats = st.floats(
    min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False, width=32
)


def _vec(dim):
    return st.lists(finite_floats, min_size=dim, max_size=dim)


# ---------------------------------------------------------- pure numpy


@given(st.lists(st.integers(min_value=0, max_value=(1 << 31) - 2), min_size=1, max_size=64))
@settings(max_examples=200, deadline=None)
def test_minhash_universal_hash_never_overflows_int64(hs):
    """(a*h + b) mod Mersenne-31 must stay below 2^62 for every
    intermediate, under the documented a,b < 2^31 bound — the ANSI-mode
    overflow-safety invariant the fused signature kernel relies on."""
    from skills_vectors_spark.operators.dedup import _MERSENNE, _perms

    h = np.asarray(hs, dtype=np.int64) % _MERSENNE
    for a, b in _perms()[:16]:
        prod = np.int64(a) * h + np.int64(b)
        assert prod.max() < (1 << 62)
        assert ((prod % _MERSENNE) >= 0).all()


@given(st.lists(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1), min_size=1, max_size=64))
@settings(max_examples=200, deadline=None)
def test_xxhash64_premod_lands_in_mersenne_range(hs):
    """The live signature kernel receives raw SIGNED xxhash64 values
    from the JVM and pre-mods them to the Mersenne-31 field; numpy's
    mod with a positive modulus must land every value (including
    int64 min) in [0, 2^31 - 1)."""
    from skills_vectors_spark.operators.dedup import _MERSENNE

    th = np.asarray(hs, dtype=np.int64) % _MERSENNE
    assert (th >= 0).all() and (th < _MERSENNE).all()


@given(st.lists(_vec(8), min_size=1, max_size=8))
@settings(max_examples=50, deadline=None)
def test_hyperplane_bucket_bits_in_range(vecs):
    from skills_vectors_spark.operators.ann import N_PLANES, _plane_matrix

    V = np.array(vecs, dtype=np.float64)
    planes = _plane_matrix(V.shape[1])
    bits = (V @ planes.T) > 0
    from skills_vectors_spark.operators.ann import N_TABLES

    weights = (1 << np.arange(N_PLANES)).astype(np.int64)
    buckets = (bits.reshape(len(V), N_TABLES, N_PLANES) * weights).sum(axis=2)
    assert buckets.min() >= 0 and buckets.max() < (1 << N_PLANES)


# ------------------------------------------------ Spark column macros


def test_cosine_and_l2_match_numpy_batch(spark):
    """One batched Spark job comparing the HOF fold macros against
    numpy over a deterministic spread of vector pairs (magnitudes from
    1e-3 to 1e3, antiparallel to parallel)."""
    from skills_vectors_spark.functions.vector import cosine_sim, l2_dist

    rng = np.random.default_rng(7)
    pairs = []
    for scale_a in (1e-3, 1.0, 1e3):
        for _ in range(20):
            a = (rng.standard_normal(16) * scale_a).astype(np.float32)
            b = rng.standard_normal(16).astype(np.float32)
            pairs.append((a.tolist(), b.tolist()))
    pairs.append(([1.0] * 16, [1.0] * 16))  # parallel
    pairs.append(([1.0] * 16, [-1.0] * 16))  # antiparallel
    df = spark.createDataFrame(pairs, "a array<float>, b array<float>")
    got = df.select(
        cosine_sim("a", "b").alias("cos"), l2_dist("a", "b").alias("l2")
    ).collect()
    for (a, b), r in zip(pairs, got):
        av = np.asarray(a, dtype=np.float64)
        bv = np.asarray(b, dtype=np.float64)
        want_cos = float(av @ bv / (np.linalg.norm(av) * np.linalg.norm(bv)))
        want_l2 = float(np.linalg.norm(av - bv))
        assert math.isclose(r.cos, want_cos, rel_tol=1e-12, abs_tol=1e-12), (a, b)
        assert math.isclose(r.l2, want_l2, rel_tol=1e-9, abs_tol=1e-9), (a, b)


def test_cosine_zero_vector_is_null_not_a_crash(spark):
    """cosine is undefined for a zero-norm vector: the kernel yields
    NULL (nullif guard) instead of the ANSI DIVIDE_BY_ZERO that would
    kill a whole similarity job over one padding/dead-feature row.
    Cross-engine boundary pinned here: DuckDB's kernel clamps the
    same case to -1.0, so zero-norm rows sit outside oracle parity."""
    from skills_vectors_spark.functions.vector import cosine_sim

    df = spark.createDataFrame(
        [
            ([0.0, 0.0], [1.0, 2.0]),
            ([0.0, 0.0], [0.0, 0.0]),
            ([3.0, 4.0], [3.0, 4.0]),
        ],
        "a array<double>, b array<double>",
    )
    got = [r["c"] for r in df.select(cosine_sim("a", "b").alias("c")).collect()]
    assert got[0] is None
    assert got[1] is None
    assert math.isclose(got[2], 1.0, rel_tol=1e-12)


def test_cosine_from_norms_equals_cosine_sim_bitwise(spark):
    """Norms computed once per row, in their own projection, then
    passed in: the same doubles as the per-pair cosine_sim, zero-norm
    NULLs included."""
    import struct

    from skills_vectors_spark.functions.vector import cosine_from_norms, cosine_sim, l2_norm

    rng = np.random.default_rng(11)
    pairs = []
    for scale_a in (1e-3, 1.0, 1e3):
        for _ in range(10):
            a = (rng.standard_normal(16) * scale_a).astype(np.float32)
            pairs.append((a.tolist(), rng.standard_normal(16).astype(np.float32).tolist()))
    pairs += [([0.0] * 16, [1.0] * 16), ([0.0] * 16, [0.0] * 16), ([1.0] * 16, [0.0] * 16)]
    df = spark.createDataFrame(pairs, "a array<float>, b array<float>").select(
        "a", "b", l2_norm("a").alias("na"), l2_norm("b").alias("nb")
    )
    got = df.select(
        cosine_sim("a", "b").alias("per_pair"),
        cosine_from_norms("a", "b", "na", "nb").alias("from_norms"),
    ).collect()
    for r in got:
        if r.per_pair is None:
            assert r.from_norms is None
        else:
            assert struct.pack("<d", r.per_pair) == struct.pack("<d", r.from_norms)
    assert [r.per_pair for r in got[-3:]] == [None, None, None]


def test_vector_macros_build_in_constant_jvm_calls(spark, monkeypatch):
    """Each vector macro is one SQL text the JVM parses in one call, so
    building it costs a few py4j round trips, not one per node of the
    fold (120-400 when the fold was built from Column lambdas)."""
    from skills_vectors_spark.functions import vector

    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counted(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    builders = {
        "dot": lambda: vector.dot("a", "b"),
        "l2_norm": lambda: vector.l2_norm("a"),
        "l2_dist": lambda: vector.l2_dist("a", "b"),
        "cosine_from_norms": lambda: vector.cosine_from_norms("a", "b", "na", "nb"),
        "cosine_sim": lambda: vector.cosine_sim("a", "b"),
    }
    counts = {}
    for name, build in builders.items():
        calls.clear()
        build()
        counts[name] = len(calls)
    assert all(0 < n <= 5 for n in counts.values()), counts


def test_fn_cosine_plan_is_the_per_pair_expression(spark, sf_dir):
    """cosine_sim keeps its expression tree: fn_cosine plans exactly as
    the inline dot / nullif(norm * norm) form. Expression ids, plan ids
    and the lambda and common-expression name suffixes come from global
    counters, so each is renumbered by rank: the construction order
    still has to match."""
    import re

    from pyspark.sql import functions as F

    from skills_vectors_spark import sources
    from skills_vectors_spark.functions.vector import dot, l2_norm
    from skills_vectors_spark.operators.functions_suite import fn_cosine
    from skills_vectors_spark.plans import physical_plan

    e = sources.load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("eb"))
    inline = dot("ea", "eb") / F.nullif(l2_norm("ea") * l2_norm("eb"), F.lit(0.0))
    want = a.join(b, "vec_id").select("vec_id", F.round(inline, 6).alias("cos_next"))

    def shape(df):
        plan = physical_plan(df)
        for prefix in ("plan_id=", "#", "lambda [a-z]+_", "_common_expr_"):
            pattern = f"({prefix})(\\d+)"
            ns = sorted({int(n) for _, n in re.findall(pattern, plan)})
            rank = {n: i for i, n in enumerate(ns)}
            plan = re.sub(pattern, lambda m: f"{m.group(1)}<{rank[int(m.group(2))]}>", plan)
        return plan

    assert shape(fn_cosine(spark, sf_dir)) == shape(want)


def test_normalize_text_idempotent_batch(spark):
    from skills_vectors_spark.functions.text import normalize_text

    samples = [
        "  Hello   WORLD  ",
        "a\tb\nc",
        "",
        "  ",
        "MiXeD CaSe  123",
        "x" * 500,
        "tab\t\ttab",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    once = df.select(normalize_text("t").alias("n"))
    twice = once.select(normalize_text("n").alias("n2")).collect()
    one = once.collect()
    assert [r.n for r in one] == [r.n2 for r in twice]
