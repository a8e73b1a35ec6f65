"""Session state store (skills_vectors_spark/cache.py) behavior."""

import ast
import gc
import weakref
from pathlib import Path

from pyspark.sql import functions as F

from skills_vectors_spark import cache, sources
from skills_vectors_spark.cache import cached_df


def test_cached_df_reuses_same_dataframe(spark, sf_dir):
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).withColumn("x", F.col("id") * 2)

    before = cache.stats(spark).get("df", {"hits": 0, "misses": 0})
    a = cached_df("test_stage_reuse", spark, sf_dir, build)
    b = cached_df("test_stage_reuse", spark, sf_dir, build)
    assert a is b, "second call must return the same persisted DataFrame"
    assert len(calls) == 1, "build must run once"
    assert a.storageLevel.useMemory or a.storageLevel.useDisk
    after = cache.stats(spark)["df"]
    assert after["misses"] - before["misses"] == 1, "one build, one miss"
    assert after["hits"] - before["hits"] == 1, "one reuse, one hit"


def test_cached_df_keys_by_stage_and_dir(spark, sf_dir):
    a = cached_df("test_stage_k1", spark, sf_dir, lambda: spark.range(5))
    b = cached_df("test_stage_k2", spark, sf_dir, lambda: spark.range(5))
    c = cached_df("test_stage_k1", spark, sf_dir + "/other", lambda: spark.range(5))
    assert a is not b and a is not c
    assert ("df", sf_dir, "test_stage_k1") in cache.entries(spark)


def test_clear_keeps_plan_entries_and_drops_results(spark, sf_dir):
    """The two lifetimes: a load plan survives clear(), a persisted
    frame is dropped and unpersisted."""
    plan = sources.load(spark, sf_dir, "region")
    df = cached_df("test_stage_clear", spark, sf_dir, lambda: spark.range(3))
    df.count()
    cache.clear()
    assert sources.load(spark, sf_dir, "region") is plan
    assert ("df", sf_dir, "test_stage_clear") not in cache.entries(spark)
    assert not df.is_cached


def test_evict_by_corpus_dir_drops_both_lifetimes(spark, sf_dir):
    plan = sources.load(spark, sf_dir, "nation")
    cached_df("test_stage_evict", spark, sf_dir, lambda: spark.range(3))
    other = cached_df("test_stage_evict", spark, sf_dir + "/other", lambda: spark.range(3))
    cache.evict(spark, sf_dir)
    keys = cache.entries(spark)
    assert not any(k[1] == sf_dir for k in keys)
    assert ("df", sf_dir + "/other", "test_stage_evict") in keys
    assert sources.load(spark, sf_dir, "nation") is not plan
    assert other.is_cached


def test_memo_race_first_writer_wins():
    """Concurrent builds of one key: every caller gets the first
    writer's value, and every losing persisted frame is unpersisted."""
    import sys
    import threading

    class Session:  # any weak-referenceable owner works
        pass

    released = []

    class Frame:
        def unpersist(self):
            released.append(self)

    n = 16
    barrier = threading.Barrier(n)

    def build():
        barrier.wait(timeout=30)  # every thread misses before any writes
        return Frame()

    owner, got = Session(), []
    threads = [
        threading.Thread(target=lambda: got.append(cache.memo(owner, ("df", "race"), build)))
        for _ in range(n)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == n and all(g is got[0] for g in got)
    assert len(released) == n - 1 and got[0] not in released
    assert cache.stats(owner)["df"] == {"hits": 0, "misses": n}


def test_sibling_session_entries_die_with_it(spark, sf_dir):
    """A memoized DataFrame holds its session; the store must not turn
    that into a strong root, so a dropped sibling is collected along
    with its entries."""
    sibling = spark.newSession()
    sources.load(sibling, sf_dir, "region")
    sources.load_spread(sibling, sf_dir, "documents")
    ref = weakref.ref(sibling)
    del sibling
    # pyspark's SparkSession constructor rebinds RDD.toDF to the newest
    # session; point it back at the main one so that only the store
    # could still pin the sibling
    from pyspark.sql.session import _monkey_patch_RDD

    _monkey_patch_RDD(spark)
    gc.collect()
    assert ref() is None, "sibling session (and its memo entries) must be collectable"


def _arrays(v):
    import numpy as np

    return [np.asarray(x) for x in v] if isinstance(v, tuple) else [np.asarray(v)]


def _bucket_rows(index):
    # one row per id: pandas cannot order the array columns
    return index.buckets.toPandas().sort_values(index.id_col).reset_index(drop=True)


def test_quantizers_retrain_after_clear_and_per_session(spark, sf_dir):
    """IVF centroids (held by the IVF index), PQ codebooks (held by the
    PQ index) and the PCA basis are result entries: clear() retrains
    them, and a sibling session trains its own instead of reading the
    parent's. The same holds for the persisted bucket tables of the
    ANN indexes."""
    import numpy as np

    from skills_vectors_spark.operators import ann, vector_blas

    trainers = {
        "ivf_index": lambda s: ann.ivf_centroids(s, sf_dir),
        "pq_index": lambda s: ann.pq_codebooks(s, sf_dir),
        "pca_basis": lambda s: vector_blas.pca_basis(s, sf_dir),
    }
    indexes = {"lsh_index": ann.lsh_index, "ivf_index": ann.ivf_index, "ivf_pq_index": ann.ivf_pq_index}

    def misses(s, kind):
        return cache.stats(s).get(kind, {}).get("misses", 0)

    first = {k: fit(spark) for k, fit in trainers.items()}
    before = {k: misses(spark, k) for k in trainers}
    assert all(trainers[k](spark) is first[k] for k in trainers), "warm reuse"
    buckets = {k: index(spark, sf_dir).buckets for k, index in indexes.items()}
    rows = {k: _bucket_rows(index(spark, sf_dir)) for k, index in indexes.items()}
    assert all(b.is_cached for b in buckets.values())
    cache.clear(spark)
    assert not any(b.is_cached for b in buckets.values()), "clear() must unpersist the buckets"
    for kind, fit in trainers.items():
        again = fit(spark)
        assert misses(spark, kind) == before[kind] + 1, f"{kind} must retrain after clear()"
        assert again is not first[kind]
        assert all(map(np.array_equal, _arrays(again), _arrays(first[kind]))), kind
    for kind, index in indexes.items():
        rebuilt = index(spark, sf_dir)
        assert rebuilt.buckets is not buckets[kind] and rebuilt.buckets.is_cached, kind
        assert _bucket_rows(rebuilt).equals(rows[kind]), kind

    sibling = spark.newSession()
    assert not any(k[0] in trainers or k[0] in indexes for k in cache.entries(sibling))
    for kind, fit in trainers.items():
        fit(sibling)
        assert misses(sibling, kind) == 1, f"sibling must train its own {kind}"
    for kind, index in indexes.items():
        own = index(sibling, sf_dir)
        assert misses(sibling, kind) == 1, f"sibling must build its own {kind}"
        assert own.buckets is not index(spark, sf_dir).buckets, kind
        assert ("df", sf_dir, kind) in cache.entries(sibling), kind
    cache.clear(sibling)


# Module-level containers allowed outside cache.py, each not a
# driver-side memo:
_STATE_ALLOWLIST = {
    ("registry.py", "QUERIES"): "static query registry, filled at import",
    ("registry.py", "ORACLES"): "static oracle registry, filled at import",
    ("deploy.py", "_SHIPPED"): "per-SparkContext addPyFile guard",
    ("operators/vector_blas.py", "_CORPUS_CACHE"): "executor-side worker cache",
}


def _is_empty_container(node: ast.expr) -> bool:
    if isinstance(node, (ast.Dict, ast.List, ast.Set)) and not (
        getattr(node, "keys", None) or getattr(node, "elts", None)
    ):
        return True
    if isinstance(node, ast.Call):
        f = node.func
        if isinstance(f, ast.Name) and f.id in {"dict", "list", "set"} and not node.args:
            return True
        if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and f.value.id == "weakref":
            return True
    return False


def test_no_module_level_state_outside_cache():
    """Driver-side state lives in cache.py only: any module-level empty
    {} / [] / set() / dict() / weakref.* container elsewhere in the
    package is a new memo that bypasses the store's lifetimes."""
    pkg = Path(__file__).resolve().parent.parent / "skills_vectors_spark"
    found = set()
    for path in pkg.rglob("*.py"):
        rel = path.relative_to(pkg).as_posix()
        if rel == "cache.py" or rel.startswith("_vendor/"):
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if _is_empty_container(value):
                found |= {(rel, t.id) for t in targets if isinstance(t, ast.Name)}
    assert found <= set(_STATE_ALLOWLIST), sorted(found - set(_STATE_ALLOWLIST))
