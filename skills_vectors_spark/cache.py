"""The one home of driver-side state: a per-SparkSession memo store.

Every value the engine reuses across calls lives here, in one dict
stored as an attribute of the SparkSession that built it. A sibling
``spark.newSession()`` starts empty, and a dropped session takes its
entries with it to the garbage collector. No module outside this one
keeps driver-side state keyed by applicationId or by a bare sf_dir.

Keys are tuples ``(kind, scope, ...)``. ``scope`` is the corpus
directory for corpus-derived entries and the view name for view
bindings. The kind fixes the entry's lifetime, so the call site that
picks a kind also picks how long the entry lives:

- **Plan entries** (``PLAN_KINDS``: lazy ``sources.load`` plans, temp
  view bindings, spread decisions) hold what Spark would answer the
  same way at any time. They live as long as the session.
- **Result entries** (every other kind) hold anything that ran a job:
  persisted frames (``cached_df``, kind ``"df"``), the ANN indexes
  (with their trained IVF centroids and PQ codebooks), the PCA basis
  and probe answers. ``clear()`` drops them too, and unpersists the
  frames.

Persisted frames model the build-once / read-many split of a real
deployment, which checkpoints a corpus-wide stage (inverted index,
MinHash signatures, IVF assignment) to a table once and serves every
consumer from it. MEMORY_AND_DISK lets an index larger than executor
memory spill instead of failing.

The corpus under one sf_dir is immutable for a session's lifetime. A
caller that rewrites a table in place, or mutates the temp-view
catalog behind ``sources.register_views``/``bind_view``, calls
``evict``: with a corpus directory it drops every entry keyed under
it, with a key tuple it drops that one entry.

``tests/test_cache.py`` fails on any module-level empty
container elsewhere in the package, except a short allowlist of
state that is not a driver-side memo: the static query registries,
the per-SparkContext ``addPyFile`` guards, and the executor-side
corpus cache of the BLAS worker.
"""

from __future__ import annotations

import threading
import weakref
from collections import Counter
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

PLAN_KINDS = frozenset({"load", "view", "spread"})

_ATTR = "_svs_state"
_LOCK = threading.Lock()
# every session that holds a store, so a no-argument clear() reaches
# them all; weak, so the set never keeps a session alive
_SESSIONS: weakref.WeakSet[SparkSession] = weakref.WeakSet()


class _Store:
    __slots__ = ("entries", "counts")

    def __init__(self) -> None:
        self.entries: dict[tuple, Any] = {}
        self.counts: Counter[tuple[str, str]] = Counter()


def _store(spark: SparkSession) -> _Store:
    """This session's store, created on first use (hold _LOCK)."""
    st = getattr(spark, _ATTR, None)
    if st is None:
        st = _Store()
        setattr(spark, _ATTR, st)
        _SESSIONS.add(spark)
    return st


def _release(key: tuple, value: Any) -> None:
    if key[0] == "df":
        try:
            value.unpersist()
        except Exception:
            pass


def memo(spark: SparkSession, key: tuple[Hashable, ...], build: Callable[[], Any]) -> Any:
    """This session's value for ``key``, built by ``build()`` on the
    first call. The build runs outside the lock (it may run Spark jobs
    and call memo for a nested key); when two threads race, the first
    writer wins and the loser's value is released. A build that
    raises stores nothing."""
    kind = key[0]
    with _LOCK:
        st = _store(spark)
        if key in st.entries:
            st.counts[kind, "hits"] += 1
            return st.entries[key]
        st.counts[kind, "misses"] += 1
    value = build()
    with _LOCK:
        if key in st.entries:
            existing = st.entries[key]
        else:
            st.entries[key] = value
            return value
    _release(key, value)
    return existing


def cached_df(
    stage: str, spark: SparkSession, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The persisted frame of one corpus-wide stage (a result entry)."""
    return memo(
        spark,
        ("df", sf_dir, stage),
        lambda: build().persist(StorageLevel.MEMORY_AND_DISK),
    )


def _drop(st: _Store, keep: Callable[[tuple], bool]) -> None:
    with _LOCK:
        dropped = [(k, v) for k, v in st.entries.items() if not keep(k)]
        for k, _ in dropped:
            del st.entries[k]
    for k, v in dropped:
        _release(k, v)


def clear(spark: SparkSession | None = None) -> None:
    """Drop the result entries of ``spark`` (of every live session when
    None) and unpersist their frames. Plan entries stay."""
    with _LOCK:
        sessions = [spark] if spark is not None else list(_SESSIONS)
    for s in sessions:
        st = getattr(s, _ATTR, None)
        if st is not None:
            _drop(st, lambda k: k[0] in PLAN_KINDS)


def evict(spark: SparkSession, *keys_or_sf_dirs: tuple | str) -> None:
    """Drop entries of this session of either lifetime: a tuple names
    one key, a string names a corpus directory (every entry whose
    scope is that directory). No argument drops every entry."""
    st = getattr(spark, _ATTR, None)
    if st is None:
        return
    keys = {a for a in keys_or_sf_dirs if isinstance(a, tuple)}
    dirs = {a for a in keys_or_sf_dirs if isinstance(a, str)}
    if not keys_or_sf_dirs:
        _drop(st, lambda k: False)
    else:
        _drop(st, lambda k: k not in keys and not (len(k) > 1 and k[1] in dirs))


def entries(spark: SparkSession) -> dict[tuple, Any]:
    """Read-only copy of this session's entries (observability)."""
    st = getattr(spark, _ATTR, None)
    with _LOCK:
        return dict(st.entries) if st is not None else {}


def tally(spark: SparkSession, kind: str, what: str) -> None:
    """Count one ``what`` event of ``kind`` for this session (for
    example a stream's transient retry), reported by ``stats``."""
    with _LOCK:
        _store(spark).counts[kind, what] += 1


def stats(spark: SparkSession) -> dict[str, dict[str, int]]:
    """Hit and miss counts per key kind for this session, plus the
    events counted by ``tally``."""
    st = getattr(spark, _ATTR, None)
    out: dict[str, dict[str, int]] = {}
    if st is None:
        return out
    with _LOCK:
        for (kind, what), n in st.counts.items():
            out.setdefault(kind, {"hits": 0, "misses": 0})[what] = n
    return out
