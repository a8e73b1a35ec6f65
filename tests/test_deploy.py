"""deploy.reread_changed_zips_only: a Python worker's task set-up
(``importlib.invalidate_caches()``) re-reads a zip archive's directory
only when the archive changed, on CPython < 3.13."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

from skills_vectors_spark import deploy

_EAGER_ZIPIMPORT = sys.version_info < (3, 13)


def _write_modules(zpath: str, names: list[str]) -> None:
    with zipfile.ZipFile(zpath, "w") as zf:
        for name in names:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(not _EAGER_ZIPIMPORT, reason="CPython 3.13 reads zip directories lazily")
def test_unchanged_archive_keeps_its_directory_and_a_rewritten_one_is_reread(tmp_path, monkeypatch):
    zpath = str(tmp_path / "mods.zip")
    _write_modules(zpath, ["svs_zip_a"])
    monkeypatch.syspath_prepend(zpath)
    try:
        assert importlib.import_module("svs_zip_a").NAME == "svs_zip_a"
        importer = sys.path_importer_cache[zpath]
        assert isinstance(importer, zipimport.zipimporter)
        importlib.invalidate_caches()  # a new importer's first call reads and stamps
        files = importer._files
        importlib.invalidate_caches()
        assert importer._files is files
        _write_modules(zpath, ["svs_zip_a", "svs_zip_b"])
        importlib.invalidate_caches()
        assert importer._files is not files
        assert importlib.import_module("svs_zip_b").NAME == "svs_zip_b"
    finally:
        for name in ("svs_zip_a", "svs_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(zpath, None)


@pytest.mark.skipif(not _EAGER_ZIPIMPORT, reason="CPython 3.13 reads zip directories lazily")
def test_reused_worker_keeps_pyspark_zip_directory_between_tasks(spark):
    """Single-partition passes until one worker has run two of them:
    its ``pyspark.zip`` importers hold the same directory objects in
    both, so the second task's set-up read no directory."""

    def pyspark_zip_dirs(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        import skills_vectors_spark  # noqa: F401  (what every engine closure imports)

        for _ in batches:
            pass
        dirs = sorted(
            (key, id(f._files))
            for key, f in list(sys.path_importer_cache.items())
            if isinstance(f, zipimport.zipimporter) and os.path.basename(f.archive) == "pyspark.zip"
        )
        yield pd.DataFrame({"pid": [os.getpid()], "dirs": [repr(dirs)]})

    one = spark.range(1, numPartitions=1)
    seen: dict[int, str] = {}
    for _ in range(24):
        row = one.mapInPandas(pyspark_zip_dirs, "pid long, dirs string").collect()[0]
        assert row.dirs != "[]", "no pyspark.zip importer on the worker's path"
        if row.pid in seen:
            assert row.dirs == seen[row.pid]
            return
        seen[row.pid] = row.dirs
    pytest.fail(f"no worker ran two of 24 tasks: {sorted(seen)}")


def test_version_gate_keeps_the_stdlib_method_from_cpython_3_13(monkeypatch):
    stdlib = deploy._STDLIB_INVALIDATE
    assert stdlib.__module__ == "zipimport"
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    deploy.reread_changed_zips_only()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_installed_below_cpython_3_13_only():
    method = zipimport.zipimporter.invalidate_caches
    if _EAGER_ZIPIMPORT:
        assert method is deploy._invalidate_if_changed
    else:
        assert method is deploy._STDLIB_INVALIDATE


@pytest.mark.skipif(shutil.which("python3.13") is None, reason="no CPython 3.13 on PATH")
def test_package_import_leaves_cpython_3_13_zipimport_alone():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(deploy.__file__)))
    r = subprocess.run(
        [
            "python3.13",
            "-c",
            "import zipimport; f = zipimport.zipimporter.invalidate_caches; "
            "import skills_vectors_spark; "
            "assert zipimport.zipimporter.invalidate_caches is f",
        ],
        capture_output=True,
        text=True,
        env={"PYTHONPATH": repo, "PATH": os.environ.get("PATH", "/usr/bin:/bin")},
    )
    assert r.returncode == 0, r.stderr
