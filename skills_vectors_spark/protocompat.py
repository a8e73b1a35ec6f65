"""Activation for the vendored minimal protobuf runtime
(_vendor/google/protobuf) so Spark 4's transformWithStateInPandas
works in runtimes without the google.protobuf wheel.

Three kinds of process need the import to resolve:

* the DRIVER process: ``ensure_local()`` appends the vendor dir to
  sys.path only when the real package is absent (a real install
  always wins: the shim is a fallback, never a shadow);
* the task WORKERS: ``handleInputRows`` runs in Python workers whose
  sys.path comes from the Spark context's pyFiles. The package
  archive ``deploy`` ships once per application carries the vendored
  ``google`` package at its root whenever ``real_protobuf()`` is
  False;
* the driver-side worker of StreamingPythonRunner, which gets its
  PYTHONPATH from ``sc.environment``: ``ensure_workers(spark)`` adds
  the vendor dir there.
"""

from __future__ import annotations

import importlib.metadata
import os
import sys

_VENDOR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_vendor")


def real_protobuf() -> bool:
    """True when the real protobuf wheel is installed. Reads the
    installed distributions' metadata, which the vendored copies (the
    vendor dir and the root of the package archive, which addPyFile
    also puts on the driver's sys.path) do not have. Never imports
    the shim, so a broken shim cannot fail the caller."""
    try:
        importlib.metadata.version("protobuf")
    except importlib.metadata.PackageNotFoundError:
        return False
    return True


def ensure_local() -> bool:
    """Make ``google.protobuf`` importable in THIS process; True on
    success. Prefers a real installation; falls back to the vendored
    runtime; False only if even the shim cannot load."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    if _VENDOR_DIR not in sys.path:
        sys.path.append(_VENDOR_DIR)
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def ensure_workers(spark) -> None:
    """Ready this application for a transformWithStateInPandas query.
    Raises ImportError when no protobuf runtime loads, so the row fails
    loudly. Without a real wheel, points the PYTHONPATH of
    StreamingPythonRunner's driver-side worker (schema validation and
    pre-init), which is built from ``sc.environment``, not from pyFiles,
    at the vendor dir. That worker always runs on the driver host, so
    the local path is correct on a cluster too; the task workers import
    the shim from the package archive."""
    if not ensure_local():
        raise ImportError("protobuf shim failed to load (see protocompat)")
    if real_protobuf():
        return  # real package installed; workers share the same env
    env = spark.sparkContext.environment
    existing = env.get("PYTHONPATH", "")
    if _VENDOR_DIR not in existing.split(os.pathsep):
        env["PYTHONPATH"] = existing + os.pathsep + _VENDOR_DIR if existing else _VENDOR_DIR
