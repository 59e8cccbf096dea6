"""Spark's Python daemon, started on compiled PySpark.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on the Python
workers' path. That zip holds sources only, so every new session's
daemon compiles PySpark before it can fork a worker (``import
pyspark.daemon``: 1.1-1.3 s from the zip against 0.2-0.25 s from an
installed copy of the same release on a 4-core box). ``get_spark``
starts the daemon as ``python -m ragflow_spark.pydaemon``
(``spark.python.daemon.module``), which moves the zip behind an
installed PySpark of the same release before anything imports
``pyspark``; the forked workers inherit the compiled modules. Without
such a copy ``sys.path`` stays as it is.
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
import zipfile

_VERSION = "pyspark/version.py"


def _zipped_version(entry: str) -> bytes | None:
    if not entry.endswith(".zip"):
        return None
    try:
        with zipfile.ZipFile(entry) as z:
            return z.read(_VERSION)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def prefer_compiled_pyspark(path: list[str]) -> list[str]:
    """``path`` with its PySpark zips moved last, if the rest of it
    imports PySpark from a directory whose ``version.py`` is byte-equal
    to every zip's; otherwise ``path`` unchanged."""
    versions = {e: _zipped_version(e) for e in path}
    zips = [e for e in path if versions[e] is not None]
    rest = [e for e in path if versions[e] is None]
    if not zips:
        return path
    spec = importlib.machinery.PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.submodule_search_locations:
        return path
    installed = os.path.join(list(spec.submodule_search_locations)[0], "version.py")
    try:
        with open(installed, "rb") as f:
            ours = f.read()
    except OSError:
        return path
    return rest + zips if all(versions[z] == ours for z in zips) else path


if __name__ == "__main__":
    sys.path[:] = prefer_compiled_pyspark(sys.path)

    import pyspark.daemon

    pyspark.daemon.manager()
