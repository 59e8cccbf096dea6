"""Packaging for spark-submit --py-files (north_rule deployment mode).

``package_zip()`` builds a wheel-less zip of the package; ``get_spark``
ships it to workers via ``sc.addPyFile`` so kernels imported inside
pandas UDFs resolve on every executor — the same artifact you would
pass as ``spark-submit --py-files ragflow_spark.zip job.py`` on a real
cluster. Idempotent and content-addressed (rebuilds only when sources
change), so repeated sessions on one machine stay cheap. When the
package itself was imported from a zip, that zip is the artifact.

``skip_unchanged_zip_rereads()`` runs on every import of the package,
so in each Python worker that unpickles one of our functions. Before
each task PySpark's worker calls ``importlib.invalidate_caches()``; on
Python < 3.13 every ``zipimporter`` then re-parses its archive's whole
central directory: pyspark.zip, the spark-core jar, py4j and this
package's zip, 170-250 ms per task in a warm worker on a 4-core
local[4] box. The fix makes that re-read happen only when the archive
file changed.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import zipfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _source_files() -> list[str]:
    out = []
    for root, _dirs, files in os.walk(_PKG_DIR):
        for f in sorted(files):
            if f.endswith(".py"):
                out.append(os.path.join(root, f))
    return sorted(out)


def package_zip() -> str:
    archive = getattr(__spec__.loader, "archive", None)
    if archive:
        # imported from a zip (spark-submit --py-files): ship that zip
        return os.path.abspath(archive)
    files = _source_files()
    if not files:
        raise RuntimeError(f"no package sources under {_PKG_DIR}")
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"ragflow_spark-{digest}.zip")
    if os.path.exists(path):
        return path
    tmp = path + ".tmp"
    base = os.path.dirname(_PKG_DIR)
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for f in files:
            z.write(f, os.path.relpath(f, base))
    os.replace(tmp, path)
    return path


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the file changed since the last read.

    The change key is ``(st_mtime_ns, st_size, st_ino)`` of the archive;
    while it is unchanged the importer reuses
    ``zipimport._zip_directory_cache[archive]``. A changed or missing
    archive falls through to the stock method (re-read, or ``_files``
    emptied for a missing one). Call once per process (the package
    ``__init__`` does). A no-op on Python >= 3.13, where
    ``invalidate_caches`` is already lazy."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key and cached is not None and read_at.get(self.archive) == key:
            self._files = cached
        else:
            stock(self)
            read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
