"""deploy.skip_unchanged_zip_rereads: `importlib.invalidate_caches()`
re-reads a zip archive's directory only when the archive changed.

PySpark's worker calls `importlib.invalidate_caches()` before every
task; on Python < 3.13 the stock `zipimporter` re-parses every archive
on sys.path each time. The counts below come from wrapping
`zipimport._read_directory`; no timings are asserted.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile

import pytest

import ragflow_spark  # noqa: F401  (installs the fix)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="invalidate_caches is already lazy; the fix is a no-op",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    import zipimport

    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "probe_mods.zip")
    _write_zip(path, {"zipfix_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zipfix_probe_a", "zipfix_probe_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(archive, reads):
    assert importlib.import_module("zipfix_probe_a").X == 1
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_replaced_archive_is_reread_once(archive, reads):
    importlib.import_module("zipfix_probe_a")
    importlib.invalidate_caches()
    _write_zip(archive, {"zipfix_probe_a": "X = 1\n", "zipfix_probe_b": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zipfix_probe_b").Y == 2


def test_deleted_archive_empties_importer(archive, reads):
    import zipimport

    importlib.import_module("zipfix_probe_a")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_worker_second_invalidate_reads_nothing(spark):
    """Inside a Python worker (the package zip from addPyFile is on its
    sys.path), once the package is imported a repeated
    invalidate_caches() reads no zip directory."""
    import pandas as pd

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import ragflow_spark  # noqa: F401

        seen = []
        real = zipimport._read_directory

        def counting(archive):
            seen.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(seen)
            importlib.invalidate_caches()
            second = len(seen) - first
        finally:
            zipimport._read_directory = real
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"n_zip": [n_zip], "second": [second]})

    rows = (
        spark.range(8)
        .repartition(4)
        .mapInPandas(probe, "n_zip long, second long")
        .collect()
    )
    assert rows and all(r["n_zip"] > 0 for r in rows)
    assert [r["second"] for r in rows] == [0] * len(rows)
