"""The Python daemon module get_spark starts (ragflow_spark.pydaemon)
and the package zip that goes on the executors' PYTHONPATH for it."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from ragflow_spark import deploy
from ragflow_spark.pydaemon import _zipped_version, prefer_compiled_pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b"__version__: str = '4.1.2'\n"


def _zip(path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _pyspark_zip(path, version: bytes = VERSION) -> str:
    return _zip(path, {"pyspark/__init__.py": b"", "pyspark/version.py": version})


def _pyspark_dir(root, version: bytes = VERSION) -> str:
    pkg = root / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_bytes(version)
    return str(root)


def _env_without_pythonpath() -> dict[str, str]:
    return {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}


def test_same_version_moves_zip_last(tmp_path):
    cwd = str(tmp_path / "cwd")
    pz = _pyspark_zip(tmp_path / "pyspark.zip")
    py4j = _zip(tmp_path / "py4j.zip", {"py4j/__init__.py": b""})
    site = _pyspark_dir(tmp_path / "site")
    assert prefer_compiled_pyspark([cwd, pz, py4j, site]) == [cwd, py4j, site, pz]


def test_different_version_leaves_path(tmp_path):
    path = [
        _pyspark_zip(tmp_path / "pyspark.zip"),
        _pyspark_dir(tmp_path / "site", b"__version__: str = '4.0.0'\n"),
    ]
    assert prefer_compiled_pyspark(list(path)) == path


def test_no_zip_leaves_path(tmp_path):
    path = [str(tmp_path / "cwd"), _pyspark_dir(tmp_path / "site")]
    assert prefer_compiled_pyspark(list(path)) == path


def test_no_installed_copy_leaves_path(tmp_path):
    other = tmp_path / "site"
    other.mkdir()
    path = [_pyspark_zip(tmp_path / "pyspark.zip"), str(other)]
    assert prefer_compiled_pyspark(list(path)) == path


def _installed_matches_spark_home() -> bool:
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    zipped = _zipped_version(
        os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    )
    installed = os.path.join(os.path.dirname(pyspark.__file__), "version.py")
    if zipped is None or not os.path.isfile(installed):
        return False
    with open(installed, "rb") as f:
        return f.read() == zipped


def test_workers_run_installed_pyspark(spark):
    """Workers fork from the daemon, so they import PySpark from the
    installed directory, not from Spark's source-only pyspark.zip."""
    if not _installed_matches_spark_home():
        pytest.skip("installed PySpark differs from $SPARK_HOME's pyspark.zip")
    import pandas as pd

    def where(batches):
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({"f": [pyspark.__file__]})

    got = spark.range(4).repartition(2).mapInPandas(where, "f string").collect()
    assert got and all(".zip" not in r.f for r in got)


def test_session_works_outside_repo_cwd(tmp_path):
    """The daemon imports ragflow_spark.pydaemon before any task ships
    the package, so it must come from the executors' PYTHONPATH, not
    from the driver's cwd."""
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
import pandas as pd
from ragflow_spark.session import get_spark

def count(batches):
    for pdf in batches:
        yield pd.DataFrame({{"n": [len(pdf)]}})

spark = get_spark(cores=2)
rows = spark.range(8).repartition(2).mapInPandas(count, "n long").collect()
print("ROWS", sum(r.n for r in rows))
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=_env_without_pythonpath(),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ROWS 8" in out.stdout, out.stderr[-3000:]


def test_package_zip_from_zip_is_that_zip(tmp_path):
    """Imported from its own zip (spark-submit --py-files), the package
    ships that zip; os.walk finds no files inside an archive, which
    used to yield an empty zip."""
    built = deploy.package_zip()
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from ragflow_spark.deploy import package_zip; print(package_zip())",
        ],
        cwd=tmp_path,
        env={**_env_without_pythonpath(), "PYTHONPATH": built},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == built
    with zipfile.ZipFile(built) as z:
        assert "ragflow_spark/pydaemon.py" in z.namelist()


def test_package_zip_refuses_empty_archive(monkeypatch):
    monkeypatch.setattr(deploy, "_source_files", lambda: [])
    with pytest.raises(RuntimeError, match="no package sources"):
        deploy.package_zip()
