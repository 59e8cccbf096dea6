"""checkpoint.completed_splits: which metrics directories mean "no split
done yet", and which read errors must surface."""

from __future__ import annotations

import pytest

from pyspark.sql import SparkSession

from ragflow_spark.plans.checkpoint import completed_splits


@pytest.fixture
def no_read(spark, monkeypatch):
    def read(_self):
        pytest.fail("completed_splits read a directory with no data files")

    monkeypatch.setattr(SparkSession, "read", property(read))


def test_fresh_output_dir_reads_nothing(spark, no_read, tmp_path):
    assert completed_splits(spark, str(tmp_path / "fresh")) == set()
    assert completed_splits(spark, str(tmp_path)) == set()


def test_uncommitted_metrics_append_reads_nothing(spark, no_read, tmp_path):
    """A crash during the first wave's metrics append leaves only
    ``_temporary/`` (and maybe ``_SUCCESS``-style markers) behind."""
    attempt = tmp_path / "metrics" / "_temporary" / "0" / "task_0"
    attempt.mkdir(parents=True)
    (attempt / "part-00000.snappy.parquet").write_bytes(b"half-written")
    (tmp_path / "metrics" / ".part-00000.crc").write_bytes(b"")
    assert completed_splits(spark, str(tmp_path)) == set()


def test_corrupt_metrics_file_raises(spark, tmp_path):
    metrics = tmp_path / "metrics"
    metrics.mkdir()
    (metrics / "part-00000-x.snappy.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(Exception):
        completed_splits(spark, str(tmp_path))
