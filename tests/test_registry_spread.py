"""spread() gating (round-2 advice): repartition only when the input
is BOTH few-files and few-bytes; large splittable files and already-
parallel non-file plans must pass through shuffle-free."""

from __future__ import annotations

import ragflow_spark.operators.registry as reg


def _has_exchange(df) -> bool:
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


def test_spread_repartitions_tiny_single_file(spark, sf_dir):
    df = reg.spread(reg.table(spark, sf_dir, "documents"))
    assert _has_exchange(df), "tiny 1-file scan must spread"


def test_spread_passes_large_single_file(spark, sf_dir, monkeypatch):
    """A single SPLITTABLE multi-GB parquet yields many scan
    partitions via maxPartitionBytes — spread must NOT add a
    shuffle on top (file count alone is not underprovisioning)."""
    monkeypatch.setattr(reg, "_local_size", lambda uri: 64 << 30)
    df = reg.spread(reg.table(spark, sf_dir, "documents"))
    assert not _has_exchange(df)


def test_spread_unstatable_store_passes_through(spark, sf_dir, monkeypatch):
    def boom(uri):
        raise OSError("no local stat for object store")

    monkeypatch.setattr(reg, "_local_size", boom)
    df = reg.spread(reg.table(spark, sf_dir, "documents"))
    assert not _has_exchange(df)


def test_spread_nonfile_plan_uses_partition_count(spark):
    many = spark.range(0, 1000, 1, 16)  # already spans the cluster
    assert not _has_exchange(reg.spread(many))
    few = spark.range(0, 1000, 1, 1)
    assert _has_exchange(reg.spread(few))


def test_bench_baseline_table_parses():
    """bench.py's regression reporting depends on the committed
    BENCH/baseline.json — format drift must fail here, not silently
    disable the ratio output."""
    import json

    import bench
    import ragflow_spark.operators as ops

    base = bench.load_baseline(32, 0.1, 1)
    assert len(base) >= 50
    assert "extract" in base and base["extract"] > 1.0
    assert all(v > 0 for v in base.values())
    with open(bench.BASELINE_PATH) as f:
        for key, walls in json.load(f)["queries"].items():
            stale = set(walls) - set(ops.QUERIES) - {"extract"}
            assert not stale, (key, sorted(stale))
    assert bench.load_baseline(3, 0.1, 1) == {}


def _worst_case_bench_record() -> dict:
    import ragflow_spark.operators as ops

    # longest names first: the stdout line keeps the head of each list
    names = sorted(ops.QUERIES, key=len, reverse=True)
    assert len(names) >= 108
    return {
        "metric": "headline_suite_wall",
        "value": 123456.789,
        "unit": "sec",
        "sf": 0.1,
        "cores": 32,
        "reps": 3,
        "extract_docs": 480000,
        "extract_ok": 456000,
        "extract_mb_in": 661.94,
        "docs_per_sec": 96864.1,
        "mb_per_sec": 133.61,
        "steal_pct": 13.37,
        "calib_efficiency": 0.421,
        "calib_before_after": [0.421, 0.512],
        "board_ratio_median": 2.345,
        "bracket_clean": False,
        "queries": {"extract": 4321.123, **{q: 1234.567 for q in names}},
        "baseline_ratios": {q: 99.99 for q in names},
        "regressions": names,
        "regressions_unattributable": names,
    }


def test_bench_stdout_line_is_bounded():
    """Log collectors keep only the tail of bench.py's stdout: the
    contract line must stay parseable and short even when every query
    is timed and flagged."""
    import json

    import bench

    line = bench.stdout_line(_worst_case_bench_record())
    assert len(line.encode()) <= 1500
    parsed = json.loads(line)
    # every field bench_scaling.py reads from a child run
    assert parsed["queries"]["extract"] > 0
    for k in ("extract_docs", "extract_mb_in", "sf", "steal_pct",
              "calib_efficiency", "bracket_clean"):
        assert k in parsed
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert len(parsed["regressions_unattributable"]) == bench.STDOUT_NAMES_MAX
    assert parsed["n_regressions"] >= 110


def test_bench_record_keeps_other_sections(tmp_path, monkeypatch):
    import json

    import bench

    path = tmp_path / "baseline.json"
    monkeypatch.setattr(bench, "BASELINE_PATH", str(path))
    bench.record("queries", "4/0.1/1", {"extract": 9.5})
    bench.record("scaling", "4/0.1/1", {"value": 0.9})
    assert json.loads(path.read_text()) == {
        "queries": {"4/0.1/1": {"extract": 9.5}},
        "scaling": {"4/0.1/1": {"value": 0.9}},
    }
    assert bench.load_baseline(4, 0.1, 1) == {"extract": 9.5}


def test_media_cache_key_distinguishes_same_basename(tmp_path, monkeypatch):
    """Two corpora whose directories share a basename must never share
    a media-payload cache entry (round-2 advice), and regenerating a
    corpus in place must invalidate its entry."""
    import os
    import shutil

    from ragflow_spark.sources import media_store

    a = tmp_path / "a" / "sf0.1"
    b = tmp_path / "b" / "sf0.1"
    for d in (a, b):
        d.mkdir(parents=True)
        shutil.copy(
            "/root/testdata/sf0.001/documents.parquet",
            d / "documents.parquet",
        )
    monkeypatch.setenv(media_store.CACHE_ENV, str(tmp_path / "cache"))
    pa, pb = media_store.cache_path(str(a)), media_store.cache_path(str(b))
    assert pa != pb
    # regeneration in place (mtime/size change) rotates the key
    os.utime(a / "documents.parquet", (1, 1))
    assert media_store.cache_path(str(a)) != pa
