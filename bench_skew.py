#!/usr/bin/env python3
"""Skew-robustness + resume-overhead evidence (BASELINE.md rows 5-6).

Skew: the synthetic corpus has one host owning ~30% of pages. We time
the CO-LOCATED extraction path (repartition on split_id — the layout
the resume waves and per-split outputs use; the pure throughput path
is zero-shuffle and skew-immune) at local[N] three ways on the same
input:
  uniform   split by pure url-hash (no host locality — the perfectly
            balanced upper bound)
  unsalted  split by host-hash only (the skewed straggler case)
  salted    host-hash + size-proportional salting (our design)
Robustness = thr_salted / thr_uniform (target >= 0.8).

Resume: run_resumable with wave_size=1 over 16 splits, killed after
wave 8; the resumed run must process only the remaining splits (<= 1
split of overhead — here 0, because waves are split-atomic).

Records the summary under ``skew`` in BENCH/baseline.json and prints
it as one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEAT = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "24"))
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))


def time_extract(spark, pages, n_splits, hot_hosts, uniform=False):
    from pyspark.sql import functions as F

    from ragflow_spark.plans.pipeline import assign_splits, extract_pages

    if uniform:
        staged = pages.withColumn(
            "split_id",
            F.pmod(F.xxhash64(F.col("url")), F.lit(n_splits)).cast("int"),
        )
    else:
        staged = assign_splits(pages, n_splits, 8, hot_hosts)
    t0 = time.perf_counter()
    n = (
        extract_pages(staged, n_partitions=n_splits)
        .agg(F.count(F.lit(1)))
        .collect()[0][0]
    )
    return time.perf_counter() - t0, n


def main() -> None:
    from bench import pages_parquet, record, warm_python_workers
    from ragflow_spark.session import get_spark
    from ragflow_spark.plans.pipeline import compute_hot_hosts

    spark = get_spark("bench-skew", cores=CORES)
    path = pages_parquet(spark, SF_DIR, REPEAT)
    pages = spark.read.parquet(path)
    # resume-path guidance (SURVEY.md §4.2, bin/run_extract.py):
    # n_splits >= 16x cores so per-split work is small enough that a
    # salted hot host cannot create a straggler
    n_splits = max(256, CORES * 16)
    hot = compute_hot_hosts(pages, n_splits=n_splits)
    warm_python_workers(spark, CORES)

    walls: dict[str, list[float]] = {"uniform": [], "unsalted": [], "salted": []}
    docs = 0
    for _ in range(RUNS):
        for mode in walls:
            w, docs = time_extract(
                spark,
                pages,
                n_splits,
                hot if mode == "salted" else None,
                uniform=(mode == "uniform"),
            )
            walls[mode].append(w)
    med = {m: statistics.median(ws) for m, ws in walls.items()}
    robustness = med["uniform"] / med["salted"]
    unsalted_ratio = med["uniform"] / med["unsalted"]

    # ---- resume overhead ----
    import shutil

    from ragflow_spark.plans.checkpoint import read_outputs, run_resumable
    from ragflow_spark.sources.pages import synthesize_pages
    from pyspark.sql import functions as F

    out = os.path.join(REPO, ".bench", "resume_bench")
    shutil.rmtree(out, ignore_errors=True)
    small = synthesize_pages(spark, "/root/testdata/sf0.001")
    n_pages = small.count()
    try:
        run_resumable(spark, small, out, run_id="killed", n_splits=16,
                      wave_size=1, fail_after_waves=8)
    except RuntimeError:
        pass
    run_resumable(spark, small, out, run_id="resumed", n_splits=16, wave_size=1)
    _, m = read_outputs(spark, out)
    per_run = {
        r["run_id"]: r["n"]
        for r in m.groupBy("run_id").agg(F.sum("n_docs").alias("n")).collect()
    }
    reparsed = per_run.get("killed", 0) + per_run.get("resumed", 0) - n_pages

    summary = {
        "metric": "skew_robustness_salted_vs_uniform",
        "value": round(robustness, 3),
        "unit": "ratio",
        "queries": {f"extract_{m}": round(s, 3) for m, s in med.items()},
        "sf": SF_DIR.rsplit("sf", 1)[-1],
        "docs": docs,
        "cores": CORES,
        "unsalted_ratio": round(unsalted_ratio, 3),
        "pass_ge_0.8": robustness >= 0.8,
        "resume": {
            "n_pages": n_pages,
            "docs_killed_run": per_run.get("killed", 0),
            "docs_resumed_run": per_run.get("resumed", 0),
            "docs_reparsed": reparsed,
            "pass_le_1_split": reparsed <= n_pages / 16 + 1,
        },
    }

    record("skew", f"{CORES}/{summary['sf']}/1", summary)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
