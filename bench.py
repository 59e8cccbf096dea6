#!/usr/bin/env python3
"""Bench harness (driver contract).

Runs the flagship extraction pipeline plus every registry query at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may run
on) and prints ONE bounded JSON line (``stdout_line``)::

    {"metric": "...", "value": <total sec>, "unit": "sec", "sf": 0.1,
     "cores": 4, "reps": 3, "docs_per_sec": ..., "mb_per_sec": ...,
     "steal_pct": ..., "calib_efficiency": ..., "bracket_clean": bool,
     "queries": {"extract": sec, <HEADLINE_QUERIES>: sec},
     "n_regressions": ..., "regressions": [<= 10 names]}

The full record — every per-query wall and ``baseline_ratios`` — goes
to ``.bench/last_bench.json``. Baselines live in ``BENCH/baseline.json``
under ``"<cores>/<sf>/<tile>"`` keys (``load_baseline``/``record``);
a run compares against its own key when that key exists.

Every run self-certifies its ambient bracket (bench_ambient.py):
/proc/stat steal percentage over the timed section, N-way spin
calibrations BEFORE AND AFTER (windows close mid-run on this VM with
zero steal accounting), and — when a baseline applies — the
board-median ratio (no code change slows 50+ diverse plans uniformly;
a board-wide shift is the host). When any signal is dirty, >1.5x
baseline excursions are reported under `regressions_unattributable`
instead of `regressions` — raw walls are kept, attribution is
suppressed.

The extraction input is a deterministic pages table synthesized once
from the driver's ``documents.parquet`` (sources/pages.py) and cached
as parquet under ``.bench/`` so the timed job is the real workload —
parquet scan -> split assignment -> vectorized extract — not payload
synthesis. ``SPARK_GRAFT_BENCH_REPEAT`` tiles the documents table for
more load (default 96 -> ~480k pages at sf0.1).

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_REPEAT, SPARK_GRAFT_BENCH_TILE,
SPARK_GRAFT_BENCH_REPS, SPARK_GRAFT_BENCH_SKIP_QUERIES=1 (extraction
only — used by bench_scaling.py).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
BASELINE_PATH = os.path.join(REPO, "BENCH", "baseline.json")
# the stdout line's scalar fields, and its cap on names per regression
# list; .bench/last_bench.json keeps everything
STDOUT_KEYS = (
    "metric", "value", "unit", "sf", "cores", "reps",
    "extract_docs", "extract_ok", "extract_mb_in", "docs_per_sec", "mb_per_sec",
    "steal_pct", "calib_efficiency", "calib_before_after",
    "board_ratio_median", "bracket_clean",
)
STDOUT_NAMES_MAX = 10

# Headline registry queries (one per operator family). The JSON
# "value" field sums extract + these, keeping the headline metric
# comparable across rounds; EVERY other registry query is also timed
# and kept in .bench/last_bench.json so per-query regressions are
# detectable against BENCH/baseline.json (±30% ambient VM noise on
# this box — treat >1.5x as a real regression, see CLAUDE.md).
HEADLINE_QUERIES = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "dedup_minhash_lsh",
    "cosine_topk",
    "sessionize",
    "lang_id",
]
# the walls summed into "value", and the only ones on the stdout line
HEADLINE = ("extract", *HEADLINE_QUERIES)


def _noop_write(df) -> None:
    """Fully materialize a DataFrame without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _baselines() -> dict:
    try:
        with open(BASELINE_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def load_baseline(cores: int, sf, tile: int) -> dict[str, float]:
    """Per-query min walls recorded for this (cores, sf, tile), or {}."""
    return _baselines().get("queries", {}).get(f"{cores}/{sf}/{tile}", {})


def record(section: str, key: str, value) -> None:
    """Set ``baseline.json[section][key] = value``, atomically."""
    data = _baselines()
    data.setdefault(section, {})[key] = value
    tmp = BASELINE_PATH + ".tmp"
    with open(tmp, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, BASELINE_PATH)


def stdout_line(full: dict) -> str:
    """The bounded contract line for a full bench record: headline,
    extract stats, bracket, the headline query walls, and at most
    STDOUT_NAMES_MAX names per regression list."""
    line = {k: full[k] for k in STDOUT_KEYS if k in full}
    line["queries"] = {k: v for k, v in full["queries"].items() if k in HEADLINE}
    if "regressions" in full:
        lists = ("regressions", "regressions_unattributable")
        line["n_regressions"] = sum(len(full.get(k, ())) for k in lists)
        for k in lists:
            if k in full:
                line[k] = full[k][:STDOUT_NAMES_MAX]
    return json.dumps(line)


def warm_python_workers(spark, cores: int) -> None:
    """Untimed pre-warm of the Python worker pool.

    Each local[N] slot forks a python worker that imports
    pandas/pyarrow/our kernels on first use (~1.7-2.1 s wall for a
    fresh local[4] session on a 4-core box, once the daemon loads
    compiled PySpark; see ragflow_spark/pydaemon.py). On a real
    cluster executors live for the whole 100 TB job, so steady-state
    throughput — the thing the scaling criterion is about — excludes
    that one-time cost; this pass pays it before the timer starts.
    Importing the kernels also imports ``ragflow_spark``, which
    installs ``deploy.skip_unchanged_zip_rereads`` in each worker, so
    later tasks stop re-reading every zip directory on sys.path."""
    import pandas as pd

    def touch(batches):
        from ragflow_spark.kernels.extract import extract_document  # noqa: F401

        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    (
        spark.range(cores * 4)
        .repartition(cores * 4)
        .mapInPandas(touch, "n long")
        .count()
    )


def pages_parquet(spark, sf_dir: str, repeat: int, text_tile: int = 1) -> str:
    """Synthesize-once cache of the deterministic pages table."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    suffix = f"_f{text_tile}" if text_tile > 1 else ""
    path = os.path.join(
        REPO, ".bench", f"pages_{tag}_r{repeat}{suffix}_p128.parquet"
    )
    from ragflow_spark.sources.cachefs import atomic_materialize

    def write(tmp: str) -> None:
        from ragflow_spark.sources.pages import synthesize_pages

        pages = synthesize_pages(spark, sf_dir, repeat=repeat, text_tile=text_tile)
        # 128 files -> enough scan partitions for smooth scheduling at
        # local[32] (4 waves of uniform ~5 MB tasks)
        pages.repartition(128).write.mode("overwrite").parquet(tmp)

    return atomic_materialize(path, write)


def bench_extraction(
    spark, sf_dir: str, repeat: int, cores: int, text_tile: int = 1
) -> dict:
    from pyspark.sql import functions as F

    from ragflow_spark.plans.pipeline import (
        assign_splits,
        compute_hot_hosts,
        extract_pages,
    )

    path = pages_parquet(spark, sf_dir, repeat, text_tile=text_tile)
    pages = spark.read.parquet(path)
    n_splits = max(64, cores * 4)
    # cheap url-only pre-pass, untimed: per-host size-proportional salts
    hot = compute_hot_hosts(pages, n_splits=n_splits, sample="auto")
    warm_python_workers(spark, cores)

    t0 = time.perf_counter()
    staged = assign_splits(
        pages, n_splits=n_splits, salt_factor=8, hot_hosts=hot
    )
    ex = extract_pages(staged)  # zero-shuffle map over scan partitions
    row = ex.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum((F.col("parse_status") == "ok").cast("long")).alias("ok"),
    ).collect()[0]
    wall = time.perf_counter() - t0
    return {
        "wall_s": wall,
        "docs": int(row["docs"]),
        "ok": int(row["ok"]),
        "bytes_in": int(row["bytes_in"]),
        "docs_per_sec": row["docs"] / wall,
        "mb_per_sec": row["bytes_in"] / 1e6 / wall,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "96"))
    # text_tile for the PRIMARY timed extraction (default 1 = the tiny
    # driver-corpus pages; bench_scaling sets it to CC-realistic sizes
    # so per-page kernel work dominates fixed job overhead)
    tile = int(os.environ.get("SPARK_GRAFT_BENCH_TILE", "1"))
    skip_queries = os.environ.get("SPARK_GRAFT_BENCH_SKIP_QUERIES") == "1"
    # per-query minimum over >=3 in-process repetitions: identical runs
    # vary +-30% from ambient VM load (BENCH/BASELINE.md), so a single
    # wall is not comparable to the committed min baselines
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    from bench_ambient import (
        bracket_verdict,
        read_cpu_ticks,
        spin_calibration,
        steal_pct,
    )
    from ragflow_spark.session import get_spark

    # ambient bracket, part 1: spin calibration + steal sample BEFORE
    # any Spark work, so the JSON line carries host-contamination
    # evidence (this VM hits multi-hour hypervisor steal storms that
    # are otherwise indistinguishable from 4x code regressions —
    # BENCH/BASELINE.md ambient rules)
    calib = spin_calibration(cores)
    ticks_start = read_cpu_ticks()

    spark = get_spark("bench", cores=cores)

    timings: dict[str, float] = {}

    ext_runs = [
        bench_extraction(spark, sf_dir, repeat, cores, text_tile=tile)
        for _ in range(reps)
    ]
    ext = min(ext_runs, key=lambda e: e["wall_s"])
    timings["extract"] = round(ext["wall_s"], 3)

    if not skip_queries:
        import ragflow_spark.operators as ops

        rest = [q for q in sorted(ops.QUERIES) if q not in HEADLINE_QUERIES]
        for name in HEADLINE_QUERIES + rest:
            fn = ops.QUERIES[name]
            walls = []
            for _ in range(reps):
                t0 = time.perf_counter()
                _noop_write(fn(spark, sf_dir))
                walls.append(time.perf_counter() - t0)
            timings[name] = round(min(walls), 3)

    # ambient bracket, part 2: steal over the whole timed section plus
    # a SECOND spin calibration — measured on this VM, a window that
    # was clean at start can close mid-run with zero steal accounting
    # (host oversubscription), so the verdict takes the worse of the
    # two calibrations
    ticks_end = read_cpu_ticks()
    run_steal = steal_pct(ticks_start, ticks_end)
    calib_after = spin_calibration(cores)
    calib_eff = min(calib["efficiency"], calib_after["efficiency"])
    clean = bracket_verdict(run_steal, calib_eff)

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    full = {
        "metric": "headline_suite_wall",
        "value": round(sum(v for k, v in timings.items() if k in HEADLINE), 3),
        "unit": "sec",
        "sf": sf_val,
        "cores": cores,
        "reps": reps,
        "extract_docs": ext["docs"],
        "extract_ok": ext["ok"],
        "extract_mb_in": round(ext["bytes_in"] / 1e6, 2),
        "docs_per_sec": round(ext["docs_per_sec"], 1),
        "mb_per_sec": round(ext["mb_per_sec"], 2),
        # ambient self-certification: a dirty bracket means walls in
        # this record measure the host's hour, not the code
        # (see bench_ambient.py)
        "steal_pct": run_steal,
        "calib_efficiency": calib_eff,
        "calib_before_after": [calib["efficiency"], calib_after["efficiency"]],
        "queries": timings,
    }
    baseline = load_baseline(cores, sf_val, tile)
    if baseline:
        ratios = {
            k: round(v / baseline[k], 2)
            for k, v in timings.items()
            if k in baseline and baseline[k] > 0
        }
        full["baseline_ratios"] = ratios
        # third ambient signal: the BOARD ratio. A code change moves
        # specific queries; no single change slows 50+ diverse plans
        # uniformly — a board-wide shift vs the committed mins is the
        # host running in a slow mode the CPU probes missed (measured
        # here: a bracket that read clean at both ends while every
        # query ran ~1.4x). Attribution is suppressed in that state.
        if len(ratios) >= 10:
            full["board_ratio_median"] = statistics.median(ratios.values())
            clean = clean and full["board_ratio_median"] <= 1.3
        over = sorted(k for k, r in ratios.items() if r > 1.5)
        # dirty bracket: raw walls and ratios stay, but >1.5x
        # excursions are NOT attributable to the code — round 4's
        # full bench flagged 54 phantom regressions from a steal storm
        full["regressions"] = over if clean else []
        if not clean:
            full["regressions_unattributable"] = over
    full["bracket_clean"] = clean
    os.makedirs(os.path.join(REPO, ".bench"), exist_ok=True)
    with open(os.path.join(REPO, ".bench", "last_bench.json"), "w") as f:
        json.dump(full, f, indent=1)
    # stop BEFORE printing so no JVM shutdown chatter can land after
    # (or interleaved with) the contract line; JSON is the final line
    spark.stop()
    sys.stdout.flush()
    print(stdout_line(full), flush=True)


if __name__ == "__main__":
    main()
