#!/usr/bin/env python3
"""Two-parallelism scaling bench (north rule evidence).

The rule's "N vs 4N executors, scaling efficiency >= 0.8" criterion
cannot use a real cluster in this sandbox, so we run the SAME
extraction job on the SAME cached input at local[N/4] and local[N],
N = the CPUs this process may run on (fresh JVM per level via
subprocess), and report throughput at both plus efficiency =
(T_N/4 / T_N) / 4.

This sandbox VM has noisy neighbors (identical runs vary +-30%%), so
levels run INTERLEAVED (8, 32, 8, 32, ...) to expose both to the same
ambient load, and efficiency is computed from the MINIMUM wall per
level — the least contention-contaminated sample (the estimator
hyperfine and BenchmarkTools report for the same reason). Medians and
every raw wall are published alongside.

Each level is pinned to exactly N CPUs with ``taskset -c 0-(N-1)``:
a Spark job's CPU budget is JVM task threads PLUS forked Python
workers, so an unpinned local[8] on a 32-CPU box quietly consumes ~16
CPUs and the comparison under-credits the 4N level. Pinning makes
"local[N]" mean what "a cluster with N total cores" means.

Records the summary under ``scaling`` in BENCH/baseline.json and
prints it as one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

from bench import record

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEAT = os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "96")
TILE = os.environ.get("SPARK_GRAFT_BENCH_TILE", "1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
CPUS = len(os.sched_getaffinity(0))
LEVELS = (max(1, CPUS // 4), CPUS)


def run_level(cores: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_BENCH_REPEAT=REPEAT,
        SPARK_GRAFT_BENCH_TILE=TILE,
        SPARK_GRAFT_BENCH_SKIP_QUERIES="1",
        # one extraction pass per process — this script does its own
        # interleaved repetition across fresh JVMs
        SPARK_GRAFT_BENCH_REPS="1",
    )
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable,
         os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        check=True,
        timeout=1800,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    results: dict[int, list[dict]] = {c: [] for c in LEVELS}
    for _ in range(RUNS):
        for cores in LEVELS:  # interleaved: both levels see the same ambient load
            results[cores].append(run_level(cores))
    for cores in LEVELS:
        walls = [r["queries"]["extract"] for r in results[cores]]
        print(
            f"# local[{cores}]: walls={[round(w, 2) for w in walls]}",
            file=sys.stderr,
        )

    med = {c: statistics.median(r["queries"]["extract"] for r in results[c]) for c in LEVELS}
    mins = {c: min(r["queries"]["extract"] for r in results[c]) for c in LEVELS}
    rep = {c: results[c][0] for c in LEVELS}
    n, four_n = LEVELS
    eff = (mins[n] / mins[four_n]) / (four_n / n)
    eff_median = (med[n] / med[four_n]) / (four_n / n)

    docs = rep[four_n]["extract_docs"]
    mb = rep[four_n]["extract_mb_in"]
    summary = {
        "metric": f"scaling_efficiency_{n}_to_{four_n}",
        "value": round(eff, 3),
        "unit": "ratio",
        "queries": {
            f"extract_local{c}": round(mins[c], 3) for c in LEVELS
        },
        "efficiency_median": round(eff_median, 3),
        "medians": {c: round(med[c], 3) for c in LEVELS},
        "sf": rep[four_n]["sf"],
        "docs": docs,
        "mb_in": mb,
        "docs_per_sec": {c: round(docs / med[c], 1) for c in LEVELS},
        "mb_per_sec": {c: round(mb / med[c], 2) for c in LEVELS},
        "runs_per_level": RUNS,
        "walls": {
            c: [round(r["queries"]["extract"], 3) for r in results[c]]
            for c in LEVELS
        },
        "pass_ge_0.8": eff >= 0.8,
    }
    # ambient self-certification (bench_ambient.py, via each child
    # bench.py run): the scaling claim is only as good as its bracket
    all_runs = [r for c in LEVELS for r in results[c]]
    summary["steal_pct_max"] = max(r.get("steal_pct", -1.0) for r in all_runs)
    summary["calib_efficiency_min"] = min(
        r.get("calib_efficiency", -1.0) for r in all_runs
    )
    summary["bracket_clean"] = all(
        r.get("bracket_clean", False) for r in all_runs
    )

    record("scaling", f"{four_n}/{summary['sf']}/{TILE}", summary)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
