#!/usr/bin/env python3
"""Two-parallelism scaling evidence for the OPERATOR plan shapes —
the north rule's N -> 4N criterion applied beyond the map-only
extraction stage (bench_scaling.py covers that): a shuffle-heavy
banded dedup join, a two-stage aggregation (inverted index), a
broadcast semi-join with an exploded probe side (decontamination), and
a map-heavy single-pass scorer (filter agreement).

Protocol (CLAUDE.md sandbox gotchas): each level runs in a fresh JVM
pinned to exactly N CPUs with ``taskset -c 0-(N-1)`` (unpinned
local[N] grabs ~2N cores via JVM + Python workers), Python workers are
pre-warmed before timing, levels INTERLEAVE so both see the same
ambient load, and efficiency is min-based across runs. Every child
samples the ambient bracket (bench_ambient.py) so a dirty window is
visible in the published block.

The corpus is amplified AMPLIFY-fold (tagged replicas) so per-task
work dominates fixed per-action costs: at raw sf0.1 the queries run
~0.5-3 s and planning/codegen/driver-collect latency — identical at
both levels — crushes the ratio (measured: 0.18-0.52 "efficiency" at
1x, pure floor artifact). Even amplified, any residual fixed cost
still UNDERSTATES efficiency, so the published numbers are floors,
not points.

Records the summary under ``scaling_ops`` in BENCH/baseline.json and
prints it as one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from bench import record

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = len(os.sched_getaffinity(0))
LEVELS = (max(1, CPUS // 4), CPUS)
RUNS = 3
# amplify the corpus so per-task work dominates fixed per-action costs
# (BENCH ambient note: after kernel speedups, keep the scaling workload
# big enough that per-task work dominates fixed overhead) — 8 replicas
# with a per-replica tag word so exact-dup buckets don't explode
AMPLIFY = int(os.environ.get("SPARK_GRAFT_SCALOPS_AMPLIFY", "32"))
QUERIES = (
    "dedup_minhash_lsh",
    "inverted_index_stats",
    "decontaminate_stats",
    "quality_filter_agreement",
)


def amplified_dir(spark) -> str:
    """Materialize (once) the AMPLIFY-replica documents table under
    .bench/scalops via the write-once cache protocol."""
    from pyspark.sql import functions as F

    from ragflow_spark.sources.cachefs import (
        atomic_materialize,
        stamped_cache_path,
    )

    path = stamped_cache_path(
        "SPARK_GRAFT_SCALOPS_DIR", "scalops", "amp", SF_DIR,
        extra_key=str(AMPLIFY),
    )

    def write(tmp: str) -> None:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n = docs.count()
        reps = [
            docs.select(
                (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" rep{i}")).alias("text"),
                "lang",
                "source",
                (F.col("n_chars") + F.lit(5)).alias("n_chars"),
            )
            for i in range(AMPLIFY)
        ]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return atomic_materialize(path, write)


def child(cores: int) -> None:
    import time

    sys.path.insert(0, REPO)
    from bench import warm_python_workers  # noqa: E402
    from bench_ambient import (  # noqa: E402
        read_cpu_ticks,
        spin_calibration,
        steal_pct,
    )
    from ragflow_spark.session import get_spark  # noqa: E402

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)

    spark = get_spark("scalops", cores=cores, shuffle_partitions=cores)
    sf = amplified_dir(spark)
    calib = spin_calibration(cores)
    t0 = read_cpu_ticks()
    warm_python_workers(spark, cores)
    qs = em.queries()
    walls = {}
    for name in QUERIES:
        qs[name](spark, sf).collect()  # warm: parse+codegen+caches
        best = None
        for _ in range(2):
            s = time.perf_counter()
            qs[name](spark, sf).collect()
            w = time.perf_counter() - s
            best = w if best is None else min(best, w)
        walls[name] = round(best, 3)
    t1 = read_cpu_ticks()
    print(
        "CHILD"
        + json.dumps(
            {
                "cores": cores,
                "walls": walls,
                "steal_pct": steal_pct(t0, t1),
                "calib_efficiency": calib["efficiency"],
            }
        )
    )


def run_level(cores: int) -> dict:
    out = subprocess.run(
        [
            "taskset",
            "-c",
            f"0-{cores - 1}",
            sys.executable,
            os.path.abspath(__file__),
            "--child",
            str(cores),
        ],
        capture_output=True,
        text=True,
        check=True,
        timeout=1800,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("CHILD")][-1]
    return json.loads(line[len("CHILD"):])


def main() -> None:
    results: dict[int, list[dict]] = {c: [] for c in LEVELS}
    for _ in range(RUNS):
        for cores in LEVELS:  # interleaved: same ambient for both levels
            results[cores].append(run_level(cores))

    mins = {
        c: {
            q: min(r["walls"][q] for r in results[c])
            for q in QUERIES
        }
        for c in LEVELS
    }
    brackets = {
        c: {
            "steal_pct": max(r["steal_pct"] for r in results[c]),
            "calib_efficiency": min(
                r["calib_efficiency"] for r in results[c]
            ),
        }
        for c in LEVELS
    }
    lo, hi = LEVELS
    eff = {
        q: round((mins[lo][q] / mins[hi][q]) / (hi / lo), 3) for q in QUERIES
    }
    summary = {
        "mins": mins, "efficiency": eff, "brackets": brackets, "amplify": AMPLIFY
    }
    record("scaling_ops", f"{hi}/{SF_DIR.rsplit('sf', 1)[-1]}/1", summary)
    print(json.dumps(summary))


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child(int(sys.argv[2]))
    else:
        main()
