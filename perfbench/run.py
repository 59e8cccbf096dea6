#!/usr/bin/env python3
"""Repository benchmark: named workloads, end-to-end and per-layer metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload tiny_pages --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[nproc]`` from this single driver process, a
closed loop with one Spark job at a time. Prints a one-line human summary
to stderr and, as the last line of stdout, one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}, ...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. The full record (every iteration,
set-up, check, ambient context, event-log sections and, when traced,
spans) goes to ``.perfbench/records/``; stdout stays one bounded line.

Set-up (``setup_s``) is session start, package shipping, Python worker
warm-up and the workload's hot-host pre-pass. It is done ``SETUPS``
times in the run (the first also launches the JVM) and the median is
reported. The seeded input is materialized once, outside set-up.

A traced run measures the workload twice: untraced in the second
session, then with spans and Spark's event log in the third. The
difference of the two median walls is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
WARMUP_S = 5.0
SPIN_N = 2_000_000


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_environment(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and pin the
    settings that would otherwise come from the caller's environment."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the inputs need far less than 1 GB of driver heap; a small heap is
    # filled early, so the peak RSS does not hang on when the JVM last
    # grew its heap
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    # every JVM the launcher starts: temp files into the run directory,
    # and no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # bind the driver to the loopback interface whatever the host name
    # resolves to
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    for var in ("SPARK_GRAFT_ARROW_BATCH", "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None


class Sessions:
    """Starts, stops and finally shuts down the run's Spark sessions."""

    def __init__(self, cores: int, run_dir: str):
        self.cores = cores
        self.run_dir = run_dir
        self.event_log_dir = os.path.join(run_dir, "eventlog")
        self.spark = None

    def start(self, event_log: bool):
        from ragflow_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if event_log:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _measure(ctx, wl, spark, seconds: float) -> dict:
    """Closed loop: one iteration at a time, back to back, until
    ``seconds`` have passed (at least one iteration)."""
    from bench_ambient import read_cpu_ticks, steal_pct
    from perfbench.tracing import RssSampler

    # untimed iterations first: plan compilation, and the JVM's JIT and
    # the Python workers keep speeding up over the first few jobs
    with ctx.tracer.span(f"{wl.name}.warmup", spark):
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < WARMUP_S:
            wl.iteration(ctx, spark)
    iters = []
    ticks = read_cpu_ticks()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        while not iters or time.perf_counter() - t0 < seconds:
            with ctx.tracer.span(f"{wl.name}.iteration", spark):
                iters.append(wl.iteration(ctx, spark))
    return {
        "iterations": iters,
        "wall_s": statistics.median([i["wall_s"] for i in iters]),
        "peak_rss_mb": rss.peak / 1e6,
        "peak_rss_mb_by_command": {k: v / 1e6 for k, v in rss.at_peak.items()},
        "steal_pct": steal_pct(ticks, read_cpu_ticks()),
    }


def _setup(ctx, wl, sessions, event_log=False, prepare=False) -> tuple:
    """One timed set-up; returns (spark, seconds). Input preparation is
    untimed and happens only on the first set-up."""
    from bench import warm_python_workers

    t = time.perf_counter()
    with ctx.tracer.span("setup.session"):
        spark = sessions.start(event_log)
    with ctx.tracer.span("setup.warm_workers", spark):
        warm_python_workers(spark, ctx.cores)
    elapsed = time.perf_counter() - t
    if prepare:
        with ctx.tracer.span("materialize", spark):
            wl.prepare(ctx, spark)
    t = time.perf_counter()
    wl.setup(ctx, spark)
    return spark, elapsed + time.perf_counter() - t


def declared_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple(
        {m["name"]: m["unit"] for m in spec[kind]} for kind in ("end_to_end", "per_layer")
    )


def _sum_sections(sections: dict, names) -> dict:
    tot: dict = {}
    for n in names:
        for k, v in sections.get(n, {}).items():
            tot[k] = tot.get(k, 0) + v
    return tot


def _layer_metrics(wl, tracer, measured, untraced, probes, sections, cores, names) -> dict:
    """Per-layer metrics of a traced run. Layers the workload does not
    exercise read 0."""
    iters = measured["iterations"]
    n = len(iters)
    unknown = set(probes) - set(names)
    if unknown:
        raise KeyError(f"probe metrics missing from BENCHMARK.json: {sorted(unknown)}")
    out = dict.fromkeys(names, 0.0)
    out.update(probes)
    work = _sum_sections(sections, [f"{wl.name}.iteration"])
    session = _sum_sections(sections, sections)
    # workers start once per session (in the warm-up); per-job figures
    # below are section totals over the timed jobs divided by their number
    out["python.start_ms"] = session.get("python_start_ms", 0)
    if work:
        out["python.init_ms"] = work["python_init_ms"] / n
        out["python.run_ms"] = work["python_run_ms"] / n
        out["arrow.sent_mb"] = work["arrow_sent_bytes"] / 1e6 / n
        out["arrow.returned_mb"] = work["arrow_returned_bytes"] / 1e6 / n
        if work["arrow_sent_bytes"]:
            out["arrow.returned_per_sent"] = work["arrow_returned_bytes"] / work["arrow_sent_bytes"]
        out["spark.task_cpu_s"] = work["cpu_ns"] / 1e9 / n
        out["spark.gc_s"] = work["gc_ms"] / 1e3 / n
        out["spark.shuffle_write_mb"] = work["shuffle_write_bytes"] / 1e6 / n
        out["spark.spill_mb"] = work["spill_bytes"] / 1e6 / n
        out["spark.result_mb"] = work["result_bytes"] / 1e6 / n
        # task-slot time of the timed jobs that neither the scan nor the
        # Python workers' run time covers: driver, scheduling, JVM-side
        # operators, writes and idle slots. Python "init" time is left
        # out: a reused worker starts that clock while it waits for its
        # next task, so it counts idle time
        slot_ms = sum(i["wall_s"] for i in iters) * cores * 1000.0
        layer_ms = work["scan_time_ms"] + work["python_start_ms"] + work["python_run_ms"]
        out["trace.unaccounted_share"] = 1.0 - layer_ms / slot_ms
    if "checkpoint.cycle" in sections:
        out["checkpoint.shuffle_mb"] = sections["checkpoint.cycle"]["shuffle_write_bytes"] / 1e6
    out["pipeline.hot_hosts_s"] = statistics.median(tracer.durations("pipeline.hot_hosts"))
    out["trace.overhead_s"] = measured["wall_s"] - untraced["wall_s"]
    return out


def main(argv=None) -> int:
    args = _parse_args(argv)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    try:
        return _run(args, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_id: str, run_dir: str) -> int:
    _pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    from bench_ambient import spin_calibration
    from perfbench.tracing import Tracer, event_log_file, parse_event_log
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    ctx = Context(
        seed=args.seed, cores=cores, cache_dir=os.path.join(WORK, "inputs"),
        run_dir=run_dir, tracer=Tracer(run_id, enabled=traced),
    )
    record = {"run_id": run_id, "workload": wl.name, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "cores": cores}
    t_start = time.perf_counter()
    phases = {}  # seconds since start at each phase's end, for the record

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - t_start

    record["spin_calibration"] = spin_calibration(cores, SPIN_N)
    phase("calibration")
    sessions = Sessions(cores, run_dir)
    try:
        spark, first = _setup(ctx, wl, sessions, prepare=True)
        phase("first_setup")
        setups, untraced = [first], None
        for i in range(1, SETUPS):
            if traced and i == SETUPS - 1:
                ctx.tracer.enabled = False
                untraced = _measure(ctx, wl, spark, args.seconds)
                ctx.tracer.enabled = True
            sessions.stop()
            spark, s = _setup(ctx, wl, sessions, event_log=traced and i == SETUPS - 1)
            setups.append(s)
        phase("setups")
        ctx.traced = traced
        measured = _measure(ctx, wl, spark, args.seconds)
        phase("measure")
        with ctx.tracer.span("check", spark):
            check = wl.check(ctx, spark)
        phase("check")
        probes = wl.probe(ctx, spark, measured, check) if traced else {}
        phase("probe")
    finally:
        sessions.shutdown()
    phase("shutdown")

    iters = measured["iterations"]
    failed = check["mismatch_docs"] + sum(i["lost_docs"] for i in iters)
    failed += check.get("extra_failed", 0)
    correct = failed == 0
    attempted = sum(i["docs"] for i in iters) + check.get("extra_attempted", 0)
    record.update(setups_s=setups, phases_s=phases, check=check, measured=measured,
                  untraced=untraced)

    end_to_end, per_layer = declared_metrics()
    if traced:
        sections = parse_event_log(event_log_file(sessions.event_log_dir))
        record["event_log_sections"] = sections
        values = _layer_metrics(
            wl, ctx.tracer, measured, untraced, probes, sections, cores, per_layer
        )
        units = per_layer
    else:
        wall = measured["wall_s"]
        values = {
            "setup_s": statistics.median(setups),
            "wall_s": wall,
            "docs_per_s": wl.docs / wall,
            "mb_per_s": wl.html_bytes / 1e6 / wall,
            "peak_rss_mb": measured["peak_rss_mb"],
        }
        units = end_to_end
    if set(values) != set(units):
        raise KeyError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    record["metrics"] = metrics

    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if traced:
        ctx.tracer.write(os.path.join(rec_dir, f"{run_id}.spans.json"))
    print(
        f"{wl.name} seed={args.seed} trace={args.trace} iterations={len(iters)} "
        f"correct={correct} failed={failed} record=.perfbench/records/{run_id}.json",
        file=sys.stderr,
    )
    sys.stdout.flush()
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
