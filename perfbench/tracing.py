"""Benchmark-side tracing: spans, process-tree RSS and Spark's event log.

Spans are recorded by the benchmark around each call it makes into a
layer (name, start, end, parent, run id), kept in memory and written
once at exit. Spark's own view of the JVM/Python boundary comes from
its uncompressed event log: the SQL-plan metrics of the MapInPandas and
scan nodes (reported as task accumulables) and the task metrics.
Jobs are attributed to the benchmark section that submitted them
through the ``perfbench.section`` local property.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SECTION_PROPERTY = "perfbench.section"


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark=None):
        """Time a block; with ``spark`` given, Spark jobs submitted in
        the block are tagged with the span name as their section."""
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            outer = sc.getLocalProperty(SECTION_PROPERTY)
            sc.setLocalProperty(SECTION_PROPERTY, name)
        rec = None
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            rec = {"name": name, "start": time.perf_counter(), "end": None,
                   "parent": parent, "run_id": self.run_id}
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            if rec is not None:
                rec["end"] = time.perf_counter()
                self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(SECTION_PROPERTY, outer)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _tree_rss_bytes(root_pid: int) -> dict[str, int]:
    """RSS of ``root_pid`` and all its descendants, summed per command
    name (java, python3, ...)."""
    children = defaultdict(list)
    procs = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow the last ')'
        comm = stat[stat.find("(") + 1:stat.rfind(")")]
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        children[int(fields[1])].append(pid)
        procs[pid] = (comm, int(fields[21]) * page)
    out: dict[str, int] = defaultdict(int)
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            comm, rss = procs[pid]
            out[comm] += rss
        todo.extend(children.get(pid, ()))
    return dict(out)


class RssSampler:
    """Background sampler of the process tree's peak RSS; ``at_peak``
    splits the peak by command name."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_comm = _tree_rss_bytes(os.getpid())
        total = sum(by_comm.values())
        if total > self.peak:
            self.peak, self.at_peak = total, by_comm

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# SQL metric (task accumulable) names -> report keys; 'timing' metrics
# are milliseconds, 'size' metrics bytes
_SQL_METRICS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_returned_bytes",
    "scan time": "scan_time_ms",
    "size of files read": "files_read_bytes",
}


def _empty_section() -> dict:
    d = {k: 0 for k in _SQL_METRICS.values()}
    d.update(
        tasks=0, run_ms=0, cpu_ns=0, gc_ms=0, result_bytes=0,
        shuffle_write_bytes=0, spill_bytes=0, input_bytes=0,
        output_bytes=0,
    )
    return d


def parse_event_log(path: str) -> dict[str, dict]:
    """Per-section sums of task metrics and SQL metrics from one
    uncompressed, non-rolling Spark event log."""
    stage_section: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(_empty_section)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sec = (ev.get("Properties") or {}).get(SECTION_PROPERTY, "other")
                for sid in ev.get("Stage IDs", []):
                    stage_section[sid] = sec
            elif kind == "SparkListenerTaskEnd":
                sec = out[stage_section.get(ev["Stage ID"], "other")]
                tm = ev.get("Task Metrics") or {}
                sec["tasks"] += 1
                sec["run_ms"] += tm.get("Executor Run Time", 0)
                sec["cpu_ns"] += tm.get("Executor CPU Time", 0)
                sec["gc_ms"] += tm.get("JVM GC Time", 0)
                sec["result_bytes"] += tm.get("Result Size", 0)
                sec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                sec["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                sec["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                sec["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = _SQL_METRICS.get(acc.get("Name"))
                    if key is not None:
                        sec[key] += int(acc.get("Update") or 0)
    return dict(out)


def event_log_file(log_dir: str) -> str:
    """The single finished log Spark wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {names}")
    return os.path.join(log_dir, names[0])
