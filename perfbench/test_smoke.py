"""Smoke test of the benchmark on small inputs.

Checks that BENCHMARK.json is well formed and that every workload, run
untraced and traced, prints a last stdout line whose metric names and
units are exactly the ones BENCHMARK.json declares, with its output
check passing. Runs real Spark sessions (a few minutes in total)::

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import contextlib
import functools
import io
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
# small inputs: a run takes seconds of Spark work instead of the
# workload's full size
SMALL_DOCS = {"cc_pages": 40, "tiny_pages": 400}


def test_spec_is_well_formed():
    assert set(SPEC) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for kind in ("workloads", "end_to_end", "per_layer") for m in SPEC[kind]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.fullmatch(n) for n in names)
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT_RE.fullmatch(m["unit"]) and m["better"] in ("lower", "higher")
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200


@pytest.mark.parametrize("seed", [-3, 0, 1000, 399_999, 10**12 + 7])
def test_any_seed_keeps_page_timestamps_in_range(seed):
    """Pages are stamped doc_id * 137 s after sources.pages.EPOCH; the
    pandas UDFs need that stamp as a nanosecond timestamp."""
    import pandas as pd

    from perfbench import inputs
    from ragflow_spark.sources.pages import EPOCH

    ids = inputs.documents_table(4800, seed)["doc_id"].to_numpy()
    assert ids.min() >= 0
    pd.Timestamp(EPOCH) + pd.Timedelta(seconds=int(ids.max()) * 137)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SMALL_DOCS))
def test_run_emits_declared_metrics(workload, trace, monkeypatch):
    small = functools.partial(workloads.WORKLOADS[workload], n_docs=SMALL_DOCS[workload])
    monkeypatch.setitem(workloads.WORKLOADS, workload, small)
    monkeypatch.setattr(workloads, "OPERATOR_SCALE", 0.005)
    monkeypatch.setattr(workloads, "RESUME_DOCS", 300)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(
            ["--workload", workload, "--seed", "7", "--seconds", "0.5", "--trace", str(trace)]
        )
    assert rc == 0
    line = json.loads(out.getvalue().strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    if not trace:
        assert all(v["value"] > 0 for v in line["metrics"].values())
