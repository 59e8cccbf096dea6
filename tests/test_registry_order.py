"""driver_order(): the query order exposed to the correctness driver is
derived from the committed CORRECTNESS_r<N>.json verdict files."""

from __future__ import annotations

import json

import pytest

import ragflow_spark.operators  # noqa: F401  (fills the registry)
from ragflow_spark.operators import registry


def _verdict(green: bool) -> dict:
    return {
        "rows_match": True,
        "schema_match": True,
        "hash_match": green,
        "spark_rows": 1,
        "oracle_rows": 1,
        "err": None,
    }


@pytest.fixture
def fake_registry(monkeypatch, tmp_path):
    names = ["never", "green_r2", "red_r2", "green_r1", "tie_green_r1", "never_2"]
    monkeypatch.setattr(registry, "QUERIES", {n: None for n in names})
    monkeypatch.setattr(registry, "VERDICT_DIR", tmp_path)
    return tmp_path


def test_order_from_synthetic_verdicts(fake_registry):
    r1 = {
        "green_r1": _verdict(True),
        "green_r2": _verdict(False),  # red in r1, green again in r2
        "red_r2": _verdict(True),
        "tie_green_r1": _verdict(True),
        "retired": _verdict(False),  # no longer registered: ignored
    }
    r2 = {
        "green_r2": _verdict(True),
        "red_r2": {**_verdict(True), "err": "boom"},
        "retired": _verdict(True),
    }
    (fake_registry / "CORRECTNESS_r01.json").write_text(json.dumps(r1))
    (fake_registry / "CORRECTNESS_r2.json").write_text(json.dumps(r2))
    (fake_registry / "CORRECTNESS_notes.json").write_text("not a verdict file")

    assert registry.driver_order() == [
        "never",  # (False, 0), registration order among ties
        "never_2",
        "red_r2",  # (False, 2)
        "green_r1",  # (True, 1), registration order among ties
        "tie_green_r1",
        "green_r2",  # (True, 2)
    ]


def test_no_verdict_files_keeps_registration_order(fake_registry):
    assert registry.driver_order() == list(registry.QUERIES)


def test_committed_verdicts_fill_the_window_oldest_first():
    order = registry.driver_order()
    assert sorted(order) == sorted(registry.QUERIES)
    assert len(order) == len(set(order))

    last = registry.last_verdicts()
    keys = [last.get(n, (False, 0)) for n in order]
    w = registry.DRIVER_WINDOW
    assert max(keys[:w]) <= min(keys[w:])

    # every query that sat out the last two rounds (or never had a
    # verdict) gets one next round
    newest = max(rnd for _green, rnd in last.values())
    stale = {n for n in registry.QUERIES if last.get(n, (False, 0))[1] < newest - 1}
    assert stale <= set(order[:w])


# the queries whose last r01-r05 verdict is from r3: they sat outside
# the window of both r4 and r5
R3_LAST = {
    "argmax_count", "contains_filter", "error_as_row",
    "intersect_active_segments", "lang_id", "multirow_fold",
    "quality_score", "rename_projection", "split_explode",
    "sql_passthrough", "switch_predicates", "template_interpolation",
    "token_count", "top_n_limit", "top_revenue_orders", "union_dedup",
}


def test_r01_to_r05_window_takes_every_r3_last_query(monkeypatch, tmp_path):
    for rnd in range(1, 6):
        name = f"CORRECTNESS_r{rnd:02d}.json"
        (tmp_path / name).write_text((registry.VERDICT_DIR / name).read_text())
    monkeypatch.setattr(registry, "VERDICT_DIR", tmp_path)

    last = registry.last_verdicts()
    assert {n for n, (_g, rnd) in last.items() if rnd == 3} == R3_LAST
    order = registry.driver_order()
    assert R3_LAST & set(registry.QUERIES) <= set(order[: registry.DRIVER_WINDOW])
