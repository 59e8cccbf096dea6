"""Property tests for the north rule's resilience clauses:
kill-resume equivalence and salt invariance (SURVEY.md §5.3.3-5).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    from ragflow_spark.sources.pages import synthesize_pages

    return synthesize_pages(spark, sf_dir)


def _text_map(extracted) -> dict:
    return {
        r["url"]: (r["extracted_text"], r["parse_code"])
        for r in extracted.select("url", "extracted_text", "parse_code").collect()
    }


def test_salt_invariance(spark, pages):
    """Output must be bit-identical for any salt factor (SURVEY.md
    §7.3.5): salting only moves rows between splits."""
    from ragflow_spark.plans.pipeline import assign_splits, extract_pages
    from ragflow_spark.sources.pages import SKEWED_HOST

    maps = []
    for salt in (2, 8):
        staged = assign_splits(
            pages, n_splits=16, salt_factor=salt, hot_hosts=[SKEWED_HOST]
        )
        maps.append(_text_map(extract_pages(staged)))
    assert maps[0] == maps[1]


def test_salting_spreads_hot_host(spark, pages):
    """The skewed host (~30% of pages) must land in > 1 split when
    salted, and in exactly 1 split when not."""
    from ragflow_spark.plans.pipeline import assign_splits, host_of
    from ragflow_spark.sources.pages import SKEWED_HOST

    def n_splits_of_hot(hot_hosts, salt):
        staged = assign_splits(
            pages, n_splits=16, salt_factor=salt, hot_hosts=hot_hosts
        )
        return (
            staged.filter(host_of(F.col("url")) == SKEWED_HOST)
            .select("split_id")
            .distinct()
            .count()
        )

    assert n_splits_of_hot(None, 8) == 1
    assert n_splits_of_hot([SKEWED_HOST], 8) > 1


def _when_chain_split_id(factors: dict):
    """Reference split_id over 16 splits: one `when` per hot host."""
    from ragflow_spark.plans.pipeline import host_of

    host = host_of(F.col("url"))
    salt_n = F.lit(1)
    for h, f in sorted(factors.items()):
        salt_n = F.when(host == h, F.lit(f)).otherwise(salt_n)
    return F.pmod(
        F.xxhash64(host) + F.pmod(F.xxhash64(F.col("url")), salt_n),
        F.lit(16),
    ).cast("int")


def _assert_splits_match_when_chain(df, factors: dict) -> None:
    from ragflow_spark.plans.pipeline import assign_splits

    ref = _when_chain_split_id(factors)
    want = {r["url"]: r["s"] for r in df.select("url", ref.alias("s")).collect()}
    staged = assign_splits(df, n_splits=16, hot_hosts=factors)
    assert staged.columns == df.columns + ["split_id"]
    got = {r["url"]: r["split_id"] for r in staged.select("url", "split_id").collect()}
    assert got == want
    assert len(set(got.values())) > 1


def _extraction_plan(pages, factors: dict) -> str:
    from ragflow_spark.plans.pipeline import assign_splits, extract_pages

    extracted = extract_pages(assign_splits(pages, n_splits=16, hot_hosts=factors))
    assert extracted.count() == pages.count()
    return extracted._jdf.queryExecution().executedPlan().toString()


def test_many_hot_hosts_join_matches_when_chain(spark, pages):
    """40 hot hosts with 7 distinct factors: `assign_splits` must give
    every row the split a when-chain gives, with the factors inline in
    the plan (one hex IN list per factor), so the extraction plan has
    no join, no broadcast and no driver-side relation that an action
    would first have to build or ship."""
    from ragflow_spark.sources.pages import SKEWED_HOST

    # 40 hosts in the corpus's naming scheme; some own no page here
    hosts = [SKEWED_HOST] + [f"site{i:02d}.example.org" for i in range(39)]
    factors = {h: 2 + i % 7 for i, h in enumerate(hosts)}

    _assert_splits_match_when_chain(pages, factors)
    plan = _extraction_plan(pages, factors)
    for node in ("Join", "BroadcastExchange", "LocalTableScan", "Scan ExistingRDD"):
        assert node not in plan


def test_hot_hosts_above_inline_gate_join_matches_when_chain(spark, pages):
    """Past HOT_HOST_INLINE_MAX hosts `assign_splits` broadcast-joins a
    host->factor table instead of inlining the literals. It must still
    match the when-chain, and the table must be a JVM LocalTableScan:
    a Python-RDD-backed relation would run a Python job before every
    action on the staged frame."""
    from ragflow_spark.plans.pipeline import HOT_HOST_INLINE_MAX, host_of

    corpus = sorted(
        r["h"] for r in pages.select(host_of(F.col("url")).alias("h")).distinct().collect()
    )
    hosts = [f"h{i:04d}.example.net" for i in range(HOT_HOST_INLINE_MAX + 1)] + corpus
    factors = {h: 2 + i % 7 for i, h in enumerate(hosts)}

    _assert_splits_match_when_chain(pages, factors)
    plan = _extraction_plan(pages, factors)
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_hot_host_names_needing_sql_escapes_match_when_chain(spark):
    """Hosts are inlined as hex literals, so quotes, backslashes, LIKE
    wildcards, non-ASCII and the empty host (urls the host pattern does
    not match) salt exactly as the when-chain does."""
    import pandas as pd

    factors = {"a'b.org": 3, "c\\d.org": 4, "50%off.org": 5, "münchen.de": 6, "": 7}
    urls = [f"http://{h}/p{i}" for h in factors for i in range(8)]
    urls += [f"http://other.org/p{i}" for i in range(8)] + ["not-a-url", None]
    df = spark.createDataFrame(pd.DataFrame({"url": urls}), "url string")

    _assert_splits_match_when_chain(df, factors)


def test_kill_resume_byte_identical(spark, pages, tmp_path):
    """Run killed mid-way, then resumed, must equal a single-shot run
    byte-for-byte; the resume must not redo completed waves."""
    from ragflow_spark.plans.checkpoint import (
        completed_splits,
        read_outputs,
        run_resumable,
    )

    single = str(tmp_path / "single")
    resumed = str(tmp_path / "resumed")

    run_resumable(spark, pages, single, run_id="s", n_splits=16, wave_size=4)

    with pytest.raises(RuntimeError, match="injected"):
        run_resumable(
            spark, pages, resumed, run_id="k", n_splits=16, wave_size=4,
            fail_after_waves=2,
        )
    done_before = completed_splits(spark, resumed)
    assert 0 < len(done_before) < 16
    run_resumable(spark, pages, resumed, run_id="r", n_splits=16, wave_size=4)

    ex_s, m_s = read_outputs(spark, single)
    ex_r, m_r = read_outputs(spark, resumed)
    assert _text_map(ex_s) == _text_map(ex_r)

    # completed waves were NOT re-run: their metrics rows still carry
    # the killed run's id
    owners = {
        r["split_id"]: r["run_id"]
        for r in m_r.select("split_id", "run_id").collect()
    }
    assert {owners[s] for s in done_before} == {"k"}
    assert set(owners) - done_before and all(
        owners[s] == "r" for s in set(owners) - done_before
    )

    # lineage completeness (FIXTURES.md §2 metrics invariants)
    n_pages = pages.count()
    assert m_r.agg(F.sum("n_docs")).collect()[0][0] == n_pages
    assert m_r.groupBy("split_id").count().filter("count > 1").count() == 0


def test_metrics_failure_codes(spark, pages):
    """metrics_for folds each split's rows once: ok + failed = docs per
    split, the failure-code map accounts for every failed doc (the
    corpus's failures are the empty payloads, doc_id % 20 == 9 -> code
    10), and a split with no failures carries a null map."""
    from ragflow_spark.kernels.sniff import CODE_EMPTY_PAYLOAD
    from ragflow_spark.plans.pipeline import (
        assign_splits,
        extract_pages,
        metrics_for,
    )

    staged = assign_splits(pages, n_splits=16, hot_hosts=[])
    rows = metrics_for(extract_pages(staged), "m").collect()
    assert len({r["split_id"] for r in rows}) == len(rows)
    assert sum(r["n_docs"] for r in rows) == pages.count()
    assert all(r["n_ok"] + r["n_failed"] == r["n_docs"] for r in rows)
    n_failed = sum(r["n_failed"] for r in rows)
    assert n_failed > 0
    codes = [r["failure_codes"] for r in rows if r["failure_codes"] is not None]
    assert sum(c.get(CODE_EMPTY_PAYLOAD, 0) for c in codes) == n_failed
    clean = [r for r in rows if r["n_failed"] == 0]
    assert clean and all(r["failure_codes"] is None for r in clean)


def test_hot_host_sampling_finds_same_hosts(spark, pages):
    """The seeded-sample pre-pass must find the same hot-host SET as
    the exact two-pass mode (the skewed host owns ~30% of pages, far
    above the noise floor of a 50% sample on this corpus), with a
    size-proportional factor within one step of exact."""
    from ragflow_spark.plans.pipeline import compute_hot_hosts

    exact = compute_hot_hosts(pages, n_splits=16)
    sampled = compute_hot_hosts(pages, n_splits=16, sample=0.5)
    assert set(sampled) == set(exact)
    for h, f in exact.items():
        assert abs(sampled[h] - f) <= 1, (h, f, sampled[h])
    # determinism: same seed -> same estimate
    assert sampled == compute_hot_hosts(pages, n_splits=16, sample=0.5)


def test_hot_host_auto_sample_resolution(spark, pages, monkeypatch):
    """'auto' must take the sampled path when the optimizer's input
    size estimate exceeds the threshold and the exact path below it
    (crawl inputs sample by default; test inputs stay exact)."""
    from ragflow_spark.plans import pipeline
    from ragflow_spark.plans.pipeline import (
        HOT_HOST_SAMPLE_RATE,
        resolve_hot_host_sample,
    )

    # tiny input, default (1 GiB) threshold -> exact
    assert resolve_hot_host_sample(pages, "auto") is None
    # same input with a toy threshold models a crawl-sized estimate
    monkeypatch.setattr(pipeline, "HOT_HOST_AUTO_THRESHOLD_BYTES", 10)
    assert resolve_hot_host_sample(pages, "auto") == HOT_HOST_SAMPLE_RATE
    # explicit values pass through untouched
    assert resolve_hot_host_sample(pages, None) is None
    assert resolve_hot_host_sample(pages, 0.25) == 0.25


def test_snapshot_time_travel(spark, pages, tmp_path):
    """Iceberg-semantics evidence (parquet stand-in): every committed
    wave appends a run_id-stamped snapshot; reading AS OF snapshot k
    shows exactly the splits committed by snapshots <= k, the latest
    snapshot shows the full table, and a killed+resumed run CONTINUES
    the same snapshot chain (checkpoint.py module docstring documents
    the Iceberg conf this maps onto)."""
    from ragflow_spark.plans.checkpoint import (
        read_extracted_asof,
        read_outputs,
        run_resumable,
        snapshots,
    )

    out = str(tmp_path / "tt")
    run_resumable(spark, pages, out, run_id="r1", n_splits=8, wave_size=3)
    snaps = snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [1, 2, 3]  # ceil(8/3)
    assert all(s["run_id"] == "r1" for s in snaps)

    full, _m = read_outputs(spark, out)
    total = full.count()
    seen = set()
    prev = 0
    for k, s in enumerate(snaps, start=1):
        seen.update(s["splits"])
        asof = read_extracted_asof(spark, out, k)
        want = full.filter(F.col("split_id").isin(sorted(seen))).count()
        got = asof.count()
        assert got == want
        assert got >= prev  # snapshots only append
        prev = got
    assert prev == total  # latest snapshot == current table

    # the as-of filter must prune at the partition level (split_id is
    # the partition column — Iceberg would prune via manifests)
    plan = (
        read_extracted_asof(spark, out, 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "split_id" in plan

    # kill after wave 1, resume under a new run_id: chain continues
    out2 = str(tmp_path / "tt2")
    with pytest.raises(RuntimeError):
        run_resumable(
            spark, pages, out2, run_id="r1", n_splits=8, wave_size=3,
            fail_after_waves=1,
        )
    run_resumable(spark, pages, out2, run_id="r2", n_splits=8, wave_size=3)
    snaps2 = snapshots(out2)
    assert [s["snapshot_id"] for s in snaps2] == [1, 2, 3]
    assert snaps2[0]["run_id"] == "r1"
    assert {s["run_id"] for s in snaps2[1:]} == {"r2"}
    ex2, _ = read_outputs(spark, out2)
    assert read_extracted_asof(spark, out2, 3).count() == ex2.count()


def test_snapshot_reconcile_after_partial_commit(spark, pages, tmp_path):
    """Crash between the metrics append and record_snapshot (the two
    non-atomic wave-commit steps) must not permanently hide committed
    splits from as-of reads: the next run_resumable reconciles the
    chain with a snapshot covering metrics-complete-but-unsnapshotted
    splits (ADVICE r3 medium)."""
    import os

    from ragflow_spark.plans.checkpoint import (
        read_extracted_asof,
        read_outputs,
        run_resumable,
        snapshots,
    )

    out = str(tmp_path / "rec")
    run_resumable(spark, pages, out, run_id="r1", n_splits=8, wave_size=3)
    snaps = snapshots(out)
    assert len(snaps) == 3
    # simulate the crash: metrics committed (untouched) but the last
    # wave's snapshot never landed
    last = sorted(
        n
        for n in os.listdir(os.path.join(out, "snapshots"))
        if n.startswith("snap-")
    )[-1]
    lost_splits = set(snaps[-1]["splits"])
    os.remove(os.path.join(out, "snapshots", last))
    full, _m = read_outputs(spark, out)
    hidden = read_extracted_asof(spark, out, 2)
    assert hidden.count() < full.count()  # the divergence being fixed

    run_resumable(spark, pages, out, run_id="r2", n_splits=8, wave_size=3)
    snaps2 = snapshots(out)
    # no new extraction work (all splits metrics-complete): exactly one
    # reconciliation snapshot was appended, re-covering the lost splits
    assert len(snaps2) == 3
    assert snaps2[-1]["note"] == "metrics-snapshot reconcile"
    assert set(snaps2[-1]["splits"]) == lost_splits
    assert (
        read_extracted_asof(spark, out, snaps2[-1]["snapshot_id"]).count()
        == full.count()
    )
