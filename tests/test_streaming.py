"""Structured Streaming: finite drain must agree with the batch plans."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from ragflow_spark.streaming import (
    events_stream,
    run_to_memory,
    sessionize_stream,
    windowed_counts_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events re-written as a 4-file directory, TIME-RANGE partitioned
    (sessionize_stream's ordering contract: micro-batches arrive in
    non-decreasing event time, like ingested event logs). The file
    source reads part files in path order, and repartitionByRange
    assigns ascending ts ranges to ascending partition ids."""
    d = str(tmp_path_factory.mktemp("events_src"))
    shutil.rmtree(d, ignore_errors=True)
    (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .repartitionByRange(4, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(d)
    )
    # The file stream source picks up files in MODIFICATION-TIME order
    # (a bulk write leaves ties -> arbitrary order); stamp ascending
    # mtimes so batch order == event-time order, as it would be for
    # files landing from a live ingest.
    import glob
    import os
    import time

    t0 = time.time() - 1000
    for i, f in enumerate(sorted(glob.glob(f"{d}/part-*"))):
        os.utime(f, (t0 + i * 60, t0 + i * 60))
    return d


def test_windowed_counts_matches_batch(spark, sf_dir, events_dir, tmp_path):
    stream = windowed_counts_stream(events_stream(spark, events_dir))
    got = run_to_memory(stream, "wc_stream", str(tmp_path / "ckpt")).collect()

    import ragflow_spark.operators as ops

    want = ops.QUERIES["windowed_event_counts"](spark, sf_dir).collect()

    canon = lambda rows: sorted(
        (r["window_start"], r["event_type"], r["n"], round(r["total_value"], 4))
        for r in rows
    )
    assert canon(got) == canon(want)


def test_watermark_present_in_plan(spark, events_dir):
    stream = windowed_counts_stream(events_stream(spark, events_dir))
    assert stream.isStreaming
    assert "EventTimeWatermark" in stream._jdf.queryExecution().logical().toString()


def test_sessionize_stream_closed_sessions(spark, sf_dir, events_dir, tmp_path):
    """Drained stream emits every CLOSED session; each user's final
    (still-open) session stays in state. So per user:
    streamed = batch_n_sessions - 1, and total event coverage differs
    by exactly the open session's events."""
    stream = sessionize_stream(
        events_stream(spark, events_dir, max_files_per_trigger=2)
    )
    got = run_to_memory(
        stream, "sess_stream", str(tmp_path / "ckpt2"), output_mode="append"
    )
    streamed = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in got.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }

    import ragflow_spark.operators as ops

    batch = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in ops.QUERIES["sessionize"](spark, sf_dir).collect()
    }

    assert set(streamed) <= set(batch)
    for uid, (bn, _be) in batch.items():
        sn, _se = streamed.get(uid, (0, 0))
        assert sn == bn - 1, f"user {uid}: streamed {sn} vs batch {bn} sessions"

    # session integrity: no emitted session shorter than 1 event or
    # spanning a gap larger than the threshold internally
    rows = got.collect()
    assert all(r["n_events"] >= 1 for r in rows)
    assert all(r["session_end"] >= r["session_start"] for r in rows)


def test_streaming_extraction_matches_batch(spark, sf_dir, tmp_path):
    """The streaming skin must produce byte-identical extracted_text
    to the batch pipeline over the same pages (incremental ingest is
    a delivery mode, not a different extractor)."""
    from ragflow_spark.plans.pipeline import assign_splits, extract_pages
    from ragflow_spark.sources.pages import synthesize_pages
    from ragflow_spark.streaming import run_extract_stream

    pages = synthesize_pages(spark, sf_dir)
    src = str(tmp_path / "pages_src")
    pages.repartition(4).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "stream_out")
    run_extract_stream(
        spark, src, out, str(tmp_path / "ckpt"),
        n_splits=16, max_files_per_trigger=2,
    )
    streamed = {
        r["url"]: (r["extracted_text"], r["parse_code"])
        for r in spark.read.parquet(out)
        .select("url", "extracted_text", "parse_code")
        .collect()
    }
    batch = {
        r["url"]: (r["extracted_text"], r["parse_code"])
        for r in extract_pages(assign_splits(pages, 16, 8, None))
        .select("url", "extracted_text", "parse_code")
        .collect()
    }
    assert streamed == batch


def test_watermark_append_emits_only_finalized_windows(spark, tmp_path):
    """Event-time watermark semantics (the documented guarantees, not
    the best-effort ones): in append mode a window emits exactly once,
    only after the watermark passes its end; windows still open at
    end-of-input are withheld. (Dropping data later than the watermark
    is explicitly NOT guaranteed by Spark — observed 4.1 behavior
    merges it if the window state still exists — so we don't pin
    that.)"""
    import datetime as dt

    from ragflow_spark.streaming import events_stream, windowed_counts_stream

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    # batch 1: on-time event; batch 2: ts far ahead advances the
    # watermark past the 00:00 window; batch 3: a 10h-late event whose
    # window is already finalized -> must be dropped. Watermark only
    # advances BETWEEN micro-batches, so the late row needs its own
    # batch after the advancer's.
    batches = [
        [(1, base, 10, "a", 1.0, "{}")],
        [(2, base + dt.timedelta(hours=10), 10, "a", 1.0, "{}")],
        [(3, base + dt.timedelta(minutes=5), 10, "a", 1.0, "{}")],
    ]
    src = str(tmp_path / "late_src")
    cols = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    import glob
    import os
    import time

    t0 = time.time() - 100
    seen: set = set()
    for i, rows_i in enumerate(batches):
        spark.createDataFrame(rows_i, cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        new = [f for f in sorted(glob.glob(f"{src}/part-*")) if f not in seen]
        for f in new:
            os.utime(f, (t0 + i * 10, t0 + i * 10))
            seen.add(f)

    stream = windowed_counts_stream(
        events_stream(spark, src, max_files_per_trigger=1), watermark="2 hours"
    )
    # append mode: only windows finalized by the watermark emit
    q = (
        stream.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [
        (r["window_start"], r["n"]) for r in spark.table("late_test").collect()
    ]
    starts = [w for w, _ in rows]
    # exactly one emission for the finalized 00:00 window
    assert starts.count("2024-01-01 00:00:00") == 1
    # the 10:00 window is still open at end-of-input (watermark 08:00
    # < its end) -> withheld in append mode
    assert "2024-01-01 10:00:00" not in starts


def test_dedup_stream_drops_redeliveries(spark, events_dir, tmp_path):
    """Re-delivered event_ids within the watermark horizon must be
    dropped: streaming dedup of (events ++ events again) equals the
    batch distinct-by-key of one copy."""
    import os
    import shutil

    from ragflow_spark.streaming.windows import (
        dedup_stream,
        events_stream,
        run_to_memory,
    )

    dup_dir = tmp_path / "dup_events"
    dup_dir.mkdir()
    i = 0
    for f in sorted(os.listdir(events_dir)):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(events_dir, f), dup_dir / f"a_{i}.parquet")
            shutil.copy(os.path.join(events_dir, f), dup_dir / f"b_{i}.parquet")
            i += 1
    out = run_to_memory(
        dedup_stream(events_stream(spark, str(dup_dir))),
        "dedup_stream_t",
        str(tmp_path / "ckpt_dedup"),
        output_mode="append",
    )
    batch = spark.read.parquet(str(dup_dir))
    assert out.count() == batch.select("event_id").distinct().count()
    assert out.count() * 2 == batch.count()


def test_clean_gate_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming quality gate == batch cleanup semantics: one
    surviving row per content fingerprint, gates applied identically
    (identical text -> identical score/toks, so the kept
    representative's features are deterministic even though WHICH
    doc_id survives a dup group within a micro-batch is not)."""
    from ragflow_spark.operators.textops import clean_features
    from ragflow_spark.streaming.clean_gate import (
        DEFAULT_MIN_SCORE,
        DEFAULT_MIN_TOKS,
        clean_gate_stream,
        documents_stream,
    )
    from ragflow_spark.streaming.windows import run_to_memory

    src = tmp_path / "docs_in"
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # inject the cases the gate exists for: an exact redelivery of doc
    # 0's text under a new id, and a junk doc that fails both gates
    first_text = base.orderBy("doc_id").first().text
    extra = spark.createDataFrame(
        [
            (1_000_000, first_text, "en", "synth", len(first_text)),
            (1_000_001, "!!! ???", "en", "synth", 7),
        ],
        base.schema,
    )
    docs = base.unionByName(extra)
    docs.write.mode("overwrite").parquet(str(src))

    out = run_to_memory(
        clean_gate_stream(documents_stream(spark, str(src))),
        "clean_gate",
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    got = out.select("fp", "score", "toks").collect()
    assert len(got) == len({r.fp for r in got}), "one row per fingerprint"

    batch = (
        clean_features(docs)
        .filter(
            (F.col("score") >= DEFAULT_MIN_SCORE)
            & (F.col("toks") >= DEFAULT_MIN_TOKS)
        )
        .select("fp", "score", "toks")
        .distinct()
        .collect()
    )
    assert {tuple(r) for r in got} == {tuple(r) for r in batch}
    # both suppression paths actually fired: the redelivered text was
    # deduped and the junk doc was gated, so out < in by >= 2
    assert len(got) <= docs.count() - 2


def test_decontam_gate_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming decontamination gate == batch filter semantics: a doc
    carrying an eval 8-gram anywhere in its text is dropped; everything
    else passes. The gate is stateless, so append mode drains fully."""
    from ragflow_spark.operators.trainprep import word_ngrams
    from ragflow_spark.streaming.clean_gate import documents_stream
    from ragflow_spark.streaming.decontam_gate import decontam_gate_stream
    from ragflow_spark.streaming.windows import run_to_memory

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    first = base.orderBy("doc_id").first()
    eval_grams = [" ".join(first.text.split(" ")[:8])]

    # inject a contaminated doc: the eval gram buried mid-text under a
    # fresh id — the gate must catch non-prefix occurrences too
    poisoned = "aaa bbb " + eval_grams[0] + " zzz"
    extra = spark.createDataFrame(
        [(2_000_000, poisoned, "en", "synth", len(poisoned))], base.schema
    )
    docs = base.unionByName(extra)
    src = tmp_path / "docs_in"
    docs.write.mode("overwrite").parquet(str(src))

    out = run_to_memory(
        decontam_gate_stream(documents_stream(spark, str(src)), eval_grams),
        "decontam_gate",
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    got = {r.doc_id for r in out.select("doc_id").collect()}

    lit_set = F.array(*[F.lit(g) for g in eval_grams])
    batch = {
        r.doc_id
        for r in docs.filter(
            ~F.arrays_overlap(word_ngrams(F.split(F.col("text"), " ")), lit_set)
        )
        .select("doc_id")
        .collect()
    }
    assert got == batch
    # both the eval-source doc and the planted mid-text hit were dropped
    assert first.doc_id not in got and 2_000_000 not in got
    # and the gate is not degenerate: almost everything else survived
    assert len(got) >= docs.count() - 4


def test_classifier_gate_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming classifier gate == batch keep semantics (shared
    with_cls_score definition): kept doc_id sets identical, and both
    paths actually drop something at this sf."""
    from ragflow_spark.operators.trainprep import with_cls_score
    from ragflow_spark.streaming.classifier_gate import classifier_gate_stream
    from ragflow_spark.streaming.clean_gate import documents_stream
    from ragflow_spark.streaming.windows import run_to_memory

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = tmp_path / "docs_in"
    docs.write.mode("overwrite").parquet(str(src))

    out = run_to_memory(
        classifier_gate_stream(documents_stream(spark, str(src))),
        "classifier_gate",
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    got = {r.doc_id for r in out.select("doc_id").collect()}
    batch = {
        r.doc_id
        for r in with_cls_score(docs)
        .filter(F.col("cls_milli") >= 0)
        .select("doc_id")
        .collect()
    }
    assert got == batch
    assert 0 < len(got) < docs.count(), "gate must be non-trivial"


def test_cms_stream_matches_batch_sketch(spark, sf_dir, tmp_path):
    """Streaming CMS maintenance == one-shot batch sketch (linearity
    across micro-batches): split the corpus into 4 files, stream them
    one file per trigger, and the accumulated grid must equal the
    batch build — and stay a valid overestimate of exact counts."""
    import numpy as np

    from ragflow_spark.operators.corpus import bigram_stream
    from ragflow_spark.operators.countmin import build_cms, cms_estimate
    from ragflow_spark.streaming.clean_gate import documents_stream
    from ragflow_spark.streaming.sketch_stream import run_cms_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = tmp_path / "docs_in"
    docs.repartition(4).write.mode("overwrite").parquet(str(src))

    grid = run_cms_stream(
        documents_stream(spark, str(src), max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
    )
    batch_grid = build_cms(
        bigram_stream(spark.read.parquet(str(src))), "gram"
    )
    assert (grid == batch_grid).all()
    one = bigram_stream(docs).limit(1).collect()[0]["gram"]
    true_n = bigram_stream(docs).filter(F.col("gram") == one).count()
    assert cms_estimate(grid, one) >= true_n


def test_crawl_diff_gate_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming re-crawl change gate == the batch snapshot-diff
    classification: the emitted (doc_id, change_kind) set must equal
    the batch full-outer diff's added+changed cells (built from the
    same snapshot synthesis constants), and the gate must drop all
    unchanged pages."""
    from ragflow_spark.operators.corpus import (
        _SNAP_CURR_DROP,
        _SNAP_PREV_DROP,
        _SNAP_REV_MOD,
    )
    from ragflow_spark.streaming.clean_gate import documents_stream
    from ragflow_spark.streaming.crawl_diff_gate import (
        crawl_diff_gate_stream,
        snapshot_digests,
    )
    from ragflow_spark.streaming.windows import run_to_memory

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prev = docs.filter(F.col("doc_id") % _SNAP_PREV_DROP != 3)
    curr = docs.filter(F.col("doc_id") % _SNAP_CURR_DROP != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % _SNAP_REV_MOD == 2,
            F.concat(F.col("text"), F.lit(" <rev>")),
        ).otherwise(F.col("text")),
    )
    src = tmp_path / "curr_in"
    curr.write.mode("overwrite").parquet(str(src))

    out = run_to_memory(
        crawl_diff_gate_stream(
            documents_stream(spark, str(src)), snapshot_digests(prev)
        ),
        "crawl_diff_gate",
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    got = {(r.doc_id, r.change_kind) for r in out.select("doc_id", "change_kind").collect()}

    pd_prev = {r.doc_id: r.h for r in snapshot_digests(prev).withColumnRenamed("prev_digest", "h").collect()}
    want = set()
    for r in curr.select("doc_id", F.md5("text").alias("h")).collect():
        if r.doc_id not in pd_prev:
            want.add((r.doc_id, "added"))
        elif pd_prev[r.doc_id] != r.h:
            want.add((r.doc_id, "changed"))
    assert got == want
    kinds = {k for _, k in got}
    assert kinds == {"added", "changed"}, kinds  # both classes non-trivial
    assert len(got) < curr.count()  # unchanged pages were dropped


def test_hll_stream_matches_batch_estimates(spark, sf_dir, tmp_path):
    """Streaming HLL maintenance == one-shot batch sketch (max-merge
    is the HLL union operator, so micro-batch chopping is invisible):
    split the corpus into 4 files, stream them one file per trigger,
    and the folded registers fed through the shared pure-Python
    estimator must reproduce the batch hll_cardinality query's
    v_empty / max_rho / estimate for every source."""
    import __spark_entry__ as em
    from ragflow_spark.operators.hll import estimate_registers
    from ragflow_spark.streaming.clean_gate import documents_stream
    from ragflow_spark.streaming.hll_stream import run_hll_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = tmp_path / "docs_in"
    src.mkdir()
    # <dir>/documents.parquet layout so the BATCH query reads the
    # exact same 4 files the stream consumes one-per-trigger
    docs.repartition(4).write.mode("overwrite").parquet(
        str(src / "documents.parquet")
    )

    regs = run_hll_stream(
        documents_stream(
            spark, str(src / "documents.parquet"), max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
    )
    batch = {
        r["source"]: r.asDict()
        for r in em.queries()["hll_cardinality"](spark, str(src)).collect()
    }
    assert set(regs) == set(batch)
    for source, vec in regs.items():
        v, est = estimate_registers(vec)
        assert batch[source]["v_empty"] == v
        assert batch[source]["max_rho"] == max(vec)
        assert batch[source]["hll_estimate"] == pytest.approx(
            round(est, 4), abs=1e-4
        )


def test_dsir_gate_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming DSIR gate == batch keep semantics (shared
    with_dsir_score definition under the same frozen lambda table):
    kept doc_id sets identical, and the gate is non-trivial at this
    sf."""
    from ragflow_spark.operators.trainprep import (
        dsir_lambda_table,
        with_dsir_score,
    )
    from ragflow_spark.streaming.clean_gate import documents_stream
    from ragflow_spark.streaming.dsir_gate import dsir_gate_stream
    from ragflow_spark.streaming.windows import run_to_memory

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lam = dsir_lambda_table(docs)
    src = tmp_path / "docs_in"
    docs.write.mode("overwrite").parquet(str(src))

    out = run_to_memory(
        dsir_gate_stream(documents_stream(spark, str(src)), lam),
        "dsir_gate",
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    got = {r.doc_id for r in out.select("doc_id").collect()}
    batch = {
        r.doc_id
        for r in with_dsir_score(docs, lam)
        .filter(F.col("dsir_milli") > 1000 * F.col("dsir_nf"))
        .select("doc_id")
        .collect()
    }
    assert got == batch
    assert 0 < len(got) < docs.count(), "gate must be non-trivial"


def test_boilerplate_scrub_stream_matches_reference(spark, sf_dir, tmp_path):
    """Streaming boilerplate scrub == an INDEPENDENT per-doc Python
    scrub under the same frozen table (the reference below re-derives
    segmentation, hashing, and the rejoin with its own inline loop —
    it deliberately does NOT call scrub_boilerplate, so a bug in the
    shared definition fails here instead of being recomputed
    identically), every planted banner is removed, and body text
    survives."""
    import hashlib

    from pyspark.sql import functions as F

    from ragflow_spark.operators.corpus import SEG_WORDS, host_boilerplate_table
    from ragflow_spark.streaming.boiler_gate import boilerplate_scrub_stream
    from ragflow_spark.streaming.clean_gate import documents_stream
    from ragflow_spark.streaming.windows import run_to_memory

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "source",
        # the host_boilerplate_stats enrichment: plant a banner in 2/3
        # of each host's docs so the table is non-trivial
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.lit("nav "), F.col("source"), F.lit(" footer "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    table = host_boilerplate_table(docs)
    assert table and all(len(v) >= 1 for v in table.values())

    src = tmp_path / "docs_in"
    docs.write.mode("overwrite").parquet(str(src))
    out = run_to_memory(
        boilerplate_scrub_stream(
            documents_stream(spark, str(src)).select(
                "doc_id", "source", "text"
            ),
            table,
        ),
        "boiler_gate",
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    got = {
        r.doc_id: (r.text, r.boiler_removed)
        for r in out.collect()
    }
    rows = docs.collect()
    assert len(got) == len(rows)
    empty = frozenset()
    n_banner_docs = 0
    for r in rows:
        # independent reference scrub: own stride/hash/rejoin
        flagged = table.get(r.source, empty)
        ws = r.text.split(" ")
        kept, removed = [], 0
        i = 0
        while i < len(ws):
            seg = " ".join(ws[i : i + SEG_WORDS])
            if hashlib.md5(seg.encode()).hexdigest() in flagged:
                removed += 1
            else:
                kept.append(seg)
            i += SEG_WORDS
        want = (" ".join(kept), removed)
        assert got[r.doc_id] == want, r.doc_id
        if r.doc_id % 3 != 0:
            n_banner_docs += 1
            assert got[r.doc_id][1] >= 1  # the banner came out
            assert f"nav {r.source} footer" not in got[r.doc_id][0]
    assert n_banner_docs > 0


def test_boilerplate_table_cap_raises_in_one_collect(spark, monkeypatch):
    """The table's size cap is enforced by the bounded collect itself:
    a table of exactly CAP spans raises, one span fewer does not."""
    from ragflow_spark.operators import corpus

    docs = spark.createDataFrame(
        [
            (i, f"h{i % 2}", f"nav bar top body words number{i} end")
            for i in range(8)
        ],
        "doc_id long, source string, text string",
    )
    n = sum(len(v) for v in corpus.host_boilerplate_table(docs).values())
    assert n >= 2  # 'nav bar top' and friends, per host
    monkeypatch.setattr(corpus, "BOILER_TABLE_CAP", n + 1)
    assert sum(len(v) for v in corpus.host_boilerplate_table(docs).values()) == n
    monkeypatch.setattr(corpus, "BOILER_TABLE_CAP", n)
    with pytest.raises(ValueError, match="unexpectedly large"):
        corpus.host_boilerplate_table(docs)
