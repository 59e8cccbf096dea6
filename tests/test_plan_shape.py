"""Physical-plan assertions: the plans we claim are the plans we get.

These lock in the scale-critical properties (predicate pushdown,
column pruning, zero-shuffle extraction, broadcast joins, top-k
without full sort) so a refactor that silently regresses the physical
strategy fails CI, not the 100 TB run.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def ops():
    import ragflow_spark.operators as ops

    return ops


def test_contains_filter_pushdown_and_pruning(spark, sf_dir, ops):
    df = ops.QUERIES["contains_filter"](spark, sf_dir)
    plan = formatted(df)
    # column pruning: html-free 2-column read + text for the predicate
    assert "ReadSchema" in plan
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in rs and "doc_id" in rs and "source" not in rs
    # IsNotNull reaches the scan; the case-insensitive contains itself
    # cannot push (lower() wraps the column — a StringContains pushdown
    # would change semantics), so row-group skipping rides on the null
    # filter + column stats only
    assert "PushedFilters: [IsNotNull(text)" in plan


def _forty_hot_hosts() -> dict:
    from ragflow_spark.sources.pages import SKEWED_HOST

    hosts = [SKEWED_HOST] + [f"site{i:02d}.example.org" for i in range(39)]
    return {h: 2 + i % 7 for i, h in enumerate(hosts)}


def test_extraction_is_zero_shuffle(spark, sf_dir):
    from ragflow_spark.plans.pipeline import (
        assign_splits,
        compute_hot_hosts,
        extract_pages,
    )
    from ragflow_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, sf_dir)
    hot = compute_hot_hosts(pages, n_splits=16)
    assert hot
    for hot_hosts in (None, hot, _forty_hot_hosts()):
        ex = extract_pages(assign_splits(pages, 16, 8, hot_hosts))
        plan = plan_of(ex)
        assert "Exchange" not in plan, "extraction must not shuffle the html payload"


def test_hot_host_salting_runs_no_extra_job(spark, sf_dir):
    """Salting hot hosts (below the inline gate) must not add a Spark
    job to the extraction action, e.g. one that builds a broadcast."""
    from ragflow_spark.plans.pipeline import assign_splits, extract_pages
    from ragflow_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, sf_dir)
    sc = spark.sparkContext

    def n_jobs(hot_hosts, group):
        sc.setJobGroup(group, group)
        try:
            extract_pages(assign_splits(pages, 16, hot_hosts=hot_hosts)).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = n_jobs(None, "salt-jobs-plain")
    assert plain > 0
    assert n_jobs(_forty_hot_hosts(), "salt-jobs-hot") == plain


def test_extract_pages_output_matches_declared_schema(spark, sf_dir):
    from ragflow_spark import schemas
    from ragflow_spark.plans.pipeline import assign_splits, extract_pages
    from ragflow_spark.sources.pages import synthesize_pages

    ex = extract_pages(assign_splits(synthesize_pages(spark, sf_dir), 16, 8, None))
    # simpleString: names, order and (nested) types; nullability ignored
    assert ex.schema.simpleString() == schemas.EXTRACTED.simpleString()


def test_resume_wave_is_colocated(spark, sf_dir):
    from ragflow_spark.plans.pipeline import assign_splits, extract_pages
    from ragflow_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, sf_dir)
    ex = extract_pages(assign_splits(pages, 16, 8, None), n_partitions=4)
    assert "Exchange hashpartitioning(split_id" in plan_of(ex)


def test_dim_joins_are_broadcast(spark, sf_dir, ops):
    plan = plan_of(ops.QUERIES["revenue_by_nation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1  # only lineitem⋈orders may SMJ


def test_topk_no_full_sort(spark, sf_dir, ops):
    plan = plan_of(ops.QUERIES["top_n_limit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort stage


def test_q1_partial_aggregation(spark, sf_dir, ops):
    plan = plan_of(ops.QUERIES["q1_pricing_summary"](spark, sf_dir))
    # map-side combine before the shuffle (partial_ prefix in agg exprs)
    assert "partial_" in plan
    # scan reads only the columns the query needs
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in rs and "l_orderkey" not in rs


def test_no_rowwise_python_udf_registered():
    """BASELINE.md vectorization constraint: no row-at-a-time
    `F.udf(...)` anywhere in the package source (pandas/Arrow UDFs and
    mapInPandas are the only Python escape hatches)."""
    import os
    import re

    import ragflow_spark

    pkg = os.path.dirname(ragflow_spark.__file__)
    offenders = []
    for root, _d, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            src = open(os.path.join(root, fn)).read()
            if re.search(r"(?<![\w.])udf\s*\(|F\.udf\s*\(", src):
                offenders.append(fn)
    assert not offenders, f"row-wise udf( found in {offenders}"


def test_warc_ingestion_is_map_only(spark, tmp_path):
    """WARC segments -> pages must be scan + mapInPandas, no Exchange
    (one non-splittable segment per task at CC scale)."""
    import datetime as dt

    from ragflow_spark.kernels.warcx import build_warc
    from ragflow_spark.sources.warc import read_warc_pages

    seg = tmp_path / "w"
    seg.mkdir()
    (seg / "s.warc.gz").write_bytes(
        build_warc([("https://x/a", dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc), b"<p>hi</p>")])
    )
    df = read_warc_pages(spark, str(seg))
    assert "Exchange" not in plan_of(df)


def test_media_decode_reads_binary_from_scan(spark, sf_dir, ops, tmp_path, monkeypatch):
    """The multimodal queries must decode payloads scanned from the
    parquet BINARY column (media in ReadSchema), not re-synthesize
    them inside the UDF, and stay map-only (no Exchange)."""
    monkeypatch.setenv("SPARK_GRAFT_MEDIA_DIR", str(tmp_path / "media"))
    df = ops.QUERIES["media_metadata"](spark, sf_dir)
    plan = formatted(df)
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "media:binary" in rs.replace(" ", "")
    assert "Exchange" not in plan_of(df)
    # and the decode round-trips the scanned bytes
    row = df.filter(F.col("doc_id") == 0).collect()[0]
    assert row.media_type == "image" and row.decode_code == 0


def arrays_crossing_exchanges(df, include_broadcast: bool = False):
    """Walk every Exchange in the executed plan; return the
    array-typed attributes that cross one (broadcast Exchanges are
    exempt by default — a broadcast side is small by construction)."""
    plan = df._jdf.queryExecution().executedPlan()
    offending = []

    def walk(node):
        name = node.nodeName()
        if "Exchange" in name and (
            include_broadcast or "Broadcast" not in name
        ):
            out = node.output()
            for i in range(out.length()):
                attr = out.apply(i)
                if "Array" in attr.dataType().toString():
                    offending.append(f"{name}: {attr.toString()}")
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(plan)
    return offending


def test_neardup_pair_exchange_carries_no_arrays(spark, sf_dir, ops):
    """The candidate-pair verify join must ship text (1x), never
    shingle arrays (~3x the document): no array-typed attribute may
    cross any Exchange."""
    df = ops.QUERIES["neardup_jaccard"](spark, sf_dir)
    offending = arrays_crossing_exchanges(df, include_broadcast=True)
    assert not offending, offending


def test_cite_insertion_broadcasts_sentence_side(spark, sf_dir, ops):
    """The answer-sentence side is tiny (one answer) and must
    broadcast; the per-sentence argmax must be a max_by AGGREGATE with
    a map-side partial, not a row_number window (which would shuffle
    every scored pair into <= n_sents window partitions)."""
    df = ops.QUERIES["cite_insertion"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    assert "Window" not in plan, "argmax regressed to a window"
    assert "partial_max_by" in plan, "max_by partial aggregation missing"


def test_ann_ivf_assignment_is_row_local(spark, sf_dir, ops):
    """IVF cell assignment must be row-local (argmax over centroid
    literals): no array-typed attribute — i.e. no embedding — may
    cross any non-broadcast Exchange, and top-k must stay
    TakeOrderedAndProject. (Round-2 regression class: a
    Window.partitionBy(vec_id) assignment shuffled the full embedding
    array for every corpus vector.)"""
    df = ops.QUERIES["ann_ivf_topk"](spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    offending = arrays_crossing_exchanges(df)
    assert not offending, offending


def test_ann_query_topk_is_probe_filtered_scan(spark, sf_dir, ops):
    """Multi-probe ANN must be scan -> bucket filter -> top-k: no
    join, no window, no array crossing a non-broadcast Exchange."""
    df = ops.QUERIES["ann_query_topk"](spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    offending = arrays_crossing_exchanges(df)
    assert not offending, offending


def test_neardup_embedding_buckets_scale_with_corpus():
    """The sign-LSH bucket count must grow with the corpus (round-2
    finding: a constant 2^8 bucket space is ~n^2/256 pairs at crawl
    scale) and the multi-probe set is 1 + n_planes buckets."""
    from ragflow_spark.operators.similarity import (
        NEARDUP_MAX_BITS,
        neardup_bits,
        probe_buckets,
    )

    r_test = neardup_bits(500)
    r_crawl = neardup_bits(10**9)
    assert r_test < r_crawl, "bucket count must grow with corpus size"
    assert r_crawl >= 20, "crawl-scale corpora need 20+ bits"
    assert neardup_bits(10**12) == NEARDUP_MAX_BITS
    from ragflow_spark.operators.similarity import query_planes

    assert query_planes(500) < query_planes(10**6) < query_planes(10**9)
    assert query_planes(10**9) >= 20
    probes = probe_buckets("0110")
    assert len(probes) == 1 + 4
    assert len(set(probes)) == 5 and probes[0] == "0110"


def test_token_truncate_stays_jvm_side(spark, sf_dir, ops):
    """Budget truncation is pure Column expressions — no
    Python/pandas evaluation node may appear in the plan."""
    df = ops.QUERIES["token_truncate"](spark, sf_dir)
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the '*' prefix marks whole-stage-codegen'd operators
    assert "*(1) Project" in plan or "* Project" in formatted(df)


def test_hybrid_retrieval_plan_shape(spark, sf_dir, ops):
    """Hybrid retrieval must keep corpus stats and the bm25 max as
    broadcast one-row aggregates, compute cosine BEFORE the score
    join (no embedding array across a non-broadcast Exchange), and
    end in TakeOrderedAndProject — at crawl scale the doc<->vector
    score join ships only (id, double) pairs."""
    df = ops.QUERIES["hybrid_retrieval_topk"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    offending = arrays_crossing_exchanges(df)
    assert not offending, offending


def test_ann_ivf_plan_shape(spark, sf_dir, ops):
    """IVF assignment, probe filter and rescore run in one row-local
    numpy pass: the plan has no join, ends in TakeOrderedAndProject,
    and no embedding array crosses a non-broadcast Exchange."""
    df = ops.QUERIES["ann_ivf_topk"](spark, sf_dir)
    plan = plan_of(df)
    assert "Join" not in plan and "TakeOrderedAndProject" in plan
    assert not arrays_crossing_exchanges(df)


def test_multiprobe_recall_vs_single_bucket(spark, sf_dir, ops):
    """Quantified recall evidence for the ANN path: the Hamming-1
    multi-probe candidate set must contain every single-bucket
    candidate (strict superset by construction) and its top-k must
    recall at least as many of the exact brute-force top-k — the
    reason multi-probe exists. Measured values are printed into the
    pytest -v log for the record."""
    from ragflow_spark.operators.similarity import (
        QUERY_VEC_ID,
        _bucket_expr,
        _collect_query_vec,
        _sign_bucket_py,
        probe_buckets,
        query_planes,
    )
    from ragflow_spark.operators.registry import table as _table

    exact = {
        r.vec_id for r in ops.QUERIES["cosine_topk"](spark, sf_dir).collect()
    }
    probed = {
        r.vec_id for r in ops.QUERIES["ann_query_topk"](spark, sf_dir).collect()
    }
    n = _table(spark, sf_dir, "embeddings").count()
    r = query_planes(n)
    qe = _collect_query_vec(spark, sf_dir, QUERY_VEC_ID)
    qb = _sign_bucket_py(qe, r)
    b = _table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _bucket_expr(r)
    )
    single = b.filter(
        (F.col("bucket") == qb) & (F.col("vec_id") != QUERY_VEC_ID)
    ).count()
    multi = b.filter(
        F.col("bucket").isin(probe_buckets(qb))
        & (F.col("vec_id") != QUERY_VEC_ID)
    ).count()
    assert multi >= single, "probe set must not shrink the candidates"
    recall = len(exact & probed) / len(exact)
    print(
        f"\nANN candidates single-bucket={single} multi-probe={multi}; "
        f"recall@10 vs exact = {recall:.2f}"
    )
    # sign-LSH on random 64-d vectors is a weak hash by design — the
    # floor here asserts the machinery works, not embedding geometry
    assert recall >= 0.2


def test_neardup_embedding_pair_join_ships_ids_only(spark, sf_dir, ops):
    """The (band, bucket) candidate join must run on id-only rows; at
    most the two verify-side embedding rejoins may move vectors (one
    crossing per side), never the per-band collision join."""
    df = ops.QUERIES["neardup_embedding"](spark, sf_dir)
    offending = arrays_crossing_exchanges(df)
    assert len(offending) <= 2, offending


def test_banded_lsh_recalls_planted_neardups():
    """Quantified recall/selectivity evidence for the banded near-dup
    LSH: the synthetic corpus has NO truly-near pairs (every pair sits
    in the 0.25-0.5 weak-correlation band where sign-LSH prunes by
    design), so this plants real near-duplicates — each corpus vector
    plus a small deterministic perturbation (cos ~0.99) — and checks
    that banding catches them while random pairs stay pruned."""
    import duckdb
    import numpy as np

    from ragflow_spark.operators.similarity import (
        NEARDUP_BANDS,
        _nd_plane_signs,
        neardup_bits,
    )

    rows = (
        duckdb.connect()
        .execute(
            "SELECT embedding FROM '/root/testdata/sf0.001/embeddings.parquet' "
            "ORDER BY vec_id LIMIT 200"
        )
        .fetchall()
    )
    v = np.array([r[0] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(1234)
    noise = rng.standard_normal(v.shape)
    noise *= 0.12 * np.linalg.norm(v, axis=1, keepdims=True) / np.linalg.norm(
        noise, axis=1, keepdims=True
    )
    w = v + noise
    cos = (v * w).sum(1) / (
        np.linalg.norm(v, axis=1) * np.linalg.norm(w, axis=1)
    )
    assert cos.min() > 0.98, "planted pairs must be genuinely near"

    r = neardup_bits(2 * len(v))
    planes = {
        b: np.array([_nd_plane_signs(b, j) for j in range(r)])
        for b in range(NEARDUP_BANDS)
    }

    def buckets(mat):
        return {b: (mat @ planes[b].T >= 0) for b in range(NEARDUP_BANDS)}

    bv, bw = buckets(v), buckets(w)
    hit = np.zeros(len(v), dtype=bool)
    for b in range(NEARDUP_BANDS):
        hit |= (bv[b] == bw[b]).all(axis=1)
    recall = hit.mean()

    # selectivity: shifted (unrelated) pairings must rarely collide
    rand_hit = np.zeros(len(v), dtype=bool)
    for b in range(NEARDUP_BANDS):
        rand_hit |= (bv[b] == np.roll(bw[b], 7, axis=0)).all(axis=1)
    selectivity = rand_hit.mean()

    print(
        f"\nbanded LSH (r={r}, {NEARDUP_BANDS} bands): planted-pair "
        f"recall={recall:.2f}, random-pair collision={selectivity:.2f}"
    )
    assert recall >= 0.8, "near-identical vectors must collide in a band"
    assert selectivity <= 0.3, "unrelated vectors must mostly be pruned"


def test_topk_per_group_is_two_phase_aggregate(spark, sf_dir, ops):
    """Per-group top-k must be the local-topk-then-merge shape: two
    hash aggregates, no Window (a row_number window shuffles every row
    into |groups| partitions — the few-groups straggler)."""
    df = ops.QUERIES["topk_per_group"](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2 or plan.count("ObjectHashAggregate") >= 2


def test_segment_dedup_counts_digests_and_broadcasts_dups(spark, sf_dir, ops):
    """C4-style span dedup must (a) count spans by shuffling md5
    digests + (doc_id, pos) ints only — never segment text — and
    (b) broadcast the (small) duplicate-span table back, so document
    text crosses exactly one Exchange (the per-doc regroup)."""
    import re as _re

    df = ops.QUERIES["segment_dedup"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, "dup side regressed to a shuffle join"
    # the partial aggregate feeding the digest-count Exchange must not
    # carry the segment string
    m = _re.search(
        r"Exchange hashpartitioning\(h#\d+[^\n]*\n\s*\+- \w*Aggregate"
        r"\(key[^\n]*output=\[([^\]]*)\]",
        plan,
    )
    assert m, "digest-count Exchange not found:\n" + plan
    assert "seg" not in m.group(1), m.group(1)


def test_pii_and_repetition_are_single_rollup(spark, sf_dir, ops):
    """Both map-side cleanup queries must have exactly one
    ENSURE_REQUIREMENTS Exchange (the per-source rollup) and no join,
    no window, no explode."""
    for name in ("pii_redact_stats", "repetition_signals"):
        df = ops.QUERIES[name](spark, sf_dir)
        plan = plan_of(df)
        assert plan.count("ENSURE_REQUIREMENTS") == 1, name
        assert "Join" not in plan, name
        assert "Window" not in plan, name
        assert "Generate" not in plan, name


def _attrs_crossing_exchanges(
    df, include_broadcast: bool = False, required_only: bool = False
):
    """Names of every attribute that crosses a (non-broadcast)
    Exchange in the executed plan. Descends into AdaptiveSparkPlan
    (AQE wraps aggregate/join plans; its children() is empty, the real
    tree hangs off initialPlan). With ``required_only``, keeps just
    ENSURE_REQUIREMENTS shuffles, detected via ``shuffleOrigin()``
    (not simpleString, whose maxFields truncation could silently drop
    the origin suffix on wide exchanges)."""
    plan = df._jdf.queryExecution().executedPlan()
    names = []

    def origin_ok(node):
        if not required_only:
            return True
        try:
            return node.shuffleOrigin().toString() == "ENSURE_REQUIREMENTS"
        except Exception:
            return False  # broadcast exchange: no shuffleOrigin

    def walk(node):
        name = node.nodeName()
        if (
            "Exchange" in name
            and (include_broadcast or "Broadcast" not in name)
            and origin_ok(node)
        ):
            out = node.output()
            for i in range(out.length()):
                names.append(out.apply(i).name())
        if name == "AdaptiveSparkPlan":
            walk(node.initialPlan())
            return
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(plan)
    return names


def test_dedup_incremental_shuffles_digests_only(spark, sf_dir, ops):
    """Incremental dedup must never ship document text: every shuffle
    carries digests / ids / small aggregates only. At 10^12 committed
    docs the text column is the 100 TB payload; the digest column is
    16 bytes a row."""
    df = ops.QUERIES["dedup_incremental"](spark, sf_dir)
    crossing = _attrs_crossing_exchanges(df, include_broadcast=True)
    assert crossing, "expected at least the digest join + rollup shuffles"
    assert "text" not in crossing, crossing


def test_stratified_sample_is_map_only(spark, sf_dir, ops):
    """The hash-threshold keep filter is a pure map: no Exchange at
    all (registry.spread may add one on tiny single-file test scans,
    so assert on the unspread core plan), and the md5 threshold
    comparison stays in whole-stage codegen."""
    from ragflow_spark.operators.registry import table

    d = table(spark, sf_dir, "documents")
    threshold = F.when(F.col("lang") == "en", F.lit("40")).otherwise(F.lit("80"))
    keep = (
        F.substring(
            F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 2
        )
        < threshold
    )
    core = d.filter(keep).select("doc_id", "lang", "source")
    plan = plan_of(core)
    assert "Exchange" not in plan
    # "*(1)" marks the whole-stage-codegen span in executedPlan output
    assert "*(1)" in plan


def test_host_profile_prunes_html(spark, sf_dir, ops):
    """The per-host rollup reads only (url, warc_ts): the html payload
    must not cross the rollup Exchange (at crawl scale it is the
    entire corpus), and the total-count denominator must come back as
    a broadcast, not a driver collect."""
    df = ops.QUERIES["host_profile"](spark, sf_dir)
    crossing = _attrs_crossing_exchanges(df, include_broadcast=True)
    assert "html" not in crossing, crossing
    assert "BroadcastExchange" in plan_of(df)


def test_dedup_incremental_bucketed_committed_side_is_shuffle_free(
    spark, sf_dir, tmp_path
):
    """The scale claim in dedup_incremental's docstring, evidenced:
    with the committed digest table written BUCKETED BY digest, the
    incremental join reads it bucket-aligned (Bucketed: true, no
    Exchange above the scan) and only the arriving batch shuffles —
    at 10^12 committed docs that is the difference between reshuffling
    the whole history daily and shuffling one day's batch."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", F.md5("text").alias("h")
        )
        committed = d.filter(F.col("doc_id") % 10 < 7).select("h").distinct()
        spark.sql("DROP TABLE IF EXISTS committed_digests_test")
        (
            committed.write.bucketBy(8, "h")
            .sortBy("h")
            .option("path", str(tmp_path / "committed_digests"))
            .mode("overwrite")
            .saveAsTable("committed_digests_test")
        )
        new = d.filter(F.col("doc_id") % 10 >= 7)
        j = spark.table("committed_digests_test").join(new, "h", "inner")
        plan = plan_of(j)
        assert "Bucketed: true" in plan
        # exactly ONE Exchange: the new-batch side aligning to the
        # bucket count; the committed scan feeds the join directly
        assert plan.count("Exchange") == 1, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS committed_digests_test")


def test_url_normalize_is_single_rollup(spark, sf_dir, ops):
    """URL canonicalization is a pure Column regexp program over an
    exploded 2-variant array: no join, no window; the only Exchange is
    the per-host rollup of six longs."""
    df = ops.QUERIES["url_normalize_stats"](spark, sf_dir)
    plan = plan_of(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" in plan  # the explode of [clean, messy]


def _attrs_crossing_required_exchanges(df):
    """_attrs_crossing_exchanges restricted to ENSURE_REQUIREMENTS
    shuffles — the plan's intrinsic Exchanges. registry.spread()'s
    REPARTITION_BY_NUM on tiny single-file test scans is excluded: it
    is a no-op at crawl scale (the byte/file-count gates) so whatever
    it carries locally never crosses a wire in production."""
    return _attrs_crossing_exchanges(df, required_only=True)


def test_decontaminate_eval_side_is_broadcast(spark, sf_dir, ops):
    """The eval-gram membership check must be a broadcast semi-join:
    the exploded doc-gram side (corpus-sized) never shuffles — only
    the matched (doc_id, source) ids reach the distinct Exchange. At
    10^12 docs the gram strings are ~10x the corpus bytes; shipping
    them would dwarf the job."""
    df = ops.QUERIES["decontaminate_stats"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert crossing, "expected the distinct/rollup shuffles"
    assert "text" not in crossing, crossing
    assert "g" not in crossing, crossing
    assert "grams" not in crossing, crossing


def test_pack_sequences_window_ships_token_counts_only(spark, sf_dir, ops):
    """The packing cum-sum sorts (source, doc_id, nt) rows — three
    scalars; the text column must be dropped before the window
    Exchange (it is the whole corpus at scale)."""
    df = ops.QUERIES["pack_sequences"](spark, sf_dir)
    crossing = _attrs_crossing_required_exchanges(df)
    assert crossing, "expected the window + rollup shuffles"
    assert "text" not in crossing, crossing


def test_lm_quality_scoring_pass_is_map_side(spark, sf_dir, ops):
    """Pass 2 of the LM filter scores each doc row-locally against the
    literal word->bits map: no join, no window, no exploded words in
    the returned plan; the only Exchange is the per-source rollup of
    three doubles (pass 1's vocabulary reduction already ran as a
    bounded driver collect, the IVF-centroid pattern)."""
    df = ops.QUERIES["lm_quality_stats"](spark, sf_dir)
    plan = plan_of(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan  # no explode in the scoring pass
    crossing = _attrs_crossing_required_exchanges(df)
    assert "text" not in crossing, crossing
    assert "word" not in crossing, crossing


def test_token_budget_mix_totals_come_back_broadcast(spark, sf_dir, ops):
    """The mix allocation folds its two 1-row aggregates (corpus
    total, weight normalizer) back as broadcast cross joins — no
    driver collect, no window; the only required Exchange carries the
    per-source partial token sums, never text."""
    df = ops.QUERIES["token_budget_mix"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    assert "Window" not in plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert "text" not in crossing, crossing


def test_label_centroid_agg_is_partial_and_ships_no_vectors(spark, sf_dir, ops):
    """Centroids must reduce via map-side partial (label, pos) sums —
    the Exchange carries scalar partials bounded by partitions x
    labels x dims — and the raw embedding arrays must never cross a
    required Exchange (the k x d centroid side pairs up broadcast)."""
    df = ops.QUERIES["label_centroid_similarity"](spark, sf_dir)
    plan = plan_of(df)
    assert "partial_avg" in plan or "partial_sum" in plan, plan
    assert "BroadcastExchange" in plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert "emb" not in crossing, crossing
    assert "embedding" not in crossing, crossing


def test_manifest_keep_first_ships_digests_not_text(spark, sf_dir, ops):
    """The composed keep/drop manifest must shuffle only (digest, id,
    scalars) for the keep-first join and the rollup — document text
    stays map-side (the contamination check is a row-local
    arrays_overlap against the eval literal, not a join)."""
    df = ops.QUERIES["training_corpus_manifest"](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" not in plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert crossing, "expected keep-first + rollup shuffles"
    assert "text" not in crossing, crossing
    assert "grams" not in crossing, crossing


def test_dedup_substring_shuffles_gram_digests_only(spark, sf_dir, ops):
    """Exact-substring dedup must hash grams to 8-byte digests
    row-locally BEFORE the explode: every required Exchange (dup-gram
    count, semi join, islands window, per-doc rollup) carries only
    (doc_id, pos, digest, scalar) attributes — never text, never gram
    strings, never arrays. The suffix-array semantics ride entirely on
    digest arithmetic (Lee et al. 2022 bucketed approximation)."""
    df = ops.QUERIES["dedup_substring"](spark, sf_dir)
    crossing = _attrs_crossing_required_exchanges(df)
    assert crossing, "expected the gram-count + window shuffles"
    assert "text" not in crossing, crossing
    assert "g" not in crossing, crossing  # gram strings must not ship
    assert not arrays_crossing_exchanges(df), "no array may cross"


def test_segment_dedup_broadcast_gate_both_regimes(
    spark, sf_dir, ops, monkeypatch
):
    """r4 VERDICT item 5: the dup-span broadcast must be size-gated.
    With the planner's own auto-broadcast disabled, the small-input
    regime still broadcasts (the explicit hint fires below the gate)
    while the large-input regime does NOT (no forced hint — at crawl
    scale the dup-span table is unbounded and a forced broadcast OOMs;
    AQE may still convert at runtime from actual sizes)."""
    import ragflow_spark.operators.corpus as corpus

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = plan_of(ops.QUERIES["segment_dedup"](spark, sf_dir))
        assert "BroadcastHashJoin" in hinted, "gate dropped the small-side hint"
        monkeypatch.setattr(corpus, "SEG_DUP_BROADCAST_MAX_BYTES", 0)
        unhinted = plan_of(ops.QUERIES["segment_dedup"](spark, sf_dir))
        assert "BroadcastHashJoin" not in unhinted, "hint forced above the gate"
        assert "SortMergeJoin" in unhinted or "ShuffledHashJoin" in unhinted
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_manifest_join_regime_matches_literal_regime(
    spark, sf_dir, ops, monkeypatch
):
    """r4 VERDICT item 6: above MANIFEST_GRAM_LITERAL_MAX the
    manifest's contamination check swaps the arrays_overlap literal
    for the broadcast-semi-join plan. Forced into the join regime it
    must (a) return exactly the literal regime's rows and (b) keep the
    no-text-across-required-exchanges contract + no Window."""
    import ragflow_spark.operators.trainprep as trainprep

    lit_rows = sorted(
        map(tuple, ops.QUERIES["training_corpus_manifest"](spark, sf_dir).collect())
    )
    monkeypatch.setattr(trainprep, "MANIFEST_GRAM_LITERAL_MAX", 0)
    df = ops.QUERIES["training_corpus_manifest"](spark, sf_dir)
    join_rows = sorted(map(tuple, df.collect()))
    assert lit_rows == join_rows
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    assert "Window" not in plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert "text" not in crossing, crossing
    assert "grams" not in crossing, crossing
    assert "g" not in crossing, crossing


def test_pack_sequences_sharded_window_is_shard_partitioned(spark, sf_dir, ops):
    """The registered shard-local packing twin must window on
    (source, shard) — never a per-source global sort — and ship only
    scalars across required Exchanges. Totals must reconcile with the
    per-source reference form: identical docs/tokens, sequence count
    larger by at most one ragged tail per (source, shard)."""
    from ragflow_spark.operators.trainprep import PACK_SHARDS

    df = ops.QUERIES["pack_sequences_sharded"](spark, sf_dir)
    plan = plan_of(df)
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win_lines and all("shard" in l for l in win_lines), win_lines
    crossing = _attrs_crossing_required_exchanges(df)
    assert "text" not in crossing, crossing

    sharded = {r["source"]: r for r in df.collect()}
    ref = {
        r["source"]: r
        for r in ops.QUERIES["pack_sequences"](spark, sf_dir).collect()
    }
    assert set(sharded) == set(ref)
    for s, r in sharded.items():
        g = ref[s]
        assert r["n_docs"] == g["n_docs"]
        assert r["total_tokens"] == g["total_tokens"]
        assert g["n_sequences"] <= r["n_sequences"] <= g["n_sequences"] + PACK_SHARDS


def test_dedup_substring_trim_interval_union_ships_scalars(spark, sf_dir, ops):
    """The trim form's interval-union (two per-doc windows: running
    max + running sum) must ride on (doc_id, pos) scalars from the
    same digest-only gram tables as dedup_substring: no text, no gram
    strings, no arrays across any required Exchange."""
    df = ops.QUERIES["dedup_substring_trim"](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" in plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert crossing, "expected gram + window + rollup shuffles"
    assert "text" not in crossing, crossing
    assert "g" not in crossing, crossing
    assert not arrays_crossing_exchanges(df)


def test_quality_resample_scoring_is_map_side(spark, sf_dir, ops):
    """Like lm_quality_stats' scoring pass (the shared _xent_scored
    helper): bucket assignment and the md5-prefix keep are row-local —
    no join, no window, no explode in the returned plan; the only
    required Exchange is the (source, bucket) rollup of three longs."""
    df = ops.QUERIES["quality_resample"](spark, sf_dir)
    plan = plan_of(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert "text" not in crossing, crossing
    assert "word" not in crossing, crossing


def test_semdedup_assignment_row_local_pairs_bounded(spark, sf_dir, ops):
    """SemDeDup's cell assignment must be the row-local literal argmax
    (no Window, no assignment Exchange); embeddings may cross an
    Exchange ONLY as the two sides of the within-cluster pair join
    (<= 2 array-carrying Exchanges), and the dropped-id set plus the
    rollup must ship ids only."""
    df = ops.QUERIES["semdedup"](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" not in plan, "assignment regressed to a window"
    offending = arrays_crossing_exchanges(df)
    assert len(offending) <= 2, offending


def test_classifier_filter_is_single_rollup(spark, sf_dir, ops):
    """Classifier inference must be row-local scoring + exactly one
    rollup Exchange carrying integer partials: no join, no window, no
    per-token explode, and no token array crossing any Exchange."""
    df = ops.QUERIES["classifier_filter_stats"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("ENSURE_REQUIREMENTS") == 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan
    offending = arrays_crossing_exchanges(df)
    assert not offending, offending


def test_minhash_decontaminate_broadcasts_eval_side(spark, sf_dir, ops):
    """Fuzzy decontamination must broadcast the eval band/signature
    sides (eval suites are fixed-size) and ship only id pairs + fixed
    -width slice columns through non-broadcast Exchanges — no shingle
    or word array may cross one."""
    df = ops.QUERIES["minhash_decontaminate"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    offending = arrays_crossing_exchanges(df)
    assert not offending, offending


def test_kmeans_refine_final_pass_row_local(spark, sf_dir, ops):
    """The k-means refine's returned plan (final assignment + stats)
    must keep the assignment row-local (no Window) and ship vectors
    only through the broadcast of the k-row centroid table — no array
    may cross a non-broadcast Exchange."""
    df = ops.QUERIES["ivf_kmeans_refine"](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    offending = arrays_crossing_exchanges(df)
    assert not offending, offending


def test_overlap_matrix_ships_digests_only(spark, sf_dir, ops):
    """The cross-source overlap matrix must reduce text to md5
    map-side: no attribute named text may cross any SEMANTIC shuffle
    (ENSURE_REQUIREMENTS — the distinct and the digest self-join);
    spread()'s round-robin scan parallelizer is exempt, it is a no-op
    at crawl scale."""
    df = ops.QUERIES["corpus_overlap_matrix"](spark, sf_dir)
    crossing = _attrs_crossing_exchanges(df, required_only=True)
    texty = [c for c in crossing if "text" in c]
    assert not texty, texty


def test_crawl_snapshot_diff_ships_digests_only(spark, sf_dir, ops):
    """The snapshot diff's full-outer join + rollup must move
    (doc_id, source, 16-byte digest) rows only — the page text is
    reduced to md5 at the scan and must never cross an Exchange (a
    crawl snapshot IS the corpus; shipping text would double-ship
    100 TB per monthly diff)."""
    df = ops.QUERIES["crawl_snapshot_diff"](spark, sf_dir)
    plan = plan_of(df)
    assert "Join FullOuter" in plan or "FullOuter" in plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert crossing, "expected the join + rollup shuffles"
    assert "text" not in crossing, crossing


def test_pagerank_rounds_ship_ids_only(spark, sf_dir, ops):
    """The returned top-k plan must start from the checkpointed rank
    table (localCheckpoint truncation — proof no round re-runs its
    upstream lineage) and take the top-k without a full sort; page
    payloads never appear (a 10^11-edge graph job moves id/weight
    longs only)."""
    df = ops.QUERIES["link_pagerank"](spark, sf_dir)
    plan = plan_of(df)
    assert "Scan ExistingRDD" in plan, plan  # checkpoint-truncated
    assert "TakeOrderedAndProject" in plan, plan  # no full sort
    assert "text" not in plan and "html" not in plan, plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert not crossing, crossing  # top-k needs no shuffle at all


def test_inverted_index_partial_agg_and_topk(spark, sf_dir, ops):
    """The postings reduction must have a map-side partial (a doc's
    tokens collapse before the shuffle) and the final top-k must be
    TakeOrdered, not a global sort; text never crosses an Exchange
    (only term/tf/pos_sum posting rows do)."""
    df = ops.QUERIES["inverted_index_stats"](spark, sf_dir)
    plan = plan_of(df)
    assert "partial_count" in plan or "HashAggregate" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert "text" not in crossing, crossing


def test_robots_rules_broadcast_to_frontier(spark, sf_dir, ops):
    """The per-host rule table must broadcast: the fetch frontier
    (10^9+ urls per crawl) never shuffles for the compliance check —
    the only required Exchange is the per-host count rollup, and no
    page payload crosses it."""
    df = ops.QUERIES["robots_fetch_filter"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert "html" not in crossing and "path" not in crossing, crossing


def test_quality_agreement_is_one_pass(spark, sf_dir, ops):
    """Both filter verdicts must be row-local columns over ONE scan —
    no per-doc score join, no window; the only required Exchange is
    the 4-cell rollup (text stays out of it), and the share
    denominator folds back broadcast."""
    df = ops.QUERIES["quality_filter_agreement"](spark, sf_dir)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert "text" not in crossing, crossing


def test_compaction_window_ships_file_triples_only(spark, sf_dir, ops):
    """The bin-fill running sum windows (source, doc_id, bytes)
    triples per table partition — no global sort, no payloads in any
    Exchange."""
    df = ops.QUERIES["compaction_plan"](spark, sf_dir)
    crossing = _attrs_crossing_required_exchanges(df)
    assert crossing, "expected the window + rollup shuffles"
    assert "text" not in crossing, crossing


def test_fetch_schedule_per_host_queues_no_global_sort(spark, sf_dir, ops):
    """The scheduler's slot window partitions by HOST — per-host
    queues, never a global sort (no range-partitioned Exchange
    anywhere) — and the rule table broadcasts so blocked urls die
    map-side; no url/path string crosses a required Exchange (the
    window ships (doc_id, host, delay, priority) scalars)."""
    df = ops.QUERIES["fetch_schedule"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert "url" not in crossing and "path" not in crossing, crossing


def test_hll_sketch_shuffles_registers_not_text(spark, sf_dir, ops):
    """The HLL side must reduce text to (source, register, rho)
    scalars AT THE SCAN: no text attribute crosses any required
    Exchange (the exact countDistinct twin ships 32-char digests —
    that contrast is the operator's point), and the register max
    gets a map-side partial aggregate."""
    df = ops.QUERIES["hll_cardinality"](spark, sf_dir)
    plan = plan_of(df)
    assert "HashAggregate" in plan, plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert "text" not in crossing, crossing


def test_anchor_terms_plucked_at_scan(spark, sf_dir, ops):
    """Anchor aggregation ships (dst, term) pairs — single words
    plucked from the source text at the scan — never the source text
    itself, and the per-target argmax windows by dst (hash
    partitioning, no global sort)."""
    df = ops.QUERIES["anchor_text_stats"](spark, sf_dir)
    plan = plan_of(df)
    assert "rangepartitioning" not in plan.lower(), plan
    crossing = _attrs_crossing_required_exchanges(df)
    assert "text" not in crossing, crossing


def test_ann_pq_topk_is_map_side_adc(spark, sf_dir, ops):
    """PQ ADC must be ONE vectorized map pass over the code space: no
    join, no window, no embedding array across any Exchange, and the
    top-k must stay TakeOrderedAndProject — the codebook and the
    query's distance table are closure constants, not plan inputs."""
    df = ops.QUERIES["ann_pq_topk"](spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    offending = arrays_crossing_exchanges(df)
    assert not offending, offending


def test_pq_encode_stats_partials_bound_the_exchange(spark, sf_dir, ops):
    """The PQ encode audit must pre-aggregate inside the kernel: its
    single Exchange carries (subspace, code) integer partials —
    bounded at partitions x M x K rows — and no vector array."""
    df = ops.QUERIES["pq_encode_stats"](spark, sf_dir)
    offending = arrays_crossing_exchanges(df)
    assert not offending, offending
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_dsir_pass2_is_jvm_map_plus_one_rollup(spark, sf_dir, ops):
    """DSIR's returned plan (pass 2) must be map-only scoring against
    the lambda literal + ONE per-source rollup Exchange — no Python
    eval node, no join; pass 1's bucket estimate is a separate bounded
    collect that never appears in this plan."""
    df = ops.QUERIES["dsir_importance_stats"](spark, sf_dir)
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ann_ivfpq_is_map_side_probe_and_adc(spark, sf_dir, ops):
    """IVF-PQ must be ONE kernel pass: coarse assign + probe filter +
    residual encode + per-cell ADC all map-side (centroids, residual
    codebook and the nprobe distance tables are closure constants) —
    no join, no window, no array across any Exchange, top-k stays
    TakeOrderedAndProject."""
    df = ops.QUERIES["ann_ivfpq_topk"](spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    offending = arrays_crossing_exchanges(df)
    assert not offending, offending


def test_bm25_single_scan_vocab_filtered_broadcast(spark, sf_dir, ops):
    """BM25 ranking must (a) scan the corpus ONCE — the posting table
    is localCheckpointed, so the df branch reuses it instead of
    re-running tokenize+explode over the documents scan — (b) filter
    tokens to the query vocabulary BEFORE the posting aggregate's
    Exchange (only query-term tokens ever shuffle), (c) broadcast the
    df / query-map / corpus-stats sides, and (d) rank with the
    two-phase local-slice shape, never a Window or a global Sort."""
    df = ops.QUERIES["bm25_topk"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "Sort " not in plan.replace("sort_array", "")
    # the vocab IN-filter sits under the explode, upstream of every
    # Exchange in the scan branch: the plan prints top-down, so the
    # LAST "Filter ... IN" line must come after (deeper than) the
    # last Exchange line that precedes the FileScan
    scan_branch = plan[: plan.index("FileScan")]
    filt = scan_branch.rindex(" IN (")
    exch = scan_branch.rindex("Exchange hashpartitioning")
    assert filt > exch, "vocab filter not below the posting Exchange"


def test_zorder_layout_is_single_scan_broadcast_fold(spark, sf_dir, ops):
    """The layout audit must scan events ONCE, fold the min/max
    normalization bounds back via a broadcast 1-row cross join, and
    keep every z/bin computation row-local — the only Exchange is the
    multi-DISTINCT aggregate's, whose input the Expand + partial
    aggregate bounds at distinct (layout, key, bin) triples."""
    df = ops.QUERIES["zorder_layout_plan"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan") == 2  # data branch + 1-row bounds agg
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "Expand" in plan


def test_containment_pair_space_carries_no_arrays(spark, sf_dir, ops):
    """Containment's PAIR space (the anchor self-join + the sampled
    gate) must shuffle (doc_id, shingle-string, counts) rows only.
    The verify join deliberately ships each candidate doc's shingle
    array ONCE keyed by doc_id (pair multiplicity ~90 on the
    dup-heavy corpus makes per-pair text re-shingling the dominant
    cost — measured before the change) — so array Exchanges are
    allowed ONLY when keyed by a doc id, never by the shingle/anchor
    key that fans out per pair."""
    df = ops.QUERIES["neardup_containment"](spark, sf_dir)
    offending = [
        o
        for o in arrays_crossing_exchanges(df, include_broadcast=True)
        if not ("sh_a#" in o or "sh_b#" in o or "sh#" in o)
    ]
    assert not offending, offending


def test_posting_compress_window_is_block_bounded(spark, sf_dir, ops):
    """The delta-encoding lag window must partition by (term, block),
    never by term alone: a term-keyed window funnels a hot term's
    whole posting list (df = corpus size) into one reducer; the block
    key bounds every window partition at POSTING_BLOCK entries."""
    df = ops.QUERIES["posting_compress_stats"](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" in plan
    import re as _re

    spec = _re.search(r"windowspecdefinition\(([^)]*)\)", plan)
    assert spec, plan
    assert "term" in spec.group(1) and "blk" in spec.group(1), spec.group(1)


def test_sq8_embeddings_never_shuffle(spark, sf_dir, ops):
    """SQ8 train + encode must keep raw embeddings out of every
    non-broadcast Exchange (the ANN-family invariant): the train pass
    is a DIM-row min/max aggregate folded back broadcast; encode and
    residual are row-local on the exploded component stream."""
    df = ops.QUERIES["sq8_encode_stats"](spark, sf_dir)
    offending = arrays_crossing_exchanges(df)
    assert not offending, offending
    assert "BroadcastHashJoin" in plan_of(df)


def test_snippet_stage_is_winner_bounded(spark, sf_dir, ops):
    """Snippet extraction must confine its work to the winning docs:
    the re-scan joins a BROADCAST of the |Q| x top-k winner ids, the
    per-(query, doc) argmax window is a max_by aggregate with a
    map-side partial (the cite_insertion idiom), and no Spark-side
    Window appears anywhere in the stack."""
    df = ops.QUERIES["best_passage_snippets"](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "partial_max_by" in plan
    assert "BroadcastHashJoin" in plan


def test_maxscore_audit_is_window_free(spark, sf_dir, ops):
    """The MaxScore prune audit derives bounds, theta, and prefix
    sums as aggregates + a bounded self-join — no Spark Window — and
    theta folds back broadcast."""
    df = ops.QUERIES["maxscore_prune_audit"](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "partial_max" in plan  # tmax map-side combine
    assert "BroadcastHashJoin" in plan


def test_host_boilerplate_shuffles_digests_only(spark, sf_dir, ops):
    """The span-frequency count must shuffle (source, md5 digest)
    rows only — span text never crosses an Exchange (the segment_dedup
    rule) — and the per-host doc count folds back broadcast."""
    df = ops.QUERIES["host_boilerplate_stats"](spark, sf_dir)
    plan_root = df._jdf.queryExecution().executedPlan()
    offending = []

    def walk(node):
        name = node.nodeName()
        if "Exchange" in name:
            out = node.output()
            for i in range(out.length()):
                if out.apply(i).name() == "seg":
                    offending.append(name)
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(plan_root)
    assert not offending, offending
    assert "BroadcastHashJoin" in plan_of(df)


def test_epoch_shuffle_window_is_shard_bounded(spark, sf_dir, ops):
    """The rank-within-shard window must partition by (epoch, shard),
    never epoch alone — in production the shard count scales with the
    corpus (a shard = one target-size output file), so each window
    partition stays file-bounded (the posting_compress block-window
    argument)."""
    import re as _re

    df = ops.QUERIES["epoch_shuffle_plan"](spark, sf_dir)
    plan = plan_of(df)
    spec = _re.search(r"windowspecdefinition\(([^)]*)\)", plan)
    assert spec, plan
    assert "epoch" in spec.group(1) and "shard" in spec.group(1), spec.group(1)
