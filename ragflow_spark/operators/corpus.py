"""Corpus-level cleanup operators for LLM training-data pipelines.

Three web-text cleanup stages the round brief lists as first-class
engine components (beyond the reference's own operator set, which has
no corpus analytics at all — its closest analog is the per-document
dedup hashing in the RAGFlow ingest path):

* ``repetition_signals`` — Gopher-style per-document repetition
  quality signals (Rae et al. 2021, §A1.1): fraction of characters in
  the most frequent word 2-gram and the distinct-word ratio, rolled up
  per source with a flagged-document count.
* ``segment_dedup`` — C4-style duplicate-span removal (Raffel et al.
  2020, §2.2: "discard all but one of any three-sentence span
  occurring more than once"): here the span unit is a non-overlapping
  3-word segment over the single-space word-soup ``documents`` corpus,
  keep-first semantics.
* ``pii_redact_stats`` — regex PII redaction (emails / phone numbers /
  IPv4 addresses -> typed placeholders) with per-source match counts
  and an order-insensitive corpus signature of the redacted text.
* ``dedup_incremental`` — the production crawl-dedup shape: a NEW
  batch of documents arrives against an already-committed corpus; only
  new-vs-committed and new-vs-new comparisons happen (never committed
  vs committed again), and only 16-byte digests cross the wire.
* ``stratified_sample`` — deterministic hash-threshold sampling with a
  per-stratum rate (the training-mix rebalance: downsample the
  dominant language), reproducible across engines and runs because
  the keep decision is a pure function of doc_id, never an RNG.
* ``host_profile`` — per-host crawl rollup over the synthesized pages
  (page counts, corpus share, crawl-time span): the driver-checkable
  twin of the hot-host pre-pass that feeds salting
  (plans/pipeline.py compute_hot_hosts).

Scale notes (100 TB):

* ``segment_dedup`` shuffles ONLY 16-byte md5 digests plus (doc_id,
  pos) ints to count spans (map-side partial count + min); the
  duplicate-span table (count > 1) is a small fraction of the corpus
  and is broadcast back, so document text crosses an Exchange exactly
  once — in the per-document regroup that every rewrite-the-corpus
  dedup fundamentally needs (CCNet does the same). Plan-shape-tested.
* Corpus signatures are ``bit_xor`` of a 32-bit md5 prefix per
  document — order-insensitive and O(1) agg state, NOT a
  collect_list of texts (which would be unbounded state per group,
  the r3 percentile failure mode).
* ``repetition_signals`` and ``pii_redact_stats`` are map-side pure
  Column programs; the only shuffle is the final tiny per-source
  rollup.

Oracle parity notes: Java regex vs RE2 — the PII patterns use only
ASCII classes, ``\\b``, bounded quantifiers and non-capturing groups,
which the two engines agree on; doubles are rounded to 4 decimals
per-document on BOTH sides before averaging (registry contract).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ragflow_spark.operators.registry import input_bytes, register, spread, table
from ragflow_spark.operators.textops import doc_words
from ragflow_spark.sources.pages import SKEWED_HOST, host_col

SEG_WORDS = 3  # C4 uses three-sentence spans; word-soup docs -> 3-word spans

# segment_dedup broadcasts its duplicate-span table only when the
# input corpus is under this size: the dup table grows with corpus
# duplication (unbounded on a real crawl), so the hint must not be
# forced at scale. 256 MB of input bounds the dup side well under
# executor broadcast limits.
SEG_DUP_BROADCAST_MAX_BYTES = 256 << 20
TOP2_FLAG_THRESHOLD = 0.20  # Gopher: docs with top-2-gram char fraction > 0.20


def seg_spans(text):
    """Non-overlapping SEG_WORDS-word spans of ``text`` (split on single
    spaces, last span short) as an array Column: the one Spark-side
    segmentation every span query shares. Oracle twin: ``unnest(range(
    (len(ws) + SEG_WORDS - 1) // SEG_WORDS))`` over ``string_split``."""
    words = F.split(text, " ")
    n_seg = F.floor((F.size(words) + F.lit(SEG_WORDS - 1)) / SEG_WORDS).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(words, i * SEG_WORDS + 1, SEG_WORDS), " "),
    )


# 32-bit md5 prefix per document, folded with bit_xor: O(1) agg state.
_SIG_SQL = "bit_xor(('0x' || substr(md5(doc_id || ':' || {col}), 1, 8))::BIGINT)"


def _doc_sig(col):
    """Spark twin of _SIG_SQL: conv() hex parse of the md5 prefix."""
    digest = F.md5(F.concat_ws(":", F.col("doc_id"), col))
    return F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")


# --------------------------------------------------------------------------
# repetition_signals
# --------------------------------------------------------------------------

@register(
    "repetition_signals",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws,
             length(text) AS nc
      FROM documents
    ), g0 AS (
      SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i
      FROM base WHERE len(ws) >= 2
    ), grams AS (
      SELECT doc_id, ws[i + 1] || ' ' || ws[i + 2] AS g FROM g0
    ), cnt AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
    ), top AS (
      SELECT doc_id, g, c FROM (
        SELECT doc_id, g, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, g) AS rn
        FROM cnt
      ) WHERE rn = 1
    ), per_doc AS (
      SELECT b.source,
             round(coalesce(t.c * length(t.g) * 1.0 / b.nc, 0.0), 4)
               AS top2,
             round(len(list_distinct(b.ws)) * 1.0 / len(b.ws), 4) AS dr
      FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           round(avg(top2), 4) AS avg_top2_frac,
           round(avg(dr), 4) AS avg_distinct_ratio,
           sum(CASE WHEN top2 > 0.20 THEN 1 ELSE 0 END)::BIGINT
             AS flagged_repetitive
    FROM per_doc GROUP BY source
    """,
)
def repetition_signals(spark, sf_dir):
    """Gopher repetition signals per source (Rae et al. 2021 §A1.1).

    Per document: ``top2_frac`` = chars of the most frequent word
    2-gram (count x gram length / text length; ties broken by the
    lexicographically smallest gram) and ``distinct_ratio`` =
    distinct words / words. Entirely row-local: the 2-gram argmax is
    a run-length scan over the SORTED gram array via ``aggregate``
    (sorting groups equal grams, so the longest run = the modal
    gram) — no explode, no per-doc shuffle. The only Exchange is the
    final per-source rollup of four doubles.
    """
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    words = F.split(F.col("text"), " ")
    nw = F.size(words)
    grams = F.when(
        nw >= 2,
        F.transform(
            F.sequence(F.lit(0), nw - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i + 1), F.element_at(words, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best_run"),
        F.lit("").alias("best"),
    )

    def merge(acc, x):
        new_run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(new_run, acc["best_run"]).alias("best_run"),
            F.when(new_run > acc["best_run"], x).otherwise(acc["best"]).alias("best"),
        )

    top = F.aggregate(F.array_sort(grams), init, merge)
    top2 = F.when(
        nw >= 2,
        F.round(
            top["best_run"] * F.length(top["best"]) * F.lit(1.0)
            / F.length(F.col("text")),
            4,
        ),
    ).otherwise(F.lit(0.0))
    dr = F.round(F.size(F.array_distinct(words)) * F.lit(1.0) / nw, 4)
    return (
        d.select("source", top2.alias("top2"), dr.alias("dr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("top2"), 4).alias("avg_top2_frac"),
            F.round(F.avg("dr"), 4).alias("avg_distinct_ratio"),
            F.sum((F.col("top2") > TOP2_FLAG_THRESHOLD).cast("long")).alias(
                "flagged_repetitive"
            ),
        )
    )


# --------------------------------------------------------------------------
# segment_dedup
# --------------------------------------------------------------------------

@register(
    "segment_dedup",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ), seg0 AS (
      SELECT doc_id, source, ws,
             unnest(range((len(ws) + {SEG_WORDS - 1}) // {SEG_WORDS})) AS pos
      FROM base
    ), seg AS (
      SELECT doc_id, source, pos,
             array_to_string(
               ws[pos * {SEG_WORDS} + 1 : pos * {SEG_WORDS} + {SEG_WORDS}],
               ' ') AS seg
      FROM seg0
    ), cnt AS (
      SELECT md5(seg) AS h, count(*) AS c,
             min({{'doc_id': doc_id, 'pos': pos}}) AS keeper
      FROM seg GROUP BY md5(seg) HAVING count(*) > 1
    ), marked AS (
      SELECT s.doc_id, s.source, s.pos, s.seg,
             (c IS NOT NULL AND (s.doc_id != keeper.doc_id
                                 OR s.pos != keeper.pos)) AS rm
      FROM seg s LEFT JOIN cnt ON md5(s.seg) = cnt.h
    ), per_doc AS (
      SELECT doc_id, any_value(source) AS source, count(*) AS n_segs,
             sum(CASE WHEN rm THEN 1 ELSE 0 END) AS removed,
             coalesce(string_agg(seg, ' ' ORDER BY pos)
                        FILTER (WHERE NOT rm), '') AS cleaned
      FROM marked GROUP BY doc_id
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_segs)::BIGINT AS total_segs,
           sum(removed)::BIGINT AS removed_segs,
           sum(length(cleaned))::BIGINT AS kept_chars,
           sum(CASE WHEN cleaned = '' THEN 1 ELSE 0 END)::BIGINT
             AS empty_docs,
           {_SIG_SQL.format(col="cleaned")} AS corpus_sig
    FROM per_doc GROUP BY source
    """,
)
def segment_dedup(spark, sf_dir):
    """C4-style duplicate-span removal, keep-first (Raffel et al. 2020
    §2.2), over non-overlapping 3-word segments.

    Plan: (1) row-local segmentation (transform over a sequence — no
    explode yet); (2) span counting shuffles ONLY (md5 digest,
    doc_id, pos) with map-side partial count+min — never segment
    text; (3) the duplicate-span table (count > 1, with its keeper =
    min (doc_id, pos) occurrence) broadcasts back onto the exploded
    segments; (4) one per-document regroup rebuilds the cleaned text
    in segment order (collect_list drops the null-ed removed
    segments); (5) a tiny per-source rollup with an O(1)-state
    bit_xor corpus signature. Text crosses an Exchange exactly once
    (step 4) — the irreducible cost of a corpus rewrite.

    The dup-span side is broadcast ONLY below an input-size gate: the
    duplicate-span table scales with corpus duplication (boilerplate
    spans repeat across millions of pages on a real crawl), so a
    forced broadcast OOMs the executors at 100x. Above the gate the
    hint is dropped and the join shuffles digest rows (AQE still
    converts to broadcast at runtime when the actual table is small).
    """
    raw = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # the dup table is bounded by the corpus's distinct duplicated
    # spans; under this input size it cannot approach broadcast limits
    dup_broadcastable = (
        input_bytes(raw) or SEG_DUP_BROADCAST_MAX_BYTES + 1
    ) <= SEG_DUP_BROADCAST_MAX_BYTES
    d = spread(raw)
    ex = d.select(
        "doc_id", "source", F.posexplode(seg_spans("text")).alias("pos", "seg")
    ).withColumn("h", F.md5("seg"))

    dup = (
        ex.select("h", F.struct("doc_id", "pos").alias("k"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"), F.min("k").alias("keeper"))
        .filter(F.col("c") > 1)
    )

    marked = ex.join(
        F.broadcast(dup) if dup_broadcastable else dup, "h", "left"
    ).withColumn(
        "rm",
        F.col("c").isNotNull()
        & (
            (F.col("doc_id") != F.col("keeper.doc_id"))
            | (F.col("pos") != F.col("keeper.pos"))
        ),
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.col("rm").cast("long")).alias("removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(~F.col("rm"), F.struct("pos", "seg")))
                ),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("cleaned"),
    )
    return (
        per_doc.withColumn("sig", _doc_sig(F.col("cleaned")))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_segs").alias("total_segs"),
            F.sum("removed").alias("removed_segs"),
            F.sum(F.length("cleaned")).alias("kept_chars"),
            F.sum((F.col("cleaned") == "").cast("long")).alias("empty_docs"),
            F.expr("bit_xor(sig)").alias("corpus_sig"),
        )
    )


# --------------------------------------------------------------------------
# pii_redact_stats
# --------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+1-555-\d{4}"
IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"

# Deterministic PII enrichment derived from doc_id, applied identically
# in the Spark plan and the oracle SQL (the synthetic corpus is
# punctuation-free word soup, so matches would otherwise be zero; the
# operator under test is the redaction, not the synthesis).
_ENRICH_SQL = """text
      || CASE WHEN doc_id % 5 = 0
              THEN ' contact eng' || doc_id || '@crawl-example.org'
              ELSE '' END
      || CASE WHEN doc_id % 7 = 0
              THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % 11 = 0
              THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
              ELSE '' END"""


@register(
    "pii_redact_stats",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, source, {_ENRICH_SQL} AS t FROM documents
    ), red AS (
      SELECT doc_id, source, t,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g'),
               '{IP_RE}', '<IP>', 'g') AS r
      FROM raw
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(len(regexp_extract_all(t, '{EMAIL_RE}')))::BIGINT AS emails,
           sum(len(regexp_extract_all(t, '{PHONE_RE}')))::BIGINT AS phones,
           sum(len(regexp_extract_all(t, '{IP_RE}')))::BIGINT AS ips,
           sum(length(t))::BIGINT AS chars_before,
           sum(length(r))::BIGINT AS chars_after,
           {_SIG_SQL.format(col="r")} AS corpus_sig
    FROM red GROUP BY source
    """,
)
def pii_redact_stats(spark, sf_dir):
    """Regex PII redaction (email / phone / IPv4 -> typed
    placeholders) with per-source counts and a redacted-corpus
    signature.

    Entirely map-side JVM regex (regexp_count / regexp_replace inside
    whole-stage codegen) over deterministically enriched text; the
    only Exchange is the final per-source rollup. Fixed redaction
    order (email, phone, IP) so the engines agree when patterns could
    overlap. Patterns restricted to the Java-regex ∩ RE2 dialect
    (ASCII classes, \\b, bounded quantifiers, non-capturing groups).
    """
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    doc_id = F.col("doc_id")
    raw = F.concat(
        F.col("text"),
        F.when(
            doc_id % 5 == 0,
            F.concat(
                F.lit(" contact eng"),
                doc_id.cast("string"),
                F.lit("@crawl-example.org"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 7 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((doc_id % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 11 == 0,
            F.concat(
                F.lit(" from 10."),
                (doc_id % 256).cast("string"),
                F.lit(".0."),
                (doc_id % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IP_RE,
        "<IP>",
    )
    enriched = d.select(
        "doc_id",
        "source",
        raw.alias("t"),
        red.alias("r"),
        F.regexp_count(raw, F.lit(EMAIL_RE)).alias("n_email"),
        F.regexp_count(raw, F.lit(PHONE_RE)).alias("n_phone"),
        F.regexp_count(raw, F.lit(IP_RE)).alias("n_ip"),
    )
    return (
        enriched.withColumn("sig", _doc_sig(F.col("r")))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("emails"),
            F.sum("n_phone").alias("phones"),
            F.sum("n_ip").alias("ips"),
            F.sum(F.length("t")).alias("chars_before"),
            F.sum(F.length("r")).alias("chars_after"),
            F.expr("bit_xor(sig)").alias("corpus_sig"),
        )
    )


# --------------------------------------------------------------------------
# dedup_incremental
# --------------------------------------------------------------------------

# Deterministic stand-in for the snapshot boundary: in production the
# committed corpus is "every snapshot before this run" (plans/
# checkpoint.py snapshot chain) and the new batch is the arriving crawl
# segment; here doc_id % 10 partitions the same table reproducibly.
_COMMITTED_MOD = 7  # doc_id % 10 < 7 -> committed (~70%), else new

_DEDUP_INCREMENTAL_ORACLE = f"""
    WITH committed AS (
      SELECT DISTINCT md5(text) AS h FROM documents
      WHERE doc_id % 10 < {_COMMITTED_MOD}
    ), new_docs AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
      WHERE doc_id % 10 >= {_COMMITTED_MOD}
    ), flagged AS (
      SELECT n.doc_id, n.source, n.h,
             (c.h IS NOT NULL) AS dup_vs_committed
      FROM new_docs n LEFT JOIN committed c ON n.h = c.h
    )
    SELECT source,
           count(*)::BIGINT AS n_new,
           sum(CASE WHEN dup_vs_committed THEN 1 ELSE 0 END)::BIGINT
             AS dup_vs_committed,
           count(DISTINCT CASE WHEN NOT dup_vs_committed THEN h END)::BIGINT
             AS net_new_unique,
           (sum(CASE WHEN NOT dup_vs_committed THEN 1 ELSE 0 END)
            - count(DISTINCT CASE WHEN NOT dup_vs_committed THEN h END)
           )::BIGINT AS dup_within_new
    FROM flagged GROUP BY source
    """


@register("dedup_incremental", oracle=_DEDUP_INCREMENTAL_ORACLE)
def dedup_incremental(spark, sf_dir):
    """Incremental exact dedup: a new crawl batch against the committed
    corpus. Per source of the NEW batch: arriving docs, docs whose
    content digest already exists in the committed corpus, net-new
    unique digests, and duplicates *within* the new batch itself.

    Scale shape (10^12 committed + 10^9/day arriving): the committed
    side is reduced to DISTINCT 16-byte digests before the join, so
    neither side ever ships text; the join shuffles on the digest. In
    production the committed digest table is written BUCKETED BY
    digest (bucketed parquet / Iceberg bucket transform), which makes
    this join shuffle-free on the committed side forever after — only
    the (much smaller) daily batch repartitions, and committed-vs-
    committed pairs are never re-compared. AQE handles the residual
    skew (a viral page duplicated millions of times lands in one
    digest bucket).
    """
    # digest computed at the scan, text dropped immediately: even the
    # test-only spread() repartition then moves 16-byte digests, never
    # the payload (plan-shape-tested)
    d = spread(
        table(spark, sf_dir, "documents").select(
            "doc_id", "source", F.md5("text").alias("h")
        )
    )
    committed = (
        d.filter(F.col("doc_id") % 10 < _COMMITTED_MOD)
        .select("h")
        .distinct()
        .withColumn("in_committed", F.lit(True))
    )
    new_docs = d.filter(F.col("doc_id") % 10 >= _COMMITTED_MOD).select(
        "doc_id", "source", "h"
    )
    flagged = new_docs.join(committed, "h", "left").withColumn(
        "dup_vs_committed", F.coalesce("in_committed", F.lit(False))
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(F.col("dup_vs_committed").cast("long")).alias("dup_vs_committed"),
        F.countDistinct(
            F.when(~F.col("dup_vs_committed"), F.col("h"))
        ).alias("net_new_unique"),
        (
            F.sum((~F.col("dup_vs_committed")).cast("long"))
            - F.countDistinct(F.when(~F.col("dup_vs_committed"), F.col("h")))
        ).alias("dup_within_new"),
    )


# --------------------------------------------------------------------------
# stratified_sample
# --------------------------------------------------------------------------

# Per-language keep thresholds on the first 2 hex chars of
# md5('sample:' || doc_id): '40'/256 = 25% for the dominant language,
# '80'/256 = 50% for the rest (the training-mix rebalance). Hex-string
# comparison on fixed-width lowercase hex == numeric comparison, and
# both engines produce identical md5 hex, so the keep set is
# bit-reproducible — resampling a 100 TB corpus yields the same docs
# on any engine, any partitioning, any day.
SAMPLE_THRESHOLDS = {"en": "40"}
SAMPLE_DEFAULT_THRESHOLD = "80"


@register(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5('sample:' || doc_id), 1, 2)
          < CASE lang WHEN 'en' THEN '{SAMPLE_THRESHOLDS["en"]}'
                      ELSE '{SAMPLE_DEFAULT_THRESHOLD}' END
    """,
)
def stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: keep a doc when a 1-byte md5
    prefix of its id falls under its stratum's threshold (25% for
    'en', 50% otherwise). Pure map-side filter — no shuffle at all, no
    RNG (Spark's `sample()` is seed-stable only per partitioning,
    which a 100 TB table does not keep across compactions; a
    content-keyed hash threshold is stable under any layout). The
    sampled doc ids themselves are the query output, so the driver
    compares the exact keep set, not just its size.
    """
    d = spread(table(spark, sf_dir, "documents"))
    threshold = F.when(
        F.col("lang") == "en", F.lit(SAMPLE_THRESHOLDS["en"])
    ).otherwise(F.lit(SAMPLE_DEFAULT_THRESHOLD))
    keep = (
        F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 2)
        < threshold
    )
    return d.filter(keep).select("doc_id", "lang", "source")


# --------------------------------------------------------------------------
# host_profile
# --------------------------------------------------------------------------

@register(
    "host_profile",
    oracle="""
    WITH pages AS (
      SELECT CASE WHEN doc_id % 10 < 3 THEN 'big.example.com'
                  ELSE 'site' || lpad((doc_id % 50)::VARCHAR, 2, '0')
                       || '.example.org' END AS host,
             TIMESTAMP '2026-01-01 00:00:00'
               + to_seconds(doc_id * 137) AS warc_ts
      FROM documents
    )
    SELECT host,
           count(*)::BIGINT AS n_pages,
           round(count(*) * 1.0 / (SELECT count(*) FROM pages), 4)
             AS corpus_share,
           strftime(min(warc_ts), '%Y-%m-%d %H:%M:%S') AS first_crawl,
           strftime(max(warc_ts), '%Y-%m-%d %H:%M:%S') AS last_crawl
    FROM pages GROUP BY host
    """,
)
def host_profile(spark, sf_dir):
    """Per-host crawl rollup over the synthesized pages: page count,
    corpus share, crawl-time span. This is the driver-checkable twin
    of the hot-host pre-pass (plans/pipeline.py compute_hot_hosts):
    the skewed host's row carries ~30% corpus_share, exactly the
    signal that triggers size-proportional salting. The oracle
    reconstructs hosts/timestamps arithmetically from the
    synthesizer's doc_id routing (sources/pages.py host_for/url_for).

    Scale shape: reads only (url, warc_ts) — column pruning keeps the
    html payload out of the scan at crawl scale — and shuffles one
    small rollup row per host. The total-count denominator reuses the
    same aggregate via a 1-row cross join (broadcast), not a second
    pass collected to the driver.
    """
    from ragflow_spark.plans.pipeline import host_of
    from ragflow_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    ).select("url", "warc_ts")
    per_host = pages.select(host_of(F.col("url")).alias("host"), "warc_ts").groupBy(
        "host"
    ).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.date_format(F.min("warc_ts"), "yyyy-MM-dd HH:mm:ss").alias("first_crawl"),
        F.date_format(F.max("warc_ts"), "yyyy-MM-dd HH:mm:ss").alias("last_crawl"),
    )
    total = per_host.agg(F.sum("n_pages").alias("total"))
    return per_host.crossJoin(F.broadcast(total)).select(
        "host",
        "n_pages",
        F.round(F.col("n_pages") * F.lit(1.0) / F.col("total"), 4).alias(
            "corpus_share"
        ),
        "first_crawl",
        "last_crawl",
    )


# --------------------------------------------------------------------------
# url_normalize_stats
# --------------------------------------------------------------------------

# Deterministic URL-mess enrichment (same pattern as the PII
# enrichment): each doc contributes its clean URL plus one messy
# variant — uppercased scheme/host, explicit default port, utm_*
# tracking params, fragments — so the operator under test
# (canonicalization) has real work to do. Both engines build the same
# variants from doc_id arithmetic.
_URL_HOST_SQL = """CASE WHEN doc_id % 10 < 3 THEN 'big.example.com'
             ELSE 'site' || lpad((doc_id % 50)::VARCHAR, 2, '0')
                  || '.example.org' END"""


@register(
    "url_normalize_stats",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, {_URL_HOST_SQL} AS host,
             'https://' || {_URL_HOST_SQL} || '/doc-' || doc_id AS clean,
             CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://' ELSE 'https://' END
             || CASE WHEN doc_id % 4 = 0 THEN upper({_URL_HOST_SQL})
                     ELSE {_URL_HOST_SQL} END
             || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
             || '/doc-' || doc_id
             || CASE WHEN doc_id % 3 = 0
                     THEN '?utm_source=feed&id=' || (doc_id % 9)
                     WHEN doc_id % 3 = 1 THEN '?id=' || (doc_id % 9)
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN '#sec-' || (doc_id % 7)
                     ELSE '' END AS messy
      FROM documents
    ), ex AS (
      SELECT doc_id, host, unnest([clean, messy]) AS raw FROM u
    ), norm AS (
      SELECT doc_id, host, raw,
        replace(
          regexp_replace(
            regexp_replace(
              lower(regexp_extract(regexp_replace(raw, '#.*$', ''),
                                   '^([^/]*//[^/]+)', 1))
              || regexp_extract(regexp_replace(raw, '#.*$', ''),
                                '^[^/]*//[^/]+(.*)$', 1),
              'utm_[a-z_]+=[^&#]*&', ''),
            '[?&]utm_[a-z_]+=[^&#]*$', ''),
          ':443/', '/') AS canon
      FROM ex
    )
    SELECT host,
           count(*)::BIGINT AS n_url_rows,
           count(DISTINCT raw)::BIGINT AS n_raw_distinct,
           count(DISTINCT canon)::BIGINT AS n_canon_distinct,
           sum(CASE WHEN raw LIKE '%utm\\_%' ESCAPE '\\' THEN 1 ELSE 0
               END)::BIGINT AS n_tracking,
           sum(CASE WHEN raw LIKE '%#%' THEN 1 ELSE 0 END)::BIGINT
             AS n_fragment
    FROM norm GROUP BY host
    """,
)
def url_normalize_stats(spark, sf_dir):
    """URL canonicalization — the crawl-frontier dedup primitive: the
    same page arrives as scheme/host case variants, explicit default
    ports, utm_* tracking params, and fragments; the frontier must
    collapse them BEFORE the fetch (every variant fetched is a wasted
    page at crawl scale). Canonical form: lowercase scheme+authority,
    strip :443, drop fragments, remove utm_* params (real query
    params like ?id= survive — they address different content). Per
    host: raw-vs-canonical distinct counts (the collapse is the
    value) and variant-class counts.

    Plan shape: pure Column regexp program over an exploded 2-variant
    array, one per-host rollup Exchange of six longs. The regex steps
    avoid group references in replacements (Java says $1, RE2 says
    \\1 — the one replacement that needs the authority reuses
    regexp_extract + concat instead).
    """
    d = spread(table(spark, sf_dir, "documents").select("doc_id"))
    doc_id = F.col("doc_id")
    host = host_col(doc_id)
    clean = F.concat(F.lit("https://"), host, F.lit("/doc-"), doc_id.cast("string"))
    messy = F.concat(
        F.when(doc_id % 5 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(doc_id % 4 == 0, F.upper(host)).otherwise(host),
        F.when(doc_id % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/doc-"),
        doc_id.cast("string"),
        F.when(
            doc_id % 3 == 0,
            F.concat(F.lit("?utm_source=feed&id="), (doc_id % 9).cast("string")),
        )
        .when(doc_id % 3 == 1, F.concat(F.lit("?id="), (doc_id % 9).cast("string")))
        .otherwise(F.lit("")),
        F.when(
            doc_id % 4 == 0, F.concat(F.lit("#sec-"), (doc_id % 7).cast("string"))
        ).otherwise(F.lit("")),
    )
    ex = d.select(
        "doc_id", host.alias("host"), F.explode(F.array(clean, messy)).alias("raw")
    )
    defrag = F.regexp_replace(F.col("raw"), r"#.*$", "")
    authority = F.lower(F.regexp_extract(defrag, r"^([^/]*//[^/]+)", 1))
    rest = F.regexp_extract(defrag, r"^[^/]*//[^/]+(.*)$", 1)
    canon = F.expr(
        "replace(regexp_replace(regexp_replace(_canon0, "
        "'utm_[a-z_]+=[^&#]*&', ''), '[?&]utm_[a-z_]+=[^&#]*$', ''), "
        "':443/', '/')"
    )
    normed = ex.withColumn("_canon0", F.concat(authority, rest)).withColumn(
        "canon", canon
    )
    return normed.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_url_rows"),
        F.countDistinct("raw").alias("n_raw_distinct"),
        F.countDistinct("canon").alias("n_canon_distinct"),
        F.sum(F.col("raw").contains("utm_").cast("long")).alias("n_tracking"),
        F.sum(F.col("raw").contains("#").cast("long")).alias("n_fragment"),
    )


# --------------------------------------------------------------------------
# cdx_fetch_plan
# --------------------------------------------------------------------------

@register(
    "cdx_fetch_plan",
    oracle="""
    WITH recs AS (
      SELECT 'crawl-' || lpad((doc_id % 8)::VARCHAR, 5, '0')
               || '.warc.gz' AS filename,
             md5(text) AS digest,
             (200 + (doc_id % 13) * 37)::BIGINT AS length,
             strftime(TIMESTAMP '2026-01-01 00:00:00'
                        + to_seconds(doc_id * 137),
                      '%Y%m%d%H%M%S') AS ts14
      FROM documents
    )
    SELECT filename,
           count(*)::BIGINT AS n_records,
           sum(length)::BIGINT AS total_bytes,
           count(DISTINCT digest)::BIGINT AS n_unique_digests,
           (count(*) - count(DISTINCT digest))::BIGINT AS n_dup_records,
           min(ts14) AS ts_first,
           max(ts14) AS ts_last
    FROM recs GROUP BY filename
    """,
)
def cdx_fetch_plan(spark, sf_dir):
    """Fetch planning over a Common-Crawl CDXJ capture index
    (sources/cdx.py): per WARC file, how many captures it holds, the
    bytes a fetcher must pull, how many captures are redundant
    (digest-duplicate — skip-fetchable), and the capture time span.

    The Spark side reads and PARSES the materialized CDXJ text (scan
    -> split -> from_json, map-only) while the oracle rebuilds the
    same rollup arithmetically from the documents table — so the
    driver value-checks the wire-format round trip end to end, the
    same pattern as the multimodal BINARY column. Fixed-width ts14
    strings compare lexicographically = chronologically, so min/max
    are plain string aggregates.
    """
    from ragflow_spark.sources.cdx import cdx_dir, read_cdx_index

    idx = read_cdx_index(spark, cdx_dir(spark, sf_dir))
    return idx.groupBy("filename").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("length").alias("total_bytes"),
        F.countDistinct("digest").alias("n_unique_digests"),
        (F.count(F.lit(1)) - F.countDistinct("digest")).alias("n_dup_records"),
        F.min("ts14").alias("ts_first"),
        F.max("ts14").alias("ts_last"),
    )


# --------------------------------------------------------------------------
# ngram_heavy_hitters
# --------------------------------------------------------------------------

HH_TOP_K = 25


def bigram_stream(docs):
    """(doc_id, gram) rows: word bigrams of lower(text) — the shared
    gram stream for the exact heavy-hitter plan and the count-min
    twin (operators/countmin.py)."""
    w = doc_words()
    return docs.filter(F.size(w) >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(w, i + 1), F.element_at(w, i + 2)
                ),
            )
        ).alias("gram"),
    )


@register(
    "ngram_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents
    ), grams AS (
      SELECT doc_id, w[i + 1] || ' ' || w[i + 2] AS gram
      FROM toks, unnest(range(len(w) - 1)) AS t(i)
      WHERE len(w) >= 2
    )
    SELECT gram,
           count(*)::BIGINT AS n_occ,
           count(DISTINCT doc_id)::BIGINT AS n_docs
    FROM grams GROUP BY gram
    ORDER BY n_occ DESC, gram LIMIT {HH_TOP_K}
    """,
)
def ngram_heavy_hitters(spark, sf_dir):
    """Corpus-level heavy hitters: exact top-{HH_TOP_K} word bigrams
    by occurrence count, plus document frequency — the boilerplate
    detector every crawl pipeline runs (C4's "three-sentence"
    blocklist and RefinedWeb's repeated-template removal both start
    from exactly this table: the most frequent n-grams ARE the
    boilerplate).

    Scale shape: two-phase exact counting — the explode is map-side,
    the groupBy(gram) partial-aggregates BEFORE the shuffle (hash
    partial combine collapses each task's gram multiset to one row
    per distinct gram, so the Exchange carries (gram, count, doc-set
    partial) at vocabulary cardinality, not token cardinality), and
    the final top-k is TakeOrderedAndProject — a k-row heap merge per
    partition, no global sort. The bounded-state 100 TB variant is a
    count-min sketch over the same gram stream (differentially tested
    against these exact counts in tests/test_corpus_ops.py): CMS
    trades the vocabulary-sized shuffle for a fixed w*d integer grid
    per executor at the cost of one-sided overestimate error."""
    grams = bigram_stream(spread(table(spark, sf_dir, "documents")))
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occ"), F.asc("gram"))
        .limit(HH_TOP_K)
    )


# --------------------------------------------------------------------------
# corpus_overlap_matrix
# --------------------------------------------------------------------------

# cross-source clone selector: docs with doc_id % 23 == 3 are planted
# into the NEXT source (cyclic by sorted source name) under a
# max(doc_id)-derived id, so the overlap matrix has deterministic
# off-diagonal mass at every sf (the raw corpus has no cross-source
# exact dups below sf0.1).
XSRC_MOD, XSRC_RESIDUE = 23, 3


@register(
    "corpus_overlap_matrix",
    oracle=f"""
    WITH srcs AS (
      SELECT source, row_number() OVER (ORDER BY source) AS rn
      FROM (SELECT DISTINCT source FROM documents)
    ), ns AS (SELECT count(*) AS n FROM srcs),
    nextmap AS (
      SELECT a.source, b.source AS nxt
      FROM srcs a
      JOIN ns ON true
      JOIN srcs b ON b.rn = a.rn % ns.n + 1
    ), mx AS (SELECT max(doc_id) + 1 AS off FROM documents),
    corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT d.doc_id + (SELECT off FROM mx), m.nxt, d.text
      FROM documents d JOIN nextmap m ON d.source = m.source
      WHERE d.doc_id % {XSRC_MOD} = {XSRC_RESIDUE}
    ), dd AS (
      SELECT DISTINCT source, md5(text) AS h FROM corpus
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*)::BIGINT AS n_shared
    FROM dd a JOIN dd b ON a.h = b.h AND a.source < b.source
    GROUP BY source_a, source_b
    """,
)
def corpus_overlap_matrix(spark, sf_dir):
    """Cross-source overlap audit: for every source pair, how many
    distinct document digests they share — the table a dedup/mix
    planner reads before deciding which sources to dedup against
    which (e.g. how much of a new crawl snapshot is already inside
    the books/reference slice; Dolma and RefinedWeb both publish
    exactly this inter-source dup accounting). Clones are planted
    cyclically into the next source (max(doc_id)-derived ids — the
    manifest enrichment pattern) so every sf has deterministic
    off-diagonal mass; at sf0.1 the corpus adds 8 organic shared
    digests on top.

    Scale shape: the matrix is computed entirely on (source, digest)
    pairs — text reduces to md5 map-side and never crosses the wire;
    the distinct + self-join shuffle on the 16-byte digest, and the
    output is |S|^2/2 rows max. The source->next map is a bounded
    driver collect (|S| rows, IVF-centroid pattern)."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )
    srcs = sorted(
        r["source"] for r in d.select("source").distinct().collect()
    )
    nxt = {s: srcs[(i + 1) % len(srcs)] for i, s in enumerate(srcs)}
    off = d.agg(F.max("doc_id")).first()[0] + 1
    nextmap = spark.createDataFrame(
        [(s, nxt[s]) for s in srcs], "source string, nxt string"
    )
    clones = (
        d.filter(F.col("doc_id") % XSRC_MOD == XSRC_RESIDUE)
        .join(F.broadcast(nextmap), "source")
        .select(
            (F.col("doc_id") + F.lit(off)).alias("doc_id"),
            F.col("nxt").alias("source"),
            "text",
        )
    )
    corpus = d.unionByName(clones)
    dd = corpus.select("source", F.md5("text").alias("h")).distinct()
    a = dd.select(F.col("source").alias("source_a"), "h")
    b = dd.select(F.col("source").alias("source_b"), F.col("h").alias("hb"))
    return (
        a.join(b, (F.col("h") == F.col("hb")) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --------------------------------------------------------------------------
# crawl_snapshot_diff
# --------------------------------------------------------------------------

# Deterministic stand-ins for two crawl snapshots of the same URL
# space (production: two CDX-indexed monthly crawls): the previous
# crawl misses doc_id % 19 == 3, the current crawl misses
# doc_id % 23 == 5, and pages with doc_id % 7 == 2 were re-rendered
# between the crawls (content revision marker appended), so the diff
# has real rows in every class — added, removed, changed, unchanged.
_SNAP_PREV_DROP = 19
_SNAP_CURR_DROP = 23
_SNAP_REV_MOD = 7

_CRAWL_DIFF_ORACLE = f"""
    WITH prev AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
      WHERE doc_id % {_SNAP_PREV_DROP} != 3
    ), curr AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % {_SNAP_REV_MOD} = 2
                      THEN text || ' <rev>' ELSE text END) AS h
      FROM documents WHERE doc_id % {_SNAP_CURR_DROP} != 5
    ), j AS (
      SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
             coalesce(p.source, c.source) AS source,
             p.h AS hp, c.h AS hc
      FROM prev p FULL OUTER JOIN curr c
        ON p.doc_id = c.doc_id AND p.source = c.source
    )
    SELECT source,
           count(hp)::BIGINT AS n_prev,
           count(hc)::BIGINT AS n_curr,
           sum(CASE WHEN hp IS NULL THEN 1 ELSE 0 END)::BIGINT AS added,
           sum(CASE WHEN hc IS NULL THEN 1 ELSE 0 END)::BIGINT AS removed,
           sum(CASE WHEN hp IS NOT NULL AND hc IS NOT NULL
                         AND hp != hc THEN 1 ELSE 0 END)::BIGINT AS changed,
           sum(CASE WHEN hp = hc THEN 1 ELSE 0 END)::BIGINT AS unchanged,
           bit_xor(CASE WHEN hp IS NOT NULL AND hc IS NOT NULL
                             AND hp != hc THEN doc_id END)::BIGINT
             AS changed_sig,
           CASE WHEN count(hc) > 0 THEN
             round((sum(CASE WHEN hp IS NULL THEN 1 ELSE 0 END)
                    + sum(CASE WHEN hc IS NULL THEN 1 ELSE 0 END)
                    + sum(CASE WHEN hp IS NOT NULL AND hc IS NOT NULL
                                    AND hp != hc THEN 1 ELSE 0 END)) * 1.0
                   / count(hc), 4)
           END AS churn_ratio
    FROM j GROUP BY source
    """


@register("crawl_snapshot_diff", oracle=_CRAWL_DIFF_ORACLE)
def crawl_snapshot_diff(spark, sf_dir):
    """Re-crawl change detection: diff two crawl snapshots of the same
    URL space by content digest and account, per source, for pages
    added, removed, changed (present in both crawls with a different
    digest), and unchanged — plus a bit_xor signature of the changed
    page ids (order-independent, so the driver's hash compare pins the
    exact changed SET, not just its size) and the churn ratio
    (added+removed+changed over the current crawl's page count). This
    is the standard between-crawls job a Common-Crawl-style pipeline
    runs to decide what to re-extract and what to serve from the
    committed store (the plans/checkpoint.py snapshot chain is the
    intra-run form of the same idea).

    Scale shape (two ~3*10^9-page crawls): both sides reduce to
    (page_key, source, 16-byte digest) AT THE SCAN — text never
    crosses the wire — and the diff is one full-outer sort-merge join
    on the page key followed by a per-source rollup whose counts are
    map-side partials. In production both snapshot digest tables are
    written bucketed by page key (Iceberg bucket transform, same as
    dedup_incremental's committed side), which makes the monthly diff
    join shuffle-free; AQE absorbs host-level skew. The revision
    marker/drop moduli are synthesis-only knobs, not operator
    parameters."""
    d = spread(
        table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    prev = d.filter(F.col("doc_id") % _SNAP_PREV_DROP != 3).select(
        "doc_id", "source", F.md5("text").alias("hp")
    )
    curr = d.filter(F.col("doc_id") % _SNAP_CURR_DROP != 5).select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("doc_id") % _SNAP_REV_MOD == 2,
                F.concat(F.col("text"), F.lit(" <rev>")),
            ).otherwise(F.col("text"))
        ).alias("hc"),
    )
    j = prev.join(curr, ["doc_id", "source"], "full_outer")
    is_changed = (
        F.col("hp").isNotNull()
        & F.col("hc").isNotNull()
        & (F.col("hp") != F.col("hc"))
    )
    return j.groupBy("source").agg(
        F.count("hp").alias("n_prev"),
        F.count("hc").alias("n_curr"),
        F.sum(F.col("hp").isNull().cast("long")).alias("added"),
        F.sum(F.col("hc").isNull().cast("long")).alias("removed"),
        F.sum(is_changed.cast("long")).alias("changed"),
        # count(when(...)) not sum(cast): a source with zero
        # both-present rows must yield 0 like the oracle's ELSE 0,
        # not the NULL a sum over all-NULL comparisons returns
        F.count(F.when(F.col("hp") == F.col("hc"), 1)).alias("unchanged"),
        F.expr(
            "bit_xor(case when hp is not null and hc is not null "
            "and hp != hc then doc_id end)"
        ).alias("changed_sig"),
        # explicit NULL on an all-removed source: Spark and DuckDB
        # disagree on float x/0 (NULL vs IEEE inf), so neither side
        # may reach the division with a zero denominator
        F.when(
            F.count("hc") > 0,
            F.round(
                (
                    F.sum(F.col("hp").isNull().cast("long"))
                    + F.sum(F.col("hc").isNull().cast("long"))
                    + F.sum(is_changed.cast("long"))
                )
                * F.lit(1.0)
                / F.count("hc"),
                4,
            ),
        ).alias("churn_ratio"),
    )


# --------------------------------------------------------------------------
# robots_fetch_filter
# --------------------------------------------------------------------------

# Deterministic per-host robots.txt stand-in (same synthesis-enrichment
# pattern as the URL-mess/PII operators): every host publishes one
# Disallow PATH PREFIX and a Crawl-delay. Prefixes are real prefix
# rules, not exact paths — '/doc-3' blocks /doc-3, /doc-30..39,
# /doc-300..399 — so the operator must do string prefix matching, which
# is robots.txt's actual longest-prefix semantics (RFC 9309 §2.2).
#   big.example.com  -> Disallow: /doc-3,           Crawl-delay: 1
#   siteNN.example.org -> Disallow: /doc-(NN % 10), Crawl-delay: 1 + NN % 5

_ROBOTS_ORACLE = f"""
    WITH pages AS (
      SELECT doc_id, {_URL_HOST_SQL} AS host,
             '/doc-' || doc_id AS path
      FROM documents
    ), rules AS (
      SELECT host,
             CASE WHEN host = 'big.example.com' THEN '/doc-3'
                  ELSE '/doc-' ||
                       (regexp_extract(host, 'site(\\d+)', 1)::INT % 10)
             END AS disallow_prefix,
             CASE WHEN host = 'big.example.com' THEN 1
                  ELSE 1 + regexp_extract(host, 'site(\\d+)', 1)::INT % 5
             END AS crawl_delay_s
      FROM (SELECT DISTINCT host FROM pages)
    )
    SELECT p.host,
           max(r.crawl_delay_s)::BIGINT AS crawl_delay_s,
           count(*)::BIGINT AS n_pages,
           sum(CASE WHEN starts_with(p.path, r.disallow_prefix)
                    THEN 1 ELSE 0 END)::BIGINT AS n_blocked,
           sum(CASE WHEN starts_with(p.path, r.disallow_prefix)
                    THEN 0 ELSE 1 END)::BIGINT AS n_allowed,
           (sum(CASE WHEN starts_with(p.path, r.disallow_prefix)
                     THEN 0 ELSE 1 END)
            * max(r.crawl_delay_s))::BIGINT AS fetch_eta_s
    FROM pages p JOIN rules r USING (host)
    GROUP BY p.host
    """


def _robots_rules(spark, sf_dir):
    """Per-host robots rule table (one Disallow prefix + Crawl-delay
    per host, module comment above has the arithmetic), shared by the
    compliance gate and the frontier scheduler. Host list from the
    documents table's id arithmetic (host_for mirror), NOT from the
    pages source: the pages source renders html through mapInPandas,
    so a second subtree over it would re-render every page just to
    list ~50 hosts — in production the rule table comes from the
    robots-fetch side channel, never from scanning the frontier."""
    nn = F.regexp_extract("host", "site(\\d+)", 1).cast("int")
    hosts = (
        table(spark, sf_dir, "documents")
        .select(
            host_col(F.col("doc_id")).alias("host")
        )
        .distinct()
    )
    return hosts.select(
        "host",
        F.when(F.col("host") == SKEWED_HOST, F.lit("/doc-3"))
        .otherwise(
            F.concat(F.lit("/doc-"), (nn % 10).cast("string"))
        )
        .alias("disallow_prefix"),
        F.when(F.col("host") == SKEWED_HOST, F.lit(1))
        .otherwise(F.lit(1) + nn % 5)
        .alias("crawl_delay_s"),
    )


@register("robots_fetch_filter", oracle=_ROBOTS_ORACLE)
def robots_fetch_filter(spark, sf_dir):
    """Robots.txt compliance over the fetch frontier — the politeness
    gate every crawler runs between the fetch plan (cdx_fetch_plan)
    and the fetcher: join the frontier against the per-host rule
    table, drop Disallow'd paths by PREFIX match (RFC 9309 §2.2
    semantics — '/doc-3' blocks /doc-30x too), and per host report
    blocked/allowed page counts plus the serial fetch ETA implied by
    the host's Crawl-delay (n_allowed * delay: one host is one polite
    fetch queue). Integer outputs only.

    Scale shape: the rule table is one row per host (~10^7 hosts for
    the full web — a few hundred MB of prefixes) and BROADCASTS to the
    frontier scan, so the frontier — 10^9+ urls per crawl — never
    shuffles for the compliance check; the only Exchange is the
    per-host count rollup. The rules here are synthesized from host
    arithmetic (module comment); in production they come from the
    robots-fetch side channel keyed the same way."""
    from ragflow_spark.plans.pipeline import host_of
    from ragflow_spark.sources.pages import synthesize_pages

    pg = synthesize_pages(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    ).select(
        host_of(F.col("url")).alias("host"),
        F.regexp_extract("url", "^[a-z]+://[^/]+(/.*)$", 1).alias("path"),
    )
    rules = _robots_rules(spark, sf_dir)
    j = pg.join(F.broadcast(rules), "host")
    blocked = F.col("path").startswith(F.col("disallow_prefix"))
    return (
        j.groupBy("host")
        .agg(
            F.max("crawl_delay_s").cast("long").alias("crawl_delay_s"),
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(blocked.cast("long")).alias("n_blocked"),
            F.sum((~blocked).cast("long")).alias("n_allowed"),
        )
        .select(
            "host",
            "crawl_delay_s",
            "n_pages",
            "n_blocked",
            "n_allowed",
            (F.col("n_allowed") * F.col("crawl_delay_s")).alias(
                "fetch_eta_s"
            ),
        )
    )


# --------------------------------------------------------------------------
# fetch_schedule
# --------------------------------------------------------------------------

_FETCH_SCHEDULE_ORACLE = f"""
    WITH frontier AS (
      SELECT doc_id, {_URL_HOST_SQL} AS host,
             '/doc-' || doc_id AS path,
             'https://' || {_URL_HOST_SQL} || '/doc-' || doc_id AS url
      FROM documents
    ), rules AS (
      SELECT host,
             CASE WHEN host = 'big.example.com' THEN '/doc-3'
                  ELSE '/doc-' ||
                       (regexp_extract(host, 'site(\\d+)', 1)::INT % 10)
             END AS disallow_prefix,
             CASE WHEN host = 'big.example.com' THEN 1
                  ELSE 1 + regexp_extract(host, 'site(\\d+)', 1)::INT % 5
             END AS crawl_delay_s
      FROM (SELECT DISTINCT host FROM frontier)
    ), allowed AS (
      SELECT f.doc_id, f.host, r.crawl_delay_s,
             ('0x' || substr(md5(f.url), 1, 8))::BIGINT AS priority
      FROM frontier f JOIN rules r USING (host)
      WHERE NOT starts_with(f.path, r.disallow_prefix)
    ), slotted AS (
      SELECT doc_id, host, crawl_delay_s, priority,
             row_number() OVER (
               PARTITION BY host ORDER BY priority DESC, doc_id ASC
             ) - 1 AS slot
      FROM allowed
    )
    SELECT host,
           max(crawl_delay_s)::BIGINT AS crawl_delay_s,
           count(*)::BIGINT AS n_scheduled,
           max(slot * crawl_delay_s)::BIGINT AS makespan_s,
           max(CASE WHEN slot = 0 THEN doc_id END)::BIGINT AS first_doc,
           bit_xor(doc_id * (slot + 1))::BIGINT AS sched_sig
    FROM slotted GROUP BY host
    """


@register("fetch_schedule", oracle=_FETCH_SCHEDULE_ORACLE)
def fetch_schedule(spark, sf_dir):
    """Frontier fetch scheduling — the Mercator back-end-queue stage
    (Heydon & Najork 1999 §3.2; the URL frontier in every production
    crawler) that sits between the politeness gate
    (robots_fetch_filter, whose rule table this shares via
    ``_robots_rules``) and the fetchers: Disallow'd paths drop out,
    every allowed url gets a deterministic md5-derived priority, and
    each host serializes its fetches into slots (one fetch per
    Crawl-delay interval — the host IS the queue). Per host:
    scheduled-url count, the makespan implied by the last slot, the
    slot-0 winner, and a bit_xor signature binding every url to its
    slot so any two engines computing a different schedule disagree
    loudly.

    Scale shape (10^9-url frontier): the frontier is id arithmetic
    from the scan (in production the discovered-links store — a url
    list, never the html corpus); the ~10^7-row rule table broadcasts
    (robots_fetch_filter's story), so blocked urls die map-side; the
    one Exchange partitions by HOST for the slot window — per-host
    queues, never a global sort — and AQE's skew handling covers the
    viral-host partition the same way extraction's salting does
    (makespan, not partition size, is the skewed host's real cost:
    the schedule says so via crawl_delay * n)."""
    docs = spread(table(spark, sf_dir, "documents").select("doc_id"))
    host = host_col(F.col("doc_id"))
    frontier = docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("/doc-"), F.col("doc_id").cast("string")).alias("path"),
    ).withColumn(
        "url", F.concat(F.lit("https://"), F.col("host"), F.col("path"))
    )
    rules = _robots_rules(spark, sf_dir)
    allowed = (
        frontier.join(F.broadcast(rules), "host")
        .filter(~F.col("path").startswith(F.col("disallow_prefix")))
        .select(
            "doc_id",
            "host",
            "crawl_delay_s",
            F.conv(F.substring(F.md5(F.col("url")), 1, 8), 16, 10)
            .cast("long")
            .alias("priority"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("doc_id")
    )
    slotted = allowed.withColumn(
        "slot", F.row_number().over(w) - F.lit(1)
    )
    return slotted.groupBy("host").agg(
        F.max("crawl_delay_s").cast("long").alias("crawl_delay_s"),
        F.count(F.lit(1)).alias("n_scheduled"),
        F.max(F.col("slot") * F.col("crawl_delay_s"))
        .cast("long")
        .alias("makespan_s"),
        F.max(F.when(F.col("slot") == 0, F.col("doc_id")))
        .cast("long")
        .alias("first_doc"),
        F.expr("bit_xor(doc_id * (slot + 1))").alias("sched_sig"),
    )


# --------------------------------------------------------------------------
# host_boilerplate_stats
# --------------------------------------------------------------------------

# a span is host-boilerplate when it appears in >= NUM/DEN of the
# host's documents (integer cross-multiply — no float at the cut)
BOILER_NUM, BOILER_DEN = 1, 4
# host_boilerplate_table refuses to collect a table this large
BOILER_TABLE_CAP = 100_000


def _is_boiler():
    """The boilerplate rule over (present, host_docs) columns: the span
    is in >= BOILER_NUM/BOILER_DEN of the host's docs."""
    present, host_docs = F.col("present"), F.col("host_docs")
    return present * F.lit(BOILER_DEN) >= host_docs * F.lit(BOILER_NUM)


@register(
    "host_boilerplate_stats",
    oracle=f"""
    WITH enriched AS (
      -- deterministic enrichment (the decontaminate_stats pattern):
      -- the synthetic corpus has no real site chrome, so 2/3 of each
      -- host's docs get a 3-word host banner PREPENDED (exactly one
      -- segment; the original segmentation shifts intact)
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 <> 0
                  THEN 'nav ' || source || ' footer ' || text
                  ELSE text END AS text
      FROM documents
    ), base AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM enriched
    ), seg0 AS (
      SELECT doc_id, source, ws,
             unnest(range((len(ws) + {SEG_WORDS - 1}) // {SEG_WORDS})) AS pos
      FROM base
    ), seg AS (
      SELECT doc_id, source,
             array_to_string(
               ws[pos * {SEG_WORDS} + 1 : pos * {SEG_WORDS} + {SEG_WORDS}],
               ' ') AS seg
      FROM seg0
    ), occ AS (
      SELECT source, md5(seg) AS h,
             count(*)::BIGINT AS occ,
             count(DISTINCT doc_id)::BIGINT AS present
      FROM seg GROUP BY source, md5(seg)
    ), hd AS (
      SELECT source, count(*)::BIGINT AS host_docs FROM base GROUP BY source
    )
    SELECT source,
           any_value(host_docs)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_spans,
           sum(CASE WHEN present * {BOILER_DEN} >= host_docs * {BOILER_NUM}
                    THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
           round(sum(CASE WHEN present * {BOILER_DEN}
                               >= host_docs * {BOILER_NUM}
                          THEN occ ELSE 0 END) * 1.0 / sum(occ), 4)
             AS boiler_occ_share,
           bit_xor(CASE WHEN present * {BOILER_DEN} >= host_docs * {BOILER_NUM}
                        THEN ('0x' || substring(h, 1, 15))::BIGINT
                        ELSE 0 END)::BIGINT AS boiler_sig
    FROM occ JOIN hd USING (source)
    GROUP BY source
    """,
)
def host_boilerplate_stats(spark, sf_dir):
    """Host-level frequent-span boilerplate detection — the CCNet /
    RefinedWeb corpus-side filter ("discard lines repeated across a
    site") that complements the per-page tag/text-density heuristics
    the extraction kernel runs: a {SEG_WORDS}-word span (`seg_spans`,
    the segment_dedup segmentation) is BOILERPLATE on a
    host when it appears in at least {BOILER_NUM}/{BOILER_DEN} of
    that host's documents — nav bars, cookie banners, and footers hit
    this on every real site while body text never does. Output per
    host: doc/span counts, how many spans are boilerplate, the share
    of all span OCCURRENCES they account for (what a removal pass
    would delete), and a bit_xor signature over the boilerplate span
    digests that pins the exact detected set. The synthetic corpus
    carries no real site chrome, so the operator plants it: 2/3 of
    each host's docs get a deterministic 3-word host banner prepended
    (the decontaminate_stats enrichment pattern), giving the detector
    true positives to find on both engines.

    Scale shape: the span count shuffles (source, 16-byte digest)
    rows ONLY with map-side partial count + distinct — span text
    never crosses an Exchange (the segment_dedup rule); the per-host
    doc count folds back broadcast; the threshold is an integer
    cross-multiply so no float sits at the detect boundary. At crawl
    scale this is per-host work with no cross-host traffic at all —
    the partitioning key IS the host."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
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
    ex = d.select(
        "doc_id", "source", F.explode(seg_spans("text")).alias("seg")
    ).withColumn("h", F.md5("seg"))
    occ = ex.groupBy("source", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("occ"),
        F.countDistinct("doc_id").cast("bigint").alias("present"),
    )
    hd = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("host_docs")
    )
    boiler = _is_boiler()
    sigv = F.conv(F.substring("h", 1, 15), 16, 10).cast("long")
    flagged = occ.join(F.broadcast(hd), "source").select(
        "source",
        "host_docs",
        "occ",
        boiler.alias("boiler"),
        F.when(boiler, sigv).otherwise(F.lit(0)).alias("sigv"),
    )
    return flagged.groupBy("source").agg(
        F.first("host_docs").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("boiler").cast("long")).cast("bigint").alias("n_boiler"),
        F.round(
            F.sum(F.when(F.col("boiler"), F.col("occ")).otherwise(0))
            * F.lit(1.0)
            / F.sum("occ"),
            4,
        ).alias("boiler_occ_share"),
        F.expr("bit_xor(sigv)").alias("boiler_sig"),
    )


def host_boilerplate_table(docs) -> dict[str, frozenset[str]]:
    """Frozen (source -> boilerplate span digests) table from a
    committed-corpus pass — the static side the streaming scrub gate
    (streaming/boiler_gate.py) applies to new crawl batches, the way
    dsir_lambda_table / the classifier weights freeze their batch
    models. Same detection rule as host_boilerplate_stats (span in
    >= BOILER_NUM/BOILER_DEN of the host's docs, integer
    cross-multiply). The collect is bounded BY DEFINITION: a span
    must repeat across >= 1/BOILER_DEN of a host's pages to qualify,
    so a host contributes at most BOILER_DEN * (spans per page)
    digests regardless of corpus size (site chrome, not body text);
    a loud cap enforces that assumption."""
    ex = docs.select(
        "doc_id", "source", F.explode(seg_spans("text")).alias("seg")
    ).withColumn("h", F.md5("seg"))
    occ = ex.groupBy("source", "h").agg(
        F.countDistinct("doc_id").alias("present")
    )
    hd = docs.groupBy("source").agg(F.count(F.lit(1)).alias("host_docs"))
    flagged = (
        occ.join(F.broadcast(hd), "source")
        .filter(_is_boiler())
        .select("source", "h")
    )
    # the bound is enforced by the collect itself: limit(CAP) never
    # brings more than CAP rows to the driver, and hitting the cap
    # means the table is at least that large. One job: a separate
    # count() would recompute the segmentation and aggregation.
    rows = flagged.limit(BOILER_TABLE_CAP).collect()
    if len(rows) >= BOILER_TABLE_CAP:
        raise ValueError(
            f"boilerplate table unexpectedly large (>= {BOILER_TABLE_CAP} "
            "spans): the frequent-span definition should bound it at "
            "site-chrome size — refusing to collect to the driver"
        )
    table_: dict[str, set] = {}
    for r in rows:
        table_.setdefault(r.source, set()).add(r.h)
    return {s: frozenset(hs) for s, hs in table_.items()}
