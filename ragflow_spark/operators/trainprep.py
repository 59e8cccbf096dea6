"""Training-run preparation operators: the last mile between a cleaned
corpus and a trainer's data loader.

Three stages every large-scale LLM data pipeline runs after dedup/
cleanup (none exist in the reference, whose ingest stops at chunking —
agent/component has no corpus analytics at all):

* ``decontaminate_stats`` — benchmark decontamination by word n-gram
  overlap (GPT-3, Brown et al. 2020 §C; PaLM, Chowdhery et al. 2022
  §4): flag any training document sharing an 8-gram with a held-out
  eval set. The eval set is synthesized deterministically from the
  corpus itself (first 8-gram of every ``doc_id % 41 == 0`` doc) and
  contamination is *injected* into victim docs (``doc_id % 17 == 5``)
  the same way the PII/URL operators enrich their inputs, so the
  operator has real cross-document hits to find, not just the eval
  docs matching themselves.
* ``pack_sequences`` — concat-and-chunk sequence packing stats (the
  GPT-2/3 data loader: concatenate documents in a fixed order, slice
  into fixed-length training sequences): per source, how many
  sequences a 128-token packing yields, how many documents straddle a
  sequence boundary, and the padding overhead of the ragged tail.
* ``lm_quality_stats`` — CCNet-style language-model quality filter
  (Wenzek et al. 2020 §4.3): score each document by its unigram
  cross-entropy under a corpus-derived top-V vocabulary LM and flag
  high-perplexity (OOV-heavy) documents.

Scale notes (100 TB):

* ``decontaminate_stats`` checks membership with a BROADCAST left-semi
  join of exploded doc 8-grams against the eval-gram table: the
  exploded side never shuffles (map-side broadcast hash join), and
  only the matched (doc_id, source) pairs — a tiny fraction of the
  corpus by construction — reach the distinct/rollup Exchange. Real
  eval suites are ~10^5..10^6 grams: comfortably broadcastable; at
  the extreme end the same plan swaps the semi-join for a broadcast
  Bloom filter with identical dataflow. Document text never crosses
  the wire.
* ``pack_sequences`` is the one operator here whose semantics *need*
  a total order (cum-sum of token counts per source). The running sum
  is a sort-based window — Spark range-partitions and spills, state
  is O(1) per row, not the r3 percentile failure mode — but at 10^12
  docs a production packer runs the same window per SHARD (pack
  within partition, pad each shard's tail) to avoid the global sort;
  the per-source form here is the driver-checkable semantic twin.
* ``lm_quality_stats`` is two-pass: pass 1 reduces the corpus to V+1
  doubles (top-V unigram probabilities + OOV floor) via a map-side-
  combined word count — the ONE shuffle ships (word, partial-count)
  pairs over a 10^5-ish vocabulary, then a bounded driver collect of
  V rows (the IVF-centroid pattern, registry contract for constant
  derivations). Pass 2 is pure map-side: per-doc cross-entropy via a
  literal word->bits map, then a per-source rollup of three doubles.

Oracle parity notes: the per-word bit costs are computed ONCE,
driver-side, with C-libm ``math.log2`` and rounded to 6 decimals; the
DuckDB oracle rounds its own ``log2`` the same way (both bind the
platform libm, unlike ``F.log2``'s JVM StrictMath, which can differ in
the last ulp). Per-doc scores round to 4 decimals on both engines per
the registry contract.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ragflow_spark.operators.registry import register, spread, table
from ragflow_spark.operators.similarity import cosine
from ragflow_spark.operators.textops import doc_words

# decontamination: n-gram width (GPT-3 used 13-grams over BPE tokens;
# the word-soup corpus has ~10-80 word docs, so 8 keeps every doc
# checkable), eval-doc selector, victim selector.
DECONTAM_NGRAM = 8
EVAL_DOC_MOD = 41
VICTIM_MOD, VICTIM_RESIDUE = 17, 5

# packing: training sequence length in whitespace tokens.
PACK_SEQ_LEN = 128

# LM quality: vocabulary size of the unigram model and the
# cross-entropy flag threshold (bits/token; measured corpus range is
# ~6.8..13.2 with V=16, so 10.2 splits off the OOV-heavy tail).
LM_VOCAB_TOP = 16
LM_XENT_FLAG_BITS = 10.2

# training-mix: fraction of the corpus token count the run may consume
# and the temperature exponent on raw source shares (mT5, Xue et al.
# 2021 §3.1: alpha=0.3 upweights small sources without letting any
# source dominate).
MIX_TARGET_FRAC = 0.6
MIX_TEMPERATURE = 0.3


def word_ngrams(ws, n: int = DECONTAM_NGRAM):
    """Array of space-joined word n-grams of ``ws`` (empty when the
    doc is shorter than n). Shared by the batch decontamination
    operator and the streaming decontamination gate."""
    nw = F.size(ws)
    return F.when(
        nw >= n,
        F.transform(
            F.sequence(F.lit(0), nw - n),
            lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# --------------------------------------------------------------------------
# decontaminate_stats
# --------------------------------------------------------------------------

@register(
    "decontaminate_stats",
    oracle=f"""
    WITH base0 AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ), bench AS (
      SELECT array_to_string(ws[1:{DECONTAM_NGRAM}], ' ') AS g,
             row_number() OVER (ORDER BY doc_id) AS rn
      FROM base0
      WHERE doc_id % {EVAL_DOC_MOD} = 0 AND len(ws) >= {DECONTAM_NGRAM}
    ), nb AS (
      SELECT count(*) AS n FROM bench
    ), enriched AS (
      SELECT b.doc_id, b.source,
             CASE WHEN b.doc_id % {VICTIM_MOD} = {VICTIM_RESIDUE}
                       AND bg.g IS NOT NULL
                  THEN list_concat(b.ws, string_split(bg.g, ' '))
                  ELSE b.ws END AS ws
      FROM base0 b
      CROSS JOIN nb
      LEFT JOIN bench bg
        ON bg.rn = (b.doc_id % greatest(nb.n, 1)) + 1
    ), grams AS (
      SELECT doc_id, source,
             array_to_string(ws[i + 1:i + {DECONTAM_NGRAM}], ' ') AS g
      FROM enriched, unnest(range(len(ws) - {DECONTAM_NGRAM - 1})) AS t(i)
      WHERE len(ws) >= {DECONTAM_NGRAM}
    ), cont AS (
      SELECT DISTINCT gr.doc_id, gr.source
      FROM grams gr JOIN bench b ON gr.g = b.g
    ), tot AS (
      SELECT source, count(*) AS n_docs FROM enriched GROUP BY source
    ), cc AS (
      SELECT source, count(*) AS n_cont FROM cont GROUP BY source
    )
    SELECT t.source,
           t.n_docs::BIGINT AS n_docs,
           coalesce(cc.n_cont, 0)::BIGINT AS n_contaminated,
           round(coalesce(cc.n_cont, 0) * 1.0 / t.n_docs, 4)
             AS contamination_rate
    FROM tot t LEFT JOIN cc ON t.source = cc.source
    """,
)
def decontaminate_stats(spark, sf_dir):
    """Benchmark decontamination by 8-gram overlap (GPT-3 §C).

    Eval set = first 8-gram of every ``doc_id % 41 == 0`` doc (built
    from the ORIGINAL text); victims (``doc_id % 17 == 5``) get one
    eval gram appended, round-robin by doc_id — both engines rebuild
    the identical enrichment, so the operator is checked on real
    cross-document contamination, not just eval self-matches.

    The membership check is a broadcast left-semi join of exploded doc
    8-grams against the eval grams: map-side only, no shuffle of the
    exploded side; only matched (doc_id, source) ids reach the
    distinct. The victim enrichment picks its injected gram via a
    broadcast LEFT join on the round-robin rank — NOT a plan literal:
    the synthesized eval set grows with scale factor, and an
    element_at over an N-element literal array bloats Catalyst
    codegen linearly with N (r4 ADVICE). The bounded driver collect
    of the eval grams (the IVF-centroid pattern) stays.
    """
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    words = F.split(F.col("text"), " ")

    first_gram = F.array_join(F.slice(words, 1, DECONTAM_NGRAM), " ")
    bench_rows = (
        d.filter(
            (F.col("doc_id") % EVAL_DOC_MOD == 0)
            & (F.size(words) >= DECONTAM_NGRAM)
        )
        .select("doc_id", first_gram.alias("g"))
        .orderBy("doc_id")
        .collect()
    )
    bench = [r["g"] for r in bench_rows]
    n_bench = max(len(bench), 1)

    bench_rn_df = spark.createDataFrame(
        [(i + 1, g) for i, g in enumerate(bench)] or [(1, None)],
        "rn int, g_inj string",
    )
    is_victim = F.col("doc_id") % VICTIM_MOD == VICTIM_RESIDUE
    joined = d.join(
        F.broadcast(bench_rn_df),
        (F.col("doc_id") % n_bench + 1).cast("int") == F.col("rn"),
        "left",
    )
    ws = F.when(
        is_victim & F.col("g_inj").isNotNull(),
        F.concat(words, F.split("g_inj", " ")),
    ).otherwise(words)

    grams = word_ngrams(ws)

    enriched = joined.select("doc_id", "source", grams.alias("grams"))
    bench_df = spark.createDataFrame([(g,) for g in bench] or [("",)], ["g"])
    contaminated = (
        enriched.select("doc_id", "source", F.explode("grams").alias("g"))
        .join(F.broadcast(bench_df), "g", "left_semi")
        .select("doc_id", "source")
        .distinct()
    )
    totals = enriched.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    cont = contaminated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_cont")
    )
    return (
        totals.join(cont, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_cont", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce("n_cont", F.lit(0)) * F.lit(1.0) / F.col("n_docs"), 4
            ).alias("contamination_rate"),
        )
    )


# --------------------------------------------------------------------------
# pack_sequences
# --------------------------------------------------------------------------

@register(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS nt
      FROM documents
    ), w AS (
      SELECT source, doc_id, nt,
             coalesce(sum(nt) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cb
      FROM toks
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(nt)::BIGINT AS total_tokens,
           ((sum(nt) + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN})::BIGINT
             AS n_sequences,
           sum(CASE WHEN (cb + nt - 1) // {PACK_SEQ_LEN}
                         > cb // {PACK_SEQ_LEN}
                    THEN 1 ELSE 0 END)::BIGINT AS n_split_docs,
           (((sum(nt) + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN})
              * {PACK_SEQ_LEN} - sum(nt))::BIGINT AS pad_tokens,
           round((((sum(nt) + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN})
                    * {PACK_SEQ_LEN} - sum(nt)) * 1.0
                 / (((sum(nt) + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN})
                    * {PACK_SEQ_LEN}), 4) AS pad_frac
    FROM w GROUP BY source
    """,
)
def pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing stats at 128 tokens/sequence.

    Documents concatenate per source in doc_id order; a doc whose
    token span crosses a 128-boundary is counted as split. Output per
    source: docs, tokens, sequences the packing yields, boundary-
    crossing docs, and the ragged-tail padding overhead.

    The running token sum is a sort-based window (O(1) state per row,
    spills); at 10^12 docs a production packer applies the identical
    window per shard instead of per source — same code, partition-
    local order — padding each shard's tail. Per-source is the
    driver-checkable semantic twin of that plan.
    """
    return _pack(spark, sf_dir, F.lit(0).cast("long")).drop("n_shards")


# --------------------------------------------------------------------------
# pack_sequences_sharded
# --------------------------------------------------------------------------

# Deterministic shard key for the registered shard-local twin: in
# production the shard IS the input split (spark_partition_id — see
# tests/test_corpus_ops.py::test_pack_sequences_shard_local_form for
# that form's invariants); an oracle-checkable query needs a key both
# engines compute identically, so doc_id % PACK_SHARDS stands in.
PACK_SHARDS = 8


@register(
    "pack_sequences_sharded",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS nt,
             doc_id % {PACK_SHARDS} AS shard
      FROM documents
    ), w AS (
      SELECT source, shard, doc_id, nt,
             coalesce(sum(nt) OVER (
               PARTITION BY source, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cb
      FROM toks
    ), per_shard AS (
      SELECT source, shard, count(*) AS n_docs, sum(nt) AS tokens,
             (sum(nt) + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN} AS n_seq,
             sum(CASE WHEN (cb + nt - 1) // {PACK_SEQ_LEN}
                           > cb // {PACK_SEQ_LEN}
                      THEN 1 ELSE 0 END) AS splits
      FROM w GROUP BY source, shard
    )
    SELECT source,
           count(*)::BIGINT AS n_shards,
           sum(n_docs)::BIGINT AS n_docs,
           sum(tokens)::BIGINT AS total_tokens,
           sum(n_seq)::BIGINT AS n_sequences,
           sum(splits)::BIGINT AS n_split_docs,
           (sum(n_seq) * {PACK_SEQ_LEN} - sum(tokens))::BIGINT AS pad_tokens,
           round((sum(n_seq) * {PACK_SEQ_LEN} - sum(tokens)) * 1.0
                 / (sum(n_seq) * {PACK_SEQ_LEN}), 4) AS pad_frac
    FROM per_shard GROUP BY source
    """,
)
def pack_sequences_sharded(spark, sf_dir):
    """The PRODUCTION form of sequence packing (r4 VERDICT item 7):
    run pack_sequences' cum-sum window per (source, shard) instead of
    per source, so no global per-source sort exists anywhere in the
    plan — each shard packs and pads its own ragged tail, exactly how
    a 10^12-doc packer runs it per input split. ``pack_sequences``
    stays registered as the semantic reference (single packing stream
    per source); this twin reports the same totals plus the padding
    cost of shard locality: summed shard sequence counts exceed the
    global form's by at most one ragged tail per shard
    (tests/test_corpus_ops.py pins the invariants, with the
    spark_partition_id variant demonstrated alongside).

    Scale: the window key (source, shard) partitions the sort — state
    is O(1) per row and each partition is 1/PACK_SHARDS of a source
    (in production, one input split). The Exchange ships (source,
    doc_id, nt, shard) scalars; text is dropped at the scan.
    """
    return _pack(spark, sf_dir, (F.col("doc_id") % PACK_SHARDS).cast("long"))


def _pack(spark, sf_dir, shard):
    """The packing body both forms share: the cum-sum window per
    (source, ``shard``) in doc_id order, per-shard sequence and
    boundary-crossing counts, then the per-source rollup with each
    shard's ragged-tail padding. A constant ``shard`` is the global
    per-source form."""
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    L = PACK_SEQ_LEN
    toks = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("nt"),
        shard.alias("shard"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = toks.withColumn(
        "cb", F.coalesce(F.sum("nt").over(w), F.lit(0))
    )
    per_shard = marked.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("tokens"),
        F.floor((F.sum("nt") + F.lit(L - 1)) / L).alias("n_seq"),
        F.sum(
            (
                F.floor((F.col("cb") + F.col("nt") - 1) / L)
                > F.floor(F.col("cb") / L)
            ).cast("long")
        ).alias("splits"),
    )
    total_seq = F.sum("n_seq")
    total_tok = F.sum("tokens")
    return per_shard.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("n_docs").alias("n_docs"),
        total_tok.alias("total_tokens"),
        total_seq.alias("n_sequences"),
        F.sum("splits").alias("n_split_docs"),
        (total_seq * L - total_tok).alias("pad_tokens"),
        F.round(
            (total_seq * L - total_tok) * F.lit(1.0) / (total_seq * L), 4
        ).alias("pad_frac"),
    )


# --------------------------------------------------------------------------
# lm_quality_stats
# --------------------------------------------------------------------------

def _xent_scored(spark, sf_dir):
    """(documents frame, per-doc xent Column) for the unigram LM
    scorers: pass 1 reduces the corpus to the top-V word->bits map (a
    map-side-combined word count + bounded V-row driver collect, the
    IVF-centroid pattern), pass 2 is the returned row-local Column —
    an F.aggregate over the words against the literal map, OOV words
    costing ``-log2(0.5/total)`` bits, rounded to 4 decimals per the
    registry contract. Shared by lm_quality_stats (the flag rollup)
    and quality_resample (the bucketed sampler)."""
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    words_col = F.split(F.col("text"), " ")

    # corpus total = sum of per-doc word counts: map-side, no explode,
    # no shuffle — running the explode+groupBy twice (once for the
    # total, once for the vocab) would double pass-1's shuffle for a
    # number the scan can produce directly
    total = d.agg(
        F.sum(F.size(words_col).cast("long")).alias("t")
    ).collect()[0]["t"]
    counts = (
        d.select(F.explode(words_col).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = counts.orderBy(F.desc("c"), F.asc("word")).limit(LM_VOCAB_TOP).collect()
    bits = {
        r["word"]: round(-math.log2(r["c"] / float(total)), 6) for r in vocab
    }
    oov_bits = round(-math.log2(0.5 / float(total)), 6)

    bits_map = F.create_map(
        *[x for wrd, b in sorted(bits.items()) for x in (F.lit(wrd), F.lit(b))]
    )
    nw = F.size(words_col)
    acc = F.aggregate(
        words_col,
        F.lit(0.0),
        lambda s, wrd: s
        + F.coalesce(F.element_at(bits_map, wrd), F.lit(oov_bits)),
    )
    return d, F.round(acc / nw, 4)



@register(
    "lm_quality_stats",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), cnt AS (
      SELECT word, count(*) AS c FROM w GROUP BY word
    ), tot AS (
      SELECT sum(c)::DOUBLE AS t FROM cnt
    ), vocab AS (
      SELECT word, c FROM cnt ORDER BY c DESC, word LIMIT {LM_VOCAB_TOP}
    ), scored AS (
      SELECT w.doc_id, w.source,
             round(-log2(coalesce(v.c / tot.t, 0.5 / tot.t)), 6) AS bits
      FROM w CROSS JOIN tot LEFT JOIN vocab v ON w.word = v.word
    ), per_doc AS (
      SELECT doc_id, source, round(avg(bits), 4) AS xent
      FROM scored GROUP BY doc_id, source
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           round(avg(xent), 4) AS avg_xent,
           sum(CASE WHEN xent > {LM_XENT_FLAG_BITS} THEN 1 ELSE 0 END)::BIGINT
             AS flagged_low_quality
    FROM per_doc GROUP BY source
    """,
)
def lm_quality_stats(spark, sf_dir):
    """CCNet-style unigram cross-entropy quality filter (Wenzek et al.
    2020 §4.3). Pass 1 derives a top-16 unigram LM from the corpus
    itself (map-side-combined word count, bounded driver collect of V
    rows); pass 2 scores each doc row-locally against a literal
    word->bits map (OOV words cost ``-log2(0.5/total)`` bits) and
    rolls up per source with a flag for the OOV-heavy tail.

    Bit costs are computed once driver-side with C-libm ``math.log2``
    and rounded to 6 decimals so both engines bind the same libm (see
    module docstring); per-doc scores round to 4 per the registry
    contract.
    """
    d, xent = _xent_scored(spark, sf_dir)
    return (
        d.select("source", xent.alias("xent"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("xent"), 4).alias("avg_xent"),
            F.sum((F.col("xent") > LM_XENT_FLAG_BITS).cast("long")).alias(
                "flagged_low_quality"
            ),
        )
    )


# --------------------------------------------------------------------------
# quality_resample
# --------------------------------------------------------------------------

# Quality-aware importance resampling (the DSIR/CCNet "keep more of the
# good tail" shape, Xie et al. 2023 / Wenzek et al. 2020 §4.4): docs are
# bucketed by unigram cross-entropy and sampled at a per-bucket rate
# that upweights low-perplexity text. Fixed bucket edges over the
# measured corpus xent range (~6.8..13.2 bits at V=16) and md5-prefix
# keep thresholds (the stratified_sample mechanism: first 2 hex chars
# of md5("qr:" || doc_id) under the bucket's threshold; "zz" keeps all,
# "cc" ~0.80, "80" = 0.50, "1a" ~0.10) — deterministic and
# partition-invariant on both engines.
QR_EDGES = (9.0, 10.2, 11.0)
QR_KEEP_HEX = ("zz", "cc", "80", "1a")


@register(
    "quality_resample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), cnt AS (
      SELECT word, count(*) AS c FROM w GROUP BY word
    ), tot AS (
      SELECT sum(c)::DOUBLE AS t FROM cnt
    ), vocab AS (
      SELECT word, c FROM cnt ORDER BY c DESC, word LIMIT {LM_VOCAB_TOP}
    ), scored AS (
      SELECT w.doc_id, w.source,
             round(-log2(coalesce(v.c / tot.t, 0.5 / tot.t)), 6) AS bits
      FROM w CROSS JOIN tot LEFT JOIN vocab v ON w.word = v.word
    ), per_doc AS (
      SELECT doc_id, source, round(avg(bits), 4) AS xent,
             count(*) AS nt
      FROM scored GROUP BY doc_id, source
    ), b AS (
      SELECT doc_id, source, nt,
             CASE WHEN xent < {QR_EDGES[0]} THEN 0
                  WHEN xent < {QR_EDGES[1]} THEN 1
                  WHEN xent < {QR_EDGES[2]} THEN 2
                  ELSE 3 END AS bucket
      FROM per_doc
    ), k AS (
      SELECT source, bucket, nt,
             substring(md5('qr:' || doc_id), 1, 2) <
               CASE bucket WHEN 0 THEN '{QR_KEEP_HEX[0]}'
                           WHEN 1 THEN '{QR_KEEP_HEX[1]}'
                           WHEN 2 THEN '{QR_KEEP_HEX[2]}'
                           ELSE '{QR_KEEP_HEX[3]}' END AS keep
      FROM b
    )
    SELECT source, bucket,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           sum(CASE WHEN keep THEN nt ELSE 0 END)::BIGINT AS kept_tokens
    FROM k GROUP BY source, bucket
    """,
)
def quality_resample(spark, sf_dir):
    """Quality-aware importance resampling — the sampling step a
    CCNet/DSIR-style pipeline runs AFTER quality scoring (Wenzek et
    al. 2020 §4.4 keep the low-perplexity head/middle; Xie et al.
    2023 resample toward a target distribution): bucket every doc by
    its unigram cross-entropy (the lm_quality_stats scorer, shared
    via _xent_scored) and keep a deterministic per-bucket fraction —
    1.0 / ~0.8 / 0.5 / ~0.1 from the lowest-perplexity bucket to the
    OOV-heavy tail. Per (source, bucket): docs, kept docs, kept
    tokens — the resampled token budget per quality tier.

    Scale (100 TB): pass 1 is the shared bounded vocab reduction;
    everything after is row-local (xent aggregate over the words
    against the literal map, bucket CASE, md5-prefix keep — the
    stratified_sample mechanism, partition-invariant) and the only
    required Exchange is the (source, bucket) rollup of three longs.
    """
    d, xent = _xent_scored(spark, sf_dir)
    words_col = F.split(F.col("text"), " ")

    bucket = (
        F.when(xent < QR_EDGES[0], F.lit(0))
        .when(xent < QR_EDGES[1], F.lit(1))
        .when(xent < QR_EDGES[2], F.lit(2))
        .otherwise(F.lit(3))
    )
    thresh = (
        F.when(bucket == 0, F.lit(QR_KEEP_HEX[0]))
        .when(bucket == 1, F.lit(QR_KEEP_HEX[1]))
        .when(bucket == 2, F.lit(QR_KEEP_HEX[2]))
        .otherwise(F.lit(QR_KEEP_HEX[3]))
    )
    keep = (
        F.substring(
            F.md5(F.concat(F.lit("qr:"), F.col("doc_id").cast("string"))),
            1,
            2,
        )
        < thresh
    )
    return (
        d.select(
            "source",
            bucket.alias("bucket"),
            F.size(words_col).cast("long").alias("nt"),
            keep.alias("keep"),
        )
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(
                F.when(F.col("keep"), F.col("nt")).otherwise(F.lit(0))
            ).alias("kept_tokens"),
        )
    )


# --------------------------------------------------------------------------
# token_budget_mix
# --------------------------------------------------------------------------

@register(
    "token_budget_mix",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             sum(len(string_split(text, ' ')))::BIGINT AS tokens_available
      FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(tokens_available)::DOUBLE AS total FROM toks
    ), q AS (
      SELECT source, tokens_available,
             pow(tokens_available::DOUBLE / tot.total,
                 {MIX_TEMPERATURE}) AS q,
             tot.total AS total
      FROM toks CROSS JOIN tot
    ), s AS (
      SELECT sum(q) AS sumq FROM q
    ), alloc AS (
      SELECT source, tokens_available,
             q / s.sumq AS p,
             least(
               tokens_available,
               floor(round(q / s.sumq, 6)
                     * floor({MIX_TARGET_FRAC} * total))::BIGINT
             ) AS tokens_allocated
      FROM q CROSS JOIN s
    )
    SELECT source,
           tokens_available,
           round(p, 4) AS mix_weight,
           tokens_allocated,
           round(tokens_allocated::DOUBLE / tokens_available, 4)
             AS keep_rate
    FROM alloc
    """,
)
def token_budget_mix(spark, sf_dir):
    """Temperature-based training-mix allocation (mT5, Xue et al. 2021
    §3.1): raise each source's token share to ``alpha=0.3``,
    renormalize, and hand each source ``min(available,
    floor(weight * budget))`` tokens of a 60%-of-corpus budget. The
    output is the sampling plan a trainer's loader executes.

    Plan shape: one map-side-combined per-source token rollup, then
    two 1-row aggregates (corpus total, weight normalizer) folded back
    as broadcast cross joins — the host_profile pattern, no driver
    collect, no second scan. Weights are rounded to 6 decimals before
    the budget multiply so both engines floor identical doubles (the
    pow ulp collapses at round6; see module docstring on libm).
    """
    d = spread(table(spark, sf_dir, "documents").select("source", "text"))
    toks = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias(
            "tokens_available"
        )
    )
    tot = toks.agg(F.sum("tokens_available").cast("double").alias("total"))
    q = toks.crossJoin(F.broadcast(tot)).withColumn(
        "q",
        F.pow(
            F.col("tokens_available").cast("double") / F.col("total"),
            F.lit(MIX_TEMPERATURE),
        ),
    )
    s = q.agg(F.sum("q").alias("sumq"))
    p = F.col("q") / F.col("sumq")
    budget = F.floor(F.lit(MIX_TARGET_FRAC) * F.col("total"))
    alloc = F.least(
        F.col("tokens_available"),
        F.floor(F.round(p, 6) * budget).cast("long"),
    )
    return (
        q.crossJoin(F.broadcast(s))
        .select(
            "source",
            "tokens_available",
            F.round(p, 4).alias("mix_weight"),
            alloc.alias("tokens_allocated"),
            F.round(
                alloc.cast("double") / F.col("tokens_available"), 4
            ).alias("keep_rate"),
        )
    )


# --------------------------------------------------------------------------
# label_centroid_similarity
# --------------------------------------------------------------------------

@register(
    "label_centroid_similarity",
    oracle="""
    WITH ex AS (
      SELECT label, i AS pos, embedding[i + 1]::DOUBLE AS v
      FROM embeddings, unnest(range(len(embedding))) AS t(i)
    ), cent AS (
      SELECT label, pos, avg(v) AS c FROM ex GROUP BY label, pos
    ), pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sum(a.c * b.c) AS dot,
             sum(a.c * a.c) AS na,
             sum(b.c * b.c) AS nb
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM pairs
    """,
)
def label_centroid_similarity(spark, sf_dir):
    """Pairwise cosine between per-label mean embeddings — the cluster
    separation diagnostic run before using labels as dedup/sampling
    strata (near-1 pairs mean the labels are not distinguishable in
    embedding space).

    Scale shape: centroids reduce via posexplode + per-(label, pos)
    avg — the shuffle carries map-side PARTIAL sums, bounded by
    partitions x labels x dims, never the raw vectors; the k x d
    centroid matrix (10 x 64 here, small for any real label scheme)
    reassembles with a bounded collect_list-of-(pos, val) and pairs up
    through a broadcast self-join, k^2/2 rows of three doubles.
    Embeddings are cast float->double at the scan so both engines do
    identical double arithmetic (DuckDB FLOAT[] math otherwise drifts;
    registry contract).
    """
    e = spread(
        table(spark, sf_dir, "embeddings").select(
            "label", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    ex = e.select("label", F.posexplode("emb").alias("pos", "v"))
    cent = ex.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    cvec = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label", F.transform("pc", lambda s: s["c"]).alias("cvec")
        )
    )
    a = cvec.select(F.col("label").alias("label_a"), F.col("cvec").alias("va"))
    b = cvec.select(F.col("label").alias("label_b"), F.col("cvec").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
    return pairs.select(
        "label_a",
        "label_b",
        F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim"),
    )


# --------------------------------------------------------------------------
# training_corpus_manifest
# --------------------------------------------------------------------------

MANIFEST_MIN_TOKENS = 8  # same floor as the streaming clean gate


# Deterministic enrichment so every drop path executes (the raw corpus
# has no exact-dup texts and no sub-8-word docs): clones of doc_id %
# 29 == 11 arrive as exact dups (original wins keep-first) and 2-word
# stubs arrive as short docs. Enrichment ids are offset by
# max(doc_id)+1 (clones) and 2*(max(doc_id)+1) (stubs), derived from
# the corpus on BOTH sides, so they can never collide with real ids
# (r4 ADVICE: fixed +1e6/+2e6 offsets collide on >1M-doc corpora).
# Both engines rebuild the same union; the eval-gram set comes from
# the ORIGINAL docs only.
_CLONE_MOD, _CLONE_RESIDUE = 29, 11
_STUB_MOD, _STUB_RESIDUE = 31, 13

# Above this eval-gram count the manifest's contamination check swaps
# the row-local arrays_overlap-vs-literal for the broadcast left-semi
# join (the decontaminate_stats plan): the synthesized eval set grows
# with scale factor, and a plan literal grows Catalyst codegen
# linearly with it. Real eval suites are fixed-size; the gate makes
# the operator safe either way.
MANIFEST_GRAM_LITERAL_MAX = 512


@register(
    "training_corpus_manifest",
    oracle=f"""
    WITH orig AS (
      SELECT doc_id, source, text FROM documents
    ), mx AS (
      SELECT max(doc_id) + 1 AS off FROM orig
    ), corpus AS (
      SELECT doc_id, source, text FROM orig
      UNION ALL
      SELECT doc_id + (SELECT off FROM mx), source, text FROM orig
      WHERE doc_id % {_CLONE_MOD} = {_CLONE_RESIDUE}
      UNION ALL
      SELECT doc_id + 2 * (SELECT off FROM mx), source, 'stub ' || doc_id
      FROM orig
      WHERE doc_id % {_STUB_MOD} = {_STUB_RESIDUE}
    ), base AS (
      SELECT doc_id, source, md5(text) AS h,
             string_split(text, ' ') AS ws
      FROM corpus
    ), keeper AS (
      SELECT h, min(doc_id) AS keeper_id FROM base GROUP BY h
    ), bench AS (
      SELECT DISTINCT
             array_to_string(string_split(text, ' ')[1:{DECONTAM_NGRAM}],
                             ' ') AS g
      FROM orig
      WHERE doc_id % {EVAL_DOC_MOD} = 0
        AND len(string_split(text, ' ')) >= {DECONTAM_NGRAM}
    ), cont AS (
      SELECT DISTINCT b.doc_id
      FROM base b,
           unnest(range(len(b.ws) - {DECONTAM_NGRAM - 1})) AS t(i)
      JOIN bench ON array_to_string(b.ws[i + 1:i + {DECONTAM_NGRAM}], ' ')
                    = bench.g
      WHERE len(b.ws) >= {DECONTAM_NGRAM}
    ), verdicts AS (
      SELECT b.source, len(b.ws) AS nt,
             CASE
               WHEN b.doc_id != k.keeper_id THEN 'dup'
               WHEN c.doc_id IS NOT NULL THEN 'contaminated'
               WHEN len(b.ws) < {MANIFEST_MIN_TOKENS} THEN 'short'
               ELSE 'kept'
             END AS verdict
      FROM base b
      JOIN keeper k ON b.h = k.h
      LEFT JOIN cont c ON b.doc_id = c.doc_id
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)::BIGINT
             AS n_kept,
           sum(CASE WHEN verdict = 'dup' THEN 1 ELSE 0 END)::BIGINT
             AS drop_dup,
           sum(CASE WHEN verdict = 'contaminated' THEN 1 ELSE 0 END)::BIGINT
             AS drop_contaminated,
           sum(CASE WHEN verdict = 'short' THEN 1 ELSE 0 END)::BIGINT
             AS drop_short,
           sum(CASE WHEN verdict = 'kept' THEN nt ELSE 0 END)::BIGINT
             AS kept_tokens
    FROM verdicts GROUP BY source
    """,
)
def training_corpus_manifest(spark, sf_dir):
    """The end-to-end keep/drop manifest a training run consumes: one
    DataFrame program composing exact dedup (keep-first by doc_id per
    content digest), benchmark decontamination (8-gram overlap with
    the eval set, built from the original docs), and the token floor,
    with drop-precedence dup > contaminated > short so every document
    lands in exactly one bucket. Per source: totals, kept docs, drops
    per reason, kept tokens (the number token_budget_mix then
    allocates against). Planted clones and 2-word stubs (deterministic
    enrichment, both engines) make every drop path execute — the raw
    corpus has no exact dups and no short docs.

    Plan shape: the keep-first pass shuffles (digest, doc_id) pairs
    only; the contamination check is arrays_overlap against the
    driver-built eval-gram literal while the eval set is small
    (zero extra shuffle — the decontam_gate form) and switches to the
    broadcast-left-semi-join form (the decontaminate_stats plan)
    above MANIFEST_GRAM_LITERAL_MAX grams, where a plan literal would
    bloat codegen; verdicts are then row-local and the rollup is one
    small Exchange. Text never crosses a required shuffle in either
    regime.
    """
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    words = F.split(F.col("text"), " ")

    bench_rows = (
        d.filter(
            (F.col("doc_id") % EVAL_DOC_MOD == 0)
            & (F.size(words) >= DECONTAM_NGRAM)
        )
        .select(F.array_join(F.slice(words, 1, DECONTAM_NGRAM), " ").alias("g"))
        .distinct()
        .collect()
    )
    bench = sorted(r["g"] for r in bench_rows)
    off = d.agg(F.max("doc_id")).collect()[0][0] + 1

    clones = d.filter(F.col("doc_id") % _CLONE_MOD == _CLONE_RESIDUE).select(
        (F.col("doc_id") + F.lit(off)).alias("doc_id"), "source", "text"
    )
    stubs = d.filter(F.col("doc_id") % _STUB_MOD == _STUB_RESIDUE).select(
        (F.col("doc_id") + F.lit(2 * off)).alias("doc_id"),
        "source",
        F.concat(F.lit("stub "), F.col("doc_id").cast("string")).alias("text"),
    )
    corpus = d.unionByName(clones).unionByName(stubs)
    scalars = [
        F.col("doc_id"),
        F.col("source"),
        F.md5("text").alias("h"),
        F.size(words).cast("long").alias("nt"),
    ]
    if not bench:
        base = corpus.select(*scalars, F.lit(False).alias("contaminated"))
    elif len(bench) <= MANIFEST_GRAM_LITERAL_MAX:
        lit_bench = F.array(*[F.lit(g) for g in bench])
        base = corpus.select(
            *scalars,
            F.arrays_overlap(word_ngrams(words), lit_bench).alias(
                "contaminated"
            ),
        )
    else:
        bench_df = spark.createDataFrame([(g,) for g in bench], ["g"])
        cont_ids = (
            corpus.select("doc_id", F.explode(word_ngrams(words)).alias("g"))
            .join(F.broadcast(bench_df), "g", "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("cont_hit", F.lit(True))
        )
        base = (
            corpus.select(*scalars)
            .join(cont_ids, "doc_id", "left")
            .withColumn(
                "contaminated", F.coalesce("cont_hit", F.lit(False))
            )
            .drop("cont_hit")
        )
    keeper = base.groupBy("h").agg(F.min("doc_id").alias("keeper_id"))
    verdict = F.when(F.col("doc_id") != F.col("keeper_id"), "dup").when(
        F.col("contaminated"), "contaminated"
    ).when(F.col("nt") < MANIFEST_MIN_TOKENS, "short").otherwise("kept")
    v = base.join(keeper, "h").select("source", "nt", verdict.alias("verdict"))
    return v.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("verdict") == "kept").cast("long")).alias("n_kept"),
        F.sum((F.col("verdict") == "dup").cast("long")).alias("drop_dup"),
        F.sum((F.col("verdict") == "contaminated").cast("long")).alias(
            "drop_contaminated"
        ),
        F.sum((F.col("verdict") == "short").cast("long")).alias("drop_short"),
        F.sum(
            F.when(F.col("verdict") == "kept", F.col("nt")).otherwise(F.lit(0))
        ).alias("kept_tokens"),
    )


# --------------------------------------------------------------------------
# classifier_filter_stats
# --------------------------------------------------------------------------

# hashed-linear classifier: feature-hash buckets and the milli-weight
# span (weights are INTEGERS in [-1000, 1000] so per-doc scores
# accumulate exactly — no float-summation-order drift between engines).
CLS_DIM = 64
CLS_WEIGHT_SPAN = 2001


def _cls_weights() -> list[int]:
    """Deterministic md5-derived milli-weight table, one int per hash
    bucket — the stand-in for trained classifier weights, derived the
    same way the LSH hyperplanes are so the DuckDB oracle can rebuild
    it from the same arithmetic."""
    import hashlib

    return [
        int(hashlib.md5(f"w#{i}".encode()).hexdigest()[:6], 16)
        % CLS_WEIGHT_SPAN
        - 1000
        for i in range(CLS_DIM)
    ]


def _cls_oracle() -> str:
    w = ", ".join(str(x) for x in _cls_weights())
    return f"""
    WITH wt AS (SELECT [{w}]::BIGINT[] AS w), toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ), scored AS (
      SELECT doc_id, source, len(ws) AS nt,
             list_sum(list_transform(ws, t ->
               w[('0x' || substring(md5(t), 1, 4))::BIGINT % {CLS_DIM} + 1]
             ))::BIGINT AS sm
      FROM toks CROSS JOIN wt
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN sm >= 0 THEN 1 ELSE 0 END)::BIGINT AS n_keep,
           round(sum(CASE WHEN sm >= 0 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS keep_rate,
           round(sum(sm) * 1.0 / (1000 * sum(nt)), 4) AS avg_token_w
    FROM scored GROUP BY source
    """


def with_cls_score(df):
    """Append the row-local integer milli-score column ``cls_milli``
    over ``text`` — the single scoring definition shared by the batch
    rollup and the streaming gate
    (streaming/classifier_gate.py). The weight-array literal is bound
    to its own column FIRST so it is constructed once per row, not
    once per token (higher-order-function lambdas re-evaluate their
    subtrees per element — CLAUDE.md invariant)."""
    w_lit = "array(" + ", ".join(f"{x}L" for x in _cls_weights()) + ")"
    sm = F.expr(
        "aggregate(transform(split(text, ' '), t -> "
        f"wt[cast(conv(substring(md5(t), 1, 4), 16, 10) as int) % {CLS_DIM}]"
        "), 0L, (a, x) -> a + x)"
    )
    return (
        df.withColumn("wt", F.expr(w_lit))
        .withColumn("cls_milli", sm)
        .drop("wt")
    )


@register("classifier_filter_stats", oracle=_cls_oracle())
def classifier_filter_stats(spark, sf_dir):
    """Quality-classifier inference at corpus scale — the
    fastText-shaped linear filter every modern pretraining pipeline
    runs (fastText: Joulin et al. 2017, EACL; used as the
    quality/page-rank filter in GPT-3 Appendix A and LLaMA §2.1):
    tokens are feature-HASHED into {CLS_DIM} buckets (hashing trick,
    Weinberger et al. 2009) and scored against a fixed weight vector;
    a document is kept when its summed weight is >= 0. Weights here
    are the md5-derived deterministic stand-in for trained
    parameters; the dataflow is exactly what serving a real linear
    classifier looks like.

    Scale shape: the weight table is a 64-int ROW CONSTANT (on a
    cluster: a broadcast variable; a real 2M-bucket fastText table
    ships the same way) evaluated once per row, token scoring is a
    row-local transform/aggregate over the token array — integer
    milli-weights, so the per-doc sum is EXACT and the only doubles
    are the two final rollup ratios — and the single Exchange carries
    (source, int-partials): map-side combined, no text, no per-token
    rows. Inference over 10^12 docs is embarrassingly parallel."""
    scored = with_cls_score(
        spread(table(spark, sf_dir, "documents")).select(
            "doc_id", "source", "text"
        )
    ).select(
        "source",
        F.size(F.split("text", " ")).alias("nt"),
        F.col("cls_milli").alias("sm"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("sm") >= 0).cast("long")).alias("n_keep"),
        F.round(
            F.sum((F.col("sm") >= 0).cast("long")) * F.lit(1.0)
            / F.count(F.lit(1)),
            4,
        ).alias("keep_rate"),
        F.round(
            F.sum("sm") * F.lit(1.0) / (F.lit(1000) * F.sum("nt")), 4
        ).alias("avg_token_w"),
    )


# --------------------------------------------------------------------------
# minhash_decontaminate
# --------------------------------------------------------------------------

# fuzzy decontamination: flag a training doc when its estimated
# Jaccard vs ANY eval doc is >= MINHASH_DECONTAM_MIN/N_HASHES (4/8 ->
# ~0.5) — the near-verbatim-leak case exact n-gram matching misses
# when the copy drifted (tokenization, elisions, boilerplate edits).
MINHASH_DECONTAM_MIN = 4


def _mh_decon_oracle() -> str:
    from ragflow_spark.operators.dedup import (
        _DUCK_SHINGLES,
        _duck_bands_union,
        _duck_sig_cols,
    )

    slice_eq = " + ".join(
        f"CASE WHEN s.h{k} = t.h{k} THEN 1 ELSE 0 END" for k in range(8)
    )
    return f"""
    WITH base0 AS (
      SELECT doc_id, source, str_split(lower(text), ' ') AS w0
      FROM documents
    ), bench AS (
      SELECT doc_id AS eval_id, w0 AS ew,
             row_number() OVER (ORDER BY doc_id) AS rn
      FROM base0 WHERE doc_id % {EVAL_DOC_MOD} = 0
    ), nb AS (SELECT count(*) AS n FROM bench),
    enriched AS (
      SELECT b.doc_id, b.source,
             CASE WHEN b.doc_id % {VICTIM_MOD} = {VICTIM_RESIDUE}
                       AND b.doc_id % {EVAL_DOC_MOD} != 0
                       AND bg.ew IS NOT NULL
                  THEN list_concat(b.w0[1:1], bg.ew)
                  ELSE b.w0 END AS w
      FROM base0 b
      CROSS JOIN nb
      LEFT JOIN bench bg ON bg.rn = (b.doc_id % greatest(nb.n, 1)) + 1
    ), sh_t AS (
      SELECT doc_id, source, {_DUCK_SHINGLES} AS sh
      FROM enriched WHERE len(w) >= 3
    ), dig AS (
      SELECT doc_id, source,
             list_transform(sh, s -> md5(s) || md5(s || '#2')) AS hs
      FROM sh_t
    ), sig AS (
      SELECT doc_id, source, {_duck_sig_cols()} FROM dig
    ), bands AS ({_duck_bands_union()}),
    cand AS (
      SELECT DISTINCT b.doc_id, e.doc_id AS eval_id
      FROM bands b
      JOIN bands e ON b.band = e.band AND b.bucket = e.bucket
                   AND e.doc_id % {EVAL_DOC_MOD} = 0
                   AND b.doc_id != e.doc_id
    ), m AS (
      SELECT c.doc_id, s.source, ({slice_eq}) AS nm
      FROM cand c
      JOIN sig s ON c.doc_id = s.doc_id
      JOIN sig t ON c.eval_id = t.doc_id
    ), flagged AS (
      SELECT DISTINCT doc_id, source FROM m
      WHERE nm >= {MINHASH_DECONTAM_MIN}
    ), tot AS (
      SELECT source, count(*) AS n_docs FROM enriched GROUP BY source
    ), fc AS (
      SELECT source, count(*) AS n_flagged FROM flagged GROUP BY source
    )
    SELECT t.source, t.n_docs::BIGINT AS n_docs,
           coalesce(fc.n_flagged, 0)::BIGINT AS n_flagged,
           round(coalesce(fc.n_flagged, 0) * 1.0 / t.n_docs, 4)
             AS flag_rate
    FROM tot t LEFT JOIN fc ON t.source = fc.source
    """


def _shingles_from_words(ws):
    """3-word shingles over an already-split word array (the dedup
    module's shingle helper splits raw text; the enriched victim rows
    here are arrays)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(ws) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(ws, i + 1),
            F.element_at(ws, i + 2),
            F.element_at(ws, i + 3),
        ),
    )


@register("minhash_decontaminate", oracle=_mh_decon_oracle())
def minhash_decontaminate(spark, sf_dir):
    """FUZZY benchmark decontamination — the minhash complement to
    `decontaminate_stats`' exact 8-gram membership test: a training
    doc is flagged when >= {MINHASH_DECONTAM_MIN} of its 8 minhash
    slices agree with an eval doc's (estimated Jaccard >= 0.5),
    catching near-verbatim eval leaks that drifted past exact n-gram
    equality (GPT-3 App. C dedups eval overlap at the document level;
    Gao et al. 2020 (The Pile §6.2) document the fuzzy-overlap
    variant). Victims (``doc_id % {VICTIM_MOD} == {VICTIM_RESIDUE}``,
    eval docs excluded) are planted as near-copies — one original
    word prepended to a round-robin eval doc's words — so the flag
    set is real cross-document fuzzy overlap, not self-matches.

    Scale shape: signatures reuse the dedup module's shingle->digest->
    slice kernel (row-local, zero UDF); candidate pairs come from the
    banded-LSH (band, bucket) equi-join against the EVAL band table —
    eval suites are fixed-size, so that side broadcasts and the
    training side never shuffles for candidacy; only candidate
    (doc_id, eval_id) id pairs + 8 fixed-width slice columns cross an
    Exchange for the agreement count; text and shingle arrays never
    do. Verification cost is |candidates| * 8 string equals, not a
    text re-scan."""
    from ragflow_spark.operators.dedup import (
        _explode_bands,
        _spark_minhash_slice,
        _spark_shingle_digests,
    )

    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "source", doc_words().alias("w0")
    )
    bench_rows = (
        d.filter(F.col("doc_id") % EVAL_DOC_MOD == 0)
        .select("doc_id", "w0")
        .orderBy("doc_id")
        .collect()
    )
    n_bench = max(len(bench_rows), 1)
    bench_rn = spark.createDataFrame(
        [(i + 1, list(r["w0"])) for i, r in enumerate(bench_rows)]
        or [(1, None)],
        "rn int, ew array<string>",
    )
    is_victim = (F.col("doc_id") % VICTIM_MOD == VICTIM_RESIDUE) & (
        F.col("doc_id") % EVAL_DOC_MOD != 0
    )
    enriched = (
        d.join(
            F.broadcast(bench_rn),
            (F.col("doc_id") % n_bench + 1).cast("int") == F.col("rn"),
            "left",
        )
        .select(
            "doc_id",
            "source",
            F.when(
                is_victim & F.col("ew").isNotNull(),
                F.concat(F.slice("w0", 1, 1), F.col("ew")),
            )
            .otherwise(F.col("w0"))
            .alias("w"),
        )
    )
    sig = (
        enriched.filter(F.size("w") >= 3)
        .select(
            "doc_id",
            "source",
            _spark_shingle_digests(_shingles_from_words(F.col("w"))).alias(
                "hs"
            ),
        )
        .select(
            "doc_id",
            "source",
            *[
                _spark_minhash_slice(F.col("hs"), k).alias(f"h{k}")
                for k in range(8)
            ],
        )
    )
    bands = _explode_bands(sig)
    ebands = bands.filter(F.col("doc_id") % EVAL_DOC_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), "band", "bucket"
    )
    cand = (
        bands.join(
            F.broadcast(ebands),
            ["band", "bucket"],
        )
        .filter(F.col("doc_id") != F.col("eval_id"))
        .select("doc_id", "eval_id")
        .distinct()
    )
    esig = sig.select(
        F.col("doc_id").alias("eval_id"),
        *[F.col(f"h{k}").alias(f"e{k}") for k in range(8)],
    )
    nm = sum(
        (F.col(f"h{k}") == F.col(f"e{k}")).cast("int") for k in range(8)
    )
    flagged = (
        cand.join(sig, "doc_id")
        .join(F.broadcast(esig.filter(F.col("eval_id") % EVAL_DOC_MOD == 0)), "eval_id")
        .filter(nm >= MINHASH_DECONTAM_MIN)
        .select("doc_id", "source")
        .distinct()
    )
    tot = enriched.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    fc = flagged.groupBy("source").agg(F.count(F.lit(1)).alias("n_flagged"))
    return tot.join(fc, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
        F.round(
            F.coalesce("n_flagged", F.lit(0)) * F.lit(1.0) / F.col("n_docs"),
            4,
        ).alias("flag_rate"),
    )


# --------------------------------------------------------------------------
# dataset_shard_manifest
# --------------------------------------------------------------------------

N_SHARDS = 16  # output shards for the training-data writer


@register(
    "dataset_shard_manifest",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text,
             ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT
               % {N_SHARDS} AS shard_id,
             len(string_split(text, ' ')) AS nt
      FROM documents
    ), s AS (
      SELECT shard_id,
             count(*) AS n_docs,
             sum(nt) AS n_tokens,
             bit_xor(('0x' || substr(md5(doc_id || ':' || text), 1, 8))
                     ::BIGINT) AS shard_sig
      FROM d GROUP BY shard_id
    ), t AS (SELECT sum(n_tokens) AS total FROM s)
    SELECT shard_id,
           n_docs::BIGINT AS n_docs,
           n_tokens::BIGINT AS n_tokens,
           shard_sig,
           round(n_tokens * 1.0 / total, 4) AS token_share
    FROM s, t
    """,
)
def dataset_shard_manifest(spark, sf_dir):
    """The training-data WRITER's manifest: deterministic shard
    assignment (md5 of doc_id -> {N_SHARDS} shards) plus per-shard
    doc count, token count, balance share, and a bit_xor integrity
    signature — the table a data loader checks before consuming a
    published dataset, and the resume contract for the writer itself
    (shard membership is a pure function of doc_id: re-running any
    subset of shards reproduces identical contents regardless of
    input partitioning or cluster size — the same idempotence
    argument as the extraction pipeline's url-hash splits).

    Scale shape: assignment and the per-doc 32-bit signature are
    map-side expressions; ONE rollup Exchange carries {N_SHARDS} x
    partitions integer partials (count/sum/bit_xor all have O(1)
    partial state); the 1-row corpus total folds back broadcast for
    the share column (token_budget_mix idiom, no driver collect). On
    a real run the rollup rides the same job as the
    partitionBy(shard_id) write."""
    from ragflow_spark.operators.corpus import _doc_sig

    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                16,
                10,
            ).cast("long")
            % N_SHARDS
        ).alias("shard_id"),
        F.size(F.split("text", " ")).alias("nt"),
        _doc_sig(F.col("text")).alias("sig"),
    )
    s = d.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
        F.expr("bit_xor(sig)").alias("shard_sig"),
    )
    t = s.agg(F.sum("n_tokens").alias("total"))
    return s.crossJoin(F.broadcast(t)).select(
        "shard_id",
        "n_docs",
        "n_tokens",
        "shard_sig",
        F.round(F.col("n_tokens") * F.lit(1.0) / F.col("total"), 4).alias(
            "token_share"
        ),
    )


# --------------------------------------------------------------------------
# bpe_merge_induction
# --------------------------------------------------------------------------

BPE_MERGES = 3  # induction steps surfaced (each = one corpus-wide argmax)


# Symbol encoding: every symbol is WRAPPED, '(a)(bc)(d)' — not the
# earlier trailing-separator 'a|bc|d|'. With wrapping, a merge literal
# '(a)(b)' can only match at a symbol boundary: inside a merged symbol
# like '(aa)' there is no ')(' to anchor on, so replace('(a)(b)',
# '(ab)') can never consume the SUFFIX of a previously merged symbol
# (trailing-separator 'aa|b|' DID contain 'a|b|' — a greedy
# character-level merge real BPE would never make; round-5 review
# finding). Adjacent same-pair runs still merge non-overlapping
# left-to-right: '(a)(a)(a)(a)' -> '(aa)(aa)', which IS the BPE rule.


def _bpe_pair_cte(pname: str, vname: str) -> str:
    """Weighted adjacent-pair counts over a vocab CTE (enc, freq):
    strip the outer parens, split on ')(' -> 1-based symbol list."""
    return f"""{pname} AS (
      SELECT s[i + 1] || ' ' || s[i + 2] AS pair, sum(freq) AS cnt
      FROM (SELECT string_split(substring(enc, 2, len(enc) - 2), ')(')
              AS s, freq
            FROM {vname} WHERE len(enc) > 0),
           unnest(range(greatest(len(s) - 1, 0))) AS t(i)
      GROUP BY pair
    )"""


def _bpe_step_ctes(step: int) -> str:
    p, b, vprev, vnext = f"p{step}", f"b{step}", f"v{step-1}", f"v{step}"
    return f"""{_bpe_pair_cte(p, vprev)},
    {b} AS (SELECT pair, cnt FROM {p} ORDER BY cnt DESC, pair LIMIT 1),
    {vnext} AS (
      SELECT replace(enc, '(' || replace(pair, ' ', ')(') || ')',
                     '(' || replace(pair, ' ', '') || ')') AS enc, freq
      FROM {vprev}, {b}
    )"""


def _bpe_oracle() -> str:
    steps = ",\n    ".join(_bpe_step_ctes(s) for s in range(1, BPE_MERGES + 1))
    out = "\n    UNION ALL ".join(
        f"SELECT {s} AS step, pair AS merge, cnt::BIGINT AS cnt FROM b{s}"
        for s in range(1, BPE_MERGES + 1)
    )
    return f"""
    WITH words AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS word
        FROM documents
      ) GROUP BY word
    ), v0 AS (
      SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS enc, freq
      FROM words
    ),
    {steps}
    {out}
    """


@register("bpe_merge_induction", oracle=_bpe_oracle())
def bpe_merge_induction(spark, sf_dir):
    """Tokenizer training at corpus scale: the first {BPE_MERGES} BPE
    merges (Sennrich et al. 2016, ACL — the byte-pair-encoding
    induction GPT-2-style tokenizers train with): reduce the corpus
    to a (word, freq) vocabulary, then per step count
    frequency-weighted adjacent symbol pairs, pick the global argmax
    (count DESC, pair ASC), and apply the merge left-to-right
    non-overlapping to every vocab entry.

    Scale shape: the corpus collapses to VOCABULARY cardinality in
    the first aggregation (map-side combined word count) and never
    gets touched again — the iteration runs entirely on the vocab
    table, localCheckpointed once so no re-scan or lineage growth per
    step (dedup_components invariant). Each step is one
    (pair, partial-count) Exchange at pair-vocabulary cardinality +
    a 1-ROW driver collect (the convergence-scalar idiom); the merge
    application is a row-local string replace over '(a)(b)(c)'-WRAPPED
    symbols — wrapping makes the literal replace SYMBOL-exact (a
    merge pattern '(a)(b)' cannot anchor inside a merged symbol like
    '(aa)'; module comment above _bpe_pair_cte), while staying
    left-to-right non-overlapping, which IS the BPE merge rule
    ('a a a a' merges to 'aa aa', not 'aa a a'; verified
    cross-engine). Integer counts throughout: no float tie risk."""
    d = spread(table(spark, sf_dir, "documents")).select(
        F.explode(doc_words()).alias("word")
    )
    vocab = (
        d.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.regexp_replace("word", "(.)", "($1)").alias("enc"), "freq"
        )
        .localCheckpoint()
    )
    merges = []
    cur = vocab
    for step in range(1, BPE_MERGES + 1):
        syms = F.split(
            F.expr("substring(enc, 2, length(enc) - 2)"), "\\)\\("
        )
        n = F.size(syms)
        pairs = F.when(
            (F.length("enc") > 0) & (n >= 2),
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(syms, i + 1),
                    F.element_at(syms, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        top = (
            cur.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # vocab fully merged — mirrors the oracle's empty
            # bN CTE zeroing out every later step's UNION branch
        best = top[0]
        merges.append((step, best["pair"], int(best["cnt"])))
        a, b = best["pair"].split(" ")
        cur = cur.withColumn(
            "enc",
            F.replace(
                F.col("enc"),
                F.lit(f"({a})({b})"),
                F.lit(f"({a}{b})"),
            ),
        )
    return spark.createDataFrame(merges, "step int, merge string, cnt bigint")


# --------------------------------------------------------------------------
# bpe_encode_stats
# --------------------------------------------------------------------------


def _bpe_encode_oracle() -> str:
    steps = ",\n    ".join(_bpe_step_ctes(s) for s in range(1, BPE_MERGES + 1))
    # nested literal replaces, innermost = merge 1 (application order
    # must match induction order — later merges consume earlier ones)
    enc = "regexp_replace(lower(text), '([^ ])', '(\\1)', 'g')"
    for s in range(1, BPE_MERGES + 1):
        enc = (
            f"replace({enc}, '(' || replace(b{s}.pair, ' ', ')(') || ')', "
            f"'(' || replace(b{s}.pair, ' ', '') || ')')"
        )
    return f"""
    WITH words AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS word
        FROM documents
      ) GROUP BY word
    ), v0 AS (
      SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS enc, freq
      FROM words
    ),
    {steps},
    enc AS (
      SELECT source,
             len(replace(lower(text), ' ', '')) AS nb,
             {enc} AS e
      FROM documents, b1, b2, b3
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(nb)::BIGINT AS syms_before,
           sum(len(e) - len(replace(e, '(', '')))::BIGINT AS tokens_after,
           round(sum(nb) * 1.0
                 / sum(len(e) - len(replace(e, '(', ''))), 4)
             AS compression
    FROM enc GROUP BY source
    """


@register("bpe_encode_stats", oracle=_bpe_encode_oracle())
def bpe_encode_stats(spark, sf_dir):
    """Tokenizer APPLICATION at corpus scale — the complement of
    ``bpe_merge_induction``: train the first {BPE_MERGES} BPE merges on
    the corpus, then encode the whole corpus with them and report the
    per-source token-count compression a trainer's data loader would
    see (chars-per-token is the standard tokenizer fertility metric).

    Encoding trick: the induction's per-WORD '(a)(b)(c)' wrapped
    symbol encoding is applied to the whole document in one map pass
    by wrapping every non-space char as '(c)' and keeping spaces as
    word separators — a merge literal '(a)(b)' can never match across
    a word boundary (the boundary renders as ') (') nor inside a
    merged symbol (no ')(' anchor inside '(aa)'; see the module
    comment above _bpe_pair_cte), so whole-text replace === per-word
    true-BPE merge application. Corpus texts are verified
    paren-free by synthesis (sources/pages.py alphabet).

    Scale shape: induction collapses the corpus to vocab cardinality
    (see ``bpe_merge_induction``); the learned merges come back to the
    driver as {BPE_MERGES} tiny string literals (fixed count — no
    plan-size growth with sf), and the encode pass is a purely
    row-local chain of literal replaces + length arithmetic feeding
    one per-source rollup Exchange. Document text never shuffles.
    Shares the induction's early-exhaustion bound: a vocab with fewer
    than {BPE_MERGES} mergeable pairs would zero the oracle's bN CTEs
    (same constraint, same corpus floor — holds at every test sf)."""
    merges = [
        r["merge"]
        for r in bpe_merge_induction(spark, sf_dir).orderBy("step").collect()
    ]
    enc = F.regexp_replace(F.lower(F.col("text")), "([^ ])", "($1)")
    for m in merges:
        a, b = m.split(" ")
        enc = F.replace(enc, F.lit(f"({a})({b})"), F.lit(f"({a}{b})"))
    d = spread(table(spark, sf_dir, "documents")).select(
        "source",
        F.length(
            F.replace(F.lower(F.col("text")), F.lit(" "), F.lit(""))
        ).alias("nb"),
        (F.length(enc) - F.length(F.replace(enc, F.lit("("), F.lit("")))).alias(
            "na"
        ),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nb").alias("syms_before"),
            F.sum("na").alias("tokens_after"),
        )
        .select(
            "source",
            "n_docs",
            "syms_before",
            "tokens_after",
            F.round(
                F.col("syms_before") * F.lit(1.0) / F.col("tokens_after"), 4
            ).alias("compression"),
        )
    )


# --------------------------------------------------------------------------
# quality_filter_agreement
# --------------------------------------------------------------------------


def _agreement_oracle() -> str:
    w = ", ".join(str(x) for x in _cls_weights())
    return f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), cnt AS (
      SELECT word, count(*) AS c FROM w GROUP BY word
    ), tot AS (
      SELECT sum(c)::DOUBLE AS t FROM cnt
    ), vocab AS (
      SELECT word, c FROM cnt ORDER BY c DESC, word LIMIT {LM_VOCAB_TOP}
    ), xent AS (
      SELECT w.doc_id,
             round(avg(round(-log2(coalesce(v.c / tot.t, 0.5 / tot.t)),
                             6)), 4) AS xent
      FROM w CROSS JOIN tot LEFT JOIN vocab v ON w.word = v.word
      GROUP BY w.doc_id
    ), wt AS (SELECT [{w}]::BIGINT[] AS w), cls AS (
      SELECT doc_id,
             list_sum(list_transform(string_split(text, ' '), t ->
               w[('0x' || substring(md5(t), 1, 4))::BIGINT % {CLS_DIM} + 1]
             ))::BIGINT AS sm
      FROM documents CROSS JOIN wt
    ), verdicts AS (
      SELECT c.doc_id,
             (c.sm >= 0) AS cls_keep,
             (x.xent <= {LM_XENT_FLAG_BITS}) AS lm_keep
      FROM cls c JOIN xent x ON c.doc_id = x.doc_id
    )
    SELECT cls_keep, lm_keep,
           count(*)::BIGINT AS n_docs,
           round(count(*) * 1.0 / (SELECT count(*) FROM verdicts), 4)
             AS share,
           bit_xor(doc_id)::BIGINT AS docs_sig
    FROM verdicts GROUP BY cls_keep, lm_keep
    """


@register("quality_filter_agreement", oracle=_agreement_oracle())
def quality_filter_agreement(spark, sf_dir):
    """Ensemble quality-filter audit — the production question behind
    Llama-3-style multi-filter pipelines (Dubey et al. 2024 §3.1.3
    stack several quality classifiers): do the hashed-linear
    classifier (with_cls_score) and the unigram-LM perplexity filter
    (_xent_scored) agree, and on exactly which documents? Output is
    the 2x2 keep/drop confusion matrix with per-cell corpus share and
    a bit_xor doc-id signature, so the driver's hash compare pins the
    exact per-cell document SETS — a silent drift in either scorer's
    verdict on any single doc fails the oracle.

    Scale shape: both verdicts are row-local Columns over the same
    scan (the classifier is a literal weight table, the LM a literal
    word->bits map after pass 1's bounded vocab reduce), so the matrix
    costs ONE corpus pass + a 4-row rollup Exchange; the share
    denominator folds back via a broadcast 1-row cross join, no second
    pass. At 10^12 docs this is exactly how the filters would be
    co-audited: piggyback both scores on one scan, never materialize
    per-doc verdicts."""
    d, xent = _xent_scored(spark, sf_dir)
    scored = with_cls_score(d).select(
        "doc_id",
        (F.col("cls_milli") >= 0).alias("cls_keep"),
        (xent <= F.lit(LM_XENT_FLAG_BITS)).alias("lm_keep"),
    )
    cells = scored.groupBy("cls_keep", "lm_keep").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("bit_xor(doc_id)").alias("docs_sig"),
    )
    total = cells.agg(F.sum("n_docs").alias("total"))
    return cells.crossJoin(F.broadcast(total)).select(
        "cls_keep",
        "lm_keep",
        "n_docs",
        F.round(F.col("n_docs") * F.lit(1.0) / F.col("total"), 4).alias(
            "share"
        ),
        "docs_sig",
    )


# --------------------------------------------------------------------------
# compaction_plan
# --------------------------------------------------------------------------

COMPACT_TARGET_BYTES = 4096  # toy-scale stand-in for the ~512 MB
# target file size a production table compacts toward
COMPACT_SIG_MIX = 1_000_003

_COMPACTION_ORACLE = f"""
    WITH files AS (
      SELECT source, doc_id, n_chars AS bytes,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    ), grouped AS (
      SELECT source,
             -- // : DuckDB's / on integers is FLOAT division and a
             -- ::BIGINT cast ROUNDS half-even; the fill boundary
             -- needs floor semantics to match Spark's F.floor
             ((cum - bytes) // {COMPACT_TARGET_BYTES})::BIGINT
               AS merge_group,
             bytes
      FROM files
    ), groups AS (
      SELECT source, merge_group,
             count(*) AS n_files, sum(bytes)::BIGINT AS group_bytes
      FROM grouped GROUP BY source, merge_group
    )
    SELECT source,
           sum(n_files)::BIGINT AS n_files,
           count(*)::BIGINT AS n_groups,
           sum(group_bytes)::BIGINT AS total_bytes,
           round(sum(group_bytes) * 1.0
                 / (count(*) * {COMPACT_TARGET_BYTES}), 4) AS fill_ratio,
           sum(CASE WHEN group_bytes < {COMPACT_TARGET_BYTES}
                    THEN 1 ELSE 0 END)::BIGINT AS n_undersized,
           bit_xor(merge_group * {COMPACT_SIG_MIX} + group_bytes)::BIGINT
             AS plan_sig
    FROM groups GROUP BY source
    """


@register("compaction_plan", oracle=_COMPACTION_ORACLE)
def compaction_plan(spark, sf_dir):
    """Small-files compaction planner — the maintenance job every
    100 TB table needs (Iceberg's binPack rewrite): treat each
    (source, doc_id, n_chars) row as a data file in commit order,
    greedily fill merge groups to a target size (group = floor of the
    EXCLUSIVE running-byte prefix / target, so a file starts a new
    group exactly when the previous ones already reach the target —
    the sequential bin-fill binPack performs per partition), and
    report the per-source plan: group count, fill ratio vs target,
    ragged undersized groups, and a bit_xor signature over
    (merge_group, group_bytes) pairs that pins the exact grouping —
    any off-by-one in the fill boundary fails the oracle.

    Scale shape: the running sum is a per-PARTITION window (source =
    the table partition), the pack_sequences_sharded story — no global
    sort; only (source, doc_id, bytes) triples enter the window
    Exchange, never payloads. A production planner over 10^8 files per
    partition shards the window by manifest file exactly as
    pack_sequences_sharded shards by doc-hash. Integer bytes
    throughout; the only double is the final fill ratio."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    files = spread(
        table(spark, sf_dir, "documents").select(
            "source", "doc_id", F.col("n_chars").alias("bytes")
        )
    ).withColumn(
        "merge_group",
        F.floor(
            (F.sum("bytes").over(w) - F.col("bytes"))
            / F.lit(COMPACT_TARGET_BYTES)
        ),
    )
    groups = files.groupBy("source", "merge_group").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("group_bytes"),
    )
    return groups.groupBy("source").agg(
        F.sum("n_files").alias("n_files"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("group_bytes").alias("total_bytes"),
        F.round(
            F.sum("group_bytes")
            * F.lit(1.0)
            / (F.count(F.lit(1)) * F.lit(COMPACT_TARGET_BYTES)),
            4,
        ).alias("fill_ratio"),
        F.sum(
            (F.col("group_bytes") < COMPACT_TARGET_BYTES).cast("long")
        ).alias("n_undersized"),
        F.expr(
            f"bit_xor(merge_group * {COMPACT_SIG_MIX} + group_bytes)"
        ).alias("plan_sig"),
    )


# --------------------------------------------------------------------------
# dsir_importance_stats
# --------------------------------------------------------------------------

# DSIR-style importance weighting (Xie et al., "Data Selection for
# Language Models via Importance Resampling", NeurIPS 2023): hashed
# n-gram features, a TARGET distribution estimated from an in-domain
# subset, and per-document importance = how much more likely the doc's
# features are under target than under raw. The target domain here is
# the lang='en' slice (deterministic, corpus-derived); features are
# word BIGRAMS hashed into DSIR_B buckets (the hashing trick, same md5
# recipe as classifier_filter_stats).
#
# Determinism core: production DSIR sums per-feature LOG-ratios; a
# cross-engine ln() can differ in the last ulp, and the per-doc sum
# feeds a discrete selection decision. We therefore use a linearized
# fixed-point form — per-bucket MILLI-RATIO
# lambda_b = (1000 * (t_b+1) * (R+B)) // ((r_b+1) * (T+B))
# (Laplace-smoothed target/raw ratio, integer floor division) — and
# per-doc score = sum of lambda over the doc's grams, selected when the
# MEAN ratio exceeds 1 (score > 1000 * n_grams). Monotone in each
# feature ratio like the log form, but every intermediate is an exact
# integer on both engines.
DSIR_B = 64
DSIR_TARGET_LANG = "en"


def _dsir_bucket_sql(g: str) -> str:
    """Spark-side hash bucket for a gram expression (md5-prefix mod B,
    the classifier_filter_stats recipe)."""
    return (
        f"cast(conv(substring(md5({g}), 1, 4), 16, 10) as int) % {DSIR_B}"
    )


_DSIR_GRAMS_DUCK = "list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])"
_DSIR_BUCKET_DUCK = "('0x' || substring(md5(g), 1, 4))::BIGINT % " + str(DSIR_B)

_DSIR_GRAMS_SPARK = (
    "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), "
    "(a, b) -> concat(a, ' ', b))"
)


def dsir_lambda_table(docs) -> list[int]:
    """Pass 1 of DSIR: estimate the hashed-bigram target and raw
    distributions and return the {DSIR_B}-entry fixed-point
    milli-ratio table. One Exchange bounded at partitions x DSIR_B
    (bucket, count, target_count) partials; the driver collects
    exactly DSIR_B rows and derives lambda in arbitrary-precision
    Python ints (no int64 overflow at any corpus size)."""
    grams = docs.select(
        "lang", F.split(F.col("text"), " ").alias("ws")
    ).withColumn("gs", F.expr(_DSIR_GRAMS_SPARK))
    counts = (
        grams.select(
            F.explode("gs").alias("g"),
            (F.col("lang") == DSIR_TARGET_LANG).cast("long").alias("is_t"),
        )
        .select(F.expr(_dsir_bucket_sql("g")).alias("b"), "is_t")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("r"), F.sum("is_t").alias("t"))
        .collect()
    )
    by_b = {int(row["b"]): (int(row["r"]), int(row["t"])) for row in counts}
    rr = sum(r for r, _ in by_b.values())
    tt = sum(t for _, t in by_b.values())
    return [
        (1000 * (by_b.get(b, (0, 0))[1] + 1) * (rr + DSIR_B))
        // ((by_b.get(b, (0, 0))[0] + 1) * (tt + DSIR_B))
        for b in range(DSIR_B)
    ]


def with_dsir_score(docs, lam: list[int]):
    """Pass 2 of DSIR: append the exact-integer importance columns
    ``dsir_milli`` (summed milli-ratio over the doc's bigrams) and
    ``dsir_nf`` (bigram count) over ``text`` against a FROZEN lambda
    table — the single scoring definition shared by the batch rollup
    and the streaming gate (streaming/dsir_gate.py), the
    with_cls_score idiom. Map-only JVM expressions; the lambda-array
    literal is bound to its own column first so it is constructed once
    per row, not once per gram (CLAUDE.md HOF invariant). A doc is
    target-leaning when dsir_milli > 1000 * dsir_nf (mean ratio >
    1)."""
    lam_lit = "array(" + ", ".join(f"{v}L" for v in lam) + ")"
    score_expr = (
        "aggregate(transform(gs, g -> "
        f"la[{_dsir_bucket_sql('g')}]), 0L, (acc, x) -> acc + x)"
    )
    return (
        docs.withColumn("ws", F.split(F.col("text"), " "))
        .withColumn("gs", F.expr(_DSIR_GRAMS_SPARK))
        .withColumn("la", F.expr(lam_lit))
        .withColumn("dsir_milli", F.expr(score_expr))
        .withColumn("dsir_nf", F.size("gs"))
        .drop("ws", "gs", "la")
    )


_DSIR_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source, lang, string_split(text, ' ') AS ws
      FROM documents
    ), gr AS (
      SELECT doc_id, source, lang, {_DSIR_GRAMS_DUCK} AS gs FROM base
    ), bcraw AS (
      SELECT {_DSIR_BUCKET_DUCK} AS b,
             count(*)::BIGINT AS r,
             sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0
                 END)::BIGINT AS t
      FROM (SELECT lang, unnest(gs) AS g FROM gr) GROUP BY b
    ), bc AS (
      SELECT i.b, coalesce(c.r, 0)::BIGINT AS r, coalesce(c.t, 0)::BIGINT AS t
      FROM range({DSIR_B}) i(b) LEFT JOIN bcraw c ON c.b = i.b
    ), tot AS (
      SELECT sum(r)::BIGINT AS rr, sum(t)::BIGINT AS tt FROM bc
    ), lam AS (
      SELECT b, ((1000::HUGEINT * (t + 1) * (rr + {DSIR_B}))
                 // ((r + 1) * (tt + {DSIR_B})))::BIGINT AS l
      FROM bc CROSS JOIN tot
    ), lamarr AS (
      SELECT list(l ORDER BY b) AS la FROM lam
    ), scored AS (
      SELECT source, lang, len(gs) AS nf,
             coalesce(list_sum(list_transform(gs, g ->
               la[{_DSIR_BUCKET_DUCK} + 1])), 0)::BIGINT AS sc
      FROM gr CROSS JOIN lamarr
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0
               END)::BIGINT AS n_target,
           sum(CASE WHEN sc > 1000 * nf THEN 1 ELSE 0 END)::BIGINT
             AS n_selected,
           sum(sc)::BIGINT AS sum_milli,
           round(sum(CASE WHEN sc > 1000 * nf THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS sel_rate
    FROM scored GROUP BY source
    """


@register("dsir_importance_stats", oracle=_DSIR_ORACLE)
def dsir_importance_stats(spark, sf_dir):
    """DSIR importance weighting over hashed bigram features (Xie et
    al. 2023) — the data-SELECTION family member next to the absolute
    filters: `classifier_filter_stats` scores against fixed weights,
    `quality_resample` buckets by absolute perplexity; DSIR weighs raw
    docs by how TARGET-LIKE their feature distribution is (target =
    the lang='{DSIR_TARGET_LANG}' slice) and is what production
    pipelines use to tilt a web crawl toward a curated domain.

    Scale shape, pass 1 (estimate the two distributions): bigrams are
    row-local array ops; the single Exchange carries map-side-combined
    (bucket, count, target_count) partials bounded at partitions x
    {DSIR_B} rows; the driver collects exactly {DSIR_B} rows and
    derives the milli-ratio table in arbitrary-precision Python ints
    (no int64 overflow at any corpus size — only the 64-long literal
    ships back). Pass 2 is MAP-ONLY scoring against the lambda
    literal (a broadcast variable at real B) + the per-source rollup
    Exchange of integer partials. Both passes stay JVM-side — no
    Python UDF anywhere.

    Determinism: every intermediate is an exact integer (see the
    module-level DSIR note); the one double, sel_rate, is a final
    output column rounded per the registry contract."""
    lam = dsir_lambda_table(
        spread(table(spark, sf_dir, "documents"))
    )
    scored = with_dsir_score(
        spread(table(spark, sf_dir, "documents")), lam
    ).select(
        "source",
        "lang",
        F.col("dsir_nf").alias("nf"),
        F.col("dsir_milli").alias("sc"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("long")).alias(
            "n_target"
        ),
        F.sum((F.col("sc") > 1000 * F.col("nf")).cast("long")).alias(
            "n_selected"
        ),
        F.sum("sc").alias("sum_milli"),
        F.round(
            F.sum((F.col("sc") > 1000 * F.col("nf")).cast("long"))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            4,
        ).alias("sel_rate"),
    )


# --------------------------------------------------------------------------
# zorder_layout_plan
# --------------------------------------------------------------------------

ZORDER_BITS = 8  # per-dimension key width after range normalization
ZORDER_BIN_SHIFT = 10  # 16-bit z -> 64 z-curve bins
ZORDER_LIN_SHIFT = 2  # 8-bit linear key -> 64 bins (same bin budget)
ZORDER_SIG_MIX = 1_000_003
# packing base for (key, bin) distinct pairs: bin < 2^16, key < 2^8
ZORDER_PAIR_BASE = 1 << 20


def _spread_stages(src: str, out: str) -> list[tuple[str, str]]:
    """Morton Part1By1 bit spreading for an 8-bit value as three
    staged (col_name, sql_expr) projections — plain &/|/<< integer
    ops, the identical text runs on Spark SQL and DuckDB."""
    a, b = f"{out}_s1", f"{out}_s2"
    return [
        (a, f"(({src} | ({src} << 4)) & 3855)"),  # 0x0F0F
        (b, f"(({a} | ({a} << 2)) & 13107)"),  # 0x3333
        (out, f"(({b} | ({b} << 1)) & 21845)"),  # 0x5555
    ]


_ZORDER_STAGES = _spread_stages("x8", "xs") + _spread_stages("y8", "ys")
_ZORDER_STAGE_SQL = ",\n             ".join(
    f"{expr} AS {name}" for name, expr in _ZORDER_STAGES
)

_ZORDER_ORACLE = f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 60000000 AS minute FROM events
    ), g AS (
      SELECT min(user_id) AS xmin, max(user_id) AS xmax,
             min(minute) AS ymin, max(minute) AS ymax
      FROM e
    ), k AS (
      SELECT ((user_id - xmin) * 256) // (xmax - xmin + 1) AS x8,
             ((minute - ymin) * 256) // (ymax - ymin + 1) AS y8
      FROM e CROSS JOIN g
    ), s1 AS (
      SELECT x8, y8,
             {_ZORDER_STAGE_SQL}
      FROM k
    ), zz AS (
      SELECT x8, y8, (xs | (ys << 1)) AS z FROM s1
    ), l AS (
      SELECT 'zorder' AS layout, x8, y8, z,
             (z >> {ZORDER_BIN_SHIFT}) AS bin FROM zz
      UNION ALL
      SELECT 'time', x8, y8, z, (y8 >> {ZORDER_LIN_SHIFT}) FROM zz
      UNION ALL
      SELECT 'user', x8, y8, z, (x8 >> {ZORDER_LIN_SHIFT}) FROM zz
    )
    SELECT layout,
           count(*)::BIGINT AS n_rows,
           count(DISTINCT bin)::BIGINT AS n_bins,
           count(DISTINCT x8 * {ZORDER_PAIR_BASE} + bin)::BIGINT
             AS user_probe_pairs,
           round(count(DISTINCT x8 * {ZORDER_PAIR_BASE} + bin) * 1.0
                 / count(DISTINCT x8), 4) AS avg_bins_per_user,
           count(DISTINCT y8 * {ZORDER_PAIR_BASE} + bin)::BIGINT
             AS slot_probe_pairs,
           round(count(DISTINCT y8 * {ZORDER_PAIR_BASE} + bin) * 1.0
                 / count(DISTINCT y8), 4) AS avg_bins_per_slot,
           bit_xor(bin * {ZORDER_SIG_MIX} + z)::BIGINT AS layout_sig
    FROM l GROUP BY layout
    """


@register("zorder_layout_plan", oracle=_ZORDER_ORACLE)
def zorder_layout_plan(spark, sf_dir):
    """Multi-dimensional data-layout planner + pruning audit — the
    OPTIMIZE ZORDER maintenance job (Iceberg sort-order rewrite /
    Delta Z-ordering) that decides how a 100 TB event table is
    clustered into files so BOTH per-user and per-time-range point
    queries can skip most of them via file-level min/max stats.

    Each event's (user_id, event-minute) keys are range-normalized to
    8 bits against the table min/max, bit-interleaved into a 16-bit
    Morton z-value (three staged &/|/<< projections per dimension —
    exact int64, the identical expression text runs on both engines),
    and assigned to one of 64 bins under three candidate layouts:
    the z-curve (z >> {ZORDER_BIN_SHIFT}), time-linear, and
    user-linear. The audit reports, per layout, the file-skipping
    cost of each probe class: user_probe_pairs = sum over users of
    how many bins that user's rows land in (= files a user_id=U scan
    must open under perfect min/max pruning), the same per time slot,
    and a bit_xor signature over (bin, z) pairs that pins every row's
    exact bin assignment. The z-order row shows the balance both
    linear layouts miss: each linear layout is perfect for its own
    probe class (~1 bin) and worthless for the other (~all bins).

    Scale shape: the min/max fold is a 1-row aggregate folded back
    broadcast — a second, column-pruned pass over just (user_id, ts);
    on a real Iceberg/Delta table the bounds come FREE from manifest
    min/max stats, so the audit is one pass there (the two-pass form
    is the honest filesystem-parquet fallback and is what the plan
    test pins); key normalization, spreading, and binning are row-local
    projections on the scan; the 3-layout explode is a fixed 3-literal
    array; the multi-DISTINCT aggregate Expands map-side and
    partial-aggregates, so the Exchange carries distinct (layout, key,
    bin) triples — bounded by 3 * 256 * 64 rows regardless of table
    size. The actual rewrite this plans is repartitionByRange(z) +
    write: engine-internal, so the registered audit pins the z-math
    the rewrite would sort by."""
    # ts is TIMESTAMP_NTZ: stay in the naive domain (the
    # hopping_event_counts precedent). timestampdiff(MINUTE) anchored
    # at the epoch is NTZ-native and equals the oracle's
    # epoch_us(ts) // 60000000 exactly — complete minutes since an
    # aligned anchor == floor(micros / 60e6) for any post-1970 ts.
    ev = spread(table(spark, sf_dir, "events")).select(
        "user_id",
        F.expr(
            "timestampdiff(MINUTE, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        ).alias("minute"),
    )
    g = ev.agg(
        F.min("user_id").alias("xmin"),
        F.max("user_id").alias("xmax"),
        F.min("minute").alias("ymin"),
        F.max("minute").alias("ymax"),
    )
    k = ev.crossJoin(F.broadcast(g)).selectExpr(
        "((user_id - xmin) * 256) div (xmax - xmin + 1) AS x8",
        "((minute - ymin) * 256) div (ymax - ymin + 1) AS y8",
    )
    for name, expr_sql in _ZORDER_STAGES:
        k = k.withColumn(name, F.expr(expr_sql))
    zz = k.select("x8", "y8", F.expr("xs | (ys << 1)").alias("z"))
    layouts = zz.select(
        "x8",
        "y8",
        "z",
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"z >> {ZORDER_BIN_SHIFT}").alias("bin"),
                ),
                F.struct(
                    F.lit("time").alias("layout"),
                    F.expr(f"y8 >> {ZORDER_LIN_SHIFT}").alias("bin"),
                ),
                F.struct(
                    F.lit("user").alias("layout"),
                    F.expr(f"x8 >> {ZORDER_LIN_SHIFT}").alias("bin"),
                ),
            )
        ).alias("lb"),
    ).select("x8", "y8", "z", "lb.layout", "lb.bin")
    pair_u = F.expr(f"x8 * {ZORDER_PAIR_BASE} + bin")
    pair_s = F.expr(f"y8 * {ZORDER_PAIR_BASE} + bin")
    return layouts.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("bin").cast("bigint").alias("n_bins"),
        F.countDistinct(pair_u).cast("bigint").alias("user_probe_pairs"),
        F.round(
            F.countDistinct(pair_u) * F.lit(1.0) / F.countDistinct("x8"), 4
        ).alias("avg_bins_per_user"),
        F.countDistinct(pair_s).cast("bigint").alias("slot_probe_pairs"),
        F.round(
            F.countDistinct(pair_s) * F.lit(1.0) / F.countDistinct("y8"), 4
        ).alias("avg_bins_per_slot"),
        F.expr(f"bit_xor(bin * {ZORDER_SIG_MIX} + z)").alias("layout_sig"),
    )


# --------------------------------------------------------------------------
# epoch_shuffle_plan
# --------------------------------------------------------------------------

SHUF_EPOCHS = 2
SHUF_SHARDS = 8
SHUF_SEED = "s5"
SHUF_SIG_MIX = 1_000_003

_SHUF_ORACLE = f"""
    WITH keyed AS (
      SELECT e.epoch, d.doc_id, d.source,
             md5('{SHUF_SEED}' || ':' || e.epoch || ':' || d.doc_id) AS k
      FROM documents d
      CROSS JOIN (SELECT unnest(range({SHUF_EPOCHS})) AS epoch) e
    ), sharded AS (
      SELECT epoch, doc_id, source, k,
             ('0x' || substring(k, 1, 8))::BIGINT % {SHUF_SHARDS} AS shard
      FROM keyed
    ), ranked AS (
      SELECT epoch, shard, doc_id, source,
             row_number() OVER (
               PARTITION BY epoch, shard ORDER BY k, doc_id
             ) AS rnk
      FROM sharded
    )
    SELECT epoch::BIGINT AS epoch, shard::BIGINT AS shard,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT source)::BIGINT AS n_sources,
           min(CASE WHEN rnk = 1 THEN doc_id END)::BIGINT AS head_doc,
           bit_xor(rnk * {SHUF_SIG_MIX} + doc_id)::BIGINT AS order_sig
    FROM ranked GROUP BY epoch, shard
    """


@register("epoch_shuffle_plan", oracle=_SHUF_ORACLE)
def epoch_shuffle_plan(spark, sf_dir):
    """Deterministic per-epoch training-data shuffle — the
    reproducibility contract every large training run needs (restart
    epoch 2 on a new cluster and read the SAME order): each (epoch,
    doc) gets a seeded md5 key, the key's head routes the doc to one
    of {SHUF_SHARDS} shards, and the shard's read order is the key
    order — a pure function of (seed, epoch, doc_id), no RNG state,
    so any worker can recompute its shard's order independently. The
    audit pins it: per (epoch, shard), doc count, source mix, the
    head document, and a bit_xor over (rank, doc_id) pairs that a
    single transposition anywhere would flip.

    Scale shape: keying and shard routing are row-local; the
    rank-within-shard window partitions by (epoch, shard), and in
    production the shard count scales with the corpus (a shard = one
    output file at the target file size), so each window partition is
    bounded by file size — the same block-bounded-window argument as
    posting_compress_stats; the rollup is one bounded Exchange of
    (epoch, shard) groups. Epochs differ by reseeding, not
    rematerializing: the plan proves epoch orders are decorrelated
    (different head_doc / order_sig per epoch) without storing
    anything."""
    from pyspark.sql import Window

    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "source"
    )
    epochs = F.explode(
        F.array(*[F.lit(e) for e in range(SHUF_EPOCHS)])
    ).alias("epoch")
    keyed = d.select("doc_id", "source", epochs).withColumn(
        "k",
        F.md5(
            F.concat_ws(
                ":", F.lit(SHUF_SEED), F.col("epoch"), F.col("doc_id")
            )
        ),
    )
    sharded = keyed.withColumn(
        "shard",
        (
            F.conv(F.substring("k", 1, 8), 16, 10).cast("long")
            % SHUF_SHARDS
        ),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    ranked = sharded.withColumn("rnk", F.row_number().over(w))
    return ranked.groupBy(
        F.col("epoch").cast("bigint").alias("epoch"),
        F.col("shard").cast("bigint").alias("shard"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.min(F.when(F.col("rnk") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("head_doc"),
        F.expr(f"bit_xor(rnk * {SHUF_SIG_MIX} + doc_id)").alias(
            "order_sig"
        ),
    )
