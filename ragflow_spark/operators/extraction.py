"""The extraction pipeline exposed as driver-checkable queries.

The kernel is a DOM/PDF parser, but over the SYNTHESIZED corpus every
one of its 20 input routes reduces to relational string assembly on
documents.text, so the byte surface is value-oracle-able after all:
extract_text_hashes_full reconstructs the md5 of every page's
extracted bytes in pure SQL (all routes), chunk_spans_full
reconstructs the chunker's full span output (template, count, every
char_start:char_end:token_count triple) the same way, and
extract_pages_stats checks the per-route parse outcome mix.
Byte-exactness against arbitrary (non-synthesized) inputs is covered
by the pinned golden fixtures in tests/test_golden.py (FIXTURES.md
§2).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ragflow_spark.kernels.sniff import CODE_EMPTY_PAYLOAD, CODE_OK
from ragflow_spark.operators.registry import register
from ragflow_spark.plans.pipeline import assign_splits, extract_pages
from ragflow_spark.sources.pages import synthesize_pages


def _extracted_pages(spark, sf_dir):
    """The real pipeline over pages synthesized from documents.parquet
    (synthesize -> assign splits -> extract), with the synthesizer's
    doc_id parsed back out of each url for the oracles to join on."""
    pages = synthesize_pages(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    staged = assign_splits(pages, n_splits=32, salt_factor=8, hot_hosts=None)
    doc_id = F.regexp_extract("url", r"doc-(\d+)$", 1).cast("bigint")
    return extract_pages(staged).withColumn("doc_id", doc_id)


@register(
    "extract_pages_stats",
    oracle=f"""
    SELECT CASE WHEN doc_id % 20 IN (18, 19) THEN 'pdf'
                WHEN doc_id % 20 = 9 THEN 'empty'
                ELSE 'html' END AS content_type,
           CASE WHEN doc_id % 20 = 9 THEN 'failed' ELSE 'ok' END
             AS parse_status,
           CASE WHEN doc_id % 20 = 9 THEN {CODE_EMPTY_PAYLOAD}
                ELSE {CODE_OK} END AS parse_code,
           count(*)::BIGINT AS n_docs
    FROM documents
    GROUP BY 1, 2, 3
    """,
)
def extract_pages_stats(spark, sf_dir):
    """Full pipeline over pages synthesized from documents.parquet:
    per (content_type, parse_status, parse_code) counts. The oracle
    recomputes the mix arithmetically from the synthesizer's
    doc_id % 20 routing — a real end-to-end check that every page
    lands in the right parser with the right outcome. Chunk/char
    totals are covered per-url by extract_text_hashes_full,
    chunk_spans_full and the goldens."""
    ex = _extracted_pages(spark, sf_dir)
    return ex.groupBy("content_type", "parse_status", "parse_code").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# Shared oracle CTE block: reconstructs every route's extracted text
# (txt) in pure SQL from documents.text + the synthesizer's doc_id % 20
# routing — the basis of BOTH the byte-surface oracle
# (extract_text_hashes_full) and the chunk-span oracle
# (chunk_spans_full).
_ROUTES_CTES = """
    p AS (
      SELECT doc_id, text, str_split(text, ' ') AS words,
             len(str_split(text, ' ')) AS n,
             greatest(8, len(str_split(text, ' ')) // 6) AS per
      FROM documents
    ), paras AS (
      SELECT doc_id, doc_id % 20 AS t,
        CASE WHEN length(trim(text)) = 0 THEN ['empty document body'] ELSE
          list_transform(
            range(least(6, cast(ceil(n * 1.0 / per) AS INT))),
            i -> array_to_string(words[i * per + 1 : (i + 1) * per], ' ')
          ) END AS ps
      FROM p
    ), j AS (
      SELECT doc_id, t, ps, array_to_string(ps, chr(10)) AS body FROM paras
    ), built AS (
      SELECT doc_id, t, ps,
        CASE t
          WHEN 0 THEN 'Document ' || doc_id || chr(10) || body
          WHEN 1 THEN 'Main ' || doc_id || chr(10) || body
          WHEN 2 THEN body || chr(10) || 'name' || chr(9) || 'chars'
                      || array_to_string(list_transform(range(4),
                           i -> chr(10) || 'row ' || i || chr(9)
                                || length(ps[(i % len(ps)) + 1])), '')
          WHEN 3 THEN body
          WHEN 4 THEN 'Fish & chips ☃ snowman' || chr(10) || body
          WHEN 5 THEN ps[1] || chr(10) || chr(10) || 'more text'
                      || chr(10) || body
          WHEN 6 THEN '中文内容 文档 ' || doc_id || chr(10) || body
          WHEN 7 THEN 'café résumé naïve ' || doc_id || chr(10) || body
          WHEN 8 THEN 'open para' || chr(10) || body || chr(10)
                      || 'another' || chr(10) || body
          WHEN 9 THEN ''
          WHEN 10 THEN array_to_string(
                         flatten(list_transform(range(40), i -> ps)), ' ')
          WHEN 11 THEN 'Book ' || doc_id || chr(10) || array_to_string(
                         list_transform(range(len(ps)),
                           i -> 'Chapter ' || (i + 1) || chr(10) || ps[i + 1]),
                         chr(10))
          WHEN 12 THEN 'Paper ' || doc_id || chr(10) || 'Abstract' || chr(10)
                       || ps[1] || chr(10)
                       || CASE WHEN len(ps) > 2 THEN array_to_string(
                            list_transform(range(len(ps) - 2),
                              i -> (i + 1) || '. Section' || chr(10)
                                   || ps[i + 2]), chr(10)) || chr(10)
                          ELSE '' END
                       || 'References' || chr(10) || '[1] '
                       || rtrim(substr(ps[len(ps)], 1, 80))
          WHEN 13 THEN 'déjà vu résumé' || chr(10) || body
          WHEN 18 THEN 'Example Journal' || chr(10) || body
                       || chr(10) || 'page 1'
          WHEN 19 THEN body
          ELSE body
        END AS txt
      FROM j
    )
"""


@register(
    "extract_text_hashes_full",
    oracle=f"""
    WITH {_ROUTES_CTES}
    SELECT doc_id, md5(txt) AS text_md5,
           CASE WHEN t = 9 THEN {CODE_EMPTY_PAYLOAD} ELSE {CODE_OK} END
             AS parse_code
    FROM built
    """,
)
def extract_text_hashes_full(spark, sf_dir):
    """FULL value oracle for the extraction byte surface: every one of
    the synthesizer's 20 routes (sources/pages.py:81-152) reduces to
    relational string assembly over documents.text, so the md5 of each
    page's extracted bytes — HTML and PDF alike — is reconstructed in
    pure SQL and compared against the REAL pipeline (synthesize ->
    sniff -> DOM/PDF parse -> boilerplate strip -> normalize). What
    this pins per route: t=0 boilerplate battery stripped (header/
    cookie-banner/sidebar/footer vanish, h1+paragraphs survive); t=1
    link-farm dropped by link density; t=2 data table kept as
    tab-joined rows (cell values = computed paragraph lengths) while
    the layout table is dropped; t=3 inline script/style noise
    stripped; t=4 entities decoded (&amp;/&#x2603;/&nbsp;-&gt;space);
    t=5 tab/CRLF whitespace renormalized (the messy <p> splits at the
    blank line into para + 'more text' sections); t=6 GBK transcode
    (corpus text is ASCII so the round trip is lossless — asserted in
    the parity run by the oracle matching); t=7 the charset-lie
    fallback (utf-8 declared, latin-1 bytes); t=8 malformed-tag
    recovery (unclosed <p>s: body twice around 'another'); t=9 empty
    payload -> error row with md5('') and CODE_EMPTY_PAYLOAD; t=10
    huge single text node; t=11/12 heading/paper structure; t=13
    NFD->NFC normalization (oracle embeds the composed form); t=14-17
    plain articles; t=18 single-column PDF with header/footer lines;
    t=19 two-column PDF reassembled in reading order. The chunker's
    span output gets its own full value oracle in `chunk_spans_full`.
    Empty-text branches are pinned at the kernel level in
    tests/test_kernels_html.py."""
    return _extracted_pages(spark, sf_dir).select(
        "doc_id",
        F.md5(F.coalesce("extracted_text", F.lit(""))).alias("text_md5"),
        "parse_code",
    )


# The chunker's token regex (kernels/chunk.py _TOKEN_RE), written in
# the Java∩RE2 dialect: word runs (with apostrophe suffix) | single
# CJK chars | any other non-whitespace glyph. The whitespace class is
# explicit (Python \s would also match \x0b and unicode spaces; the
# kernel's whitespace normalization guarantees neither reaches
# extracted text, and the explicit class keeps both engines honest —
# the WS_CLASS rule, operators/textops.py).
_TOKEN_RE_SQL = (
    "[A-Za-z0-9_]+(?:''[a-z]+)?"
    "|[一-鿿぀-ヿ가-힯]"
    "|[^ \\t\\n\\r\\x0b\\x0cA-Za-z0-9_]"
)


@register(
    "chunk_spans_full",
    oracle=f"""
    WITH {_ROUTES_CTES}
    , base AS (
      SELECT doc_id, t, ps, txt, len(ps) AS L, length(txt) AS total,
             len(str_split(txt, ' ')) AS m
      FROM built
    ), sp AS (
      SELECT doc_id, t,
        CASE
          WHEN t = 9 THEN []::VARCHAR[]
          -- t=10 huge single node: > 2x budget tokens -> hard split at
          -- every 256th token end; char offsets are prefix sums over
          -- the word list (words joined by single spaces)
          WHEN t = 10 AND m > 512 THEN
            list_transform(range(cast(ceil(m / 256.0) AS INT)), k ->
              (CASE WHEN k = 0 THEN 0
                    ELSE length(array_to_string(
                           (str_split(txt, ' '))[1 : k * 256], ' ')) END)
              || ':' ||
              length(array_to_string(
                (str_split(txt, ' '))[1 : least((k + 1) * 256, m)], ' '))
              || ':' || (least((k + 1) * 256, m) - k * 256))
          WHEN t = 10 THEN ['0:' || total || ':' || m]
          -- t=11 book template: one chunk for the h1 line, one per
          -- h2 chapter unit (heading + paragraph, tiled to the next
          -- chapter start); all offsets are section-length arithmetic
          WHEN t = 11 THEN
            ['0:' || (length('Book ' || doc_id) + 1) || ':2']
            || list_transform(range(L), i ->
                 (length('Book ' || doc_id) + 1
                  + CASE WHEN i > 0 THEN length(array_to_string(
                      list_transform(range(L),
                        q -> 'Chapter ' || (q + 1) || chr(10) || ps[q + 1]
                      )[1 : i], chr(10))) + 1 ELSE 0 END)
                 || ':' ||
                 (CASE WHEN i + 1 < L THEN
                    length('Book ' || doc_id) + 1
                    + length(array_to_string(
                        list_transform(range(L),
                          q -> 'Chapter ' || (q + 1) || chr(10) || ps[q + 1]
                        )[1 : i + 1], chr(10))) + 1
                  ELSE total END)
                 || ':' || (2 + len(str_split(ps[i + 1], ' '))))
          -- t=12 paper template: h1 unit, Abstract unit, one unit per
          -- numbered section, References chunk (heading + truncated
          -- last paragraph)
          WHEN t = 12 THEN
            ['0:' || (length('Paper ' || doc_id) + 1) || ':2',
             (length('Paper ' || doc_id) + 1) || ':' ||
             (CASE WHEN L > 2 THEN
                length('Paper ' || doc_id) + 1
                + length('Abstract' || chr(10) || ps[1]) + 1
              ELSE total - length('References' || chr(10) || '[1] '
                                  || rtrim(substr(ps[L], 1, 80))) END)
             || ':' || (1 + len(str_split(ps[1], ' ')))]
            || list_transform(range(greatest(L - 2, 0)), i ->
                 (length('Paper ' || doc_id) + 1
                  + length('Abstract' || chr(10) || ps[1]) + 1
                  + CASE WHEN i > 0 THEN length(array_to_string(
                      list_transform(range(greatest(L - 2, 0)),
                        q -> (q + 1) || '. Section' || chr(10) || ps[q + 2]
                      )[1 : i], chr(10))) + 1 ELSE 0 END)
                 || ':' ||
                 (CASE WHEN i + 1 < L - 2 THEN
                    length('Paper ' || doc_id) + 1
                    + length('Abstract' || chr(10) || ps[1]) + 1
                    + length(array_to_string(
                        list_transform(range(greatest(L - 2, 0)),
                          q -> (q + 1) || '. Section' || chr(10) || ps[q + 2]
                        )[1 : i + 1], chr(10))) + 1
                  ELSE total - length('References' || chr(10) || '[1] '
                                      || rtrim(substr(ps[L], 1, 80))) END)
                 || ':' || (3 + len(str_split(ps[i + 2], ' '))))
            || [(total - length('References' || chr(10) || '[1] '
                                || rtrim(substr(ps[L], 1, 80))))
                || ':' || total || ':'
                || (4 + len(str_split(rtrim(substr(ps[L], 1, 80)), ' ')))]
          -- every other route: the whole text fits one chunk under
          -- the 256-token budget (corpus contract: <= 100 words/doc,
          -- so the heaviest naive route, t=8 at ~2x body, stays
          -- under budget); token count = the chunker's regex count
          ELSE ['0:' || total || ':'
                || len(regexp_extract_all(txt, '{_TOKEN_RE_SQL}'))]
        END AS spans_list
      FROM base
    )
    SELECT doc_id,
           len(spans_list) AS n_chunks,
           CASE WHEN t = 9 THEN ''
                WHEN t = 11 THEN 'book'
                WHEN t = 12 THEN 'paper'
                ELSE 'naive' END AS template,
           coalesce(array_to_string(spans_list, '|'), '') AS spans
    FROM sp
    """,
)
def chunk_spans_full(spark, sf_dir):
    """FULL value oracle for the chunk-span surface (north rule:
    "chunk spans byte-identical per url"): for every one of the 20
    synthesizer routes the chunker's exact output — template choice
    (naive/book/paper via kernels/chunk.py choose_template), chunk
    count, and every (char_start, char_end, token_count) triple — is
    reconstructed in pure SQL and compared against the REAL pipeline
    (synthesize -> parse -> strip -> chunk). What makes this
    reconstructible: spans tile [0, len) exactly (FIXTURES.md §2), so
    chunking is cut-point arithmetic; the corpus contract (ASCII
    single-space words, <= 100 words/doc, no sentence punctuation)
    pins each route to one closed form — single chunk for the naive
    routes, 256-token hard splits for the huge-node route (word-length
    prefix sums), heading-offset units for book/paper. Verified
    byte-identical to the kernel on all 6,000 docs of
    sf{{0.001,0.01,0.1}} during development; the residue that remains
    golden-only is chunk behavior on inputs OUTSIDE the corpus
    contract (sentence-punctuated text exercising the greedy
    sentence merge), which tests/test_golden.py and
    tests/test_properties.py pin."""
    return _extracted_pages(spark, sf_dir).select(
        "doc_id",
        F.size(F.coalesce("chunks", F.array())).alias("n_chunks"),
        F.coalesce(
            F.try_element_at(F.col("chunks"), F.lit(1))["template"], F.lit("")
        ).alias("template"),
        F.concat_ws(
            "|",
            F.transform(
                "chunks",
                lambda c: F.concat_ws(
                    ":", c["char_start"], c["char_end"], c["token_count"]
                ),
            ),
        ).alias("spans"),
    )


# --------------------------------------------------------------------------
# snapshot_retention_plan
# --------------------------------------------------------------------------

SNAP_KEEP_LAST = 3  # expire_snapshots(retain_last => 3) policy


def _retention_oracle() -> str:
    from ragflow_spark.sources.snapstore import (
        SNAPSTORE_N_SPLITS,
        SNAPSTORE_WAVE_SIZE,
    )

    n, ws = SNAPSTORE_N_SPLITS, SNAPSTORE_WAVE_SIZE
    n_snaps = -(-n // ws)  # ceil
    return f"""
    WITH s AS (
      SELECT i + 1 AS snapshot_id, i AS wave,
             least({n}, (i + 1) * {ws}) - i * {ws} AS n_splits_added,
             least({n}, (i + 1) * {ws}) AS cum_splits,
             (i + 1 <= {n_snaps - SNAP_KEEP_LAST}) AS expired,
             (SELECT bit_xor(j)
              FROM unnest(range(i * {ws}, least({n}, (i + 1) * {ws})))
                u(j)) AS splits_sig
      FROM unnest(range({n_snaps})) t(i)
    )
    SELECT snapshot_id::BIGINT AS snapshot_id, wave::BIGINT AS wave,
           n_splits_added::BIGINT AS n_splits_added,
           cum_splits::BIGINT AS cum_splits, expired,
           splits_sig::BIGINT AS splits_sig
    FROM s
    """


@register("snapshot_retention_plan", oracle=_retention_oracle())
def snapshot_retention_plan(spark, sf_dir):
    """Snapshot expiry planning over a REAL committed snapshot chain —
    the expire_snapshots(retain_last => {SNAP_KEEP_LAST}) maintenance
    job of the Iceberg-style log this repo's checkpoint sink writes
    (plans/checkpoint.py snap-*.json, one per committed wave;
    read_extracted_asof is the matching time-travel read): materialize
    (once, cached) a genuine multi-wave extraction run, READ AND PARSE
    its snapshot files, and emit per snapshot the added-split count,
    the cumulative table state, the retention verdict, and a bit_xor
    signature over the snapshot's split ids — so a drifted wave
    boundary, a skipped snapshot, or a mis-parsed chain all fail the
    oracle, which recomputes the chain's deterministic structure
    arithmetically (the cdx_fetch_plan materialize-then-parse
    pattern).

    Scale shape: the snapshot LOG is metadata — bounded by commit
    count, not corpus size (a year of hourly commits is ~10^4 rows) —
    so the global order-by-id window is a deliberate tiny-table plan,
    like the V-row vocab collect; data files never enter the job. In
    production the expired ids feed a delete of unreferenced manifest
    files; here the chain is append-only so retention only bounds the
    time-travel horizon."""
    from pyspark.sql import Window

    from ragflow_spark.sources.snapstore import snapshot_run_dir

    out = snapshot_run_dir(spark, sf_dir)
    snaps = spark.read.json(f"{out}/snapshots/snap-*.json")
    w = Window.orderBy("snapshot_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    enriched = snaps.select(
        "snapshot_id",
        "wave",
        F.size("splits").cast("long").alias("n_splits_added"),
        F.expr("aggregate(splits, cast(0 as bigint), (a, x) -> a ^ x)").alias(
            "splits_sig"
        ),
    ).withColumn("cum_splits", F.sum("n_splits_added").over(w))
    latest = enriched.agg(F.max("snapshot_id").alias("max_id"))
    return enriched.crossJoin(F.broadcast(latest)).select(
        "snapshot_id",
        "wave",
        "n_splits_added",
        "cum_splits",
        (F.col("snapshot_id") <= F.col("max_id") - SNAP_KEEP_LAST).alias(
            "expired"
        ),
        "splits_sig",
    )
