"""Text-analysis operators over the documents table (round brief:
language-ID, quality scoring, token counting, fingerprinting) plus a
deterministic reimplementation of the reference's KeywordExtract shape
(L2, reference agent/component/keyword.py:24-72 — LLM replaced by tf
top-n, which is the testable dataflow)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ragflow_spark.operators.registry import register, spread, table

# Explicit whitespace class instead of \s: Java regex \s includes
# \x0B (vertical tab), RE2's does not — a document with a VT between
# tokens would silently diverge between a query and its DuckDB oracle
# (round-2 advice). The explicit class pins Java's semantics in BOTH
# engines, so Spark output is unchanged.
WS_CLASS = r"[ \t\n\x0B\f\r]"
_WS_CHARS = r" \t\n\x0B\f\r"

# BPE-ish token pattern: word runs | single CJK | punctuation glyph —
# same class of regex both engines support identically.
TOKEN_PATTERN = rf"[A-Za-z0-9_]+|[^A-Za-z0-9_{_WS_CHARS}]"


def doc_words(text="text"):
    """Lowercase words split on single spaces — the word array every
    word-level query derives from its text (the oracles' twin is
    ``str_split(lower(text), ' ')``)."""
    return F.split(F.lower(text), " ")


def text_fp(text):
    """Content fingerprint: md5 of WS_CLASS-collapsed lowercase text."""
    return F.md5(F.lower(F.regexp_replace(text, WS_CLASS + "+", " ")))


def quality(text):
    """Quality score in [0, 1] from length, punctuation and stopword
    ratios (weights frozen; the oracles' twin is ``_QUALITY_SQL``)."""
    n_words = F.size(F.split(text, " "))
    len_score = F.least(n_words / F.lit(400.0), F.lit(1.0))
    punct = F.regexp_count(text, F.lit(r"[^A-Za-z0-9 ]"))
    punct_score = F.lit(1.0) - F.least(
        punct * F.lit(1.0) / F.greatest(F.length(text), F.lit(1)), F.lit(1.0)
    )
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    stop = F.regexp_count(padded, F.lit(r"[ ](the|and|of|a|to)[ ]"))
    stop_score = F.least(
        stop * F.lit(10.0) / F.greatest(n_words, F.lit(1)), F.lit(1.0)
    )
    return F.round(
        F.lit(0.4) * len_score + F.lit(0.3) * punct_score + F.lit(0.3) * stop_score,
        4,
    )


# tiny deterministic stopword sets for the language-ID heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "que"],
    "fr": ["le", "les", "des"],
}


@register(
    "token_count",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           sum(len(regexp_extract_all(text, '{TOKEN_PATTERN}')))::BIGINT
             AS total_tokens,
           round(avg(len(regexp_extract_all(text, '{TOKEN_PATTERN}'))), 4)
             AS avg_tokens
    FROM documents GROUP BY source
    """,
)
def token_count(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex, round brief; the
    reference's analog is rag.utils.num_tokens_from_string used at
    agent/component/relevant.py:68-69 [NOT IN CHECKOUT]). JVM-side
    regexp_count — no Python in the hot path."""
    d = table(spark, sf_dir, "documents")
    toks = F.regexp_count(F.col("text"), F.lit(TOKEN_PATTERN))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
        F.round(F.avg(toks), 4).alias("avg_tokens"),
    )


def _marker_count_sql(lang: str) -> str:
    terms = _LANG_MARKERS[lang]
    return " + ".join(
        f"len(regexp_extract_all(' ' || lower(text) || ' ', '[ ]{t}[ ]'))"
        for t in terms
    )


@register(
    "lang_id",
    oracle=f"""
    SELECT guess, count(*) AS n FROM (
      SELECT CASE
        WHEN {_marker_count_sql('en')} >= {_marker_count_sql('de')}
         AND {_marker_count_sql('en')} >= {_marker_count_sql('es')}
         AND {_marker_count_sql('en')} >= {_marker_count_sql('fr')}
         AND {_marker_count_sql('en')} > 0 THEN 'en'
        WHEN {_marker_count_sql('de')} >= {_marker_count_sql('es')}
         AND {_marker_count_sql('de')} >= {_marker_count_sql('fr')}
         AND {_marker_count_sql('de')} > 0 THEN 'de'
        WHEN {_marker_count_sql('es')} >= {_marker_count_sql('fr')}
         AND {_marker_count_sql('es')} > 0 THEN 'es'
        WHEN {_marker_count_sql('fr')} > 0 THEN 'fr'
        ELSE 'und' END AS guess
      FROM documents
    ) GROUP BY guess
    """,
)
def lang_id(spark, sf_dir):
    """n-gram/stopword language-ID heuristic (round brief). Pure
    Column expressions; ties broken by fixed priority en>de>es>fr.

    Staged projections (pad once -> count once per language -> route)
    so each regexp runs exactly once per row: inlining the counts into
    the when-chain re-evaluates up to 12 regexp_counts per branch
    test, and Catalyst's CollapseProject would happily inline them
    back if the aliases were single-use — they are not, so the stages
    survive into the physical plan."""
    d = table(spark, sf_dir, "documents")
    padded = d.select(
        F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" ")).alias("padded")
    )

    def count_markers(lang):
        c = None
        for t in _LANG_MARKERS[lang]:
            cnt = F.regexp_count(F.col("padded"), F.lit(f"[ ]{t}[ ]"))
            c = cnt if c is None else c + cnt
        return c

    counts = padded.select(
        *[count_markers(x).alias(x) for x in ("en", "de", "es", "fr")]
    )
    en, de, es, fr = (F.col(x) for x in ("en", "de", "es", "fr"))
    guess = (
        F.when((en >= de) & (en >= es) & (en >= fr) & (en > 0), "en")
        .when((de >= es) & (de >= fr) & (de > 0), "de")
        .when((es >= fr) & (es > 0), "es")
        .when(fr > 0, "fr")
        .otherwise("und")
    )
    return counts.select(guess.alias("guess")).groupBy("guess").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "quality_score",
    oracle="""
    SELECT bucket, count(*) AS n, round(avg(score), 4) AS avg_score FROM (
      SELECT CASE WHEN score >= 0.5 THEN 'good'
                  WHEN score >= 0.25 THEN 'fair' ELSE 'poor' END AS bucket,
             score
      FROM (
        SELECT round(
            0.4 * least(len(str_split(text, ' ')) / 400.0, 1.0)
          + 0.3 * (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
                     * 1.0 / greatest(length(text), 1), 1.0))
          + 0.3 * least(len(regexp_extract_all(' ' || lower(text) || ' ',
                     '[ ](the|and|of|a|to)[ ]')) * 10.0
                     / greatest(len(str_split(text, ' ')), 1), 1.0)
        , 4) AS score
        FROM documents
      )
    ) GROUP BY bucket
    """,
)
def quality_score(spark, sf_dir):
    """Quality scoring from length / punctuation / stopword ratios
    (round brief; weights frozen). All arithmetic in Column ops."""
    d = table(spark, sf_dir, "documents")
    score = quality(F.col("text"))
    bucket = (
        F.when(score >= 0.5, "good").when(score >= 0.25, "fair").otherwise("poor")
    )
    return (
        d.select(score.alias("score"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("score"), 4).alias("avg_score"))
    )


@register(
    "fingerprint",
    oracle=f"""
    SELECT doc_id, md5(lower(regexp_replace(text, '{WS_CLASS}+', ' ', 'g'))) AS fp
    FROM documents ORDER BY doc_id LIMIT 100
    """,
)
def fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of whitespace-normalized lowercase
    text (round brief; reference uses md5 signatures at
    agent/component/baidufanyi.py:73,84). Whitespace is the explicit
    WS_CLASS so Spark (Java regex) and the oracle (RE2) agree on \\x0B."""
    d = table(spark, sf_dir, "documents")
    fp = text_fp(F.col("text"))
    return d.select("doc_id", fp.alias("fp")).orderBy("doc_id").limit(100)


@register(
    "keyword_topn",
    oracle="""
    SELECT word, n FROM (
      SELECT word, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, word) AS rn
      FROM (SELECT unnest(str_split(lower(text), ' ')) AS word FROM documents)
      WHERE length(word) > 3
      GROUP BY word
    ) WHERE rn <= 20
    """,
)
def keyword_topn(spark, sf_dir):
    """L2 KeywordExtract dataflow with the LLM swapped for
    deterministic term frequency (reference agent/component/
    keyword.py:24-72; SURVEY.md §2.5 'fixture version = deterministic
    tf top-n'). Explode -> count -> global top-20, ties by word."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(doc_words()).alias("word")
    ).filter(F.length("word") > 3)
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.orderBy(F.desc("n"), F.asc("word")).limit(20).select("word", "n")
    )


@register(
    "scalar_functions",
    oracle="""
    SELECT doc_id,
           md5(text) AS sig,
           to_base64(encode(substring(text, 1, 12))) AS head_b64,
           regexp_replace('<think>plan steps</think>' || text,
                          '^.*</think>', '') AS no_think,
           len(str_split(lower(text), 'the')) - 1 AS the_count,
           upper(substring(lang, 1, 2)) AS lang_uc
    FROM documents ORDER BY doc_id LIMIT 50
    """,
)
def scalar_functions(spark, sf_dir):
    """The reference's scalar-function surface in one projection
    (SURVEY.md §2.3): md5 signature (baidufanyi.py:73,84), base64
    (code.py:141-142), the `</think>` reasoning-trace strip
    (generate.py:227, exesql.py:64, keyword.py:66), substring-count
    (categorize.py:96 str.count), case fold + substring. All JVM-side
    Column ops inside one whole-stage-codegen span."""
    d = table(spark, sf_dir, "documents")
    text = F.col("text")
    return (
        d.select(
            "doc_id",
            F.md5(text).alias("sig"),
            F.base64(F.substring(text, 1, 12).cast("binary")).alias("head_b64"),
            F.regexp_replace(
                F.concat(F.lit("<think>plan steps</think>"), text),
                "^.*</think>",
                "",
            ).alias("no_think"),
            (F.size(F.split(F.lower(text), "the")) - 1).alias("the_count"),
            F.upper(F.substring("lang", 1, 2)).alias("lang_uc"),
        )
        .orderBy("doc_id")
        .limit(50)
    )


@register(
    "categorize_route",
    oracle="""
    SELECT route, count(*) AS n FROM (
      SELECT CASE
        WHEN len(regexp_extract_all(lower(text), 'spark')) = 0
         AND len(regexp_extract_all(lower(text), 'join')) = 0
         AND len(regexp_extract_all(lower(text), 'sort')) = 0 THEN 'sort'
        WHEN len(regexp_extract_all(lower(text), 'spark'))
               >= len(regexp_extract_all(lower(text), 'join'))
         AND len(regexp_extract_all(lower(text), 'spark'))
               >= len(regexp_extract_all(lower(text), 'sort')) THEN 'spark'
        WHEN len(regexp_extract_all(lower(text), 'join'))
               >= len(regexp_extract_all(lower(text), 'sort')) THEN 'join'
        ELSE 'sort' END AS route
      FROM documents
    ) GROUP BY route
    """,
)
def categorize_route(spark, sf_dir):
    """C4 Categorize routing semantics, LLM swapped for the count
    itself (reference agent/component/categorize.py:94-106: count each
    category name's occurrences in the answer, max wins with
    first-in-order tie-break, fallback to the LAST category when
    nothing matches). Routing compiles to one when/otherwise
    projection + a tiny aggregate."""
    d = table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    cats = ["spark", "join", "sort"]  # declaration order; last = fallback
    cnt = {c: F.regexp_count(low, F.lit(c)) for c in cats}
    route = (
        F.when(sum(cnt.values()) == 0, cats[-1])
        .when((cnt["spark"] >= cnt["join"]) & (cnt["spark"] >= cnt["sort"]), "spark")
        .when(cnt["join"] >= cnt["sort"], "join")
        .otherwise("sort")
    )
    return (
        d.select(route.alias("route"))
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ----------------------------------------------- token-budget truncation

TRUNCATE_BUDGET = 32  # tokens kept per document

# Greedy prefix of up to TRUNCATE_BUDGET tokens, each with its leading
# whitespace — truncation lands exactly on a TOKEN_PATTERN boundary
# and preserves the original inter-token bytes (unlike join-with-space
# reconstruction). Both Java regex and RE2 support bounded repetition,
# so Spark and DuckDB evaluate the same pattern.
_TRUNC_PATTERN = rf"^((?:{WS_CLASS}*(?:{TOKEN_PATTERN})){{0,{TRUNCATE_BUDGET}}})"


@register(
    "token_truncate",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{TOKEN_PATTERN}'))::BIGINT
             AS orig_tokens,
           len(regexp_extract_all(regexp_extract(text, '{_TRUNC_PATTERN}', 1),
                                  '{TOKEN_PATTERN}'))::BIGINT AS kept_tokens,
           length(regexp_extract(text, '{_TRUNC_PATTERN}', 1))::BIGINT
             AS trunc_chars,
           md5(regexp_extract(text, '{_TRUNC_PATTERN}', 1)) AS trunc_md5
    FROM documents
    """,
)
def token_truncate(spark, sf_dir):
    """Token-budget truncation (reference agent/component/relevant.py:
    68-69 truncates prompts to the model window via encoder
    encode/slice/decode; rag.prompts.message_fit_in at generate.py:29
    applies the same 97%-budget discipline [NOT IN CHECKOUT]). Here:
    keep the first TRUNCATE_BUDGET TOKEN_PATTERN tokens of each
    document, cutting exactly at a token boundary and preserving
    original bytes up to the cut. Entirely JVM-side (regexp_extract
    with bounded repetition) — no Python in the hot path; the md5 of
    the truncated text makes the oracle comparison byte-exact."""
    d = table(spark, sf_dir, "documents")
    trunc = F.regexp_extract(F.col("text"), _TRUNC_PATTERN, 1)
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(TOKEN_PATTERN)).cast("bigint").alias(
            "orig_tokens"
        ),
        F.regexp_count(trunc, F.lit(TOKEN_PATTERN)).cast("bigint").alias(
            "kept_tokens"
        ),
        F.length(trunc).cast("bigint").alias("trunc_chars"),
        F.md5(trunc).alias("trunc_md5"),
    )


# ------------------------------------------------ winnowing fingerprint

WINNOW_K = 8  # k-gram length (chars)
WINNOW_W = 4  # window of consecutive k-gram hashes


@register(
    "fingerprint_winnow",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lower(text) AS t FROM documents
      WHERE length(text) >= {WINNOW_K + WINNOW_W - 1}
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, length(t) - {WINNOW_K - 1} + 1),
                            i -> substring(md5(substring(t, i, {WINNOW_K})),
                                           1, 8)) AS hs
      FROM d
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(hs) - {WINNOW_W - 1} + 1),
               j -> hs[j + {WINNOW_W} - list_position(
                      list_reverse(hs[j : j + {WINNOW_W - 1}]),
                      list_min(hs[j : j + {WINNOW_W - 1}]))]
             )) AS sel
      FROM g
    )
    SELECT doc_id, len(sel)::BIGINT AS n_fps,
           md5(array_to_string(list_sort(sel), '')) AS fp_digest
    FROM s
    """,
)
def fingerprint_winnow(spark, sf_dir):
    """Rolling-window document fingerprinting by winnowing (round
    brief: 'document fingerprinting (rolling hash)'; algorithm per
    Schleimer/Wilkerson/Aiken, "Winnowing: local algorithms for
    document fingerprinting", SIGMOD 2003): hash every {WINNOW_K}-char
    k-gram, slide a {WINNOW_W}-hash window, keep the RIGHTMOST minimum
    of each window — guarantees any match of length >= k + w - 1 shares
    a fingerprint, with ~2/(w+1) selection density. The k-gram hash is
    an md5 slice instead of Rabin-Karp so the DuckDB oracle reproduces
    it exactly; the windowed-min selection (the winnowing part) is the
    algorithm under test. All generator expressions, JVM-side, map-only
    — at crawl scale the fingerprint sets feed an inverted index for
    partial-overlap detection (quotes, mirrored fragments) that whole-
    document hashes cannot see."""
    from ragflow_spark.operators.registry import spread

    # ~1.4k md5 evaluations per document: on the single-file test
    # corpus the scan yields ONE partition and the whole job
    # serializes on a core — spread it (no-op at crawl scale)
    d = spread(table(spark, sf_dir, "documents")).filter(
        F.length("text") >= WINNOW_K + WINNOW_W - 1
    )
    k, w = WINNOW_K, WINNOW_W
    hs = F.expr(
        f"transform(sequence(1, length(lower(text)) - {k - 1}), "
        f"i -> substring(md5(substring(lower(text), i, {k})), 1, 8))"
    )
    g = d.select("doc_id", hs.alias("hs"))
    sel = F.expr(
        f"array_distinct(transform(sequence(1, size(hs) - {w - 1}), "
        f"j -> element_at(hs, cast(j + {w} - array_position("
        f"reverse(slice(hs, j, {w})), array_min(slice(hs, j, {w}))) AS int))))"
    )
    return g.select("doc_id", sel.alias("sel")).select(
        "doc_id",
        F.size("sel").cast("bigint").alias("n_fps"),
        F.md5(F.concat_ws("", F.array_sort("sel"))).alias("fp_digest"),
    )


# ------------------------------------------- composite corpus cleanup

_QUALITY_SQL = """round(
            0.4 * least(len(str_split(text, ' ')) / 400.0, 1.0)
          + 0.3 * (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
                     * 1.0 / greatest(length(text), 1), 1.0))
          + 0.3 * least(len(regexp_extract_all(' ' || lower(text) || ' ',
                     '[ ](the|and|of|a|to)[ ]')) * 10.0
                     / greatest(len(str_split(text, ' ')), 1), 1.0)
        , 4)"""


def clean_features(d):
    """Map-side cleanup features shared by the batch rollup
    (`corpus_clean_stats`) and the streaming quality gate
    (streaming/clean_gate.py): content fingerprint (md5 of
    whitespace-normalized lowercase text), quality score, token count.
    One projection; every regex evaluated once per row."""
    text = F.col("text")
    return d.select(
        "doc_id",
        text_fp(text).alias("fp"),
        quality(text).alias("score"),
        F.regexp_count(text, F.lit(TOKEN_PATTERN)).alias("toks"),
    )


@register(
    "corpus_clean_stats",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             md5(lower(regexp_replace(text, '{WS_CLASS}+', ' ', 'g'))) AS fp,
             {_QUALITY_SQL} AS score,
             len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS toks
      FROM documents
    ), flags AS (
      SELECT f.*, (f.doc_id != m.min_id) AS is_dup
      FROM feats f
      JOIN (SELECT fp, min(doc_id) AS min_id FROM feats GROUP BY fp) m
        USING (fp)
    )
    SELECT CASE WHEN score >= 0.5 THEN 'good'
                WHEN score >= 0.25 THEN 'fair' ELSE 'poor' END
             AS quality_bucket,
           CASE WHEN toks < 128 THEN 'short'
                WHEN toks < 256 THEN 'mid' ELSE 'long' END AS tok_bucket,
           is_dup,
           count(*)::BIGINT AS n_docs,
           sum(toks)::BIGINT AS sum_tokens
    FROM flags GROUP BY 1, 2, 3
    """,
)
def corpus_clean_stats(spark, sf_dir):
    """The composite training-data cleanup pipeline as ONE DataFrame
    program — the chain a real corpus pass runs per document: exact-dup
    flag (md5 of whitespace-normalized lowercase text, keep-first by
    doc_id), quality score (length/punct/stopword blend, same frozen
    weights as `quality_score`), token count — aggregated into the
    (quality_bucket, tok_bucket, is_dup) report a pipeline operator
    would emit before filtering.

    Scale shape: every text-derived feature is computed MAP-SIDE on
    the scan (one projection, each regex once per row); only
    (doc_id, 16-byte fp, 2 scalars) reach the dup-group shuffle — the
    same ship-digests-never-text rule as dedup_exact — and the final
    rollup is a partial-aggregated groupBy over 18 possible keys."""
    feats = clean_features(spread(table(spark, sf_dir, "documents")))
    mins = feats.groupBy("fp").agg(F.min("doc_id").alias("min_id"))
    flags = feats.join(mins, "fp").withColumn(
        "is_dup", F.col("doc_id") != F.col("min_id")
    )
    quality_bucket = (
        F.when(F.col("score") >= 0.5, "good")
        .when(F.col("score") >= 0.25, "fair")
        .otherwise("poor")
    )
    tok_bucket = (
        F.when(F.col("toks") < 128, "short")
        .when(F.col("toks") < 256, "mid")
        .otherwise("long")
    )
    return (
        flags.select(
            quality_bucket.alias("quality_bucket"),
            tok_bucket.alias("tok_bucket"),
            "is_dup",
            "toks",
        )
        .groupBy("quality_bucket", "tok_bucket", "is_dup")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("bigint").alias("sum_tokens"),
        )
    )


# --------------------------------------------------------------------------
# inverted_index_stats
# --------------------------------------------------------------------------

IDX_TOPK = 20
# position-sum mixer for the posting signature: doc_id * MIX + pos_sum
# stays far inside BIGINT at any test sf (DuckDB errors on BIGINT
# overflow rather than wrapping, so the constant is deliberately small)
IDX_MIX = 1_000_003

_INVERTED_INDEX_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, s[i + 1] AS term, i AS pos
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS s
            FROM documents),
           unnest(range(len(s))) AS t(i)
    ), postings AS (
      SELECT term, doc_id,
             count(*) AS tf, sum(pos)::BIGINT AS pos_sum
      FROM tok GROUP BY term, doc_id
    )
    SELECT term,
           count(*)::BIGINT AS df,
           sum(tf)::BIGINT AS cf,
           bit_xor(doc_id * {IDX_MIX} + pos_sum)::BIGINT AS postings_sig
    FROM postings GROUP BY term
    ORDER BY df DESC, cf DESC, term ASC LIMIT {IDX_TOPK}
    """


@register("inverted_index_stats", oracle=_INVERTED_INDEX_ORACLE)
def inverted_index_stats(spark, sf_dir):
    """Distributed inverted-index construction — the indexing-side
    twin of the BM25 retrieval queries (the reference delegates this
    to its search backend's indexer; rag/nlp/search.py queries what a
    job like this builds): tokenize with positions, reduce to postings
    (term, doc_id) -> (tf, position-sum), and report the top-{IDX_TOPK}
    terms by document frequency with an order-independent posting-list
    signature (bit_xor over doc_id * {IDX_MIX} + pos_sum), which pins
    the exact posting SET including every term position, not just the
    per-term counts. Integer arithmetic throughout — no float drift.

    Scale shape (the classic MapReduce indexing job): the (term,
    doc_id) reduction is map-side combinable — within a partition a
    document's tokens collapse to per-doc postings before anything
    shuffles — and the per-term rollup moves one (term, tf, pos_sum)
    row per posting. At production scale the term string is dictionary-
    encoded to a 64-bit id before the Exchange (term strings ship once
    to build the dictionary) and the index is written bucketed by term
    so query-side lookups are single-bucket scans; the final top-k is
    TakeOrdered, no global sort."""
    tok = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.posexplode(doc_words()).alias("pos", "term")
    )
    postings = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sum("pos").alias("pos_sum"),
    )
    return (
        postings.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.expr(f"bit_xor(doc_id * {IDX_MIX} + pos_sum)").alias(
                "postings_sig"
            ),
        )
        .orderBy(F.desc("df"), F.desc("cf"), F.asc("term"))
        .limit(IDX_TOPK)
    )


# --------------------------------------------------------------------------
# bm25_topk
# --------------------------------------------------------------------------

# Fixed query workload: term -> query memberships. One deliberately
# rare term ("dup": df ~25/500 in the synthetic corpus vs ~390 for the
# rest) so the idf spread actually reorders documents.
BM25_QUERIES = {
    0: ["spark", "join"],
    1: ["dup", "filter"],
    2: ["window", "agg", "scan"],
}
BM25_K = 10

_BM25_QMAP_VALUES = ", ".join(
    f"({qid}, '{t}')"
    for qid, terms in sorted(BM25_QUERIES.items())
    for t in terms
)
_BM25_TERMS_SQL = ", ".join(
    f"'{t}'" for t in sorted({t for ts in BM25_QUERIES.values() for t in ts})
)

# BM25 (k1=1.2, b=0.75) in EXACT int64 milli-fixed-point — the
# classifier_filter_stats integer-core recipe applied to ranking, so
# the top-k cut can never straddle a cross-engine float ulp:
#   tf-part  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
#            = 22*tf / (10*tf + 3 + 9*dl*N/L)        [x10, k1=6/5 b=3/4]
#   tfp_m    = (22000*tf*1000) // (10000*tf + 3000 + 9*dlr),
#              dlr = (dl*N*1000) // L                 [milli length ratio]
#   idf_m    = ((2N - 2df + 1)*1000) // (2df + 1)
# idf is the Robertson ratio WITHOUT the log wrap: ln is not exactly
# reproducible across Java/libm/DuckDB, and the log-free ratio is the
# same monotone per-term ordering (the log only dampens how terms sum;
# documented as the deterministic-ranking variant).
_BM25_CTES = f"""d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents
    ), dl AS (
      SELECT doc_id, len(s)::BIGINT AS dl FROM d
    ), g AS (
      SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS l_tot FROM dl
    ), qmap(query_id, term) AS (VALUES {_BM25_QMAP_VALUES}
    ), tok AS (
      SELECT doc_id, unnest(s) AS term FROM d
    ), tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
      WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT q.query_id::BIGINT AS query_id, t.doc_id, t.term,
             (
               (((2*g.n_docs - 2*f.df + 1) * 1000) // (2*f.df + 1))
               * ((22000 * t.tf * 1000) //
                  (10000*t.tf + 3000 + 9*((dl.dl * g.n_docs * 1000) // g.l_tot)))
             ) // 1000 AS contrib
      FROM tf t
      JOIN dfreq f USING (term)
      JOIN qmap q USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN g
    ), agg AS (
      SELECT query_id, doc_id,
             sum(contrib)::BIGINT AS score_milli,
             count(*)::BIGINT AS n_hit_terms
      FROM scored GROUP BY query_id, doc_id
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score_milli DESC, doc_id
      )::BIGINT AS rk FROM agg
    )"""

_BM25_ORACLE = f"""
    WITH {_BM25_CTES}
    SELECT query_id, doc_id, score_milli, n_hit_terms, rk
    FROM ranked WHERE rk <= {BM25_K}
    """


def _bm25_contribs(spark, sf_dir):
    """Shared BM25 scoring chain: per (query_id, doc_id, term) exact
    milli-fixed-point contribution rows (the oracle-side twin is the
    shared _BM25_CTES `scored` stage). One corpus scan: the bounded
    posting table is localCheckpointed so the df branch reuses it
    (dedup_components precedent; on a cluster this is the
    reliable-checkpoint / cached-index boundary); corpus stats, df,
    and the query map fold back broadcast."""
    docs = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", doc_words().alias("toks")
    )
    dl = docs.select(
        "doc_id", F.size("toks").cast("bigint").alias("dl"), "toks"
    )
    g = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").alias("l_tot"),
    )
    terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    tok = dl.select(
        "doc_id", "dl", F.explode("toks").alias("term")
    ).where(F.col("term").isin(terms))
    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    tf = tf.localCheckpoint()
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    qmap = spark.createDataFrame(
        [(int(qid), t) for qid, ts in sorted(BM25_QUERIES.items()) for t in ts],
        "query_id long, term string",
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qmap), "term")
        .crossJoin(F.broadcast(g))
        .withColumn(
            "contrib",
            F.expr(
                "((((2*n_docs - 2*df + 1) * 1000) div (2*df + 1))"
                " * ((22000 * tf * 1000) div"
                "    (10000*tf + 3000 + 9*((dl * n_docs * 1000) div l_tot)))"
                ") div 1000"
            ),
        )
    )


@register("bm25_topk", oracle=_BM25_ORACLE)
def bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval over the corpus for a fixed query
    workload — the query-side twin of inverted_index_stats (the
    reference delegates this exact scoring to its search backend,
    rag/nlp/search.py hybrid kw weighting; here the full-text leg is
    a first-class distributed job). k1=1.2, b=0.75, scored entirely
    in exact int64 milli-fixed-point (formula above the oracle) so
    ranks are bit-identical across engines — no float ulp can flip a
    top-k boundary.

    Scale shape: tokens are FILTERED to the query vocabulary map-side
    before anything shuffles (on a real index this is the posting-list
    lookup; here it keeps the tf Exchange at |Q|-terms-per-doc rows,
    never the corpus token stream); the corpus stats (N, L) are a
    1-row aggregate folded back by broadcast, df and the query map are
    broadcast tables of |terms| rows; the per-query top-k reuses the
    topk_per_group two-phase local-slice shape (bounded agg state,
    k rows per partition per query reach the merge) instead of a
    row_number window that would funnel every candidate into |Q|
    partitions."""
    return _bm25_rank(_bm25_contribs(spark, sf_dir))


def _bm25_rank(scored):
    """Ranking stage over a contrib table: per-(query, doc) score
    fold, then the topk_per_group two-phase local-slice top-k.
    Factored so maxscore_prune_audit derives theta from the SAME
    contrib chain it audits (one scan + one checkpoint per query —
    review fix: calling bm25_topk() separately rebuilt the whole
    chain, doubling the eager localCheckpoint job)."""
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").cast("bigint").alias("score_milli"),
        F.count(F.lit(1)).cast("bigint").alias("n_hit_terms"),
    )
    # two-phase per-query top-k (topk_per_group shape): local slice
    # per (partition, query), then a k-row merge per query
    item = F.struct(
        F.col("score_milli").alias("sm"),
        (-F.col("doc_id")).alias("nid"),
        F.col("doc_id").alias("doc_id"),
        F.col("n_hit_terms").alias("n_hit_terms"),
    )
    local = agg.groupBy(
        "query_id", F.spark_partition_id().alias("pid")
    ).agg(
        F.slice(
            F.sort_array(F.collect_list(item), asc=False), 1, BM25_K
        ).alias("cand")
    )
    merged = (
        local.select("query_id", F.explode("cand").alias("c"))
        .groupBy("query_id")
        .agg(
            F.slice(
                F.sort_array(F.collect_list("c"), asc=False), 1, BM25_K
            ).alias("top")
        )
    )
    return merged.select("query_id", F.posexplode("top")).select(
        "query_id",
        F.col("col.doc_id").alias("doc_id"),
        F.col("col.sm").alias("score_milli"),
        F.col("col.n_hit_terms").alias("n_hit_terms"),
        (F.col("pos") + 1).cast("bigint").alias("rk"),
    )


# --------------------------------------------------------------------------
# posting_compress_stats
# --------------------------------------------------------------------------

# Roaring-bitmap-style VALUE-RANGE containers (high bits of the doc id
# key the container, CRoaring/RoaringBitmap's 2^16 width): deltas
# restart per container, so in-container gaps span 1..65535 and the
# 1/2/3-byte varint tiers are all reachable (review fix: the previous
# 128-wide doc-id blocks bounded every gap at 127, making the wider
# tiers dead code). Lucene's rank-based 128-POSTING blocks need a
# global per-term order — exactly the hot-term straggler the
# value-range key avoids (a corpus-wide term splits into
# id-range/65536 independent bounded window partitions).
POSTING_BLOCK = 65536
# varint width of an in-container delta gap; gaps are < 65536 by
# construction so the ELSE tier is an unreachable-guard only
_VARINT_CASE = (
    "CASE WHEN {g} < 128 THEN 1 WHEN {g} < 16384 THEN 2 "
    "WHEN {g} < 2097152 THEN 3 ELSE 4 END"
)
POSTING_SIG_MIX = 1_000_003

_POSTING_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), postings AS (
      SELECT term, doc_id FROM tok GROUP BY term, doc_id
    ), d AS (
      SELECT term, doc_id, doc_id // {POSTING_BLOCK} AS blk,
             lag(doc_id) OVER (
               PARTITION BY term, doc_id // {POSTING_BLOCK}
               ORDER BY doc_id
             ) AS prev
      FROM postings
    ), sized AS (
      SELECT term, blk,
             CASE WHEN prev IS NULL THEN 8
                  ELSE {_VARINT_CASE.format(g="doc_id - prev")} END AS nbytes
      FROM d
    ), per_block AS (
      SELECT term, blk,
             count(*)::BIGINT AS n_postings,
             sum(nbytes)::BIGINT AS blk_bytes
      FROM sized GROUP BY term, blk
    ), per_term AS (
      SELECT term,
             sum(n_postings)::BIGINT AS df,
             count(*)::BIGINT AS n_blocks,
             sum(blk_bytes)::BIGINT AS varint_bytes,
             (sum(n_postings) * 8)::BIGINT AS fixed_bytes,
             bit_xor(blk * {POSTING_SIG_MIX} + blk_bytes)::BIGINT
               AS blocks_sig
      FROM per_block GROUP BY term
    )
    SELECT term, df, n_blocks, varint_bytes, fixed_bytes,
           round(fixed_bytes * 1.0 / varint_bytes, 4) AS compression,
           blocks_sig
    FROM per_term
    ORDER BY df DESC, varint_bytes DESC, term ASC LIMIT {IDX_TOPK}
    """


@register("posting_compress_stats", oracle=_POSTING_ORACLE)
def posting_compress_stats(spark, sf_dir):
    """Posting-list storage planning — the third leg of the indexing
    family (inverted_index_stats builds, bm25_topk queries, this op
    sizes what gets written): container-relative delta + varint
    encoding in the Roaring-bitmap layout (doc ids partition into
    {POSTING_BLOCK}-wide VALUE-RANGE containers keyed by the id's
    high bits). A container's first entry is an 8-byte absolute (the
    skip-pointer restart); every subsequent entry costs the varint
    width of its in-container gap — 1 byte under 128, 2 under 16384,
    3 up to the container width, every tier reachable by
    construction. Output: the top-{IDX_TOPK} terms by df with exact
    varint vs fixed-width byte counts, the compression ratio, and a
    bit_xor signature over (container, container_bytes) pairs that
    pins every container's exact encoded size. Integer arithmetic end
    to end.

    Scale shape: the value-range key is what makes this computable at
    web scale — the delta lag window partitions by (term, container),
    so a hot term (df = the whole corpus) splits into
    id_range/{POSTING_BLOCK} independent bounded partitions instead
    of one straggler reducer. Lucene's rank-based 128-POSTING blocks
    would need a global per-term order — that straggler is the reason
    this op keys containers by value range, as Roaring does. The
    posting reduction is map-side combinable; the per-term rollup
    ships one row per container."""
    tok = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.explode(doc_words()).alias("term")
    )
    postings = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("_c")
    ).select("term", "doc_id")
    from pyspark.sql import Window

    blk = F.expr(f"doc_id div {POSTING_BLOCK}")
    w = Window.partitionBy("term", "blk").orderBy("doc_id")
    d = postings.withColumn("blk", blk).withColumn(
        "prev", F.lag("doc_id").over(w)
    )
    gap = F.col("doc_id") - F.col("prev")
    nbytes = F.when(F.col("prev").isNull(), 8).otherwise(
        F.when(gap < 128, 1)
        .when(gap < 16384, 2)
        .when(gap < 2097152, 3)
        .otherwise(4)
    )
    per_block = d.select("term", "blk", nbytes.alias("nbytes")).groupBy(
        "term", "blk"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_postings"),
        F.sum("nbytes").cast("bigint").alias("blk_bytes"),
    )
    per_term = per_block.groupBy("term").agg(
        F.sum("n_postings").cast("bigint").alias("df"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum("blk_bytes").cast("bigint").alias("varint_bytes"),
        (F.sum("n_postings") * 8).cast("bigint").alias("fixed_bytes"),
        F.expr(
            f"bit_xor(blk * {POSTING_SIG_MIX} + blk_bytes)"
        ).alias("blocks_sig"),
    )
    return (
        per_term.select(
            "term",
            "df",
            "n_blocks",
            "varint_bytes",
            "fixed_bytes",
            F.round(
                F.col("fixed_bytes") * F.lit(1.0) / F.col("varint_bytes"), 4
            ).alias("compression"),
            "blocks_sig",
        )
        .orderBy(F.desc("df"), F.desc("varint_bytes"), F.asc("term"))
        .limit(IDX_TOPK)
    )


# --------------------------------------------------------------------------
# best_passage_snippets
# --------------------------------------------------------------------------

SNIPPET_W = 16  # window width in tokens
SNIPPET_TOP_DOCS = 3  # snippets for the top docs per query

_SNIPPET_ORACLE = f"""
    WITH {_BM25_CTES},
    top_docs AS (
      SELECT query_id, doc_id, rk FROM ranked
      WHERE rk <= {SNIPPET_TOP_DOCS}
    ), pos AS (
      SELECT td.query_id, td.doc_id, td.rk, t.i - 1 AS p
      FROM top_docs td
      JOIN d USING (doc_id)
      CROSS JOIN unnest(range(1, len(d.s) + 1)) AS t(i)
      JOIN qmap q ON q.query_id = td.query_id AND d.s[t.i] = q.term
    ), wins AS (
      SELECT a.query_id, a.doc_id, a.rk, a.p AS win_start,
             count(*)::BIGINT AS win_hits
      FROM pos a JOIN pos b
        ON a.query_id = b.query_id AND a.doc_id = b.doc_id
       AND b.p >= a.p AND b.p < a.p + {SNIPPET_W}
      GROUP BY a.query_id, a.doc_id, a.rk, a.p
    ), best AS (
      SELECT query_id, doc_id, rk, win_start, win_hits,
             row_number() OVER (
               PARTITION BY query_id, doc_id
               ORDER BY win_hits DESC, win_start ASC
             ) AS brn
      FROM wins
    )
    SELECT b.query_id, b.doc_id, b.rk, b.win_start, b.win_hits,
           len(d.s[b.win_start + 1 : b.win_start + {SNIPPET_W}])::BIGINT
             AS snippet_words,
           md5(array_to_string(
             d.s[b.win_start + 1 : b.win_start + {SNIPPET_W}], ' '
           )) AS snippet_md5
    FROM best b JOIN d USING (doc_id)
    WHERE brn = 1
    """


@register("best_passage_snippets", oracle=_SNIPPET_ORACLE)
def best_passage_snippets(spark, sf_dir):
    """Best-passage snippet extraction — the result-presentation leg
    completing the search stack (inverted_index_stats builds,
    bm25_topk ranks, this op renders): for each fixed query's top-
    {SNIPPET_TOP_DOCS} BM25 documents, find the {SNIPPET_W}-token
    window containing the most query-term occurrences (candidate
    window starts = query-term hit positions, the classic fixed-width
    observation that an optimal window can always start AT a hit;
    tie-break earliest start) and pin the exact passage with an md5
    of the window's tokens. Integer window arithmetic; the ranking it
    consumes is bm25_topk's exact milli-fixed-point order, so the
    whole stack is deterministic end to end.

    Scale shape: ranking reuses the bm25_topk plan (single corpus
    scan, map-side vocab filter, two-phase top-k); the snippet stage
    touches ONLY the |Q| x {SNIPPET_TOP_DOCS} winning documents — the
    hit-position table is built from a semi-joined re-scan of just
    those docs (a result-page render, not a corpus pass), the
    window-count self-join is O(tf^2) per winner, and the passage
    hash slices the already-split token array. At serving scale this
    is per-result-page work; expressing it relationally keeps it on
    the cluster for bulk evaluation (judging snippet quality over a
    whole query log)."""
    top = (
        bm25_topk(spark, sf_dir)
        .filter(F.col("rk") <= SNIPPET_TOP_DOCS)
        .select("query_id", "doc_id", "rk")
    )
    qmap = spark.createDataFrame(
        [(int(qid), t) for qid, ts in sorted(BM25_QUERIES.items()) for t in ts],
        "query_id long, term string",
    )
    docs = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", doc_words().alias("s")
    )
    # winners only: |Q| x TOP_DOCS rows — broadcast onto the doc scan
    winner_docs = docs.join(
        F.broadcast(top.select("doc_id").distinct()), "doc_id"
    )
    pos = (
        winner_docs.select(
            "doc_id", F.posexplode("s").alias("p", "term")
        )
        .join(F.broadcast(qmap), "term")
        .join(F.broadcast(top), ["query_id", "doc_id"])
        .select("query_id", "doc_id", "rk", "p")
    )
    a = pos.alias("a")
    b = pos.alias("b")
    wins = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.p") >= F.col("a.p"))
            & (F.col("b.p") < F.col("a.p") + SNIPPET_W),
        )
        .groupBy(
            F.col("a.query_id").alias("query_id"),
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.rk").alias("rk"),
            F.col("a.p").alias("win_start"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("win_hits"))
    )
    # argmax window per (query, doc): max_by over a STRUCT key whose
    # lexicographic order replays (win_hits DESC, win_start ASC)
    # exactly — an aggregate with a map-side partial, not a window
    # (the cite_insertion idiom). A packed integer key
    # (hits * K - start) silently inverts the order once win_start
    # can reach K (a >1e6-token document) — review fix
    best = wins.groupBy("query_id", "doc_id", "rk").agg(
        F.expr(
            "max_by(named_struct('ws', win_start, 'wh', win_hits),"
            " named_struct('h', win_hits, 'ns', -win_start))"
        ).alias("bw")
    ).select(
        "query_id",
        "doc_id",
        "rk",
        F.col("bw.ws").alias("win_start"),
        F.col("bw.wh").alias("win_hits"),
    )
    sliced = best.join(winner_docs, "doc_id").select(
        "query_id",
        "doc_id",
        "rk",
        "win_start",
        "win_hits",
        F.slice(
            F.col("s"), F.col("win_start") + 1, SNIPPET_W
        ).alias("win"),
    )
    return sliced.select(
        "query_id",
        "doc_id",
        "rk",
        "win_start",
        "win_hits",
        F.size("win").cast("bigint").alias("snippet_words"),
        F.md5(F.concat_ws(" ", F.col("win"))).alias("snippet_md5"),
    )


# --------------------------------------------------------------------------
# maxscore_prune_audit
# --------------------------------------------------------------------------

_MAXSCORE_ORACLE = f"""
    WITH {_BM25_CTES},
    tmax AS (
      SELECT query_id, term,
             max(contrib)::BIGINT AS max_contrib,
             count(*)::BIGINT AS n_postings
      FROM scored GROUP BY query_id, term
    ), theta AS (
      SELECT query_id, min(score_milli)::BIGINT AS theta
      FROM ranked WHERE rk <= {BM25_K} GROUP BY query_id
    ), cum AS (
      SELECT a.query_id, a.term, a.max_contrib, a.n_postings,
             sum(b.max_contrib)::BIGINT AS cum_max
      FROM tmax a JOIN tmax b
        ON a.query_id = b.query_id
       AND (b.max_contrib < a.max_contrib
            OR (b.max_contrib = a.max_contrib AND b.term <= a.term))
      GROUP BY a.query_id, a.term, a.max_contrib, a.n_postings
    )
    SELECT c.query_id, c.term, c.max_contrib, c.n_postings, c.cum_max,
           (c.cum_max >= t.theta) AS essential, t.theta
    FROM cum c JOIN theta t USING (query_id)
    """


@register("maxscore_prune_audit", oracle=_MAXSCORE_ORACLE)
def maxscore_prune_audit(spark, sf_dir):
    """MaxScore pruning audit (Turtle & Flood 1995; the WAND family's
    static half) — the query-evaluation optimization every web-scale
    engine ships: given the top-{BM25_K} threshold theta (the k-th
    ranked score), a term is NON-ESSENTIAL when the cumulative sum of
    per-term score UPPER BOUNDS up to it (terms ordered by bound
    ascending, term tie-break) stays below theta — documents
    containing only non-essential terms can never enter the top-k, so
    their postings need no scoring at all. Output: per (query, term),
    the exact integer upper bound (max contribution over the corpus),
    posting count, the ascending-prefix cumulative bound, the
    essential verdict, and theta — i.e. exactly how many postings a
    MaxScore traversal of these queries may skip.

    Deterministic end to end: bounds, theta, and the prefix sums are
    the bm25 chain's exact milli-fixed-point integers (shared
    _bm25_contribs / _BM25_CTES), so the essential/skippable verdict
    can never straddle a float boundary.

    Scale shape: tmax is a map-side-combinable aggregate over the
    contrib rows (the single-scan bm25 chain); theta reuses the
    two-phase top-k; the prefix-sum self-join runs on |Q| x |terms
    per query| rows (<= 7 here, bounded by query length in general) —
    at serving scale these bounds live in the index metadata, which
    is exactly what this job precomputes."""
    scored = _bm25_contribs(spark, sf_dir)
    tmax = scored.groupBy("query_id", "term").agg(
        F.max("contrib").cast("bigint").alias("max_contrib"),
        F.count(F.lit(1)).cast("bigint").alias("n_postings"),
    )
    # theta from the SAME contrib chain (shared checkpointed posting
    # table) — not a second bm25_topk() build
    theta = (
        _bm25_rank(scored)
        .groupBy("query_id")
        .agg(F.min("score_milli").cast("bigint").alias("theta"))
    )
    a = tmax.alias("a")
    b = tmax.alias("b")
    cum = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (
                (F.col("b.max_contrib") < F.col("a.max_contrib"))
                | (
                    (F.col("b.max_contrib") == F.col("a.max_contrib"))
                    & (F.col("b.term") <= F.col("a.term"))
                )
            ),
        )
        .groupBy(
            F.col("a.query_id").alias("query_id"),
            F.col("a.term").alias("term"),
            F.col("a.max_contrib").alias("max_contrib"),
            F.col("a.n_postings").alias("n_postings"),
        )
        .agg(F.sum(F.col("b.max_contrib")).cast("bigint").alias("cum_max"))
    )
    return cum.join(F.broadcast(theta), "query_id").select(
        "query_id",
        "term",
        "max_contrib",
        "n_postings",
        "cum_max",
        (F.col("cum_max") >= F.col("theta")).alias("essential"),
        "theta",
    )
