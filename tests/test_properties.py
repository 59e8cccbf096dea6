"""Property-based tests (hypothesis) for the pure kernels
(SURVEY.md §5.3.3): extraction idempotence, chunk-span tiling,
normalization fixpoints. No Spark — pure functions only."""

from __future__ import annotations

import re

from hypothesis import example, given, settings, strategies as st

from ragflow_spark.kernels.chunk import chunk_naive, num_tokens
from ragflow_spark.kernels.extract import extract_document
from ragflow_spark.kernels.htmlx import normalize_text
from ragflow_spark.sources.pages import render_page_html

TEXTS = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=2000,
)


@given(TEXTS)
@settings(max_examples=200, deadline=None)
def test_normalize_is_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once


@given(TEXTS)
@settings(max_examples=200, deadline=None)
def test_normalize_invariants(s):
    out = normalize_text(s)
    assert "\r" not in out
    assert "\t" not in out
    assert "  " not in out.replace("\n", "|")  # no space runs
    assert "\n\n\n" not in out
    assert out == out.strip()
    # every line edge is clean under Python's full Unicode whitespace
    # definition — U+3000 etc. around newlines must not survive
    for line in out.split("\n"):
        assert line == line.strip()


def test_normalize_unicode_line_edges():
    # regression: ideographic space (U+3000) at a line edge, common in
    # CJK pages, must strip like ASCII space (FIXTURES.md §5.1)
    assert normalize_text("hello　\nworld") == "hello\nworld"
    assert normalize_text("a  \nb") == "a\nb"
    assert normalize_text("a b c") == "a b c"


@given(TEXTS.map(normalize_text), st.integers(min_value=4, max_value=64))
@settings(max_examples=200, deadline=None)
def test_chunk_spans_tile_text(text, budget):
    spans = chunk_naive(text, budget)
    if not text:
        assert spans == []
        return
    # spans tile [0, len) without overlap, in order
    assert spans[0][0] == 0
    assert spans[-1][1] == len(text)
    for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
        assert b1 == a2
        assert a1 < b1
    # no chunk wildly exceeds budget (a single long token may)
    for a, b in spans:
        piece = text[a:b]
        assert num_tokens(piece) <= 2 * budget + 1 or " " not in piece


@given(st.integers(min_value=0, max_value=100000), TEXTS, st.sampled_from(["en", "de", "zh", ""]))
@settings(max_examples=100, deadline=None)
def test_extraction_deterministic_and_total(doc_id, text, lang):
    """Same payload -> byte-identical result; never raises; failures
    are coded rows (error-as-row, reference baidu.py:70-71)."""
    payload = render_page_html(doc_id, text, lang)
    r1 = extract_document(payload, 64)
    r2 = extract_document(payload, 64)
    assert r1.extracted_text == r2.extracted_text
    assert r1.parse_code == r2.parse_code
    assert (r1.parse_status == "ok") == (r1.parse_code == 0)
    # chunk spans tile the extracted text
    for a, b in zip(r1.chunk_starts, r1.chunk_ends):
        assert 0 <= a < b <= len(r1.extracted_text)


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_extract_never_raises_on_garbage(data):
    r = extract_document(data, 64)
    assert r.parse_status in ("ok", "failed")
    assert isinstance(r.parse_code, int)


@given(TEXTS.map(normalize_text), st.integers(min_value=4, max_value=64))
@settings(max_examples=200, deadline=None)
def test_bisect_token_counts_equal_rescan(text, budget):
    """The tokenize-once + bisect count must equal re-tokenizing each
    chunk (the optimization is only valid while cuts never split a
    token — this property guards that invariant)."""
    from ragflow_spark.kernels.chunk import count_tokens_between, tokenize

    tok = tokenize(text)
    for a, b in chunk_naive(text, budget):
        assert count_tokens_between(tok[0], a, b) == num_tokens(text[a:b])


_WORD = st.text(alphabet="abcdefg", min_size=1, max_size=8)
_SECTION = st.tuples(
    st.sampled_from(["h1", "h2", "h3", "p", "li", "row"]),
    st.lists(_WORD, min_size=1, max_size=30).map(" ".join),
)


@given(
    st.sampled_from(["naive", "book", "paper"]),
    st.lists(_SECTION, min_size=1, max_size=12),
    st.integers(min_value=4, max_value=48),
)
@settings(max_examples=150, deadline=None)
def test_template_span_counts_equal_rescan(template, sections, budget):
    """chunk_spans_with_counts' accumulated counts must equal a rescan
    for EVERY template — the book/paper paths go through _tile3's
    extension branches (segment gaps, leading/trailing clamps), which
    must invalidate-and-recompute whenever bounds move."""
    from ragflow_spark.kernels.chunk import chunk_spans_with_counts

    kinds = [k for k, _t in sections]
    texts = [t for _k, t in sections]
    text = "\n".join(texts)
    spans = chunk_spans_with_counts(template, text, kinds, texts, budget)
    # tiling: cover [0, len) exactly, in order
    assert spans[0][0] == 0 and spans[-1][1] == len(text)
    for (a, b, c), nxt in zip(spans, spans[1:] + [(len(text), 0, 0)]):
        assert a < b and b == nxt[0]
        assert c == num_tokens(text[a:b])


# Token-boundary stress for the hard split: apostrophe suffix forms
# (`don't` is one token, `don'T` three), CJK and astral chars, Unicode
# whitespace between tokens, and sentence bounds that cut pieces.
_TOKEN_FRAGMENTS = st.sampled_from(
    ["don't", "don'T", "''", "a'b'c", "it's", "x_9", "word", "中文",
     "かな", "한", "\U0001F600", "\U00020000", " ", "  ", "\t", "\n",
     "\xa0", "\u3000", "\u2009", "\x85", "\x1f", ".", "!", ",", "-"]
)
TOKEN_TEXTS = st.lists(
    st.one_of(
        _TOKEN_FRAGMENTS,
        st.characters(codec="utf-8", exclude_categories=("Cs",)),
    ),
    max_size=300,
).map("".join)


def _over_big_piece(base: str, reps: int, no_bounds: bool) -> str:
    from ragflow_spark.kernels.chunk import _BIG_PIECE_CHARS, _SENT_BOUND_RE

    if no_bounds:  # one piece longer than _BIG_PIECE_CHARS
        base = _SENT_BOUND_RE.sub("", base) or "w"
    return base * (_BIG_PIECE_CHARS // len(base) + reps)


# texts past _BIG_PIECE_CHARS, so the bounded-probe branch runs
LONG_TEXTS = st.builds(
    _over_big_piece,
    TOKEN_TEXTS.filter(bool),
    st.integers(min_value=1, max_value=3),
    st.booleans(),
)


def _hard_split_reference(piece: str, budget: int):
    """Cut at every `budget`-th token end of tokenize(); the tail
    holds the rest."""
    from ragflow_spark.kernels.chunk import tokenize

    _starts, ends = tokenize(piece)
    spans, start = [], 0
    for k in range(budget - 1, len(ends), budget):
        spans.append((start, ends[k], budget))
        start = ends[k]
    if start < len(piece):
        spans.append((start, len(piece), len(ends) % budget))
    return spans


# the token pattern in its plain greedy form, as the SQL twin
# (operators/extraction.py _TOKEN_RE_SQL) writes it
_GREEDY_TOKEN_RE = re.compile(
    r"[A-Za-z0-9_]+(?:'[a-z]+)?|[一-鿿぀-ヿ가-힯]|[^\sA-Za-z0-9_]"
)


@given(TOKEN_TEXTS)
@settings(max_examples=300, deadline=None)
def test_possessive_token_pattern_finds_greedy_tokens(text):
    from ragflow_spark.kernels.chunk import _TOKEN_RE

    assert [m.span() for m in _TOKEN_RE.finditer(text)] == [
        m.span() for m in _GREEDY_TOKEN_RE.finditer(text)
    ]


@given(st.one_of(TOKEN_TEXTS, LONG_TEXTS), st.integers(min_value=0, max_value=400))
@settings(max_examples=300, deadline=None)
def test_num_tokens_matches_per_token_reference(text, pos):
    """Block-and-descent counting equals one count per token, from any
    start position (the hard split's tail counts from a cut)."""
    from ragflow_spark.kernels.chunk import tokenize

    pos = min(pos, len(text))
    assert num_tokens(text, pos) == len(tokenize(text[pos:])[0])


@given(st.one_of(TOKEN_TEXTS, LONG_TEXTS), st.integers(min_value=1, max_value=64))
@settings(max_examples=300, deadline=None)
def test_hard_split_matches_per_token_reference(piece, budget):
    """One regex match per chunk cuts exactly where counting tokens
    one by one does."""
    from ragflow_spark.kernels.chunk import _hard_split

    assert _hard_split(piece, budget) == _hard_split_reference(piece, budget)


@st.composite
def _probe_edge(draw):
    """One piece over _BIG_PIECE_CHARS holding 2*budget-1 .. 2*budget+2
    single tokens, spread out by long whitespace runs: the probe's
    decision boundary (hard split iff more than 2*budget tokens)."""
    from ragflow_spark.kernels.chunk import _BIG_PIECE_CHARS

    budget = draw(st.integers(min_value=1, max_value=64))
    n = 2 * budget + draw(st.integers(min_value=-1, max_value=2))
    words = draw(
        st.lists(st.sampled_from(["don't", "x_9", "中", "\U0001F600", "-"]),
                 min_size=n, max_size=n)
    )
    gap = draw(st.sampled_from([" ", "\t", "\u3000", "\xa0 "]))
    sep = gap * (_BIG_PIECE_CHARS // (len(gap) * n) + 1)
    return sep.join(words), budget


@given(
    st.one_of(
        st.tuples(LONG_TEXTS, st.integers(min_value=1, max_value=64)),
        _probe_edge(),
    )
)
@settings(max_examples=150, deadline=None)
def test_bounded_probe_matches_exact_count_path(case):
    """The bounded probe for pieces over _BIG_PIECE_CHARS decides the
    hard split exactly as the full token count does (the probe path
    disabled by raising the threshold past the text)."""
    from unittest import mock

    from ragflow_spark.kernels import chunk

    text, budget = case
    probed = chunk.chunk_spans_with_counts("naive", text, ["p"], [text], budget)
    with mock.patch.object(chunk, "_BIG_PIECE_CHARS", len(text) + 1):
        counted = chunk.chunk_spans_with_counts("naive", text, ["p"], [text], budget)
    assert probed == counted


# whitespace that _WS_RUN_RE collapses, plus pure-ASCII single-spaced
# text where normalize_text's no-collapse fast path fires
_WS_HEAVY = st.lists(
    st.sampled_from(
        list("\t\v\f\x1c\x1d\x1e\x1f\x85\xa0\u3000\n\r") + [" ", "  ", "a", "b", "é"]
    ),
    max_size=200,
).map("".join)
_ASCII_SINGLE_SPACED = st.lists(
    st.text(alphabet="abcXYZ019.,'!\n", min_size=1, max_size=10), max_size=40
).map(" ".join)


@given(st.one_of(_WS_HEAVY, _ASCII_SINGLE_SPACED, TEXTS))
@settings(max_examples=300, deadline=None)
def test_normalize_fast_path_equals_unconditional_sub(s):
    from unittest import mock

    from ragflow_spark.kernels import htmlx

    if htmlx._nothing_to_collapse(s):
        assert htmlx._WS_RUN_RE.search(s) is None
    with mock.patch.object(htmlx, "_nothing_to_collapse", lambda _s: False):
        always_sub = htmlx.normalize_text(s)
    assert normalize_text(s) == always_sub


def test_normalize_fast_path_guard_covers_every_ascii_collapse():
    """The guard declines exactly the ASCII chars _WS_RUN_RE acts on
    (doubled, so a lone ASCII space is the only one left alone), and
    fires on single-spaced ASCII."""
    from ragflow_spark.kernels.htmlx import _WS_RUN_RE, _nothing_to_collapse

    for c in map(chr, range(128)):
        s = f"a{c}{c}b"
        assert _nothing_to_collapse(s) == (_WS_RUN_RE.search(s) is None), repr(c)
    assert _nothing_to_collapse("one two. three\nfour")
    assert not _nothing_to_collapse("caf\xe9 ok")  # non-ASCII: sub runs


# Cross-engine fuzz for the paragraph regrouping in
# operators/extraction.py _ROUTES_CTES, the shared base of the
# extract_text_hashes_full and chunk_spans_full VALUE oracles:
# the SQL paragraph regrouping (per = max(8, n//6), first 6 paras,
# 1-based list slicing, ceil counts) must equal python _paragraphs for
# ANY word count — the corpus only exercises a few lengths. Domain =
# the synthesizer's contract: words joined by single spaces (the
# documents generator never emits doubled/edge whitespace).
_WORDS = st.lists(
    st.text(alphabet="abcdefgéß中", min_size=1, max_size=8),
    min_size=1,
    max_size=300,
)


@given(_WORDS)
@settings(max_examples=150, deadline=None)
def test_paragraph_regroup_sql_matches_python(words):
    import duckdb

    from ragflow_spark.sources.pages import _paragraphs

    text = " ".join(words)
    expect = "\n".join(_paragraphs(text))
    (got,) = duckdb.connect().execute(
        """
        WITH p AS (
          SELECT str_split(?, ' ') AS words,
                 len(str_split(?, ' ')) AS n,
                 greatest(8, len(str_split(?, ' ')) // 6) AS per
        )
        SELECT array_to_string(
          list_transform(
            range(least(6, cast(ceil(n * 1.0 / per) AS INT))),
            i -> array_to_string(words[i * per + 1 : (i + 1) * per], ' ')
          ), chr(10))
        FROM p
        """,
        [text, text, text],
    ).fetchone()
    assert got == expect


def test_corpus_bits_formulas_match_duckdb():
    """The Spark side computes the corpus-derived LSH bit counts in
    python, the oracles recompute them in SQL — the two ceil(log2())
    clamp formulas must agree for every corpus size, INCLUDING exact
    powers of two where a one-ulp log2 difference would flip the
    ceil."""
    import duckdb

    from ragflow_spark.operators.similarity import neardup_bits, query_planes

    con = duckdb.connect()
    ns = sorted(
        {2**k for k in range(0, 41)}
        | {2**k * 16 for k in range(0, 36)}
        | {2**k * 32 for k in range(0, 35)}
        | {2**k + d for k in range(1, 41) for d in (-1, 1)}
        | {1, 3, 7, 500, 2000, 5000, 123457, 10**6, 10**9, 10**12}
    )
    for n in ns:
        if n <= 0:
            continue
        (nd,) = con.execute(
            "SELECT least(24, greatest(4, cast(ceil(log2(? / 16.0)) AS INT)))",
            [float(n)],
        ).fetchone()
        assert nd == neardup_bits(n), f"neardup_bits({n})"
        (qp,) = con.execute(
            "SELECT least(24, greatest(2, cast(ceil(log2(? / 32.0)) AS INT)))",
            [float(n)],
        ).fetchone()
        assert qp == query_planes(n), f"query_planes({n})"


# ------------------------------------------------- BPE string semantics
#
# The bpe_merge_induction / bpe_encode_stats operators run their merge
# application as a literal string replace over '(a)(b)(c)'-wrapped
# symbols, identically on Spark and DuckDB (Python str.replace has the
# same left-to-right non-overlapping semantics). These properties prove
# that the STRING form is exactly Sennrich-BPE by checking it against
# an independent symbol-LIST reference over random corpora — including
# the suffix-crossing class ('aab' after merges (a,a),(a,b)) that broke
# the earlier trailing-separator encoding.

_BPE_WORDS = st.lists(
    st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=8
)


def _list_merge(sym, a, b):
    out, i = [], 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def _bpe_reference(words, k=3):
    """Symbol-list Sennrich BPE: weighted pair counts, argmax
    (cnt DESC, 'a b' string ASC), greedy left-to-right merge."""
    from collections import Counter

    vocab = Counter(words)
    enc = {w: list(w) for w in vocab}
    merges = []
    for step in range(1, k + 1):
        pairs = Counter()
        for w, f in vocab.items():
            s = enc[w]
            for i in range(len(s) - 1):
                pairs[f"{s[i]} {s[i+1]}"] += f
        if not pairs:
            break
        pair, cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, pair, cnt))
        a, b = pair.split(" ")
        for w in enc:
            enc[w] = _list_merge(enc[w], a, b)
    return merges, enc


def _bpe_string_mirror(words, k=3):
    """The operators' exact cross-engine semantics: wrapped encoding +
    literal replace (Python str.replace == Spark F.replace == DuckDB
    replace for left-to-right non-overlapping literal substitution)."""
    from collections import Counter

    vocab = Counter(words)
    enc = {w: "".join(f"({c})" for c in w) for w in vocab}
    merges = []
    for step in range(1, k + 1):
        pairs = Counter()
        for w, f in vocab.items():
            syms = enc[w][1:-1].split(")(")
            for i in range(len(syms) - 1):
                pairs[f"{syms[i]} {syms[i+1]}"] += f
        if not pairs:
            break
        pair, cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, pair, cnt))
        a, b = pair.split(" ")
        for w in enc:
            enc[w] = enc[w].replace(f"({a})({b})", f"({a}{b})")
    return merges, enc


@given(_BPE_WORDS)
@settings(max_examples=300, deadline=None)
def test_bpe_string_replace_is_exact_sennrich(words):
    ref_m, ref_e = _bpe_reference(words)
    mir_m, mir_e = _bpe_string_mirror(words)
    assert mir_m == ref_m
    for w in ref_e:
        mir_syms = mir_e[w][1:-1].split(")(")
        assert mir_syms == ref_e[w], (w, mir_syms, ref_e[w])


@given(_BPE_WORDS)
@settings(max_examples=300, deadline=None)
def test_bpe_whole_text_encode_equals_per_word(words):
    """The encode operator applies the learned merges to the WHOLE
    space-joined text in one replace chain; that must equal encoding
    each word independently (merges cannot cross the ') (' boundary)."""
    merges, per_word = _bpe_string_mirror(words)
    text_enc = " ".join("".join(f"({c})" for c in w) for w in words)
    for _, pair, _ in merges:
        a, b = pair.split(" ")
        text_enc = text_enc.replace(f"({a})({b})", f"({a}{b})")
    assert text_enc == " ".join(per_word[w] for w in words)


# ---------------------------------------------------------------------------
# HLL oracle arithmetic (no Spark: DuckDB vs pure Python). The parity
# suite proves Spark == DuckDB on the fixed corpora; this fuzzes the
# RISKY half of the cross-engine contract — the hex/bin/shift register
# arithmetic in the DuckDB oracle — against an independent pure-Python
# HyperLogLog over arbitrary corpora (duplicates, unicode, empty-ish
# strings, single-text sources).
# ---------------------------------------------------------------------------

_HLL_DOCS = st.lists(
    st.tuples(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
            min_size=0,
            max_size=40,
        ),
        st.sampled_from(["s0", "s1", "s2"]),
    ),
    min_size=1,
    max_size=120,
)


@given(_HLL_DOCS)
@settings(max_examples=60, deadline=None)
def test_hll_oracle_matches_python_reference(docs):
    import hashlib

    import duckdb
    import pandas as pd

    from ragflow_spark.operators.hll import (
        HLL_M,
        _HLL_ORACLE,
        estimate_registers,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [t for t, _ in docs],
            "lang": "en",
            "source": [s for _, s in docs],
            "n_chars": [len(t) for t, _ in docs],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = {
        r["source"]: r
        for _, r in con.sql(_HLL_ORACLE).df().iterrows()
    }

    per_source: dict[str, dict] = {}
    for t, s in docs:
        st_ = per_source.setdefault(
            s, {"regs": [0] * HLL_M, "seen": set()}
        )
        if t in st_["seen"]:
            continue
        st_["seen"].add(t)
        h = hashlib.md5(t.encode()).hexdigest()
        idx = int(h[:2], 16) % HLL_M
        w60 = int(h[2:17], 16)
        rho = 61 if w60 == 0 else 61 - w60.bit_length()
        if rho > st_["regs"][idx]:
            st_["regs"][idx] = rho

    assert set(got) == set(per_source)
    for s, st_ in per_source.items():
        v, est = estimate_registers(st_["regs"])
        exact = len(st_["seen"])
        assert got[s]["n_exact"] == exact
        assert got[s]["v_empty"] == v
        assert got[s]["max_rho"] == max(st_["regs"])
        assert abs(got[s]["hll_estimate"] - round(est, 4)) <= 1e-4
        assert (
            abs(got[s]["rel_err"] - round(abs(est - exact) / exact, 4))
            <= 1e-4
        )


_ANCHOR_DOCS = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c"),  # spaces -> multi-word splits
        min_size=0,
        max_size=20,
    ),
    min_size=1,
    max_size=60,
)


@given(_ANCHOR_DOCS)
@settings(max_examples=60, deadline=None)
def test_anchor_oracle_matches_python_reference(texts):
    """DuckDB-vs-Python fuzz for the anchor_text_stats oracle: the
    risky cross-engine half is the list-index arithmetic
    (string_split + 1-based ws[(doc_id+c) % len(ws) + 1]) on
    degenerate word lists — empty texts (one empty word), runs of
    spaces (empty words), single-word docs."""
    from collections import Counter

    import duckdb
    import pandas as pd

    from ragflow_spark.operators.linkgraph import (
        PR_LINK_SHIFTS,
        _anchor_oracle,
    )

    n = len(texts)
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "text": texts,
            "lang": "en",
            "source": "s",
            "n_chars": [len(t) for t in texts],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = {
        r["top_anchor"]: (
            int(r["n_pages"]),
            int(r["n_anchor_hits"]),
            int(r["pages_sig"]),
        )
        for _, r in con.sql(_anchor_oracle()).df().iterrows()
    }

    cnt: dict[int, Counter] = {}
    for i, t in enumerate(texts):
        ws = t.split(" ")
        for c in PR_LINK_SHIFTS:
            dst = (i * i + c) % n
            term = ws[(i + c) % len(ws)]
            cnt.setdefault(dst, Counter())[term] += 1
    hist: dict[str, list[int]] = {}
    for dst, c in cnt.items():
        term = min(c, key=lambda t: (-c[t], t))
        hist.setdefault(term, [0, 0, 0])
        hist[term][0] += 1
        hist[term][1] += c[term]
        hist[term][2] ^= dst
    assert got == {t: tuple(v) for t, v in hist.items()}


_SCHED_IDS = st.lists(
    st.integers(min_value=0, max_value=5000), min_size=1, max_size=80,
    unique=True,
)


@given(_SCHED_IDS)
@settings(max_examples=60, deadline=None)
def test_fetch_schedule_oracle_matches_python_reference(ids):
    """DuckDB-vs-Python fuzz for the fetch_schedule oracle: host
    assignment, RFC 9309 prefix blocking, md5 priority order, slot
    arithmetic and the slot-binding signature over arbitrary doc_id
    sets (so hosts appear/disappear and prefix collisions vary)."""
    import hashlib

    import duckdb
    import pandas as pd

    from ragflow_spark.operators.corpus import _FETCH_SCHEDULE_ORACLE

    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "text": "t x",
            "lang": "en",
            "source": "s",
            "n_chars": 3,
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = {
        r["host"]: (
            int(r["crawl_delay_s"]),
            int(r["n_scheduled"]),
            int(r["makespan_s"]),
            int(r["first_doc"]),
            int(r["sched_sig"]),
        )
        for _, r in con.sql(_FETCH_SCHEDULE_ORACLE).df().iterrows()
    }

    by_host: dict[str, list[int]] = {}
    for i in ids:
        host = (
            "big.example.com" if i % 10 < 3 else f"site{i % 50:02d}.example.org"
        )
        by_host.setdefault(host, []).append(i)
    want = {}
    for host, members in by_host.items():
        if host == "big.example.com":
            prefix, delay = "/doc-3", 1
        else:
            nn = int(host[4:6])
            prefix, delay = f"/doc-{nn % 10}", 1 + nn % 5
        allowed = [i for i in members if not f"/doc-{i}".startswith(prefix)]
        if not allowed:
            continue
        prio = {
            i: int(
                hashlib.md5(f"https://{host}/doc-{i}".encode()).hexdigest()[
                    :8
                ],
                16,
            )
            for i in allowed
        }
        order = sorted(allowed, key=lambda i: (-prio[i], i))
        sig = 0
        for slot, i in enumerate(order):
            sig ^= i * (slot + 1)
        want[host] = (
            delay,
            len(order),
            (len(order) - 1) * delay,
            order[0],
            sig,
        )
    assert got == want


def _pq_naive(vecs_int, cb_int, m_sub, n_sub):
    """Pure-Python PQ reference: per (vector, subspace) argmin of the
    exact integer squared L2, ties to the smallest code id."""
    codes, resids = [], []
    for v in vecs_int:
        vc, vr = [], []
        for m in range(m_sub):
            best = None
            for j, c in enumerate(cb_int):
                d = sum(
                    (v[m * n_sub + t] - c[m * n_sub + t]) ** 2
                    for t in range(n_sub)
                )
                if best is None or d < best[0]:
                    best = (d, j)
            vc.append(best[1])
            vr.append(best[0])
        codes.append(vc)
        resids.append(vr)
    return codes, resids


def _pq_fuzz_vecs(seed: int, n: int, coarse: bool):
    """Deterministic fuzz corpus from a compact seed: `coarse` draws
    from a 7-value milli-grid so codebook entries collide and argmin
    TIES are common (the semantics under test); fine mode exercises
    arbitrary float32 magnitudes."""
    import numpy as np

    rng = np.random.RandomState(seed)
    if coarse:
        grid = np.array(
            [-0.002, -0.001, -0.0005, 0.0, 0.0005, 0.001, 0.002]
        )
        vecs = rng.choice(grid, size=(n, 64))
    else:
        vecs = rng.uniform(-1.0, 1.0, size=(n, 64))
    return [[float(np.float32(x)) for x in v] for v in vecs]


_PQ_CASE = st.tuples(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=16, max_value=40),  # vec_id < PQ_K = codebook
    st.booleans(),
)


@given(_PQ_CASE)
@settings(max_examples=40, deadline=None)
def test_pq_encode_matches_naive_reference(case):
    """The vectorized einsum encoder must equal the loop reference
    exactly — codes AND residuals — on arbitrary float32 vectors
    (ties, zero vectors, duplicate codebook entries included)."""
    vecs = _pq_fuzz_vecs(*case)
    import math

    import numpy as np

    from ragflow_spark.operators.similarity import (
        PQ_M,
        PQ_SCALE,
        PQ_SUB,
        _pq_cb3,
        _pq_encode,
    )

    cb_int = [
        [int(math.floor(x * PQ_SCALE)) for x in v] for v in vecs[:16]
    ]
    vecs_int = [
        [int(math.floor(x * PQ_SCALE)) for x in v] for v in vecs
    ]
    codes, resid = _pq_encode(
        np.array(vecs, dtype=np.float64), _pq_cb3(cb_int)
    )
    want_codes, want_resid = _pq_naive(vecs_int, cb_int, PQ_M, PQ_SUB)
    assert codes.tolist() == want_codes
    assert resid.tolist() == want_resid


@given(_PQ_CASE)
@settings(max_examples=20, deadline=None)
def test_pq_oracle_matches_kernel_arithmetic(case):
    """DuckDB-vs-numpy fuzz for the PQ oracle SQL: the risky
    cross-engine half is the list-slicing index arithmetic
    (qi[PQ_SUB*m + d], 1-based) and the row_number tie-break replaying
    np.argmin's first-minimum rule."""
    vecs = _pq_fuzz_vecs(*case)
    from collections import defaultdict

    import duckdb
    import numpy as np
    import pandas as pd

    from ragflow_spark.operators.similarity import (
        _PQ_ENCODE_ORACLE,
        _pq_cb3,
        _pq_encode,
        PQ_M,
        PQ_SCALE,
    )
    import math

    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": vecs,
            "label": 0,
        }
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)
    got = {
        (int(r["subspace"]), int(r["code"])): (
            int(r["n_vecs"]),
            int(r["vec_sig"]),
            int(r["sum_resid_sq"]),
        )
        for _, r in con.sql(_PQ_ENCODE_ORACLE).df().iterrows()
    }

    cb_int = [
        [int(math.floor(x * PQ_SCALE)) for x in v] for v in vecs[:16]
    ]
    codes, resid = _pq_encode(
        np.array(vecs, dtype=np.float64), _pq_cb3(cb_int)
    )
    want: dict = defaultdict(lambda: [0, 0, 0])
    for vid in range(len(vecs)):
        for m in range(PQ_M):
            cell = want[(m, int(codes[vid, m]))]
            cell[0] += 1
            cell[1] ^= vid
            cell[2] += int(resid[vid, m])
    assert got == {k: tuple(v) for k, v in want.items()}


_DSIR_DOCS = st.lists(
    st.tuples(
        st.text(alphabet="ab c", min_size=0, max_size=24),
        st.sampled_from(["en", "de", "zh"]),
    ),
    min_size=1,
    max_size=50,
)


@given(_DSIR_DOCS)
@settings(max_examples=60, deadline=None)
def test_dsir_oracle_matches_python_reference(docs):
    """DuckDB-vs-Python fuzz for the DSIR oracle: gram construction on
    degenerate word lists (empty texts, empty words from space runs,
    single-word docs with NO grams -> NULL list_sum), the dense-bucket
    left join, and the exact floor-division milli-ratio."""
    import hashlib

    import duckdb
    import pandas as pd

    from ragflow_spark.operators.trainprep import _DSIR_ORACLE, DSIR_B

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [t for t, _ in docs],
            "lang": [lg for _, lg in docs],
            "source": ["s%d" % (i % 3) for i in range(len(docs))],
            "n_chars": [len(t) for t, _ in docs],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = {
        r["source"]: (
            int(r["n_docs"]),
            int(r["n_target"]),
            int(r["n_selected"]),
            int(r["sum_milli"]),
            round(float(r["sel_rate"]), 4),
        )
        for _, r in con.sql(_DSIR_ORACLE).df().iterrows()
    }

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:4], 16) % DSIR_B

    r_b = [0] * DSIR_B
    t_b = [0] * DSIR_B
    grams_per_doc = []
    for text, lg in docs:
        ws = text.split(" ")
        gs = [ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)]
        grams_per_doc.append(gs)
        for g in gs:
            r_b[bucket(g)] += 1
            if lg == "en":
                t_b[bucket(g)] += 1
    rr, tt = sum(r_b), sum(t_b)
    lam = [
        (1000 * (t_b[b] + 1) * (rr + DSIR_B))
        // ((r_b[b] + 1) * (tt + DSIR_B))
        for b in range(DSIR_B)
    ]
    want: dict = {}
    for i, ((_, lg), gs) in enumerate(zip(docs, grams_per_doc)):
        src = "s%d" % (i % 3)
        sc = sum(lam[bucket(g)] for g in gs)
        nd, nt, ns, sm = want.get(src, (0, 0, 0, 0))
        want[src] = (
            nd + 1,
            nt + (lg == "en"),
            ns + (sc > 1000 * len(gs)),
            sm + sc,
        )
    want = {
        k: (nd, nt, ns, sm, round(ns / nd, 4))
        for k, (nd, nt, ns, sm) in want.items()
    }
    assert got == want


_IVFPQ_CASE = st.tuples(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=58, max_value=110),  # >= 2 IVF centroids
)


@given(_IVFPQ_CASE)
@settings(max_examples=15, deadline=None)
def test_ivfpq_oracle_matches_python_reference(case):
    """DuckDB-vs-pure-Python fuzz for the IVF-PQ oracle: coarse
    assignment tie rule, milli-int residual arithmetic, residual
    codebook construction, per-cell ADC tables and the probed-cell
    join. Continuous uniform vectors only — a coarse value grid would
    manufacture mathematically-exact cosine ties whose cross-engine
    ulp behavior is undefined (and which real embeddings don't
    have)."""
    import math

    import duckdb
    import numpy as np
    import pandas as pd

    from ragflow_spark.operators.similarity import (
        _IVFPQ_ORACLE,
        IVF_CENTROID_PICK,
        IVF_CENTROID_STRIDE,
        IVF_NPROBE,
        PQ_K,
        PQ_M,
        PQ_SCALE,
        PQ_SUB,
        QUERY_VEC_ID,
        TOP_K,
    )

    seed, n = case
    rng = np.random.RandomState(seed)
    vecs = [
        [float(np.float32(x)) for x in rng.uniform(-1.0, 1.0, 64)]
        for _ in range(n)
    ]
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": vecs, "label": [i % 7 for i in range(n)]}
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)
    got = [
        (int(r["vec_id"]), int(r["label"]), int(r["cent_id"]),
         int(r["adist_sq"]))
        for _, r in con.sql(_IVFPQ_ORACLE).df().iterrows()
    ]

    # pure-Python reference
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    qi = [[math.floor(x * PQ_SCALE) for x in v] for v in vecs]
    cents = [
        i for i in range(n) if i % IVF_CENTROID_STRIDE == IVF_CENTROID_PICK
    ]

    def assign(v):
        return max(cents, key=lambda c: (cos(vecs[v], vecs[c]), -c))

    a_of = {v: assign(v) for v in range(n)}
    resid = {
        v: [a - b for a, b in zip(qi[v], qi[a_of[v]])] for v in range(n)
    }
    cb = [resid[v] for v in range(PQ_K)]

    def sq(u, w):
        return sum((a - b) ** 2 for a, b in zip(u, w))

    def encode(r):
        out = []
        for m in range(PQ_M):
            sl = r[m * PQ_SUB : (m + 1) * PQ_SUB]
            out.append(
                min(
                    range(PQ_K),
                    key=lambda j: (
                        sq(sl, cb[j][m * PQ_SUB : (m + 1) * PQ_SUB]),
                        j,
                    ),
                )
            )
        return out

    probe = sorted(cents, key=lambda c: (-cos(vecs[QUERY_VEC_ID], vecs[c]), c))[
        :IVF_NPROBE
    ]
    dt = {}
    for c in probe:
        qr = [a - b for a, b in zip(qi[QUERY_VEC_ID], qi[c])]
        dt[c] = [
            [
                sq(
                    qr[m * PQ_SUB : (m + 1) * PQ_SUB],
                    cb[j][m * PQ_SUB : (m + 1) * PQ_SUB],
                )
                for j in range(PQ_K)
            ]
            for m in range(PQ_M)
        ]
    cand = []
    for v in range(n):
        if v == QUERY_VEC_ID or a_of[v] not in dt:
            continue
        codes = encode(resid[v])
        ad = sum(dt[a_of[v]][m][codes[m]] for m in range(PQ_M))
        cand.append((v, v % 7, a_of[v], ad))
    want = sorted(cand, key=lambda t: (t[3], t[0]))[:TOP_K]
    assert got == want


_BM25_WORDS = [
    "spark", "join", "dup", "filter", "window", "agg", "scan",
    "x", "y", "zz",
]
_BM25_DOCS = st.lists(
    st.lists(
        st.sampled_from(_BM25_WORDS), min_size=0, max_size=30
    ).map(" ".join),
    min_size=1,
    max_size=50,
)


@given(_BM25_DOCS)
@settings(max_examples=60, deadline=None)
def test_bm25_oracle_matches_python_reference(texts):
    """DuckDB-vs-Python fuzz for the bm25_topk oracle: the whole
    scoring path is exact int64 milli-fixed-point (rational idf x
    saturated tf, floor division everywhere), so an independent loop
    reference must reproduce every score and every rank bit-for-bit —
    any drift means the SQL's `//` placement diverged from the spec
    in the operator docstring."""
    import duckdb
    import pandas as pd

    from ragflow_spark.operators.textops import (
        BM25_K,
        BM25_QUERIES,
        _BM25_ORACLE,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "s0",
            "n_chars": [len(t) for t in texts],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = sorted(
        tuple(int(v) for v in row)
        for row in con.sql(_BM25_ORACLE).df()[
            ["query_id", "doc_id", "score_milli", "n_hit_terms", "rk"]
        ].itertuples(index=False, name=None)
    )

    # pure-Python reference: same quantization spec, independent code
    toks = [t.split(" ") for t in texts]
    n_docs = len(toks)
    dls = [len(ts) for ts in toks]
    l_tot = sum(dls)
    terms = {t for ts in BM25_QUERIES.values() for t in ts}
    tf: dict[tuple[int, str], int] = {}
    for did, ts in enumerate(toks):
        for t in ts:
            if t in terms:
                tf[(did, t)] = tf.get((did, t), 0) + 1
    df: dict[str, int] = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    want = []
    for qid, qterms in BM25_QUERIES.items():
        scores: dict[int, list[int]] = {}
        for t in qterms:
            for did in range(n_docs):
                f = tf.get((did, t))
                if not f:
                    continue
                dlr = dls[did] * n_docs * 1000 // l_tot
                tfp_m = (22000 * f * 1000) // (
                    10000 * f + 3000 + 9 * dlr
                )
                idf_m = ((2 * n_docs - 2 * df[t] + 1) * 1000) // (
                    2 * df[t] + 1
                )
                cell = scores.setdefault(did, [0, 0])
                cell[0] += idf_m * tfp_m // 1000
                cell[1] += 1
        ranked = sorted(
            scores.items(), key=lambda kv: (-kv[1][0], kv[0])
        )[:BM25_K]
        for rk, (did, (sm, nh)) in enumerate(ranked, start=1):
            want.append((qid, did, sm, nh, rk))
    assert got == sorted(want)


_ZORDER_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=300),  # user_id
        st.integers(min_value=0, max_value=90_000),  # seconds offset
    ),
    min_size=1,
    max_size=80,
)


@given(_ZORDER_EVENTS)
@settings(max_examples=60, deadline=None)
# 33 bins over 32 users: 1.03125 is an exact tie, which SQL round()
# takes up and Python's round() takes to even
@example(rows=[(0, 0), (0, 60)] + [(u, 0) for u in range(1, 32)])
def test_zorder_oracle_matches_python_reference(rows):
    """DuckDB-vs-Python fuzz for the zorder_layout_plan oracle: the
    risky half is the Morton spread (three magic-number &/|/<< stages)
    and the floor-division range normalization — the reference
    interleaves bits with a direct loop, so any drift in the staged
    magic numbers or a `//`-vs-round slip in the SQL fails here."""
    import datetime as dt
    from decimal import ROUND_HALF_UP, Decimal

    def sql_round4(p: int, q: int) -> float:
        """round(p / q, 4) as SQL rounds: ties away from zero."""
        return float((Decimal(p) / q).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    import duckdb
    import pandas as pd

    from ragflow_spark.operators.trainprep import (
        ZORDER_BIN_SHIFT,
        ZORDER_LIN_SHIFT,
        ZORDER_PAIR_BASE,
        ZORDER_SIG_MIX,
        _ZORDER_ORACLE,
    )

    base = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [base + dt.timedelta(seconds=s) for _, s in rows],
            "user_id": [u for u, _ in rows],
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    con = duckdb.connect()
    con.register("events", pdf)
    got = {
        r["layout"]: r for _, r in con.sql(_ZORDER_ORACLE).df().iterrows()
    }

    def interleave(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    epoch = dt.datetime(1970, 1, 1)
    mins = [
        int((base + dt.timedelta(seconds=s) - epoch).total_seconds())
        // 60
        for _, s in rows
    ]
    us = [u for u, _ in rows]
    xmin, xmax = min(us), max(us)
    ymin, ymax = min(mins), max(mins)
    recs = []
    for u, m in zip(us, mins):
        x8 = (u - xmin) * 256 // (xmax - xmin + 1)
        y8 = (m - ymin) * 256 // (ymax - ymin + 1)
        z = interleave(x8, y8)
        recs.append((x8, y8, z))
    layouts = {
        "zorder": [(x, y, z, z >> ZORDER_BIN_SHIFT) for x, y, z in recs],
        "time": [(x, y, z, y >> ZORDER_LIN_SHIFT) for x, y, z in recs],
        "user": [(x, y, z, x >> ZORDER_LIN_SHIFT) for x, y, z in recs],
    }
    assert set(got) == set(layouts)
    for name, rs in layouts.items():
        r = got[name]
        sig = 0
        for _, _, z, b in rs:
            sig ^= b * ZORDER_SIG_MIX + z
        n_users = len({x for x, _, _, _ in rs})
        n_slots = len({y for _, y, _, _ in rs})
        upairs = len({(x, b) for x, _, _, b in rs})
        spairs = len({(y, b) for _, y, _, b in rs})
        assert int(r["n_rows"]) == len(rs)
        assert int(r["n_bins"]) == len({b for _, _, _, b in rs})
        assert int(r["user_probe_pairs"]) == upairs
        assert int(r["slot_probe_pairs"]) == spairs
        assert abs(r["avg_bins_per_user"] - sql_round4(upairs, n_users)) <= 1e-4
        assert abs(r["avg_bins_per_slot"] - sql_round4(spairs, n_slots)) <= 1e-4
        assert int(r["layout_sig"]) == sig
        # the packed-int pair keys must be collision-free
        assert all(b < ZORDER_PAIR_BASE for _, _, _, b in rs)


_POSTING_DOCSETS = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma"]),
        min_size=0,
        max_size=3,
        unique=True,
    ),
    min_size=1,
    max_size=400,
)


@given(_POSTING_DOCSETS)
@settings(max_examples=40, deadline=None)
def test_posting_compress_oracle_matches_python_reference(memberships):
    """DuckDB-vs-Python fuzz for the posting_compress_stats oracle:
    an independent loop encoder (explicit container restarts + a
    varint byte-width function) must reproduce every term's varint
    byte count, container count, and per-container signature. doc_ids
    are spread (i*997) so sparse terms produce in-container gaps
    crossing BOTH the 128 and 16384 varint boundaries (1/2/3-byte
    tiers all fire) and container restarts land mid-list (ids span
    multiple 65536-wide ranges)."""
    import duckdb
    import pandas as pd

    from ragflow_spark.operators.textops import (
        POSTING_BLOCK,
        POSTING_SIG_MIX,
        _POSTING_ORACLE,
    )

    doc_ids = [i * 997 for i in range(len(memberships))]
    pdf = pd.DataFrame(
        {
            "doc_id": doc_ids,
            "text": [" ".join(ms) if ms else "zzz" for ms in memberships],
            "lang": "en",
            "source": "s0",
            "n_chars": 1,
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = {
        r["term"]: r for _, r in con.sql(_POSTING_ORACLE).df().iterrows()
    }

    def varint(g):
        return 1 if g < 128 else 2 if g < 16384 else 3 if g < 2097152 else 4

    terms = {}
    for did, ms in zip(doc_ids, memberships):
        for t in ms if ms else ["zzz"]:
            terms.setdefault(t, []).append(did)
    for t, ids in terms.items():
        if t not in got:
            continue  # outside the top-k cut
        blocks = {}
        for i, did in enumerate(sorted(ids)):
            b = did // POSTING_BLOCK
            prev = sorted(ids)[i - 1] if i > 0 else None
            restart = prev is None or prev // POSTING_BLOCK != b
            blocks.setdefault(b, 0)
            blocks[b] += 8 if restart else varint(did - prev)
        r = got[t]
        assert int(r["df"]) == len(ids)
        assert int(r["n_blocks"]) == len(blocks)
        assert int(r["varint_bytes"]) == sum(blocks.values())
        assert int(r["fixed_bytes"]) == 8 * len(ids)
        sig = 0
        for b, nb in blocks.items():
            sig ^= b * POSTING_SIG_MIX + nb
        assert int(r["blocks_sig"]) == sig


_SQ8_VECS = st.lists(
    st.lists(
        st.floats(
            min_value=-2.0,
            max_value=2.0,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=4,
        max_size=4,
    ),
    min_size=1,
    max_size=60,
)


@given(_SQ8_VECS)
@settings(max_examples=50, deadline=None)
def test_sq8_oracle_matches_python_reference(vecs):
    """DuckDB-vs-Python fuzz for the sq8_encode_stats oracle
    arithmetic (run at DIM=4 by rewriting the oracle's literal — the
    formula is dimension-generic): an independent loop implementing
    train -> encode -> reconstruct -> residual in plain ints must
    reproduce every per-label aggregate and both signatures."""
    import math

    import duckdb
    import pandas as pd

    from ragflow_spark.operators.similarity import (
        DIM,
        PQ_SCALE,
        SQ8_CODE_MIX,
        SQ8_LEVELS,
        SQ8_SIG_MIX,
        _SQ8_ORACLE,
    )

    d = 4
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": vecs,
            "label": [i % 3 for i in range(len(vecs))],
        }
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)
    oracle = _SQ8_ORACLE.replace(f"range(1, {DIM} + 1)", f"range(1, {d} + 1)")
    got = {
        int(r["label"]): r for _, r in con.sql(oracle).df().iterrows()
    }

    q = [[math.floor(float(x) * PQ_SCALE) for x in v] for v in vecs]
    mn = [min(v[j] for v in q) for j in range(d)]
    mx = [max(v[j] for v in q) for j in range(d)]
    per_label = {}
    for vid, v in enumerate(q):
        ssr, csig = 0, 0
        for j in range(d):
            rng = mx[j] - mn[j]
            code = 0 if rng == 0 else (v[j] - mn[j]) * SQ8_LEVELS // rng
            recon = mn[j] + code * rng // SQ8_LEVELS
            ssr += (v[j] - recon) ** 2
            csig ^= (j + 1) * SQ8_CODE_MIX + code
        st_ = per_label.setdefault(vid % 3, [])
        st_.append((vid, ssr, csig))
    assert set(got) == set(per_label)
    for lab, rows in per_label.items():
        r = got[lab]
        assert int(r["n_vecs"]) == len(rows)
        assert int(r["total_ssr"]) == sum(s for _, s, _ in rows)
        assert int(r["max_ssr"]) == max(s for _, s, _ in rows)
        assert (
            abs(r["avg_ssr"] - round(sum(s for _, s, _ in rows) / len(rows), 4))
            <= 1e-4
        )
        vsig = csig_x = 0
        for vid, s, c in rows:
            vsig ^= vid * SQ8_SIG_MIX + s
            csig_x ^= vid * SQ8_SIG_MIX + c
        assert int(r["vec_sig"]) == vsig
        assert int(r["code_sig"]) == csig_x


_CONTAIN_DOCS = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
        min_size=0,
        max_size=20,
    ).map(" ".join),
    min_size=1,
    max_size=40,
)


@given(_CONTAIN_DOCS)
@settings(max_examples=40, deadline=None)
def test_containment_oracle_matches_python_reference(texts):
    """DuckDB-vs-Python fuzz for the neardup_containment oracle: an
    independent loop implements the whole chain — shingling, md5
    anchor sampling, the stop-shingle df window, the sampled pre-gate,
    and the exact containment/jaccard cross-multiply cut — so any
    drift in the SQL's sampling predicate, gate placement, or
    small/big ordering fails here."""
    import hashlib

    import duckdb
    import pandas as pd

    from ragflow_spark.operators.dedup import (
        CONTAIN_ANCHOR_HEX,
        CONTAIN_GATE_DEN,
        CONTAIN_MAX_DF,
        CONTAIN_MIN_DEN,
        CONTAIN_MIN_NUM,
    )
    from ragflow_spark.operators.registry import ORACLES

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "s0",
            "n_chars": [len(t) for t in texts],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = sorted(
        (int(r[0]), int(r[1]), int(r[2]), int(r[3]), float(r[4]), float(r[5]))
        for r in con.sql(ORACLES["neardup_containment"]).df()[
            [
                "doc_small",
                "doc_big",
                "n_sh_small",
                "n_sh_big",
                "containment",
                "jaccard",
            ]
        ].itertuples(index=False, name=None)
    )

    def shingles(t):
        w = t.lower().split(" ")
        return list(
            dict.fromkeys(
                " ".join(w[i : i + 3]) for i in range(len(w) - 2)
            )
        ) if len(w) >= 3 else None

    sh = {i: s for i, s in ((i, shingles(t)) for i, t in enumerate(texts)) if s is not None}
    anchors = {
        i: {
            s
            for s in ss
            if hashlib.md5(s.encode()).hexdigest()[0] in CONTAIN_ANCHOR_HEX
        }
        for i, ss in sh.items()
    }
    df_count = {}
    for ss in anchors.values():
        for s in ss:
            df_count[s] = df_count.get(s, 0) + 1
    live = {s for s, c in df_count.items() if 2 <= c <= CONTAIN_MAX_DF}
    want = []
    ids = sorted(sh)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            shared = len(anchors[a] & anchors[b] & live)
            if shared == 0:
                continue
            if shared * CONTAIN_GATE_DEN < min(len(anchors[a]), len(anchors[b])):
                continue
            sa, sb = len(sh[a]), len(sh[b])
            inter = len(set(sh[a]) & set(sh[b]))
            small = max(min(sa, sb), 1)
            if inter * CONTAIN_MIN_DEN < small * CONTAIN_MIN_NUM:
                continue
            ds, db_ = (a, b) if sa <= sb else (b, a)
            want.append(
                (
                    ds,
                    db_,
                    min(sa, sb),
                    max(sa, sb),
                    round(inter / small, 4),
                    round(inter / max(sa + sb - inter, 1), 4),
                )
            )
    assert got == sorted(want)


@given(_BM25_DOCS)
@settings(max_examples=30, deadline=None)
def test_snippet_oracle_matches_python_reference(texts):
    """DuckDB-vs-Python fuzz for best_passage_snippets: an independent
    loop re-derives the bm25 milli ranking (the already-fuzzed spec),
    takes the top-3 docs per query, scans hit-anchored 16-token
    windows, and reproduces every (win_start, win_hits, snippet md5)
    — catching drift in the window bounds, the earliest-start
    tie-break, or the slice/limit semantics at doc edges."""
    import hashlib

    import duckdb
    import pandas as pd

    from ragflow_spark.operators.registry import ORACLES
    from ragflow_spark.operators.textops import (
        BM25_K,
        BM25_QUERIES,
        SNIPPET_TOP_DOCS,
        SNIPPET_W,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "s0",
            "n_chars": [len(t) for t in texts],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = sorted(
        (int(r[0]), int(r[1]), int(r[2]), int(r[3]), int(r[4]), int(r[5]), r[6])
        for r in con.sql(ORACLES["best_passage_snippets"]).df()[
            [
                "query_id",
                "doc_id",
                "rk",
                "win_start",
                "win_hits",
                "snippet_words",
                "snippet_md5",
            ]
        ].itertuples(index=False, name=None)
    )

    # bm25 reference (same spec as test_bm25_oracle_matches_python_reference)
    toks = [t.split(" ") for t in texts]
    n_docs, dls = len(toks), [len(ts) for ts in toks]
    l_tot = sum(dls)
    terms = {t for ts in BM25_QUERIES.values() for t in ts}
    tf, df = {}, {}
    for did, ts in enumerate(toks):
        for t in ts:
            if t in terms:
                tf[(did, t)] = tf.get((did, t), 0) + 1
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    want = []
    for qid, qterms in BM25_QUERIES.items():
        scores = {}
        for t in qterms:
            for did in range(n_docs):
                f = tf.get((did, t))
                if not f:
                    continue
                dlr = dls[did] * n_docs * 1000 // l_tot
                tfp = (22000 * f * 1000) // (10000 * f + 3000 + 9 * dlr)
                idf = ((2 * n_docs - 2 * df[t] + 1) * 1000) // (2 * df[t] + 1)
                scores[did] = scores.get(did, 0) + idf * tfp // 1000
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_K]
        for rk, (did, _) in enumerate(ranked[:SNIPPET_TOP_DOCS], start=1):
            w = toks[did]
            hits = [
                p
                for p, word in enumerate(w)
                if any(word == t for t in qterms)
            ]
            best = None
            for p in hits:
                h = sum(1 for q in hits if p <= q < p + SNIPPET_W)
                if best is None or h > best[1]:
                    best = (p, h)
            assert best is not None  # ranked docs contain >=1 term
            snip = w[best[0] : best[0] + SNIPPET_W]
            want.append(
                (
                    qid,
                    did,
                    rk,
                    best[0],
                    best[1],
                    len(snip),
                    hashlib.md5(" ".join(snip).encode()).hexdigest(),
                )
            )
    assert got == sorted(want)


_SHUF_IDS = st.lists(
    st.integers(min_value=0, max_value=100_000),
    min_size=1,
    max_size=60,
    unique=True,
)


@given(_SHUF_IDS)
@settings(max_examples=40, deadline=None)
def test_epoch_shuffle_oracle_matches_python_reference(ids):
    """DuckDB-vs-Python fuzz for the epoch_shuffle_plan oracle: an
    independent loop re-derives the seeded md5 key, the head-of-key
    shard route, the (key, doc_id) rank order, and the (rank, doc)
    signature — any drift in key construction, the hex-prefix shard
    arithmetic, or rank tie-breaks fails here."""
    import hashlib

    import duckdb
    import pandas as pd

    from ragflow_spark.operators.registry import ORACLES
    from ragflow_spark.operators.trainprep import (
        SHUF_EPOCHS,
        SHUF_SEED,
        SHUF_SHARDS,
        SHUF_SIG_MIX,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "text": "x",
            "lang": "en",
            "source": [f"s{d % 3}" for d in ids],
            "n_chars": 1,
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = {
        (int(r["epoch"]), int(r["shard"])): r
        for _, r in con.sql(ORACLES["epoch_shuffle_plan"]).df().iterrows()
    }

    groups = {}
    for e in range(SHUF_EPOCHS):
        for d in ids:
            k = hashlib.md5(f"{SHUF_SEED}:{e}:{d}".encode()).hexdigest()
            shard = int(k[:8], 16) % SHUF_SHARDS
            groups.setdefault((e, shard), []).append((k, d))
    assert set(got) == set(groups)
    for key, rows in groups.items():
        rows.sort()
        r = got[key]
        assert int(r["n_docs"]) == len(rows)
        assert int(r["n_sources"]) == len({d % 3 for _, d in rows})
        assert int(r["head_doc"]) == rows[0][1]
        sig = 0
        for rnk, (_, d) in enumerate(rows, start=1):
            sig ^= rnk * SHUF_SIG_MIX + d
        assert int(r["order_sig"]) == sig


@given(_BM25_DOCS)
@settings(max_examples=30, deadline=None)
def test_maxscore_oracle_matches_python_reference(texts):
    """DuckDB-vs-Python fuzz for maxscore_prune_audit: the loop
    reference re-derives per-term contribution upper bounds, theta
    (min of the top-k scores), and the ascending-(bound, term) prefix
    sums — catching drift in the essential cut or the tie-broken
    prefix order."""
    import duckdb
    import pandas as pd

    from ragflow_spark.operators.registry import ORACLES
    from ragflow_spark.operators.textops import BM25_K, BM25_QUERIES

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "s0",
            "n_chars": [len(t) for t in texts],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = sorted(
        (int(r[0]), r[1], int(r[2]), int(r[3]), int(r[4]), bool(r[5]), int(r[6]))
        for r in con.sql(ORACLES["maxscore_prune_audit"]).df()[
            [
                "query_id",
                "term",
                "max_contrib",
                "n_postings",
                "cum_max",
                "essential",
                "theta",
            ]
        ].itertuples(index=False, name=None)
    )

    toks = [t.split(" ") for t in texts]
    n_docs, dls = len(toks), [len(ts) for ts in toks]
    l_tot = sum(dls)
    terms = {t for ts in BM25_QUERIES.values() for t in ts}
    tf, df = {}, {}
    for did, ts in enumerate(toks):
        for t in ts:
            if t in terms:
                tf[(did, t)] = tf.get((did, t), 0) + 1
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1

    def contrib(did, t, f):
        dlr = dls[did] * n_docs * 1000 // l_tot
        tfp = (22000 * f * 1000) // (10000 * f + 3000 + 9 * dlr)
        idf = ((2 * n_docs - 2 * df[t] + 1) * 1000) // (2 * df[t] + 1)
        return idf * tfp // 1000

    want = []
    for qid, qterms in BM25_QUERIES.items():
        percell = {}
        scores = {}
        for t in qterms:
            for did in range(n_docs):
                f = tf.get((did, t))
                if not f:
                    continue
                c = contrib(did, t, f)
                percell.setdefault(t, []).append(c)
                scores[did] = scores.get(did, 0) + c
        if not percell:
            continue
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_K]
        theta = min(s for _, s in top)
        tmax = sorted(
            (max(cs), t, len(cs)) for t, cs in percell.items()
        )
        cum = 0
        for mx, t, np_ in tmax:
            cum += mx
            want.append((qid, t, mx, np_, cum, cum >= theta, theta))
    assert got == sorted(want)


_BOILER_DOCS = st.lists(
    st.tuples(
        st.sampled_from(["h0", "h1"]),  # source/host
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]),
            min_size=0,
            max_size=12,
        ).map(" ".join),
    ),
    min_size=1,
    max_size=40,
)


@given(_BOILER_DOCS)
@settings(max_examples=40, deadline=None)
def test_host_boilerplate_oracle_matches_python_reference(rows):
    """DuckDB-vs-Python fuzz for host_boilerplate_stats: the loop
    reference replays the banner enrichment, the 3-word segmentation,
    per-host span presence counts, the cross-multiply threshold, and
    both output aggregates — catching drift in the enrichment
    predicate, segment boundaries, or the distinct-doc counting."""
    import hashlib

    import duckdb
    import pandas as pd

    from ragflow_spark.operators.corpus import (
        BOILER_DEN,
        BOILER_NUM,
        SEG_WORDS,
    )
    from ragflow_spark.operators.registry import ORACLES

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(rows)),
            "text": [t for _, t in rows],
            "lang": "en",
            "source": [s for s, _ in rows],
            "n_chars": [len(t) for _, t in rows],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = {
        r["source"]: r
        for _, r in con.sql(ORACLES["host_boilerplate_stats"]).df().iterrows()
    }

    def segments(text):
        ws = text.split(" ")
        return [
            " ".join(ws[i : i + SEG_WORDS])
            for i in range(0, len(ws), SEG_WORDS)
        ]

    per_host = {}
    for did, (s, t) in enumerate(rows):
        if did % 3 != 0:
            t = f"nav {s} footer {t}"
        st_ = per_host.setdefault(s, {"docs": 0, "occ": {}, "present": {}})
        st_["docs"] += 1
        for seg in segments(t):
            h = hashlib.md5(seg.encode()).hexdigest()
            st_["occ"][h] = st_["occ"].get(h, 0) + 1
            st_["present"].setdefault(h, set()).add(did)
    assert set(got) == set(per_host)
    for s, st_ in per_host.items():
        r = got[s]
        boiler = {
            h
            for h, dids in st_["present"].items()
            if len(dids) * BOILER_DEN >= st_["docs"] * BOILER_NUM
        }
        total_occ = sum(st_["occ"].values())
        boiler_occ = sum(st_["occ"][h] for h in boiler)
        sig = 0
        for h in boiler:
            sig ^= int(h[:15], 16)
        assert int(r["n_docs"]) == st_["docs"]
        assert int(r["n_spans"]) == len(st_["occ"])
        assert int(r["n_boiler"]) == len(boiler)
        assert abs(r["boiler_occ_share"] - round(boiler_occ / total_occ, 4)) <= 1e-4
        assert int(r["boiler_sig"]) == sig
