"""Chunking templates: naive / book / paper.

Re-expressed from scratch (the reference's ``rag/app/{naive,book,
paper}.py`` chunkers are NOT in the checkout — SURVEY.md §0.2
[NOT IN CHECKOUT]); semantics follow public RAGFlow docs: split the
extracted sections into chunks under a token budget, `book` respecting
heading hierarchy, `paper` respecting abstract/body/references
structure. Spans are exact: every chunk is ``text[char_start:
char_end]``, spans tile ``[0, len(text))`` without overlap or gaps
(FIXTURES.md §2 invariants), so chunking = computing cut points only.

Token counting is a whitespace + BPE-ish regex count (BASELINE round
instructions): one token per word-ish run, per CJK char, per
punctuation glyph. Deterministic, dependency-free.

Performance: the interpreter does work per piece and per chunk, never
per token. Token counts per chunk are ACCUMULATED while pieces are
merged (counts are additive because cut points never split a token —
they fall only after punctuation/whitespace or at token ends), so each
piece is counted once, not once per piece plus once per final chunk.
Counting and splitting both use one pattern, _n_tokens_re(n), that
matches exactly n tokens in ONE regex match: num_tokens advances
_COUNT_BLOCK tokens per match, and a piece too large for one chunk (a
single huge node, t10: ~10^5 tokens) is hard-split by one match per
chunk, after a single bounded match decides the split is needed at
all. No Match or str object is built per token. ``tests/test_properties.py`` pins the
accumulated-equals-rescanned equivalence and checks num_tokens, the
hard split and the bounded probe against per-token references.
"""

from __future__ import annotations

import re
from bisect import bisect_left
from functools import lru_cache

DEFAULT_TOKEN_BUDGET = 256

# word runs (with an apostrophe suffix) | any other non-space char, one
# token each (a CJK char, a punctuation glyph). The two alternatives
# start on disjoint chars and the quantifiers are possessive (`++`,
# `?+`; nothing after them can fail, so findall finds the same tokens
# as with greedy ones): a token has exactly one way to match, so a
# repeat of this pattern (_n_tokens_re) can neither split a word run
# into more tokens nor backtrack at all.
_TOKEN_RE = re.compile(r"[A-Za-z0-9_]++(?:'[a-z]+)?+|[^\sA-Za-z0-9_]")

# sentence-ish boundaries the naive splitter prefers (reference's
# delimiter-driven splitting, agent/component/iteration.py:27 pattern,
# generalized to text): newline, CJK & latin terminals.
_SENT_BOUND_RE = re.compile(r"[\n。；！？!?;.]")

# (char_start, char_end, token_count) — internal span representation
Span3 = tuple[int, int, int]


_COUNT_BLOCK = 32  # tokens per regex match in num_tokens


def num_tokens(s: str, pos: int = 0) -> int:
    """Tokens in s[pos:]: one regex match per _COUNT_BLOCK tokens, then
    one match each for 16, 8, ..., 1 tokens (a binary descent over the
    remainder) — no Match or str object per token."""
    n = 0
    block = _n_tokens_re(_COUNT_BLOCK).match
    while (m := block(s, pos)) is not None:
        n += _COUNT_BLOCK
        pos = m.end()
    k = _COUNT_BLOCK
    while k > 1:
        k >>= 1
        if (m := _n_tokens_re(k).match(s, pos)) is not None:
            n += k
            pos = m.end()
    return n


def tokenize(text: str) -> tuple[list[int], list[int]]:
    """(starts, ends) offset arrays — the per-token reference tests
    check num_tokens, the hard split and the additive-count invariant
    against."""
    starts: list[int] = []
    ends: list[int] = []
    for m in _TOKEN_RE.finditer(text):
        starts.append(m.start())
        ends.append(m.end())
    return starts, ends


def count_tokens_between(starts: list[int], a: int, b: int) -> int:
    return bisect_left(starts, b) - bisect_left(starts, a)


def _cut_points(text: str) -> list[int]:
    """Candidate cut offsets (exclusive end positions), ascending:
    after each sentence boundary run; always len(text) last."""
    cuts = []
    last = -1
    for m in _SENT_BOUND_RE.finditer(text):
        end = m.end()
        # extend over trailing whitespace so the next chunk starts clean
        while end < len(text) and text[end] in " \t":
            end += 1
        if end != last:
            cuts.append(end)
            last = end
    if not cuts or cuts[-1] != len(text):
        cuts.append(len(text))
    return cuts


def _spans_for_segment(
    text: str, seg_start: int, seg_end: int, budget: int
) -> list[Span3]:
    """Greedy merge of sentence pieces in text[seg_start:seg_end] into
    spans of <= budget tokens (a single over-budget sentence becomes
    its own chunk — never split inside a sentence unless it alone
    exceeds 2x budget, then hard-split on token boundaries). Token
    counts accumulate with the merge — no re-scan per span."""
    seg = text[seg_start:seg_end]
    if not seg:
        return []
    spans: list[Span3] = []
    start = 0
    tok_count = 0
    prev_cut = 0
    for cut in _cut_points(seg):
        piece = seg[prev_cut:cut]
        # Huge piece (t10_huge_node): a BOUNDED probe (one match of
        # 2*budget+1 tokens) decides hard-split without a full count —
        # an exact count of a 500 kB node would be a second full regex
        # scan whose result is never used again after the split.
        if (
            cut - prev_cut >= _BIG_PIECE_CHARS
            and _n_tokens_re(2 * budget + 1).match(piece) is not None
        ):
            # pt > 2*budget exactly; close any open span, then split.
            # (When tok_count > 0 the original close-if-over-budget
            # branch always fired here since pt > budget, and start <
            # prev_cut holds whenever anything accumulated — the two
            # paths collapse to this one condition.)
            if start < prev_cut:
                spans.append((start, prev_cut, tok_count))
            spans.extend(
                (prev_cut + a, prev_cut + b, n)
                for a, b, n in _hard_split(piece, budget)
            )
            start = cut
            tok_count = 0
            prev_cut = cut
            continue
        pt = num_tokens(piece)
        if tok_count > 0 and tok_count + pt > budget:
            spans.append((start, prev_cut, tok_count))
            start = prev_cut
            tok_count = 0
        if pt > 2 * budget:
            # token-dense small piece: same hard split
            if start < prev_cut:
                spans.append((start, prev_cut, tok_count))
            spans.extend(
                (prev_cut + a, prev_cut + b, n)
                for a, b, n in _hard_split(piece, budget)
            )
            start = cut
            tok_count = 0
        else:
            tok_count += pt
        prev_cut = cut
    if start < len(seg):
        spans.append((start, len(seg), tok_count))
    return [
        (seg_start + a, seg_start + b, n) for a, b, n in spans if a < b
    ]


_BIG_PIECE_CHARS = 4096  # pieces above this use the bounded-probe path


@lru_cache(maxsize=128)
def _n_tokens_re(n: int) -> re.Pattern:
    """Matches exactly `n` tokens (each after its leading whitespace)
    from the match position, and fails when fewer are left.

    Exact, because each repetition has only one way to match: every
    non-whitespace char starts a _TOKEN_RE match, so what finditer
    skips between tokens is exactly the whitespace run `\\s*+` takes,
    and a _TOKEN_RE match has one way to match (see there). So the
    match ends where finditer's n-th token ends, in linear time. The
    possessive `{n}+` only spares the engine its backtracking state.
    Possessive quantifiers need Python >= 3.11."""
    if n < 1:  # `{0}` would match empty and never advance
        raise ValueError(f"token count must be >= 1, got {n}")
    return re.compile(r"(?:\s*+(?:%s)){%d}+" % (_TOKEN_RE.pattern, n))


def _hard_split(piece: str, budget: int) -> list[Span3]:
    """Cut after every `budget`-th token end, ONE regex match per chunk
    (a 500 kB single node (t10) has ~10^5 tokens but only ~400 chunks,
    so no per-token Match object or Python step); only the sub-budget
    tail is counted. The chunk pattern (_n_tokens_re) ends exactly
    where finditer's `budget`-th token ends, and fails — rather than
    splitting a word run to make up the number — when fewer than
    `budget` tokens are left."""
    spans: list[Span3] = []
    start = 0
    chunk = _n_tokens_re(budget).match
    while (m := chunk(piece, start)) is not None:
        spans.append((start, m.end(), budget))
        start = m.end()
    if start < len(piece):
        # pos=start avoids copying the suffix; the pattern has no
        # anchors/lookbehind, so pos semantics equal slicing
        spans.append((start, len(piece), num_tokens(piece, start)))
    return spans


def _section_offsets(text: str, section_texts: list[str]) -> list[tuple[int, int]]:
    """Char offsets of each section inside the joined text.

    The pipeline builds ``text = '\\n'.join(section_texts)`` so offsets
    are arithmetic, no searching."""
    offs = []
    pos = 0
    for s in section_texts:
        offs.append((pos, pos + len(s)))
        pos += len(s) + 1  # the '\n' separator
    return offs


_HEADING_LEVEL = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
BOOK_SPLIT_LEVEL = 2  # new unit at h1/h2


def _book_spans3(
    text: str,
    section_kinds: list[str],
    section_texts: list[str],
    budget: int,
) -> list[Span3]:
    offs = _section_offsets(text, section_texts)
    unit_starts = [0]
    for kind, (s, _e) in zip(section_kinds, offs):
        lvl = _HEADING_LEVEL.get(kind)
        if lvl is not None and lvl <= BOOK_SPLIT_LEVEL and s > 0:
            unit_starts.append(s)
    unit_starts = sorted(set(unit_starts))
    spans: list[Span3] = []
    for i, us in enumerate(unit_starts):
        ue = unit_starts[i + 1] if i + 1 < len(unit_starts) else len(text)
        spans.extend(_spans_for_segment(text, us, ue, budget))
    return spans


_ABSTRACT_RE = re.compile(r"^\s*abstract\b", re.IGNORECASE)
_REFERENCES_RE = re.compile(r"^\s*(references|bibliography)\b", re.IGNORECASE)


def _paper_spans3(
    text: str,
    section_kinds: list[str],
    section_texts: list[str],
    budget: int,
) -> list[Span3]:
    """Paper-aware: abstract is one chunk; references are one chunk;
    body is budget-chunked with heading-aligned unit starts."""
    offs = _section_offsets(text, section_texts)
    abstract_span = None
    refs_start = None
    heading_starts = []
    for kind, txt, (s, e) in zip(section_kinds, section_texts, offs):
        if kind in _HEADING_LEVEL:
            if abstract_span is None and _ABSTRACT_RE.match(txt):
                # abstract = heading + following sections up to next heading
                abstract_span = [s, e]
            elif refs_start is None and _REFERENCES_RE.match(txt):
                refs_start = s
            heading_starts.append(s)
        elif abstract_span is not None and abstract_span[1] + 1 == s and refs_start is None:
            # non-heading section directly continuing the abstract block
            if not heading_starts or heading_starts[-1] <= abstract_span[0]:
                abstract_span[1] = e
    spans: list[Span3] = []
    body_start = 0
    body_end = len(text)
    if abstract_span is not None and abstract_span[0] == 0:
        a, b = 0, min(abstract_span[1], len(text))
        spans.append((a, b, num_tokens(text[a:b])))
        body_start = abstract_span[1] + 1 if abstract_span[1] < len(text) else len(text)
    if refs_start is not None and refs_start > body_start:
        body_end = max(body_start, refs_start - 1)
    # body: unit starts at headings inside (body_start, body_end)
    unit_starts = [body_start] + [
        s for s in heading_starts if body_start < s < body_end
    ]
    unit_starts = sorted(set(unit_starts))
    for i, us in enumerate(unit_starts):
        ue = unit_starts[i + 1] if i + 1 < len(unit_starts) else body_end
        spans.extend(_spans_for_segment(text, us, min(ue, body_end), budget))
    if refs_start is not None and refs_start < len(text):
        spans.append((refs_start, len(text), num_tokens(text[refs_start:])))
    return spans


def _tile3(spans: list[Span3], n: int) -> list[Span3]:
    """Extend each span to touch the next (separators belong to the
    preceding chunk) and clamp to [0, n). Any span whose bounds move
    gets its accumulated token count invalidated (-1, recomputed by
    chunk_spans_with_counts): extensions normally cover only separator
    whitespace, but the leading/trailing clamps can swallow real text
    and the recompute is cheap and rare (segment boundaries only —
    spans inside a segment tile exactly and keep their counts)."""
    spans = sorted((a, b, c) for a, b, c in spans if a < b)
    out: list[Span3] = []
    for i, (a, b, c) in enumerate(spans):
        nxt = spans[i + 1][0] if i + 1 < len(spans) else n
        if i == 0 and a > 0:
            a = 0
            c = -1  # leading extension may cover tokens; recompute
        if b < nxt:
            b2 = max(b, min(nxt, n))
            if b2 != b:
                b = b2
                c = -1  # gap extension may cover tokens; recompute
        out.append((a, b, c))
    fixed: list[Span3] = []
    for a, b, c in out:
        if fixed and a < fixed[-1][1]:
            a = fixed[-1][1]
            c = -1  # count invalidated by the merge adjustment
        if a < b:
            fixed.append((a, b, c))
    if fixed and fixed[-1][1] < n:
        a, _b, _c = fixed[-1]
        fixed[-1] = (a, n, -1)  # trailing extension; recompute
    return fixed


def _spans3(
    template: str,
    text: str,
    section_kinds: list[str],
    section_texts: list[str],
    budget: int,
) -> list[Span3]:
    if not text:
        return []
    if template == "book":
        spans = _book_spans3(text, section_kinds, section_texts, budget)
    elif template == "paper":
        spans = _paper_spans3(text, section_kinds, section_texts, budget)
    else:
        spans = _spans_for_segment(text, 0, len(text), budget)
    return _tile3(spans, len(text))


def chunk_spans_with_counts(
    template: str,
    text: str,
    section_kinds: list[str],
    section_texts: list[str],
    budget: int = DEFAULT_TOKEN_BUDGET,
) -> list[Span3]:
    """(char_start, char_end, token_count) per chunk — counts
    accumulated during the merge (one counting scan of the text
    total); a count invalidated by tiling (-1) is recomputed."""
    out = []
    for a, b, c in _spans3(template, text, section_kinds, section_texts, budget):
        if c < 0:
            c = num_tokens(text[a:b])
        out.append((a, b, c))
    return out


# ---- public span-only wrappers (tests + external callers) ----


def chunk_naive(
    text: str,
    budget: int = DEFAULT_TOKEN_BUDGET,
) -> list[tuple[int, int]]:
    """Flat token-budget chunking over the whole text."""
    return [(a, b) for a, b, _c in _tile3(
        _spans_for_segment(text, 0, len(text), budget), len(text)
    )] if text else []


PAPER_MIN_HEADINGS = 1
BOOK_MIN_HEADINGS = 3


def choose_template(section_kinds: list[str], section_texts: list[str]) -> str:
    """Deterministic template choice: 'paper' if an Abstract heading
    exists, 'book' if >= BOOK_MIN_HEADINGS headings, else 'naive'."""
    headings = [
        t for k, t in zip(section_kinds, section_texts) if k in _HEADING_LEVEL
    ]
    if any(_ABSTRACT_RE.match(t) for t in headings):
        return "paper"
    if len(headings) >= BOOK_MIN_HEADINGS:
        return "book"
    return "naive"


def chunk_spans(
    template: str,
    text: str,
    section_kinds: list[str],
    section_texts: list[str],
    budget: int = DEFAULT_TOKEN_BUDGET,
) -> list[tuple[int, int]]:
    return [
        (a, b)
        for a, b, _c in _spans3(template, text, section_kinds, section_texts, budget)
    ]
