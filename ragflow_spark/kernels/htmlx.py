"""HTML DOM parse + tag/text-density boilerplate strip.

A from-scratch, readability/trafilatura-style main-content extractor
(BASELINE.json north_star) re-expressing the semantics the reference
gets from ``deepdoc.parser.HtmlParser`` — called as ``HtmlParser()(
None, response.content)`` and joined with "\\n" at reference
agent/component/invoke.py:92-94. That parser is NOT in the checkout
(SURVEY.md §0.2 [NOT IN CHECKOUT]), so the heuristics below are
specified here from scratch and pinned by our own fixtures
(FIXTURES.md: templates t01-t14).

Pipeline (document order only, no dict-order dependence):

  1. parse bytes -> lightweight DOM (fast_parse_dom — a from-scratch
     tokenizer differentially tested against stdlib html.parser;
     auto-close rules for p/li/tr/td/th/option; entities decoded by
     the parser)
  2. prune non-content subtrees (script/style/noscript/head/...)
  3. prune boilerplate subtrees: tag in {nav, aside, header, footer}
     or class/id matching the stop-word regex (cookie banner, sidebar,
     share bar, ...)
  4. text-density pruning: container blocks whose link density
     exceeds LINK_DENSITY_MAX with less than LINKY_TEXT_MIN chars of
     text are dropped (link farms, t02); tables with no <th>, high
     link density are layout tables and dropped (t03)
  5. emit sections: one per block-level element, normalized per
     FIXTURES.md §5.1 (NFC, \\n newlines, space-run collapse,
     <=2 consecutive newlines, per-section strip)

All thresholds are frozen named constants — fixture stability depends
on them (SURVEY.md §7.3.2).

Published basis for the density heuristics: Kohlschütter/Fankhauser/
Nejdl, "Boilerplate detection using shallow text features" (WSDM
2010) — link density + text length per block; the main-content
selection idea follows Arc90 Readability (public source) re-derived
as frozen deterministic rules.
"""

from __future__ import annotations

import re
import unicodedata
from html.parser import HTMLParser

from ragflow_spark.kernels.sniff import (
    CODE_EMPTY_PAYLOAD,
    CODE_HTML_PARSE_ERROR,
    CODE_OK,
    decode_payload,
)

# ---------------------------------------------------------------- DOM

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Subtrees that never contribute content.
DROP_TAGS = frozenset(
    "script style noscript template head iframe svg canvas object embed "
    "applet map button select option datalist textarea".split()
)

# Structural boilerplate by tag name alone.
BOILERPLATE_TAGS = frozenset("nav aside header footer".split())

# class/id stop-words (matched on word-ish boundaries, lowercase).
STOPWORD_RE = re.compile(
    r"(?:^|[\s_\-])(?:nav|navbar|menu|footer|header|sidebar|side-bar|banner|"
    r"cookie|consent|advert|ads?|promo|sponsor|social|share|sharing|"
    r"breadcrumbs?|comments?|related|widget|popup|modal|subscribe|newsletter)"
    r"(?:$|[\s_\-])"
)

BLOCK_TAGS = frozenset(
    "address article aside blockquote body dd details dir div dl dt fieldset "
    "figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr html li "
    "main menu nav ol p pre section summary table tbody td tfoot th thead tr "
    "ul".split()
)

HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

# <p> (and friends) implicitly close when one of these opens.
_P_CLOSERS = frozenset(
    "address article aside blockquote div dl fieldset figure footer form "
    "h1 h2 h3 h4 h5 h6 header hr main menu nav ol p pre section table ul".split()
)
# tag -> set of open tags it implicitly closes (HTML5 tree-builder lite).
_AUTOCLOSE = {
    "li": frozenset(["li"]),
    "tr": frozenset(["tr", "td", "th"]),
    "td": frozenset(["td", "th"]),
    "th": frozenset(["td", "th"]),
    "dt": frozenset(["dt", "dd"]),
    "dd": frozenset(["dt", "dd"]),
    "option": frozenset(["option"]),
}

# -------------------------------------------- density thresholds (frozen)

LINK_DENSITY_MAX = 0.50   # container above this is a link farm ...
NONLINK_TEXT_MIN = 200    # ... unless it carries this much non-link text
TABLE_LINK_DENSITY_MAX = 0.30  # layout-table cutoff when no <th>
TABLE_MIN_CELL_CHARS = 2       # cells shorter than this are layout glue


class Element:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict[str, str]):
        self.tag = tag
        self.attrs = attrs
        self.children: list[object] = []  # Element | str


_EMPTY_ATTRS: dict[str, str] = {}  # shared read-only (never mutated post-build)


def _dom_open(
    stack: list[Element],
    tag: str,
    attrs_list,
    # bound as defaults: global-lookup-free on the per-tag hot path
    _p_closers=_P_CLOSERS,
    _autoclose=_AUTOCLOSE,
    _void=VOID_TAGS,
) -> None:
    """Shared DOM action for a start tag (tag already lowercase;
    attribute names may arrive in any case — lowered here so the
    first-occurrence-wins rule matches stdlib html.parser, which
    lowers names before dispatching to the handler)."""
    if attrs_list:
        attrs = {}
        for k, v in attrs_list:
            k = k.lower()
            if k not in attrs:  # first occurrence wins, deterministic
                attrs[k] = v if v is not None else ""
    else:
        attrs = _EMPTY_ATTRS
    if len(stack) > 1:
        top = stack[-1].tag
        if top == "p" and tag in _p_closers:
            stack.pop()
        elif tag in _autoclose and top in _autoclose[tag]:
            stack.pop()
    el = Element(tag, attrs)
    stack[-1].children.append(el)
    if tag not in _void:
        stack.append(el)


def _dom_close(stack: list[Element], tag: str) -> None:
    """Shared DOM action for an end tag: close up to the nearest
    matching ancestor; stray end tags ignored (t08_malformed)."""
    for i in range(len(stack) - 1, 0, -1):
        if stack[i].tag == tag:
            del stack[i:]
            return


class _TreeBuilder(HTMLParser):
    """Tolerant DOM builder: stray end tags ignored, unclosed tags
    closed by ancestors, entities decoded (convert_charrefs=True is
    stdlib-stable and deterministic). Handles fixture t08_malformed.

    This is the REFERENCE implementation: the hot path uses
    fast_parse_dom below, and tests/test_fast_parser.py proves tree
    equality between the two on goldens, the synthetic corpus, and
    hypothesis fuzz."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("#root", {})
        self.stack: list[Element] = [self.root]

    # -- HTMLParser hooks
    def handle_starttag(self, tag: str, attrs) -> None:
        _dom_open(self.stack, tag.lower(), attrs)

    def handle_startendtag(self, tag: str, attrs) -> None:
        t = tag.lower()
        _dom_open(self.stack, t, attrs)
        if t not in VOID_TAGS:  # self-closing non-void: pop right back
            self.stack.pop()

    def handle_endtag(self, tag: str) -> None:
        _dom_close(self.stack, tag.lower())

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].children.append(data)


def parse_dom_reference(text: str) -> Element:
    """Stdlib-html.parser DOM build — the behavioral oracle for
    fast_parse_dom (differential-tested)."""
    b = _TreeBuilder()
    b.feed(text)
    b.close()
    return b.root


# --------------------------------------------- fast single-pass parser
#
# A from-scratch tokenizer reproducing the exact event stream of
# stdlib html.parser(convert_charrefs=True) for the whole-document
# (single feed + close) case, with the incremental-buffer machinery,
# per-event line/column tracking (updatepos counts newlines per event)
# and handler dispatch removed, and a one-regex fast path for the
# dominant attribute-less <tag> / </tag> forms. ~2.5-3x faster than
# html.parser on crawl pages. Tokenization rules ported from CPython
# 3.11 html/parser.py + _markupbase.py (public stdlib) — each branch
# below cites the behavior it mirrors.

from html import unescape as _unescape  # noqa: E402  (kernel-local)

_CDATA_ELEMS = ("script", "style")  # HTMLParser.CDATA_CONTENT_ELEMENTS
_FAST_ATTR_RE = re.compile(
    r"([a-zA-Z][^\s/=>]*)\s*=\s*(\"[^\"]*\"|'[^']*')"
)
# Master event scanner: ONE C-level match per token instead of a
# Python find + per-form match chain. lastindex dispatches:
#   1 text run   2 <tag>   5 <tag a="v"...[/]> ((/?) always
#   participates, so lastindex lands on it)   6 </tag>
#   7 <!--comment-->   8 <tag/> (attr-less self-closing)
# Any token it cannot match (exotic tag names, bare/valueless attrs,
# declarations, PIs, unterminated constructs, lone '<') falls through
# to the stdlib-mirror branch chain below, which stays byte-equal to
# html.parser by construction.
_MASTER_RE = re.compile(
    r"([^<]+)"
    r"|<([a-zA-Z][a-zA-Z0-9]*)\s*>"
    r"|<([a-zA-Z][a-zA-Z0-9]*)"
    r"((?:\s+[a-zA-Z][^\s/=>]*\s*=\s*(?:\"[^\"]*\"|'[^']*'))+)\s*(/?)>"
    r"|</([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|(<!--.*?--\s*>)"
    r"|<([a-zA-Z][a-zA-Z0-9]*)\s*/>",
    re.DOTALL,
)
_TAGFIND_RE = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND_RE = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_LOCATESTART_RE = re.compile(
    r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
    re.VERBOSE,
)
_ENDTAGFIND_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_COMMENTCLOSE_RE = re.compile(r"--\s*>")
_MARKEDCLOSE_RE = re.compile(r"]\s*]\s*>")
_MSMARKEDCLOSE_RE = re.compile(r"]\s*>")
_DECLNAME_RE = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_CDATA_CLOSE_RES = {
    e: re.compile(rf"</\s*{e}\s*>", re.IGNORECASE) for e in _CDATA_ELEMS
}
_ASCII_LETTERS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
)
_BOGUS_NEXT = frozenset("abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _decl_end(text: str, j: int) -> int:
    """'<!...' constructs: return end offset or -1 (incomplete at EOF).
    Mirrors HTMLParser.parse_html_declaration + _markupbase; raises
    AssertionError on unknown marked-section keywords exactly like the
    stdlib (extract_document maps it to CODE_INTERNAL either way)."""
    if text.startswith("<!--", j):  # parse_comment
        m = _COMMENTCLOSE_RE.search(text, j + 4)
        return m.end() if m else -1
    if text.startswith("<![", j):  # parse_marked_section
        if j + 3 == len(text):
            return -1  # _scan_name: i == n -> (None, -1)
        m = _DECLNAME_RE.match(text, j + 3)
        if not m:  # _scan_name raises on a non-name char
            raise AssertionError(
                "expected name token at %r" % text[j : j + 20]
            )
        if j + 3 + len(m.group()) == len(text):
            return -1  # _scan_name end-of-buffer
        name = m.group().strip().lower()
        if name in ("temp", "cdata", "ignore", "include", "rcdata"):
            close = _MARKEDCLOSE_RE.search(text, j + 3)
        elif name in ("if", "else", "endif"):
            close = _MSMARKEDCLOSE_RE.search(text, j + 3)
        else:
            raise AssertionError(
                "unknown status keyword %r in marked section"
                % text[j + 3 : j + 3 + len(m.group())]
            )
        return close.end() if close else -1
    if text[j : j + 9].lower() == "<!doctype":
        gtpos = text.find(">", j + 9)
        return -1 if gtpos == -1 else gtpos + 1
    pos = text.find(">", j + 2)  # parse_bogus_comment
    return -1 if pos == -1 else pos + 1


def _whole_start_tag_end(text: str, j: int) -> int:
    """HTMLParser.check_for_whole_start_tag, end-of-input == EOF."""
    m = _LOCATESTART_RE.match(text, j)
    k = m.end()
    nxt = text[k : k + 1]
    if nxt == ">":
        return k + 1
    if nxt == "/":
        # stdlib: '/>'-> k+2; else startswith('/') is always true ->
        # -1 ('buffer boundary' == EOF here; its bogus-input branch is
        # unreachable because the locater only stops at '/' before '>')
        return k + 2 if text.startswith("/>", k) else -1
    if nxt == "":
        return -1
    if nxt in _BOGUS_NEXT:
        return -1
    return k if k > j else j + 1


def fast_parse_dom(text: str) -> Element:
    root = Element("#root", {})
    stack = [root]
    n = len(text)
    i = 0
    cdata_elem = None  # inside <script>/<style>: raw data until close
    while i < n:
        if cdata_elem is not None:
            m = _CDATA_CLOSE_RES[cdata_elem].search(text, i)
            if not m:  # unterminated: goahead drops the tail
                return root
            if m.start() > i:
                stack[-1].children.append(text[i : m.start()])
            _dom_close(stack, cdata_elem)
            cdata_elem = None
            i = m.end()
            continue
        m = _MASTER_RE.match(text, i)
        if m is not None:
            li = m.lastindex
            if li == 1:  # text run (up to the next '<' or EOF)
                seg = m.group(1)
                if "&" in seg:
                    seg = _unescape(seg)
                if seg:  # unescape can yield '' (invalid charrefs drop)
                    stack[-1].children.append(seg)
                i = m.end()
                continue
            if li == 2:  # <tag> with no attributes
                tag = m.group(2).lower()
                _dom_open(stack, tag, ())
                if tag in _CDATA_ELEMS:
                    cdata_elem = tag
                i = m.end()
                continue
            if li == 5:  # <tag a="v" ...> all-quoted attributes
                tag = m.group(3).lower()
                attrs = []
                for am in _FAST_ATTR_RE.finditer(m.group(4)):
                    v = am.group(2)[1:-1]
                    if "&" in v:  # unescape is identity otherwise
                        v = _unescape(v)
                    attrs.append((am.group(1), v))
                _dom_open(stack, tag, attrs)
                if m.group(5):  # '/>': self-closing, pop right back
                    if tag not in VOID_TAGS:
                        stack.pop()
                elif tag in _CDATA_ELEMS:
                    cdata_elem = tag
                i = m.end()
                continue
            if li == 6:  # </tag>
                _dom_close(stack, m.group(6).lower())
                i = m.end()
                continue
            if li == 8:  # <tag/> attr-less self-closing (startendtag)
                tag = m.group(8).lower()
                _dom_open(stack, tag, ())
                if tag not in VOID_TAGS:
                    stack.pop()
                i = m.end()
                continue
            # li == 7: well-terminated comment — dropped
            i = m.end()
            continue
        # rare token at a '<' the master scanner cannot claim:
        # stdlib-mirror branch chain (byte-equal to html.parser)
        j = i
        c = text[j + 1 : j + 2]
        if c in _ASCII_LETTERS:  # starttagopen
            endpos = _whole_start_tag_end(text, j)
            if endpos < 0:
                k = -1
            else:  # parse_starttag body
                tm = _TAGFIND_RE.match(text, j + 1)
                tag = tm.group(1).lower()
                k2 = tm.end()
                attrs = []
                while k2 < endpos:
                    am = _ATTRFIND_RE.match(text, k2)
                    if not am:
                        break
                    attrname, rest, attrvalue = am.group(1, 2, 3)
                    if not rest:
                        attrvalue = None
                    elif (
                        attrvalue[:1] == "'" == attrvalue[-1:]
                        or attrvalue[:1] == '"' == attrvalue[-1:]
                    ):
                        attrvalue = attrvalue[1:-1]
                    if attrvalue:
                        attrvalue = _unescape(attrvalue)
                    attrs.append((attrname.lower(), attrvalue))
                    k2 = am.end()
                end = text[k2:endpos].strip()
                if end not in (">", "/>"):
                    stack[-1].children.append(text[j:endpos])
                    i = endpos
                    continue
                if end == "/>":  # handle_startendtag
                    _dom_open(stack, tag, attrs)
                    if tag not in VOID_TAGS:
                        stack.pop()
                else:
                    _dom_open(stack, tag, attrs)
                    if tag in _CDATA_ELEMS:
                        cdata_elem = tag
                i = endpos
                continue
        elif c == "/":
            # parse_endtag (non-CDATA branches only — CDATA handled
            # above; the plain </tag> form was claimed by the master
            # scanner, so only whitespace/bogus end-tag forms reach here)
            gt = text.find(">", j + 1)
            if gt < 0:
                k = -1
            else:
                gtpos = gt + 1
                em = _ENDTAGFIND_RE.match(text, j)
                if em:
                    _dom_close(stack, em.group(1).lower())
                    i = gtpos
                    continue
                nm = _TAGFIND_RE.match(text, j + 2)
                if not nm:
                    if text[j : j + 3] == "</>":
                        i = j + 3
                        continue
                    pos = text.find(">", j + 2)  # bogus comment
                    k = -1 if pos == -1 else pos + 1
                else:
                    tagname = nm.group(1).lower()
                    gtpos = text.find(">", nm.end())
                    _dom_close(stack, tagname)
                    i = gtpos + 1
                    continue
        elif text.startswith("<!--", j):
            m = _COMMENTCLOSE_RE.search(text, j + 4)
            k = m.end() if m else -1
        elif text.startswith("<?", j):
            pi = text.find(">", j + 2)
            k = -1 if pi == -1 else pi + 1
        elif text.startswith("<!", j):
            k = _decl_end(text, j)
        elif j + 1 < n:
            stack[-1].children.append("<")
            i = j + 1
            continue
        else:  # lone '<' at EOF -> trailing data flush
            stack[-1].children.append("<")
            return root
        if k < 0:  # incomplete at EOF: goahead(end=1) recovery
            k = text.find(">", j + 1)
            if k < 0:
                k = text.find("<", j + 1)
                if k < 0:
                    k = j + 1
            else:
                k += 1
            seg = text[j:k]
            if "&" in seg:
                seg = _unescape(seg)
            if seg:
                stack[-1].children.append(seg)
        i = k
    return root


def parse_dom(text: str) -> Element:
    return fast_parse_dom(text)


# ------------------------------------------------------------ pruning


def _class_id_blob(el: Element) -> str:
    return (el.attrs.get("class", "") + " " + el.attrs.get("id", "")).lower()


def _subtree_stats(el: Element, in_link: bool = False) -> tuple[int, int, bool]:
    """(text_chars, link_chars, has_th) over a subtree, skipping DROP_TAGS."""
    text = link = 0
    has_th = False
    for ch in el.children:
        if isinstance(ch, str):
            n = len(ch.strip())
            text += n
            if in_link:
                link += n
        else:
            if ch.tag in DROP_TAGS:
                continue
            t, l, h = _subtree_stats(ch, in_link or ch.tag == "a")
            text += t
            link += l
            has_th = has_th or h or ch.tag == "th"
    return text, link, has_th


def _is_boilerplate(el: Element) -> bool:
    if el.tag in BOILERPLATE_TAGS:
        return True
    blob = _class_id_blob(el)
    if blob and STOPWORD_RE.search(" " + blob + " "):
        return True
    return False


def _is_layout_table(el: Element) -> bool:
    text, link, has_th = _subtree_stats(el)
    if has_th:
        return False
    if text == 0:
        return True
    if link / text > TABLE_LINK_DENSITY_MAX:
        return True
    return False


def _is_link_farm(el: Element) -> bool:
    text, link, _ = _subtree_stats(el)
    if text == 0:
        return False
    return (link / text > LINK_DENSITY_MAX) and (text - link) < NONLINK_TEXT_MIN


# containers eligible for link-density pruning
_DENSITY_TAGS = frozenset("div section ul ol dl menu".split())


def prune(el: Element) -> None:
    """In-place removal of non-content / boilerplate / linky subtrees.

    Document-order traversal only (FIXTURES.md §5.4).
    """
    kept: list[object] = []
    for ch in el.children:
        if isinstance(ch, str):
            kept.append(ch)
            continue
        if ch.tag in DROP_TAGS:
            continue
        if _is_boilerplate(ch):
            continue
        if ch.tag == "table" and _is_layout_table(ch):
            continue
        if ch.tag in _DENSITY_TAGS and _is_link_farm(ch):
            continue
        prune(ch)
        kept.append(ch)
    el.children = kept


# ----------------------------------------------------------- sectioning

# Full non-\n whitespace class: ASCII blanks + FS/GS/RS/US separators,
# NEL, NBSP, Ogham mark, en/em/thin/etc spaces (U+2000-U+200A), ZWSP,
# LS/PS, MMSP, ideographic space — a superset of Python's str.strip()
# whitespace minus \n.  Anything here collapses to one ASCII space, so
# the ' ?\n ?' line-edge strip below sees every whitespace flavor
# (U+3000 around newlines in CJK pages included) — equivalent to a
# per-line .strip().
# Only runs that actually CHANGE match (2+ chars, or one non-space
# whitespace char): a single ASCII space maps to itself, and typical
# text is single-spaced, so matching it too made every space a sub
# match. Equivalent to the plain [class]+ collapse by construction.
_WS_NONSPACE = (
    "\\t\\f\\v\\x1c-\\x1f\\x85\\u00a0\\u1680\\u2000-\\u200b"
    "\\u2028\\u2029\\u202f\\u205f\\u3000"
)
_WS_RUN_RE = re.compile(
    "[ " + _WS_NONSPACE + "]{2,}|[" + _WS_NONSPACE + "]"
)
_NL_RUN_RE = re.compile(r"\n{3,}")
_SPACE_NL_RE = re.compile(r" ?\n ?")


def _nothing_to_collapse(s: str) -> bool:
    """True when _WS_RUN_RE provably has no match in `s`: an ASCII
    string can only match through "  " or an ASCII member of
    _WS_NONSPACE (\\t \\f \\v \\x1c-\\x1f). Each `in` is a memchr-speed
    scan: ~20x cheaper than the no-op sub over a huge single node
    (t10) of single-spaced text, and cheaper on short sections too."""
    return (
        s.isascii()
        and "  " not in s
        and "\t" not in s
        and "\f" not in s
        and "\v" not in s
        and "\x1c" not in s
        and "\x1d" not in s
        and "\x1e" not in s
        and "\x1f" not in s
    )


def normalize_text(s: str) -> str:
    """FIXTURES.md §5.1: NFC; \\n newlines; collapse runs of non-\\n
    Unicode whitespace to one space; <=2 consecutive newlines; strip
    each line; strip the whole.

    Per-line stripping is one regex sub: because _WS_RUN_RE covers the
    whole non-\\n whitespace class, after the collapse a line has at
    most ONE (ASCII) space at each edge, so ' ?\\n ?' -> '\\n' equals
    stripping every line (property-tested idempotence + invariants in
    tests/test_properties.py)."""
    s = unicodedata.normalize("NFC", s)
    if "\r" in s:
        s = s.replace("\r\n", "\n").replace("\r", "\n")
    if not _nothing_to_collapse(s):
        s = _WS_RUN_RE.sub(" ", s)
    # most sections are single-line: the two newline regexes can only
    # match when a newline exists at all, and `in` is ~10x cheaper
    # than a no-match regex scan
    if "\n" in s:
        s = _SPACE_NL_RE.sub("\n", s)
        s = _NL_RUN_RE.sub("\n\n", s)
    return s.strip()


# kinds carried alongside each section so the chunkers (chunk.py) can
# see structure without re-parsing: 'h1'..'h6' | 'p' | 'li' | 'row' | 'pre'
_LEAFY_BLOCKS = HEADING_TAGS | frozenset(["p", "li", "pre", "blockquote", "figcaption", "dt", "dd"])


def _inline_text(el: Element, parts: list[str]) -> None:
    for ch in el.children:
        if isinstance(ch, str):
            parts.append(ch)
        elif ch.tag == "br":
            parts.append("\n")
        elif ch.tag in BLOCK_TAGS:
            # nested block inside a leafy block (t08): treat as break
            parts.append("\n")
            _inline_text(ch, parts)
        else:
            _inline_text(ch, parts)


def _row_text(tr: Element) -> str:
    cells = []
    for ch in tr.children:
        if isinstance(ch, Element) and ch.tag in ("td", "th"):
            parts: list[str] = []
            _inline_text(ch, parts)
            cells.append(normalize_text("".join(parts)).replace("\n", " "))
    return "\t".join(cells).strip("\t")


def _emit_sections(el: Element, out: list[tuple[str, str]]) -> None:
    """Walk the pruned tree; emit (kind, text) per block in doc order."""
    pending: list[str] = []

    def flush() -> None:
        if pending:
            txt = normalize_text("".join(pending))
            pending.clear()
            if txt:
                out.append(("p", txt))

    for ch in el.children:
        if isinstance(ch, str):
            pending.append(ch)
            continue
        tag = ch.tag
        if tag == "br":
            pending.append("\n")
            continue
        if tag == "tr":
            flush()
            row = _row_text(ch)
            if row:
                out.append(("row", row))
            continue
        if tag in _LEAFY_BLOCKS:
            flush()
            parts: list[str] = []
            _inline_text(ch, parts)
            txt = normalize_text("".join(parts))
            if txt:
                kind = tag if tag in HEADING_TAGS else ("pre" if tag == "pre" else ("li" if tag == "li" else "p"))
                out.append((kind, txt))
            continue
        if tag in BLOCK_TAGS:
            flush()
            _emit_sections(ch, out)
            continue
        # inline element at container level: part of the running text
        parts2: list[str] = []
        _inline_text(ch, parts2)
        pending.append("".join(parts2))
    flush()


def html_extract(data: bytes) -> tuple[list[tuple[str, str]], int, str]:
    """bytes -> (sections [(kind, text)], parse_code, encoding).

    Error-as-row: never raises (reference convention, SURVEY.md §2.4);
    failures return empty sections + a failure code.
    """
    if not data or not bytes(data).strip():
        return [], CODE_EMPTY_PAYLOAD, ""
    try:
        text, enc = decode_payload(bytes(data))
        root = parse_dom(text)
        prune(root)
        sections: list[tuple[str, str]] = []
        _emit_sections(root, sections)
        if not sections:
            # parseable but empty body (t09)
            return [], CODE_EMPTY_PAYLOAD, enc
        return sections, CODE_OK, enc
    except Exception:
        return [], CODE_HTML_PARSE_ERROR, ""
