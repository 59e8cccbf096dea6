"""Deterministic synthetic Common-Crawl-style pages (FIXTURES.md §1).

``render_page_html(doc_id, text, lang)`` is a pure function of its
arguments — no wall clock, no RNG (doc_id drives every branch), so the
same documents table always yields byte-identical pages. The Spark
generator ``synthesize_pages`` vectorizes it with ``mapInPandas`` over
the driver-provided ``documents.parquet`` (TESTDATA.md) to honor the
"no external data / don't synthesize your own inputs" rule: the page
*payloads* are a deterministic function of the given documents.

Template corpus t01-t14 + PDF payloads p01-p03 (truncated/encrypted
variants only appear in unit tests) — each exercises one extractor
branch; the skewed host (~30% of rows) exercises salting (§1.1).
"""

from __future__ import annotations

import datetime as _dt

import pandas as pd

from ragflow_spark.sources.pdfgen import single_column_pdf, two_column_pdf

EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)
SKEWED_HOST = "big.example.com"
N_HOSTS = 50

_NAV = (
    '<nav class="main-nav"><ul><li><a href="/">Home</a></li>'
    '<li><a href="/about">About</a></li><li><a href="/contact">Contact</a></li>'
    "</ul></nav>"
)
_HEADER = '<header><div class="logo">Example Site</div>' + _NAV + "</header>"
_FOOTER = (
    '<footer><p>© 2026 Example. <a href="/terms">Terms</a> '
    '<a href="/privacy">Privacy</a></p></footer>'
)
_SIDEBAR = (
    '<div class="sidebar"><h3>Links</h3><ul>'
    + "".join(f'<li><a href="/t/{i}">Topic {i}</a></li>' for i in range(8))
    + "</ul></div>"
)
_COOKIE = (
    '<div id="cookie-banner">We use cookies. <a href="/cookies">Learn '
    "more</a> <button>Accept</button></div>"
)
_LINKFARM = (
    '<div class="partners"><ul>'
    + "".join(
        f'<li><a href="/p/{i}">Partner site number {i} link text</a></li>'
        for i in range(20)
    )
    + "</ul></div>"
)
_SCRIPTS = (
    "<script>var x = 1; function f(){return 'no content';}</script>"
    "<style>body{color:#333}.x{display:none}</style>"
    "<noscript>Enable JS</noscript><!-- comment node -->"
)


def _paragraphs(text: str, n: int = 6) -> list[str]:
    words = text.split()
    if not words:
        return ["empty document body"]
    per = max(8, len(words) // max(1, n))
    paras = [" ".join(words[i : i + per]) for i in range(0, len(words), per)]
    return paras[:n] if paras else ["empty document body"]


def _shell(body: str, charset: str = "utf-8", lang: str = "en") -> str:
    return (
        f'<!DOCTYPE html><html lang="{lang}"><head>'
        f'<meta charset="{charset}"><title>Synthetic page</title>'
        f"{_SCRIPTS}</head><body>{body}</body></html>"
    )


def render_page_html(doc_id: int, text: str, lang: str) -> bytes:
    """Pure deterministic page payload for one document."""
    t = doc_id % 20  # 14 html templates + pdf/encoding variants
    paras = _paragraphs(text)
    p_html = "".join(f"<p>{p}</p>" for p in paras)

    if t == 18:  # ~5%: single-column PDF payload
        return single_column_pdf(paras, header="Example Journal", footer="page 1")
    if t == 19:  # ~5%: two-column PDF payload
        half = max(1, len(paras) // 2)
        return two_column_pdf(paras[:half], paras[half:])

    if t == 0:  # t01_article: full boilerplate battery
        body = (
            _HEADER + _COOKIE
            + f"<article><h1>Document {doc_id}</h1>{p_html}</article>"
            + _SIDEBAR + _FOOTER
        )
    elif t == 1:  # t02_linkfarm
        body = f"<main><h1>Main {doc_id}</h1>{p_html}</main>" + _LINKFARM
    elif t == 2:  # t03_tables: data table kept, layout table dropped
        data_rows = "".join(
            f"<tr><td>row {i}</td><td>{len(paras[i % len(paras)])}</td></tr>"
            for i in range(4)
        )
        layout = (
            "<table><tr><td><a href='/x'>x</a></td><td><a href='/y'>y</a>"
            "</td></tr></table>"
        )
        body = (
            f"<main>{p_html}<table><tr><th>name</th><th>chars</th></tr>"
            f"{data_rows}</table>{layout}</main>"
        )
    elif t == 3:  # t04_script_style: extra inline noise
        body = f"<div>{_SCRIPTS}{p_html}{_SCRIPTS}</div>"
    elif t == 4:  # t05_entities
        body = f"<p>Fish &amp; chips &#x2603;&nbsp;snowman</p>{p_html}"
    elif t == 5:  # t13_whitespace
        messy = paras[0].replace(" ", "\t", 3)
        body = f"<p>  {messy} \r\n\r\n\r\n more text </p>{p_html}"
    elif t == 6:  # t06_charset_gbk
        return _shell(f"<p>中文内容 文档 {doc_id}</p>{p_html}", "gbk", "zh").encode(
            "gbk", "replace"
        )
    elif t == 7:  # t07_charset_lie: latin-1 bytes, utf-8 declared
        body = f"<p>café résumé naïve {doc_id}</p>{p_html}"
        # deterministic replace: arbitrary doc text may hold non-latin-1
        return _shell(body, "utf-8", "fr").encode("latin-1", "replace")
    elif t == 8:  # t08_malformed
        body = f"<div><p>open para {p_html}<p>another</div></span>{p_html}"
    elif t == 9:  # t09_empty
        return b"" if doc_id % 2 else _shell("").encode()
    elif t == 10:  # t10_huge_node
        body = f"<p>{' '.join(paras * 40)}</p>"
    elif t == 11:  # t11_headings -> book template
        secs = "".join(
            f"<h2>Chapter {i + 1}</h2><p>{p}</p>" for i, p in enumerate(paras)
        )
        body = f"<h1>Book {doc_id}</h1>{secs}"
    elif t == 12:  # t12_paperlike -> paper template
        body = (
            f"<h1>Paper {doc_id}</h1><h2>Abstract</h2><p>{paras[0]}</p>"
            + "".join(
                f"<h2>{i}. Section</h2><p>{p}</p>"
                for i, p in enumerate(paras[1:-1], 1)
            )
            + f"<h2>References</h2><p>[1] {paras[-1][:80]}</p>"
        )
    elif t == 13:  # t14_unicode_nfc: NFD input must normalize to NFC
        body = f"<p>déjà vu résumé</p>{p_html}"
    else:  # t in 14..17: plain article variants (bulk)
        body = _HEADER + f"<article>{p_html}</article>" + _FOOTER
    return _shell(body, "utf-8", lang).encode("utf-8")


def host_for(doc_id: int) -> str:
    if doc_id % 10 < 3:  # ~30% on one skewed host (FIXTURES.md §1)
        return SKEWED_HOST
    return f"site{doc_id % N_HOSTS:02d}.example.org"


def host_col(doc_id):
    """Column twin of ``host_for`` over an integer doc_id Column."""
    from pyspark.sql import functions as F

    return F.when(doc_id % 10 < 3, F.lit(SKEWED_HOST)).otherwise(
        F.concat(
            F.lit("site"),
            F.lpad((doc_id % N_HOSTS).cast("string"), 2, "0"),
            F.lit(".example.org"),
        )
    )


def url_for(doc_id: int) -> str:
    return f"https://{host_for(doc_id)}/doc-{doc_id}"


def render_pages_pdf(pdf: pd.DataFrame, text_tile: int = 1) -> pd.DataFrame:
    """pandas batch: documents columns -> pages columns (Arrow-safe).

    ``text_tile`` > 1 tiles each document's text before rendering so
    page payloads approach realistic Common-Crawl sizes (~50-100 kB)
    for throughput benchmarking; default 1 keeps the golden corpus
    byte-stable."""
    doc_ids = pdf["doc_id"].astype("int64")
    out = pd.DataFrame(
        {
            "url": [url_for(int(d)) for d in doc_ids],
            "warc_ts": [
                EPOCH + _dt.timedelta(seconds=int(d) * 137) for d in doc_ids
            ],
            "html": [
                render_page_html(
                    int(d),
                    (t if isinstance(t, str) else "") * text_tile,
                    l or "",
                )
                for d, t, l in zip(doc_ids, pdf["text"], pdf["lang"])
            ],
            "text": pdf["text"].astype("string"),
            "lang": pdf["lang"].astype("string"),
        }
    )
    return out


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def synthesize_pages(
    spark,
    sf_dir: str,
    repeat: int = 1,
    text_tile: int = 1,
    n_partitions: int | None = None,
):
    """documents.parquet -> deterministic pages DataFrame.

    ``repeat`` > 1 tiles the documents table with shifted doc_ids for
    bench-scale inputs without external data (ids stay unique);
    ``text_tile`` > 1 fattens each page toward realistic CC sizes.
    ``n_partitions`` repartitions the SEED docs (doc_id/text/lang, a
    few hundred bytes each) BEFORE rendering, so a single-file test
    scan doesn't serialize the render+extract on one core — the html
    payload itself is born post-shuffle and still never enters an
    Exchange. Default None keeps the plan exchange-free (the
    zero-shuffle extraction invariant is asserted on that path)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    if n_partitions:
        docs = docs.repartition(n_partitions)
    if repeat > 1:
        n = docs.count()
        reps = spark.range(repeat).select(F.col("id").alias("rep"))
        docs = (
            docs.crossJoin(reps)
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(n))
            .drop("rep")
        )
    return docs.mapInPandas(_render_iter(text_tile), schema=PAGES_SCHEMA)


def _render_iter(text_tile: int = 1):
    def it(batches):
        for pdf in batches:
            yield render_pages_pdf(pdf, text_tile)

    return it
