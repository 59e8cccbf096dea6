"""JSONL pages source: round-trip byte-exactness and extractor parity."""

from __future__ import annotations


def test_jsonl_round_trip_and_extraction_parity(spark, sf_dir, tmp_path):
    from ragflow_spark.plans.pipeline import assign_splits, extract_pages
    from ragflow_spark.sources.jsonl import read_jsonl_pages, write_jsonl_pages
    from ragflow_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, sf_dir)
    out = str(tmp_path / "dump")
    write_jsonl_pages(pages, out)
    back = read_jsonl_pages(spark, out)

    a = {
        r.url: (None if r.html is None else bytes(r.html), r.text, r.lang, r.warc_ts)
        for r in pages.collect()
    }
    b = {
        r.url: (None if r.html is None else bytes(r.html), r.text, r.lang, r.warc_ts)
        for r in back.collect()
    }
    assert a == b, "JSONL round trip must be byte-exact on html"

    # and the extractor consumes the JSONL-sourced table identically
    ex = extract_pages(assign_splits(back, 8, 4, None))
    ex0 = extract_pages(assign_splits(pages, 8, 4, None))
    ta = {r.url: r.extracted_text for r in ex.select("url", "extracted_text").collect()}
    tb = {r.url: r.extracted_text for r in ex0.select("url", "extracted_text").collect()}
    assert ta == tb


def test_jsonl_edge_values_round_trip(spark, tmp_path):
    """ADVICE r3: null html must stay null (not become b'') and
    sub-second warc_ts must keep its fraction through the dump."""
    import datetime as dt

    from ragflow_spark.sources.jsonl import read_jsonl_pages, write_jsonl_pages

    rows = [
        (
            "https://a.example/x",
            dt.datetime(2024, 5, 1, 12, 34, 56, 123456),
            b"<html>hi</html>",
            "hi",
            "en",
        ),
        ("https://a.example/null-html", dt.datetime(2024, 5, 1), None, "t", "en"),
        ("https://a.example/empty-html", dt.datetime(2024, 5, 1), b"", "", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = str(tmp_path / "edge")
    write_jsonl_pages(pages, out)
    back = {
        r.url: (None if r.html is None else bytes(r.html), r.warc_ts)
        for r in read_jsonl_pages(spark, out).collect()
    }
    assert back["https://a.example/x"] == (
        b"<html>hi</html>",
        dt.datetime(2024, 5, 1, 12, 34, 56, 123456),
    )
    assert back["https://a.example/null-html"] == (None, dt.datetime(2024, 5, 1))
    assert back["https://a.example/empty-html"] == (b"", dt.datetime(2024, 5, 1))


def test_null_url_page_becomes_coded_row(spark):
    """A malformed jsonl line reaches the pipeline as a null-url,
    null-html page. The declared output schema must accept it, so it
    leaves as one coded failure row, not a task failure."""
    from ragflow_spark.kernels.sniff import CODE_EMPTY_PAYLOAD
    from ragflow_spark.plans.pipeline import assign_splits, extract_pages

    pages = spark.createDataFrame(
        [(None, None, None, None, None)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    rows = extract_pages(assign_splits(pages, 8, 4, None)).collect()
    assert [(r.url, r.parse_status, r.parse_code) for r in rows] == [
        (None, "failed", CODE_EMPTY_PAYLOAD)
    ]
