"""Single-core kernel stage timing in the benchmark process.

Calls the public kernel functions one stage at a time over a fixed
sample of payloads. Each stage is reported as milliseconds per sampled
document (documents that never reach a stage add 0 to it), so the
stages add up to about ``extract_document``. ``emit`` is what
``html_extract`` spends beyond decode + DOM parse + prune.
"""

from __future__ import annotations

import time

import pandas as pd

from ragflow_spark.kernels.chunk import (
    DEFAULT_TOKEN_BUDGET,
    choose_template,
    chunk_spans_with_counts,
)
from ragflow_spark.kernels.extract import extract_document
from ragflow_spark.kernels.htmlx import html_extract, parse_dom, prune
from ragflow_spark.kernels.pdfx import pdf_extract
from ragflow_spark.kernels.sniff import CODE_OK, decode_payload, sniff_payload
from ragflow_spark.plans.pipeline import _extract_batches

STAGES = (
    "sniff", "decode", "parse_dom", "prune", "emit", "pdf_extract",
    "choose_template", "chunk", "extract_document",
)


def stage_ms_per_doc(payloads: list[bytes]) -> dict[str, float]:
    tot = dict.fromkeys(STAGES, 0.0)
    clock = time.perf_counter
    for p in payloads:
        t = clock()
        kind = sniff_payload(p)
        tot["sniff"] += clock() - t
        sections, code = [], None
        if kind == "html":
            t = clock()
            text, _enc = decode_payload(bytes(p))
            t_dec = clock() - t
            t = clock()
            root = parse_dom(text)
            t_parse = clock() - t
            t = clock()
            prune(root)
            t_prune = clock() - t
            t = clock()
            sections, code, _enc = html_extract(p)
            t_html = clock() - t
            tot["decode"] += t_dec
            tot["parse_dom"] += t_parse
            tot["prune"] += t_prune
            tot["emit"] += t_html - t_dec - t_parse - t_prune
        elif kind == "pdf":
            t = clock()
            sections, code = pdf_extract(p)
            tot["pdf_extract"] += clock() - t
        if code == CODE_OK and sections:
            kinds = [k for k, _ in sections]
            texts = [s for _, s in sections]
            joined = "\n".join(texts)
            t = clock()
            tpl = choose_template(kinds, texts)
            tot["choose_template"] += clock() - t
            t = clock()
            chunk_spans_with_counts(tpl, joined, kinds, texts, DEFAULT_TOKEN_BUDGET)
            tot["chunk"] += clock() - t
        t = clock()
        extract_document(p)
        tot["extract_document"] += clock() - t
    n = max(1, len(payloads))
    return {k: v * 1000.0 / n for k, v in tot.items()}


def assemble_ms_per_doc(rows: pd.DataFrame) -> float:
    """Time of the pipeline's batch function beyond the summed
    ``extract_document`` time it records per row, per document."""
    fn = _extract_batches(DEFAULT_TOKEN_BUDGET)
    t = time.perf_counter()
    out = pd.concat(list(fn(iter([rows]))))
    total_ms = (time.perf_counter() - t) * 1000.0
    return (total_ms - float(out["extract_ms"].sum())) / max(1, len(rows))
