"""Pure-Python deterministic extraction kernels.

These are the "product" (SURVEY.md §7.2): each kernel is a pure
function ``bytes/str -> value`` with zero Spark dependencies, so it is
unit-testable without a JVM and callable from Arrow-batched pandas UDFs
(BASELINE.json input_hint: "vectorized pandas/Arrow UDFs, no per-row
Python UDFs" — vectorization happens at the UDF layer; the kernels are
the per-value payload run inside each Arrow batch).

Determinism rules (FIXTURES.md §5) are enforced here:
Unicode NFC, \n newlines, space-run collapse, bounded blank lines,
stdlib-only parsing (no chardet, no lxml), no wall-clock, no dict-order
dependence.
"""

from ragflow_spark.kernels.sniff import (  # noqa: F401
    CODE_OK,
    CODE_EMPTY_PAYLOAD,
    CODE_ENCODING_UNDETECTABLE,
    CODE_HTML_PARSE_ERROR,
    CODE_PDF_TRUNCATED,
    CODE_PDF_ENCRYPTED,
    CODE_PDF_LAYOUT_ERROR,
    CODE_UNKNOWN_PAYLOAD,
    CODE_INTERNAL,
    sniff_payload,
    decode_payload,
)
from ragflow_spark.kernels.htmlx import html_extract  # noqa: F401
from ragflow_spark.kernels.pdfx import pdf_extract  # noqa: F401
from ragflow_spark.kernels.chunk import (  # noqa: F401
    chunk_naive,
    choose_template,
    num_tokens,
)
from ragflow_spark.kernels.extract import extract_document  # noqa: F401
