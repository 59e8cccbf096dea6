"""Explicit StructTypes for the extraction output (SURVEY.md §1.2):
``EXTRACTED`` is the row format ``extract_pages`` returns, with its
chunks as an array of ``CHUNK``. The pages schema lives beside its
generator (``sources.pages.PAGES_SCHEMA``); the metrics rows take
their types from ``plans.pipeline.metrics_for``.

The reference is schemaless pandas (object dtype everywhere,
reference agent/component/base.py:385-407); we pin columnar schemas —
nested chunks as ArrayType(StructType), failure codes as MapType —
instead of the reference's JSON-in-string convention (SURVEY.md §1.1).
"""

from pyspark.sql import types as T

CHUNK = T.StructType(
    [
        T.StructField("chunk_id", T.IntegerType(), False),
        T.StructField("template", T.StringType(), False),
        T.StructField("chunk_text", T.StringType(), False),
        T.StructField("char_start", T.IntegerType(), False),
        T.StructField("char_end", T.IntegerType(), False),
        T.StructField("token_count", T.IntegerType(), False),
    ]
)

# The row format extract_pages returns (its mapInPandas schema). Spark
# enforces non-nullability at run time, so url stays nullable: malformed
# jsonl lines arrive as null-url pages and must leave as coded rows.
EXTRACTED = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("parse_status", T.StringType(), False),
        T.StructField("parse_code", T.IntegerType(), False),
        T.StructField("n_sections", T.IntegerType(), False),
        T.StructField("extract_ms", T.DoubleType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("split_id", T.IntegerType(), False),
        T.StructField("chunks", T.ArrayType(CHUNK), True),
    ]
)
