"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries live in ``ragflow_spark.operators.*`` (each cites the
reference behavior it re-expresses); this module only exposes the
registry. Column aliases match between Spark and SQL by construction
(see ragflow_spark/operators/registry.py docstring).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402


def _prepare(spark: SparkSession) -> None:
    """Harden a driver-provided session: ship the package zip to
    python workers (idempotent) and pin the runtime-settable confs the
    oracle comparison depends on — session timezone (timestamp
    rendering must match DuckDB's naive timestamps regardless of the
    harness's TZ) and a sane shuffle-partition count for small-SF
    runs."""
    from ragflow_spark.deploy import package_zip

    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added in this context


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full extraction pipeline at sf0.001 — synthesize
    Common-Crawl-style pages from documents.parquet, run the
    vectorized extract, return per-url results with chunk counts."""
    _prepare(spark)
    from pyspark.sql import functions as F

    from ragflow_spark.plans.pipeline import (
        assign_splits,
        compute_hot_hosts,
        extract_pages,
    )
    from ragflow_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, "/root/testdata/sf0.001")
    hot = compute_hot_hosts(pages, n_splits=32, sample="auto")
    staged = assign_splits(pages, n_splits=32, salt_factor=8, hot_hosts=hot)
    ex = extract_pages(staged)
    return ex.select(
        "url",
        "content_type",
        "parse_status",
        "parse_code",
        "n_sections",
        F.size(F.coalesce("chunks", F.array())).alias("n_chunks"),
        F.length(F.coalesce("extracted_text", F.lit(""))).alias("n_chars"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import ragflow_spark.operators as ops
    from ragflow_spark.operators.registry import driver_order

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prepare(spark)
            return fn(spark, sf_dir)

        return run

    # the driver checks only the first 50: order by each query's last
    # verdict in the committed CORRECTNESS_r*.json files — never-checked
    # and red queries first, then green ones oldest round first
    return {name: wrap(ops.QUERIES[name]) for name in driver_order()}


def oracle_sql() -> dict[str, str]:
    import ragflow_spark.operators as ops
    from ragflow_spark.operators.registry import driver_order

    return {n: ops.ORACLES[n] for n in driver_order() if n in ops.ORACLES}
