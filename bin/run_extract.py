#!/usr/bin/env python3
"""spark-submit entry point for the extraction pipeline.

Cluster usage (north_rule deployment mode):

    python -c "from ragflow_spark.deploy import package_zip; print(package_zip())"
    spark-submit --py-files /tmp/ragflow_spark-<hash>.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=256 \
        bin/run_extract.py \
        --input  <pages table path (parquet/iceberg)> \
        --output <output dir> --run-id run1 \
        --n-splits 4096 --wave-size 256

Local sandbox usage (drives the same code path):

    python bin/run_extract.py --input synth:/root/testdata/sf0.001 \
        --output /tmp/out --run-id demo

`--input synth:<sf_dir>` synthesizes the deterministic pages table
from that directory's documents.parquet; `--input warc:<glob>` ingests
.warc/.warc.gz segments (one non-splittable segment per task — the
Common Crawl layout); `--input jsonl:<glob>` reads JSONL page dumps
(html base64, sources/jsonl.py); any other value is read as a parquet
path with the (url, warc_ts, html, text, lang) schema.

Sizing guidance for 10^12 docs (SURVEY.md §4.2): n_splits >= 16x total
executor cores so AQE and the resume grain both have headroom; wave
size = one cluster-full of tasks. Hot hosts get size-proportional salt
factors from the pre-pass, so no split exceeds ~1x its fair share.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--n-splits", type=int, default=64)
    ap.add_argument("--wave-size", type=int, default=8)
    ap.add_argument("--token-budget", type=int, default=256)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument(
        "--hot-host-sample",
        default="auto",
        help="hot-host pre-pass mode: 'auto' (default — sampled at 1%% "
        "when the optimizer estimates the input >1 GiB, exact below), "
        "'exact', or an explicit seeded sample rate like 0.01",
    )
    args = ap.parse_args()
    if args.hot_host_sample == "exact":
        args.hot_host_sample = None
    elif args.hot_host_sample != "auto":
        args.hot_host_sample = float(args.hot_host_sample)

    from ragflow_spark.session import get_spark

    spark = get_spark("extract", cores=args.cores)

    if args.input.startswith("synth:"):
        from ragflow_spark.sources.pages import synthesize_pages

        pages = synthesize_pages(spark, args.input[len("synth:"):])
    elif args.input.startswith("warc:"):
        from ragflow_spark.sources.warc import read_warc_pages

        pages = read_warc_pages(spark, args.input[len("warc:"):]).select(
            "url", "warc_ts", "html", "text", "lang"
        )
    elif args.input.startswith("jsonl:"):
        from ragflow_spark.sources.jsonl import read_jsonl_pages

        pages = read_jsonl_pages(spark, args.input[len("jsonl:"):])
    else:
        pages = spark.read.parquet(args.input)

    from ragflow_spark.plans.checkpoint import read_outputs, run_resumable

    run_resumable(
        spark,
        pages,
        args.output,
        run_id=args.run_id,
        n_splits=args.n_splits,
        wave_size=args.wave_size,
        budget=args.token_budget,
        hot_host_sample=args.hot_host_sample,
    )
    ex, m = read_outputs(spark, args.output)
    agg = m.groupBy().sum("n_docs", "n_ok", "n_failed").collect()[0]
    print(
        f"run {args.run_id}: docs={agg[0]} ok={agg[1]} failed={agg[2]} "
        f"splits={m.select('split_id').distinct().count()} -> {args.output}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
