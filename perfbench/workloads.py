"""The benchmark's workloads and the layer probes of its traced runs.

Both workloads run the flagship zero-shuffle plan: scan ->
``compute_hot_hosts`` -> ``assign_splits`` -> ``extract_pages`` ->
aggregate. A workload prepares its seeded pages once (untimed), runs the
hot-host pre-pass as part of set-up, runs one timed ``iteration`` at a
time and checks a seeded sample of its output against
``extract_document`` run in the benchmark process.

- ``cc_pages``: Common-Crawl-sized pages (tens of kB). Per-document
  kernel CPU (DOM tokenize, prune, emit, chunk) dominates, so a kernel
  optimisation shows its full effect here.
- ``tiny_pages``: native-size pages (~1.3 kB), many more per MB. Per-row
  and per-batch costs (Arrow transfer both ways, per-chunk row assembly,
  the scan) take a large share; a return-path change shows here more
  than a kernel-only change.

Traced runs also time single layers (``ExtractWorkload.probe``). Two
layers that have no workload of their own are measured there too: the
write side (``resume_write``, in the traced ``cc_pages`` run) and the
operator registry (``operator_suite``, in the traced ``tiny_pages`` run).
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass
from functools import partial

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bench import HEADLINE_QUERIES
from perfbench import inputs, kernel_probe
from ragflow_spark.kernels.extract import extract_document
from ragflow_spark.plans.checkpoint import (
    completed_splits,
    read_outputs,
    run_resumable,
    snapshots,
)
from ragflow_spark.plans.pipeline import assign_splits, compute_hot_hosts, extract_pages

PAGE_FILES = 16
SALT_FACTOR = 8
OPERATOR_SCALE = 0.05
RESUME_DOCS = 2000
# tables each headline query reads
QUERY_TABLES = {
    "q1_pricing_summary": ["lineitem"],
    "revenue_by_nation": ["lineitem", "orders", "customer", "nation", "region"],
    "dedup_minhash_lsh": ["documents"],
    "cosine_topk": ["embeddings"],
    "sessionize": ["events"],
    "lang_id": ["documents"],
}


@dataclass
class Context:
    seed: int
    cores: int
    cache_dir: str
    run_dir: str
    tracer: object
    traced: bool = False


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sample_urls(urls: list[str], seed: int, k: int) -> list[str]:
    """The k urls with the smallest seeded hash."""
    def key(u: str) -> bytes:
        return hashlib.blake2b(f"{seed}:{u}".encode(), digest_size=8).digest()

    return sorted(urls, key=key)[:k]


def _template_sample(urls: list[str], seed: int, k: int) -> list[str]:
    """k urls, the same number from each of the 20 page templates
    (``sources.pages`` picks the template from doc_id % 20), so the
    sample has the workload's template mix."""
    by_template: dict[int, list[str]] = {}
    for u in urls:
        by_template.setdefault(int(u.rsplit("doc-", 1)[1]) % 20, []).append(u)
    per = max(1, k // len(by_template))
    return [u for t in sorted(by_template) for u in _sample_urls(by_template[t], seed, per)]


def _reference(payload) -> tuple:
    r = extract_document(payload)
    chunks = tuple(
        (tpl, a, b, tok, r.extracted_text[a:b])
        for tpl, a, b, tok in zip(
            r.chunk_templates, r.chunk_starts, r.chunk_ends, r.chunk_tokens
        )
    )
    return r.extracted_text, r.parse_code, chunks


def _observed(row) -> tuple:
    chunks = tuple(
        (c["template"], c["char_start"], c["char_end"], c["token_count"], c["chunk_text"])
        for c in row["chunks"]
    )
    return row["extracted_text"], row["parse_code"], chunks


def mismatches(rows, reference: dict) -> int:
    """Sampled pages whose Spark output differs from the reference; a
    page missing from the output or returned twice also counts."""
    seen: dict[str, tuple] = {}
    bad = 0
    for r in rows:
        if r["url"] in seen:
            bad += 1
        seen[r["url"]] = _observed(r)
    return bad + sum(1 for url, ref in reference.items() if seen.get(url) != ref)


class Pages:
    """A seeded pages table, its check sample and the reference output."""

    def __init__(self, ctx: Context, spark, name: str, n_docs: int, text_tile: int,
                 check_sample: int):
        self.path = inputs.materialize_pages(
            spark, ctx.cache_dir, name, n_docs, text_tile, ctx.seed, PAGE_FILES
        )
        tbl = pq.read_table(self.path, columns=["url", "html"])
        self.docs = tbl.num_rows
        self.html_bytes = int(pc.sum(pc.binary_length(tbl["html"])).as_py())
        self.urls = tbl["url"].to_pylist()
        self.sample = _sample_urls(self.urls, ctx.seed, check_sample)

    def df(self, spark):
        return spark.read.parquet(self.path)

    def payloads(self, urls: list[str]):
        return pq.read_table(
            self.path, columns=["url", "warc_ts", "html"], filters=[("url", "in", urls)]
        ).to_pandas()

    def reference(self) -> dict:
        pdf = self.payloads(self.sample)
        return {u: _reference(h) for u, h in zip(pdf["url"], pdf["html"])}

    def parquet_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.path, n))
            for n in os.listdir(self.path) if n.endswith(".parquet")
        )


class ExtractWorkload:
    """scan -> compute_hot_hosts -> assign_splits -> extract_pages -> agg."""

    n_splits = 64

    def __init__(self, name, n_docs, text_tile, check_sample, kernel_sample, extra_probe):
        self.name = name
        self.n_docs = n_docs
        self.text_tile = text_tile
        self.check_sample = check_sample
        self.kernel_sample = kernel_sample
        self.extra_probe = extra_probe

    def prepare(self, ctx: Context, spark) -> None:
        self.pages = Pages(
            ctx, spark, self.name, self.n_docs, self.text_tile, self.check_sample
        )
        self.docs, self.html_bytes = self.pages.docs, self.pages.html_bytes

    def setup(self, ctx: Context, spark) -> None:
        with ctx.tracer.span("pipeline.hot_hosts", spark):
            self.hot = compute_hot_hosts(
                self.pages.df(spark), n_splits=self.n_splits, sample="auto"
            )

    def _staged(self, pages):
        return assign_splits(pages, self.n_splits, SALT_FACTOR, self.hot)

    def iteration(self, ctx: Context, spark) -> dict:
        aggs = [
            F.count(F.lit(1)).alias("docs"),
            F.sum((F.col("parse_status") != "ok").cast("long")).alias("failed"),
        ]
        if ctx.traced:
            aggs.append(F.percentile_approx("extract_ms", 0.99).alias("p99"))
        t = time.perf_counter()
        row = extract_pages(self._staged(self.pages.df(spark))).agg(*aggs).collect()[0]
        wall = time.perf_counter() - t
        it = {
            "wall_s": wall,
            "docs": row["docs"],
            "parse_failed": row["failed"],
            "lost_docs": abs(self.docs - row["docs"]),
        }
        if ctx.traced:
            it["doc_ms_p99"] = row["p99"]
        return it

    def check(self, ctx: Context, spark) -> dict:
        pages = self.pages.df(spark).filter(F.col("url").isin(self.pages.sample))
        rows = (
            extract_pages(self._staged(pages))
            .select("url", "extracted_text", "parse_code", "chunks")
            .collect()
        )
        return {
            "checked": len(self.pages.sample),
            "mismatch_docs": mismatches(rows, self.pages.reference()),
        }

    def probe(self, ctx: Context, spark, measured: dict, check: dict) -> dict:
        """Traced-only single-layer probes over this workload's pages."""
        tracer, iters = ctx.tracer, measured["iterations"]
        out = {
            "sources.scan_mb": self.pages.parquet_bytes() / 1e6,
            "pipeline.parse_failed_share": iters[0]["parse_failed"] / self.docs,
            "kernels.doc_ms_p99": statistics.median(i["doc_ms_p99"] for i in iters),
        }
        with tracer.span("sources.scan", spark):
            _noop_write(self.pages.df(spark))
        out["sources.scan_s"] = tracer.total("sources.scan")

        def identity(batches):
            yield from batches

        staged = self._staged(self.pages.df(spark))
        with tracer.span("arrow.roundtrip", spark):
            _noop_write(
                staged.select("url", "warc_ts", "html", "split_id").mapInPandas(
                    identity, "url string, warc_ts timestamp, html binary, split_id int"
                )
            )
        out["arrow.roundtrip_s"] = tracer.total("arrow.roundtrip")
        with tracer.span("pipeline.split_sizes", spark):
            sizes = sorted(
                r["count"] for r in staged.groupBy("split_id").count().collect()
            )
        out["pipeline.split_skew"] = sizes[-1] / statistics.median(sizes)

        pdf = self.pages.payloads(
            _template_sample(self.pages.urls, ctx.seed + 1, self.kernel_sample)
        )
        with tracer.span("kernels.stages"):
            stages = kernel_probe.stage_ms_per_doc(list(pdf["html"]))
        for k, v in stages.items():
            out[f"kernels.{k}_ms"] = v
        out["kernels.docs_per_core_s"] = 1000.0 / stages["extract_document"]
        out["pipeline.core_efficiency"] = (self.docs / measured["wall_s"]) / (
            ctx.cores * out["kernels.docs_per_core_s"]
        )
        with tracer.span("pipeline.assemble"):
            out["pipeline.assemble_ms_per_doc"] = kernel_probe.assemble_ms_per_doc(
                pdf.assign(split_id=0)
            )
        out.update(self.extra_probe(ctx, spark, check))
        return out


class ResumeWrite:
    """``resume_write``: ``run_resumable`` into a fresh output directory,
    12 splits in 3 waves, killed by ``fail_after_waves`` after the wave
    the seed picks, then resumed. The pages keep the ~30% skewed host,
    so the co-located repartition of html is salted."""

    name = "resume_write"
    n_splits = 12
    wave_size = 4

    def __init__(self, ctx: Context, spark, n_docs: int, check_sample: int):
        self.pages = Pages(ctx, spark, self.name, n_docs, 1, check_sample)
        self.kill_after = 1 + ctx.seed % 2
        self.out_dir = None

    def cycle(self, ctx: Context, spark, k: int) -> dict:
        """One killed-then-resumed run; returns its walls."""
        prev = self.out_dir
        self.out_dir = os.path.join(ctx.run_dir, f"resume-{k}")
        kw = dict(n_splits=self.n_splits, salt_factor=SALT_FACTOR, wave_size=self.wave_size)
        t0 = time.perf_counter()
        try:
            run_resumable(
                spark, self.pages.df(spark), self.out_dir, "killed",
                fail_after_waves=self.kill_after, **kw,
            )
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the injected failure did not fire")
        t1 = time.perf_counter()
        run_resumable(spark, self.pages.df(spark), self.out_dir, "resumed", **kw)
        t2 = time.perf_counter()
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        return {"run_s": t2 - t0, "resume_s": t2 - t1}

    def check(self, spark) -> dict:
        docs = self.pages.docs
        ex, m = read_outputs(spark, self.out_dir)
        counts = ex.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("url").alias("urls"),
        ).collect()[0]
        missing = self.pages.df(spark).join(ex, "url", "left_anti").count()
        split_docs: dict[int, int] = {}
        for r in m.select("split_id", "n_docs").collect():
            split_docs[r["split_id"]] = split_docs.get(r["split_id"], 0) + r["n_docs"]
        metric_docs = sum(split_docs.values())
        snaps = snapshots(self.out_dir)
        per_run: dict[str, set] = {}
        for s in snaps:
            per_run.setdefault(s["run_id"], set()).update(s["splits"])
        both = per_run.get("killed", set()) & per_run.get("resumed", set())
        reparsed = sum(split_docs.get(s, 0) for s in both)
        wave_docs = max(sum(split_docs.get(x, 0) for x in s["splits"]) for s in snaps)
        rows = (
            ex.filter(F.col("url").isin(self.pages.sample))
            .select("url", "extracted_text", "parse_code", "chunks")
            .collect()
        )
        return {
            "checked": len(self.pages.sample),
            "mismatch_docs": mismatches(rows, self.pages.reference()),
            "extracted_rows": counts["n"],
            "extracted_urls": counts["urls"],
            "missing_urls": missing,
            "metrics_n_docs": metric_docs,
            "reparsed_docs": reparsed,
            "wave_docs_max": wave_docs,
            "waves_committed": len(snaps),
            "ok": (
                counts["n"] == docs
                and counts["urls"] == docs
                and missing == 0
                and metric_docs == docs
                and reparsed <= wave_docs
            ),
        }


def resume_write(ctx: Context, spark, check: dict) -> dict:
    """The write-side layer (``plans.checkpoint``), timed over one
    untimed and one timed kill-and-resume cycle."""
    rw = ResumeWrite(ctx, spark, n_docs=RESUME_DOCS, check_sample=100)
    rw.cycle(ctx, spark, 0)
    with ctx.tracer.span("checkpoint.cycle", spark):
        walls = rw.cycle(ctx, spark, 1)
    res = rw.check(spark)
    with ctx.tracer.span("checkpoint.completed_splits", spark):
        completed_splits(spark, rw.out_dir)
    files, written = 0, 0
    for root, _dirs, names in os.walk(rw.out_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                written += os.path.getsize(os.path.join(root, n))
    check["resume_write"] = res
    check["extra_attempted"] = check.get("extra_attempted", 0) + rw.pages.docs
    check["extra_failed"] = check.get("extra_failed", 0) + res["mismatch_docs"] + (not res["ok"])
    return {
        "checkpoint.run_s": walls["run_s"],
        "checkpoint.resume_s": walls["resume_s"],
        "checkpoint.completed_splits_s": ctx.tracer.total("checkpoint.completed_splits"),
        "checkpoint.waves": res["waves_committed"],
        "checkpoint.reparsed_docs": res["reparsed_docs"],
        "checkpoint.files_written": files,
        "checkpoint.written_mb": written / 1e6,
        "checkpoint.write_amp": written / rw.pages.html_bytes,
    }


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.4f}"
    return str(v)


def _multiset(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def operator_suite(ctx: Context, spark, check: dict) -> dict:
    """The six headline registry queries (one per operator family) over
    seeded star-schema tables, each written to the noop sink. The suite
    runs twice and the second pass is reported, so plan compilation in
    a cold session is left out; the results are then checked against
    the DuckDB oracles."""
    import duckdb

    import ragflow_spark.operators as ops

    sf_dir = inputs.materialize_tables(ctx.cache_dir, OPERATOR_SCALE, ctx.seed)
    walls = {}
    for _pass in range(2):
        for q in HEADLINE_QUERIES:
            t = time.perf_counter()
            with ctx.tracer.span(f"operators.{q}", spark):
                _noop_write(ops.QUERIES[q](spark, sf_dir))
            walls[f"operators.{q}_s"] = time.perf_counter() - t
    con = duckdb.connect()
    try:
        for t in {t for q in HEADLINE_QUERIES for t in QUERY_TABLES[q]}:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        bad = []
        for q in HEADLINE_QUERIES:
            sdf = ops.QUERIES[q](spark, sf_dir)
            got = _multiset(sdf.columns, sdf.collect())
            res = con.execute(ops.ORACLES[q])
            if got != _multiset([d[0] for d in res.description], res.fetchall()):
                bad.append(q)
    finally:
        con.close()
    check["operator_mismatches"] = bad
    check["extra_attempted"] = check.get("extra_attempted", 0) + len(HEADLINE_QUERIES)
    check["extra_failed"] = check.get("extra_failed", 0) + len(bad)
    return walls


# name -> constructor of a fresh workload object (one per run). Page
# counts are multiples of 20 templates x PAGE_FILES, so every input file
# holds the same template mix.
WORKLOADS = {
    "cc_pages": partial(
        ExtractWorkload, "cc_pages", n_docs=640, text_tile=32, check_sample=24,
        kernel_sample=40, extra_probe=resume_write,
    ),
    "tiny_pages": partial(
        ExtractWorkload, "tiny_pages", n_docs=4800, text_tile=1, check_sample=200,
        kernel_sample=400, extra_probe=operator_suite,
    ),
}
