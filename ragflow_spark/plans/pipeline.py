"""The extraction pipeline: pages -> extracted (+chunks) -> metrics.

One Spark DataFrame program (SURVEY.md §7.0 spine):

    pages
      |> assign_splits        url-host hash bucketing, salted hot hosts
      |> repartition(split)   co-locate each resume split in one task
      |> mapInPandas(extract) vectorized Arrow batches over the pure
                              kernels (one DOM parse per page; chunker
                              composed in the same pass — SURVEY.md
                              §4.2). Errors become coded rows, never
                              task failures (reference error-as-row
                              convention, agent/component/baidu.py:70-71).
      |> metrics_for          per-split lineage/metrics rows (the
                              checkpoint manifest, SURVEY.md §4.3)

Scale notes (100 TB / 10^12 docs):
- Extraction is ZERO-SHUFFLE: the html payload maps directly from the
  scan into the pandas kernel; only the small extracted/metrics rows
  ever shuffle. Wall-clock scales with executors.
- `n_splits` should be sized so a split's html bytes fit one task
  comfortably (e.g. 10^12 docs / 10^6 splits = 10^6 docs/split is too
  big; pick n_splits >= 16x executor-cores). Splits are a pure
  function of (url, config) so resume grain is stable across runs.
- Hot hosts (crawl skew: one host can be >30% of a crawl) are salted
  across `salt_factor` splits; output is salt-invariant because the
  kernels are per-row pure functions.
- Arrow batch size is capped in session.py so multi-MB html blobs
  bound per-task memory (SURVEY.md §7.3.4).
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ragflow_spark.kernels.chunk import DEFAULT_TOKEN_BUDGET
from ragflow_spark.kernels.extract import extract_document
from ragflow_spark.schemas import EXTRACTED

DEFAULT_N_SPLITS = 64
DEFAULT_SALT_FACTOR = 8
HOT_HOST_SAMPLE_RATE = 0.01
# inputs estimated above this take the sampled pre-pass by default: a
# crawl shard is TBs (sampling is mandatory there); test/golden inputs
# are MBs (exact mode keeps them cheap AND deterministic to inspect)
HOT_HOST_AUTO_THRESHOLD_BYTES = 1 << 30
# most salted hosts inlined as plan literals; above it assign_splits
# broadcast-joins a host->factor table so the plan size stays bounded
HOT_HOST_INLINE_MAX = 256

_HOST_RE = r"^[a-z]+://([^/]+)"


def resolve_hot_host_sample(
    pages: DataFrame, sample: float | str | None
) -> float | None:
    """'auto' -> {HOT_HOST_SAMPLE_RATE} when Catalyst's size estimate
    for the input exceeds HOT_HOST_AUTO_THRESHOLD_BYTES, else exact
    (None). The estimate is the optimizer's sizeInBytes statistic — parquet
    footer totals for file scans, propagated through projections — so
    no data is read to make the decision. At crawl scale (TB inputs)
    this makes the sampled pre-pass the DEFAULT; a two-full-pass exact
    count over 10^12 urls just to find >=5%-share hosts is the kind of
    fixed cost that dominates resume-after-kill runs."""
    if sample != "auto":
        return sample  # explicit rate or None (exact)
    est = int(pages._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return HOT_HOST_SAMPLE_RATE if est > HOT_HOST_AUTO_THRESHOLD_BYTES else None


def host_of(col):
    return F.regexp_extract(col, _HOST_RE, 1)


def compute_hot_hosts(
    pages: DataFrame,
    n_splits: int,
    sample: float | str | None = None,
) -> dict[str, int]:
    """Cheap pre-pass: per-host salt factors, SIZE-PROPORTIONAL.

    Reads only the url column (column pruning keeps the scan tiny even
    when html is TBs). A host whose page share exceeds one split's
    fair share (1/n_splits) gets salt factor ceil(share * n_splits) so
    no single split ends up larger than ~1x the target — this keeps stragglers
    bounded when one host owns 30% of a crawl. Deterministic for a
    given input (and a given `sample` seed).

    `sample`: at crawl scale an exact count + full-url groupBy means
    two complete passes over the url column just to find hosts owning
    >=5% of the corpus — a seeded 1% Bernoulli sample sees every such
    host with overwhelming probability and estimates its share to
    well under a salt-factor step. Pass e.g. 0.01 for large inputs
    (bin/run_extract.py --hot-host-sample); 'auto' (the run_resumable
    default) picks sampled vs exact from the optimizer's input-size
    estimate (resolve_hot_host_sample); None keeps the exact two-pass
    mode used by tests and goldens. Shares are ratios, so no
    rescaling by the sampling rate is needed."""
    sample = resolve_hot_host_sample(pages, sample)
    if sample is not None and 0 < sample < 1:
        pages = pages.select("url").sample(fraction=sample, seed=42)
    total = pages.count()
    if total == 0:
        return {}
    target = total / n_splits
    rows = (
        pages.select(host_of(F.col("url")).alias("host"))
        .groupBy("host")
        .count()
        .filter(F.col("count") > target)
        .collect()
    )
    return {
        r["host"]: int(-(-r["count"] // target))  # ceil(count / target)
        for r in sorted(rows, key=lambda r: r["host"])
    }


def assign_splits(
    pages: DataFrame,
    n_splits: int = DEFAULT_N_SPLITS,
    salt_factor: int = DEFAULT_SALT_FACTOR,
    hot_hosts: list[str] | dict[str, int] | None = None,
) -> DataFrame:
    """Add `split_id`: a pure function of (url, config).

    Base bucketing is by host hash (keeps a host's pages co-located —
    cache-friendly and politeness-compatible); hosts in `hot_hosts`
    are salted by a url-hash so a skewed host spreads over several
    splits (north_rule: "url-hash partitioning with salting for
    skewed hosts"). `hot_hosts` is either a list (fixed `salt_factor`
    for each) or a dict host -> per-host factor from
    `compute_hot_hosts` (size-proportional — a host owning 30% of a
    10^12-page crawl needs hundreds of salt buckets, not 8).
    Salting only moves rows between splits; extraction output is
    salt-invariant (tests/test_resume_salt.py).

    Up to HOT_HOST_INLINE_MAX salted hosts, the salt factor is one
    inline CASE with a `hex(host) IN (...)` list per distinct factor,
    so the plan stays scan -> project (no join, no extra Spark job
    per action). Each row pays one hash-set membership test per
    distinct factor, whatever the host count: a factor f from
    `compute_hot_hosts(n_splits=n)` means a page share above (f-1)/n,
    and shares sum to at most 1, so there are at most sqrt(2 * n)
    distinct factors (11 at 64 splits). The gate bounds only the
    plan size: plan literals must not grow with the corpus."""
    host = host_of(F.col("url"))
    base = F.xxhash64(host)
    if isinstance(hot_hosts, dict):
        factors = hot_hosts
    else:
        factors = {h: salt_factor for h in hot_hosts or ()}
    # factor-1 hosts need no branch: every other host gets 1 anyway
    factors = {h: int(f) for h, f in factors.items() if int(f) > 1}
    if not factors:
        keyed = base
    else:
        if len(factors) <= HOT_HOST_INLINE_MAX:
            # hex of the UTF-8 bytes: Python's .hex() matches Spark's
            # hex(string), and [0-9A-F] needs no escaping in SQL text.
            # One F.expr costs O(1) py4j round trips; Column.isin or a
            # when-chain cost ~3 per host.
            by_factor: dict[int, list[str]] = {}
            for h, f in sorted(factors.items()):
                by_factor.setdefault(f, []).append(
                    "'" + h.encode("utf-8").hex().upper() + "'"
                )
            pages = pages.withColumn("hh_hex", F.hex(host))
            salt_n = F.expr(
                "CASE "
                + " ".join(
                    f"WHEN hh_hex IN ({', '.join(lits)}) THEN {f}"
                    for f, lits in sorted(by_factor.items())
                )
                + " ELSE 1 END"
            )
        else:
            # plan literals must not grow with scale: past the inline
            # gate, broadcast-join the tiny host->factor dim. Built
            # from pandas so that, with Arrow on (session.get_spark), it
            # plans as a JVM LocalTableScan; a list of tuples would plan
            # as Scan ExistingRDD over a PythonRDD, and every action on
            # the staged frame would first run a Python job to build the
            # broadcast. No literal map either: Spark scans map keys
            # linearly per row.
            spark = pages.sparkSession
            dim = spark.createDataFrame(
                pd.DataFrame(
                    sorted(factors.items()), columns=["hh_host", "hh_factor"]
                ),
                "hh_host string, hh_factor int",
            )
            pages = pages.join(
                F.broadcast(dim), host == F.col("hh_host"), "left"
            )
            salt_n = F.coalesce(F.col("hh_factor"), F.lit(1))
        keyed = base + F.pmod(F.xxhash64(F.col("url")), salt_n)
    out = pages.withColumn(
        "split_id", F.pmod(keyed, F.lit(n_splits)).cast("int")
    )
    return out.drop("hh_hex", "hh_host", "hh_factor")


def _extract_batches(budget: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = {
                "url": pdf["url"],
                "warc_ts": pdf["warc_ts"],
                "content_type": [],
                "extracted_text": [],
                "parse_status": [],
                "parse_code": [],
                "n_sections": [],
                "extract_ms": [],
                "bytes_in": [],
                "split_id": pdf["split_id"],
                "chunks": [],
            }
            for payload in pdf["html"]:
                t0 = time.perf_counter()
                r = extract_document(payload, budget)
                dt = (time.perf_counter() - t0) * 1000.0
                recs["content_type"].append(r.content_type)
                recs["extracted_text"].append(r.extracted_text)
                recs["parse_status"].append(r.parse_status)
                recs["parse_code"].append(r.parse_code)
                recs["n_sections"].append(r.n_sections)
                recs["extract_ms"].append(dt)
                recs["bytes_in"].append(len(payload) if payload is not None else 0)
                recs["chunks"].append(
                    [
                        {
                            "chunk_id": i,
                            "template": tpl,
                            "chunk_text": r.extracted_text[a:b],
                            "char_start": a,
                            "char_end": b,
                            "token_count": tok,
                        }
                        for i, (tpl, a, b, tok) in enumerate(
                            zip(
                                r.chunk_templates,
                                r.chunk_starts,
                                r.chunk_ends,
                                r.chunk_tokens,
                            )
                        )
                    ]
                )
            yield pd.DataFrame(recs)

    return fn


def extract_pages(
    pages_with_splits: DataFrame,
    budget: int = DEFAULT_TOKEN_BUDGET,
    n_partitions: int | None = None,
) -> DataFrame:
    """pages (with split_id) -> extracted rows with nested chunks.

    ZERO-SHUFFLE by default: extraction maps directly over the scan
    partitions — shuffling the html payload (the 100 TB column) just
    to co-locate splits costs ~25% wall at high parallelism and buys
    nothing, because (a) partitionBy('split_id') writes correctly from
    any task layout and (b) the metrics groupBy shuffles only the
    small extracted rows. Pass `n_partitions` to force a repartition
    on split_id — used by the resume path to compact a filtered wave
    (a small subset) into one task per split."""
    df = pages_with_splits
    if n_partitions:
        df = df.repartition(n_partitions, "split_id")
    return df.select("url", "warc_ts", "html", "split_id").mapInPandas(
        _extract_batches(budget), schema=EXTRACTED
    )


def chunks_of(extracted: DataFrame) -> DataFrame:
    """Flat chunks table via explode of the nested chunks column (each
    chunk struct carries its own chunk_id, so no position is needed)."""
    c = extracted.select(
        "url", F.explode("chunks").alias("c")
    )
    return c.select(
        "url",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.template").alias("template"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.char_start").alias("char_start"),
        F.col("c.char_end").alias("char_end"),
        F.col("c.token_count").alias("token_count"),
    )


def metrics_for(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-split lineage rows (SURVEY.md §1.2 metrics schema).

    One aggregation, no join: rows fold to (split, status, code)
    counts, then to one row per split, so the extracted rows are read
    once. failure_codes is a real MAP<INT,BIGINT> (vs the reference's
    JSON-in-string convention, SURVEY.md §1.2), null for a split with
    no failures."""
    by_code = extracted.groupBy("split_id", "parse_status", "parse_code").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("extract_ms").alias("wall_ms"),
    )
    ok = F.col("parse_status") == "ok"
    failed = F.collect_list(
        F.when(F.col("parse_code") != 0, F.struct("parse_code", F.col("n")))
    )
    base = by_code.groupBy("split_id").agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(ok, F.col("n")).otherwise(0)).alias("n_ok"),
        F.sum(F.when(~ok, F.col("n")).otherwise(0)).alias("n_failed"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("wall_ms").alias("wall_ms"),
        F.when(
            F.size(failed) > 0, F.map_from_entries(F.sort_array(failed))
        ).alias("failure_codes"),
    )
    return (
        base.withColumn("partition_id", F.col("split_id"))
        .withColumn("salt", F.lit(None).cast("int"))
        .withColumn(
            "input_split", F.concat(F.lit("split-"), F.col("split_id").cast("string"))
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("completed_at", F.current_timestamp())
        .select(
            "split_id",
            "partition_id",
            "salt",
            "input_split",
            "n_docs",
            "n_ok",
            "n_failed",
            "failure_codes",
            "bytes_in",
            "wall_ms",
            "run_id",
            "completed_at",
        )
    )
