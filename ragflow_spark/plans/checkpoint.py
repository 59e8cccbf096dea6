"""Checkpoint-resume: the metrics table doubles as the manifest.

Semantics (SURVEY.md §4.3, north_rule "resumable from checkpoint"):
a split is complete iff (a) its extracted output committed and (b) its
metrics row exists. Work proceeds in *waves* of splits; each wave is
one Spark job that appends ``extracted/`` parquet partitioned by
split_id and then appends the wave's metrics rows. A killed run
re-parses at most one wave (wave_size=1 -> at most one split,
BASELINE.md resume-overhead target); on a real cluster wave_size is
sized to a full cluster of tasks and the two appends become a single
Iceberg transaction.

Resume = anti-join of splits against the manifest — plain DataFrame
code, no custom source. The reference's analog is whole-state JSON
serialization (reference agent/canvas.py:128-151); ours is
partition-grain and idempotent (re-running a wave overwrites its
split directories via dynamic partition overwrite).

Table format: the sandbox has no Iceberg runtime jar, so writers use
parquet with dynamic partition overwrite — the semantics Iceberg's
overwrite-by-filter gives transactionally. On a cluster, add
  --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
  --conf spark.sql.catalog.cc=org.apache.iceberg.spark.SparkCatalog
and swap `.write.partitionBy(...).parquet(path)` for
`.writeTo("cc.db.extracted").overwritePartitions()`; the wave +
manifest logic is unchanged (it never relies on file layout).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ragflow_spark.plans.pipeline import (
    DEFAULT_N_SPLITS,
    DEFAULT_SALT_FACTOR,
    assign_splits,
    compute_hot_hosts,
    extract_pages,
    metrics_for,
)


# ------------------------------------------------ snapshot manifest
# Parquet stand-in for Iceberg's snapshot log (metadata/snap-*.avro +
# table-metadata snapshot list): every committed wave appends ONE
# run_id-stamped JSON snapshot under out_dir/snapshots/, written
# atomically (tmp + rename). Iceberg gives this chain transactionally;
# the conf to flip it on a cluster is documented in the module
# docstring above. The metrics table stays the RESUME source of truth;
# snapshots are the read-side time-travel layer.


def _snap_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "snapshots")


def snapshots(out_dir: str) -> list[dict]:
    """All committed snapshots, oldest first (snapshot_id ascending)."""
    d = _snap_dir(out_dir)
    try:
        names = sorted(n for n in os.listdir(d) if n.startswith("snap-"))
    except OSError:
        return []
    return [json.load(open(os.path.join(d, n))) for n in names]


def record_snapshot(
    out_dir: str,
    run_id: str,
    wave_index: int,
    splits: list[int],
    note: str | None = None,
) -> int:
    """Append one snapshot for a committed wave; returns snapshot_id.

    snapshot_id is a monotone sequence across runs (a resumed run
    continues the chain, exactly like Iceberg appends to the same
    table's snapshot log)."""
    d = _snap_dir(out_dir)
    os.makedirs(d, exist_ok=True)
    sid = len(snapshots(out_dir)) + 1
    rec = {
        "snapshot_id": sid,
        "run_id": run_id,
        "wave": wave_index,
        "splits": sorted(int(s) for s in splits),
        "committed_at": time.time(),
    }
    if note:
        rec["note"] = note
    tmp = os.path.join(d, f".snap-{sid:06d}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.rename(tmp, os.path.join(d, f"snap-{sid:06d}.json"))
    return sid


def read_extracted_asof(
    spark: SparkSession, out_dir: str, snapshot_id: int
) -> DataFrame:
    """Time-travel read: the extracted table AS OF snapshot_id — only
    splits committed by snapshots <= snapshot_id are visible (the
    parquet analog of Iceberg's VERSION AS OF; split-level visibility
    is exact because waves overwrite whole split directories). The
    filter is on the partition column, so partition pruning keeps the
    scan to exactly the visible split directories."""
    visible: set[int] = set()
    for s in snapshots(out_dir):
        if s["snapshot_id"] <= snapshot_id:
            visible.update(s["splits"])
    ex = spark.read.parquet(os.path.join(out_dir, "extracted"))
    return ex.filter(F.col("split_id").isin(sorted(visible)))


def _has_data_files(path: str) -> bool:
    """Whether `path` holds a file Spark reads as data: names starting
    with ``_`` or ``.`` (``_SUCCESS``, ``_temporary/``, ``.crc``) are
    not data."""
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


def completed_splits(spark: SparkSession, out_dir: str) -> set[int]:
    """Split ids that have a metrics row. No metrics directory, or one
    without a committed data file (only ``_temporary/`` after a crash in
    the first wave's metrics append), means none, without a Spark read.
    Any other read error raises: a corrupt manifest must not silently
    re-extract every split."""
    mpath = os.path.join(out_dir, "metrics")
    if not _has_data_files(mpath):
        return set()
    return {
        r["split_id"]
        for r in spark.read.parquet(mpath).select("split_id").distinct().collect()
    }


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    n_splits: int = DEFAULT_N_SPLITS,
    salt_factor: int = DEFAULT_SALT_FACTOR,
    wave_size: int = 8,
    budget: int = 256,
    fail_after_waves: int | None = None,
    hot_host_sample: float | str | None = "auto",
) -> None:
    """Extract `pages` into out_dir/{extracted,metrics}, resumably.

    ``fail_after_waves`` injects a crash for the kill-resume test.
    ``salt_factor`` only affects list-form ``hot_hosts``, which the
    pre-pass here never yields.
    ``hot_host_sample``: seeded sampling rate for the hot-host
    pre-pass; the default 'auto' samples at 1% when the optimizer
    estimates the input above ~1 GiB and stays exact below (so crawl
    runs never pay the two-full-pass exact count, while test inputs
    keep the cheap exact mode); None forces exact.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    hot = compute_hot_hosts(pages, n_splits=n_splits, sample=hot_host_sample)
    staged = assign_splits(pages, n_splits, salt_factor, hot)
    done = completed_splits(spark, out_dir)
    # Reconcile the snapshot chain with the metrics manifest: the wave
    # commit is two non-atomic steps (metrics append, then snapshot),
    # so a crash between them leaves splits that resume will rightly
    # skip (metrics row exists, output committed) but that no snapshot
    # exposes — read_extracted_asof at the latest snapshot would
    # silently diverge from read_outputs forever. Re-cover them in one
    # reconciliation snapshot before starting new waves. (Under
    # Iceberg both steps are one transaction and this is a no-op.)
    snap_covered: set[int] = set()
    for s in snapshots(out_dir):
        snap_covered.update(s["splits"])
    orphaned = sorted(done - snap_covered)
    if orphaned:
        record_snapshot(
            out_dir, run_id, -1, orphaned, note="metrics-snapshot reconcile"
        )
    todo = sorted(set(range(n_splits)) - done)
    ex_path = os.path.join(out_dir, "extracted")
    m_path = os.path.join(out_dir, "metrics")
    waves = [todo[i : i + wave_size] for i in range(0, len(todo), wave_size)]
    for w, wave in enumerate(waves):
        subset = staged.filter(F.col("split_id").isin(wave))
        extracted = extract_pages(subset, budget=budget, n_partitions=len(wave))
        # idempotent per-split overwrite: re-running a half-written
        # wave replaces exactly its split directories
        (
            extracted.write.mode("overwrite")
            .partitionBy("split_id")
            .parquet(ex_path)
        )
        done_extracted = spark.read.parquet(ex_path).filter(
            F.col("split_id").isin(wave)
        )
        metrics_for(done_extracted, run_id).write.mode("append").parquet(m_path)
        record_snapshot(out_dir, run_id, w, wave)
        if fail_after_waves is not None and w + 1 >= fail_after_waves:
            raise RuntimeError(f"injected failure after wave {w}")


def read_outputs(spark: SparkSession, out_dir: str) -> tuple[DataFrame, DataFrame]:
    return (
        spark.read.parquet(os.path.join(out_dir, "extracted")),
        spark.read.parquet(os.path.join(out_dir, "metrics")),
    )
