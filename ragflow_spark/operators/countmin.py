"""Count-min sketch: the bounded-state twin of exact heavy-hitter
counting (Cormode & Muthukrishnan 2005, "An improved data stream
summary: the count-min sketch and its applications", J. Algorithms).

`ngram_heavy_hitters` (operators/corpus.py) is the EXACT two-phase
plan: its shuffle carries one row per distinct gram — fine while the
vocabulary fits a shuffle, which crawl-scale n-gram spaces eventually
do not. The CMS replaces that vocabulary-sized Exchange with a fixed
d x w int64 grid per input partition: each partition reduces its gram
stream to one grid row (mapInPandas), and because the sketch is
LINEAR (sketch(A ∪ B) == sketch(A) + sketch(B), elementwise), the
per-partition grids sum into the corpus sketch, through a staged
executor-side fold when partitions x grid-bytes would exceed the
driver budget.

Guarantee (paper Thm 1): estimate(g) >= true(g) always (one-sided),
and estimate(g) <= true(g) + (e/w) * N with probability >= 1 - e^-d
over the hash draw, N = total stream length. Hashes here are md5
slices — fixed, so on fixed data the estimates are deterministic and
the bound is differentially ASSERTED against the exact operator in
tests/test_corpus_ops.py rather than trusted.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

CMS_D = 4  # hash rows
CMS_W = 512  # counters per row

# Driver never collects more than this many grid bytes in one pass;
# above it an executor-side sum stage folds per-partition grids first
# (a tree-reduce), so thousands of partitions never cliff the driver.
CMS_DRIVER_COLLECT_BUDGET = 64 << 20


def cms_buckets(item: str, w: int = CMS_W, d: int = CMS_D) -> list[int]:
    """The d row-bucket indices for one item: 8-hex-char slices of a
    single md5 (one hash per item, d slices — the minhash-slice
    economy from dedup.py applied to the CMS rows)."""
    h = hashlib.md5(item.encode()).hexdigest()
    return [int(h[8 * r : 8 * r + 8], 16) % w for r in range(d)]


def build_cms(
    df: DataFrame, col: str, w: int = CMS_W, d: int = CMS_D
) -> np.ndarray:
    """d x w int64 count grid over the values of ``df[col]``.

    One mapInPandas pass emits a grid per input partition (inside a
    partition: pd.factorize the batch to uniques, one md5 per UNIQUE
    value, np.add.at with the bincount weights — the simhash kernel's
    hash-uniques-once idiom); grids then sum on the driver, behind a
    staged executor-side fold when partitions x grid-bytes exceeds
    the collect budget."""
    grid_bytes = d * w * 8

    def part(batches):
        grid = np.zeros((d, w), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            codes, uniques = pd.factorize(pdf[col].astype(str).to_numpy())
            counts = np.bincount(codes, minlength=len(uniques)).astype(
                np.int64
            )
            cols = np.array(
                [cms_buckets(u, w, d) for u in uniques], dtype=np.int64
            )
            for r in range(d):
                np.add.at(grid[r], cols[:, r], counts)
        if seen:
            yield pd.DataFrame({"grid": [grid.tobytes()]})

    def sum_fold(batches):
        acc = None
        for pdf in batches:
            for b in pdf["grid"]:
                arr = np.frombuffer(b, dtype=np.int64)
                acc = arr.copy() if acc is None else acc + arr
        if acc is not None:
            yield pd.DataFrame({"grid": [acc.tobytes()]})

    parts_df = df.select(col).mapInPandas(part, "grid binary")
    n_parts = df.rdd.getNumPartitions()
    if n_parts * grid_bytes > CMS_DRIVER_COLLECT_BUDGET:
        fanin = max(1, int(CMS_DRIVER_COLLECT_BUDGET // grid_bytes))
        parts_df = parts_df.repartition(fanin).mapInPandas(
            sum_fold, "grid binary"
        )
    acc = np.zeros(d * w, dtype=np.int64)
    for r in parts_df.collect():
        acc += np.frombuffer(r["grid"], dtype=np.int64)
    return acc.reshape(d, w)


def cms_estimate(grid: np.ndarray, item: str) -> int:
    """Point estimate: min over the d row counters (>= true count)."""
    d, w = grid.shape
    bs = cms_buckets(item, w, d)
    return int(min(grid[r, bs[r]] for r in range(d)))


def cms_error_bound(grid: np.ndarray) -> int:
    """The paper's eps*N overestimate bound for this grid: N recovered
    from any row's total (every row counts the full stream)."""
    d, w = grid.shape
    n = int(grid[0].sum())
    return int(math.ceil(math.e / w * n))
