"""Seeded benchmark inputs, materialized once per (workload, seed).

The benchmark ships no data and reads nothing outside its checkout, so
it generates the tables it needs here. Everything is a pure function of
the workload's size and the seed:

- the documents' words, languages and lengths come from a fixed
  generator, so page sizes and template mix stay the same across seeds
  (the workload's size does not depend on the seed);
- the seed picks the doc-id offset (urls, hosts' url hashes, split
  assignment and the check sample) and the row order of the pages.

Pages are rendered by ``sources.pages.synthesize_pages`` and published
through ``sources.cachefs.atomic_materialize``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_BASE_SEED = 20260101
_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join customer page crawl host split wave chunk token parse shard index"
).split()
_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "que"],
    "fr": ["le", "les", "des"],
    "zh": [],
}
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
# entries kept per workload: a series of runs reuses its seeds, and an
# entry is a few MB of compressed parquet
_CACHE_KEEP = 24
# bound of the seeded doc-id offset (see documents_table)
_MAX_OFFSET = 40_000_000


def _rng_seed(seed: int) -> int:
    """Any integer seed as a valid numpy generator seed."""
    return seed % (1 << 32)


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """``documents`` rows (doc_id, text, lang, source, n_chars).

    Text is drawn from a fixed generator; the seed only shifts doc ids
    (by a multiple of 100, which keeps each text on the same page
    template and host class) and permutes the rows. Doc ids stay below
    ``_MAX_OFFSET`` + ``n_docs``: ``sources.pages`` stamps each page
    ``doc_id * 137`` seconds after 2026, and that stamp has to fit the
    nanosecond timestamps of the pandas UDFs (years up to 2262)."""
    rng = np.random.default_rng(_BASE_SEED)
    lengths = rng.integers(8, 100, n_docs)
    langs = rng.choice(len(_LANGS), n_docs)
    texts, lang_col = [], []
    for i in range(n_docs):
        lang = _LANGS[langs[i]]
        vocab = _WORDS + _MARKERS[lang] * 3
        idx = rng.integers(0, len(vocab), lengths[i])
        texts.append(" ".join(vocab[j] for j in idx))
        lang_col.append(lang)
    # a few near-duplicates (one word changed) so dedup has candidates
    for i in range(0, n_docs, 37):
        j = (i * 7919) % n_docs
        w = texts[j].split()
        w[len(w) // 2] = "changed"
        texts[i] = " ".join(w)
    offset = (seed % (_MAX_OFFSET // 100)) * 100
    order = np.random.default_rng(_rng_seed(seed)).permutation(n_docs)
    ids = np.arange(n_docs, dtype=np.int64) + offset
    return pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array([texts[k] for k in order]),
            "lang": pa.array([lang_col[k] for k in order]),
            "source": pa.array([f"src{k % 5}" for k in order]),
            "n_chars": pa.array([len(texts[k]) for k in order], pa.int64()),
        }
    )


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (seconds * 1e6).astype("timedelta64[us]"))


def star_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus events and embeddings, with the
    column names and types the operator registry reads. Row counts at
    ``scale`` = 0.1: 600k lineitem, 150k orders, 15k customers, 100k
    events, 2k embeddings, 5k documents."""
    rng = np.random.default_rng(_rng_seed(seed))
    n_li, n_o, n_c = int(6e6 * scale), int(1.5e6 * scale), int(1.5e5 * scale)
    n_ev, n_emb = int(1e6 * scale), int(2e4 * scale)
    day = 86400.0
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_o)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_o), 2)),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2500, n_o) * day),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o)
            ),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_li)),
            "l_partkey": pa.array(rng.integers(0, max(1, n_li // 30), n_li)),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_li // 600), n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n_li) * day),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_c), 2)),
            "c_mktsegment": pa.array(
                rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c)
            ),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    # whole seconds: Spark's unix_timestamp truncates to seconds where
    # the DuckDB oracle's epoch() keeps fractions, so sub-second stamps
    # would split sessions differently at the 30-minute boundary
    gaps = np.ceil(rng.exponential(20.0, n_ev))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts("2024-01-01", np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, max(1, n_ev // 50), n_ev)),
            "event_type": pa.array(
                rng.choice(["view", "click", "purchase", "signup", "error"], n_ev)
            ),
            "value": pa.array(np.round(rng.uniform(0, 200, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    vecs = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
        }
    )
    return {
        "lineitem": lineitem,
        "orders": orders,
        "customer": customer,
        "nation": nation,
        "region": region,
        "events": events,
        "embeddings": embeddings,
        "documents": documents_table(int(5e4 * scale), seed),
    }


def _evict(cache_root: str, prefix: str, keep: str) -> None:
    """Bound the cache: drop the oldest entries of one workload."""
    entries = [
        os.path.join(cache_root, n)
        for n in os.listdir(cache_root)
        if n.startswith(prefix) and ".tmp-" not in n
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for path in entries[_CACHE_KEEP:]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)


def write_documents(docs: pa.Table, out_dir: str, files: int) -> None:
    """Write ``docs`` as ``files`` parquet files, dealing the rows out
    in order of page template (doc_id % 20, ``sources.pages``) and text
    length, so every file, and so every scan partition, gets the same
    mix of page templates and sizes whatever the seed. A few templates
    (huge nodes, PDFs) cost many times the average page; left to chance
    they make the slowest task, and so the job's wall, depend on the
    seed."""
    ids = docs["doc_id"].to_numpy()
    order = np.lexsort((docs["n_chars"].to_numpy(), ids % 20))
    # deal in a snake (0..k-1, k-1..0, ...) so no file always draws the
    # largest page of each round
    pos = np.arange(len(order))
    lane = np.where((pos // files) % 2 == 0, pos % files, files - 1 - pos % files)
    os.makedirs(out_dir)
    for j in range(files):
        rows = np.sort(order[lane == j])  # keep the seeded row order
        pq.write_table(docs.take(rows), os.path.join(out_dir, f"part-{j:03d}.parquet"))


def materialize_pages(
    spark, cache_root: str, name: str, n_docs: int, text_tile: int, seed: int, files: int
) -> str:
    """Cached pages parquet for one (workload, seed); returns its path."""
    from ragflow_spark.sources.cachefs import atomic_materialize
    from ragflow_spark.sources.pages import synthesize_pages

    prefix = f"{name}_n{n_docs}_t{text_tile}_"
    path = os.path.join(cache_root, f"{prefix}s{seed}")

    def write(tmp: str) -> None:
        docs_dir = tmp + "-docs"
        try:
            write_documents(
                documents_table(n_docs, seed), os.path.join(docs_dir, "documents.parquet"), files
            )
            synthesize_pages(spark, docs_dir, text_tile=text_tile).write.parquet(tmp)
        finally:
            shutil.rmtree(docs_dir, ignore_errors=True)

    os.makedirs(cache_root, exist_ok=True)
    atomic_materialize(path, write)
    os.utime(path)
    _evict(cache_root, prefix, path)
    return path


def materialize_tables(cache_root: str, scale: float, seed: int) -> str:
    """Cached star-schema directory (one parquet file per table)."""
    from ragflow_spark.sources.cachefs import atomic_materialize

    prefix = f"tables_sf{scale}_"
    path = os.path.join(cache_root, f"{prefix}s{seed}")

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        for tname, tbl in star_tables(scale, seed).items():
            pq.write_table(tbl, os.path.join(tmp, f"{tname}.parquet"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    os.makedirs(cache_root, exist_ok=True)
    atomic_materialize(path, write)
    os.utime(path)
    _evict(cache_root, prefix, path)
    return path
