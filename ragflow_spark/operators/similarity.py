"""Similarity search over the embeddings table (round brief:
brute-force cosine top-k baseline + LSH-bucketed scale path).

The brute-force path is the correctness baseline (exact top-k); the
sign-LSH path is the 100 TB shape: bucket vectors by hyperplane signs
so the candidate set for a query is one bucket join, not a full scan.
Hyperplanes are md5-derived ±1 vectors so the DuckDB oracle can
reproduce the buckets exactly.

Published basis: sign-random-projection LSH per Charikar (STOC 2002);
bucket-probe query pattern per Datar et al., "Locality-sensitive
hashing scheme based on p-stable distributions" (SoCG 2004).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ragflow_spark.operators.registry import register, spread, table
from ragflow_spark.operators.textops import doc_words

QUERY_VEC_ID = 0
TOP_K = 10
N_PLANES = 8
DIM = 64


def cosine(a, b):
    """Cosine of two numeric array Columns, computed in double as the
    oracles' ``::DOUBLE[]`` casts do (float32 products drift
    otherwise). The one Spark-side exact-cosine formula: JVM-side
    zip_with/aggregate, no UDF."""

    def inner(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return inner(a, b) / (F.sqrt(inner(a, a)) * F.sqrt(inner(b, b)))


@register(
    "cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS cos
    FROM embeddings e, q
    WHERE e.vec_id != {QUERY_VEC_ID}
    ORDER BY cos DESC, e.vec_id LIMIT {TOP_K}
    """,
)
def cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: broadcast the 1-row query side, dot
    product via zip_with/aggregate (JVM-side, no UDF), top-k via
    TakeOrderedAndProject. At 100 TB this is the exact-answer scan
    path; `ann_lsh_bucketed` is the sublinear one."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe")
    )
    # spread: the dot products run map-side over the corpus scan — a
    # single-file test scan would serialize them on one core
    joined = spread(e.filter(F.col("vec_id") != QUERY_VEC_ID)).crossJoin(
        F.broadcast(q)
    )

    cos = cosine(F.col("embedding"), F.col("qe"))
    return (
        joined.select("vec_id", "label", F.round(cos, 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _plane_signs(k: int) -> list[float]:
    """Hyperplane k as +-1.0 doubles, precomputed driver-side.

    Semantics are UNCHANGED from the md5 derivation the DuckDB oracle
    uses (sign = first hex char of md5('plane-{k}-{d}') in
    '02468ace'); hashlib.md5 == Spark md5 == DuckDB md5 on UTF-8
    bytes. Precomputing matters: the ±1 vectors are row-independent
    constants, but Catalyst does not constant-fold higher-order
    functions, so deriving them with an in-row transform(... md5 ...)
    expression re-hashed 8 planes x 64 dims = 512 md5 calls PER ROW —
    the dominant cost of the whole bucketing query at any scale."""
    import hashlib

    return [
        1.0
        if hashlib.md5(f"plane-{k}-{d}".encode()).hexdigest()[0] in "02468ace"
        else -1.0
        for d in range(DIM)
    ]


def _plane_sql_literal(k: int) -> str:
    vals = ", ".join(
        "1.0D" if v > 0 else "-1.0D" for v in _plane_signs(k)
    )
    return f"array({vals})"


def _bucket_sql(n_planes: int) -> str:
    """n-bit sign bucket as ONE expression: a single lambda over a 2D
    plane literal. One lambda body = one codegen unit; the earlier
    8-separate-zip_with formulation spent ~6 s of first-use parse +
    janino compile on its 8x larger expression tree."""
    planes2d = "array(" + ", ".join(
        _plane_sql_literal(k) for k in range(n_planes)
    ) + ")"
    return (
        f"array_join(transform({planes2d}, p -> CASE WHEN "
        "aggregate(zip_with(embedding, p, (x, y) -> cast(x as double) * y), "
        "cast(0.0 as double), (acc, v) -> acc + v) >= 0 "
        "THEN '1' ELSE '0' END), '')"
    )


@register(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH planes2 AS (
      SELECT k, list_transform(range({DIM}), d -> CASE WHEN
        strpos('02468ace', substr(md5('plane-' || k || '-' || d), 1, 1)) > 0
        THEN 1.0 ELSE -1.0 END) AS p
      FROM (SELECT unnest(range({N_PLANES})) AS k)
    ), bits AS (
      SELECT e.vec_id, p2.k,
        CASE WHEN list_sum(list_transform(range({DIM}),
             d -> e.embedding[d+1] * p2.p[d+1])) >= 0 THEN '1' ELSE '0' END AS bit
      FROM embeddings e, planes2 p2
    ), buckets AS (
      SELECT vec_id, string_agg(bit, '' ORDER BY k) AS bucket FROM bits
      GROUP BY vec_id
    )
    SELECT bucket, count(*) AS n_vecs FROM buckets
    GROUP BY bucket HAVING count(*) >= 2
    """,
)
def ann_lsh_bucketed(spark, sf_dir):
    """Sign-LSH bucket HISTOGRAM: 8 md5-derived ±1 hyperplanes; the
    bucket is the 8-bit sign pattern of the dot products; output =
    buckets holding >= 2 vectors. This is the fixed-depth diagnostic
    view of the index (stable bucket ids across corpus sizes make
    histograms comparable run-to-run); the QUERY paths derive their
    depth from corpus size instead — `ann_query_topk` via
    query_planes(n), `neardup_embedding` via neardup_bits(n) — so
    bucket population stays bounded at any scale."""
    e = spread(table(spark, sf_dir, "embeddings"))
    bucket = F.expr(_bucket_sql(N_PLANES))
    return (
        e.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .filter(F.col("n_vecs") >= 2)
    )


# Query-time ANN derives its plane count from CORPUS SIZE (like the
# near-dup bands): r = clamp(ceil(log2(n / QUERY_TARGET_BUCKET)), 2,
# 24), so buckets keep ~QUERY_TARGET_BUCKET candidates each as the
# corpus grows — 4 planes at the 500-vector test corpus, 24 (16M
# buckets) at 10^9 vectors — and recall rides on Hamming-1 multi-probe.
QUERY_TARGET_BUCKET = 32
QUERY_PLANES_MIN = 2
QUERY_PLANES_MAX = 24


def query_planes(n_vectors: int) -> int:
    if n_vectors <= 0:
        return QUERY_PLANES_MIN
    raw = math.ceil(math.log2(max(n_vectors / QUERY_TARGET_BUCKET, 1.0)))
    return min(QUERY_PLANES_MAX, max(QUERY_PLANES_MIN, raw))


# fixed plane count used by the ann_lsh_bucketed HISTOGRAM (a bucket
# diagnostic, not the query path) and by legacy helpers' defaults
QUERY_PLANES = 4


def _bucket_expr(n_planes: int = QUERY_PLANES):
    """The n-bit sign-LSH bucket as one SQL expression over
    `embedding` (shared by indexing and query sides so both hash
    identically)."""
    return F.expr(_bucket_sql(n_planes))


def _sign_bucket_py(vec, n_planes: int = QUERY_PLANES) -> str:
    """Driver-side replica of _bucket_sql for ONE vector (the 1-row
    query side is a bounded driver-side manifest — hashing it in
    Python avoids a broadcast-join stage entirely)."""
    bits = []
    for k in range(n_planes):
        p = _plane_signs(k)
        dot = sum(float(x) * s for x, s in zip(vec, p))
        bits.append("1" if dot >= 0 else "0")
    return "".join(bits)


def probe_buckets(qb: str) -> list[str]:
    """Multi-probe set: the query's own bucket plus every
    Hamming-distance-1 neighbor — 1 + n_planes buckets, the standard
    recall lever for sign-LSH (probing buckets that differ in the one
    least-confident hyperplane sign)."""
    flips = [
        qb[:i] + ("0" if qb[i] == "1" else "1") + qb[i + 1 :]
        for i in range(len(qb))
    ]
    return [qb] + flips


def _vec_sql_literal(vals) -> str:
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vals) + ")"


def _cos_vs_literal_sql(vals) -> str:
    """cosine(embedding, <literal vector>) as ONE Spark SQL expression
    (query norm precomputed driver-side; Catalyst won't constant-fold
    lambda trees, so the literal side must arrive pre-reduced)."""
    qn = math.sqrt(sum(float(v) ** 2 for v in vals))
    lit = _vec_sql_literal(vals)
    return (
        f"aggregate(zip_with(embedding, {lit}, "
        "(x, y) -> cast(x as double) * y), cast(0.0 as double), "
        "(acc, v) -> acc + v) / "
        "(sqrt(aggregate(transform(embedding, "
        "x -> cast(x as double) * cast(x as double)), cast(0.0 as double), "
        f"(acc, v) -> acc + v)) * {qn!r}D)"
    )


def _collect_query_vec(spark, sf_dir, vec_id: int):
    row = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .collect()
    )
    return [float(x) for x in row[0].embedding]


@register(
    "ann_query_topk",
    oracle=f"""
    WITH params AS (
      SELECT least({QUERY_PLANES_MAX}, greatest({QUERY_PLANES_MIN},
               cast(ceil(log2(count(*) / {QUERY_TARGET_BUCKET}.0)) AS INT)))
             AS r
      FROM embeddings
    ), bits AS (
      SELECT e.vec_id, kk.k,
        CASE WHEN list_sum(list_transform(range({DIM}), d ->
          e.embedding[d+1] * (CASE WHEN strpos('02468ace',
            substr(md5('plane-' || kk.k || '-' || d), 1, 1)) > 0
            THEN 1.0 ELSE -1.0 END))) >= 0 THEN '1' ELSE '0' END AS bit
      FROM embeddings e
      CROSS JOIN (SELECT unnest(range({QUERY_PLANES_MAX})) AS k) kk
      CROSS JOIN params p
      WHERE kk.k < p.r
    ), buckets AS (
      SELECT vec_id, string_agg(bit, '' ORDER BY k) AS bucket
      FROM bits GROUP BY vec_id
    ), b AS (
      SELECT e.vec_id, e.label, e.embedding, buckets.bucket
      FROM embeddings e JOIN buckets USING (vec_id)
    ), q AS (
      SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = {QUERY_VEC_ID}
    ), probes AS (
      SELECT qb AS pb FROM q
      UNION
      SELECT substr(qb, 1, i) ||
             (CASE substr(qb, i + 1, 1) WHEN '1' THEN '0' ELSE '1' END) ||
             substr(qb, i + 2) AS pb
      FROM q
      CROSS JOIN (SELECT unnest(range({QUERY_PLANES_MAX})) AS i) t
      CROSS JOIN params p
      WHERE t.i < p.r
    )
    SELECT b.vec_id, b.label,
           round(list_cosine_similarity(b.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS cos
    FROM b JOIN probes ON b.bucket = probes.pb, q
    WHERE b.vec_id != {QUERY_VEC_ID}
    ORDER BY cos DESC, b.vec_id LIMIT {TOP_K}
    """,
)
def ann_query_topk(spark, sf_dir):
    """Query-time ANN with corpus-sized buckets and Hamming-1
    multi-probe: plane count r = query_planes(n) grows with the corpus
    (so each bucket keeps ~{QUERY_TARGET_BUCKET} candidates at any
    scale — no fixed-16-bucket plan); the query vector is hashed to
    its r-bit bucket DRIVER-SIDE (1-row bounded manifest), expanded to
    the 1 + r probe set (own bucket + every 1-bit flip), then only
    vectors whose bucket is in the probe set are exact-rescored for
    top-k. At 100 TB the index side is bucketed/partitioned by
    `bucket`, so the probe filter prunes to (1 + r)/2^r of the
    partitions; multi-probe is what keeps recall when a near neighbor
    straddles one hyperplane. The plan is scan -> map-side bucket
    filter -> TakeOrderedAndProject: no join, no shuffle beyond the
    final top-k gather."""
    n = table(spark, sf_dir, "embeddings").count()
    r = query_planes(n)
    qe = _collect_query_vec(spark, sf_dir, QUERY_VEC_ID)
    probes = probe_buckets(_sign_bucket_py(qe, r))
    e = spread(table(spark, sf_dir, "embeddings"))
    cand = (
        e.withColumn("bucket", _bucket_expr(r))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .filter(F.col("bucket").isin(probes))
    )
    cos = F.expr(_cos_vs_literal_sql(qe))
    return (
        cand.select("vec_id", "label", F.round(cos, 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# --------------------------------------------------- citation insertion

N_ANSWER_SENTS = 20  # doc/vec ids < this are the "answer sentences"
TK_WEIGHT = 0.7  # token-similarity weight  (reference generate.py:96-101)
VT_WEIGHT = 0.3  # vector-similarity weight (same call site)
CITE_THRESHOLD = 0.5  # below this the sentence gets no citation


@register(
    "cite_insertion",
    oracle=f"""
    WITH side AS (
      SELECT d.doc_id AS id,
             list_distinct(str_split(lower(d.text), ' ')) AS toks,
             e.embedding::DOUBLE[] AS vec
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ), s AS (SELECT * FROM side WHERE id < {N_ANSWER_SENTS}),
    c AS (SELECT * FROM side WHERE id >= {N_ANSWER_SENTS}),
    sims AS (
      SELECT s.id AS sent_id, c.id AS chunk_id,
             len(list_intersect(s.toks, c.toks)) * 1.0 /
               greatest(len(s.toks) + len(c.toks)
                        - len(list_intersect(s.toks, c.toks)), 1) AS tok_sim,
             list_cosine_similarity(s.vec, c.vec) AS vec_sim
      FROM s, c
    ), ranked AS (
      SELECT sent_id, chunk_id, tok_sim, vec_sim,
             {TK_WEIGHT} * tok_sim + {VT_WEIGHT} * vec_sim AS hybrid,
             row_number() OVER (
               PARTITION BY sent_id
               ORDER BY {TK_WEIGHT} * tok_sim + {VT_WEIGHT} * vec_sim DESC,
                        chunk_id
             ) AS rn
      FROM sims
    )
    SELECT sent_id, chunk_id AS cite_id,
           round(tok_sim, 4) AS tok_sim, round(vec_sim, 4) AS vec_sim,
           round(hybrid, 4) AS hybrid
    FROM ranked WHERE rn = 1 AND hybrid >= {CITE_THRESHOLD}
    """,
)
def cite_insertion(spark, sf_dir):
    """Citation-insertion similarity join — the reference's only
    join-like dataflow (agent/component/generate.py:92-125 `set_cite`:
    insert_citations(answer sentences, chunk token lists, chunk
    vectors, tkweight=0.7, vtweight=0.3); the scorer itself lives in
    the absent `rag` package, so the hybrid 0.7*token + 0.3*vector
    similarity join is re-expressed here). Each answer sentence is
    joined against the chunk corpus, scored with hybrid = 0.7*Jaccard
    + 0.3*cosine, and cites its best chunk when the score clears the
    threshold.

    Scale shape: the sentence side is tiny (one answer) -> broadcast;
    the chunk corpus streams map-side through the hybrid scoring; the
    per-sentence argmax is a max_by AGGREGATE (not a window), so the
    partial aggregation collapses each map partition to <= n_sents
    rows before the shuffle — the Exchange carries n_sents rows per
    task, not every scored (sentence x chunk) pair."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(doc_words()).alias("toks"),
    )
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    side = spread(d.join(e, d.doc_id == e.vec_id)).select(
        "doc_id", "toks", "embedding"
    )
    sents = side.filter(F.col("doc_id") < N_ANSWER_SENTS).select(
        F.col("doc_id").alias("sent_id"),
        F.col("toks").alias("stoks"),
        F.col("embedding").alias("svec"),
    )
    chunks = side.filter(F.col("doc_id") >= N_ANSWER_SENTS).select(
        F.col("doc_id").alias("chunk_id"),
        F.col("toks").alias("ctoks"),
        F.col("embedding").alias("cvec"),
    )
    j = chunks.crossJoin(F.broadcast(sents))

    inter = F.size(F.array_intersect(F.col("stoks"), F.col("ctoks")))
    union = F.size("stoks") + F.size("ctoks") - inter
    tok_sim = inter * F.lit(1.0) / F.greatest(union, F.lit(1))

    vec_sim = cosine(F.col("svec"), F.col("cvec"))
    hybrid = F.lit(TK_WEIGHT) * tok_sim + F.lit(VT_WEIGHT) * vec_sim

    scored = j.select(
        "sent_id",
        "chunk_id",
        tok_sim.alias("tok_sim"),
        vec_sim.alias("vec_sim"),
        hybrid.alias("hybrid"),
    )
    # argmax as an aggregate, NOT a row_number window: max_by gets a
    # map-side partial, so each task ships <= n_sents best-so-far rows
    # into the Exchange instead of shuffling every scored pair into
    # n_sents window partitions (a <=20-reducer straggler at scale).
    # Tie-break matches the oracle (hybrid DESC, chunk_id ASC) via the
    # lexicographic struct max over (hybrid, -chunk_id).
    best = F.expr(
        "max_by(named_struct("
        "'chunk_id', chunk_id, 'tok_sim', tok_sim, "
        "'vec_sim', vec_sim, 'hybrid', hybrid), "
        "named_struct('h', hybrid, 'nc', -chunk_id))"
    )
    return (
        scored.groupBy("sent_id")
        .agg(best.alias("b"))
        .filter(F.col("b.hybrid") >= CITE_THRESHOLD)
        .select(
            "sent_id",
            F.col("b.chunk_id").alias("cite_id"),
            F.round("b.tok_sim", 4).alias("tok_sim"),
            F.round("b.vec_sim", 4).alias("vec_sim"),
            F.round("b.hybrid", 4).alias("hybrid"),
        )
    )


# ------------------------------------------- embedding-cosine near-dup

NEARDUP_COS_THRESHOLD = 0.25
NEARDUP_BANDS = 2  # OR over 2 independent bands keeps recall as r grows
NEARDUP_TARGET_BUCKET = 16  # expected vectors per bucket
NEARDUP_MIN_BITS = 4
NEARDUP_MAX_BITS = 24


def neardup_bits(n_vectors: int) -> int:
    """Bits per band, derived from CORPUS SIZE so the bucket count
    grows with the data: r = clamp(ceil(log2(n / target_bucket)),
    4, 24). At 500 test vectors r=5 (32 buckets/band); at 10^9 crawl
    vectors r=24 (16M buckets/band) — the within-bucket pair space
    stays ~n * target_bucket instead of the quadratic n^2/2^const the
    round-2 fixed 8-plane variant had."""
    if n_vectors <= 0:
        return NEARDUP_MIN_BITS
    raw = math.ceil(math.log2(max(n_vectors / NEARDUP_TARGET_BUCKET, 1.0)))
    return min(NEARDUP_MAX_BITS, max(NEARDUP_MIN_BITS, raw))


def _nd_plane_signs(band: int, j: int) -> list[float]:
    """Band/bit-indexed ±1 hyperplane (names are independent of r so
    the plane set is stable as the corpus grows)."""
    import hashlib

    return [
        1.0
        if hashlib.md5(f"nd-{band}-{j}-{d}".encode()).hexdigest()[0] in "02468ace"
        else -1.0
        for d in range(DIM)
    ]


def _nd_bucket_sql(band: int, r: int) -> str:
    """r-bit sign bucket for one band as ONE lambda over a 2D plane
    literal (planes precomputed driver-side — Catalyst does not
    constant-fold higher-order functions)."""
    planes2d = "array(" + ", ".join(
        "array("
        + ", ".join(
            "1.0D" if v > 0 else "-1.0D" for v in _nd_plane_signs(band, j)
        )
        + ")"
        for j in range(r)
    ) + ")"
    return (
        f"array_join(transform({planes2d}, p -> CASE WHEN "
        "aggregate(zip_with(embedding, p, (x, y) -> cast(x as double) * y), "
        "cast(0.0 as double), (acc, v) -> acc + v) >= 0 "
        "THEN '1' ELSE '0' END), '')"
    )


@register(
    "neardup_embedding",
    oracle=f"""
    WITH params AS (
      SELECT least({NEARDUP_MAX_BITS}, greatest({NEARDUP_MIN_BITS},
               cast(ceil(log2(count(*) / {NEARDUP_TARGET_BUCKET}.0)) AS INT)))
             AS r
      FROM embeddings
    ), bits AS (
      SELECT e.vec_id, bb.band, jj.j,
        CASE WHEN list_sum(list_transform(range({DIM}), d ->
          e.embedding[d+1] * (CASE WHEN strpos('02468ace',
            substr(md5('nd-' || bb.band || '-' || jj.j || '-' || d), 1, 1)) > 0
            THEN 1.0 ELSE -1.0 END))) >= 0 THEN '1' ELSE '0' END AS bit
      FROM embeddings e
      CROSS JOIN (SELECT unnest(range({NEARDUP_BANDS})) AS band) bb
      CROSS JOIN (SELECT unnest(range({NEARDUP_MAX_BITS})) AS j) jj
      CROSS JOIN params p
      WHERE jj.j < p.r
    ), buckets AS (
      SELECT vec_id, band, string_agg(bit, '' ORDER BY j) AS bucket
      FROM bits GROUP BY vec_id, band
    ), cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM buckets x JOIN buckets y
        ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS cos
    FROM cand c
    JOIN embeddings a ON c.vec_a = a.vec_id
    JOIN embeddings b ON c.vec_b = b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[])
          >= {NEARDUP_COS_THRESHOLD}
    """,
)
def neardup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (round brief's fifth
    dedup variant), banded sign-LSH with CORPUS-SIZED buckets: r =
    neardup_bits(n) hyperplane bits per band (so bucket count scales
    with n — no fixed-2^8 quadratic pair space), OR'd over
    {NEARDUP_BANDS} independent bands for recall; exact cosine >=
    {NEARDUP_COS_THRESHOLD} confirms candidates. The pair join runs on
    BUCKET-ONLY rows — (vec_id, band, bucket), no vectors — and the
    distinct candidate pairs then re-join the embeddings table by id
    for the exact-cosine verify, so each vector crosses an Exchange at
    most once per verify side instead of once per band per collision
    (the same ship-ids-not-payloads rule the text near-dup enforces,
    and exactly the oracle's CTE shape). n comes from parquet
    row-group metadata (count-only scan), the analog of table stats
    on a cluster."""
    n = table(spark, sf_dir, "embeddings").count()
    r = neardup_bits(n)
    e = spread(table(spark, sf_dir, "embeddings"))
    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.expr(_nd_bucket_sql(k, r)).alias("bucket"),
            )
            for k in range(NEARDUP_BANDS)
        ]
    )
    b = e.select(
        "vec_id", F.explode(bands).alias("bb")
    ).select(
        "vec_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    x = b.select(F.col("vec_id").alias("vec_a"), "band", "bucket")
    y = b.select(
        F.col("vec_id").alias("vec_b"),
        F.col("band").alias("band_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cand = (
        x.join(
            y,
            (F.col("band") == F.col("band_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    eb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    pairs = cand.join(ea, "vec_a").join(eb, "vec_b")

    cos = cosine(F.col("ea"), F.col("eb"))
    return (
        pairs.withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= NEARDUP_COS_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cos"))
    )


# ------------------------------------------ hybrid keyword + vector retrieval

RETR_TERMS = ("vector", "stream", "merge", "hash")
RETR_KW_WEIGHT = 0.7  # keywords_similarity_weight (reference retrieval.py:38-49)
RETR_VT_WEIGHT = 0.3
BM25_K1 = 1.2
BM25_B = 0.75


def _duck_bm25_sql() -> str:
    """DuckDB replay of the per-document BM25 sum over RETR_TERMS."""
    parts = []
    for i in range(len(RETR_TERMS)):
        parts.append(
            f"ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1) * "
            f"tf{i} * ({BM25_K1} + 1) / "
            f"(tf{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
        )
    return " + ".join(parts)


@register(
    "hybrid_retrieval_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, str_split(lower(text), ' ') AS tk FROM documents
    ), docs AS (
      SELECT doc_id, len(tk) AS dl,
             {", ".join(f"len(list_filter(tk, x -> x = '{t}')) AS tf{i}" for i, t in enumerate(RETR_TERMS))}
      FROM toks
    ), stats AS (
      SELECT count(*) AS n, avg(dl) AS avgdl,
             {", ".join(f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(len(RETR_TERMS)))}
      FROM docs
    ), scored AS (
      SELECT d.doc_id, {_duck_bm25_sql()} AS bm25 FROM docs d, stats
    ), mx AS (SELECT max(bm25) AS mb FROM scored),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}),
    vs AS (
      SELECT e.vec_id, list_cosine_similarity(e.embedding::DOUBLE[], q.qe)
               AS vsim
      FROM embeddings e, q
    )
    SELECT s.doc_id,
           round(s.bm25 / mx.mb, 4) AS kw_score,
           round(vs.vsim, 4) AS vec_score,
           round({RETR_KW_WEIGHT} * s.bm25 / mx.mb
                 + {RETR_VT_WEIGHT} * vs.vsim, 4) AS hybrid
    FROM scored s JOIN vs ON s.doc_id = vs.vec_id, mx
    WHERE s.doc_id != {QUERY_VEC_ID}
    ORDER BY {RETR_KW_WEIGHT} * s.bm25 / mx.mb
             + {RETR_VT_WEIGHT} * vs.vsim DESC, s.doc_id
    LIMIT {TOP_K}
    """,
)
def hybrid_retrieval_topk(spark, sf_dir):
    """Hybrid keyword+vector retrieval — the reference's weighted
    blend (retrieval.py:38-49 exposes `keywords_similarity_weight`;
    retrieval.py:100-112 applies kw*sim_kw + (1-kw)*sim_vec in the
    top-n): a deterministic BM25 keyword score over RETR_TERMS
    (Robertson/Sparck-Jones idf, k1={BM25_K1} b={BM25_B}),
    max-normalized, blended 0.7/0.3 with query-vector cosine, top-n.

    Scale shape: tf/dl are map-side array ops on the document scan;
    corpus stats (N, avgdl, df_t) and the bm25 max are one-row
    aggregates broadcast back (two tiny scalar stages — the analog of
    the reference's index-held statistics); the vector side computes
    cosine AGAINST THE LITERAL query vector before the score join, so
    only (vec_id, vsim) doubles cross the doc_id<->vec_id join
    Exchange, never embeddings."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", doc_words().alias("tk")
    )
    def _match(t):
        # closure, NOT a default-arg lambda: F.filter treats a
        # 2-parameter lambda as (element, index)
        return lambda x: x == F.lit(t)

    tf_cols = [
        F.size(F.filter(F.col("tk"), _match(t))).alias(f"tf{i}")
        for i, t in enumerate(RETR_TERMS)
    ]
    docs = d.select("doc_id", F.size("tk").alias("dl"), *tf_cols)
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(RETR_TERMS))
        ],
    )
    joined = docs.crossJoin(F.broadcast(stats))
    bm25 = None
    for i in range(len(RETR_TERMS)):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
            + 1
        )
        sat = (
            F.col(f"tf{i}")
            * (BM25_K1 + 1)
            / (
                F.col(f"tf{i}")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        term = idf * sat
        bm25 = term if bm25 is None else bm25 + term
    scored = joined.select("doc_id", bm25.alias("bm25"))
    mx = scored.agg(F.max("bm25").alias("mb"))

    qe = _collect_query_vec(spark, sf_dir, QUERY_VEC_ID)
    vs = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_cos_vs_literal_sql(qe)).alias("vsim")
    )
    kw = F.col("bm25") / F.col("mb")
    hybrid = F.lit(RETR_KW_WEIGHT) * kw + F.lit(RETR_VT_WEIGHT) * F.col("vsim")
    return (
        scored.join(vs, scored.doc_id == vs.vec_id)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("doc_id") != QUERY_VEC_ID)
        .select(
            "doc_id",
            F.round(kw, 4).alias("kw_score"),
            F.round("vsim", 4).alias("vec_score"),
            F.round(hybrid, 4).alias("hybrid"),
            hybrid.alias("_h"),
        )
        .orderBy(F.desc("_h"), F.asc("doc_id"))
        .limit(TOP_K)
        .drop("_h")
    )


# ----------------------------------------------------------- IVF ANN

IVF_CENTROID_STRIDE = 50  # vec_id % stride == 7 -> centroid
IVF_CENTROID_PICK = 7
IVF_NPROBE = 2  # query probes its 2 nearest cells


def _duck_cos(a: str, b: str) -> str:
    return f"list_cosine_similarity({a}::DOUBLE[], {b}::DOUBLE[])"


_IVF_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
      WHERE vec_id % {IVF_CENTROID_STRIDE} = {IVF_CENTROID_PICK}
    ), assigned AS (
      SELECT vec_id, label, embedding, cent_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cent_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_duck_cos('e.embedding', 'c.cvec')} DESC, c.cent_id
               ) AS rn
        FROM embeddings e, cents c
      ) WHERE rn = 1
    ), qcells AS (
      SELECT cent_id FROM (
        SELECT c.cent_id,
               row_number() OVER (
                 ORDER BY {_duck_cos('q.embedding', 'c.cvec')} DESC, c.cent_id
               ) AS rn
        FROM embeddings q, cents c WHERE q.vec_id = {QUERY_VEC_ID}
      ) WHERE rn <= {IVF_NPROBE}
    )
    SELECT a.vec_id, a.label,
           round({_duck_cos('a.embedding', 'q.embedding')}, 4) AS cos
    FROM assigned a
    JOIN qcells ON a.cent_id = qcells.cent_id,
    (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id != {QUERY_VEC_ID}
    ORDER BY cos DESC, a.vec_id LIMIT {TOP_K}
    """


def _collect_centroids(spark, sf_dir):
    """Bounded driver-side manifest: the k = n/stride centroid rows
    (k << corpus), sorted by cent_id so argmax index order == the
    oracle's cent_id ASC tie-break."""
    rows = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % IVF_CENTROID_STRIDE == IVF_CENTROID_PICK)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows]


def _ivf_assign_sql(cents) -> str:
    """Nearest-centroid id as ONE row-local expression: argmax of
    dot(embedding, ĉ_i) over driver-NORMALIZED centroid literals
    (dividing by the row's own norm is a positive constant across
    centroids, so it cannot change the argmax and is dropped).
    Lexicographic struct max over (score, -cent_id) replays the
    oracle's cosine DESC, cent_id ASC tie-break. No join, no window,
    no Exchange — the round-2 Window.partitionBy(vec_id) variant
    shuffled the full embedding array for every corpus vector."""
    structs = ", ".join(
        "named_struct('nc', {nc}L, 'v', {vec})".format(
            nc=-cid,
            vec=_vec_sql_literal(
                [x / math.sqrt(sum(v * v for v in vec)) for x in vec]
            ),
        )
        for cid, vec in cents
    )
    return (
        f"-array_max(transform(array({structs}), c -> named_struct("
        "'s', aggregate(zip_with(embedding, c.v, "
        "(x, y) -> cast(x as double) * y), cast(0.0 as double), "
        "(acc, v) -> acc + v), "
        "'nc', c.nc))).nc"
    )


@register("ann_ivf_topk", oracle=_IVF_ORACLE)
def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN (the round brief's second scale path next to
    LSH): a deterministic coarse quantizer — every
    {IVF_CENTROID_STRIDE}th vector is a centroid — partitions the
    corpus into cells by nearest-centroid (cosine); a query probes
    its {IVF_NPROBE} nearest cells and exact-rescores only those
    candidates.

    Centroids are a bounded driver-side manifest (k << corpus); the
    query's probe cells are picked on the driver. Assignment, probe
    filter and rescore are ONE vectorized numpy pass inside
    mapInPandas: scores = E @ Ĉᵀ against the normalized centroid
    matrix shipped in the closure (a broadcast variable on a
    cluster), so the plan does not grow with k. np.argmax picks the
    first maximum, which replays the oracle's cent_id ASC tie-break
    because centroids are sorted by cent_id. No join, no per-vector
    shuffle: scan -> map-side kernel -> TakeOrderedAndProject. At
    10^9 vectors the index is written partitioned by cent_id and a
    query touches nprobe/k of the data — the classic IVF-flat
    trade-off, with centroids chosen deterministically instead of by
    k-means so the oracle can replay the exact assignment."""
    import numpy as np
    import pandas as pd

    cents = _collect_centroids(spark, sf_dir)
    qe = _collect_query_vec(spark, sf_dir, QUERY_VEC_ID)

    cids = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([v for _, v in cents], dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    qvec = np.asarray(qe, dtype=np.float64)
    qnorm = float(np.linalg.norm(qvec))

    qscores = cmat @ qvec  # cosine * qnorm: same ordering
    order = np.lexsort((cids, -qscores))
    probe_ids = cids[order[:IVF_NPROBE]]

    def kernel(batches):
        for pdf in batches:
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if emb.size == 0:
                continue
            cells = cids[np.argmax(emb @ cmat.T, axis=1)]
            keep = np.isin(cells, probe_ids) & (
                pdf["vec_id"].to_numpy() != QUERY_VEC_ID
            )
            sub = emb[keep]
            norms = np.linalg.norm(sub, axis=1)
            cos = (sub @ qvec) / (norms * qnorm)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "label": pdf["label"].to_numpy()[keep],
                    "cos_raw": cos,
                }
            )

    e = spread(table(spark, sf_dir, "embeddings"))
    cand = e.select("vec_id", "label", "embedding").mapInPandas(
        kernel, schema="vec_id bigint, label int, cos_raw double"
    )
    return (
        cand.select("vec_id", "label", F.round("cos_raw", 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# ------------------------------------------------------------ SemDeDup

SEMDEDUP_TAU = 0.4  # within-cluster cosine above this = semantic dup

_SEMDEDUP_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
      WHERE vec_id % {IVF_CENTROID_STRIDE} = {IVF_CENTROID_PICK}
    ), assigned AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_duck_cos('e.embedding', 'c.cvec')} DESC, c.cent_id
               ) AS rn
        FROM embeddings e, cents c
      ) WHERE rn = 1
    ), dropped AS (
      SELECT DISTINCT a.vec_id
      FROM assigned a JOIN assigned b
        ON a.cent_id = b.cent_id AND b.vec_id < a.vec_id
      WHERE {_duck_cos('a.embedding', 'b.embedding')} >= {SEMDEDUP_TAU}
    )
    SELECT a.cent_id,
           count(*)::BIGINT AS n_vecs,
           sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_dropped,
           (count(*) - sum(CASE WHEN d.vec_id IS NOT NULL
                                THEN 1 ELSE 0 END))::BIGINT AS n_kept,
           round(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS drop_frac
    FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    GROUP BY a.cent_id
    """


@register("semdedup", oracle=_SEMDEDUP_ORACLE)
def semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning in embedding space — cluster the corpus
    with the deterministic IVF coarse quantizer (same centroids and
    assignment as `ann_ivf_topk`, shared oracle CTE), then inside each
    cluster mark every vector whose cosine to a LOWER-id cluster-mate
    is >= {SEMDEDUP_TAU} as a semantic dup (keep-first on vec_id — a
    deterministic stand-in for the paper's keep-farthest-from-centroid
    rule). Output is the per-cluster prune manifest: cluster size,
    kept/dropped counts, drop fraction.

    Scale shape: cell assignment is the ROW-LOCAL literal-argmax (no
    Exchange — see `_ivf_assign_sql`); the pairwise check is a
    self-join keyed on cent_id, so each embedding crosses exactly ONE
    Exchange per join side, and the pair space is sum(|cell|^2) — the
    quantizer keeps cells at ~IVF_CENTROID_STRIDE vectors no matter
    the corpus size (k grows with n), so pairs scale LINEARLY with n,
    not n^2. The dropped set is id-only before the rollup join. At
    10^12 docs the per-cluster pairwise would run as a blocked numpy
    kernel inside applyInPandas per cent_id — same plan shape, one
    Exchange. Unlike `neardup_embedding` (sign-LSH recall buckets +
    exact verify), SemDeDup partitions the space ONCE and prunes
    inside cells: no multi-band explosion, deterministic cluster
    manifest as the artifact."""
    cents = _collect_centroids(spark, sf_dir)
    e = spread(table(spark, sf_dir, "embeddings"))
    assigned = e.select(
        "vec_id",
        "embedding",
        F.expr(_ivf_assign_sql(cents)).alias("cent_id"),
    )

    a = assigned.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        "cent_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("cent_id").alias("cent_b"),
    )
    cos = cosine(F.col("ea"), F.col("eb"))
    dropped = (
        a.join(
            b,
            (F.col("cent_id") == F.col("cent_b"))
            & (F.col("vb") < F.col("va")),
        )
        .filter(cos >= SEMDEDUP_TAU)
        .select(F.col("va").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return (
        assigned.select("vec_id", "cent_id")
        .join(dropped, "vec_id", "left")
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.coalesce("_dropped", F.lit(0))).alias("n_dropped"),
            (
                F.count(F.lit(1)) - F.sum(F.coalesce("_dropped", F.lit(0)))
            ).alias("n_kept"),
            F.round(
                F.sum(F.coalesce("_dropped", F.lit(0)))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("drop_frac"),
        )
    )


# ------------------------------------------------- IVF k-means refine

KMEANS_ITERS = 2  # Lloyd update rounds over the deterministic seeds


def _km_assign_cte(name: str, cents_cte: str) -> str:
    """One Lloyd assignment round as a DuckDB CTE: nearest centroid by
    cosine, cent_id ASC tie-break (the IVF assignment shape)."""
    return f"""{name} AS (
      SELECT vec_id, emb, cent_id FROM (
        SELECT e.vec_id, e.emb, c.cent_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.emb, c.cvec) DESC,
                          c.cent_id
               ) AS rn
        FROM e, {cents_cte} c
      ) WHERE rn = 1
    )"""


def _km_update_cte(name: str, assign_cte: str) -> str:
    """One Lloyd centroid update as a DuckDB CTE: per-dimension mean
    SNAPPED to 6 decimals — the cross-engine determinism contract (sum
    order differs between engines; the snap puts both on the same
    double before the next discrete assignment)."""
    return f"""{name} AS (
      SELECT cent_id, list(cv ORDER BY pos) AS cvec FROM (
        SELECT cent_id, i AS pos, round(avg(emb[i + 1]), 6) AS cv
        FROM {assign_cte}, unnest(range(len(emb))) AS t(i)
        GROUP BY cent_id, i
      ) GROUP BY cent_id
    )"""


_KMEANS_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), seeds AS (
      SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cvec
      FROM embeddings
      WHERE vec_id % {IVF_CENTROID_STRIDE} = {IVF_CENTROID_PICK}
    ), {_km_assign_cte('a1', 'seeds')},
    {_km_update_cte('c1', 'a1')},
    {_km_assign_cte('a2', 'c1')},
    {_km_update_cte('c2', 'a2')},
    {_km_assign_cte('a3', 'c2')}
    SELECT a.cent_id,
           count(*)::BIGINT AS n_vecs,
           round(avg(list_cosine_similarity(a.emb, c.cvec)), 4)
             AS avg_cos,
           round(min(list_cosine_similarity(s.cvec, c.cvec)), 4)
             AS drift_cos
    FROM a3 a
    JOIN c2 c ON a.cent_id = c.cent_id
    JOIN seeds s ON a.cent_id = s.cent_id
    GROUP BY a.cent_id
    """


@register("ivf_kmeans_refine", oracle=_KMEANS_ORACLE)
def ivf_kmeans_refine(spark, sf_dir):
    """The IVF index-BUILD step the ANN family's docstrings defer to:
    {KMEANS_ITERS} Lloyd iterations of spherical k-means (cosine
    assignment, per-dimension mean update) over the deterministic
    seeds, then the converged-cell manifest: cluster size, mean
    within-cell cosine (cohesion), and seed->final centroid drift.

    Scale shape, per iteration: assignment is the ROW-LOCAL literal
    argmax (`_ivf_assign_sql` — no join, no vector shuffle); the
    update shuffles map-side PARTIAL (cent_id, pos) sums — bounded by
    partitions x k x d, never raw vectors (the label_centroid idiom)
    — and collects the k x d centroid matrix to the driver (the
    bounded-manifest pattern; at real IVF k the collect is k rows of
    d doubles, e.g. 2^16 x 64 = 32 MB). Each round's centroids are
    re-embedded as literals, so NO lineage accumulates across
    iterations (nothing to localCheckpoint — the dedup_components
    hazard does not arise) and the corpus is re-scanned, not
    re-shuffled. The final stats pass broadcast-joins the k-row
    centroid table for the exact per-row cosine.

    Cross-engine determinism: per-dimension means are snapped to 6
    decimals on BOTH engines before the next assignment (aggregate
    sum order is engine- and partition-dependent; the snap puts both
    on the same double before any discrete argmax depends on it)."""
    cents = _collect_centroids(spark, sf_dir)
    seed_vecs = {cid: vec for cid, vec in cents}
    e = spread(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    for _ in range(KMEANS_ITERS):
        assigned = e.withColumn("cent_id", F.expr(_ivf_assign_sql(cents)))
        rows = (
            assigned.select(
                "cent_id", F.posexplode("embedding").alias("pos", "v")
            )
            .groupBy("cent_id", "pos")
            .agg(F.round(F.avg("v"), 6).alias("c"))
            .groupBy("cent_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "c"))
                ).alias("pc")
            )
            .select(
                "cent_id", F.transform("pc", lambda s: s["c"]).alias("cvec")
            )
            .orderBy("cent_id")
            .collect()
        )
        cents = [(int(r["cent_id"]), [float(x) for x in r["cvec"]]) for r in rows]

    final = e.withColumn("cent_id", F.expr(_ivf_assign_sql(cents)))
    cdf = spark.createDataFrame(
        [(cid, vec, seed_vecs[cid]) for cid, vec in cents],
        "cent_id bigint, cvec array<double>, svec array<double>",
    )

    cos = cosine(F.col("embedding"), F.col("cvec"))
    drift = cosine(F.col("svec"), F.col("cvec"))
    return (
        final.join(F.broadcast(cdf), "cent_id")
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(cos), 4).alias("avg_cos"),
            F.round(F.min(drift), 4).alias("drift_cos"),
        )
    )


# ------------------------------------------------- product quantization

# PQ: DIM=64 split into PQ_M subspaces of PQ_SUB dims; PQ_K codes per
# subspace -> a vector compresses to PQ_M single-byte codes (64 B of
# float32 -> 8 B, 32x). Embedding values are quantized to EXACT
# integers (floor(x * PQ_SCALE)) before any distance math so code
# assignment and ADC scores are integer arithmetic on both engines —
# no float-summation-order drift can flip an argmin (the
# classifier_filter_stats milli-weight recipe applied to geometry).
PQ_M = 8
PQ_SUB = DIM // PQ_M
PQ_K = 16
PQ_SCALE = 1000


def _collect_pq_codebook(spark, sf_dir):
    """Bounded driver-side codebook manifest: the PQ_K rows with
    vec_id < PQ_K, each quantized to integer milli-units. A production
    build trains per-subspace k-means (the `ivf_kmeans_refine` Lloyd
    machinery, run once per subspace slice); a deterministic selection
    stands in here so the DuckDB oracle can replay the exact codebook
    — the IVF coarse-quantizer precedent (`_collect_centroids`)."""
    rows = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < PQ_K)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    assert len(rows) == PQ_K, f"codebook needs vec_id 0..{PQ_K - 1}"
    return [
        [int(math.floor(float(x) * PQ_SCALE)) for x in r.embedding]
        for r in rows
    ]


def _pq_cb3(codebook):
    """Codebook as an int64 (PQ_K, PQ_M, PQ_SUB) array."""
    import numpy as np

    return np.array(codebook, dtype=np.int64).reshape(PQ_K, PQ_M, PQ_SUB)


def _pq_encode(emb_f64, cb3):
    """Vectorized exact-integer PQ encode of a (B, DIM) float batch:
    returns (codes, resid) both (B, PQ_M) int64 — nearest code per
    subspace by squared L2 over milli-quantized ints (np.argmin takes
    the FIRST minimum, replaying the code-id ASC tie-break exactly
    because the distances are integers), and the residual distance to
    the chosen code. einsum keeps the intermediate at (B, PQ_K, PQ_M)
    int64 — no (B, K, M, SUB) materialization."""
    import numpy as np

    ei = np.floor(emb_f64 * PQ_SCALE).astype(np.int64)
    ei3 = ei.reshape(-1, PQ_M, PQ_SUB)
    cross = np.einsum("bms,kms->bkm", ei3, cb3)
    en = (ei3 * ei3).sum(axis=2)  # (B, M)
    cn = (cb3 * cb3).sum(axis=2)  # (K, M)
    d = en[:, None, :] + cn[None, :, :] - 2 * cross  # (B, K, M)
    codes = np.argmin(d, axis=1)  # (B, M)
    b_idx = np.arange(d.shape[0])[:, None]
    m_idx = np.arange(PQ_M)[None, :]
    resid = d[b_idx, codes, m_idx]
    return codes, resid


# Shared oracle CTE chain: milli-quantize, derive the codebook, score
# every (vector, subspace, code) triple exactly, keep the argmin.
_PQ_ASSIGN_CTES = f"""
    qe AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> floor(x * {PQ_SCALE})::BIGINT) AS qi
      FROM embeddings
    ), cb AS (
      SELECT vec_id AS code, qi AS cvec FROM qe WHERE vec_id < {PQ_K}
    ), dists AS (
      SELECT e.vec_id, t.m, c.code,
             list_sum(list_transform(range(1, {PQ_SUB} + 1), d ->
               (e.qi[{PQ_SUB} * t.m + d] - c.cvec[{PQ_SUB} * t.m + d])
               * (e.qi[{PQ_SUB} * t.m + d] - c.cvec[{PQ_SUB} * t.m + d])
             ))::BIGINT AS dist
      FROM qe e
      CROSS JOIN range({PQ_M}) AS t(m)
      CROSS JOIN cb c
    ), assigned AS (
      SELECT vec_id, m, code, dist FROM (
        SELECT vec_id, m, code, dist,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, code) AS rn
        FROM dists
      ) WHERE rn = 1
    )"""


_PQ_TOPK_ORACLE = f"""
    WITH {_PQ_ASSIGN_CTES}, dt AS (
      SELECT m, code, dist FROM dists WHERE vec_id = {QUERY_VEC_ID}
    ), adist AS (
      SELECT a.vec_id, sum(d.dist)::BIGINT AS adist_sq
      FROM assigned a JOIN dt d ON a.m = d.m AND a.code = d.code
      GROUP BY a.vec_id
    )
    SELECT a.vec_id, e.label, a.adist_sq
    FROM adist a JOIN embeddings e ON a.vec_id = e.vec_id
    WHERE a.vec_id != {QUERY_VEC_ID}
    ORDER BY a.adist_sq, a.vec_id LIMIT {TOP_K}
    """


@register("ann_pq_topk", oracle=_PQ_TOPK_ORACLE)
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011) — the memory-side scale
    path the IVF family's docstrings defer to: vectors are encoded as
    {PQ_M} sub-codes ({PQ_K}-entry codebook per subspace, 32x smaller
    than raw float32), and a query scans CODES, not vectors, via the
    asymmetric distance computation (ADC): a per-query (M x K)
    distance table is built once driver-side, and each row's
    approximate distance is {PQ_M} table lookups + adds.

    Scale shape: one vectorized mapInPandas pass — codebook and
    distance table ship in the closure (broadcast variables on a
    cluster; a real 256-code book is 64 KB), encode + ADC are exact
    int64 numpy ops, and only (vec_id, label, adist_sq) reach the
    final TakeOrderedAndProject. No join, no Exchange before the
    top-k gather; at 10^9 vectors the code table (8 B/vector) is what
    an executor holds in memory while raw vectors stay in cold
    storage — the classic PQ deployment. Integer quantization
    (floor(x*{PQ_SCALE})) makes every argmin and every ADC sum exact
    on both engines; cross-engine ties replay deterministically."""
    import numpy as np
    import pandas as pd

    cb3 = _pq_cb3(_collect_pq_codebook(spark, sf_dir))
    qe = _collect_query_vec(spark, sf_dir, QUERY_VEC_ID)
    qi = np.array(
        [math.floor(float(x) * PQ_SCALE) for x in qe], dtype=np.int64
    ).reshape(PQ_M, PQ_SUB)
    # dt[k, m]: exact squared L2 between the query's subspace slice
    # and codebook entry k — the ADC table
    dt = ((qi[None, :, :] - cb3) ** 2).sum(axis=2)

    def kernel(batches):
        for pdf in batches:
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if emb.size == 0:
                continue
            codes, _resid = _pq_encode(emb, cb3)
            adist = dt[codes, np.arange(PQ_M)[None, :]].sum(axis=1)
            keep = pdf["vec_id"].to_numpy() != QUERY_VEC_ID
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "label": pdf["label"].to_numpy()[keep],
                    "adist_sq": adist[keep],
                }
            )

    e = spread(table(spark, sf_dir, "embeddings"))
    cand = e.select("vec_id", "label", "embedding").mapInPandas(
        kernel, schema="vec_id bigint, label int, adist_sq bigint"
    )
    return cand.orderBy(F.asc("adist_sq"), F.asc("vec_id")).limit(TOP_K)


_PQ_ENCODE_ORACLE = f"""
    WITH {_PQ_ASSIGN_CTES}
    SELECT m AS subspace, code,
           count(*)::BIGINT AS n_vecs,
           bit_xor(vec_id)::BIGINT AS vec_sig,
           sum(dist)::BIGINT AS sum_resid_sq
    FROM assigned GROUP BY m, code
    """


@register("pq_encode_stats", oracle=_PQ_ENCODE_ORACLE)
def pq_encode_stats(spark, sf_dir):
    """The PQ index-BUILD audit over the FULL corpus: per (subspace,
    code) cell occupancy, an XOR signature binding every vector to its
    assigned code, and the summed squared quantization residual — the
    distortion number a PQ build is tuned on (`ann_pq_topk` verifies
    the query path on {TOP_K} rows; this verifies the encoder on all
    of them).

    Scale shape: the kernel pre-aggregates per Arrow batch (pandas
    groupby inside mapInPandas), so the single Exchange carries at
    most partitions x {PQ_M} x {PQ_K} partial rows — counts, XOR
    partials (XOR is associative/commutative, so partial-then-merge
    is exact), and int64 residual sums; vectors never shuffle. The
    output is bounded at {PQ_M} x {PQ_K} rows at any corpus size."""
    import numpy as np
    import pandas as pd

    cb3 = _pq_cb3(_collect_pq_codebook(spark, sf_dir))

    def kernel(batches):
        for pdf in batches:
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if emb.size == 0:
                continue
            codes, resid = _pq_encode(emb, cb3)
            b = codes.shape[0]
            part = pd.DataFrame(
                {
                    "subspace": np.tile(np.arange(PQ_M, dtype=np.int64), b),
                    "code": codes.reshape(-1),
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), PQ_M),
                    "resid": resid.reshape(-1),
                }
            )
            agg = part.groupby(["subspace", "code"], as_index=False).agg(
                n=("vec_id", "size"),
                sig=("vec_id", lambda s: np.bitwise_xor.reduce(s.to_numpy())),
                resid=("resid", "sum"),
            )
            yield agg.astype(np.int64)

    e = spread(table(spark, sf_dir, "embeddings"))
    parts = e.select("vec_id", "embedding").mapInPandas(
        kernel,
        schema="subspace bigint, code bigint, n bigint, sig bigint, "
        "resid bigint",
    )
    return parts.groupBy("subspace", "code").agg(
        F.sum("n").alias("n_vecs"),
        F.expr("bit_xor(sig)").alias("vec_sig"),
        F.sum("resid").alias("sum_resid_sq"),
    )


# ----------------------------------------------------------- IVF-PQ

# The composition deployed at billion-vector scale (FAISS "IVFx,PQy";
# Jégou et al. TPAMI 2011 §V): the IVF coarse quantizer routes a query
# to nprobe cells, and within a cell the vector is stored only as the
# PQ code of its RESIDUAL vs the cell centroid — the index holds
# 8 B/vector + the cell id, raw vectors stay in cold storage.
# Exactness: residuals are DIFFERENCES OF MILLI-QUANTIZED INTS
# (qi(x) - qi(centroid)), not quantized float differences, so encode
# argmins and ADC sums stay exact int64 on both engines; only the
# coarse cosine assignment is float, and it is the SAME green
# assignment rule ann_ivf_topk already replays (argmax with cent_id
# ASC ties).


def _pq_residual_codebook(cents_sorted, vecs_qi, assign_of):
    """Residual codebook: the milli-int residual (qi(v) - qi(cent(v)))
    of each of the first PQ_K vectors vs its own assigned centroid —
    centered like real residuals, deterministic, oracle-replayable.
    `cents_sorted` = [(cent_id, qi)] sorted; `vecs_qi` = {vec_id: qi}
    for vec_id < PQ_K; `assign_of` = {vec_id: cent_id}."""
    cq = dict(cents_sorted)
    return [
        [a - b for a, b in zip(vecs_qi[v], cq[assign_of[v]])]
        for v in range(PQ_K)
    ]


_IVFPQ_QI = f"""
    qe AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            x -> floor(x * {PQ_SCALE})::BIGINT) AS qi,
             embedding::DOUBLE[] AS emb
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cent_id, qi AS cqi, emb AS cvec FROM qe
      WHERE vec_id % {IVF_CENTROID_STRIDE} = {IVF_CENTROID_PICK}
    ), assigned AS (
      SELECT vec_id, label, qi, cent_id FROM (
        SELECT e.vec_id, e.label, e.qi, c.cent_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.emb, c.cvec) DESC,
                          c.cent_id
               ) AS rn
        FROM qe e, cents c
      ) WHERE rn = 1
    ), resid AS (
      SELECT a.vec_id, a.label, a.cent_id,
             list_transform(range(1, {DIM} + 1),
                            i -> a.qi[i] - c.cqi[i]) AS ri
      FROM assigned a JOIN cents c ON a.cent_id = c.cent_id
    ), cb AS (
      SELECT vec_id AS code, ri AS cvec FROM resid WHERE vec_id < {PQ_K}
    )"""


_IVFPQ_ORACLE = f"""
    WITH {_IVFPQ_QI}, dists AS (
      SELECT r.vec_id, r.label, r.cent_id, t.m, c.code,
             list_sum(list_transform(range(1, {PQ_SUB} + 1), d ->
               (r.ri[{PQ_SUB} * t.m + d] - c.cvec[{PQ_SUB} * t.m + d])
               * (r.ri[{PQ_SUB} * t.m + d] - c.cvec[{PQ_SUB} * t.m + d])
             ))::BIGINT AS dist
      FROM resid r
      CROSS JOIN range({PQ_M}) AS t(m)
      CROSS JOIN cb c
    ), codes AS (
      SELECT vec_id, label, cent_id, m, code FROM (
        SELECT vec_id, label, cent_id, m, code, dist,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, code) AS rn
        FROM dists
      ) WHERE rn = 1
    ), qcells AS (
      SELECT cent_id FROM (
        SELECT c.cent_id,
               row_number() OVER (
                 ORDER BY list_cosine_similarity(q.emb, c.cvec) DESC,
                          c.cent_id
               ) AS rn
        FROM qe q, cents c WHERE q.vec_id = {QUERY_VEC_ID}
      ) WHERE rn <= {IVF_NPROBE}
    ), qres AS (
      SELECT c.cent_id AS pcell,
             list_transform(range(1, {DIM} + 1),
                            i -> q.qi[i] - c.cqi[i]) AS qri
      FROM qe q JOIN cents c ON c.cent_id IN (SELECT cent_id FROM qcells)
      WHERE q.vec_id = {QUERY_VEC_ID}
    ), dt AS (
      SELECT r.pcell, t.m, c.code,
             list_sum(list_transform(range(1, {PQ_SUB} + 1), d ->
               (r.qri[{PQ_SUB} * t.m + d] - c.cvec[{PQ_SUB} * t.m + d])
               * (r.qri[{PQ_SUB} * t.m + d] - c.cvec[{PQ_SUB} * t.m + d])
             ))::BIGINT AS dist
      FROM qres r
      CROSS JOIN range({PQ_M}) AS t(m)
      CROSS JOIN cb c
    ), adist AS (
      SELECT k.vec_id, k.label, k.cent_id,
             sum(d.dist)::BIGINT AS adist_sq
      FROM codes k
      JOIN dt d ON d.pcell = k.cent_id AND d.m = k.m AND d.code = k.code
      GROUP BY k.vec_id, k.label, k.cent_id
    )
    SELECT vec_id, label, cent_id, adist_sq
    FROM adist
    WHERE vec_id != {QUERY_VEC_ID}
    ORDER BY adist_sq, vec_id LIMIT {TOP_K}
    """


@register("ann_ivfpq_topk", oracle=_IVFPQ_ORACLE)
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ — the composition actually deployed at 10^9+ vectors
    (FAISS "IVFx,PQy"; Jégou et al. TPAMI 2011 §V): the deterministic
    IVF coarse quantizer routes each vector to a cell, the vector is
    stored as the {PQ_M}-byte PQ code of its milli-int RESIDUAL vs the
    cell centroid, and a query probes its {IVF_NPROBE} nearest cells
    with a PER-CELL ADC table built from the query's residual in that
    cell.

    Scale shape: one vectorized mapInPandas pass — centroids, residual
    codebook and the nprobe ADC tables are closure constants (broadcast
    variables on a cluster); assignment is the same row-local
    normalized-centroid argmax `ann_ivf_topk` uses (np.argmax
    first-max == cent_id ASC ties), probe filter +
    residual encode + ADC happen in the same kernel, and only
    (vec_id, label, cent_id, adist_sq) reach TakeOrderedAndProject.
    At scale the index is written partitioned by cent_id: a query
    reads nprobe/k of the code table — 8 B/vector — and never touches
    raw vectors (rescoring the ADC top-k against cold storage is the
    optional exact refinement, demonstrated separately by
    ann_ivf_topk's flat rescore).

    Exactness: residual = qi(x) - qi(centroid) (difference of already
    milli-quantized ints, NOT a quantized float difference), so every
    encode argmin and ADC sum is exact int64 cross-engine; the float
    coarse assignment reuses the green ann_ivf_topk rule."""
    import numpy as np
    import pandas as pd

    cents = _collect_centroids(spark, sf_dir)  # [(cent_id, float vec)]
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([v for _, v in cents], dtype=np.float64)
    cnorm = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    cqi = np.floor(cmat * PQ_SCALE).astype(np.int64)  # (k, DIM)
    cid_row = {int(c): i for i, c in enumerate(cids)}

    # residual codebook from the first PQ_K corpus vectors
    head = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < PQ_K)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    assert len(head) == PQ_K, f"codebook needs vec_id 0..{PQ_K - 1}"
    hmat = np.array(
        [[float(x) for x in r.embedding] for r in head], dtype=np.float64
    )
    hqi = np.floor(hmat * PQ_SCALE).astype(np.int64)
    hassign = np.argmax(hmat @ cnorm.T, axis=1)  # row index into cents
    cb3 = (hqi - cqi[hassign]).reshape(PQ_K, PQ_M, PQ_SUB)

    # query: probe cells + one ADC table per probed cell
    qe = np.asarray(
        _collect_query_vec(spark, sf_dir, QUERY_VEC_ID), dtype=np.float64
    )
    qqi = np.floor(qe * PQ_SCALE).astype(np.int64)
    qscores = cnorm @ qe
    order = np.lexsort((cids, -qscores))
    probe_rows = order[:IVF_NPROBE]
    dt_by_row = {}  # centroid row index -> (K, M) ADC table
    for pr in probe_rows:
        qri = (qqi - cqi[pr]).reshape(PQ_M, PQ_SUB)
        dt_by_row[int(pr)] = ((qri[None, :, :] - cb3) ** 2).sum(axis=2)

    def kernel(batches):
        for pdf in batches:
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if emb.size == 0:
                continue
            rows_assign = np.argmax(emb @ cnorm.T, axis=1)
            keep = np.isin(rows_assign, probe_rows) & (
                pdf["vec_id"].to_numpy() != QUERY_VEC_ID
            )
            sub_qi = np.floor(emb[keep] * PQ_SCALE).astype(np.int64)
            sub_rows = rows_assign[keep]
            resid = sub_qi - cqi[sub_rows]
            adist = np.zeros(len(sub_rows), dtype=np.int64)
            for pr, dt in dt_by_row.items():
                sel = sub_rows == pr
                if not sel.any():
                    continue
                codes, _ = _pq_encode_int(resid[sel], cb3)
                adist[sel] = dt[codes, np.arange(PQ_M)[None, :]].sum(
                    axis=1
                )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "label": pdf["label"].to_numpy()[keep],
                    "cent_id": cids[sub_rows],
                    "adist_sq": adist,
                }
            )

    e = spread(table(spark, sf_dir, "embeddings"))
    cand = e.select("vec_id", "label", "embedding").mapInPandas(
        kernel,
        schema="vec_id bigint, label int, cent_id bigint, adist_sq bigint",
    )
    return cand.orderBy(F.asc("adist_sq"), F.asc("vec_id")).limit(TOP_K)


def _pq_encode_int(ri3_flat, cb3):
    """`_pq_encode` for ALREADY-quantized int residuals: same exact
    einsum argmin over (B, DIM) int64 input."""
    import numpy as np

    ei3 = ri3_flat.reshape(-1, PQ_M, PQ_SUB)
    cross = np.einsum("bms,kms->bkm", ei3, cb3)
    en = (ei3 * ei3).sum(axis=2)
    cn = (cb3 * cb3).sum(axis=2)
    d = en[:, None, :] + cn[None, :, :] - 2 * cross
    codes = np.argmin(d, axis=1)
    b_idx = np.arange(d.shape[0])[:, None]
    m_idx = np.arange(PQ_M)[None, :]
    return codes, d[b_idx, codes, m_idx]


# ------------------------------------------------- scalar quantization

# SQ8 (FAISS ScalarQuantizer QT_8bit): per-DIMENSION trained min/max
# over the corpus, each component encoded to one byte —
# code = floor((v - min_d) * 255 / (max_d - min_d)) — the simpler of
# the two deployed ANN memory formats next to PQ (4x over float32,
# no codebook). Components are milli-quantized first (the PQ_SCALE
# recipe) so train, encode, and reconstruction are exact int64 on
# both engines.
SQ8_LEVELS = 255
SQ8_SIG_MIX = 1_000_003
SQ8_CODE_MIX = 131

_SQ8_ORACLE = f"""
    WITH qe AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            x -> floor(x * {PQ_SCALE})::BIGINT) AS qi
      FROM embeddings
    ), dims AS (
      SELECT vec_id, label, t.d AS dim, qi[t.d] AS v
      FROM qe CROSS JOIN range(1, {DIM} + 1) AS t(d)
    ), st AS (
      SELECT dim, min(v) AS mn, max(v) AS mx FROM dims GROUP BY dim
    ), enc AS (
      SELECT vec_id, label, dims.dim, v, mn, mx,
             CASE WHEN mx = mn THEN 0
                  ELSE ((v - mn) * {SQ8_LEVELS}) // (mx - mn) END AS code
      FROM dims JOIN st USING (dim)
    ), rec AS (
      SELECT vec_id, label, dim, code,
             v - (mn + (code * (mx - mn)) // {SQ8_LEVELS}) AS resid
      FROM enc
    ), pv AS (
      SELECT vec_id, label,
             sum(resid * resid)::BIGINT AS ssr,
             bit_xor(dim * {SQ8_CODE_MIX} + code)::BIGINT AS codes_sig
      FROM rec GROUP BY vec_id, label
    )
    SELECT label::BIGINT AS label,
           count(*)::BIGINT AS n_vecs,
           sum(ssr)::BIGINT AS total_ssr,
           max(ssr)::BIGINT AS max_ssr,
           round(avg(ssr), 4) AS avg_ssr,
           bit_xor(vec_id * {SQ8_SIG_MIX} + ssr)::BIGINT AS vec_sig,
           bit_xor(vec_id * {SQ8_SIG_MIX} + codes_sig)::BIGINT AS code_sig
    FROM pv GROUP BY label
    """


@register("sq8_encode_stats", oracle=_SQ8_ORACLE)
def sq8_encode_stats(spark, sf_dir):
    """Scalar-quantization (SQ8) encode audit — the OTHER deployed
    ANN memory format next to PQ (FAISS QT_8bit; 4x compression, no
    codebook, the default at 10^8-vector scale where PQ's recall loss
    is not worth paying): per-dimension min/max trained over the
    corpus, every component encoded to one byte, and the exact
    integer reconstruction residual audited per label — total / max /
    avg squared residual plus two bit_xor signatures that pin every
    vector's residual AND every single byte code corpus-wide (a
    one-code drift in any dimension of any vector fails the oracle).

    Exactness: components are milli-quantized (floor(x *
    {PQ_SCALE})) before training, so min/max, code = ((v - mn) *
    {SQ8_LEVELS}) div (mx - mn), and the reconstruction are all int64
    on both engines — no float boundary anywhere.

    Scale shape: the train pass is a {DIM}-row min/max aggregate
    folded back broadcast (FAISS trains the quantizer on a sample —
    at 10^12 vectors the pass runs on one); encode + residual are
    row-local on the exploded (vec_id, dim, v) stream with map-side
    partial aggregation, so the only Exchanges carry the bounded
    per-dim stats and the per-label rollup rows — raw embeddings
    never shuffle (the ANN-family invariant)."""
    qe = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * PQ_SCALE).cast("bigint"),
        ).alias("qi"),
    )
    dims = qe.select(
        "vec_id", "label", F.posexplode("qi").alias("pos", "v")
    ).select(
        "vec_id", "label", (F.col("pos") + 1).alias("dim"), "v"
    )
    st = dims.groupBy("dim").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    enc = dims.join(F.broadcast(st), "dim").withColumn(
        "code",
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.expr(f"((v - mn) * {SQ8_LEVELS}) div (mx - mn)")
        ),
    )
    rec = enc.withColumn(
        "resid",
        F.expr(f"v - (mn + (code * (mx - mn)) div {SQ8_LEVELS})"),
    )
    pv = rec.groupBy("vec_id", "label").agg(
        F.sum(F.col("resid") * F.col("resid")).cast("bigint").alias("ssr"),
        F.expr(f"bit_xor(dim * {SQ8_CODE_MIX} + code)").alias("codes_sig"),
    )
    return pv.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("ssr").cast("bigint").alias("total_ssr"),
        F.max("ssr").cast("bigint").alias("max_ssr"),
        F.round(F.avg("ssr"), 4).alias("avg_ssr"),
        F.expr(f"bit_xor(vec_id * {SQ8_SIG_MIX} + ssr)").alias("vec_sig"),
        F.expr(f"bit_xor(vec_id * {SQ8_SIG_MIX} + codes_sig)").alias(
            "code_sig"
        ),
    )
