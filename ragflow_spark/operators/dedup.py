"""Deduplication operators over the documents table (round brief:
exact, MinHash+LSH, n-gram Jaccard, SimHash).

Scale design: every variant is shuffle-on-a-small-key. Exact dedup
shuffles on a 16-byte digest, never the text. MinHash LSH shuffles on
(band, bucket) — the classic shingle→minhash→band→bucket-join; at
100 TB the bucket join replaces the O(n²) pair space with only
colliding candidates. Signatures are md5-based so the DuckDB oracle
can reproduce them bit-for-bit (xxhash64 differs between engines).

Published basis: Broder, "On the resemblance and containment of
documents" (SEQUENCES 1997) for minhash/shingling; the banding
analysis follows Leskovec/Rajaraman/Ullman, Mining of Massive
Datasets ch.3; SimHash per Charikar, "Similarity estimation
techniques from rounding algorithms" (STOC 2002).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ragflow_spark.operators.registry import register, spread, table
from ragflow_spark.operators.textops import doc_words

N_HASHES = 8  # minhash signature length
N_BANDS = 4  # bands of r=2 rows each


def _spread(df):
    """registry.spread, keyed variant (doc_id) so downstream per-doc
    aggregations stay co-partitioned."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < max(2, target // 2):
        return df.repartition(target, "doc_id")
    return df


@register(
    "dedup_exact",
    oracle="""
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           count(*) - count(DISTINCT md5(text)) AS n_dupes
    FROM documents GROUP BY source
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via content digest + hash aggregate. The groupBy
    key is md5(text) (16 bytes), not the document — at 100 TB the
    shuffle moves digests, not payloads."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dupes"),
    )


def _spark_shingles(text_col):
    """3-word shingles as an array column (no UDF)."""
    words = doc_words(text_col)
    return F.transform(
        F.sequence(F.lit(0), F.size(words) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(words, i + 1),
            F.element_at(words, i + 2),
            F.element_at(words, i + 3),
        ),
    )


def _spark_shingle_digests(shingles_col):
    """TWO md5 hex digests per shingle (64 hex chars) — the 8 minhash
    values are 8-hex-char (32-bit) slices of this material, so each
    minhash carries 32 bits of entropy (a 16-bit slice saturates near
    0 on large shingle sets and floods band buckets with false
    collisions at crawl scale) while the md5 work per shingle stays 2
    hashes, not N_HASHES (4x less CPU at 100 TB). Lexicographic min
    over fixed-width lowercase hex == numeric min."""
    return F.transform(
        shingles_col,
        lambda s: F.concat(F.md5(s), F.md5(F.concat(s, F.lit("#2")))),
    )


def _spark_minhash_slice(digests_col, k: int):
    return F.array_min(
        F.transform(digests_col, lambda h: F.substring(h, 1 + 8 * k, 8))
    )


def _explode_bands(sig):
    """(band, bucket) rows from a signature row in ONE pass.

    An explode of a literal band array evaluates the 8 minhash columns
    once per row; the naive 4-way union re-evaluates the whole
    signature expression per band (4x the md5 work at 100 TB)."""
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat(F.col(f"h{2*b}"), F.col(f"h{2*b+1}"))).alias(
                    "bucket"
                ),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands_arr).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


_DUCK_SHINGLES = (
    "list_transform(range(len(w) - 2), "
    "i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])"
)


def _duck_sig_cols() -> str:
    return ",\n".join(
        f"list_min(list_transform(hs, h -> substring(h, {1 + 8 * k}, 8))) AS h{k}"
        for k in range(N_HASHES)
    )


def _duck_bands_union() -> str:
    parts = []
    for b in range(N_BANDS):
        parts.append(
            f"SELECT doc_id, {b} AS band, md5(h{2*b} || h{2*b+1}) AS bucket FROM sig"
        )
    return " UNION ALL ".join(parts)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents
    ), sh_t AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM docs WHERE len(w) >= 3
    ), dig AS (
      SELECT doc_id, list_transform(sh, s -> md5(s) || md5(s || '#2')) AS hs
      FROM sh_t
    ), sig AS (
      SELECT doc_id, {_duck_sig_cols()} FROM dig
    ), bands AS ({_duck_bands_union()})
    SELECT band, bucket, count(*) AS n_docs
    FROM bands GROUP BY band, bucket HAVING count(*) >= 2
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: shingle -> 8-hash minhash
    signature -> 4 bands x 2 rows -> bucket collisions (round brief).
    Output = colliding (band, bucket) groups; the pair join happens in
    `neardup_jaccard`. All generator expressions — zero UDFs."""
    d = _spread(table(spark, sf_dir, "documents"))
    sh = d.filter(F.size(doc_words()) >= 3).select(
        "doc_id", _spark_shingles(F.col("text")).alias("sh")
    )
    sig = sh.select(
        "doc_id", _spark_shingle_digests(F.col("sh")).alias("hs")
    ).select(
        "doc_id",
        *[_spark_minhash_slice(F.col("hs"), k).alias(f"h{k}") for k in range(N_HASHES)],
    )
    allb = _explode_bands(sig)
    return (
        allb.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "neardup_jaccard",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents
    ), sh_t AS (
      SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh
      FROM docs WHERE len(w) >= 3
    ), dig AS (
      SELECT doc_id, sh, list_transform(sh, s -> md5(s) || md5(s || '#2')) AS hs
      FROM sh_t
    ), sig AS (
      SELECT doc_id, sh, {_duck_sig_cols()} FROM dig
    ), bands AS (
      SELECT s.doc_id, b.band, md5(CASE b.band
          WHEN 0 THEN h0 || h1 WHEN 1 THEN h2 || h3
          WHEN 2 THEN h4 || h5 ELSE h6 || h7 END) AS bucket
      FROM sig s, (SELECT unnest(range(4)) AS band) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(len(list_intersect(x.sh, y.sh)) * 1.0 /
                 greatest(len(x.sh) + len(y.sh)
                          - len(list_intersect(x.sh, y.sh)), 1), 4) AS jaccard
    FROM cand JOIN sh_t x ON cand.doc_a = x.doc_id
              JOIN sh_t y ON cand.doc_b = y.doc_id
    """,
)
def neardup_jaccard(spark, sf_dir):
    """n-gram Jaccard verification of LSH candidates: bucket-join
    produces candidate pairs; exact Jaccard on distinct shingle sets
    confirms. The join key is the 16-byte bucket, the pair space is
    only collisions — the 100 TB-safe shape of near-dup detection.

    The verify join ships raw TEXT, not shingle arrays: each word
    appears in 3 shingles, so a shingle array weighs ~3x its document
    and would triple the pair Exchange; instead the pair join carries
    text (1x) and the distinct shingle sets are re-derived JVM-side
    after the join (generator expressions — recompute is cheap, the
    shuffle is the scarce resource at crawl scale). Plan-shape-tested:
    no array column enters any Exchange."""
    d = _spread(table(spark, sf_dir, "documents"))
    docs = d.filter(F.size(doc_words()) >= 3).select("doc_id", "text")
    sig = docs.select(
        "doc_id",
        _spark_shingle_digests(
            F.array_distinct(_spark_shingles(F.col("text")))
        ).alias("hs"),
    ).select(
        "doc_id",
        *[_spark_minhash_slice(F.col("hs"), k).alias(f"h{k}") for k in range(N_HASHES)],
    )
    allb = _explode_bands(sig)
    a = allb.alias("a")
    b = allb.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    y = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    paired = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.array_distinct(_spark_shingles(F.col("text_a"))).alias("sh_a"),
            F.array_distinct(_spark_shingles(F.col("text_b"))).alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return paired.select(
        "doc_a",
        "doc_b",
        F.round(inter * F.lit(1.0) / F.greatest(union, F.lit(1)), 4).alias(
            "jaccard"
        ),
    )


@register(
    "dedup_simhash",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, unnest(str_split_regex(lower(text), '\s+')) AS w
      FROM documents
    ), wh AS (
      SELECT doc_id, ('0x' || substring(md5(w), 1, 16))::UBIGINT AS h
      FROM words WHERE w <> ''
    ), acc AS (
      SELECT doc_id, j.j,
             sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM wh, (SELECT unnest(range(64)) AS j) j
      GROUP BY doc_id, j.j
    ), sigs AS (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN (1::UBIGINT << j)::HUGEINT
                      ELSE 0 END) AS usig
      FROM acc GROUP BY doc_id
    )
    SELECT ((coalesce(usig, 0) >> 48) & 65535)::BIGINT AS band16,
           count(*)::BIGINT AS n_docs
    FROM documents d LEFT JOIN sigs USING (doc_id)
    GROUP BY band16 HAVING count(*) >= 2
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup signatures via a vectorized pandas UDF (numpy
    bit ops over Arrow batches). 64-bit signature from md5 of each
    word occurrence; groups by 16-bit bands for candidate detection.
    The DuckDB oracle replays the bit votes relationally: unnest word
    occurrences, md5 -> 64-bit int, per-bit +/-1 vote sums, signature
    reassembly, band on bits 48-63 (the LEFT JOIN keeps wordless docs
    at signature 0, matching the kernel)."""
    def simhash_batches(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for pdf in batches:
            # Batch-vectorized vocab: tokenize with pandas str ops and
            # build the vocab with ONE pd.factorize over the exploded
            # word series (round-2 finding: the per-word python dict
            # loop was the kernel's only python-bound inner loop), md5
            # each UNIQUE word once (crawl text repeats vocabulary
            # heavily), unpack to a V x 64 ±1 vote matrix; each doc's
            # vote sum is then a contiguous slice of the codes array
            # gathered+summed in C. (Fully-flat alternatives measured
            # SLOWER here: np.add.at 2.6s, add.reduceat 0.55s, cumsum
            # -difference 0.6s vs ~0.3s for this shape on a 5k-doc
            # 750k-word batch — segment ufunc overhead dominates.)
            texts = pdf["text"].fillna("").astype(str).str.lower()
            words = texts.str.split()
            lens = words.str.len().to_numpy(dtype=np.int64)
            flat = words.explode().dropna()
            codes, uniques = pd.factorize(flat.to_numpy())
            acc = np.zeros((len(pdf), 64), dtype=np.int64)
            if len(uniques):
                hashes = np.frombuffer(
                    b"".join(
                        hashlib.md5(w.encode()).digest()[:8] for w in uniques
                    ),
                    dtype=">u8",
                )
                votes = (
                    np.unpackbits(
                        hashes.astype(np.uint64).byteswap().view(np.uint8)
                    )
                    .reshape(len(uniques), 64)[:, ::-1]
                    .astype(np.int8)
                    * 2
                    - 1
                )
                # zero-length docs contribute no rows to `flat`, so
                # doc i's words are exactly codes[bounds[i]:bounds[i+1]]
                bounds = np.concatenate(([0], np.cumsum(lens)))
                for i in range(len(pdf)):
                    if lens[i]:
                        acc[i] = votes[
                            codes[bounds[i] : bounds[i + 1]]
                        ].sum(axis=0, dtype=np.int64)
            # disjoint bit weights: sum == bitwise OR; uint64->int64
            # astype wraps two's-complement, matching the sig-(1<<64)
            # convention (wordless docs stay all-zero -> sig 0)
            usig = ((acc > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
            out = usig.astype(np.int64)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": out})

    d = table(spark, sf_dir, "documents")
    sigs = d.select("doc_id", "text").mapInPandas(
        simhash_batches, schema="doc_id bigint, sig bigint"
    )
    band = F.expr("(sig >> 48) & 65535")
    return (
        sigs.select("doc_id", "sig", band.alias("band16"))
        .groupBy("band16")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


# ------------------------------------------------ dedup components

DUP_JACCARD = 0.5  # confirmed-duplicate edge threshold
COMPONENTS_MAX_ITERS = 16  # dup clusters converge in 2-3; guard-only


def _components_oracle() -> str:
    from ragflow_spark.operators.registry import ORACLES

    base = ORACLES["neardup_jaccard"]
    return f"""
    WITH RECURSIVE base AS ({base}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM base WHERE jaccard >= {DUP_JACCARD}
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM base WHERE jaccard >= {DUP_JACCARD}
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach AS (
      SELECT doc_id, doc_id AS label FROM nodes
      UNION
      SELECT e.dst AS doc_id, r.label
      FROM reach r JOIN edges e ON r.doc_id = e.src
    )
    SELECT doc_id, min(label)::BIGINT AS component_id
    FROM reach GROUP BY doc_id
    """


def connected_components(edges, max_iters: int = COMPONENTS_MAX_ITERS):
    """Connected components over a symmetric (src, dst) edge list via
    min-label propagation with pointer doubling; returns a
    (doc_id, label) DataFrame.

    Per round: (1) every node takes the min label among itself and its
    neighbors (Rastogi et al., ICDE 2013 family); (2) label <-
    label(label) — the pointer-doubling shortcut, so a path of
    diameter d converges in O(log d) rounds instead of O(d). The
    doubling join is legal because every label value IS a node id
    (labels start as self and only ever move to the min of other
    node labels), and label(x) <= x by the same monotonicity, so the
    composed label can only improve.

    Scale shape: both steps are narrow (id, label) joins — labels and
    edges only, never text; localCheckpoint() per round truncates the
    growing lineage (on a cluster: reliable checkpoint dir).
    Convergence = unchanged label-sum scalar (labels only ever
    decrease, so an unchanged sum == a fixpoint) — one 1-row collect
    per round. If the cap is exhausted before the fixpoint the result
    would be silently wrong (labels not yet propagated across the
    component) — raise instead."""
    nodes = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("doc_id")).localCheckpoint()
    prev = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iters):
        prop = edges.join(
            labels, edges.src == labels.doc_id
        ).select(F.col("dst").alias("doc_id"), "label")
        stepped = (
            labels.select("doc_id", "label")
            .union(prop)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        # pointer doubling: left join is belt-and-braces (every label
        # is a node id, so the match always exists)
        lab2 = stepped.select(
            F.col("doc_id").alias("l_id"), F.col("label").alias("l_label")
        )
        labels = (
            stepped.join(lab2, stepped.label == lab2.l_id, "left")
            .select(
                "doc_id", F.coalesce("l_label", "label").alias("label")
            )
            .localCheckpoint()
        )
        s = labels.agg(F.sum("label")).collect()[0][0]
        if s == prev:
            return labels
        prev = s
    raise RuntimeError(
        f"connected_components: no fixpoint within {max_iters} rounds; "
        "raise max_iters or use connected_components_star (O(log^2 n) "
        "worst case) — returning would silently mislabel components"
    )


def connected_components_star(edges, max_iters: int = 50):
    """Connected components via alternating large-star / small-star
    edge rewrites (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014): provably O(log^2 n) rounds on ANY graph
    shape, vs min-label propagation's O(diameter)-ish worst case —
    the scale path for adversarial (long-chain) duplicate graphs.

    large-star(u): every strictly-larger neighbor of u is re-pointed
    at min(N(u) ∪ {u}); small-star(u): every smaller-or-equal
    neighbor (and u itself) is re-pointed at that min. The edge set
    monotonically contracts toward stars centered at component
    minima; at the fixpoint each non-root node carries exactly one
    edge (node -> its component's min id).

    Each phase is one groupBy + one re-join of (long, long) edges —
    never text — with distinct() bounding growth; the edge list is
    localCheckpoint()ed per round (cluster: reliable checkpoint
    dir). Convergence = unchanged (count, sum(src), sum(dst))
    signature of the canonical directed edge set."""
    # canonical direction: src > dst ("points at the smaller id")
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    singles = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )

    def signature(df):
        r = df.agg(
            F.count(F.lit(1)),
            F.sum("src"),
            F.sum("dst"),
            # order-insensitive content hash; XOR never overflows
            # (ANSI sum over xxhash64 would) and the edge set is
            # distinct so XOR cancellation can't hide a change
            F.expr("bit_xor(xxhash64(src, dst))"),
        ).collect()[0]
        return tuple(r)

    prev = signature(e)
    for _ in range(max_iters):
        # large-star over the symmetric view: for each u, neighbors
        # v > u re-point at m(u) = min(N(u) ∪ {u})
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star on the (already canonical src>dst) directed view:
        # u's smaller neighbors and u itself re-point at m(u)
        smins = large.groupBy("src").agg(F.min("dst").alias("m"))
        j = large.join(smins, "src")
        small = (
            j.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(j.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        sig = signature(small)
        e = small
        if sig == prev:
            # fixpoint: e is a star forest (src -> component min)
            labels = e.select(
                F.col("src").alias("doc_id"), F.col("dst").alias("label")
            )
            roots = singles.join(
                e.select(F.col("src").alias("doc_id")), "doc_id", "left_anti"
            ).withColumn("label", F.col("doc_id"))
            return labels.union(roots)
        prev = sig
    raise RuntimeError(
        f"connected_components_star: no fixpoint within {max_iters} rounds"
    )


@register("dedup_components", oracle=_components_oracle())
def dedup_components(spark, sf_dir):
    """The dedup pipeline's actual deliverable: connected components
    over confirmed duplicate pairs (jaccard >= {DUP_JACCARD} edges
    from the MinHash->LSH->verify path), each doc labeled with its
    component's min doc_id — keep the representative, drop the rest.
    Delegates to :func:`connected_components` — min-label propagation
    with pointer doubling (O(log diameter) rounds) and a hard error if
    the round cap is exhausted before the label-sum fixpoint, so a
    long chain-shaped component can never be silently mislabeled.
    The DuckDB oracle replays it as a recursive-CTE transitive
    closure."""
    pairs = neardup_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= DUP_JACCARD
    )
    # materialize the edge list ONCE: it sits inside every round's
    # join, and without this the whole LSH+verify pipeline above would
    # re-execute per iteration
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    labels = connected_components(edges)
    return labels.select(
        "doc_id", F.col("label").cast("bigint").alias("component_id")
    )


# --------------------------------------------------------------------------
# dedup_substring — exact-substring dedup (Lee et al. 2022)
# --------------------------------------------------------------------------

SUBSTR_K = 8  # tokens per gram; a shared run of R grams = R+K-1 tokens

# Deterministic enrichment: the raw corpus has no long cross-document
# substrings, so "remix" documents are planted — for every doc with
# doc_id % 17 == 3 and >= 30 words, a new doc whose middle 20 words
# (words 5..24) are copied verbatim from the original between unique
# noise sentinels. Remix ids are offset by max(doc_id)+1, derived from
# the corpus on BOTH sides (no fixed-constant collision risk).
_REMIX_MOD, _REMIX_RESIDUE, _REMIX_MIN_WORDS = 17, 3, 30
_REMIX_COPY_START, _REMIX_COPY_LEN = 5, 20

# Shared oracle CTE block (enriched corpus -> grams -> cross-document
# dup grams -> shared positions) — the basis of both substring
# operators' oracles, mirroring _substring_tables() below.
_SUBSTR_CTES = f"""
    mx AS (SELECT max(doc_id) + 1 AS off FROM documents),
    orig AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ), remix AS (
      SELECT o.doc_id + mx.off AS doc_id, o.source,
             string_split(
               'noisehead-' || o.doc_id || ' ' ||
               array_to_string(
                 ws[{_REMIX_COPY_START}:
                    {_REMIX_COPY_START + _REMIX_COPY_LEN - 1}], ' ') ||
               ' noisetail-' || o.doc_id, ' ') AS ws
      FROM orig o, mx
      WHERE o.doc_id % {_REMIX_MOD} = {_REMIX_RESIDUE}
        AND len(ws) >= {_REMIX_MIN_WORDS}
    ), corpus AS (
      SELECT doc_id, source, ws FROM orig
      UNION ALL SELECT doc_id, source, ws FROM remix
    ), grams AS (
      SELECT doc_id, i AS pos,
             array_to_string(ws[i + 1:i + {SUBSTR_K}], ' ') AS g
      FROM corpus, unnest(range(len(ws) - {SUBSTR_K - 1})) AS t(i)
      WHERE len(ws) >= {SUBSTR_K}
    ), dupg AS (
      SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) > 1
    ), shared AS (
      SELECT doc_id, pos FROM grams JOIN dupg USING (g)
    )
"""


def _substring_tables(spark, sf_dir):
    """(meta, shared) for the exact-substring operators: ``meta`` =
    one row per enriched-corpus doc with >= K words (doc_id, source,
    n_tok, n_grams); ``shared`` = (doc_id, pos, n_grams) for every
    gram position whose K-token gram occurs in more than one document.
    Grams are hashed to 8-byte xxhash64 digests row-locally BEFORE the
    explode, so only digests + scalars ever cross an Exchange."""
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    off = d.agg(F.max("doc_id")).collect()[0][0] + 1
    words = F.split(F.col("text"), " ")

    remix_text = F.concat_ws(
        " ",
        F.concat(F.lit("noisehead-"), F.col("doc_id").cast("string")),
        F.array_join(
            F.slice(words, _REMIX_COPY_START, _REMIX_COPY_LEN), " "
        ),
        F.concat(F.lit("noisetail-"), F.col("doc_id").cast("string")),
    )
    remix = d.filter(
        (F.col("doc_id") % _REMIX_MOD == _REMIX_RESIDUE)
        & (F.size(words) >= _REMIX_MIN_WORDS)
    ).select(
        (F.col("doc_id") + F.lit(off)).alias("doc_id"),
        "source",
        remix_text.alias("text"),
    )

    corpus = (
        d.select("doc_id", "source", "text")
        .unionByName(remix)
        .filter(F.size(words) >= SUBSTR_K)
    )
    meta = corpus.select(
        "doc_id",
        "source",
        F.size(words).cast("long").alias("n_tok"),
        (F.size(words) - (SUBSTR_K - 1)).cast("long").alias("n_grams"),
    )
    gram_hashes = F.transform(
        F.sequence(F.lit(0), F.size(words) - SUBSTR_K),
        lambda i: F.xxhash64(F.array_join(F.slice(words, i + 1, SUBSTR_K), " ")),
    )
    grams = corpus.select(
        "doc_id",
        (F.size(words) - (SUBSTR_K - 1)).cast("long").alias("n_grams"),
        F.posexplode(gram_hashes).alias("pos", "gh"),
    )
    dupg = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    shared = grams.join(dupg, "gh", "left_semi")
    return meta, shared


@register(
    "dedup_substring",
    oracle=f"""
    WITH {_SUBSTR_CTES}
    , isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS isle
      FROM shared
    ), runs AS (
      SELECT doc_id, isle, count(*) AS run_len
      FROM isl GROUP BY doc_id, isle
    ), per_doc AS (
      SELECT doc_id, max(run_len) AS max_run, sum(run_len) AS n_shared
      FROM runs GROUP BY doc_id
    ), ng AS (
      SELECT doc_id, len(ws) - {SUBSTR_K - 1} AS n_grams
      FROM corpus WHERE len(ws) >= {SUBSTR_K}
    )
    SELECT p.doc_id,
           ng.n_grams::BIGINT AS n_grams,
           p.n_shared::BIGINT AS n_shared_grams,
           p.max_run::BIGINT AS max_run_grams,
           (p.max_run + {SUBSTR_K - 1})::BIGINT AS dup_tokens
    FROM per_doc p JOIN ng USING (doc_id)
    """,
)
def dedup_substring(spark, sf_dir):
    """Exact-substring dedup, the canonical LLM-training-data dedup
    alongside minhash/simhash (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022): find runs of >= K
    consecutive tokens shared across documents. Lee et al. build a
    monolithic suffix array; the distributed form here is the standard
    bucketed approximation — K-token gram digests, grouped to find
    grams occurring in more than one document, then per-document
    adjacent-run (gaps-and-islands) detection, so a cross-document
    shared substring of R grams reports as a run of R, i.e. R+K-1
    shared tokens. Per affected document: gram count, shared-gram
    count, longest run, and its token length.

    Scale (100 TB): text NEVER crosses the wire — grams are hashed to
    8-byte xxhash64 digests row-locally before the explode, so the
    dup-gram groupBy shuffles (digest, doc_id) pairs, the semi join
    back shuffles (doc_id, pos, digest) triples (AQE broadcasts the
    dup-gram side when it is small), and the islands window
    partitions by doc_id carrying three scalars with per-doc state
    bounded by document length. This is the same digest-only-shuffle
    contract as every other dedup variant (plan-enforced in
    tests/test_plan_shape.py). The remix-id offset derivation is one
    1-row aggregate (bounded collect, registry contract).
    """
    from pyspark.sql import Window

    _meta, shared = _substring_tables(spark, sf_dir)

    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = shared.withColumn("isle", F.col("pos") - F.row_number().over(w))
    runs = isl.groupBy("doc_id", "isle").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.first("n_grams").alias("n_grams"),
    )
    per_doc = runs.groupBy("doc_id").agg(
        F.first("n_grams").alias("n_grams"),
        F.sum("run_len").alias("n_shared_grams"),
        F.max("run_len").alias("max_run_grams"),
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
        F.col("max_run_grams").cast("long").alias("max_run_grams"),
        (F.col("max_run_grams") + (SUBSTR_K - 1)).cast("long").alias("dup_tokens"),
    )


@register(
    "dedup_substring_trim",
    oracle=f"""
    WITH {_SUBSTR_CTES}
    , spans AS (
      SELECT doc_id, pos AS tok_start, pos + {SUBSTR_K - 1} AS tok_end
      FROM shared
    ), ordered AS (
      SELECT doc_id, tok_start, tok_end,
             max(tok_end) OVER (
               PARTITION BY doc_id ORDER BY tok_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_max
      FROM spans
    ), marked AS (
      SELECT doc_id, tok_start, tok_end,
             CASE WHEN prev_max IS NULL OR tok_start > prev_max + 1
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), grp AS (
      SELECT doc_id, tok_start, tok_end,
             sum(is_new) OVER (
               PARTITION BY doc_id ORDER BY tok_start
             ) AS grp_id
      FROM marked
    ), ivals AS (
      SELECT doc_id, min(tok_start) AS s, max(tok_end) AS e
      FROM grp GROUP BY doc_id, grp_id
    ), per_doc AS (
      SELECT doc_id, sum(e - s + 1) AS removed, count(*) AS n_spans
      FROM ivals GROUP BY doc_id
    )
    SELECT c.source,
           count(*)::BIGINT AS n_docs,
           sum(len(c.ws))::BIGINT AS total_tokens,
           sum(CASE WHEN p.removed IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS affected_docs,
           coalesce(sum(p.n_spans), 0)::BIGINT AS removed_spans,
           coalesce(sum(p.removed), 0)::BIGINT AS removed_tokens,
           (sum(len(c.ws)) - coalesce(sum(p.removed), 0))::BIGINT
             AS kept_tokens
    FROM corpus c LEFT JOIN per_doc p USING (doc_id)
    WHERE len(c.ws) >= {SUBSTR_K}
    GROUP BY c.source
    """,
)
def dedup_substring_trim(spark, sf_dir):
    """The REMOVAL form of exact-substring dedup — what Lee et al.
    2022 actually ship (§3: cut every duplicated substring out of the
    training corpus, keeping the remainder): each shared K-token gram
    covers token positions [pos, pos+K-1]; overlapping covers from
    adjacent shared grams are merged by the classic interval-union
    (running-max window marks each new island, a running sum numbers
    them), and the per-source rollup reports how many tokens a trim
    pass would delete vs keep. ``dedup_substring`` (above) is the
    diagnostic twin (longest-run stats per affected doc); this is the
    corpus-rewrite budget.

    Scale (100 TB): identical digest-only dataflow to
    dedup_substring — the interval-union needs only the (doc_id, pos)
    scalars, never text; two windows per doc_id (running max + running
    sum, O(1) state each); the final rollup left-joins per-doc token
    counts (scalars) and ships six longs per source. The removed-token
    count is exact for the union of covered positions, the same
    quantity a rewrite pass would delete.
    """
    from pyspark.sql import Window

    meta, shared = _substring_tables(spark, sf_dir)

    spans = shared.select(
        "doc_id",
        F.col("pos").alias("tok_start"),
        (F.col("pos") + (SUBSTR_K - 1)).alias("tok_end"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("tok_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("tok_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = spans.withColumn(
        "is_new",
        F.when(
            F.col("tok_start")
            > F.coalesce(
                F.max("tok_end").over(w_prev), F.lit(-(SUBSTR_K + 2))
            )
            + 1,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("grp_id", F.sum("is_new").over(w_cum))
    ivals = marked.groupBy("doc_id", "grp_id").agg(
        F.min("tok_start").alias("s"), F.max("tok_end").alias("e")
    )
    per_doc = ivals.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).alias("removed"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    return (
        meta.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum(F.col("removed").isNotNull().cast("long")).alias(
                "affected_docs"
            ),
            F.coalesce(F.sum("n_spans"), F.lit(0)).alias("removed_spans"),
            F.coalesce(F.sum("removed"), F.lit(0)).alias("removed_tokens"),
            (
                F.sum("n_tok") - F.coalesce(F.sum("removed"), F.lit(0))
            ).alias("kept_tokens"),
        )
    )


# ------------------------------------------------- containment near-dup

# flag a pair when the smaller shingle set is >= 1/4 contained in the
# larger (integer cross-multiply — no float at the cut boundary)
CONTAIN_MIN_NUM, CONTAIN_MIN_DEN = 1, 4
# anchor-shingle blocking: a shingle is an ANCHOR iff its md5 starts
# with one of these hex chars (p = 4/16 = 1/4 deterministic sample);
# anchors seen in more than CONTAIN_MAX_DF docs are stop-shingles and
# generate no candidates (boilerplate guard + pair-space bound)
CONTAIN_ANCHOR_HEX = ("0", "1", "2", "3")
CONTAIN_MAX_DF = 32
# sampled pre-gate: exact-verify a candidate pair only when
# shared_anchors * GATE_DEN >= the smaller side's anchor count. With
# 1/4 sampling a borderline true pair (c = 1/4) has E[shared] =
# |small|/16, i.e. 1.5x the gate line at GATE_DEN = 6 — measured at
# sf0.1 the gate keeps 317/317 true pairs while cutting the
# accidental low-jaccard collision mass (small-vocab synthetic text
# collides aggressively) from 304k candidate pairs to 41k verified;
# fully deterministic, so the oracle replays it bit-for-bit.
CONTAIN_GATE_DEN = 6

_CONTAIN_ANCHOR_IN = ", ".join(f"'{h}'" for h in CONTAIN_ANCHOR_HEX)


@register(
    "neardup_containment",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents
    ), sh_t AS (
      SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh
      FROM docs WHERE len(w) >= 3
    ), anchors AS (
      SELECT DISTINCT doc_id, s
      FROM (SELECT doc_id, unnest(sh) AS s FROM sh_t)
      WHERE substring(md5(s), 1, 1) IN ({_CONTAIN_ANCHOR_IN})
    ), na AS (
      SELECT doc_id, count(*) AS n FROM anchors GROUP BY doc_id
    ), live AS (
      SELECT s FROM anchors GROUP BY s
      HAVING count(*) BETWEEN 2 AND {CONTAIN_MAX_DF}
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS sh_n
      FROM anchors a JOIN live USING (s)
           JOIN anchors b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), cand AS (
      SELECT doc_a, doc_b FROM shared
      JOIN na xa ON shared.doc_a = xa.doc_id
      JOIN na yb ON shared.doc_b = yb.doc_id
      WHERE sh_n * {CONTAIN_GATE_DEN} >= least(xa.n, yb.n)
    ), scored AS (
      SELECT doc_a, doc_b,
             len(x.sh) AS sa, len(y.sh) AS sb,
             len(list_intersect(x.sh, y.sh)) AS inter
      FROM cand JOIN sh_t x ON cand.doc_a = x.doc_id
                JOIN sh_t y ON cand.doc_b = y.doc_id
    )
    SELECT CASE WHEN sa <= sb THEN doc_a ELSE doc_b END AS doc_small,
           CASE WHEN sa <= sb THEN doc_b ELSE doc_a END AS doc_big,
           least(sa, sb)::BIGINT AS n_sh_small,
           greatest(sa, sb)::BIGINT AS n_sh_big,
           round(inter * 1.0 / greatest(least(sa, sb), 1), 4)
             AS containment,
           round(inter * 1.0 / greatest(sa + sb - inter, 1), 4) AS jaccard
    FROM scored
    WHERE inter * {CONTAIN_MIN_DEN}
          >= greatest(least(sa, sb), 1) * {CONTAIN_MIN_NUM}
    """,
)
def neardup_containment(spark, sf_dir):
    """Asymmetric CONTAINMENT near-dup detection (Broder 1997 §2 —
    resemblance's directional twin, c(A,B) = |A∩B| / |A|): the case
    Jaccard structurally misses, a small document (a quote, a
    boilerplate block, a syndicated excerpt) swallowed by a much
    larger one — the intersection is nearly all of the small set but
    a sliver of the union, so jaccard stays tiny while containment
    saturates. C4/RefinedWeb-class pipelines need both scores to
    decide which side of an inclusion pair to keep.

    Candidates do NOT come from the minhash bands: LSH collisions are
    RESEMBLANCE-biased (a contained small doc rarely collides with
    its much larger container), so this operator blocks on ANCHOR
    shingles instead — a deterministic 1/4 mod-p sample of each doc's
    shingles (md5 first hex in 0-3), with anchors appearing in more
    than {CONTAIN_MAX_DF} docs dropped as stop-shingles. A containment
    pair shares most of the SMALL set's shingles, so the chance no
    shared shingle is sampled decays as (3/4)^|A∩B| — recall is high
    exactly where containment is high, independent of the size ratio.

    100 TB shape: the anchor join ships (16-byte-hashable shingle,
    doc_id) pairs only; pair space is bounded by the stop-shingle cap
    (sum over live anchors of df^2 <= {CONTAIN_MAX_DF} * n_anchors);
    a deterministic sampled pre-gate (shared * {CONTAIN_GATE_DEN} >=
    the smaller side's anchor count — measured: keeps every true pair
    at all three sf while cutting verify volume 7x, and the full op
    36.3 s -> 2.4 s at sf0.1) bounds exact verification, which joins
    each candidate doc's once-built shingle set keyed by doc_id
    (plan-tested: no array ever crosses a pair-keyed Exchange; the
    per-pair text re-shingle neardup_jaccard uses is wrong HERE
    because pair multiplicity per doc is ~90, not ~1). The threshold
    cut is an integer cross-multiply (inter * {CONTAIN_MIN_DEN} >=
    |small| * {CONTAIN_MIN_NUM}) so no float sits at the keep/drop
    boundary.
    Output orders each pair (smaller shingle set first, doc_id
    tie-break) and reports both scores so the containment-vs-jaccard
    gap is auditable."""
    d = _spread(table(spark, sf_dir, "documents"))
    docs = d.filter(F.size(doc_words()) >= 3).select("doc_id", "text")
    anchors = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(_spark_shingles(F.col("text")))
            ).alias("s"),
        )
        .filter(
            F.substring(F.md5(F.col("s")), 1, 1).isin(
                *CONTAIN_ANCHOR_HEX
            )
        )
        # (doc_id, s) rows are already unique: explode of
        # array_distinct(shingles) — no distinct needed (a .distinct()
        # here shuffled the whole anchor stream once more, review fix)
        # the anchor table feeds THREE consumers (per-doc counts, the
        # stop-shingle df filter, both sides of the self-join);
        # materialize the small (doc_id, shingle) table once instead
        # of re-running explode+md5 over the corpus per consumer
        .localCheckpoint()
    )
    na = anchors.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    live = (
        anchors.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") >= 2) & (F.col("df") <= CONTAIN_MAX_DF)
        )
        .select("s")
    )
    a = anchors.join(live, "s").alias("a")
    b = anchors.join(live, "s").alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("sh_n"))
    )
    cand = (
        shared.join(na.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n", "n_a")
        .join(
            na.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n", "n_b"
            ),
            "doc_b",
        )
        .filter(
            F.col("sh_n") * F.lit(CONTAIN_GATE_DEN)
            >= F.least(F.col("n_a"), F.col("n_b"))
        )
        .select("doc_a", "doc_b")
    )
    # verify side: build each doc's distinct shingle set ONCE and ship
    # it per candidate DOC (bounded by |cand docs| x one array), not
    # per pair — rebuilding shingles from text per pair costs O(pairs
    # x doc_len) CPU and dominated the wall before this (each doc here
    # enters ~90 pairs on the dup-heavy synthetic corpus). This is a
    # deliberate, measured exception to the neardup_jaccard text-ship
    # rule: there pair multiplicity is ~1 so text-ship wins; here the
    # array Exchange is keyed by doc_id and carries each set once.
    sh_tab = docs.select(
        "doc_id",
        F.array_distinct(_spark_shingles(F.col("text"))).alias("sh"),
    )
    x = sh_tab.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sh_tab.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    paired = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("sh_a").alias("sa"),
            F.size("sh_b").alias("sb"),
            F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).alias(
                "inter"
            ),
        )
    )
    small = F.greatest(F.least(F.col("sa"), F.col("sb")), F.lit(1))
    return (
        paired.filter(
            F.col("inter") * F.lit(CONTAIN_MIN_DEN)
            >= small * F.lit(CONTAIN_MIN_NUM)
        )
        .select(
            F.when(F.col("sa") <= F.col("sb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_small"),
            F.when(F.col("sa") <= F.col("sb"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_big"),
            F.least("sa", "sb").cast("bigint").alias("n_sh_small"),
            F.greatest("sa", "sb").cast("bigint").alias("n_sh_big"),
            F.round(F.col("inter") * F.lit(1.0) / small, 4).alias(
                "containment"
            ),
            F.round(
                F.col("inter")
                * F.lit(1.0)
                / F.greatest(
                    F.col("sa") + F.col("sb") - F.col("inter"), F.lit(1)
                ),
                4,
            ).alias("jaccard"),
        )
    )
