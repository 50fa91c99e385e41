"""Deduplication operators for large-scale document corpora.

Beyond-reference surface (BASELINE.json north star): exact dedup,
MinHash-LSH near-dup, SimHash, and n-gram Jaccard — all designed
shuffle-light for the 100 TB case:

- exact: one hash-groupBy on a 128-bit content hash (map-side partial agg,
  no window sort, no join-back).
- MinHash signatures: computed entirely with JVM higher-order functions
  (split → shingle → xxhash64 → array_min); no Python.
- LSH banding: explode to (band, band_hash) keys — cardinality
  rows × n_bands — then a self equi-join per band bucket. AQE handles the
  skewed-bucket case; candidate pairs are verified with signature-estimated
  Jaccard before being reported.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spatialpandas_spark.functions.measures import _seq0

from spatialpandas_spark.materialize import materialize


def content_hash(*cols: Column) -> Column:
    """128-bit content hash for exact dedup. Each column is hashed
    separately with a null/value marker, then the fixed-width per-column
    digests are hashed together — no separator-injection collisions (a
    field containing the separator can't merge distinct rows) and NULL is
    distinct from the empty string."""
    parts = [
        F.concat(
            F.when(c.isNull(), F.lit("n")).otherwise(F.lit("v")),
            F.md5(F.coalesce(c.cast("string"), F.lit(""))),
        )
        for c in cols
    ]
    return F.md5(F.concat(*parts))


def dedup_exact(
    df: DataFrame, cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Keep, per distinct content, the row with the smallest id.

    Single shuffle: groupBy(hash).agg(min_by(payload, id)) — map-side
    combine makes this scale linearly; no window, no self-join.
    """
    h = content_hash(*[F.col(c) for c in cols])
    payload = F.struct(*[F.col(c) for c in df.columns])
    agg = (
        df.groupBy(h.alias("__h"))
        .agg(F.min_by(payload, F.col(id_col)).alias("__row"))
        .select("__row.*")
    )
    return agg


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Small single-file sources arrive as one partition; fan out so the
    signature computation uses every core. No-op for already-partitioned
    (i.e. at-scale) inputs."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens; empty string -> empty array."""
    t = F.split(F.lower(F.trim(text)), r"\s+")
    return F.when(F.trim(text) == "", F.array().cast("array<string>")).otherwise(t)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document. The token array is
    let-bound so the document split runs once per row, not once per
    shingle (see ``functions.measures.let_``)."""
    from spatialpandas_spark.functions.measures import let_

    def body(toks: Column) -> Column:
        cnt = F.size(toks) - F.lit(n - 1)
        return F.array_distinct(
            F.transform(
                _seq0(cnt),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )

    return let_(tokens(text), body)


_LONG_MAX = (1 << 63) - 1


def minhash_signature(
    shingles: Column, num_hashes: int = 64
) -> Column:
    """MinHash signature: per seed j, min over shingles of xxhash64(j, s).

    Single pass over the shingles folding a num_hashes-wide accumulator
    (8x faster than the transparent per-seed formulation, which re-scans
    the shingle array once per seed). Empty shingle set -> all Long.MAX
    (callers filter on size(shingles) first)."""
    init = F.array(*[F.lit(_LONG_MAX).cast("long") for _ in range(num_hashes)])

    def hashes(s: Column) -> Column:
        return F.array(*[F.xxhash64(F.lit(j), s) for j in range(num_hashes)])

    return F.aggregate(
        shingles,
        init,
        lambda acc, s: F.zip_with(acc, hashes(s), lambda a, b: F.least(a, b)),
    )


def minhash_signatures_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures via an Arrow-batched numpy kernel (the fast bulk
    path): a 60-bit md5-hex-prefix base hash per distinct shingle (chosen so
    a SQL oracle can reproduce the value exactly:
    ``('0x' || substr(md5(s),1,15))::BIGINT`` in DuckDB), then
    ``num_hashes`` multiply-shift universal hashes minimized per document
    with ``minimum.reduceat``. ~10x the throughput of the pure-JVM HOF
    formulation; docs with no shingles are dropped.

    Output: (__id, __sig array<long>).
    """
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    rng = np.random.default_rng(seed)
    MASK = np.int64((1 << 62) - 1)
    A = rng.integers(1, 1 << 61, size=num_hashes, dtype=np.int64) * 2 + 1
    B = rng.integers(0, 1 << 61, size=num_hashes, dtype=np.int64)

    id_field = df.select(F.col(id_col)).schema.fields[0]
    out_schema = StructType(
        [
            StructField("__id", id_field.dataType),
            StructField("__sig", ArrayType(LongType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, base_hashes, offsets = [], [], [0]
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").lower().split()
                sh = {
                    " ".join(toks[i : i + shingle_n])
                    for i in range(len(toks) - shingle_n + 1)
                }
                if not sh:
                    continue
                ids.append(doc_id)
                base_hashes.extend(
                    int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                    for s in sh
                )
                offsets.append(len(base_hashes))
            if not ids:
                # yield nothing: an empty pandas frame defaults its columns
                # to float64, which Arrow refuses to cast to list<long>
                continue
            h = np.array(base_hashes, dtype=np.int64)
            starts = np.array(offsets[:-1], dtype=np.int64)
            sigs = np.empty((len(ids), num_hashes), dtype=np.int64)
            with np.errstate(over="ignore"):
                for j in range(num_hashes):
                    v = (A[j] * h + B[j]) & MASK
                    sigs[:, j] = np.minimum.reduceat(v, starts)
            yield pd.DataFrame({"__id": ids, "__sig": list(sigs)})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(run, out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) whose signature-estimated
    Jaccard >= threshold. rows = num_hashes // bands per band."""
    rows = num_hashes // bands
    df = _ensure_parallelism(df)
    # ONE signature computation, materialized: every DataFrame branch of a
    # self-join re-resolves its subtree with fresh expression ids and the
    # AQE stage cache never recognizes the MapInPandas subtrees as equal
    # (measured round-14: the old repartition-as-materialization shape ran
    # the full shingle+signature pass once per branch — 2x, and 4x under
    # the payload-light banding below). A lazy checkpoint pins the
    # signatures to ONE shared RDD lineage node, so the corpus is scanned
    # and signatures computed exactly once however many branches read them.
    sigd = minhash_signatures_arrow(
        df, id_col, text_col, shingle_n, num_hashes
    ).transform(materialize, eager=False)

    # payload-light banding (round-14, guide §8): the band self-join and
    # the pair dedup only DECIDE which id pairs are candidates, so they
    # carry (id, band-hash) — 16 bytes/row — instead of the 512-byte
    # signature on both sides of an exploded (x bands) exchange. The
    # signatures move exactly once: the banding scan and both attach
    # joins all read the one checkpointed signature RDD, and the attach
    # joins are planned by size like any equi-join (broadcast at bench
    # scale, shuffle at corpus scale). Unlike the RP-signature table in
    # embedding_near_dup_pairs — whose post-Arrow estimate round 13
    # proved non-scale-tracking, hence its merge pins — the lazy
    # checkpoint here inherits the PRE-checkpoint plan's stats,
    # which track the parquet scan: measured 27,878 B at sf0.01 vs
    # 254,814 B at sf0.1 (exactly 10x, round 15), crossing the 10 MB
    # auto-broadcast threshold around sf~4 — so the strategy flips to
    # sort-merge correctly with data size and a corpus-sized broadcast
    # cannot be planned at real scale.
    banded = sigd.select(
        "__id",
        F.explode(
            F.transform(
                _seq0(F.lit(bands)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("__sig"), b * rows + 1, rows),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bhash"),
                ),
            )
        ).alias("__bk"),
    )
    l = banded.alias("l")
    r = banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.__bk") == F.col("r.__bk"))
            & (F.col("l.__id") < F.col("r.__id")),
            "inner",
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sigd.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__siga")),
        "id_a",
    ).join(
        sigd.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sigb")),
        "id_b",
    )
    matches = F.filter(
        F.zip_with(F.col("__siga"), F.col("__sigb"), lambda a, b: a == b),
        lambda m: m,
    )
    est = F.size(matches) / F.lit(float(num_hashes))
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    lsh_num_hashes: int = 64,
    lsh_bands: int = 16,
) -> DataFrame:
    """Exact n-gram Jaccard over LSH-candidate pairs: LSH prunes the
    O(n²) space, then exact |A∩B| / |A∪B| on the shingle sets decides."""
    cand = minhash_lsh_pairs(
        df, id_col, text_col, shingle_n, lsh_num_hashes, lsh_bands, threshold=0.0
    )
    sh = df.select(
        F.col(id_col).alias("__id"),
        word_shingles(F.col(text_col), shingle_n).alias("__sh"),
    )
    j = (
        cand.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sha"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__shb"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    union = F.size(F.array_union(F.col("__sha"), F.col("__shb")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        j.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_bits(text: Column, bits: int = 60, shingle_n: int = 2) -> Column:
    """SimHash as a `bits`-wide 0/1 array: sign of per-bit sums over shingle
    hashes. Pure JVM: fold shingles into a counter array with zip_with.
    The base hash is the 60-bit md5-hex-prefix integer (same value DuckDB
    computes as ``('0x' || substr(md5(s),1,15))::BIGINT``), so the gate
    oracle can replicate fingerprints exactly. (Bit positions use static
    Python ints, so shifts stay literal.)"""
    if bits > 60:
        raise ValueError("md5-prefix base hash provides at most 60 bits")
    sh = word_shingles(text, shingle_n)
    zeros = F.array(*[F.lit(0) for _ in range(bits)])
    vals = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )

    def tok_bits(v: Column) -> Column:
        return F.array(
            *[
                F.when(
                    F.shiftright(v, b).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
                for b in range(bits)
            ]
        )

    counters = F.aggregate(
        vals, zeros, lambda acc, v: F.zip_with(acc, tok_bits(v), lambda a, d: a + d)
    )
    return F.transform(counters, lambda c: F.when(c > 0, 1).otherwise(0))


def simhash(text: Column, bits: int = 60, shingle_n: int = 2) -> Column:
    """SimHash packed into a long via Horner's rule (bits <= 60 keeps the
    accumulator ANSI-overflow-safe)."""
    if bits > 60:
        raise ValueError("packed simhash supports at most 60 bits")
    arr = simhash_bits(text, bits, shingle_n)
    return F.aggregate(
        F.reverse(arr),
        F.lit(0).cast("long"),
        lambda acc, b: acc * 2 + b,
    )


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length bit arrays."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x != y), lambda m: m))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 60,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming, using the
    pigeonhole band trick (a pair within distance d must agree exactly on at
    least one of d+1 bands) to avoid the O(n²) join."""
    assert bands >= max_hamming + 1, "need bands > max_hamming for pigeonhole"
    band_bits = bits // bands
    # a doc with no shingles (null/empty/too-short text) has no content
    # signature: the all-zero fingerprint would pair every such doc with
    # every other, an O(n²) blowup at corpus scale. Same contract as the
    # MinHash path, which drops shingle-less docs.
    df = df.filter(F.size(word_shingles(F.col(text_col), 2)) > 0)
    # ONE fingerprint computation, materialized; banding and pair dedup
    # carry (id, band key) only and the bit arrays are attached to the
    # surviving candidate pairs — same round-14 shape as minhash_lsh_pairs
    # (the old repartition-as-materialization recomputed the fingerprint
    # fold once per self-join branch).
    sd = _ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        simhash_bits(F.col(text_col), bits).alias("__sh"),
    ).transform(materialize, eager=False)
    banded = sd.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.lit(b),
                            F.concat_ws(
                                "",
                                F.transform(
                                    F.slice(F.col("__sh"), b * band_bits + 1, band_bits),
                                    lambda v: v.cast("string"),
                                ),
                            ),
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__bk"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.__bk") == F.col("r.__bk")) & (F.col("l.__id") < F.col("r.__id")),
            "inner",
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sd.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sha")),
        "id_a",
    ).join(
        sd.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__shb")),
        "id_b",
    )
    ham = hamming(F.col("__sha"), F.col("__shb"))
    return pairs.select(
        "id_a", "id_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Assign every document a near-duplicate ``cluster_id`` (the smallest
    doc id in its cluster) plus the cluster size.

    Pipeline: MinHash-LSH candidate pairs -> connected components over the
    pair graph (alternating star contraction, ``operators/graph.py``) ->
    left-join back to the corpus, singletons keeping their own id. This is
    the stage LSH alone cannot provide: similarity is not transitive, so
    pair output must be clustered before choosing survivors.

    Scale shape: the pair graph is tiny relative to the corpus; the only
    corpus-sized operations are the signature scan and one shuffle-join of
    (doc_id -> component), which AQE typically plans as broadcast."""
    from spatialpandas_spark.operators.graph import connected_components

    pairs = minhash_lsh_pairs(
        df, id_col, text_col, shingle_n, num_hashes, bands, threshold
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return _attach_cluster_sizes(df, comp, id_col)


def _attach_cluster_sizes(
    df: DataFrame, comp: DataFrame, id_col: str
) -> DataFrame:
    """(cluster_id, *df columns, cluster_size) from a corpus and its
    near-dup component table. Sizes come from the COMPONENT table alone
    — every non-singleton cluster member appears in ``comp`` (its nodes
    are corpus ids, unique by contract) and singletons have size 1 — so
    the corpus is scanned ONCE and never shuffled: both the label join
    and the size join build from pair-graph-bounded tables (round-14:
    the previous shape recomputed the corpus scan inside a
    groupBy(cluster_id) and then shuffle-joined the full corpus,
    including document text, against its own aggregate)."""
    sizes = comp.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count("*").alias("__csize")
    )
    return (
        df.join(comp, df[id_col] == comp["node"], "left")
        .withColumn(
            "cluster_id",
            F.coalesce(F.col("component"), F.col(id_col).cast("long")),
        )
        .drop("node", "component")
        .join(sizes, "cluster_id", "left")
        .withColumn(
            "cluster_size",
            F.coalesce(F.col("__csize"), F.lit(1).cast("long")),
        )
        .drop("__csize")
    )


def dedup_near(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate dedup: keep one document per near-dup cluster (the
    smallest id — deterministic, matching ``dedup_exact``'s min_by rule).
    Columns are the input's; dropped rows are the non-canonical cluster
    members.

    Survivor selection needs only the component table (a row survives
    iff it is absent from the pair graph or is its own component
    representative), so the cluster-size aggregation+join of
    ``near_dup_clusters`` is skipped (round-14)."""
    from spatialpandas_spark.operators.graph import connected_components

    pairs = minhash_lsh_pairs(
        df, id_col, text_col, shingle_n, num_hashes, bands, threshold
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return (
        df.join(comp, df[id_col] == comp["node"], "left")
        .filter(
            F.col("component").isNull()
            | (F.col("component") == F.col(id_col).cast("long"))
        )
        .select(*df.columns)
    )


def lsh_band_plan(
    threshold: float, num_hashes: int = 64
) -> tuple[int, int]:
    """Choose (bands, rows_per_band) for MinHash-LSH so the S-curve
    midpoint ``(1/bands)^(1/rows)`` sits closest to ``threshold`` —
    replaces hand-tuning the band count per similarity target. Returns
    the divisor pair of ``num_hashes`` minimizing the midpoint gap."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        midpoint = (1.0 / bands) ** (1.0 / rows)
        gap = abs(midpoint - threshold)
        if best is None or gap < best[0]:
            best = (gap, bands, rows)
    return best[1], best[2]


def embedding_band_bits(n_rows: int, bands: int = 4) -> int:
    """Per-band signature width for random-hyperplane banding so the
    expected per-band candidate volume stays ~linear: collisions per band
    are ~n^2 / 2^band_bits, so band_bits ~ log2(n) (documented guidance on
    ``embedding_near_dup_pairs``, now computable). Clamped so the packed
    signature fits a long (bands * band_bits <= 63)."""
    import math

    if n_rows < 2:
        return 1
    bits = max(1, math.ceil(math.log2(n_rows)))
    return min(bits, 63 // bands)
