"""Benchmark decontamination for training corpora.

A pretraining pipeline must drop (or flag) documents that overlap an
evaluation benchmark, or downstream eval numbers are meaningless. The
standard public recipe (GPT-2/GPT-3 appendix-style n-gram overlap) is:
shingle both corpora into word n-grams, and flag any training document
whose shingle set overlaps the benchmark's shingle set above a threshold.

Spark shape, designed for the 100 TB / small-benchmark asymmetry:

- the benchmark side (MBs: eval sets are thousands of documents) is
  reduced to its DISTINCT shingle set and **broadcast** — the 100 TB
  training side is never shuffled for the membership test;
- the training side is exploded to (doc, shingle) pairs, left-joined
  against the broadcast set (map-side, no exchange), and re-aggregated
  per document — exactly one shuffle, keyed by doc id, with map-side
  partial counts;
- docs too short to shingle survive via ``explode_outer`` with overlap 0.

No Python in the pipeline: shingling is the same JVM higher-order
expression used by MinHash (``operators/dedup.py``), so decontamination
composes with dedup at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spatialpandas_spark.operators.dedup import word_shingles


def benchmark_shingles(
    bench: DataFrame, text_col: str = "text", n: int = 5
) -> DataFrame:
    """The benchmark corpus reduced to its distinct word-``n``-gram set
    (one column ``s``). This is the broadcast side of decontamination:
    distinct-aggregate it once, reuse it across every training shard."""
    return (
        bench.select(F.explode(word_shingles(F.col(text_col), n)).alias("s"))
        .distinct()
    )


def _unique_id(op: str, id_col: str, value: Column) -> Column:
    """Aggregate ``value`` over a ``groupBy(id_col)`` whose input carries
    the per-row marker ``__row``. The null-id group raises: its rows
    would be scored as one document, and no null id matches the
    removal's anti-join. A group whose markers differ is two rows
    sharing an id and raises, naming it. Rides the existing aggregate:
    no extra Spark job."""
    shared = F.min("__row") != F.max("__row")
    null = F.raise_error(F.lit(f"{op} requires a non-null {id_col}"))
    dup = F.raise_error(
        F.concat(
            F.lit(f"{op} requires a unique {id_col}: "),
            F.col(id_col).cast("string"),
            F.lit(" names more than one row"),
        )
    )
    return (
        F.when(F.col(id_col).isNull(), null)
        .when(shared, dup)
        .otherwise(value)
    )


def ngram_overlap(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per-document contamination: the fraction of the document's distinct
    word ``n``-grams that occur anywhere in the benchmark corpus.

    Returns ``(id_col, total_ngrams, matched_ngrams, overlap)`` with
    ``overlap = matched/total`` (0.0 for docs with no shingles). One
    broadcast join + one groupBy(doc) shuffle; the benchmark side must be
    broadcast-sized (true for every real eval suite).

    ``id_col`` must be non-null and unique per row: rows sharing an id
    (null included) would be scored as one document, so a null id
    raises, and a shared id raises naming it.
    """
    bset = benchmark_shingles(bench, bench_text_col, n).withColumn(
        "__hit", F.lit(1)
    )
    exploded = docs.select(
        F.col(id_col),
        F.monotonically_increasing_id().alias("__row"),
        F.col(text_col),
    ).select(
        id_col,
        "__row",
        F.explode_outer(word_shingles(F.col(text_col), n)).alias("s"),
    )
    joined = exploded.join(F.broadcast(bset), "s", "left")
    agg = joined.groupBy(id_col).agg(
        _unique_id("ngram_overlap", id_col, F.count("s")).alias("total_ngrams"),
        F.count("__hit").alias("matched_ngrams"),
    )
    return agg.withColumn(
        "overlap",
        F.when(
            F.col("total_ngrams") > 0,
            F.col("matched_ngrams").cast("double") / F.col("total_ngrams"),
        ).otherwise(F.lit(0.0)),
    )


def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Standard bloom sizing: ``m`` bits (rounded up to whole 64-bit
    words) and ``k`` probes for ``n_items`` at false-positive rate
    ``fpp``."""
    import math

    if not 0.0 < fpp < 1.0:
        raise ValueError("fpp must be in (0, 1)")
    m = max(64, int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64
    k = max(1, int(round(math.log(2) * m / n_items)))
    return m, k


def _bloom_positions(h, m: int, k: int):
    """The k probe positions for signed-int64 hashes ``h`` (numpy
    array), Kirsch-Mitzenmacher double hashing with pmod semantics —
    the EXACT arithmetic the JVM probe expression replays, so build and
    probe can never disagree: ``h1 = pmod(h, m)``, ``step =
    pmod(h >> 32, m) * 2 + 1`` (arithmetic shift), ``pos_i =
    pmod(h1 + i*step, m)``."""
    import numpy as np

    h = h.astype(np.int64)
    h1 = ((h % m) + m) % m
    step = (((h >> 32) % m) + m) % m * 2 + 1
    return [((h1 + i * step) % m + m) % m for i in range(k)]


#: reduce granularity for the distributed bloom build: 2^16 words =
#: 512 KiB of bitmap per chunk row. Each reduce group ORs at most
#: n_partitions such chunks; the driver collects at most
#: ceil(n_words/chunk) rows — one bitmap total, never one per partition.
_BLOOM_CHUNK_WORDS = 1 << 16


def build_bloom_words(hashes: DataFrame, m: int, k: int):
    """Aggregate a frame of signed-int64 hashes (single column ``h``)
    into one bloom bitmap, DISTRIBUTEDLY: an Arrow pass emits per
    partition only its non-empty 512 KiB word-range chunks, a bit-OR
    ``groupBy(chunk)`` reduces each range to one row, and the driver
    assembles exactly ONE bitmap's bytes regardless of partition count
    (ADVICE r9: collecting one full-size partial per partition was
    O(n_partitions · m/8) driver memory). Returns a numpy uint64 array
    of ``m // 64`` words."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    n_words = m // 64
    chunk = _BLOOM_CHUNK_WORDS

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        words = np.zeros(n_words, dtype=np.uint64)
        any_rows = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            any_rows = True
            h = pdf["h"].to_numpy()
            for pos in _bloom_positions(h, m, k):
                np.bitwise_or.at(
                    words,
                    (pos >> 6).astype(np.int64),
                    np.uint64(1) << (pos & 63).astype(np.uint64),
                )
        if any_rows:
            cids, bms = [], []
            for cid in range(0, n_words, chunk):
                part = words[cid : cid + chunk]
                if part.any():
                    cids.append(cid)
                    bms.append(part.tobytes())
            if cids:
                yield pd.DataFrame({"cid": cids, "bm": bms})

    def or_reduce(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for b in pdf["bm"]:
            a = np.frombuffer(b, dtype=np.uint64)
            acc = a.copy() if acc is None else acc | a
        return pd.DataFrame({"cid": [key[0]], "bm": [acc.tobytes()]})

    blobs = (
        hashes.mapInPandas(build, "cid long, bm binary")
        .groupBy("cid")
        .applyInPandas(or_reduce, "cid long, bm binary")
        .collect()
    )
    words = np.zeros(n_words, dtype=np.uint64)
    for r in blobs:
        a = np.frombuffer(r["bm"], dtype=np.uint64)
        words[r["cid"] : r["cid"] + len(a)] |= a
    return words


def bloom_words_row(spark, words) -> DataFrame:
    """The bitmap as a ONE-ROW broadcastable frame (``bm array<bigint>``)
    — the shape :func:`bloom_member_fn` probes against."""
    import numpy as np

    return spark.createDataFrame(
        [([int(w) for w in np.asarray(words, dtype=np.uint64).view(np.int64)],)],
        "bm array<bigint>",
    )


def bloom_member_fn(m: int, k: int, bm_col: str = "bm"):
    """Pure-Catalyst bloom membership predicate factory: returns
    ``member(s) -> Column`` testing shingle ``s`` against the broadcast
    bitmap column ``bm_col`` with the EXACT double-hashing arithmetic of
    :func:`_bloom_positions` (element_at + shiftright bit tests — no
    Python in the corpus scan)."""

    def member(s):
        h = F.xxhash64(s)
        h1 = F.pmod(h, F.lit(m))
        step = F.pmod(F.call_function("shiftright", h, F.lit(32)),
                      F.lit(m)) * 2 + 1
        cond = None
        for i in range(k):
            pos = F.pmod(h1 + F.lit(i) * step, F.lit(m))
            widx = F.call_function(
                "shiftright", pos, F.lit(6)
            ).cast("int") + 1
            bit = F.pmod(pos, F.lit(64)).cast("int")
            word = F.element_at(F.col(bm_col), widx)
            hit = (
                F.call_function("shiftright", word, bit)
                .bitwiseAND(F.lit(1))
                == 1
            )
            cond = hit if cond is None else (cond & hit)
        return cond

    return member


def _bloom_matched_counts(
    base: DataFrame, bset: DataFrame, words, m: int, k: int, id_col: str
) -> DataFrame:
    """Per-document matched-shingle counts through the bloom path:
    broadcast the bitmap row, keep bloom-accepted shingles, verify with
    the exact semi-join against ``bset`` (column ``s``)."""
    spark = base.sparkSession
    bm_row = bloom_words_row(spark, words)
    member = bloom_member_fn(m, k)
    cands = base.crossJoin(F.broadcast(bm_row)).select(
        id_col,
        F.explode(F.filter("__sh", member)).alias("s"),
    )
    return (
        cands.join(bset, "s", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("matched_ngrams"))
    )


def ngram_overlap_bloom(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
    fpp: float = 0.01,
) -> DataFrame:
    """:func:`ngram_overlap` for benchmarks TOO LARGE TO BROADCAST as
    an exact shingle set — same columns, same EXACT values (pinned by
    gate + identity tests), different 100 TB shape:

    1. the benchmark's distinct shingle HASHES (JVM ``xxhash64``)
       aggregate into one bloom bitmap — an Arrow pass emits per
       partition only its NON-EMPTY 512 KiB word-range chunks, a
       distributed bit-OR ``groupBy(chunk)`` reduces each range to one
       row, and the driver assembles exactly ONE bitmap's bytes
       regardless of partition count (ADVICE r9: collecting one
       full-size partial per partition was O(n_partitions · m/8)
       driver memory — worse than the broadcast it replaces at the
       hundreds-of-millions-of-shingles scale this function exists
       for) — ~1.2 MB per million shingles at the default 1% fpp, vs
       the raw set's unbounded broadcast footprint;
    2. the bitmap rides into the corpus scan as a one-row broadcast
       ``array<bigint>`` and the scan keeps, per document, its shingle
       COUNT plus only the shingles the bloom accepts — the membership
       test is pure Catalyst bit arithmetic (element_at + shiftright),
       no Python in the corpus path — so the exploded candidate volume
       is ~(true matches + fpp·corpus) rows, never the corpus's full
       shingle stream;
    3. a standard equi-semi-join verifies candidates against the exact
       benchmark set (blooms have NO false negatives, so candidates ⊇
       matches and the semi-join removes exactly the false positives) —
       the benchmark side flows through an ordinary shuffle join
       instead of a driver broadcast.

    The result is exact for ANY ``fpp``; the knob only trades candidate
    volume against bloom bytes. As in :func:`ngram_overlap`, a null
    ``id_col`` raises, and two rows sharing one raise, naming it: the
    per-document totals are one ``groupBy(id_col)``, which the join to
    the matched counts then reads already partitioned by id."""
    bset = benchmark_shingles(bench, bench_text_col, n)
    # bounded: one integer. The count also sizes the bitmap.
    n_items = bset.count()
    base = docs.select(
        F.col(id_col),
        F.monotonically_increasing_id().alias("__row"),
        word_shingles(F.col(text_col), n).alias("__sh"),
    )
    totals = base.groupBy(id_col).agg(
        _unique_id(
            "ngram_overlap_bloom", id_col, F.sum(F.size("__sh")).cast("long")
        ).alias("total_ngrams")
    )
    if n_items == 0:
        out = totals.withColumn("matched_ngrams", F.lit(0).cast("long"))
    else:
        m, k = _bloom_params(n_items, fpp)
        words = build_bloom_words(
            bset.select(F.xxhash64("s").alias("h")), m, k
        )
        matched = _bloom_matched_counts(base, bset, words, m, k, id_col)
        out = totals.join(matched, id_col, "left").withColumn(
            "matched_ngrams",
            F.coalesce(F.col("matched_ngrams"), F.lit(0)).cast("long"),
        )
    return out.withColumn(
        "overlap",
        F.when(
            F.col("total_ngrams") > 0,
            F.col("matched_ngrams").cast("double") / F.col("total_ngrams"),
        ).otherwise(F.lit(0.0)),
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
    method: str = "broadcast",
) -> DataFrame:
    """Drop training documents whose benchmark n-gram overlap is
    ``>= threshold``. The flagged-id set is tiny (contamination is rare),
    so the removal is a broadcast anti-join — the corpus itself is never
    shuffled. ``method='bloom'`` scores overlap via
    :func:`ngram_overlap_bloom` (same exact values; use when the
    benchmark shingle set exceeds broadcast size). Removal is by id, so
    a null ``id_col`` raises (no null matches the anti-join), and two
    rows sharing one raise, naming it."""
    if method not in ("broadcast", "bloom"):
        raise ValueError(f"unknown decontamination method {method!r}")
    fn = ngram_overlap if method == "broadcast" else ngram_overlap_bloom
    flagged = (
        fn(docs, bench, id_col, text_col, bench_text_col, n)
        .filter(F.col("overlap") >= F.lit(float(threshold)))
        .select(F.col(id_col).alias("__flagged"))
    )
    # null-safe: from a plain equality key the optimizer infers a
    # not-null filter on the flagged side and pushes it below the
    # groupBy, so the null-id group, and its check, would never form
    return docs.join(
        F.broadcast(flagged),
        F.col(id_col).eqNullSafe(F.col("__flagged")),
        "left_anti",
    )
