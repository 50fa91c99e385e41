"""Persistent decontamination artifact: shingle the benchmark ONCE,
screen and decontaminate every future corpus batch against the stored
index (VERDICT r9 ask #2).

``ngram_overlap`` / ``containment_probe`` (operators/contamination.py,
operators/sketch.py) are the one-shot shapes: every call re-shingles
the benchmark TEXT. Continuous ingestion — the normal regime for a
training-data pipeline — needs the amortized shape: reduce the
benchmark suite to its derived artifacts once, then screen each
incoming corpus batch against the store without touching the benchmark
text again. Same philosophy as the persistent MinHash index
(operators/dedup_index.py) and IVF index (operators/similarity_index.py):
the "index" is parquet layout + a params sidecar, not a server-side
structure.

Layout under ``path``:

- ``shingles/`` — the benchmark suite's word-n-gram strings, one row
  per DISTINCT (group..., s) — an INVARIANT (build distincts; append
  anti-joins against the store on the same key). The exact overlap
  join additionally global-distincts on ``s`` at read time (a shingle
  shared by two groups must not double-count a doc hit).
- ``groups/`` — distinct group values of every indexed benchmark doc
  (only when ``group_cols`` given), so a benchmark whose texts are all
  shorter than ``n`` words still screens as ``n_probed=0`` instead of
  vanishing (the containment_probe zero-shingle contract).
- ``bloom/`` — the union bloom bitmap as (cid, bm binary) 512 KiB
  word-range chunk rows — the scalable store shape of the distributed
  build in ``build_bloom_words``.
- ``_decon_index.json`` — sidecar pinning (text_col, n, seed, probe k,
  group_cols, bloom m/k/fpp, n_shingles) so probes reproduce
  bit-identical hashes. Written through the pyarrow-fs layer
  (sources/fs.py) so object-store paths work.

Append ordering is crash-safe for EXACTNESS and for COMPLETENESS: the
bloom is rewritten FIRST (a bitmap with bits for shingles that never
landed in the store only adds false-positive candidates, which the
exact verify join removes), then the GROUPS store appends (a group
present before its shingles screens as the honest ``n_probed=0`` row;
the reverse would silently drop the group's summary row), then the
shingle store appends, then the sidecar updates. Any torn append is
repaired by retrying the call — every step is idempotent.

Bloom capacity: appends OR into the existing ``m`` bits, so the
REALIZED false-positive rate drifts above the build-time ``fpp`` as
``n_shingles`` grows — exactness is untouched (the verify join), only
candidate volume; the sidecar's ``bloom.fpp_realized`` tracks the
drift, and ``rebuild_decon_index`` restores the target fpp (re-sized
bloom) and compacts the append-fragmented shingle store behind a
verified safe swap.

Scale notes (100 TB): the build is one scan of the BENCHMARK (MB-GB —
eval suites, not the corpus); a screen is one scan of the incoming
BATCH plus one narrow benchmark-sized read of the store; the exact
decontamination pass is the same two-join shape as the one-shot
operator with the store read replacing the benchmark re-shingle.
Nothing corpus-sized ever shuffles.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialpandas_spark.operators.contamination import (
    _bloom_matched_counts,
    _bloom_params,
    benchmark_shingles,
    build_bloom_words,
)
from spatialpandas_spark.operators.dedup import word_shingles
from spatialpandas_spark.operators.sampling import sample_hash
from spatialpandas_spark.operators.sketch import kmv_sketch

from spatialpandas_spark.materialize import materialize

_SIDECAR = "_decon_index.json"


def _fpp_realized(m: int, k: int, n: int) -> float:
    """Expected false-positive rate of an (m, k) bloom holding n items."""
    return round((1.0 - math.exp(-k * n / m)) ** k, 6)


def _grouped_shingles(
    bench: DataFrame, text_col: str, n: int, groups: list[str]
) -> DataFrame:
    """Distinct (groups..., s) shingle rows of a benchmark frame."""
    return bench.select(
        *groups, F.explode(word_shingles(F.col(text_col), n)).alias("s")
    ).distinct()


def build_decon_index(
    bench: DataFrame,
    path: str,
    text_col: str = "text",
    n: int = 5,
    k: int = 8192,
    seed: int = 42,
    group_cols: list[str] | None = None,
    fpp: float = 0.01,
) -> None:
    """Index a benchmark suite at ``path``: shingle store + bloom store
    (+ group store when ``group_cols`` given) + sidecar. One scan of
    the benchmark."""
    groups = list(group_cols or [])
    base = path.rstrip("/")
    sh = _grouped_shingles(bench, text_col, n, groups)
    sh.write.mode("overwrite").parquet(f"{base}/shingles")
    spark = bench.sparkSession
    store = spark.read.parquet(f"{base}/shingles")
    n_shingles = store.select("s").distinct().count()
    m, bk = _bloom_params(max(1, n_shingles), fpp)
    words = build_bloom_words(
        store.select(F.xxhash64("s").alias("h")).distinct(), m, bk
    )
    _write_bloom(spark, words, f"{base}/bloom")
    if groups:
        bench.select(*groups).distinct().write.mode("overwrite").parquet(
            f"{base}/groups"
        )
    params = {
        "text_col": text_col,
        "n": n,
        "k": k,
        "seed": seed,
        "group_cols": groups,
        "n_shingles": n_shingles,
        "bloom": {
            "m": m,
            "k": bk,
            "fpp": fpp,
            "fpp_realized": _fpp_realized(m, bk, n_shingles),
        },
    }
    # sidecar LAST so a readable index is always complete
    from spatialpandas_spark.sources import fs as _fs

    _fs.write_text(f"{base}/{_SIDECAR}", json.dumps(params))


def load_decon_params(path: str, filesystem=None) -> dict:
    from spatialpandas_spark.sources import fs as _fs

    return json.loads(
        _fs.read_text(f"{path.rstrip('/')}/{_SIDECAR}", filesystem=filesystem)
    )


def _write_bloom(spark: SparkSession, words, base: str) -> None:
    """Bitmap -> (cid, bm binary) 512 KiB chunk rows at ``base``."""
    import numpy as np

    from spatialpandas_spark.operators.contamination import (
        _BLOOM_CHUNK_WORDS,
    )

    words = np.asarray(words, dtype=np.uint64)
    rows = [
        (cid, bytes(words[cid : cid + _BLOOM_CHUNK_WORDS].tobytes()))
        for cid in range(0, len(words), _BLOOM_CHUNK_WORDS)
    ]
    spark.createDataFrame(rows, "cid long, bm binary").repartition(
        1
    ).write.mode("overwrite").parquet(base)


class ConcurrentRebuildError(RuntimeError):
    """A multi-artifact read observed a torn index snapshot — sidecar
    and bloom from different epochs, which only happens inside a
    ``rebuild_decon_index`` swap window (or after a half-copied manual
    restore). The read is RETRYABLE: the swap is near-instant on POSIX
    and bounded on object stores; see docs/INDEX_CONSISTENCY.md."""


def _read_bloom(spark: SparkSession, base: str, m: int):
    import numpy as np

    words = np.zeros(m // 64, dtype=np.uint64)
    # per-word coverage mask, not a length sum: a duplicated chunk row
    # (e.g. old + new epoch both visible mid-swap) must not mask a
    # missing range elsewhere — overlap and undersize are both tears.
    seen = np.zeros(len(words), dtype=bool)
    for r in spark.read.parquet(base).collect():
        a = np.frombuffer(r["bm"], dtype=np.uint64)
        if r["cid"] + len(a) > len(words):
            raise ConcurrentRebuildError(
                f"bloom at {base} has {r['cid'] + len(a)}+ words but the "
                f"sidecar says m={m} ({len(words)} words) — torn "
                "sidecar/bloom snapshot (rebuild in progress?); retry"
            )
        span = seen[r["cid"] : r["cid"] + len(a)]
        if span.any():
            raise ConcurrentRebuildError(
                f"bloom at {base} has overlapping chunk rows at word "
                f"{r['cid']} — duplicate/mixed-epoch chunks (rebuild in "
                "progress?); retry"
            )
        span[:] = True
        words[r["cid"] : r["cid"] + len(a)] |= a
    if not seen.all():
        # an undersized bloom is the DANGEROUS tear: missing words read
        # as all-zero bits = 'definitely absent' = silent false
        # negatives in every downstream screen. Fail fast instead.
        raise ConcurrentRebuildError(
            f"bloom at {base} covers {int(seen.sum())} words, sidecar "
            f"expects "
            f"{len(words)} — torn sidecar/bloom snapshot (rebuild in "
            "progress?); retry"
        )
    return words


def append_to_decon_index(bench: DataFrame, path: str) -> None:
    """Add new benchmark documents to an existing index. Only shingles
    NOT already in the store are appended (distinctness invariant);
    their bits OR into the existing bloom bitmap (same m/k — hashes
    stay bit-compatible).

    Write order is crash-safe end to end: bloom, then GROUPS, then
    shingles, then sidecar. A superset bloom only adds candidates the
    verify join removes; a superset groups store only adds a group
    whose probes haven't landed yet, which screens as the honest
    ``n_probed=0`` row — whereas the reverse order (shingles before
    groups, the pre-r11 layout) could leave a group's shingles present
    but its summary row silently DROPPED by ``screen_against_index``'s
    left join from groups/. A torn append is always repaired by
    retrying the same call (every step is idempotent: OR, anti-join
    append, sidecar recount)."""
    p = load_decon_params(path)
    groups = p["group_cols"]
    base = path.rstrip("/")
    spark = bench.sparkSession
    store = spark.read.parquet(f"{base}/shingles")
    fresh = (
        _grouped_shingles(bench, p["text_col"], p["n"], groups)
        .join(store, groups + ["s"], "left_anti")
        .transform(materialize, eager=False)  # consumed by bloom AND append
    )
    m, bk = p["bloom"]["m"], p["bloom"]["k"]
    new_words = build_bloom_words(
        fresh.select(F.xxhash64("s").alias("h")).distinct(), m, bk
    )
    words = _read_bloom(spark, f"{base}/bloom", m) | new_words
    _write_bloom(spark, words, f"{base}/bloom")
    if groups:
        bench.select(*groups).distinct().join(
            spark.read.parquet(f"{base}/groups"), groups, "left_anti"
        ).write.mode("append").parquet(f"{base}/groups")
    fresh.write.mode("append").parquet(f"{base}/shingles")
    p["n_shingles"] = (
        spark.read.parquet(f"{base}/shingles").select("s").distinct().count()
    )
    p["bloom"]["fpp_realized"] = _fpp_realized(m, bk, p["n_shingles"])
    from spatialpandas_spark.sources import fs as _fs

    _fs.write_text(f"{base}/{_SIDECAR}", json.dumps(p))


def rebuild_decon_index(
    spark: SparkSession,
    path: str,
    fpp: float | None = None,
    target_partitions: int | None = None,
) -> dict:
    """Safe-swap rebuild of an append-churned index (VERDICT r10 ask
    #3 — the lifecycle step appends alone cannot provide): appends OR
    into the ORIGINAL ``m`` bits, so ``fpp_realized`` drifts up and
    probe candidate volume with it, and each append fragments the
    shingle store into more files.

    The rebuild re-sizes the bloom for the CURRENT shingle count
    (restoring the build-time ``fpp`` target), repacks the shingle
    store into few files, and swaps atomically — same discipline as
    ``compact_vector_index`` (operators/similarity_index.py): stage at
    ``<path>.rebuild.tmp``, verify shingle-row identity, then
    ``replace_dir``. Every probe artifact is a pure function of the
    shingle SET (xxhash64 bloom bits from the new sidecar's m/k, kmv
    probe hashes from the unchanged k/seed), so screens and overlaps
    are row-identical across the rebuild; only candidate volume
    changes. A crash before the swap leaves the live index untouched.

    Returns the new sidecar dict."""
    from spatialpandas_spark.sources import fs as _fs

    p = load_decon_params(path)
    base = path.rstrip("/")
    tmp = f"{base}.rebuild.tmp"
    groups = p["group_cols"]
    # consumed by the distinct count, bloom build, and the staged write
    store = materialize(spark.read.parquet(f"{base}/shingles"), eager=False)
    # distinct per (groups, s) by invariant
    n_before = _fs.parquet_num_rows(f"{base}/shingles")
    nsh = store.select("s").distinct().count()
    fpp = p["bloom"]["fpp"] if fpp is None else fpp
    m, bk = _bloom_params(max(1, nsh), fpp)
    words = build_bloom_words(
        store.select(F.xxhash64("s").alias("h")).distinct(), m, bk
    )
    # one file per ~2M shingle rows keeps the store scan wide enough at
    # benchmark scale without re-fragmenting (benchmarks are MB-GB)
    nparts = target_partitions or min(32, n_before // 2_000_000 + 1)
    store.repartition(nparts).write.mode("overwrite").parquet(
        f"{tmp}/shingles"
    )
    _write_bloom(spark, words, f"{tmp}/bloom")
    if groups:
        spark.read.parquet(f"{base}/groups").distinct().coalesce(
            1
        ).write.mode("overwrite").parquet(f"{tmp}/groups")
    out = dict(p)
    out["n_shingles"] = nsh
    out["bloom"] = {
        "m": m,
        "k": bk,
        "fpp": fpp,
        "fpp_realized": _fpp_realized(m, bk, nsh),
    }
    _fs.write_text(f"{tmp}/{_SIDECAR}", json.dumps(out))
    n_after = _fs.parquet_num_rows(f"{tmp}/shingles")
    if n_after != n_before:
        raise RuntimeError(
            f"decon-index rebuild row-count mismatch ({n_before} -> "
            f"{n_after}); staged copy left at {tmp}, live index untouched"
        )
    _fs.replace_dir(tmp, base)
    return out


def rebuild_if_drifted(
    spark: SparkSession,
    path: str,
    drift_factor: float = 2.0,
    **rebuild_kwargs,
) -> tuple[bool, dict]:
    """Maintenance policy over :func:`rebuild_decon_index` — the call
    an ingestion loop makes after each append batch so the operator
    never needs a human watching ``fpp_realized``.

    Reads ONLY the sidecar (no store scan) and rebuilds iff
    ``bloom.fpp_realized > drift_factor * bloom.fpp`` — i.e. the
    appends have degraded probe selectivity past the tolerance. The
    factor-2 default keeps candidate volume within ~2x of the
    build-time design point while making rebuild frequency logarithmic
    in growth (each rebuild re-sizes for the CURRENT count, so a
    steady append rate triggers geometrically rarer rebuilds).

    Returns ``(rebuilt, sidecar)`` where ``sidecar`` is post-rebuild
    when one ran, else the current one. Crash-safety is inherited
    (the rebuild stages and swaps; this wrapper holds no state)."""
    if drift_factor <= 1.0:
        raise ValueError("drift_factor must be > 1 (1.0 would rebuild "
                         "on every call — fpp_realized >= fpp by design)")
    p = load_decon_params(path)
    if p["bloom"]["fpp_realized"] <= drift_factor * p["bloom"]["fpp"]:
        return False, p
    return True, rebuild_decon_index(spark, path, **rebuild_kwargs)


def probe_set(spark: SparkSession, path: str) -> DataFrame:
    """The per-group bottom-k probe set derived from the STORE (one
    narrow benchmark-sized scan — the benchmark text never re-shingles):
    ``(*group_cols, rank, h)``, identical to ``shingle_sketch`` over the
    original benchmark docs because kmv is a pure function of the
    shingle SET."""
    p = load_decon_params(path)
    store = spark.read.parquet(f"{path.rstrip('/')}/shingles")
    return kmv_sketch(
        store, "s", k=p["k"], group_cols=p["group_cols"], seed=p["seed"]
    )


def screen_against_index(
    docs: DataFrame,
    path: str,
    text_col: str | None = None,
) -> DataFrame:
    """Containment screen of every indexed benchmark (group) in
    ``docs`` — row-identical to ``containment_probe(docs, bench, ...)``
    on the original benchmark frame, but the benchmark side reads the
    artifact. One scan of ``docs``. ``text_col`` defaults to the
    indexed one."""
    spark = docs.sparkSession
    p = load_decon_params(path)
    groups = p["group_cols"]
    tc = text_col or p["text_col"]
    bsk = probe_set(spark, path).transform(materialize, eager=False)
    grams = docs.select(
        F.explode(word_shingles(F.col(tc), p["n"])).alias("s")
    )
    probes = F.broadcast(bsk.select("h").distinct())
    hits = (
        grams.select(sample_hash(F.col("s"), p["seed"]).alias("h"))
        .join(probes, "h", "left_semi")
        .distinct()
        .withColumn("__found", F.lit(1))
    )
    flagged = bsk.join(F.broadcast(hits), "h", "left").select(
        *groups,
        "rank",
        "h",
        F.coalesce(F.col("__found"), F.lit(0)).alias("found"),
    )
    agg = flagged.groupBy(*groups).agg(
        F.count("*").alias("n_probed"),
        F.sum("found").cast("long").alias("n_found"),
    )
    if groups:
        all_groups = spark.read.parquet(f"{path.rstrip('/')}/groups")
        agg = all_groups.join(agg, groups, "left").select(
            *groups,
            F.coalesce(F.col("n_probed"), F.lit(0)).alias("n_probed"),
            F.coalesce(F.col("n_found"), F.lit(0)).cast("long").alias(
                "n_found"
            ),
        )
    return agg.select(
        *groups,
        "n_probed",
        "n_found",
        F.when(
            F.col("n_probed") > 0,
            F.col("n_found").cast("double") / F.col("n_probed"),
        )
        .otherwise(F.lit(0.0))
        .alias("containment_b"),
        (F.col("n_probed") < F.lit(p["k"])).alias("exact"),
    )


def ngram_overlap_against_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str | None = None,
    method: str = "broadcast",
) -> DataFrame:
    """Per-document contamination vs the INDEXED benchmark suite —
    value-identical to ``ngram_overlap`` / ``ngram_overlap_bloom`` on
    the original benchmark frame, with the store read replacing the
    benchmark re-shingle. ``method='bloom'`` probes the STORED bitmap
    (no bitmap rebuild) and verifies candidates against the shingle
    store."""
    if method not in ("broadcast", "bloom"):
        raise ValueError(f"unknown decontamination method {method!r}")
    spark = docs.sparkSession
    p = load_decon_params(path)
    tc = text_col or p["text_col"]
    # global distinct: the store is distinct per (group, s) — a shingle
    # shared by two benchmark groups would double-count in the left join
    bset = (
        spark.read.parquet(f"{path.rstrip('/')}/shingles")
        .select("s")
        .distinct()
    )
    base = docs.select(
        F.col(id_col),
        word_shingles(F.col(tc), p["n"]).alias("__sh"),
    )
    totals = base.select(
        id_col, F.size("__sh").cast("long").alias("total_ngrams")
    )
    # the empty-index short-circuit must be confirmed by the STORE, not
    # the sidecar alone: a crash between the shingles append and the
    # sidecar rewrite leaves n_shingles stale (possibly the build-time
    # 0), and trusting it would silently report zero matches against a
    # non-empty store. The extra job runs only when the sidecar says 0.
    if p["n_shingles"] == 0 and bset.isEmpty():
        out = totals.withColumn("matched_ngrams", F.lit(0).cast("long"))
    elif method == "bloom":
        m, bk = p["bloom"]["m"], p["bloom"]["k"]
        words = _read_bloom(spark, f"{path.rstrip('/')}/bloom", m)
        matched = _bloom_matched_counts(base, bset, words, m, bk, id_col)
        out = totals.join(matched, id_col, "left").withColumn(
            "matched_ngrams",
            F.coalesce(F.col("matched_ngrams"), F.lit(0)).cast("long"),
        )
    else:
        exploded = base.select(id_col, F.explode_outer("__sh").alias("s"))
        joined = exploded.join(
            F.broadcast(bset.withColumn("__hit", F.lit(1))), "s", "left"
        )
        out = joined.groupBy(id_col).agg(
            F.count("s").alias("total_ngrams"),
            F.count("__hit").alias("matched_ngrams"),
        )
    return out.withColumn(
        "overlap",
        F.when(
            F.col("total_ngrams") > 0,
            F.col("matched_ngrams").cast("double") / F.col("total_ngrams"),
        ).otherwise(F.lit(0.0)),
    )


def decontaminate_against_index(
    docs: DataFrame,
    path: str,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str | None = None,
    method: str = "broadcast",
) -> DataFrame:
    """Drop training documents whose overlap with the INDEXED benchmark
    suite is ``>= threshold`` — the amortized twin of
    ``decontaminate``. The flagged-id set is tiny, so removal is a
    broadcast anti-join; the corpus is never shuffled."""
    flagged = (
        ngram_overlap_against_index(docs, path, id_col, text_col, method)
        .filter(F.col("overlap") >= threshold)
        .select(id_col)
    )
    return docs.join(F.broadcast(flagged), id_col, "left_anti")
