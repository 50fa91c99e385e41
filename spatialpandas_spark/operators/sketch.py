"""K-minimum-values (KMV) set sketches for cross-corpus overlap.

Decontamination (``operators/contamination.py``) answers "which training
documents overlap THIS benchmark" with a broadcast join — exact, but it
assumes one side is broadcast-sized. The questions a 100 TB curation
pipeline asks *first* are corpus-level: how many distinct n-grams does
each source contribute, how much do two crawls overlap, is a new dump
worth ingesting at all. Joining two 100 TB corpora to answer that is
absurd; the public answer is a distinct-value synopsis.

KMV — Bar-Yossef et al. 2002 ("Counting distinct elements in a data
stream"), multiset/overlap form in Beyer et al., SIGMOD 2007 ("On
synopses for distinct value estimation under multiset operations") —
keeps the ``k`` smallest values of a uniform hash over the set:

- the k-th smallest hash estimates the distinct count as
  ``(k-1) * H / h_k`` (``H`` = hash-space size); fewer than ``k``
  distinct values means the sketch IS the set (exact);
- sketches are mergeable: the bottom-k of a union is the bottom-k of
  the concatenated sketches, so union / intersection / Jaccard /
  containment across corpora are computed from two k-row frames —
  constant work, **no cross-corpus shuffle of any kind**;
- with a content hash (the md5-prefix ``sample_hash``), the sketch is
  deterministic: reruns, backfills, and a SQL engine replaying the same
  hash agree bit-for-bit. This is the same engine-portable hash the
  sampling/mix oracles use.

Spark shape (round-14): ONE scan. Bottom-k over distinct values is
exactly mergeable — the global bottom-k is contained in the union of
per-partition bottom-k's — so a map-side partial bottom-k per
(partition, group) reduces the corpus to ≤ ``k`` rows per partition
per group in the scan stage (an Arrow pass over just the hash column),
and the global distinct + per-group rank runs over that tiny survivor
set. Nothing data-sized ever crosses the wire, no second corpus pass,
and exactness holds by construction (earlier rounds used an
HLL-threshold prefilter + a recompute safety net: one extra full scan
and three extra plan-subtree copies per sketch for the same result).

The overlap screens (:func:`kmv_overlap`, :func:`corpus_overlap`)
finish on the driver: their input is at most ``2k`` hashes by
construction, so the call collects them in one Arrow collect (running
the sketch scan then, once), counts the union's bottom-k and the shared
hashes in numpy and returns a local one-row frame, over which the
Column estimators fold at plan time. Each Spark job costs driver time
whatever its rows; joining and aggregating two k-row frames in Spark
cost several.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spatialpandas_spark.operators.dedup import word_shingles
from spatialpandas_spark.operators.sampling import sample_hash

from spatialpandas_spark.materialize import materialize

#: size of the sample_hash space: 15 hex chars = 60 bits.
HSPACE = 1 << 60


def _as_col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def kmv_sketch(
    df: DataFrame,
    key: str | Column,
    k: int = 256,
    group_cols: list[str] | None = None,
    seed: int = 42,
    prefilter: bool = True,
) -> DataFrame:
    """Bottom-``k`` sketch of the distinct ``key`` values (per group).

    Returns ``(*group_cols, rank, h)`` with ``rank`` 1-based in
    ascending-hash order and ``h`` the 60-bit ``sample_hash`` of the
    key — at most ``k`` rows per group (fewer iff the group has fewer
    distinct keys, in which case the sketch is exact). The result is a
    pure function of the key SET: partition layout, input order, and
    ``prefilter`` never change it.

    ``prefilter=True`` is the at-scale path (map-side partial bottom-k
    in the scan stage, see module docstring); ``prefilter=False`` ranks
    the full distinct hash set — same result, used by tests as the
    oracle twin.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    groups = list(group_cols or [])
    pairs = df.filter(_as_col(key).isNotNull()).select(
        *groups, sample_hash(_as_col(key), seed).alias("h")
    )

    w = Window.partitionBy(*[F.col(g) for g in groups]).orderBy(
        F.col("h").asc()
    )

    def bottom_k(p: DataFrame) -> DataFrame:
        return (
            p.distinct()
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(*groups, "rank", "h")
        )

    if not prefilter:
        return bottom_k(pairs)

    # ONE pass (round-14): a map-side partial bottom-k per (partition,
    # group) in Arrow, then the tiny global distinct+rank. The previous
    # at-scale path read the corpus TWICE (an HLL threshold pass, then a
    # filtered pass) and carried a declarative safety net whose three
    # extra subtree copies dominated Catalyst planning time (profiled:
    # a multi-second pre-job gap on b30, and the explode+distinct
    # subtree executing twice per side). Bottom-k distinct is exactly
    # mergeable — the global bottom-k of distinct hashes is contained
    # in the union of per-partition bottom-k's — so one scan suffices
    # and exactness needs no net. Only the hash column (+ group cols)
    # crosses the Arrow boundary; the shuffle stays ≤ k rows per
    # (partition, group), same as the filtered path.
    import numpy as np
    import pandas as pd

    kk = int(k)

    def partial(batches):
        if groups:
            # acc value = [one-row group-key frame (ORIGINAL dtypes),
            # merged bottom-k hashes]. The group columns are re-emitted
            # by repeating that sliced row rather than rebuilding an
            # object Series from Python scalars: a null float/temporal
            # key round-tripped through an object column can come back
            # as NaN/NaT instead of a SQL NULL, which would break the
            # documented prefilter==oracle-twin equality on null-keyed
            # groups (round-15 advice fix). Distinct NaN dict keys may
            # produce several partial rows for one null group — harmless:
            # the global distinct+rank below merges them exactly.
            acc: dict = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                for gv, sub in pdf.groupby(
                    groups, dropna=False, sort=False
                ):
                    key_t = gv if isinstance(gv, tuple) else (gv,)
                    h = sub["h"].to_numpy()
                    ent = acc.get(key_t)
                    if ent is None:
                        acc[key_t] = [
                            sub.iloc[:1][groups], np.unique(h)[:kk]
                        ]
                    else:
                        ent[1] = np.unique(
                            np.concatenate([ent[1], h])
                        )[:kk]
            for grow, u in acc.values():
                out = grow.iloc[
                    np.zeros(len(u), dtype=np.int64)
                ].reset_index(drop=True)
                out["h"] = u
                yield out
        else:
            best = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                h = pdf["h"].to_numpy()
                u = np.unique(
                    h if best is None else np.concatenate([best, h])
                )
                best = u[:kk]
            if best is not None and len(best):
                yield pd.DataFrame({"h": best})

    survivors = pairs.mapInPandas(partial, pairs.schema)
    return bottom_k(survivors)


def kmv_summary(
    sketch: DataFrame, k: int, group_cols: list[str] | None = None
) -> DataFrame:
    """Distinct-count estimate per group from a :func:`kmv_sketch` frame:
    ``(*group_cols, n_hashes, kth_hash, distinct_est)``. A sketch with
    fewer than ``k`` rows is the exact set (est = row count); a full
    sketch uses the unbiased KMV estimator ``(k-1) * H / h_k``."""
    groups = list(group_cols or [])
    agg = sketch.groupBy(*groups).agg(
        F.count("*").alias("n_hashes"),
        F.max(F.when(F.col("rank") == k, F.col("h"))).alias("kth_hash"),
    )
    return agg.select(
        *groups,
        "n_hashes",
        "kth_hash",
        _kmv_estimate("n_hashes", "kth_hash", k).alias("distinct_est"),
    )


def kmv_merge(
    a: DataFrame, b: DataFrame, k: int, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge two sketch frames per group: bottom-``k`` of the
    concatenated hash sets — the KMV merge rule, the reason sketches
    compose across shards/batches/corpora. Constant work per group
    (each input holds ≤ k rows per group). Groups present in only one
    input pass through (union semantics)."""
    groups = list(group_cols or [])
    merged = (
        a.select(*groups, "h").unionByName(b.select(*groups, "h")).distinct()
    )
    w = Window.partitionBy(*[F.col(g) for g in groups]).orderBy(
        F.col("h").asc()
    )
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*groups, "rank", "h")
    )


def kmv_union(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """Sketch of the union of two (ungrouped) sketches: bottom-``k`` of
    the concatenated hash sets — the KMV merge rule. Constant work:
    both inputs are ≤ k rows."""
    return kmv_merge(a, b, k).select("rank", "h")


def kmv_overlap(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """Set-overlap estimates between two (ungrouped) sketches of the same
    ``(key domain, seed, k)``: one row with

    ``(k_used, n_both, jaccard, union_est, intersection_est,
    distinct_a_est, distinct_b_est, containment_a, containment_b)``

    where ``jaccard = |L ∩ A ∩ B| / |L|`` over the union's bottom-k
    ``L`` (Beyer et al. 2007), ``intersection_est = jaccard *
    union_est`` and ``containment_a = intersection_est /
    distinct_a_est`` (the "what fraction of corpus A is also in B"
    screening number). Everything is a deterministic function of the
    two k-row frames — no corpus is touched.

    Resolution contract: the screen holds ``E = k·|A∩B|/|A∪B|`` shared
    hashes, so the containment numbers resolve only down to ~union/k —
    fine for similar-sized corpora, BLIND for a small set inside a huge
    one (containment reads 0.0 under full containment when
    ``|A∪B|/|A∩B| >> k``). For small-in-large containment use
    :func:`containment_probe`, whose error is independent of the large
    side's size.

    Runs at call time: both sketches' ``h`` columns come back in ONE
    Arrow collect (at most ``2k`` hashes for ``k``-row sketches — a
    sketch built from a corpus scan runs that scan here, once), the
    counts the estimators need are taken on the driver, and the result
    is a local one-row frame that later actions read with no Spark
    job."""
    sides = a.select(F.lit(0).alias("__side"), "h").unionByName(
        b.select(F.lit(1).alias("__side"), "h")
    )
    return _driver_overlap(sides, k)


def _driver_overlap(sides: DataFrame, k: int) -> DataFrame:
    """Collect a ``(__side, h)`` frame (side 0 = A, 1 = B) of two
    ungrouped sketches in one Arrow collect, count on the driver what
    the estimators need (union bottom-k size, shared hashes, each
    side's row count and k-th hash) and apply :func:`_overlap_estimates`
    to that one-row Arrow-built frame. Spark folds the projection into
    the ``LocalRelation``, so reading the result runs no job."""
    import numpy as np
    import pyarrow as pa

    t = sides.select("__side", "h").toArrow()
    side, h = t.column("__side").to_numpy(), t.column("h").to_numpy()
    ha, hb = np.sort(h[side == 0]), np.sort(h[side == 1])
    u = np.unique(np.concatenate([ha, hb]))[:k]

    def kth(s):
        # max(h) over rank == k: NULL below k rows
        return int(s[k - 1]) if len(s) >= k else None

    both = int((np.isin(u, ha) & np.isin(u, hb)).sum())
    counts = {
        "k_used": len(u),
        "n_both": both if len(u) else None,  # a sum over no rows is NULL
        "kth_hash": kth(u),
        "n_a": len(ha),
        "kth_a": kth(ha),
        "n_b": len(hb),
        "kth_b": kth(hb),
    }
    # the nullability of the aggregates these replace (count, sum, max)
    schema = pa.schema(
        [pa.field(c, pa.int64(), nullable=c not in ("k_used", "n_a", "n_b"))
         for c in counts]
    )
    local = sides.sparkSession.createDataFrame(
        pa.Table.from_pylist([counts], schema=schema)
    )
    return _overlap_estimates(
        local.select(
            "k_used",
            "n_both",
            "kth_hash",
            _kmv_estimate("n_a", "kth_a", k).alias("distinct_a_est"),
            _kmv_estimate("n_b", "kth_b", k).alias("distinct_b_est"),
        ),
        k,
        [],
    )


def _kmv_estimate(n_col: str, kth_col: str, k: int):
    """Distinct-count estimate of a sketch from its row count and k-th
    hash: the row count under ``k`` rows, else the unbiased KMV
    estimator ``(k-1) * H / h_k`` (Column; the gate's SQL oracle
    mirrors this op order)."""
    return F.when(
        F.col(n_col) < k, F.col(n_col).cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(HSPACE)) / F.col(kth_col).cast("double")
    )


def _overlap_estimates(df, k: int, id_cols: list[str]) -> DataFrame:
    """Shared estimator tail: from (``*id_cols``, k_used, n_both,
    kth_hash, distinct_a_est, distinct_b_est) to the full overlap-stats
    row. One IEEE multiply/divide chain — the exact op order the gate's
    SQL oracle mirrors."""
    union_est = _kmv_estimate("k_used", "kth_hash", k)
    jacc = F.when(F.col("k_used") > 0,
                  F.col("n_both").cast("double") / F.col("k_used")
                  ).otherwise(F.lit(0.0))
    return df.select(
        *id_cols,
        "k_used",
        F.col("n_both").cast("long").alias("n_both"),
        jacc.alias("jaccard"),
        union_est.alias("union_est"),
        (jacc * union_est).alias("intersection_est"),
        "distinct_a_est",
        "distinct_b_est",
        F.when(
            F.col("distinct_a_est") > 0,
            jacc * union_est / F.col("distinct_a_est"),
        ).otherwise(F.lit(0.0)).alias("containment_a"),
        F.when(
            F.col("distinct_b_est") > 0,
            jacc * union_est / F.col("distinct_b_est"),
        ).otherwise(F.lit(0.0)).alias("containment_b"),
    )


def kmv_overlap_matrix(
    sk: DataFrame, k: int, group_col: str = "source", max_groups: int = 1024
) -> DataFrame:
    """ALL-PAIRS overlap screen across the N groups of one grouped
    sketch frame (``kmv_sketch(..., group_cols=[group_col])`` /
    ``shingle_sketch(..., group_cols=...)``): one row per unordered
    group pair (``g_a < g_b``) with the same stats as
    :func:`kmv_overlap`. The dedup-planning report — which sources
    repeat each other, which dumps to drop — for the cost of N·k rows
    in, N²/2 tiny rows out; NO source corpus is touched, so screening
    500 sources is ~125k k-row comparisons on sketches, not 125k
    corpus joins.

    **Contract: intentionally quadratic in the number of GROUPS** (the
    all-pairs matrix over k-row sketches — the data volume is sketches,
    never corpus rows, so dozens-to-hundreds of sources are cheap). The
    intermediate union frame is ~N²/2 · 2k rows, so N=1024 at k=256 is
    ~270M distributed rows — fine on a cluster, pathological beyond.
    ``max_groups`` (default 1024) guards that cliff with a clear error
    (one bounded count over the ≤ N·k-row sketch frame); raise it
    explicitly when you really want a larger matrix. For "how does ONE
    new dump overlap everything", use N calls to :func:`kmv_overlap`
    instead — that's linear."""
    e = sk.select(F.col(group_col).alias("__g"), "h")
    gs = e.select("__g").distinct()
    n_groups = gs.count()
    if n_groups > max_groups:
        raise ValueError(
            f"kmv_overlap_matrix over {n_groups} groups would build "
            f"~{n_groups * (n_groups - 1) // 2:,} sketch pairs "
            f"(quadratic in groups); pass max_groups>={n_groups} to "
            f"force, or screen one group at a time with kmv_overlap"
        )
    pairs = (
        gs.select(F.col("__g").alias("g_a"))
        .crossJoin(gs.select(F.col("__g").alias("g_b")))
        .filter(F.col("g_a") < F.col("g_b"))
    )
    ua = pairs.join(e, F.col("g_a") == F.col("__g")).select("g_a", "g_b", "h")
    ub = pairs.join(e, F.col("g_b") == F.col("__g")).select("g_a", "g_b", "h")
    u = ua.unionByName(ub).distinct()
    w = Window.partitionBy("g_a", "g_b").orderBy(F.col("h").asc())
    uk = (
        u.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    memb_a = e.select(
        F.col("__g").alias("g_a"), "h", F.lit(1).alias("__ia")
    )
    memb_b = e.select(
        F.col("__g").alias("g_b"), "h", F.lit(1).alias("__ib")
    )
    st = (
        uk.join(memb_a, ["g_a", "h"], "left")
        .join(memb_b, ["g_b", "h"], "left")
        .groupBy("g_a", "g_b")
        .agg(
            F.count("*").alias("k_used"),
            F.sum(
                F.coalesce(F.col("__ia"), F.lit(0))
                * F.coalesce(F.col("__ib"), F.lit(0))
            ).cast("long").alias("n_both"),
            F.max(F.when(F.col("rank") == k, F.col("h"))).alias("kth_hash"),
        )
    )
    summ = kmv_summary(sk, k, group_cols=[group_col])
    sa = summ.select(
        F.col(group_col).alias("g_a"),
        F.col("distinct_est").alias("distinct_a_est"),
    )
    sb = summ.select(
        F.col(group_col).alias("g_b"),
        F.col("distinct_est").alias("distinct_b_est"),
    )
    joined = st.join(F.broadcast(sa), "g_a").join(F.broadcast(sb), "g_b")
    return _overlap_estimates(joined, k, ["g_a", "g_b"])


def shingle_sketch(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 5,
    k: int = 256,
    seed: int = 42,
    prefilter: bool = True,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """KMV sketch of a corpus's distinct word-``n``-gram set — the
    standard contamination-screening domain (same shingles as
    ``operators/contamination.py``). One scan of the corpus.
    ``group_cols`` sketches each group separately (e.g. per ``source``:
    one scan, one k-row synopsis per source)."""
    groups = list(group_cols or [])
    grams = docs.select(
        *groups, F.explode(word_shingles(F.col(text_col), n)).alias("s")
    )
    return kmv_sketch(
        grams, "s", k=k, group_cols=groups, seed=seed, prefilter=prefilter
    )


def containment_probe(
    corpus_docs: DataFrame,
    benchmark_docs: DataFrame,
    text_col: str = "text",
    n: int = 5,
    k: int = 8192,
    seed: int = 42,
    bench_text_col: str | None = None,
    bench_group_cols: list[str] | None = None,
    detail: bool = False,
) -> DataFrame:
    """DIRECT containment of a benchmark in a corpus — the
    small-in-large estimate :func:`kmv_overlap` fundamentally cannot
    resolve (ADVICE r8): deriving containment from the union-bottom-k
    jaccard puts only ``E = k·|bench|/|union|`` benchmark hashes in the
    screen, which is << 1 for a small eval set against a 100 TB corpus
    — containment reads 0.0 even under FULL contamination. This probe
    instead samples the BENCHMARK's own distinct shingle set (its
    bottom-k hashes — a uniform sample, and the EXACT set whenever the
    benchmark has fewer than ``k`` distinct shingles, the common case
    for eval sets) and checks each sampled shingle for membership in
    the corpus shingle stream. The estimator error is binomial,
    ``~sqrt(c(1-c)/k)`` — independent of corpus size.

    Spark shape (one corpus scan, nothing corpus-sized shuffles): the
    ≤ ``k`` probe hashes broadcast; the corpus shingle scan keeps only
    hash matches via a broadcast LEFT SEMI at scan stage; the
    survivors' distinct (map-side combined, ≤ k values) feeds a k-row
    join. 60-bit hash collisions (a non-benchmark corpus shingle
    colliding with a probe) inflate n_found with probability
    ~``k·|corpus|/2^60`` — negligible, and conservative (toward running
    the exact pass).

    ``bench_group_cols`` screens MANY benchmarks in the same single
    corpus scan (one summary row per group — the "dozens of eval sets"
    pipeline shape). Returns one row per group — INCLUDING groups whose
    documents produce zero shingles (every text shorter than ``n``
    words): those report ``n_probed=0, n_found=0, containment_b=0.0,
    exact=true`` rather than vanishing, so a caller iterating the rows
    can tell "screened clean" from "not screened" (ADVICE r9). Columns:
    ``(*group_cols, n_probed, n_found, containment_b, exact)`` where
    ``exact`` marks a benchmark whose probe set is its full distinct
    shingle set (containment is then exact, not sampled).
    ``detail=True`` instead returns the per-probe rows
    ``(*group_cols, rank, h, found)`` (zero-shingle groups have no
    probes, hence no detail rows)."""
    groups = list(bench_group_cols or [])
    bsk = shingle_sketch(
        benchmark_docs,
        bench_text_col or text_col,
        n=n,
        k=k,
        seed=seed,
        group_cols=groups,
    ).transform(materialize, eager=False)  # consumed twice (probe set + join)

    grams = corpus_docs.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("s")
    )
    probes = F.broadcast(bsk.select("h").distinct())
    hits = (
        grams.select(sample_hash(F.col("s"), seed).alias("h"))
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
    if detail:
        return flagged
    agg = flagged.groupBy(*groups).agg(
        F.count("*").alias("n_probed"),
        F.sum("found").cast("long").alias("n_found"),
    )
    if groups:
        # a group whose documents are all shorter than n words yields
        # zero shingles and would otherwise emit no summary row at all
        all_groups = benchmark_docs.select(*groups).distinct()
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
        (F.col("n_probed") < F.lit(k)).alias("exact"),
    )


def corpus_overlap(
    docs_a: DataFrame,
    docs_b: DataFrame,
    text_col: str = "text",
    n: int = 5,
    k: int = 256,
    seed: int = 42,
) -> DataFrame:
    """Corpus-level n-gram overlap screen between two corpora: each side
    is scanned once into a k-row sketch; the comparison itself touches
    no corpus data. Use this to decide whether the exact per-document
    ``ngram_overlap`` pass (which needs a broadcast-sized benchmark) is
    worth running, or to dedupe whole crawl dumps against each other.

    Shape (round-14): ONE tagged-union grouped sketch pass instead of
    two independent sketch chains — both sides' scans run in the same
    job and the sketch machinery (Arrow partial bottom-k, distinct,
    rank window) is planned once. Per-side rows are identical to two
    separate :func:`shingle_sketch` calls because the sketch is a pure
    function of each side's key set. The ≤ 2k-row grouped sketch is
    collected once, at call time, and finished on the driver like
    :func:`kmv_overlap`: the result is a local one-row frame."""
    ga = docs_a.select(F.lit(0).alias("__side"), F.col(text_col))
    gb = docs_b.select(F.lit(1).alias("__side"), F.col(text_col))
    sk = shingle_sketch(
        ga.unionByName(gb), text_col, n=n, k=k, seed=seed,
        group_cols=["__side"],
    )
    return _driver_overlap(sk, k)
