"""KMV corpus-overlap sketches (operators/sketch.py).

Evidence shape matches the rest of the dedup family:

- the ``prefilter=False`` path IS the exact bottom-k over the full
  distinct hash set — verified bit-for-bit against a pure-Python twin
  (hashlib md5-prefix, sort, take k), grouped and ungrouped;
- ``prefilter=True`` (the map-side partial bottom-k at-scale path) must
  equal the unfiltered path EXACTLY — the module's central "exact by
  construction" claim;
- the regimes that starved the old HLL-threshold prefilter (k close to
  the distinct count; a tiny group beside a giant one, the zero-survivor
  shape the round-7 ADVICE flagged) must still be exact;
- the exact-set regime (< k distinct values): the sketch IS the set and
  the estimator returns the true count;
- estimator accuracy on a known-cardinality set is within the published
  KMV relative-error envelope (~1/sqrt(k-2), generous multiplier);
- union / overlap algebra on synthetic corpora with known intersection
  checked against exact set arithmetic.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from spatialpandas_spark.operators.sketch import (
    HSPACE,
    corpus_overlap,
    kmv_overlap,
    kmv_sketch,
    kmv_summary,
    kmv_union,
    shingle_sketch,
)


def _h(key, seed=42):
    return int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:15], 16)


def _py_sketch(keys, k, seed=42):
    """Exact bottom-k of the distinct hash set: [(rank, h), ...]."""
    hs = sorted({_h(x, seed) for x in keys})[:k]
    return [(i + 1, h) for i, h in enumerate(hs)]


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_ungrouped_matches_python_twin_both_paths(spark):
    keys = [f"gram-{i}" for i in range(5000)]
    df = spark.createDataFrame([(x,) for x in keys], "s string")
    expect = _py_sketch(keys, 64)
    for pre in (False, True):
        got = _rows(kmv_sketch(df, "s", k=64, prefilter=pre), "rank", "h")
        assert got == expect, f"prefilter={pre}"


def test_grouped_matches_python_twin_both_paths(spark):
    rows = [(f"src{i % 3}", f"g-{i}") for i in range(6000)]
    df = spark.createDataFrame(rows, "src string, s string")
    expect = sorted(
        (g, r, h)
        for g in ("src0", "src1", "src2")
        for r, h in _py_sketch(
            [s for src, s in rows if src == g], 32
        )
    )
    for pre in (False, True):
        got = _rows(
            kmv_sketch(df, "s", k=32, group_cols=["src"], prefilter=pre),
            "src", "rank", "h",
        )
        assert got == expect, f"prefilter={pre}"


def test_grouped_null_and_typed_group_keys_both_paths(spark):
    """Round-15 advice fix: the map-side partial must preserve the group
    columns' ORIGINAL dtypes (slice-and-repeat, not an object-Series
    rebuild), so null double/long group keys survive the Arrow
    round-trip as SQL NULLs and the prefilter=True path stays equal to
    the prefilter=False oracle twin on null-keyed groups."""
    rows = []
    for i in range(3000):
        g = [None, 1.5, 2.5][i % 3]
        rows.append((g, f"v-{i}"))
    df = spark.createDataFrame(rows, "grp double, s string")

    def _nrows(out):  # None-safe sort of (grp, rank, h) tuples
        return sorted(
            ((r["grp"], r["rank"], r["h"]) for r in out.collect()),
            key=lambda t: (t[0] is not None, t[0] or 0.0, t[1], t[2]),
        )

    a = _nrows(kmv_sketch(df, "s", k=16, group_cols=["grp"], prefilter=False))
    b = _nrows(kmv_sketch(df, "s", k=16, group_cols=["grp"], prefilter=True))
    assert a == b
    assert any(g is None for g, _, _ in b)  # the null group is present
    # and the dtype really is double, not object-coerced
    assert dict(kmv_sketch(
        df, "s", k=16, group_cols=["grp"], prefilter=True
    ).dtypes)["grp"] == "double"


def test_prefilter_invariant_to_partitioning_and_duplicates(spark):
    keys = [f"k{i % 700}" for i in range(4000)]  # heavy duplication
    df = spark.createDataFrame([(x,) for x in keys], "s string")
    a = _rows(kmv_sketch(df, "s", k=50), "rank", "h")
    b = _rows(kmv_sketch(df.repartition(17), "s", k=50), "rank", "h")
    assert a == b == _py_sketch(keys, 50)


def test_safety_net_starved_threshold_still_exact(spark):
    """k close to the distinct count (the regime where the retired
    HLL-threshold prefilter under-kept): every partition's partial
    bottom-k must together still contain the exact global bottom-k."""
    keys = [f"x{i}" for i in range(3000)]
    df = spark.createDataFrame([(x,) for x in keys], "s string")
    got = _rows(kmv_sketch(df, "s", k=256), "rank", "h")
    assert got == _py_sketch(keys, 256)


def test_safety_net_zero_survivor_group(spark):
    """The round-7 ADVICE hole: a small group beside a giant one must
    not be dropped or truncated. The giant group fills every partition's
    partial bottom-k; the tiny group (fewer than k distinct keys) must
    still come back as its exact set, and the giant group as its exact
    bottom-k."""
    # group 'big' has 4000 distinct keys; group 'tiny' has 30 distinct
    # keys, below k -> its sketch is its exact set and MUST be present.
    rows = [("big", f"b{i}") for i in range(4000)]
    rows += [("tiny", f"t{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "src string, s string")
    out = kmv_sketch(df, "s", k=64, group_cols=["src"])
    got = {g: sorted((r, h) for gg, r, h in _rows(out, "src", "rank", "h") if gg == g)
           for g in ("big", "tiny")}
    assert got["big"] == _py_sketch([s for g, s in rows if g == "big"], 64)
    assert got["tiny"] == _py_sketch([s for g, s in rows if g == "tiny"], 64)


def test_zero_survivor_ungrouped_patch(spark, monkeypatch):
    """Directly force the zero-survivor regime on the UNGROUPED path by
    shrinking the hash space constant the threshold math uses: with
    thr computed against a fake tiny HSPACE every real 60-bit hash
    exceeds it, so zero rows survive the prefilter and the whole result
    must come from the safety-net recompute."""
    import spatialpandas_spark.operators.sketch as sk

    keys = [f"z{i}" for i in range(2000)]
    df = spark.createDataFrame([(x,) for x in keys], "s string")
    monkeypatch.setattr(sk, "HSPACE", 1 << 20)
    got = _rows(sk.kmv_sketch(df, "s", k=32), "rank", "h")
    assert got == _py_sketch(keys, 32)


def test_exact_set_regime(spark):
    """Fewer distinct keys than k: the sketch IS the set and the
    estimator returns the exact count."""
    keys = [f"only-{i % 40}" for i in range(500)]
    df = spark.createDataFrame([(x,) for x in keys], "s string")
    sk = kmv_sketch(df, "s", k=256)
    assert _rows(sk, "rank", "h") == _py_sketch(keys, 256)
    row = kmv_summary(sk, 256).collect()[0]
    assert row["n_hashes"] == 40
    assert row["kth_hash"] is None
    assert row["distinct_est"] == 40.0


def test_estimator_within_kmv_error_envelope(spark):
    n, k = 20000, 256
    df = spark.createDataFrame([(f"e{i}",) for i in range(n)], "s string")
    est = kmv_summary(kmv_sketch(df, "s", k=k), k).collect()[0]["distinct_est"]
    # published KMV std error ~ 1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
    assert abs(est - n) / n < 4 / (k - 2) ** 0.5
    # and the estimator formula itself is pinned: (k-1) * H / h_k
    kth = sorted({_h(f"e{i}") for i in range(n)})[k - 1]
    assert est == pytest.approx(float(k - 1) * float(HSPACE) / float(kth), abs=0)


def test_union_is_bottom_k_of_concat(spark):
    a_keys = [f"a{i}" for i in range(1500)]
    b_keys = [f"b{i}" for i in range(1500)] + a_keys[:500]
    da = spark.createDataFrame([(x,) for x in a_keys], "s string")
    db = spark.createDataFrame([(x,) for x in b_keys], "s string")
    k = 48
    u = kmv_union(kmv_sketch(da, "s", k=k), kmv_sketch(db, "s", k=k), k)
    # union sketch == bottom-k of the true union's hash set, PROVIDED
    # every union-bottom-k hash appears in one of the two sketches —
    # guaranteed because bottom-k(A ∪ B) ⊆ bottom-k(A) ∪ bottom-k(B)
    assert _rows(u, "rank", "h") == _py_sketch(set(a_keys) | set(b_keys), k)


def test_overlap_against_exact_set_arithmetic(spark):
    """Synthetic corpora with known intersection: the KMV estimates must
    land within the error envelope of the exact values, and the
    discrete fields (k_used, n_both) must match a Python replay."""
    a_keys = {f"common{i}" for i in range(2000)} | {f"a{i}" for i in range(2000)}
    b_keys = {f"common{i}" for i in range(2000)} | {f"b{i}" for i in range(6000)}
    da = spark.createDataFrame([(x,) for x in a_keys], "s string")
    db = spark.createDataFrame([(x,) for x in b_keys], "s string")
    k = 256
    row = kmv_overlap(
        kmv_sketch(da, "s", k=k), kmv_sketch(db, "s", k=k), k
    ).collect()[0]

    # Python replay of the discrete parts
    ha = {_h(x) for x in a_keys}
    hb = {_h(x) for x in b_keys}
    union_bottom = sorted(ha | hb)[:k]
    n_both = sum(1 for h in union_bottom if h in ha and h in hb)
    assert row["k_used"] == k
    assert row["n_both"] == n_both

    true_j = len(a_keys & b_keys) / len(a_keys | b_keys)
    true_u = len(a_keys | b_keys)
    sigma = 1 / (k - 2) ** 0.5
    assert abs(row["jaccard"] - true_j) < 5 * sigma
    assert abs(row["union_est"] - true_u) / true_u < 4 * sigma
    assert abs(row["intersection_est"] - len(a_keys & b_keys)) < (
        5 * sigma * true_u
    )
    # containment directions: A is mostly contained (2k/4k = .5),
    # B much less (2k/8k = .25)
    assert abs(row["containment_a"] - 0.5) < 0.15
    assert abs(row["containment_b"] - 0.25) < 0.1


def test_shingle_sketch_and_corpus_overlap_wiring(spark):
    """shingle_sketch hashes the same word-5-gram domain as the
    contamination operators; identical corpora must screen as ~full
    overlap and disjoint corpora as ~zero."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(40)],
        "doc_id long, text string",
    )
    same = corpus_overlap(docs, docs, k=64).collect()[0]
    assert same["jaccard"] == 1.0
    assert same["containment_a"] == pytest.approx(1.0)
    other = spark.createDataFrame(
        [(i, " ".join(f"v{i}_{j}" for j in range(12))) for i in range(40)],
        "doc_id long, text string",
    )
    disj = corpus_overlap(docs, other, k=64).collect()[0]
    assert disj["jaccard"] == 0.0
    assert disj["intersection_est"] == 0.0


def test_k_validation(spark):
    df = spark.createDataFrame([("a",)], "s string")
    with pytest.raises(ValueError):
        kmv_sketch(df, "s", k=0)


def test_grouped_shingle_sketch_equals_per_group_standalone(spark):
    """group_cols sketching in ONE scan == filtering each group and
    sketching it alone (the sketch is a pure function of each group's
    shingle set)."""
    docs = spark.createDataFrame(
        [
            (i, f"s{i % 3}", " ".join(f"w{i}_{j}" for j in range(8)))
            for i in range(45)
        ],
        "doc_id long, source string, text string",
    )
    got = sorted(
        map(
            tuple,
            shingle_sketch(
                docs, "text", n=3, k=32, group_cols=["source"]
            ).collect(),
        )
    )
    want = sorted(
        (src, r["rank"], r["h"])
        for src in ("s0", "s1", "s2")
        for r in shingle_sketch(
            docs.filter(F.col("source") == src), "text", n=3, k=32
        ).collect()
    )
    assert got == want


def test_kmv_merge_grouped_equals_union_sketch(spark):
    """Merge-of-bottom-k == bottom-k-of-union per group — the mergeable
    property streaming maintenance relies on."""
    from spatialpandas_spark.operators.sketch import kmv_merge

    rows_a = [(f"g{i % 2}", f"a{i}") for i in range(1200)]
    rows_b = [(f"g{i % 2}", f"b{i}") for i in range(1200)]
    rows_b += rows_a[:300]  # overlap
    da = spark.createDataFrame(rows_a, "g string, s string")
    db = spark.createDataFrame(rows_b, "g string, s string")
    k = 40
    got = _rows(
        kmv_merge(
            kmv_sketch(da, "s", k=k, group_cols=["g"]),
            kmv_sketch(db, "s", k=k, group_cols=["g"]),
            k,
            ["g"],
        ),
        "g", "rank", "h",
    )
    both = rows_a + rows_b
    want = sorted(
        (g, r, h)
        for g in ("g0", "g1")
        for r, h in _py_sketch({s for gg, s in both if gg == g}, k)
    )
    assert got == want


def test_overlap_matrix_equals_pairwise_overlap(spark):
    """kmv_overlap_matrix row (A, B) == kmv_overlap of the two group
    sketches, for every pair of three sources with engineered overlap."""
    from spatialpandas_spark.operators.sketch import (
        kmv_overlap_matrix,
        shingle_sketch,
    )

    def corpus(tag, shared_frac):
        rows = []
        for i in range(30):
            words = [
                (f"c_{i}_{j}" if i < 30 * shared_frac else f"{tag}_{i}_{j}")
                for j in range(8)
            ]
            rows.append((i, tag, " ".join(words)))
        return rows

    rows = corpus("s0", 0.5) + corpus("s1", 0.3) + corpus("s2", 0.0)
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    k = 64
    sk = shingle_sketch(docs, n=3, k=k, group_cols=["source"])
    mat = {
        (r["g_a"], r["g_b"]): r.asDict()
        for r in kmv_overlap_matrix(sk, k, "source").collect()
    }
    assert set(mat) == {("s0", "s1"), ("s0", "s2"), ("s1", "s2")}
    for ga, gb in mat:
        a = shingle_sketch(
            docs.filter(F.col("source") == ga), n=3, k=k
        )
        b = shingle_sketch(
            docs.filter(F.col("source") == gb), n=3, k=k
        )
        want = kmv_overlap(a, b, k).collect()[0].asDict()
        got = {kk: v for kk, v in mat[(ga, gb)].items() if kk not in ("g_a", "g_b")}
        assert got == want, (ga, gb)
    # engineered structure: s0-s1 share the 'c_' grams, s2 shares none
    assert mat[("s0", "s1")]["n_both"] > 0
    assert mat[("s0", "s2")]["jaccard"] == mat[("s1", "s2")]["jaccard"] == 0.0


def test_plan_shapes(spark):
    """Codified plan audit (round 8): the overlap comparison must not
    re-scan corpus data (its row is a local relation: each side's scan
    ran once, at call time), must contain no cartesian product, and the
    grouped sketch must not funnel corpus rows through a
    single-partition exchange."""
    from spatialpandas_spark.plans import physical_plan

    docs = spark.createDataFrame(
        [(i, f"s{i % 2}", " ".join(f"p{i}_{j}" for j in range(8)))
         for i in range(200)],
        "doc_id long, src string, text string",
    )
    a = shingle_sketch(docs.filter(F.col("doc_id") % 2 == 0), k=32)
    b = shingle_sketch(docs.filter(F.col("doc_id") % 2 == 1), k=32)
    plan = physical_plan(kmv_overlap(a, b, 32))
    assert "CartesianProduct" not in plan
    # the driver-built row replaces the corpus lineage in the comparison
    assert "LocalTableScan" in plan

    grouped = kmv_sketch(
        docs.selectExpr("src", "text as s"), "s", k=16, group_cols=["src"]
    )
    gplan = physical_plan(grouped)
    assert "Exchange SinglePartition" not in gplan


@pytest.fixture(scope="module")
def overlap_docs(spark):
    """Two halves (even / odd ``doc_id``) of a corpus whose 5-grams
    overlap, spread over 8 partitions."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 90}" for j in range(12)))
         for i in range(120)],
        "doc_id long, text string",
    ).repartition(8)
    return (
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def test_overlap_jobs_pinned(spark, overlap_docs, jobs_in):
    """Both overlap screens collect their sketches in one Arrow collect
    at call time and return a local row that ``first()`` / ``collect()``
    read with no job (warm second call, this fixture): 5 jobs at call
    time, where the sketch scans and shuffles run. The parent ran
    ``corpus_overlap`` in 4 jobs at call time and 8 at ``first()``, and
    ``kmv_overlap`` in 4 and 8: lazy pins, broadcast membership joins
    and a cross join of three summaries over two k-row sketches."""
    even, odd = overlap_docs
    for rnd in ("warm", "pin"):
        ov, n_call = jobs_in(
            f"corpus-overlap-call-{rnd}", lambda: corpus_overlap(even, odd, k=32)
        )
        row, n_first = jobs_in(f"corpus-overlap-first-{rnd}", ov.first)
        a, b = shingle_sketch(even, k=32), shingle_sketch(odd, k=32)
        ko, k_call = jobs_in(
            f"kmv-overlap-call-{rnd}", lambda: kmv_overlap(a, b, 32)
        )
        rows, k_collect = jobs_in(f"kmv-overlap-collect-{rnd}", ko.collect)
    assert (n_call, n_first) == (5, 0)
    assert (k_call, k_collect) == (5, 0)
    # the grouped sketch's rows equal two standalone sketches'
    assert rows == [row] and row["n_both"] > 0


def test_empty_sketches_overlap_row(spark):
    """Two empty sketches give the parent's row: ``k_used`` 0, ``n_both``
    NULL (a SQL sum over no rows) and every estimate 0.0; one empty side
    gives ``n_both`` 0 and the other side's exact count."""
    empty = kmv_sketch(spark.createDataFrame([], "s string"), "s", k=16)
    ten = kmv_sketch(
        spark.createDataFrame([(f"x{i}",) for i in range(10)], "s string"),
        "s", k=16,
    )
    ov = kmv_overlap(empty, empty, 16)
    assert ov.schema.simpleString() == (
        "struct<k_used:bigint,n_both:bigint,jaccard:double,union_est:double,"
        "intersection_est:double,distinct_a_est:double,distinct_b_est:double,"
        "containment_a:double,containment_b:double>"
    )
    assert [tuple(r) for r in ov.collect()] == [(0, None) + (0.0,) * 7]
    half = kmv_overlap(empty, ten, 16).first()
    assert tuple(half) == (10, 0, 0.0, 10.0, 0.0, 0.0, 10.0, 0.0, 0.0)
    docs = spark.createDataFrame([], "text string")
    assert [tuple(r) for r in corpus_overlap(docs, docs, k=16).collect()] == [
        (0, None) + (0.0,) * 7
    ]


def test_overlap_matrix_group_count_guard(spark):
    """The all-pairs matrix is intentionally quadratic in GROUPS; the
    max_groups guard must refuse a pathological group count with a
    clear error, and an explicit override must let it through."""
    from spatialpandas_spark.operators.sketch import (
        kmv_overlap_matrix,
        kmv_sketch,
    )

    df = spark.createDataFrame(
        [(f"s{i}", f"key{i}-{j}") for i in range(5) for j in range(6)],
        "source string, key string",
    )
    sk = kmv_sketch(df, "key", k=8, group_cols=["source"])
    with pytest.raises(ValueError, match="quadratic"):
        kmv_overlap_matrix(sk, 8, "source", max_groups=3)
    out = kmv_overlap_matrix(sk, 8, "source", max_groups=5)
    assert out.count() == 10  # 5 choose 2


# ------------------------------------------------- containment probe

def _py_shingles(text, n=5):
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _doc(i, tag="c"):
    return " ".join(f"{tag}{i}w{j}" for j in range(8))


def test_containment_probe_small_in_large_exact(spark):
    """The ADVICE-r8 regime: a tiny fully-contained benchmark inside a
    much larger corpus. The union-jaccard containment is blind here
    (reads ~0); the direct probe must read EXACTLY 1.0 with the exact
    flag set."""
    from spatialpandas_spark.operators.sketch import containment_probe

    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(3000)], "doc_id long, text string"
    )
    bench = corpus.filter(F.col("doc_id").isin(7, 99, 1500))
    row = containment_probe(corpus, bench, n=5, k=1024).collect()[0]
    assert row["exact"] is True
    assert row["n_probed"] == row["n_found"] > 0
    assert row["containment_b"] == 1.0

    # contrast: the sketch-derived containment_b IS blind once
    # union/k >> |bench| (k=64 vs ~12k distinct corpus shingles and a
    # 12-shingle benchmark scales the 100 TB regime down to fixture
    # size: E[shared sketch hashes] = k*|B|/|union| ~ 0.06), while the
    # probe above stays exact at ANY corpus size — why it exists
    blind = corpus_overlap(corpus, bench, n=5, k=64).collect()[0]
    assert blind["containment_b"] < 0.05
    probe_small_k = containment_probe(corpus, bench, n=5, k=64).collect()[0]
    assert probe_small_k["containment_b"] == 1.0


def test_containment_probe_zero_and_empty(spark):
    from spatialpandas_spark.operators.sketch import containment_probe

    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(200)], "doc_id long, text string"
    )
    disjoint = spark.createDataFrame(
        [(0, _doc(0, tag="z"))], "doc_id long, text string"
    )
    row = containment_probe(corpus, disjoint, n=5, k=64).collect()[0]
    assert row["n_found"] == 0 and row["containment_b"] == 0.0
    assert row["exact"] is True

    empty = spark.createDataFrame([], "doc_id long, text string")
    row = containment_probe(corpus, empty, n=5, k=64).collect()[0]
    assert row["n_probed"] == 0 and row["containment_b"] == 0.0


def test_containment_probe_sampled_matches_python_twin(spark):
    """k smaller than the benchmark's distinct shingle set: the probe
    is the bottom-k hash sample — deterministic, so the python twin
    reproduces n_probed/n_found/containment EXACTLY."""
    from spatialpandas_spark.operators.sketch import containment_probe

    k = 16
    corpus_rows = [(i, _doc(i)) for i in range(400)]
    # benchmark: 30 docs from the corpus + 30 foreign -> containment .5ish
    bench_rows = [(i, _doc(i)) for i in range(30)] + [
        (1000 + i, _doc(i, tag="q")) for i in range(30)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")

    corpus_hashes = {
        _h(s) for _, t in corpus_rows for s in _py_shingles(t)
    }
    bench_hashes = sorted(
        {_h(s) for _, t in bench_rows for s in _py_shingles(t)}
    )
    probes = bench_hashes[:k]
    want_found = sum(1 for h in probes if h in corpus_hashes)

    row = containment_probe(corpus, bench, n=5, k=k).collect()[0]
    assert row["exact"] is False
    assert row["n_probed"] == len(probes) == k
    assert row["n_found"] == want_found
    assert row["containment_b"] == want_found / k

    det = containment_probe(corpus, bench, n=5, k=k, detail=True)
    got = sorted(
        (r["rank"], r["h"], r["found"]) for r in det.collect()
    )
    want = sorted(
        (i + 1, h, int(h in corpus_hashes)) for i, h in enumerate(probes)
    )
    assert got == want


def test_containment_probe_grouped_many_benchmarks_one_scan(spark):
    from spatialpandas_spark.operators.sketch import containment_probe

    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(500)], "doc_id long, text string"
    )
    benches = spark.createDataFrame(
        [("in", i, _doc(i)) for i in range(4)]
        + [("out", i, _doc(i, tag="x")) for i in range(4)],
        "bname string, doc_id long, text string",
    )
    rows = {
        r["bname"]: r
        for r in containment_probe(
            corpus, benches, n=5, k=256, bench_group_cols=["bname"]
        ).collect()
    }
    assert rows["in"]["containment_b"] == 1.0 and rows["in"]["exact"]
    assert rows["out"]["containment_b"] == 0.0
