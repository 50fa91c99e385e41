"""Decontamination vs a Python set-overlap oracle; broadcast-plan checks."""

import pytest
from pyspark.sql import functions as F

from spatialpandas_spark.operators.contamination import (
    decontaminate,
    ngram_overlap,
    ngram_overlap_bloom,
)


DOCS = [
    (0, "alpha beta gamma delta epsilon zeta"),
    (1, "alpha beta gamma delta epsilon zeta eta theta"),  # superset of eval 0
    (2, "totally different words here none shared at all"),
    (3, "short doc"),  # too short for n=3 -> no shingles
    (4, None),
    (5, "alpha beta gamma something else entirely now friend"),
]

BENCH = [
    (100, "alpha beta gamma delta epsilon zeta"),
    (101, "the quick brown fox jumps"),
]


def _shingles(text, n=3):
    toks = (text or "").lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _oracle(n=3):
    bench = set()
    for _, t in BENCH:
        bench |= _shingles(t, n)
    out = {}
    for doc_id, t in DOCS:
        sh = _shingles(t, n)
        matched = len(sh & bench)
        out[doc_id] = (
            len(sh),
            matched,
            matched / len(sh) if sh else 0.0,
        )
    return out


def test_ngram_overlap_matches_set_oracle(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["total_ngrams"], r["matched_ngrams"], r["overlap"])
        for r in ngram_overlap(docs, bench, n=3).collect()
    }
    assert got == _oracle(3)
    # the fully-contained doc is 100% contaminated
    assert got[0][2] == 1.0
    # shingle-less docs survive with overlap 0, not dropped
    assert got[3] == (0, 0, 0.0)
    assert got[4] == (0, 0, 0.0)


def test_decontaminate_drops_flagged(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    kept = sorted(
        r["doc_id"]
        for r in decontaminate(docs, bench, threshold=0.5, n=3).collect()
    )
    oracle = sorted(
        d for d, (_, _, ov) in _oracle(3).items() if ov < 0.5
    )
    assert kept == oracle
    assert 0 not in kept and 1 not in kept


def test_overlap_plan_broadcasts_benchmark(spark):
    from spatialpandas_spark.plans.inspect import physical_plan

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    plan = physical_plan(ngram_overlap(docs, bench, n=3))
    assert "BroadcastHashJoin" in plan
    # the corpus side is never sort-merge shuffled for the membership test
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_decontaminate_anti_join_is_broadcast(spark):
    from spatialpandas_spark.plans.inspect import physical_plan

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    plan = physical_plan(decontaminate(docs, bench, threshold=0.5, n=3))
    assert "LeftAnti, BuildRight" in plan


def test_bloom_overlap_identical_to_broadcast_path(spark):
    """ngram_overlap_bloom == ngram_overlap EXACTLY (same columns, same
    values), including under an adversarially small bloom (fpp=0.5 —
    false-positive-heavy) where the exact verify join must remove every
    FP, and for n too large for some docs."""
    from spatialpandas_spark.operators.contamination import (
        ngram_overlap_bloom,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    want = sorted(map(tuple, ngram_overlap(docs, bench, n=3).collect()))
    for fpp in (0.01, 0.5):
        got = sorted(
            map(
                tuple,
                ngram_overlap_bloom(docs, bench, n=3, fpp=fpp).collect(),
            )
        )
        assert got == want, f"fpp={fpp}"
    # oracle identity too (not just path identity)
    want_oracle = _oracle(3)
    got = {
        r["doc_id"]: (r["total_ngrams"], r["matched_ngrams"], r["overlap"])
        for r in ngram_overlap_bloom(docs, bench, n=3).collect()
    }
    assert got == want_oracle


def test_bloom_empty_benchmark(spark):
    from spatialpandas_spark.operators.contamination import (
        ngram_overlap_bloom,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = ngram_overlap_bloom(docs, empty, n=3).collect()
    assert all(r["matched_ngrams"] == 0 and r["overlap"] == 0.0 for r in out)
    assert len(out) == len(DOCS)


def test_bloom_no_false_negatives_by_construction(spark):
    """Every true benchmark shingle must survive the bloom prefilter:
    a fully-contained doc scores overlap 1.0 at ANY fpp."""
    from spatialpandas_spark.operators.contamination import (
        ngram_overlap_bloom,
    )

    docs = spark.createDataFrame([DOCS[0]], "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    r = ngram_overlap_bloom(docs, bench, n=3, fpp=0.3).collect()[0]
    assert r["overlap"] == 1.0


def test_decontaminate_bloom_method(spark):
    from spatialpandas_spark.operators.contamination import (
        ngram_overlap_bloom,
    )
    import pytest

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    a = sorted(
        r["doc_id"]
        for r in decontaminate(docs, bench, threshold=0.5, n=3).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in decontaminate(
            docs, bench, threshold=0.5, n=3, method="bloom"
        ).collect()
    )
    assert a == b
    with pytest.raises(ValueError, match="method"):
        decontaminate(docs, bench, method="nope")


def test_bloom_params_sanity():
    from spatialpandas_spark.operators.contamination import _bloom_params
    import pytest

    m, k = _bloom_params(1_000_000, 0.01)
    assert m % 64 == 0 and 9_000_000 < m < 10_500_000  # ~9.6 Mbit
    assert 6 <= k <= 8
    with pytest.raises(ValueError):
        _bloom_params(10, 1.5)


def test_bloom_corpus_scan_has_no_python(spark):
    """The corpus-side probe is pure Catalyst: the only Python stages
    belong to the BENCHMARK-side bitmap build (upstream of the collect),
    so the plan over the corpus scan shows no ArrowEvalPython /
    MapInPandas between the documents scan and the aggregate."""
    from spatialpandas_spark.operators.contamination import (
        ngram_overlap_bloom,
    )
    from spatialpandas_spark.plans.inspect import physical_plan

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    plan = physical_plan(ngram_overlap_bloom(docs, bench, n=3))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_bloom_build_distributed_or_reduce(spark):
    """The bloom bitmap is assembled from per-partition word-range
    CHUNK partials OR-reduced distributedly (ADVICE r9: the previous
    one-full-bitmap-per-partition collect was O(n_partitions * m/8)
    driver memory). Values stay identical to the broadcast path when
    the benchmark hash stream spans many partitions."""
    from spatialpandas_spark.operators.contamination import (
        ngram_overlap_bloom,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(
        BENCH, "doc_id long, text string"
    ).repartition(16)
    want = sorted(map(tuple, ngram_overlap(docs, bench, n=3).collect()))
    got = sorted(
        map(tuple, ngram_overlap_bloom(docs, bench, n=3).collect())
    )
    assert got == want


# id 1 names a contaminated row and a clean one: scored as one document,
# the parent merged them (ngram_overlap), gave both the merged match
# count (ngram_overlap_bloom: overlap above 1.0) or dropped both
# (decontaminate)
SHARED = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (1, "totally different words here none shared at all"),
    (2, "short doc"),
]


CALLS = pytest.mark.parametrize(
    "call",
    [
        lambda d, b: ngram_overlap(d, b, n=3),
        lambda d, b: ngram_overlap_bloom(d, b, n=3),
        lambda d, b: decontaminate(d, b, threshold=0.5, n=3),
        lambda d, b: decontaminate(d, b, threshold=0.5, n=3, method="bloom"),
    ],
    ids=["ngram_overlap", "ngram_overlap_bloom", "decontaminate",
         "decontaminate-bloom"],
)


@CALLS
def test_shared_id_raises_naming_it(spark, call):
    docs = spark.createDataFrame(SHARED, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    with pytest.raises(Exception, match="requires a unique doc_id: 1 names"):
        call(docs, bench).collect()


# unchecked, decontaminate kept all three rows, the fully contaminated
# first one included (no null id matches its anti-join), and
# ngram_overlap scored both null-id rows as one document
NULL_ID = [
    (None, "alpha beta gamma delta epsilon zeta"),
    (None, "totally different words here none shared at all"),
    (2, "short doc"),
]


@CALLS
def test_null_id_raises(spark, call):
    docs = spark.createDataFrame(NULL_ID, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    with pytest.raises(Exception, match="requires a non-null doc_id"):
        call(docs, bench).collect()
