"""remove_duplicate_spans vs a brute-force Python twin; plan shape."""

from collections import Counter

import pytest

from spatialpandas_spark.operators.spans import doc_spans, remove_duplicate_spans


BOILER = "subscribe to our newsletter for updates every week now"  # 9 tokens
DOCS = [
    (0, "alpha beta gamma delta " + BOILER),
    (1, BOILER + " unique tail content here"),
    (2, "totally original text with no repeats at all"),
    (3, BOILER),  # document that is nothing but boilerplate
    (4, ""),
    (5, None),
    (6, "alpha beta gamma delta " + BOILER),  # full dup of doc 0
]


def _spans(text, window):
    toks = (text or "").lower().split()
    return [
        (i // window, " ".join(toks[i : i + window]))
        for i in range(0, len(toks), window)
    ]


def _oracle(window, min_count, keep):
    per_doc = {d: _spans(t, window) for d, t in DOCS}
    counts = Counter(s for sp in per_doc.values() for _, s in sp)
    first = {}
    for d in sorted(per_doc):
        for i, s in per_doc[d]:
            first.setdefault(s, (d, i))
    out = []
    for d, sp in per_doc.items():
        kept = [
            s
            for i, s in sp
            if counts[s] < min_count
            or (keep == "first" and first[s] == (d, i))
        ]
        out.append((d, len(kept), " ".join(kept)))
    return sorted(out)


@pytest.mark.parametrize("window", [3, 4, 9])
@pytest.mark.parametrize("keep", ["none", "first"])
def test_matches_bruteforce(spark, window, keep):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["kept_spans"], r["text"])
        for r in remove_duplicate_spans(
            df, window=window, min_count=2, keep=keep
        ).collect()
    )
    assert got == _oracle(window, 2, keep)


def test_boilerplate_removed_originals_survive(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(df, window=3, min_count=2).collect()
    }
    assert len(out) == len(DOCS)  # every doc row survives
    assert out[2] == "totally original text with no repeats at all"
    assert out[3] == ""  # all-boilerplate doc emptied, row kept
    assert BOILER.split()[0] not in out[0]


def test_min_count_threshold(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    # spans repeat at most 4x (boilerplate in docs 0,1,3,6); with
    # min_count=5 nothing is removed
    out = remove_duplicate_spans(df, window=3, min_count=5)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    for d, t in DOCS:
        expect = " ".join((t or "").lower().split())
        assert got[d] == expect


def test_doc_spans_no_shuffle(spark):
    from spatialpandas_spark.plans.inspect import physical_plan

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    assert "Exchange" not in physical_plan(doc_spans(df, window=4))


def test_rejects_bad_params(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError):
        remove_duplicate_spans(df, window=0)
    with pytest.raises(ValueError):
        remove_duplicate_spans(df, keep="last")


# ----------------------------------------------------- content-defined
def _is_boundary(tok, p):
    import hashlib

    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % p == 0


def _content_spans_py(text, p):
    toks = (text or "").lower().split()
    spans, cur = [], []
    for t in toks:
        cur.append(t)
        if _is_boundary(t, p):
            spans.append(" ".join(cur))
            cur = []
    if cur:
        spans.append(" ".join(cur))
    return list(enumerate(spans))


def test_content_spans_match_python_twin(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    from spatialpandas_spark.operators.spans import content_spans

    got = sorted(
        (r["doc_id"], r["span_id"], r["span"])
        for r in content_spans(df, p=3).collect()
    )
    want = sorted(
        (d, i, s) for d, t in DOCS for i, s in _content_spans_py(t, 3)
    )
    assert got == want


def test_content_spans_are_offset_invariant(spark):
    """The decomposition of a repeated token run is identical no matter
    where in the document it sits — the property fixed windows lack."""
    from spatialpandas_spark.operators.spans import content_spans

    run = BOILER  # 9 tokens
    docs = [(i, ("filler%d " % i) * i + run) for i in range(1, 6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = content_spans(df, p=3).collect()
    # interior spans of the run (drop each doc's first span, which
    # merges with the leading filler) must agree across all docs
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append((r["span_id"], r["span"]))
    tails = {d: tuple(s for _, s in sorted(v)[1:]) for d, v in per_doc.items()}
    assert len(set(tails.values())) == 1
    assert len(next(iter(tails.values()))) >= 1  # run actually splits


def test_offbyone_repeated_sentence_removed_with_content_align(spark):
    """VERDICT r10 ask #2's acceptance case: a sentence repeated across
    two documents at offsets differing by ONE token survives
    align='fixed' (different window carving) but is removed by
    align='content' (offset-invariant spans)."""
    p = 3
    # build a 12-token sentence with interior boundary tokens so it
    # decomposes into at least one full interior span
    pool = [f"w{i}" for i in range(400)]
    bnd = [w for w in pool if _is_boundary(w, p)]
    nb = [w for w in pool if not _is_boundary(w, p)]
    sent = " ".join(
        [nb[0], nb[1], bnd[0], nb[2], nb[3], bnd[1], nb[4], nb[5], bnd[2],
         nb[6], nb[7], bnd[3]]
    )
    # fillers are boundary-terminated so the planted sentence starts a
    # fresh span in BOTH docs only under content alignment
    docs = [
        (0, f"{nb[20]} {bnd[10]} {sent} {nb[30]}"),       # offset 2
        (1, f"{nb[21]} {nb[22]} {bnd[11]} {sent} {nb[31]}"),  # offset 3
        (2, f"{nb[40]} {nb[41]} {nb[42]} {nb[43]}"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    fixed = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(
            df, window=4, min_count=2, align="fixed"
        ).collect()
    }
    # fixed windows miss it: the sentence survives in both docs
    assert bnd[0] in fixed[0] and bnd[0] in fixed[1]

    content = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(
            df, window=p, min_count=2, align="content"
        ).collect()
    }
    # content spans catch it: every full interior span of the sentence
    # is removed from BOTH docs (the sentence decomposes identically)
    for d in (0, 1):
        for gone in (nb[0], nb[1], bnd[0], nb[2], nb[3], bnd[1], nb[4],
                     nb[5], bnd[2], nb[6], nb[7], bnd[3]):
            assert gone not in content[d].split(), (d, gone)
    # the unrelated doc is untouched
    assert content[2] == docs[2][1]


def test_content_align_matches_bruteforce(spark):
    """remove_duplicate_spans(align='content') == the python twin built
    on the same content decomposition, both keep modes."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    for keep in ("none", "first"):
        per_doc = {d: _content_spans_py(t, 3) for d, t in DOCS}
        counts = Counter(s for sp in per_doc.values() for _, s in sp)
        first = {}
        for d in sorted(per_doc):
            for i, s in per_doc[d]:
                first.setdefault(s, (d, i))
        want = sorted(
            (
                d,
                len(kept := [
                    s for i, s in sp
                    if counts[s] < 2 or (keep == "first" and first[s] == (d, i))
                ]),
                " ".join(kept),
            )
            for d, sp in per_doc.items()
        )
        got = sorted(
            (r["doc_id"], r["kept_spans"], r["text"])
            for r in remove_duplicate_spans(
                df, window=3, min_count=2, keep=keep, align="content"
            ).collect()
        )
        assert got == want, keep


def test_content_spans_no_shuffle(spark):
    from spatialpandas_spark.operators.spans import content_spans
    from spatialpandas_spark.plans.inspect import physical_plan

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    assert "Exchange" not in physical_plan(content_spans(df, p=4))


def test_content_rejects_bad_params(spark):
    from spatialpandas_spark.operators.spans import content_spans

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError):
        content_spans(df, p=0)
    with pytest.raises(ValueError):
        remove_duplicate_spans(df, align="stride")


# --- min_span_tokens guard (VERDICT r11 ask #2: Lee et al. 2022
# minimum-match-length discipline) -----------------------------------

#: "was" and "at" are both content-boundary tokens for p=8 (md5-prefix
#: bucket 0), so in "... was at ..." the token "at" forms a COMPLETE
#: one-token span — the over-removal hazard the guard exists for.
_GUARD_DOCS = [
    (0, "he was at the station early in the morning light"),
    (1, "she was at the harbor watching distant ships go by"),
    (2, "nothing here repeats anywhere else in this corpus sample"),
]


def test_short_common_span_survives_with_guard(spark):
    df = spark.createDataFrame(_GUARD_DOCS, "doc_id long, text string")
    # without the guard: the 1-token complete span "at" occurs twice
    # corpus-wide and is stripped from BOTH documents
    unguarded = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(
            df, window=8, min_count=2, keep="none", align="content"
        ).collect()
    }
    assert "at" not in unguarded[0].split()
    assert "at" not in unguarded[1].split()
    # with the guard: spans shorter than min_span_tokens are never
    # hashed into the flagged set, so "at" survives everywhere
    guarded = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(
            df, window=8, min_count=2, keep="none", align="content",
            min_span_tokens=2,
        ).collect()
    }
    assert "at" in guarded[0].split()
    assert "at" in guarded[1].split()
    assert guarded[2] == _GUARD_DOCS[2][1]


@pytest.mark.parametrize("keep", ["none", "first"])
@pytest.mark.parametrize("align", ["fixed", "content"])
def test_guard_matches_bruteforce(spark, keep, align):
    """Guarded semantics vs a python twin: spans under the threshold
    are kept verbatim and never counted toward min_count."""
    import hashlib

    min_span = 3
    df = spark.createDataFrame(DOCS, "doc_id long, text string")

    def content_split(text):
        toks = (text or "").lower().split()
        spans, cur = [], []
        for t in toks:
            cur.append(t)
            if int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 4 == 0:
                spans.append(cur)
                cur = []
        if cur:
            spans.append(cur)
        return [(i, " ".join(s)) for i, s in enumerate(spans)]

    def fixed_split(text):
        return _spans(text, 4)

    split = fixed_split if align == "fixed" else content_split
    per_doc = {d: split(t) for d, t in DOCS}
    counts = Counter(
        s
        for sp in per_doc.values()
        for _, s in sp
        if len(s.split()) >= min_span
    )
    first = {}
    for d in sorted(per_doc):
        for i, s in per_doc[d]:
            if len(s.split()) >= min_span:
                first.setdefault(s, (d, i))
    want = sorted(
        (
            d,
            len(kept),
            " ".join(kept),
        )
        for d, sp in per_doc.items()
        for kept in [
            [
                s
                for i, s in sp
                if len(s.split()) < min_span
                or counts[s] < 2
                or (keep == "first" and first[s] == (d, i))
            ]
        ]
    )
    got = sorted(
        (r["doc_id"], r["kept_spans"], r["text"])
        for r in remove_duplicate_spans(
            df, window=4, min_count=2, keep=keep, align=align,
            min_span_tokens=min_span,
        ).collect()
    )
    assert got == want


def test_guard_rejects_bad_param(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError):
        remove_duplicate_spans(df, min_span_tokens=0)


@pytest.mark.parametrize("align", ["fixed", "content"])
@pytest.mark.parametrize(
    "rows",
    [
        # both rows of id 1 have spans: the other row's ranges would be
        # cut from "x y z"
        [(1, "a b c d e f"), (1, "x y z"), (2, "a b c q r s")],
        # the empty row of id 1 has no spans but would get the other
        # row's ranges sliced out of its empty token array
        [(1, "a b c d e f"), (1, ""), (2, "a b c q r s")],
    ],
    ids=["two-spanned-rows", "empty-row"],
)
def test_shared_id_raises_naming_the_precondition(spark, rows, align):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_duplicate_spans(df, window=3, min_count=2, align=align)
    with pytest.raises(Exception, match="requires a unique doc_id: 1 names"):
        out.collect()


def test_null_ids_are_not_a_shared_id(spark):
    """Null-id rows still count toward occurrences ("a b c" repeats)
    and come back as (0, "")."""
    rows = [(None, "a b c d e f"), (None, "x y z"), (2, "a b c q r s")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"] is None, r["kept_spans"], r["text"])
        for r in remove_duplicate_spans(df, window=3, min_count=2).collect()
    )
    assert got == [(False, 1, "q r s"), (True, 0, ""), (True, 0, "")]


def test_shared_id_raises_when_only_kept_spans_is_read(spark):
    """A count-only read prunes the text rebuild, so the span-count check
    alone must catch the shared id."""
    from pyspark.sql import functions as F

    rows = [(1, "a b c"), (1, "x y z"), (2, "a b c q r s")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_duplicate_spans(df, window=3, min_count=2)
    with pytest.raises(Exception, match="requires a unique doc_id: 1 names"):
        out.agg(F.sum("kept_spans")).collect()
