"""Corpus-level duplicate span removal (exact-substring dedup, windowed).

Document-level dedup (``operators/dedup.py``) drops whole near-identical
documents; what it cannot catch is *boilerplate* — the same sentence or
paragraph repeated across millions of otherwise-distinct pages. The
public recipe (C4's three-sentence rule; Lee et al. 2022's exact
substring dedup) removes any span that occurs verbatim elsewhere in the
corpus. A true suffix-array over 100 TB is not a Spark-shaped
computation; the standard scalable approximation — used here — is
dedup at fixed token-window granularity: split each document into
non-overlapping windows of ``window`` tokens, count each window's exact
occurrences corpus-wide, and drop (or keep one of) the repeated ones,
then reassemble the surviving text in order. Two alignment modes:
position-defined fixed windows (``align="fixed"``) and content-defined
spans (``align="content"`` — boundaries chosen by token hash, so
repeats are caught at ANY document offset; see :func:`content_spans`).

Scale shape (the whole point):

- the span table is ``total_tokens / window`` rows — a linear explode,
  no shuffle;
- occurrence counting is ONE ``groupBy`` on the span's md5 (16-byte
  shuffle key regardless of window size) with map-side partial counts;
  key skew is bounded by real boilerplate frequency and handled by AQE;
- reassembly is ONE ``groupBy(doc_id)`` collecting ``(span_id, span)``
  structs and sorting within the doc — per-document state only.

Two shuffles total, both keyed uniformly; nothing global, nothing
driver-side, no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialpandas_spark.functions.measures import _seq0
from spatialpandas_spark.operators.classifier import _md5_bucket
from spatialpandas_spark.operators.dedup import tokens


def doc_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
) -> DataFrame:
    """Explode each document into non-overlapping ``window``-token spans.

    Span ``i`` covers tokens ``[i*window, (i+1)*window)``; the tail span
    may be shorter. Returns ``(id_col, span_id, span)``; empty documents
    yield no rows.
    """
    return _doc_span_rows(df, id_col, text_col, window).select(
        id_col, "span_id", "span"
    )


def _doc_span_rows(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """:func:`doc_spans` plus the span's token range ``(__s, __e)`` —
    half-open, 0-based — which :func:`remove_duplicate_spans` carries as
    removal metadata so reassembly never re-derives span boundaries."""
    if window <= 0:
        raise ValueError("window must be positive")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_spans = F.when(
        n > 0,
        F.floor((n + F.lit(window - 1)) / F.lit(window)).cast("int"),
    ).otherwise(F.lit(0))
    ex = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(_seq0(n_spans)).alias("span_id"),
    )
    s = F.col("span_id") * F.lit(window)
    e = F.least(s + F.lit(window), F.size(F.col("__toks")))
    piece = F.slice(
        F.col("__toks"), F.col("span_id") * F.lit(window) + F.lit(1), window
    )
    return ex.select(
        id_col,
        "span_id",
        s.alias("__s"),
        e.alias("__e"),
        F.concat_ws(" ", piece).alias("span"),
    )


def _content_pairs(tv, p: int):
    """``(s, e)`` boundary pairs of the content-defined spans of a token
    array. The boundary-position array (one md5 per token) is LET-BOUND
    (``functions.measures.let_``): it feeds both the ``starts`` and the
    ``ends`` halves of the zip, and Catalyst performs no common
    subexpression elimination across the two — unbound, every token's
    boundary md5 evaluated TWICE per row (measured as the dominant cost
    of the span-dedup bench row)."""
    from spatialpandas_spark.functions.measures import let_

    n = F.size(tv)
    bpos = F.filter(
        _seq0(n),
        lambda i: _md5_bucket(F.element_at(tv, i + 1), p) == 0,
    )
    return let_(
        bpos,
        lambda bp: F.zip_with(
            F.concat(F.array(F.lit(0)), F.transform(bp, lambda b: b + 1)),
            F.concat(F.transform(bp, lambda b: b + 1), F.array(n)),
            lambda s, e: F.struct(s.alias("s"), e.alias("e")),
        ),
    )


def content_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    p: int = 16,
) -> DataFrame:
    """Explode each document into CONTENT-DEFINED spans: a boundary
    falls after every token whose md5-prefix bucket (the cross-engine
    hash family, operators/classifier.py) is 0 mod ``p`` — expected
    span length ``p`` tokens.

    Why this exists (VERDICT r10 ask #2): fixed windows are
    position-defined, so a sentence repeated across documents at
    offsets that differ by even ONE token carves into different window
    contents and survives dedup — and a stride-``p/2`` second pass only
    helps when the offsets happen to differ by exactly the stride. CDC
    boundaries are a function of the TOKENS ALONE, so a repeated token
    run decomposes into identical interior spans in every document
    regardless of position (the content-defined-chunking idea behind
    LBFS/rsync, applied at token granularity; Lee et al. 2022's suffix
    automaton matches arbitrary offsets exactly — this is its
    shuffle-count-preserving Spark approximation).

    Degenerate case, documented: a run of tokens none of which is a
    boundary token forms one long span (an adversarial single repeated
    non-boundary token never splits); real text mixes vocabulary, so
    span lengths concentrate around ``p``.

    Same scale shape as :func:`doc_spans` — a linear explode, no
    shuffle. Returns ``(id_col, span_id, span)``; empty documents
    yield no rows.
    """
    return _content_span_rows(df, id_col, text_col, p).select(
        id_col, "span_id", "span"
    )


def _content_span_rows(
    df: DataFrame, id_col: str, text_col: str, p: int
) -> DataFrame:
    """:func:`content_spans` plus the span's token range ``(__s, __e)``
    (half-open, 0-based) — see :func:`_doc_span_rows`."""
    if p <= 0:
        raise ValueError("p must be positive")
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    tv = F.col("__toks")
    pairs = _content_pairs(tv, p)
    ex = base.select(
        id_col, "__toks", F.posexplode(pairs).alias("span_id", "__se")
    ).filter(F.col("__se.s") < F.col("__se.e"))
    piece = F.slice(
        F.col("__toks"),
        F.col("__se.s") + 1,
        F.col("__se.e") - F.col("__se.s"),
    )
    return ex.select(
        id_col,
        "span_id",
        F.col("__se.s").alias("__s"),
        F.col("__se.e").alias("__e"),
        F.concat_ws(" ", piece).alias("span"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    min_count: int = 2,
    keep: str = "none",
    align: str = "fixed",
    min_span_tokens: int = 1,
) -> DataFrame:
    """Drop every token span occurring ``>= min_count`` times corpus-wide
    and reassemble the surviving text.

    ``keep="none"`` removes all occurrences of a repeated span (C4-style
    boilerplate removal); ``keep="first"`` preserves the single earliest
    occurrence by ``(doc_id, span_id)`` (Lee et al. exact-substring
    semantics). ``align="fixed"`` uses non-overlapping ``window``-token
    windows (position-defined — blind to window-straddling repeats);
    ``align="content"`` uses content-defined spans of expected length
    ``window`` (:func:`content_spans` — catches repeats at ANY offset).

    ``min_span_tokens`` is the Lee et al. 2022 minimum-match-length
    guard (they use ~50 tokens): spans SHORTER than it are always kept
    and never counted toward ``min_count``. Without it, content-defined
    mode is a text-quality hazard — ~1/p of spans are single boundary
    tokens, so a common function word that forms a complete one-token
    span twice corpus-wide would be stripped from EVERY document.
    Because span identity is the md5 of the exact text, a short span
    can never collide with a flagged long one, so the guard is a plain
    pre-filter on the counting side. Default 1 preserves the unguarded
    semantics for callers that window-size their spans explicitly.

    Returns one row per input document: ``(id_col, kept_spans,
    text_col)`` — documents whose every span was removed survive with
    ``kept_spans = 0`` and empty text.
    """
    if keep not in ("none", "first"):
        raise ValueError("keep must be 'none' or 'first'")
    if align not in ("fixed", "content"):
        raise ValueError("align must be 'fixed' or 'content'")
    if min_span_tokens < 1:
        raise ValueError("min_span_tokens must be >= 1")
    from spatialpandas_spark.materialize import materialize

    # Decide removals on METADATA rows — (id, span_id, token range,
    # 16-byte hash[, countable flag]) — then rebuild each document's text
    # from its own token array and the removed RANGES (guide §8: decide
    # with small rows, never shuffle the heavy span text). Three measured
    # facts shape this (profiles in OPTIMIZATION_r15.md):
    #
    # - the explode's per-token boundary md5 is the dominant per-pass
    #   cost (0.36 s/pass at sf0.1 vs 0.03 s for span-text building), so
    #   the explode runs ONCE: the materialized metadata serves both the
    #   occurrence count and the removal decision;
    # - reassembly needs no boundary recompute at all: kept spans are
    #   disjoint contiguous token ranges concatenated in order with
    #   single spaces, so the rebuilt text equals the doc's tokens OUTSIDE
    #   the removed ranges joined by " " — gap slices between the sorted
    #   removed ranges, a pure array expression over the token array;
    # - kept_spans is arithmetic (total spans minus removed), so a
    #   count-only consumer (bench b35) prunes the whole rebuild down to
    #   a metadata join — no tokenize, no md5, no text.
    #
    # The pre-r15 shape shuffled full span text through the flagged join
    # and again through the reassembly groupBy and re-ran the explode in
    # both; now no exchange carries span text, and document text moves at
    # most once (the final id join, only when the per-doc decision table
    # is too big to broadcast).
    rows = (_doc_span_rows if align == "fixed" else _content_span_rows)(
        df, id_col, text_col, window
    )
    meta_cols = [
        F.col(id_col),
        F.col("span_id"),
        F.col("__s"),
        F.col("__e"),
        F.md5(F.col("span")).alias("__h"),
    ]
    if min_span_tokens > 1:
        # spans are space-joined whitespace tokens, so the token count
        # is size(split(' ')) — no retokenization ambiguity
        meta_cols.append(
            (
                F.size(F.split(F.col("span"), " ")) >= F.lit(min_span_tokens)
            ).alias("__ok")
        )
    meta = materialize(rows.select(*meta_cols), eager=False)
    countable = meta.filter("__ok") if min_span_tokens > 1 else meta
    if keep == "none":
        flagged = (
            countable.groupBy("__h")
            .agg(F.count("*").alias("__c"))
            .filter(F.col("__c") >= F.lit(min_count))
            .select("__h", F.lit(True).alias("__f"))
        )
        # a guarded-out short span is never in flagged (identical text
        # => identical length), so the mark join cannot remove it
        marked = meta.join(flagged, "__h", "left")
        rmflag = F.coalesce(F.col("__f"), F.lit(False))
    else:
        agg = countable.groupBy("__h").agg(
            F.count("*").alias("__c"),
            F.min(F.struct(F.col(id_col), F.col("span_id"))).alias("__first"),
        )
        # left join: a guarded-out short span has no agg row (identical
        # text would be identical length) and so is never marked removed
        marked = meta.join(agg, "__h", "left")
        rmflag = F.coalesce(
            (F.col("__c") >= F.lit(min_count))
            & ~(
                (F.col(id_col) == F.col(f"__first.{id_col}"))
                & (F.col("span_id") == F.col("__first.span_id"))
            ),
            F.lit(False),
        )
    # one pass over the metadata: total span count + the sorted removed
    # ranges per document (collect_list skips the NULLs of kept spans;
    # array_sort makes the nondeterministic collect order canonical —
    # ranges are disjoint, so sorting by __s is a total order)
    per_doc = marked.groupBy(id_col).agg(
        F.count("*").alias("__total"),
        F.array_sort(
            F.collect_list(
                F.when(
                    rmflag,
                    F.struct(F.col("__s").alias("s"), F.col("__e").alias("e")),
                )
            )
        ).alias("__rm"),
    )

    from spatialpandas_spark.functions.measures import let_

    rm = F.coalesce(
        F.col("__rm"), F.array().cast("array<struct<s:int,e:int>>")
    )

    def rebuild_text(tv):
        # gap slices between the removed ranges: tokens [0, rm[0].s),
        # [rm[0].e, rm[1].s), ..., [rm[-1].e, n) joined by " " — exactly
        # the kept spans concatenated in span order, since spans tile the
        # token array and kept text was always space-joined tokens
        starts = F.concat(
            F.array(F.lit(0)), F.transform(rm, lambda r: r["e"])
        )
        ends = F.concat(F.transform(rm, lambda r: r["s"]), F.array(F.size(tv)))
        return F.array_join(
            F.flatten(
                F.zip_with(
                    starts, ends, lambda s, e: F.slice(tv, s + 1, e - s)
                )
            ),
            " ",
        )

    rebuilt = (
        df.select(id_col, text_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            (F.col("__total") - F.size(rm)).alias("__k"),
            let_(tokens(F.col(text_col)), rebuild_text).alias("__t"),
        )
    )
    # null ids: the pre-r15 shape re-attached results by an id equi-join,
    # and a null key never matches itself — those rows always came back
    # as (0, ""). Pin that exactly.
    idnn = F.col(id_col).isNotNull()
    return rebuilt.select(
        id_col,
        F.when(idnn, F.coalesce(F.col("__k"), F.lit(0).cast("long")))
        .otherwise(F.lit(0).cast("long"))
        .alias("kept_spans"),
        F.when(idnn, F.coalesce(F.col("__t"), F.lit("")))
        .otherwise(F.lit(""))
        .alias(text_col),
    )
