"""Token-budget shard packing for training-data pipelines.

A pretraining job consumes the corpus as fixed-size shards (~N tokens
each). Packing documents into shards is a *global running sum* problem:
docs are laid out in a deterministic order and a new shard starts every
``budget`` tokens. The naive formulation is a global window (single-task
at scale); this module uses the two-phase running sum from
``operators/rank.py`` — range shuffle + partition-local window + broadcast
prefix offsets — so the plan has no single-partition exchange and scales
to corpus size.

Assignment contract: with exclusive running weight ``s`` (sum of weights
of all docs strictly before this one in order), ``shard = s div budget``.
A document straddling a budget boundary belongs to the shard where it
starts, so every shard except possibly the last holds at least ``budget``
tokens once its straddler is counted, and overflows by less than one
document. This start-offset rule is order-stable, engine-independent, and
exactly reproducible in SQL (the gate oracle's window formulation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialpandas_spark.operators.rank import with_running_sum


def pack_shards(
    df: DataFrame,
    weight_col: str,
    order_cols: list,
    budget: int,
    shard_col: str = "shard",
    npartitions: int | None = None,
) -> DataFrame:
    """Assign each row a shard id by packing rows (in ``order_cols`` order)
    into contiguous shards of ``budget`` total ``weight_col`` units.

    Weights must be non-negative integers (token counts). Integer
    arithmetic throughout — no double division, so exact beyond 2^53
    total tokens."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    rs = with_running_sum(df, order_cols, weight_col, "__rsum", npartitions)
    excl = F.col("__rsum") - F.col(weight_col)
    return (
        rs.withColumn("__excl", excl.cast("long"))
        .withColumn(shard_col, F.expr(f"__excl div {int(budget)}"))
        .drop("__rsum", "__excl")
    )


def shard_summary(
    df: DataFrame,
    weight_col: str,
    order_cols: list,
    budget: int,
    npartitions: int | None = None,
) -> DataFrame:
    """Per-shard rollup of a ``pack_shards`` assignment: row count and
    total weight — the manifest a training loader reads."""
    packed = pack_shards(df, weight_col, order_cols, budget, "shard", npartitions)
    return packed.groupBy("shard").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col(weight_col)).cast("long").alias("total_weight"),
    )


def write_training_shards(
    docs: DataFrame,
    merges: list,
    out_dir: str,
    shard_tokens: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
    mode: str = "ascii",
) -> dict:
    """End-of-pipeline sink: tokenize (BPE ids), deterministically
    shuffle, pack into ~``shard_tokens``-token shards, and write
    shard-partitioned parquet — the dataset layout a pretraining loader
    consumes (``shard=K/part-*.parquet`` with ``token_ids`` rows).

    Composition of existing scale shapes, nothing new to shuffle-plan:
    ``bpe_encode_ids`` (Arrow map) -> md5-seeded deterministic order
    (layout-invariant, replayable) -> ``pack_shards`` (two-phase running
    sum, no single-partition exchange) -> ``repartition(shard)`` before
    the partitioned write so each shard directory holds ONE file
    (the small-files rule in docs/SCALE.md).

    Zero-token documents are DROPPED by the ``n_tokens > 0`` gate — in
    the default ``mode='ascii'`` (whose pre-tokenizer is ASCII-alnum-
    only, operators/bpe.py ``word_tokens``) that includes EVERY
    all-non-ASCII document (CJK, pure-accented text). The drop is
    REPORTED, not silent: the returned stats include ``n_dropped_docs``
    so a pipeline can alert when the rate is not ~0. For full-coverage
    corpora pass ``mode='bytes'`` (train the merges in the same mode) —
    byte-level words tokenize everything, so only truly empty docs
    drop.

    Returns {"n_docs", "n_shards", "total_tokens", "n_dropped_docs"}
    gathered from the written data (read back, trust the sink not the
    plan; the drop count comes from the pre-filter frame)."""
    from spatialpandas_spark.operators.bpe import bpe_encode_ids

    toks = bpe_encode_ids(
        docs, merges, id_col=id_col, text_col=text_col, mode=mode
    )
    ordered_key = F.md5(F.concat_ws("#", F.lit(seed), F.col(id_col).cast("string")))
    # drop count = input rows minus written rows (read back below) —
    # NOT a second tokenization pass over the corpus; counting the
    # input is a plain scan, the expensive Arrow segmentation runs once
    n_input = docs.count()
    packed = pack_shards(
        toks.withColumn("__ord", ordered_key).filter(F.col("n_tokens") > 0),
        weight_col="n_tokens",
        order_cols=["__ord", id_col],
        budget=shard_tokens,
    ).drop("__ord")
    (
        packed.repartition(F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    spark = docs.sparkSession
    back = spark.read.parquet(out_dir)
    row = back.agg(
        F.count("*").alias("n"),
        F.count_distinct("shard").alias("s"),
        F.sum("n_tokens").alias("t"),
    ).first()
    return {
        "n_docs": row["n"],
        "n_shards": row["s"],
        "total_tokens": row["t"],
        "n_dropped_docs": n_input - row["n"],
    }


def pack_token_sequences(
    df: DataFrame,
    weight_col: str,
    order_cols: list,
    seq_len: int,
    seq_col: str = "seq_id",
    offset_col: str = "doc_offset",
    len_col: str = "n_tokens_in_seq",
    npartitions: int | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk training-row formation (the step after
    tokenization in every published decoder-pretraining recipe: the
    corpus token stream is concatenated in a deterministic order and cut
    into fixed ``seq_len`` blocks, documents spanning block boundaries).
    No reference analog — spatialpandas has no training surface; this is
    the LLM-pipeline extension beside :func:`pack_shards`.

    A document occupying global token span ``[s, s + w)`` (``s`` = the
    exclusive running sum of ``weight_col`` in ``order_cols`` order)
    emits ONE ROW PER OVERLAPPED SEQUENCE: ``seq_col`` = the sequence
    index, ``offset_col`` = where that sequence's slice starts INSIDE
    the document, ``len_col`` = the slice length. Zero-weight documents
    emit nothing. Invariants (pinned by tests): per-doc slice lengths
    sum to ``w``; every sequence except the last sums to exactly
    ``seq_len``; slices tile both the doc and the sequence contiguously.

    Scale shape: the two-phase global running sum (range shuffle +
    partition-local window + broadcast prefix offsets — no single-task
    window) followed by a Catalyst ``sequence()`` explode whose
    fan-out per row is ``ceil(w / seq_len) + 1`` — proportional to the
    document's own length, never the corpus. Integer arithmetic
    throughout (``div``), exact beyond 2^53 total tokens."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    L = int(seq_len)
    rs = with_running_sum(df, order_cols, weight_col, "__rsum", npartitions)
    out = (
        rs.withColumn(
            "__excl", (F.col("__rsum") - F.col(weight_col)).cast("long")
        )
        .withColumn("__w", F.col(weight_col).cast("long"))
        .filter(F.col("__w") > 0)
        .withColumn(
            seq_col,
            F.explode(
                F.sequence(
                    F.expr(f"__excl div {L}"),
                    F.expr(f"(__excl + __w - 1) div {L}"),
                )
            ),
        )
    )
    seq_start = F.col(seq_col) * F.lit(L)
    slice_start = F.greatest(F.col("__excl"), seq_start)
    slice_end = F.least(
        F.col("__excl") + F.col("__w"), seq_start + F.lit(L)
    )
    return (
        out.withColumn(offset_col, slice_start - F.col("__excl"))
        .withColumn(len_col, slice_end - slice_start)
        .drop("__rsum", "__excl", "__w")
    )


def materialize_token_sequences(
    tokens: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    tokens_col: str = "token_ids",
    weight_col: str = "n_tokens",
    seq_col: str = "seq_id",
    npartitions: int | None = None,
) -> DataFrame:
    """Emit actual fixed-length TRAINING ROWS: given per-document token
    arrays (the output shape of ``bpe_encode_ids`` /
    ``unigram_encode_ids``), lay the corpus out with
    :func:`pack_token_sequences` and assemble each sequence's token ids
    by slicing every overlapped document and concatenating the slices
    in stream order. Output: ``(seq_col, tokens_col, n_tokens)`` — one
    row per training sequence; every sequence except the last holds
    exactly ``seq_len`` ids (invariant-tested).

    Scale shape: the layout's two-phase running sum, one equi-join of
    the layout to the token arrays ON THE DOC KEY (co-partitioned,
    Catalyst's choice), per-row ``slice`` (no explode of individual
    tokens — slices move as arrays), then ONE ``groupBy(seq)`` whose
    per-group payload is ~``seq_len`` ids in ≤ a handful of slices.
    Token data crosses the shuffle once.

    The input subtree is consumed by BOTH branches (layout metadata and
    array attach), and re-resolved branches defeat the AQE stage cache —
    without an explicit materialization the whole upstream (for the
    training gates: the corpus BPE encode and the epoch-mix union; r15
    plan dump showed the MapInPandas encode once per branch) runs twice.
    ``materialize`` pins it to one computation; only the three
    consumed columns are materialized (§2.3 project early).

    Precondition: ``id_col`` is unique per row. The layout joins the
    token arrays on it, so a shared id would attach every row's tokens
    to each of its slices; a sequence holding a shared id raises,
    naming it. Rows sharing an id that are all empty add no tokens and
    pass."""
    from spatialpandas_spark.materialize import materialize

    tokens = materialize(
        tokens.select(id_col, weight_col, tokens_col), eager=False
    )
    layout = pack_token_sequences(
        tokens.select(id_col, weight_col),
        weight_col,
        [id_col],
        seq_len,
        seq_col=seq_col,
        npartitions=npartitions,
    )
    j = layout.join(tokens.select(id_col, tokens_col), id_col)
    sliced = F.slice(
        F.col(tokens_col),
        (F.col("doc_offset") + 1).cast("int"),
        F.col("n_tokens_in_seq").cast("int"),
    )
    parts = j.select(
        seq_col,
        F.struct(F.col(id_col).alias("o"), sliced.alias("p")).alias("__sp"),
    )
    # a row lands in a sequence at most once, so a repeated id in a
    # group is the join fanning out over rows that share it; sorted
    # slices put the repeats next to each other. No extra job.
    ps = F.col("__ps")
    ids = F.transform(ps, lambda s: s["o"])
    repeated = F.filter(ids, lambda x, i: (i > 0) & (x == F.get(ids, i - 1)))
    dup = F.raise_error(
        F.concat(
            F.lit(
                f"materialize_token_sequences requires a unique {id_col}: "
            ),
            F.get(repeated, 0).cast("string"),
            F.lit(" names more than one row"),
        )
    )
    return (
        parts.groupBy(seq_col)
        .agg(F.array_sort(F.collect_list("__sp")).alias("__ps"))
        .select(
            seq_col,
            F.when(F.size(ps) != F.size(F.array_distinct(ids)), dup)
            .otherwise(F.flatten(F.transform(ps, lambda s: s["p"])))
            .alias(tokens_col),
        )
        .withColumn("n_tokens", F.size(F.col(tokens_col)))
    )


def pack_documents_nextfit(
    df: DataFrame,
    weight_col: str,
    order_cols: list,
    budget: int,
    group_size: int = 1024,
    group_col: str = "grp",
    bin_col: str = "bin",
    npartitions: int | None = None,
    strategy: str = "nf",
) -> DataFrame:
    """NO-SPLIT sequence packing (the SFT/instruction-tuning layout):
    documents are packed WHOLE into bins of at most ``budget`` tokens —
    no document ever straddles a bin boundary, unlike the GPT-style
    concat-and-chunk of :func:`pack_token_sequences`. This is the
    published "example packing" recipe for finetuning corpora, where a
    training row is a set of complete documents and attention masking
    keeps them separate.

    Algorithm: next-fit within content-defined rank groups.

    1. the two-phase global rank (``operators/rank.py`` — range shuffle,
       no single-task window, fork pinned) positions every doc in
       ``order_cols`` order;
    2. docs are grouped ``group_col = rank div group_size`` — a CONTENT-
       DEFINED grouping (pure function of the rank), so the layout is
       deterministic on any cluster/partitioning, unlike packing within
       physical partitions whose boundaries are sampled per execution
       (the round-6 fork-bug lesson applied at design time);
    3. within each group (bounded: ``group_size`` rows) one Arrow
       ``applyInPandas`` pass runs the sequential next-fit scan: a doc
       opens a new bin iff the current bin's fill plus its weight would
       exceed ``budget``. A doc heavier than ``budget`` gets a bin of
       its own (consumers truncate; flagged ``oversized``).

    Bins never span groups, so the distributed layout wastes at most one
    partial bin per group versus the single-machine scan — bounded,
    documented waste (fill efficiency loss < budget/(group_size *
    E[w]) per group), in exchange for a plan whose only data-sized
    movements are the rank's range shuffle and one hash shuffle on
    ``group_col``. Zero-weight docs are dropped (they contribute no
    tokens — same contract as ``pack_token_sequences``).

    Output: input columns + ``group_col``, ``bin_col`` (the GLOBAL bin
    id ``grp * group_size + local_bin`` — unique because a group of
    ``group_size`` docs opens at most ``group_size`` bins; ids are
    sparse across groups by construction), ``oversized``.

    ``strategy``: the within-group packing rule — identical plan shape
    (same rank, same group scan), different bin assignment:

    - ``'nf'`` (default): next-fit in rank order — the gate default
      because its sequential replay is a trivial SQL oracle, and it
      PRESERVES stream order within bins (a bin is a contiguous rank
      run), which matters when the order_cols encode a curriculum;
    - ``'ffd'``: first-fit-decreasing — sort the group by weight
      descending (rank-ascending tie-break, deterministic), place each
      doc in the FIRST bin with room. The classic bin-packing
      approximation (≤ 11/9·OPT + 6/9 bins, Dósa 2007): measurably
      higher fill on heavy-tailed token-count distributions (see
      docs/SCALE.md for the measured comparison) at the cost of
      shuffling rank order inside the group. Same bounded waste
      argument across groups.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    if group_size <= 0:
        raise ValueError("group_size must be positive")
    if strategy not in ("nf", "ffd"):
        raise ValueError("strategy must be 'nf' or 'ffd'")
    from spatialpandas_spark.operators.rank import with_rank

    B, G = int(budget), int(group_size)
    pos = df.filter(F.col(weight_col) > 0)
    ranked = with_rank(pos, order_cols, rank_col="__rk", npartitions=npartitions)
    grouped = ranked.withColumn(
        group_col, F.expr(f"(__rk - 1) div {G}").cast("long")
    )

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in grouped.schema.fields
    ) + f", `{bin_col}` long, `oversized` boolean"

    def _nextfit(pdf):
        import pandas as pd

        pdf = pdf.sort_values("__rk", kind="mergesort").reset_index(drop=True)
        grp = int(pdf[group_col].iloc[0])
        bins, over = [], []
        if strategy == "nf":
            cur_bin, cur_fill = -1, 0
            for w in pdf[weight_col].astype("int64"):
                w = int(w)
                if cur_bin < 0 or cur_fill + w > B:
                    cur_bin += 1
                    cur_fill = 0
                cur_fill += w
                bins.append(grp * G + cur_bin)
                over.append(w > B)
        else:  # ffd: weight desc, rank asc tie-break; first bin with room
            order = sorted(
                range(len(pdf)),
                key=lambda i: (-int(pdf[weight_col].iloc[i]), i),
            )
            fills: list = []
            bins = [0] * len(pdf)
            over = [False] * len(pdf)
            for i in order:
                w = int(pdf[weight_col].iloc[i])
                for j, f in enumerate(fills):
                    if f + w <= B:
                        fills[j] = f + w
                        bins[i] = grp * G + j
                        break
                else:
                    fills.append(w)
                    bins[i] = grp * G + len(fills) - 1
                over[i] = w > B
        pdf[bin_col] = pd.Series(bins, dtype="int64")
        pdf["oversized"] = pd.Series(over, dtype="bool")
        return pdf

    return (
        grouped.groupBy(group_col)
        .applyInPandas(_nextfit, schema=out_schema)
        .drop("__rk")
    )
