"""Two-phase running sum + token-budget shard packing vs pandas oracles."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatialpandas_spark.operators.rank import with_running_sum
from spatialpandas_spark.operators.shards import pack_shards, shard_summary


def _fixture(spark, seed=7, n=500):
    rng = random.Random(seed)
    rows = [(i, rng.randrange(0, 400)) for i in range(n)]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "id long, w long"), rows


def test_running_sum_matches_pandas_cumsum(spark):
    df, rows = _fixture(spark)
    got = (
        with_running_sum(df, ["id"], "w", "rs")
        .orderBy("id")
        .toPandas()
    )
    pdf = pd.DataFrame(sorted(rows), columns=["id", "w"])
    assert (got["rs"].to_numpy() == pdf["w"].cumsum().to_numpy()).all()


def test_running_sum_no_single_partition_exchange(spark):
    from spatialpandas_spark.plans.inspect import physical_plan

    df, _ = _fixture(spark)
    plan = physical_plan(with_running_sum(df, ["id"], "w", "rs"))
    assert "Exchange SinglePartition" not in plan


def test_pack_shards_matches_start_offset_rule(spark):
    df, rows = _fixture(spark)
    budget = 1000
    got = pack_shards(df, "w", ["id"], budget).orderBy("id").toPandas()
    pdf = pd.DataFrame(sorted(rows), columns=["id", "w"])
    excl = pdf["w"].cumsum() - pdf["w"]
    expect = (excl // budget).to_numpy()
    assert (got["shard"].to_numpy() == expect).all()


def test_pack_shards_budget_invariants(spark):
    df, _ = _fixture(spark)
    budget = 1000
    s = shard_summary(df, "w", ["id"], budget).orderBy("shard").collect()
    shards = [r["shard"] for r in s]
    # contiguous shard ids from 0
    assert shards == list(range(len(shards)))
    # every shard but the last reaches the budget including its straddler;
    # and exceeds it by less than one max-weight doc (w < 400)
    for r in s[:-1]:
        assert r["total_weight"] >= budget - 400 + 1
    # total conserved
    assert sum(r["total_weight"] for r in s) == df.agg(F.sum("w")).first()[0]


def test_pack_shards_zero_weights_and_ties(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 5), (4, 0), (5, 7)], "id long, w long"
    )
    got = {r["id"]: r["shard"] for r in pack_shards(df, "w", ["id"], 6).collect()}
    # excl sums: 0,0,0,5,5 -> shards 0,0,0,0,0
    assert got == {1: 0, 2: 0, 3: 0, 4: 0, 5: 0}


def test_write_training_shards_end_to_end(spark, tmp_path):
    import glob

    from spatialpandas_spark.operators.bpe import train_bpe
    from spatialpandas_spark.operators.shards import write_training_shards

    rows = [(i, f"doc number {i} has some repeated words words words") for i in range(60)]
    rows.append((99, ""))  # empty doc must not enter any shard
    rows.append((98, "日本語のみ"))  # all-non-ASCII -> zero tokens -> dropped
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(docs, n_merges=20)
    out = str(tmp_path / "shards")
    stats = write_training_shards(
        docs, merges, out, shard_tokens=200, seed=7
    )
    assert stats["n_docs"] == 60  # empty + non-ASCII docs excluded
    assert stats["n_dropped_docs"] == 2  # ...and the drop is REPORTED
    assert stats["n_shards"] >= 2
    back = spark.read.parquet(out)
    # every shard except at most one reaches the budget (straddler rule)
    per = {
        r["shard"]: r["t"]
        for r in back.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()
    }
    # straddler contract: a non-last shard's own-row sum is >= budget
    # minus (max doc - 1), because the previous shard's straddling doc
    # may eat into this shard's token range
    max_doc = back.agg(F.max("n_tokens")).first()[0]
    last = max(per)
    short = [s for s, t in per.items() if s != last and t < 200 - (max_doc - 1)]
    assert short == [], (short, per)
    # one file per shard directory (small-files rule)
    for s in per:
        files = glob.glob(f"{out}/shard={s}/*.parquet")
        assert len(files) == 1, (s, files)
    # deterministic: same seed -> same assignment
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, merges, out2, shard_tokens=200, seed=7)
    a = {(r["doc_id"], r["shard"]) for r in back.select("doc_id", "shard").collect()}
    b = {
        (r["doc_id"], r["shard"])
        for r in spark.read.parquet(out2).select("doc_id", "shard").collect()
    }
    assert a == b


# ------------------------------------------------ pack_token_sequences
def _py_pack_sequences(rows, L):
    """Independent reference: concatenate, chunk, record every
    (doc, seq, in-doc offset, slice length) overlap."""
    out = []
    s = 0
    for i, w in rows:
        if w > 0:
            for seq in range(s // L, (s + w - 1) // L + 1):
                a, b = max(s, seq * L), min(s + w, (seq + 1) * L)
                out.append((i, seq, a - s, b - a))
        s += w
    return sorted(out)


def test_pack_token_sequences_matches_reference(spark):
    from spatialpandas_spark.operators.shards import pack_token_sequences

    df, rows = _fixture(spark)
    got = sorted(
        (r["id"], r["seq_id"], r["doc_offset"], r["n_tokens_in_seq"])
        for r in pack_token_sequences(df, "w", ["id"], 128).collect()
    )
    assert got == _py_pack_sequences(sorted(rows), 128)


def test_pack_token_sequences_invariants(spark):
    from spatialpandas_spark.operators.shards import pack_token_sequences

    df, rows = _fixture(spark, seed=11)
    L = 200
    out = pack_token_sequences(df, "w", ["id"], L).collect()
    total = sum(w for _, w in rows)
    # per-doc slices sum to the doc weight
    per_doc = {}
    per_seq = {}
    for r in out:
        per_doc[r["id"]] = per_doc.get(r["id"], 0) + r["n_tokens_in_seq"]
        per_seq[r["seq_id"]] = (
            per_seq.get(r["seq_id"], 0) + r["n_tokens_in_seq"]
        )
        assert 0 < r["n_tokens_in_seq"] <= L
        assert 0 <= r["doc_offset"]
    assert per_doc == {i: w for i, w in rows if w > 0}
    # every sequence except the last is exactly full
    last = max(per_seq)
    for sid, tot in per_seq.items():
        assert tot == (L if sid != last else total - last * L) or (
            sid == last and tot == L
        )
    assert set(per_seq) == set(range(last + 1))


def test_pack_token_sequences_long_doc_spans_many(spark):
    from spatialpandas_spark.operators.shards import pack_token_sequences

    df = spark.createDataFrame(
        [(0, 5), (1, 1000), (2, 3)], "id long, w long"
    )
    out = sorted(
        (r["id"], r["seq_id"], r["doc_offset"], r["n_tokens_in_seq"])
        for r in pack_token_sequences(df, "w", ["id"], 64).collect()
    )
    assert out == _py_pack_sequences([(0, 5), (1, 1000), (2, 3)], 64)
    # doc 1 spans ceil((5+1000)/64) - 0 sequences: 16 rows
    assert sum(1 for i, *_ in out if i == 1) == 16


def test_pack_token_sequences_validates(spark):
    import pytest as _pytest

    from spatialpandas_spark.operators.shards import pack_token_sequences

    df = spark.createDataFrame([(0, 5)], "id long, w long")
    with _pytest.raises(ValueError):
        pack_token_sequences(df, "w", ["id"], 0)


def test_pack_token_sequences_no_single_partition_exchange(spark):
    """The sequence layout inherits the two-phase running sum's plan
    shape: range shuffle + local window + broadcast offsets, never a
    global single-task window."""
    from spatialpandas_spark.operators.shards import pack_token_sequences
    from spatialpandas_spark.plans.inspect import physical_plan

    df, _ = _fixture(spark)
    plan = physical_plan(pack_token_sequences(df, "w", ["id"], 128))
    assert "Exchange SinglePartition" not in plan


def test_materialize_token_sequences_reference(spark):
    """materialize == python concat-and-chunk of the same token stream;
    every sequence but the last exactly full."""
    import numpy as np

    rng = np.random.default_rng(3)
    docs = []
    for i in range(120):
        n = int(rng.integers(0, 40))
        docs.append((i, [int(x) for x in rng.integers(0, 5000, n)], n))
    df = spark.createDataFrame(
        docs, "doc_id long, token_ids array<int>, n_tokens long"
    )
    from spatialpandas_spark.operators.shards import (
        materialize_token_sequences,
    )

    L = 64
    got = {
        r["seq_id"]: (list(r["token_ids"]), r["n_tokens"])
        for r in materialize_token_sequences(df, L).collect()
    }
    stream = [t for _, ids, _ in docs for t in ids]
    exp = {
        s: (stream[s * L : (s + 1) * L], len(stream[s * L : (s + 1) * L]))
        for s in range((len(stream) + L - 1) // L)
    }
    assert got == exp
    last = max(exp)
    assert all(n == L for s, (_, n) in got.items() if s != last)


_TOKENS_SCHEMA = "doc_id long, token_ids array<int>, n_tokens long"


@pytest.mark.parametrize(
    "rows",
    [
        [(1, [10, 11], 2), (1, [20, 21, 22], 3), (2, [30, 31], 2),
         (3, [40], 1)],
        [(1, [10, 11, 12], 3), (1, [], 0), (2, [20, 21], 2), (3, [30], 1)],
    ],
    ids=["two-token-rows", "empty-row"],
)
def test_materialize_token_sequences_shared_id_raises(spark, rows):
    """The layout joins token arrays on the id, so a shared id fans out:
    the seed emitted a 7-token sequence at seq_len 4 with tokens
    repeated. It must raise instead, naming the id."""
    from spatialpandas_spark.operators.shards import (
        materialize_token_sequences,
    )

    df = spark.createDataFrame(rows, _TOKENS_SCHEMA)
    with pytest.raises(Exception, match="requires a unique doc_id: 1 names"):
        materialize_token_sequences(df, 4).collect()


def test_materialize_token_sequences_shared_empty_ids_pass(spark):
    """Rows sharing an id that are all empty add no tokens, so the
    output is the plain concat-and-chunk of the other rows."""
    from spatialpandas_spark.operators.shards import (
        materialize_token_sequences,
    )

    rows = [(1, [], 0), (1, [], 0), (2, [20, 21, 22], 3), (3, [30, 31], 2)]
    df = spark.createDataFrame(rows, _TOKENS_SCHEMA)
    got = sorted(
        (r["seq_id"], list(r["token_ids"]))
        for r in materialize_token_sequences(df, 4).collect()
    )
    assert got == [(0, [20, 21, 22, 30]), (1, [31])]


def test_materialize_token_sequences_null_id_raises(spark):
    """The layout's join on the id never matches a null one, so a
    null-id row's tokens went missing: seq 0 came out as [20], one
    token at seq_len 4. It must raise instead, naming the
    precondition."""
    from spatialpandas_spark.operators.shards import (
        materialize_token_sequences,
    )

    rows = [(None, [1, 2, 3], 3), (2, [20, 21, 22], 3), (3, [30, 31], 2)]
    df = spark.createDataFrame(rows, _TOKENS_SCHEMA)
    with pytest.raises(Exception, match="requires a non-null doc_id"):
        materialize_token_sequences(df, 4).collect()


def test_materialize_token_sequences_no_single_partition_exchange(spark):
    from spatialpandas_spark.operators.shards import (
        materialize_token_sequences,
    )
    from spatialpandas_spark.plans.inspect import physical_plan

    df = spark.createDataFrame(
        [(i, [1, 2, 3], 3) for i in range(10)],
        "doc_id long, token_ids array<int>, n_tokens long",
    )
    plan = physical_plan(materialize_token_sequences(df, 8))
    assert "Exchange SinglePartition" not in plan


def test_running_sum_fork_consistency_on_cached_input(spark):
    """Regression (round 6): the range exchange's reservoir sampling is
    seeded PER EXECUTION, so if the rank/offset branches re-execute it
    independently (exchange reuse is an optimizer choice — a cached
    input defeated it) they can observe different partition
    assignments and corrupt the prefix offsets. The fork point is now
    localCheckpoint-ed; this reproduces the original failure shape:
    cached wide corpus through materialize_token_sequences vs the
    literal python concat-and-chunk."""
    import numpy as np

    from spatialpandas_spark.operators.shards import (
        materialize_token_sequences,
    )

    rng = np.random.default_rng(9)
    docs = [
        (i, [int(x) for x in rng.integers(0, 100, int(rng.integers(0, 30)))])
        for i in range(40_000)
    ]
    df = spark.createDataFrame(
        [(d, ids, len(ids)) for d, ids in docs],
        "doc_id long, token_ids array<int>, n_tokens long",
    ).cache()
    df.count()
    L = 2048
    got = {
        r["seq_id"]: list(r["token_ids"])
        for r in materialize_token_sequences(df, L).collect()
    }
    stream = [t for _, ids in docs for t in ids]
    exp = {
        s // L: stream[s : s + L] for s in range(0, len(stream), L)
    }
    df.unpersist()
    assert got == exp


def test_nextfit_packing_matches_python_twin(spark):
    """pack_documents_nextfit == the literal sequential next-fit scan
    over rank groups, on a cached input (the fork-bug posture)."""
    import numpy as np

    from spatialpandas_spark.operators.shards import pack_documents_nextfit

    rng = np.random.default_rng(17)
    B, G = 100, 16
    docs = [(i, int(w)) for i, w in enumerate(rng.integers(0, 140, 500))]
    df = spark.createDataFrame(docs, "doc_id long, w long").cache()
    df.count()
    got = {
        r["doc_id"]: (r["grp"], r["bin"], r["oversized"])
        for r in pack_documents_nextfit(
            df, "w", ["doc_id"], budget=B, group_size=G
        ).collect()
    }
    df.unpersist()

    # literal twin: filter w>0, rank by doc_id, groups of G, next-fit
    live = [(d, w) for d, w in docs if w > 0]
    want = {}
    for gi in range(0, len(live), G):
        grp = gi // G
        cur_bin, fill = -1, 0
        for d, w in live[gi : gi + G]:
            if cur_bin < 0 or fill + w > B:
                cur_bin += 1
                fill = 0
            fill += w
            want[d] = (grp, grp * G + cur_bin, w > B)
    assert got == want
    # invariants: every bin's fill <= B unless it is a single oversized
    # doc; zero-weight docs dropped
    fills, members = {}, {}
    for d, (g, b, ov) in got.items():
        fills[b] = fills.get(b, 0) + dict(docs)[d]
        members.setdefault(b, []).append(d)
    for b, f in fills.items():
        if f > B:
            assert len(members[b]) == 1 and dict(docs)[members[b][0]] > B
    assert set(got) == {d for d, w in docs if w > 0}


def test_nextfit_no_single_partition_exchange(spark):
    from spatialpandas_spark.operators.shards import pack_documents_nextfit
    from spatialpandas_spark.plans.inspect import physical_plan

    df = spark.createDataFrame(
        [(i, (i * 7) % 50 + 1) for i in range(200)], "doc_id long, w long"
    )
    plan = physical_plan(
        pack_documents_nextfit(df, "w", ["doc_id"], budget=64, group_size=32)
    )
    assert "Exchange SinglePartition" not in plan


def test_ffd_packing_matches_python_twin(spark):
    """strategy='ffd' == the literal first-fit-decreasing scan within
    each rank group (weight desc, rank-asc tie-break), and beats
    next-fit's bin count on a heavy-tailed weight mix."""
    import numpy as np

    from spatialpandas_spark.operators.shards import pack_documents_nextfit

    rng = np.random.default_rng(23)
    B, G = 100, 32
    # heavy-tailed: many small docs + a few near-budget ones (the regime
    # where next-fit strands capacity behind big docs)
    ws = np.concatenate(
        [rng.integers(5, 25, 400), rng.integers(60, 95, 100), [0, 130]]
    )
    rng.shuffle(ws)
    docs = [(i, int(w)) for i, w in enumerate(ws)]
    df = spark.createDataFrame(docs, "doc_id long, w long").cache()
    df.count()

    def run(strategy):
        return {
            r["doc_id"]: (r["grp"], r["bin"], r["oversized"])
            for r in pack_documents_nextfit(
                df, "w", ["doc_id"], budget=B, group_size=G,
                strategy=strategy,
            ).collect()
        }

    got = run("ffd")
    nf = run("nf")
    df.unpersist()

    # literal FFD twin over the same rank groups
    live = [(d, w) for d, w in docs if w > 0]
    want = {}
    for gi in range(0, len(live), G):
        grp = gi // G
        order = sorted(
            range(len(live[gi : gi + G])),
            key=lambda i: (-live[gi + i][1], i),
        )
        fills = []
        for i in order:
            d, w = live[gi + i]
            for j, f in enumerate(fills):
                if f + w <= B:
                    fills[j] = f + w
                    want[d] = (grp, grp * G + j, w > B)
                    break
            else:
                fills.append(w)
                want[d] = (grp, grp * G + len(fills) - 1, w > B)
    assert got == want

    # invariants shared with 'nf': fills bounded, oversized singleton,
    # zero-weight dropped, same doc set
    wts = dict(docs)
    fills, members = {}, {}
    for d, (g, b, ov) in got.items():
        fills[b] = fills.get(b, 0) + wts[d]
        members.setdefault(b, []).append(d)
    for b, f in fills.items():
        if f > B:
            assert len(members[b]) == 1 and wts[members[b][0]] > B
    assert set(got) == set(nf) == {d for d, w in docs if w > 0}

    # FFD fill efficiency strictly better on this mix
    assert len(set(b for _, b, _ in got.values())) < len(
        set(b for _, b, _ in nf.values())
    )


def test_pack_strategy_validation(spark):
    import pytest as _pytest

    from spatialpandas_spark.operators.shards import pack_documents_nextfit

    df = spark.createDataFrame([(1, 5)], "doc_id long, w long")
    with _pytest.raises(ValueError):
        pack_documents_nextfit(df, "w", ["doc_id"], 10, strategy="best")
