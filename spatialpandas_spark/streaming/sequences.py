"""Streaming training-row formation: ``materialize_token_sequences``
under the foreachBatch ingestion loop.

The batch operator (operators/shards.py) cuts ONE globally-ordered token
stream into fixed ``seq_len`` training rows. Incrementally, a document
stream appends to that stream batch by batch, so the only state the loop
needs is where the stream currently ends: the global index of the next
sequence and the trailing PARTIAL sequence's tokens (always < seq_len
ids). Each micro-batch:

1. loads the carry state left by the previous batch (tiny: one row,
   ≤ seq_len ints),
2. prepends the carry as a virtual first document and runs the exact
   batch operator over the micro-batch (so the distributed layout /
   slice / assembly path is THE SAME CODE the batch pipeline runs — the
   streaming twin discipline every other family in streaming/ follows),
3. emits every COMPLETE sequence with its global ``seq_id``, holds the
   new trailing partial back as the next carry.

Stream order is (micro-batch order, then length-then-lexicographic
order of the stringified ``id_col`` within the batch — numeric order
for the usual digit ids, injective for string ids of any length) — the
same contract as sequential calls to :func:`sequence_batch` on the same
frames in order, which is what the twin test asserts.

Exactly-once: the carry is the state of the batch-keyed store of
streaming/_state.py, and the emitted rows land in a ``seq_batch=N``
output partition through its writer, so a replayed micro-batch
rewrites both — idempotent end to end, with no at-least-once caveat
(unlike the dedup-index append path, whose trade is documented in
streaming/ingest.py).

Scale: per batch the only driver-side data is the carry row (< seq_len
ids) and the last sequence's id — two bounded single-row collects. Token
arrays cross one shuffle as slices, exactly the batch operator's shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialpandas_spark.operators.shards import materialize_token_sequences
from spatialpandas_spark.streaming._state import (
    read_state,
    start_loop,
    write_partition,
)

_STATE_SCHEMA = "next_seq long, carry array<int>"


def _carry_in(
    spark: SparkSession, state_path: str, before_batch: int | None = None
) -> tuple[int, list[int]]:
    """(next sequence id, carried tokens) left by the latest batch
    below ``before_batch``; (0, []) before the first batch."""
    st = read_state(spark, state_path, before_batch, _STATE_SCHEMA)
    if st is None:
        return 0, []
    row = st.first()
    return int(row["next_seq"]), list(row["carry"] or [])


def sequence_batch(
    spark: SparkSession,
    batch: DataFrame,
    seq_len: int,
    state_path: str,
    output_path: str | None = None,
    id_col: str = "doc_id",
    tokens_col: str = "token_ids",
    batch_id: int = 0,
) -> DataFrame:
    """One incremental step (also the foreachBatch body): carry-in ->
    batch ``materialize_token_sequences`` -> emit complete sequences
    with GLOBAL ids, carry the trailing partial out. Returns the
    complete sequences (empty frame if the batch didn't fill one).

    ``batch`` needs (``id_col``, ``tokens_col``); lengths are derived.
    """
    L = int(seq_len)
    next_seq, carry = _carry_in(spark, state_path, batch_id)

    # virtual key: carry sorts first (empty string < any length-prefixed
    # key), batch rows in LENGTH-THEN-LEXICOGRAPHIC id order — injective
    # for ids of ANY length (a fixed-width lpad would TRUNCATE long ids,
    # colliding ordering/join keys and silently duplicating token data)
    # and equal to numeric order for the usual digit ids. The 8-digit
    # length prefix covers ids up to 10^8-1 chars; a longer id RAISES
    # (the guard below — lpad would otherwise truncate the length string
    # itself and re-open the collision) rather than being dropped. A
    # null id has no length and no place in the order: it raises too.
    sid = F.col(id_col).cast("string")
    klen = F.length(sid)
    key = F.concat(F.lpad(klen.cast("string"), 8, "0"), sid)
    keyed = batch.select(
        F.when(
            sid.isNull(),
            F.raise_error(
                F.lit(
                    f"sequence_batch requires a non-null {id_col}: a null "
                    "id has no place in the stream order"
                )
            ),
        )
        .when(klen < F.lit(100_000_000), key)
        .otherwise(
            F.raise_error(
                F.lit(
                    "sequence_batch: id longer than 10^8-1 chars is "
                    "unsupported (ordering key would truncate)"
                )
            )
        )
        .alias("__k"),
        F.col(tokens_col).cast("array<int>").alias("token_ids"),
    )
    if carry:
        carry_row = spark.createDataFrame(
            [("", [int(t) for t in carry])], "__k string, token_ids array<int>"
        )
        keyed = carry_row.unionByName(keyed)
    keyed = keyed.withColumn("n_tokens", F.size("token_ids").cast("long"))

    seqs = materialize_token_sequences(keyed, L, id_col="__k")
    # bounded collect: ONE row — the stream's trailing sequence (its
    # tokens become the carry unless it is exactly full)
    tail = (
        seqs.orderBy(F.col("seq_id").desc()).limit(1).collect()
    )
    complete, new_next, new_carry = seqs, next_seq, carry
    if tail:  # else the batch had zero tokens: state (and carry) unchanged
        last_id = int(tail[0]["seq_id"])
        if int(tail[0]["n_tokens"]) < L:
            new_carry = [int(t) for t in tail[0]["token_ids"]]
            complete = seqs.filter(F.col("seq_id") < last_id)
            new_next = next_seq + last_id
        else:
            new_carry, new_next = [], next_seq + last_id + 1
    out = complete.select(
        (F.col("seq_id") + next_seq).cast("long").alias("seq_id"),
        "token_ids",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    if output_path is not None:
        write_partition(out, output_path, batch_id, "seq_batch")
    write_partition(
        spark.createDataFrame(
            [(int(new_next), [int(t) for t in new_carry])], _STATE_SCHEMA
        ),
        state_path,
        batch_id,
    )
    return out


def flush_carry(
    spark: SparkSession,
    state_path: str,
    output_path: str | None = None,
    final_batch_id: int = 1 << 40,
) -> DataFrame:
    """End-of-stream: emit the held partial sequence (the batch
    operator's final short row) so the streamed output equals the batch
    operator over the full concatenation. Writes under the sentinel
    ``seq_batch`` partition when ``output_path`` is given."""
    next_seq, carry = _carry_in(spark, state_path)
    rows = (
        [(int(next_seq), [int(t) for t in carry], len(carry))]
        if carry
        else []
    )
    out = spark.createDataFrame(
        rows, "seq_id long, token_ids array<int>, n_tokens long"
    )
    if output_path is not None and rows:
        write_partition(out, output_path, final_batch_id, "seq_batch")
    return out


def stream_token_sequences(
    stream: DataFrame,
    seq_len: int,
    state_path: str,
    output_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    tokens_col: str = "token_ids",
):
    """Attach the incremental training-row loop to a streaming frame of
    tokenized documents. Returns the started ``StreamingQuery``."""
    return start_loop(
        stream,
        checkpoint_path,
        lambda batch, batch_id: sequence_batch(
            batch.sparkSession,
            batch,
            seq_len,
            state_path,
            output_path,
            id_col=id_col,
            tokens_col=tokens_col,
            batch_id=batch_id,
        ),
    )
