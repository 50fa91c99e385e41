"""Streaming PPS systematic sampling: the weight-proportional sampler
(operators/sampling.py systematic_sample) under the foreachBatch
ingestion loop.

The lattice construction makes the incremental form exact with ONE
NUMBER of state: the batch's rows occupy global positions
``[carry, carry + batch_weight)`` on the weight line, and the global
lattice ``offset + k*step`` restricted to that span is exactly the
LOCAL lattice with offset ``(offset - carry) mod step`` — so each
micro-batch runs the unchanged batch operator with a shifted offset and
the streamed selection (ids AND multiplicities) equals one batch
``systematic_sample`` over the concatenation of all batches in
(micro-batch order, ``order_cols`` order). That identity is the twin
test.

Exactly-once: the carried total is the state of the batch-keyed
store of streaming/_state.py, and selected rows land in a
``sample_batch=N`` output partition through its writer, so a replayed
batch rewrites both. Driver-side data per batch: one carry row in, one
summed weight out — two bounded one-row exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialpandas_spark.operators.sampling import systematic_sample
from spatialpandas_spark.streaming._state import (
    read_state,
    start_loop,
    write_partition,
)


def sample_pps_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    weight_col: str,
    step: int,
    order_cols: list | None = None,
    id_col: str = "doc_id",
    seed: int = 42,
    offset: int | None = None,
    output_path: str | None = None,
    batch_id: int = 0,
) -> DataFrame:
    """One incremental step (also the foreachBatch body): shift the
    lattice by the carried total, run the batch sampler, advance the
    carry. Returns the batch's selected rows (+ ``n_hits``)."""
    import hashlib

    st = int(step)
    if st <= 0:
        raise ValueError("step must be positive")
    if offset is None:
        offset = (
            int(hashlib.md5(f"{seed}:pps".encode()).hexdigest()[:15], 16)
            % st
        )
    prev = read_state(spark, state_path, batch_id, "carry long")
    carry = 0 if prev is None else int(prev.first()["carry"])
    local_off = (int(offset) - carry) % st
    out = systematic_sample(
        batch,
        weight_col,
        order_cols or [id_col],
        step=st,
        offset=local_off,
    )
    # bounded: ONE summed weight row
    w = batch.agg(F.sum(F.col(weight_col)).alias("w")).first()["w"]
    new_carry = carry + int(w or 0)
    if output_path is not None:
        write_partition(out, output_path, batch_id, "sample_batch")
    write_partition(
        spark.createDataFrame([(new_carry,)], "carry long"),
        state_path,
        batch_id,
    )
    return out


def stream_pps_sample(
    stream: DataFrame,
    state_path: str,
    output_path: str,
    checkpoint_path: str,
    weight_col: str,
    step: int,
    id_col: str = "doc_id",
    seed: int = 42,
):
    """Attach the incremental sampler to a streaming frame. Returns the
    started ``StreamingQuery``."""
    return start_loop(
        stream,
        checkpoint_path,
        lambda batch, batch_id: sample_pps_batch(
            batch.sparkSession,
            batch,
            state_path,
            weight_col,
            step,
            id_col=id_col,
            seed=seed,
            output_path=output_path,
            batch_id=batch_id,
        ),
    )
