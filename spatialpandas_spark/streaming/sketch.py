"""Streaming KMV sketch maintenance: per-source corpus synopses that
stay current as documents stream in.

The batch operator (operators/sketch.py) sketches a corpus in one scan;
incrementally, each micro-batch's sketch MERGES into the running one by
the KMV rule (bottom-k of the union — sketches are mergeable by
construction), so after any number of batches the maintained state
equals ``shingle_sketch`` over the concatenation of all batches EXACTLY
— not approximately: the sketch is a pure function of the accumulated
shingle SET, and merge-of-bottom-k == bottom-k-of-union. That identity
is the twin test.

State: the FULL merged sketch (tiny: ≤ k rows per group) in the
batch-keyed store of streaming/_state.py, so a replayed batch is
idempotent end to end. Rewriting the whole synopsis per batch is the
right trade precisely because a synopsis is small by definition; the
corpora it summarizes never re-scan.

Scale: per batch, one scan of the BATCH (not the accumulated corpus),
one k-rows-per-group state read, one bounded window over ≤ 2k rows per
group. Driver-side data: one directory listing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spatialpandas_spark.operators.sketch import kmv_merge, shingle_sketch
from spatialpandas_spark.streaming._state import (
    read_state,
    start_loop,
    write_partition,
)


def sketch_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    k: int = 256,
    text_col: str = "text",
    n: int = 5,
    seed: int = 42,
    group_cols: list[str] | None = None,
    batch_id: int = 0,
) -> DataFrame:
    """One incremental step (also the foreachBatch body): sketch the
    micro-batch, KMV-merge with the carried state, overwrite this
    batch's state partition. Returns the merged sketch
    (``*group_cols, rank, h``) — identical to ``shingle_sketch`` over
    everything ingested so far."""
    groups = list(group_cols or [])
    cur = shingle_sketch(
        batch, text_col, n=n, k=k, seed=seed, group_cols=groups
    )
    prev = read_state(spark, state_path, batch_id, cur.schema)
    merged = cur if prev is None else kmv_merge(prev, cur, k, groups)
    write_partition(merged.repartition(1), state_path, batch_id)
    # the partition just written; none when the batch had no shingles
    # and no earlier batch did either
    written = read_state(spark, state_path, batch_id + 1, cur.schema)
    return merged if written is None else written


def load_sketch(
    spark: SparkSession, state_path: str, group_cols: list[str] | None = None
) -> DataFrame:
    """The current maintained sketch (latest batch partition) — feed it
    to ``kmv_overlap`` / ``kmv_overlap_matrix`` / ``kmv_summary``."""
    groups = list(group_cols or [])
    sk = read_state(spark, state_path)
    if sk is None:
        raise FileNotFoundError(f"no sketch state at {state_path}")
    return sk.select(*groups, "rank", "h")


def stream_sketch_ingest(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    k: int = 256,
    text_col: str = "text",
    n: int = 5,
    seed: int = 42,
    group_cols: list[str] | None = None,
):
    """Attach sketch maintenance to a streaming document frame. Returns
    the started ``StreamingQuery``."""
    return start_loop(
        stream,
        checkpoint_path,
        lambda batch, batch_id: sketch_batch(
            batch.sparkSession,
            batch,
            state_path,
            k=k,
            text_col=text_col,
            n=n,
            seed=seed,
            group_cols=group_cols,
            batch_id=batch_id,
        ),
    )
