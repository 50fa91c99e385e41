"""Streaming decontamination screening: probe each corpus micro-batch
against a PERSISTENT benchmark index (operators/contamination_index.py)
and maintain the cumulative containment summary exactly.

The batch operator (``screen_against_index``) screens a corpus in one
scan; incrementally, the only cross-batch state needed is the set of
probe hashes FOUND so far — found-ness is monotone and
union-commutative, so after any number of batches the maintained
summary equals ``screen_against_index`` over the concatenation of all
batches EXACTLY (the twin identity this module's tests pin). The probe
set itself is NOT state: it derives from the stored artifact each
batch (one narrow benchmark-sized read), so appending new benchmarks
to the index mid-stream simply makes their probes start unfound.

State layout mirrors streaming/sketch.py's exactly-once discipline:
the FULL found-hash set (≤ k rows per benchmark group — synopsis-small
by construction) is written under a ``batch=N`` partition via dynamic
partition overwrite; a replayed batch re-reads the batch-(N-1) state
it read the first time and overwrites its own partition — idempotent
end to end. Only a MISSING state path reads as "first batch"; any
other read failure fails the micro-batch for retry
(streaming/_state.py).

Scale: per batch, one scan of the BATCH (not the accumulated corpus),
one benchmark-sized read of the index store, one ≤(k·groups)-row state
rewrite. Nothing corpus-sized is ever carried or re-scanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialpandas_spark.materialize import materialize
from spatialpandas_spark.operators.contamination_index import (
    load_decon_params,
    probe_set,
)
from spatialpandas_spark.operators.dedup import word_shingles
from spatialpandas_spark.operators.sampling import sample_hash
from spatialpandas_spark.streaming._state import read_state_frame

#: explicit state schema: a zero-hit first batch writes an EMPTY
#: partitioned directory, which schema inference cannot read
_STATE_SCHEMA = "h long, batch int"


def _read_found(
    spark: SparkSession, state_path: str, before_batch: int
) -> DataFrame | None:
    """Found-hash set as of the latest batch STRICTLY BEFORE
    ``before_batch`` (replay safety), or None when no prior batch
    exists."""
    st = read_state_frame(spark, state_path, schema=_STATE_SCHEMA)
    if st is None:
        return None
    prev = (
        st.filter(F.col("batch") < before_batch)
        .agg(F.max("batch"))
        .first()[0]
    )
    if prev is None:
        return None
    return st.filter(F.col("batch") == prev).select("h")


def _summary(bsk: DataFrame, found: DataFrame | None, groups: list[str],
             all_groups: DataFrame | None, k: int) -> DataFrame:
    """The containment summary rows for a probe set + found-hash set —
    the same aggregation shape as ``screen_against_index``."""
    if found is None:
        flagged = bsk.withColumn("found", F.lit(0))
    else:
        flagged = bsk.join(
            F.broadcast(found.withColumn("__found", F.lit(1))), "h", "left"
        ).select(
            *groups, "rank", "h",
            F.coalesce(F.col("__found"), F.lit(0)).alias("found"),
        )
    agg = flagged.groupBy(*groups).agg(
        F.count("*").alias("n_probed"),
        F.sum("found").cast("long").alias("n_found"),
    )
    if groups and all_groups is not None:
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


def screen_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    state_path: str,
    batch_id: int = 0,
    text_col: str | None = None,
) -> DataFrame:
    """One incremental step (also the foreachBatch body): hash the
    micro-batch's shingles, semi-join against the index's probe set,
    union the hits into the carried found set, overwrite this batch's
    state partition. Returns the cumulative containment summary —
    identical to ``screen_against_index`` over everything ingested so
    far."""
    p = load_decon_params(index_path)
    tc = text_col or p["text_col"]
    groups = p["group_cols"]
    bsk = materialize(probe_set(spark, index_path), eager=False)
    probes = F.broadcast(bsk.select("h").distinct())
    hits = (
        batch.select(
            F.explode(word_shingles(F.col(tc), p["n"])).alias("s")
        )
        .select(sample_hash(F.col("s"), p["seed"]).alias("h"))
        .join(probes, "h", "left_semi")
        .distinct()
    )
    prev = _read_found(spark, state_path, batch_id)
    merged = hits if prev is None else prev.union(hits).distinct()
    (
        merged.withColumn("batch", F.lit(int(batch_id)))
        .repartition(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(state_path)
    )
    found = read_state_frame(spark, state_path, schema=_STATE_SCHEMA)
    found = (
        None
        if found is None
        else found.filter(F.col("batch") == int(batch_id)).select("h")
    )
    all_groups = (
        spark.read.parquet(f"{index_path.rstrip('/')}/groups")
        if groups
        else None
    )
    return _summary(bsk, found, groups, all_groups, p["k"])


def load_screen(
    spark: SparkSession, index_path: str, state_path: str
) -> DataFrame:
    """The current maintained containment summary (latest state batch)
    — the streaming counterpart of ``screen_against_index``'s output."""
    p = load_decon_params(index_path)
    groups = p["group_cols"]
    found = _read_found(spark, state_path, 1 << 62)
    bsk = probe_set(spark, index_path)
    all_groups = (
        spark.read.parquet(f"{index_path.rstrip('/')}/groups")
        if groups
        else None
    )
    return _summary(bsk, found, groups, all_groups, p["k"])


def stream_screen_ingest(
    stream: DataFrame,
    index_path: str,
    state_path: str,
    checkpoint_path: str,
    text_col: str | None = None,
):
    """Attach cumulative benchmark screening to a streaming document
    frame. Returns the started ``StreamingQuery``."""

    def _step(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        screen_batch(
            batch.sparkSession,
            batch,
            index_path,
            state_path,
            batch_id=batch_id,
            text_col=text_col,
        )

    return (
        stream.writeStream.foreachBatch(_step)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )
