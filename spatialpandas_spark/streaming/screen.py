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

State: the FULL found-hash set (≤ k rows per benchmark group —
synopsis-small by construction) in the batch-keyed store of
streaming/_state.py, so a replayed batch is idempotent end to end.

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
from spatialpandas_spark.streaming._state import (
    read_state,
    start_loop,
    write_partition,
)

_STATE_SCHEMA = "h long"


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
    prev = read_state(spark, state_path, batch_id, _STATE_SCHEMA)
    merged = hits if prev is None else prev.union(hits).distinct()
    write_partition(merged.repartition(1), state_path, batch_id)
    # the partition just written; none until some batch finds a probe
    found = read_state(spark, state_path, batch_id + 1, _STATE_SCHEMA)
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
    found = read_state(spark, state_path, schema=_STATE_SCHEMA)
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
    return start_loop(
        stream,
        checkpoint_path,
        lambda batch, batch_id: screen_batch(
            batch.sparkSession,
            batch,
            index_path,
            state_path,
            batch_id=batch_id,
            text_col=text_col,
        ),
    )
