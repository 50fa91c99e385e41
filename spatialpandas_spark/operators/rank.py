"""Distributed global ranking without a single-task window.

The naive global ``row_number() OVER (ORDER BY key)`` moves the entire
dataset through one task (flagged as a scale-killer in round 1). The
scalable shape — the same one the reference gets from its sorted-partition
layout (ref ``dask.py:177-205``) — is:

1. ``repartitionByRange`` on the sort key (one shuffle, balanced by
   reservoir-sampled split points),
2. a *partition-local* ``row_number`` (window partitioned by
   ``spark_partition_id``, so every task ranks only its own slice),
3. per-partition row counts (tiny: one row per partition) turned into
   prefix offsets with a triangular self-join — never a single-partition
   exchange — and broadcast back.

The ranked frame is pinned at the fork point (``materialize(...,
eager=True)``): the rank branch and the count/offset branch BOTH consume
the materialized partitioning, so the partition ids they see are
identical by construction. This is load-bearing, not an optimization —
``repartitionByRange`` picks its split points by reservoir sampling
with a per-execution seed, so if Catalyst re-executes the exchange for
each branch (exchange REUSE is an optimizer choice, and a cached or
AQE-replanned input can defeat it) the two branches can see DIFFERENT
partition assignments and the offsets silently corrupt the ranks.
Caught by the round-6 seqpack crossover study on a cached input;
regression-tested in tests/test_shards.py.

Fault tolerance follows the session's checkpoint-dir rule
(:mod:`spatialpandas_spark.materialize`): without a checkpoint dir the
pin is a local checkpoint, so losing an executor fails the job rather
than recomputing; with ``sc.setCheckpointDir`` set it is a reliable
checkpoint that survives executor loss and keeps the same
single-assignment guarantee. Either way every ``with_rank`` /
``with_running_sum`` call runs one eager job, even in otherwise lazy
pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spatialpandas_spark.materialize import materialize


def with_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rk",
    npartitions: int | None = None,
) -> DataFrame:
    """Add a global 1-based rank by ``order_cols`` (ties broken by the full
    column list — pass a unique tiebreaker last for determinism).

    Scales: the only data-sized movement is the range shuffle; offsets are
    computed on an ``npartitions``-row table and broadcast.
    """
    spark = df.sparkSession
    n = npartitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]

    ranged = df.repartitionByRange(n, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("__pid").orderBy(*cols)
    # materialize at the fork: both consumers must observe ONE partition
    # assignment (see module docstring — range sampling is per-execution)
    local = materialize(
        ranged.withColumn("__lrk", F.row_number().over(w_local)), eager=True
    )

    counts = local.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    # prefix-sum via triangular join on the tiny counts table: offset(p) =
    # sum of counts of partitions before p. No global window, no
    # single-partition exchange anywhere in the plan.
    offs = (
        counts.alias("a")
        .join(
            F.broadcast(counts.alias("b")),
            F.col("b.__pid") < F.col("a.__pid"),
            "left",
        )
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum(F.col("b.__cnt")), F.lit(0)).alias("__off"))
    )

    out = local.join(F.broadcast(offs), "__pid")
    return (
        out.withColumn(rank_col, (F.col("__off") + F.col("__lrk")).cast("long"))
        .drop("__pid", "__lrk", "__off")
    )


def with_running_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "running_sum",
    npartitions: int | None = None,
) -> DataFrame:
    """Add an inclusive global running sum of ``value_col`` ordered by
    ``order_cols`` (pass a unique tiebreaker last for determinism) — the
    same two-phase shape as ``with_rank``: range shuffle, partition-local
    window, tiny per-partition totals -> broadcast prefix offsets. No
    single-task window anywhere in the plan."""
    spark = df.sparkSession
    n = npartitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]

    ranged = df.repartitionByRange(n, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # materialize at the fork — same reasoning as with_rank
    local = materialize(
        ranged.withColumn("__lsum", F.sum(F.col(value_col)).over(w_local)),
        eager=True,
    )

    totals = local.groupBy("__pid").agg(F.sum(F.col(value_col)).alias("__tot"))
    offs = (
        totals.alias("a")
        .join(
            F.broadcast(totals.alias("b")),
            F.col("b.__pid") < F.col("a.__pid"),
            "left",
        )
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum(F.col("b.__tot")), F.lit(0)).alias("__off"))
    )

    out = local.join(F.broadcast(offs), "__pid")
    return out.withColumn(out_col, F.col("__off") + F.col("__lsum")).drop(
        "__pid", "__lsum", "__off"
    )
