"""The batch-keyed state store every foreachBatch loop in streaming/
shares: one reader, one writer, one loop starter.

Layout. A loop's cross-batch state is a parquet directory partitioned
by ``batch=N``, N the micro-batch id. Batch N reads the state of the
latest batch BEFORE N, then overwrites its own ``batch=N`` partition
(dynamic partition overwrite). A replayed batch N therefore reads the
same batch-(N-1) state it read the first time and rewrites the same
partition: the loop is idempotent end to end. Loop outputs use the
same writer under their own key (``ingest_batch``, ``seq_batch``,
``sample_batch``), so a replay rewrites its output partition instead
of appending a second copy.

Finding the state lists the directory (sources/fs.py): no Spark job,
and no failed read for a missing path. A dynamic overwrite creates
``batch=N`` only when batch N wrote at least one row, so the largest
listed N below ``before_batch`` is exactly ``max(batch) WHERE batch <
before_batch``. A missing or empty directory is a first batch. The
reader then reads only that one partition, with the caller's schema
when it has one (else Spark runs one job to infer it).

What raises. An existing directory holding any entry other than
``batch=<int>`` directories and hidden ``_``/``.`` files, and a
partition that fails to read. Neither ever reads as a first batch:
a silently reset carry, sketch or sequence counter would corrupt every
later batch with no error surfaced, where a raise fails the micro-batch
and the checkpoint retries it.
"""

from __future__ import annotations

import re

import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spatialpandas_spark.sources import fs as _fs

_PARTITION = re.compile(r"batch=(\d+)")


def _latest(state_path: str, before_batch: int | None) -> int | None:
    fs, p = _fs.resolve(state_path)
    batches = []
    for info in fs.get_file_info(pafs.FileSelector(p, allow_not_found=True)):
        if info.base_name.startswith(("_", ".")):
            continue
        m = _PARTITION.fullmatch(info.base_name)
        if m is None or info.type != pafs.FileType.Directory:
            raise ValueError(
                f"{state_path} is not a batch-keyed state directory: "
                f"unexpected entry {info.base_name!r}"
            )
        batches.append(int(m.group(1)))
    return max(
        (n for n in batches if before_batch is None or n < before_batch),
        default=None,
    )


def read_state(
    spark: SparkSession,
    state_path: str,
    before_batch: int | None = None,
    schema: str | StructType | None = None,
) -> DataFrame | None:
    """The state partition of the latest batch below ``before_batch``
    (the latest of all when omitted), without its ``batch`` column;
    ``None`` when there is none."""
    n = _latest(state_path, before_batch)
    if n is None:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{state_path.rstrip('/')}/batch={n}")


def write_partition(
    df: DataFrame, path: str, batch_id: int | None, key: str = "batch"
) -> None:
    """Overwrite the ``key=batch_id`` partition of ``path`` with ``df``,
    leaving every other partition as it is. Without a batch id (the
    batch API of streaming/ingest.py) the rows append unpartitioned."""
    if batch_id is None:
        df.write.mode("append").parquet(path)
        return
    (
        df.withColumn(key, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key)
        .parquet(path)
    )


def start_loop(stream: DataFrame, checkpoint_path: str, body):
    """Run ``body(batch, batch_id)`` on every non-empty micro-batch of
    ``stream``. Returns the started ``StreamingQuery``."""

    def _step(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            body(batch, batch_id)

    return (
        stream.writeStream.foreachBatch(_step)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )
