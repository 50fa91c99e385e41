"""Streaming ingestion against the persistent MinHash dedup index.

The production loop for continuous corpus growth: a document stream is
checked per micro-batch against the on-disk index
(operators/dedup_index.py), survivors are appended to BOTH the index and
the curated output — so later batches also dedup against earlier ones,
exactly like a sequential batch pipeline would.

This is a ``foreachBatch`` sink rather than a stateful streaming
operator, deliberately: the dedup state (the index) must outlive the
stream, be shared with batch jobs, and scale past executor memory — an
on-disk, partition-pruned store is the right home for it, not
watermark-bounded operator state (streaming/dedup.py covers the
bounded-horizon variant). ``foreachBatch`` is the documented Spark shape
for stream-to-batch-sink composition.

Semantics per micro-batch b:
  1. within-batch near-dups collapse first (keep the min id per
     cluster-free pair ordering — deterministic),
  2. survivors probe the index (``dedup_against_index``); anything
     matching the already-ingested corpus is dropped,
  3. the remainder appends to the index and to ``output_path``.

Failure note: the CURATED OUTPUT is retry-idempotent — each micro-batch
writes its own ``ingest_batch=N`` partition through the batch-keyed
writer of streaming/_state.py, so a replayed batch rewrites rather than
double-appends (and the partition column is free batch provenance);
without a batch id (the batch API) the output is a plain append. The
INDEX side remains at-least-once parquet appends: a replay can
duplicate index rows, which is verdict-benign (`dedup_against_index`
dropDuplicates the candidate pairs and `filter_against_index` is a
left-anti — duplicates cost only storage and duplicate match-report
rows) and removable by compaction.
Exactly-once index appends would need a transactional table format —
called out in SCALE.md rather than papered over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialpandas_spark.materialize import materialize
from spatialpandas_spark.operators.dedup_index import (
    append_to_minhash_index,
    dedup_against_index,
    filter_against_index,
    load_minhash_params,
)
from spatialpandas_spark.streaming._state import start_loop, write_partition


def _drop_within_batch_dups(
    batch: DataFrame, p: dict, threshold: float
) -> DataFrame:
    """Collapse near-dup pairs inside one micro-batch: keep the smaller
    id of every matching pair (transitively: a doc survives iff no
    smaller-id near-dup exists in the batch — the same winner rule the
    batch dedup operators use)."""
    from spatialpandas_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        batch,
        id_col=p["id_col"],
        text_col=p["text_col"],
        shingle_n=p["shingle_n"],
        num_hashes=p["num_hashes"],
        bands=p["bands"],
        threshold=threshold,
    )
    losers = pairs.select(F.col("id_b").alias(p["id_col"])).distinct()
    return batch.join(losers, p["id_col"], "left_anti")


def ingest_batch(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    output_path: str | None = None,
    threshold: float = 0.5,
    batch_id: int | None = None,
) -> DataFrame:
    """One ingestion step (also the foreachBatch body): within-batch
    collapse -> probe index -> append survivors to index (and to
    ``output_path`` when given — idempotently per ``batch_id`` on the
    streaming path). Returns the surviving documents."""
    p = load_minhash_params(index_path)
    survivors = filter_against_index(
        spark,
        index_path,
        _drop_within_batch_dups(batch, p, threshold),
        threshold,
    )
    # the survivor set is consumed three times (append x2 + return);
    # checkpoint so the probe plan runs once
    survivors = materialize(survivors, eager=True)
    append_to_minhash_index(survivors, index_path)
    if output_path is not None:
        write_partition(survivors, output_path, batch_id, "ingest_batch")
    return survivors


def stream_dedup_ingest(
    stream: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_path: str,
    threshold: float = 0.5,
):
    """Attach the ingestion loop to a streaming DataFrame. Returns the
    started ``StreamingQuery``; stop it (or ``processAllAvailable`` in
    tests) as usual."""
    return start_loop(
        stream,
        checkpoint_path,
        lambda batch, batch_id: ingest_batch(
            batch.sparkSession, index_path, batch, output_path, threshold,
            batch_id=batch_id,
        ),
    )


def probe_matches_stream(
    stream: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_path: str,
    threshold: float = 0.5,
):
    """Read-only variant: stream documents, emit (new_id, dup_of,
    est_jaccard) match rows to ``output_path`` without mutating the
    index — the monitoring/decontamination-alert shape."""
    return start_loop(
        stream,
        checkpoint_path,
        lambda batch, batch_id: write_partition(
            dedup_against_index(
                batch.sparkSession, index_path, batch, threshold
            ),
            output_path,
            batch_id,
            "ingest_batch",
        ),
    )


# ----------------------------------------------- embedding-stream ingestion
# The vector-corpus twin of the text loop above: continuous embedding
# growth with near-duplicate suppression against the persistent IVF-PQ
# index (operators/similarity_index.py). Same design stance — the dedup
# state lives in the on-disk, partition-pruned index (shared with batch
# jobs, unbounded by executor memory), driven via foreachBatch; the same
# parquet-append retry caveat applies.


def embedding_ingest_batch(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    output_path: str | None = None,
    threshold: float = 0.95,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    batch_id: int | None = None,
) -> DataFrame:
    """One embedding-ingestion step (also the foreachBatch body):

    1. within-batch collapse — embedding near-dup pairs (banded
       random-hyperplane self-join), keep the smaller id,
    2. survivors probe the IVF-PQ index top-1 with EXACT stored-vector
       rerank; cosine >= ``threshold`` against the already-ingested
       corpus drops the row (requires ``store_vectors=True`` at build —
       the probe's duplicate verdict must be exact, not ADC-approximate),
    3. the remainder appends to the index (pinned model) and, when
       given, to ``output_path``.

    Returns the surviving vectors."""
    from spatialpandas_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from spatialpandas_spark.operators.similarity_index import (
        append_to_ivfpq_index,
        load_ivfpq_meta,
        query_ivfpq_index,
    )

    if not load_ivfpq_meta(index_path).get("store_vectors"):
        raise ValueError(
            "embedding ingestion needs build_ivfpq_index(store_vectors=True) "
            "so the duplicate verdict is exact cosine, not ADC-approximate"
        )
    pairs = embedding_near_dup_pairs(
        batch, threshold=threshold, id_col=id_col, vec_col=vec_col, dim=dim
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    surv = batch.join(losers, id_col, "left_anti")

    qs = surv.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    top = query_ivfpq_index(
        spark, index_path, qs, k=1, n_probe=n_probe, rerank="stored"
    )
    dups = (
        top.filter(F.col("sim") >= threshold)
        .select(F.col("qid").alias(id_col))
        .distinct()
    )
    surv = materialize(surv.join(dups, id_col, "left_anti"), eager=True)
    append_to_ivfpq_index(surv, index_path, corpus_id=id_col, corpus_vec=vec_col)
    if output_path is not None:
        write_partition(surv, output_path, batch_id, "ingest_batch")
    return surv


def stream_embedding_ingest(
    stream: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_path: str,
    threshold: float = 0.95,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
):
    """Attach the embedding-ingestion loop to a streaming DataFrame.
    Returns the started ``StreamingQuery``."""
    return start_loop(
        stream,
        checkpoint_path,
        lambda batch, batch_id: embedding_ingest_batch(
            batch.sparkSession,
            index_path,
            batch,
            output_path,
            threshold,
            n_probe,
            id_col,
            vec_col,
            dim,
            batch_id=batch_id,
        ),
    )


def embedding_matches_stream(
    stream: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_path: str,
    threshold: float = 0.95,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Read-only embedding variant of ``probe_matches_stream``: stream
    vectors, emit (new_id, dup_of, sim) match rows against the IVF-PQ
    index without mutating it — the drift/contamination-alert shape for
    embedding corpora (requires stored vectors, exact verdicts)."""
    from spatialpandas_spark.operators.similarity_index import (
        load_ivfpq_meta,
        query_ivfpq_index,
    )

    if not load_ivfpq_meta(index_path).get("store_vectors"):
        raise ValueError(
            "embedding match monitoring needs build_ivfpq_index("
            "store_vectors=True) for exact duplicate verdicts"
        )

    def _matches(batch: DataFrame, batch_id: int) -> None:
        qs = batch.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
        )
        out = (
            query_ivfpq_index(
                batch.sparkSession, index_path, qs, k=1,
                n_probe=n_probe, rerank="stored",
            )
            .filter(F.col("sim") >= threshold)
            .select(
                F.col("qid").alias("new_id"),
                F.col("vec_id").alias("dup_of"),
                "sim",
            )
        )
        write_partition(out, output_path, batch_id, "ingest_batch")

    return start_loop(stream, checkpoint_path, _matches)
