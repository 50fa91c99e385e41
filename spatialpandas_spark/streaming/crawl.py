"""Streaming crawl ingestion: WARC archive stream -> HTML text ->
near-dup-filtered corpus growth.

Completes the ingestion story end to end as a STREAM: the batch chain
(sources/archives.py ``warc_records`` -> operators/html.py
``extract_text_from_html``) runs inside ``foreachBatch`` and feeds the
SAME persistent-index ingestion step the document stream uses
(streaming/ingest.py ``ingest_batch``) — so a continuously arriving
crawl dedups against everything previously ingested, exactly like the
sequential batch pipeline (the twin equivalence the tests pin).

Document identity is the target URL (stable across re-crawls, string
id — the dedup index is id-type agnostic); within a batch, exact URL
re-fetches collapse to the first record (smallest archive_id,
record_idx). Near-dup suppression across DIFFERENT urls with the same
content is the index's job, not identity's.

Same design stance and parquet-append retry caveat as
streaming/ingest.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spatialpandas_spark.operators.html import extract_text_from_html
from spatialpandas_spark.sources.archives import warc_records
from spatialpandas_spark.streaming._state import start_loop
from spatialpandas_spark.streaming.ingest import ingest_batch

__all__ = ["extract_crawl_batch", "crawl_ingest_batch", "stream_crawl_ingest"]


def extract_crawl_batch(
    batch: DataFrame,
    payload_col: str = "payload",
    id_col: str = "archive_id",
) -> DataFrame:
    """WARC archives -> clean documents: ``(doc_id, title, text)`` with
    ``doc_id`` = target URL. Keeps 200-status HTML (or
    mime-unspecified) responses whose extraction parsed; duplicate URLs
    in the batch keep the first record (archive_id, record_idx order —
    deterministic)."""
    recs = warc_records(batch, payload_col=payload_col, id_col=id_col)
    ok = recs.filter(
        (F.col("http_status") == 200)
        & F.col("url").isNotNull()
        & (F.col("mime").isNull() | F.col("mime").startswith("text/html"))
    )
    w = Window.partitionBy("url").orderBy(id_col, "record_idx")
    first = (
        ok.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("url").alias("doc_id"), F.col("body").alias("html"))
    )
    texts = extract_text_from_html(first, html_col="html")
    return texts.filter(F.col("parse_ok") == "ok").select(
        "doc_id", "title", "text"
    )


def crawl_ingest_batch(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    output_path: str | None = None,
    threshold: float = 0.5,
    batch_id: int | None = None,
) -> DataFrame:
    """One crawl-ingestion step (also the foreachBatch body): extract
    documents from the archives, then run the standard index-backed
    dedup ingestion (within-batch collapse -> probe -> append; the
    curated output is retry-idempotent per ``batch_id``).
    Returns the surviving documents."""
    docs = extract_crawl_batch(batch)
    return ingest_batch(
        spark, index_path, docs, output_path, threshold, batch_id=batch_id
    )


def stream_crawl_ingest(
    stream: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_path: str,
    threshold: float = 0.5,
):
    """Attach the crawl-ingestion loop to a streaming archive frame
    (``archive_id``, ``payload``). Returns the started StreamingQuery."""
    return start_loop(
        stream,
        checkpoint_path,
        lambda batch, batch_id: crawl_ingest_batch(
            batch.sparkSession, index_path, batch, output_path, threshold,
            batch_id=batch_id,
        ),
    )
