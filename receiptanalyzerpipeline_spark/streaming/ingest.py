"""Streaming receipt ingest: the reference's two-stage watcher topology
(anarcpt/main.py:108-132, watcher.py) as ONE structured stream.

Reference → engine mapping (SURVEY §3.2, §2.9):

    watchdog observers on dirs      → readStream.format("binaryFile")
    openability/size-stability poll → atomic write-then-rename ingestion
                                       contract (file source lists
                                       complete files only)          (T2)
    hash → rename → move            → with_ahash column; no rename — the
                                       hash IS a column              (K6)
    bounded queue + sentinel flush  → micro-batches; maxFilesPerTrigger
                                       for backpressure           (T3/T4)
    per-event try/except            → OCR error column + quarantine  (T5)
    at-most-once lossy queue        → checkpointed exactly-once
                                       foreachBatch + idempotent
                                       anti-join merge on img_id     (T7)

The binaryFile file source is the only watcher: ``anarcpt-spark watch``
and ``run_ingest`` both read the landing directory through
``read_image_stream``.

The batch transforms are the SAME DataFrame functions proven against the
DuckDB oracle (flatten/pivot) — Spark's batch/streaming unification means
the streaming path inherits their correctness.

Each micro-batch is hashed, OCR'd and parsed once (multimodal.ocr
``ocr_documents``): the hashed images and the parsed documents are
persisted for the cache probe, the OCR write and the two curated merges,
then released at the end of the batch, so a long-running stream does not
accumulate cached batches. Every parquet read declares its schema, so no
read launches a schema-inference job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from receiptanalyzerpipeline_spark.multimodal.ocr import (
    OcrBackend,
    _read_or_none,
    ocr_documents,
)
from receiptanalyzerpipeline_spark.sources.textract import (
    extract_line_items,
    flatten_summary_fields,
    pivot_receipt_summary,
)

BINARY_FILE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("modificationTime", TimestampType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ]
)


def read_image_stream(
    spark: SparkSession,
    landing_dir: str,
    glob: str = "*.{png,jpg,jpeg}",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the landing directory (S3/local alike)."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(landing_dir)


def _merge_append_new(batch: DataFrame, target_path: str, key: str) -> None:
    """Idempotent merge: append only keys absent from the target.

    Parquet stand-in for MERGE INTO (no Delta in this environment): the
    anti-join on the natural key makes replays no-ops, which together with
    the checkpoint gives exactly-once *effects* (SURVEY §7.3.6). Only the
    key column is read, with its declared type; a target that exists but
    cannot be read fails the batch rather than counting as empty."""
    existing = _read_or_none(batch.sparkSession, target_path, StructType([batch.schema[key]]))
    fresh = batch if existing is None else batch.join(existing, key, "left_anti")
    fresh.write.mode("append").parquet(target_path)


def merge_curated(
    summary: DataFrame, items: DataFrame, curated_summary: str, curated_items: str
) -> None:
    """Idempotently append one parsed batch to both curated tables (flat
    parquet, keyed on ``img_id`` and ``img_id#line_no``). ``watch`` and
    ``analyze --write`` both write through here, so the two verbs share
    one layout and a re-run appends nothing."""
    _merge_append_new(summary, curated_summary, "img_id")
    _merge_append_new(
        items.withColumn("item_key", F.concat_ws("#", "img_id", "line_no")),
        curated_items,
        "item_key",
    )


def process_receipt_batch(
    images: DataFrame,
    raw_zone: str,
    curated_summary: str,
    curated_items: str,
    backend: OcrBackend,
) -> None:
    """One micro-batch: hash → memoized OCR → flatten/pivot → merge, with
    the hash and the parse computed once and shared by both sinks."""
    with ocr_documents(images, raw_zone, backend) as docs:
        summary = pivot_receipt_summary(flatten_summary_fields(docs))
        merge_curated(summary, extract_line_items(docs), curated_summary, curated_items)


def run_ingest(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    raw_zone: str,
    curated_summary: str,
    curated_items: str,
    backend: OcrBackend,
    available_now: bool = True,
) -> StreamingQuery:
    """Drain the landing dir through the pipeline and return the query.
    availableNow=True processes the backlog and returns the terminated
    query (test/replay mode); False returns the running query, which
    keeps curating with default micro-batch triggers until the caller
    stops it or awaits its termination. The watcher is Spark's
    binaryFile file source (``read_image_stream``)."""
    stream = read_image_stream(spark, landing_dir)

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        process_receipt_batch(batch, raw_zone, curated_summary, curated_items, backend)

    writer = stream.writeStream.foreachBatch(handle).option("checkpointLocation", checkpoint_dir)
    if not available_now:
        return writer.start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
