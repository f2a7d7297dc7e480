"""Streaming receipt ingest: the reference's two-stage watcher topology
(anarcpt/main.py:108-132, watcher.py) as ONE structured stream.

Reference → engine mapping (SURVEY §3.2, §2.9):

    watchdog observers on dirs      → readStream.format("binaryFile")
    openability/size-stability poll → atomic write-then-rename ingestion
                                       contract (file source lists
                                       complete files only)          (T2)
    hash → rename → move            → ahash column; no rename — the
                                       hash IS a column              (K6)
    bounded queue + sentinel flush  → micro-batches of at most
                                       MAX_FILES_PER_TRIGGER files (T3/T4)
    per-event try/except            → OCR error column + quarantine  (T5)
    at-most-once lossy queue        → checkpointed exactly-once
                                       foreachBatch + idempotent merge:
                                       probe the keys already held for
                                       the batch's hashes, append the
                                       rest                          (T7)

The binaryFile file source is the only watcher: ``anarcpt-spark watch``
and ``run_ingest`` both read the landing directory through
``read_image_stream``.

The batch transforms are the SAME DataFrame functions proven against the
DuckDB oracle (flatten/pivot) — Spark's batch/streaming unification means
the streaming path inherits their correctness.

Each micro-batch is hashed, OCR'd and parsed once (multimodal.ocr
``hashed_images`` and ``ocr_documents``): the hashed images and the parsed
documents are persisted for the probes, the OCR write and the two curated
merges, then released at the end of the batch, so a long-running stream
does not accumulate cached batches. The batch's distinct hashes are
collected once, and every table is read only through a filter on them (a
key probe), never joined against whole: a warm batch runs 11 Spark jobs
whatever the size of the history. Every parquet read declares its schema,
so no read launches a schema-inference job.
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
    hashed_images,
    held_keys,
    in_keys,
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


# Files per micro-batch. It bounds the hashes a batch collects to the
# driver, and keeps each batch's file list (one root path per file) under
# session.py's parallel-listing threshold, so the driver lists it. Under
# availableNow a larger backlog drains in several batches.
MAX_FILES_PER_TRIGGER = 1024


def read_image_stream(
    spark: SparkSession, landing_dir: str, glob: str = "*.{png,jpg,jpeg}"
) -> DataFrame:
    """File-source stream over the landing directory (S3/local alike), at
    most ``MAX_FILES_PER_TRIGGER`` files per micro-batch."""
    return (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
        .load(landing_dir)
    )


def curated_keys(
    spark: SparkSession, curated_summary: str, curated_items: str, hashes: list[str]
) -> tuple[set[str], set[str]]:
    """The summary and item keys both curated tables already hold for a
    batch's hashes (``img_id`` is the hash), each collected by one
    filtered scan. A table that exists but cannot be read raises."""
    return (
        held_keys(spark, curated_summary, "img_id", hashes, "img_id"),
        held_keys(spark, curated_items, "item_key", hashes, "img_id"),
    )


def _append_new(batch: DataFrame, key: str, held: set[str], target_path: str) -> None:
    """Idempotent merge: append the batch's rows whose key is not in
    ``held``, the keys ``curated_keys`` found in the target for this batch.

    Parquet stand-in for MERGE INTO (no Delta in this environment): the
    filter on the natural key makes replays no-ops, which together with
    the checkpoint gives exactly-once *effects* (SURVEY §7.3.6). A filter
    keeps the batch's column order, so every file of a table has one
    schema; rows with a null key are kept, as an anti-join keeps them."""
    fresh = batch.where(F.expr(f"NOT coalesce({in_keys(key, held)}, false)")) if held else batch
    fresh.write.mode("append").parquet(target_path)


def merge_curated(
    summary: DataFrame,
    items: DataFrame,
    held: tuple[set[str], set[str]],
    curated_summary: str,
    curated_items: str,
) -> None:
    """Idempotently append one parsed batch to both curated tables (flat
    parquet, keyed on ``img_id`` and ``item_key`` = ``img_id#line_no``),
    skipping the keys in ``held`` (``curated_keys``). ``watch`` and
    ``analyze --write`` both write through here, so the two verbs share
    one layout and a re-run appends nothing."""
    _append_new(summary, "img_id", held[0], curated_summary)
    _append_new(
        items.withColumn("item_key", F.concat_ws("#", "img_id", "line_no")),
        "item_key",
        held[1],
        curated_items,
    )


def process_receipt_batch(
    images: DataFrame,
    raw_zone: str,
    curated_summary: str,
    curated_items: str,
    backend: OcrBackend,
) -> None:
    """One micro-batch: hash → memoized OCR → flatten/pivot → merge, with
    the hash and the parse computed once and shared by both sinks.

    Every table is probed with the batch's hashes before anything is
    written, so an unreadable raw zone or curated table fails the batch
    before it pays for an OCR call or appends a row."""
    with hashed_images(images) as (hashed, hashes):
        if not hashes:
            return
        held = curated_keys(images.sparkSession, curated_summary, curated_items, hashes)
        with ocr_documents(hashed, hashes, raw_zone, backend) as docs:
            summary = pivot_receipt_summary(flatten_summary_fields(docs))
            merge_curated(summary, extract_line_items(docs), held, curated_summary, curated_items)


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
        process_receipt_batch(batch, raw_zone, curated_summary, curated_items, backend)

    writer = stream.writeStream.foreachBatch(handle).option("checkpointLocation", checkpoint_dir)
    if not available_now:
        return writer.start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
