"""receiptanalyzerpipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of ``nicksspirit/ReceiptAnalyzerPipeline`` (the ``anarcpt``
receipt ETL pipeline), extended with the LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) needed at
100 TB scale.

Layout:
    session     SparkSession factory (AQE, Arrow, UTC — scale-posture defaults)
    catalog     loaders for the synthetic star schema + events/documents/embeddings
    plans       declared query inventory (SURVEY.md §2.12) as a typed registry
    functions   scalar column expressions (money, dates, text, hashing)
    operators   dedup / similarity / text-analysis operators
    sources     binaryFile + Textract-JSON ingestion
    multimodal  image hash & decode UDF plumbing
    streaming   structured-streaming ingest with idempotent merge
"""

from receiptanalyzerpipeline_spark._worker import skip_zip_rereads_in_worker

__version__ = "0.1.0"

skip_zip_rereads_in_worker()
