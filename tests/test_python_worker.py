"""The engine's Python UDF boundary: importing the package inside a Spark
Python worker stops the per-task re-read of the zip archives on the
worker's path (``receiptanalyzerpipeline_spark._worker``), and leaves the
driver's import machinery alone."""

from __future__ import annotations

import zipimport

import pandas as pd
from pyspark.sql import functions as F


def test_worker_invalidate_caches_skips_zip_rereads(spark):
    @F.pandas_udf("double")
    def invalidate_ms(x: pd.Series) -> pd.Series:
        import importlib
        import time

        import receiptanalyzerpipeline_spark  # noqa: F401

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        return pd.Series([(time.perf_counter() - t0) * 1e3] * len(x))

    rows = spark.range(0, 4, 1, 4).select(invalidate_ms("id").alias("ms")).collect()
    ms = [r["ms"] for r in rows]
    assert len(ms) == 4 and max(ms) < 20, ms


def test_driver_keeps_stock_zipimport():
    import receiptanalyzerpipeline_spark  # noqa: F401

    method = zipimport.zipimporter.invalidate_caches
    assert (method.__module__, method.__qualname__) == (
        "zipimport",
        "zipimporter.invalidate_caches",
    )
