"""SparkSession factory with the engine's scale-posture defaults.

Defaults are chosen for correctness-determinism on local[*] while staying
valid on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion) — the primary scale lever.
- Arrow on — every Python boundary (pandas_udf / applyInPandas /
  toPandas) is batch-columnar, never row-at-a-time pickling.
- Session timezone pinned to UTC — oracle comparisons and event-time
  windows are zone-stable.
- Shuffle partitions default to the core count locally; on a real
  cluster this is overridden (or left to AQE coalescing from a high
  initial value).
- Parallel file listing only above 1024 root paths. The file stream
  source hands each micro-batch's files to the reader as separate root
  paths; above Spark's default threshold (32) each batch would start a
  listing job with one task per file, which in local mode runs on the
  driver's own cores and can only add overhead. Table reads pass one
  directory path and are unaffected.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "receiptanalyzerpipeline-spark"


def default_parallelism() -> int:
    """Driver-provided CPU budget (SPARK_GRAFT_CPUS), else host CPUs."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` respects an externally-configured cluster master and
    falls back to ``local[<cpus>]`` for standalone use.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf: dict[str, str] = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Arrow collect batch size: r10 raised this 10k -> 256k claiming
        # fewer slices cut q_er2's 5.5 M-row warm collect 10-20%, but the
        # driver's r10 bench moved the OTHER way (0.60 -> 0.69 s) and the
        # r11 A/B (scripts/er2_arrow_ab.py: 12 order-rotated rounds on
        # the prepared q_er2 collect) confirms the driver: best-of-reps
        # 0.64 s @10k vs 0.77 @64k vs 0.87 @256k, medians within noise.
        # Small batches pipeline the executor->driver transfer; big ones
        # make it bursty. Reverted to the Spark default (10k), stated
        # explicitly so the next tuning round finds the A/B history.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Nested-schema pruning: the Textract document scans (sources/textract.py)
        # must read only the struct leaves a query touches.
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
        # Keep parquet scans pruned + pushed down (explicitly pinned so a
        # misconfigured environment can't silently disable them).
        "spark.sql.parquet.filterPushdown": "true",
        # Runtime row-level filtering: when one side of a shuffle join is
        # selective, inject a bloom filter of its join keys into the other
        # side's scan (might_contain above the parquet reader). At 100 TB
        # this turns "shuffle the whole fact table" into "shuffle the rows
        # that can possibly match" for the cost of one small agg. The
        # default size thresholds (creation side <= 10 MB after filtering,
        # application scan >= 10 GB) are cluster-appropriate and left
        # alone; tests/test_plan_shapes.py lowers them to prove injection.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # Above this many root paths a listing becomes a Spark job with
        # one task per path, and the file stream source passes each
        # micro-batch file as a root path. A `watch` batch is capped at
        # 1024 files (streaming.ingest.MAX_FILES_PER_TRIGGER), so it is
        # listed on the driver (at Spark's 32, two listing jobs were 100
        # of a 50-file batch's 150 tasks). A cluster submitter overrides
        # this like the defaults below.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
        # Local-mode memory hygiene; harmless on a cluster where the
        # submitter overrides these.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    prepare_session(spark)
    return spark


def prepare_session(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable session invariants the engine relies on.

    Called by ``get_spark`` and safe (idempotent) on any externally-built
    session — e.g. the driver's vanilla SparkSession.

    - ``spark.sql.legacy.parquet.nanosAsLong=true``: the ``events`` table is
      parquet TIMESTAMP(NANOS), which Spark 4 otherwise refuses to scan at
      all. With the flag, nanos arrive as raw INT64 and ``catalog.table``
      rebuilds an exact NTZ microsecond timestamp. The flag must live for
      the whole session: scans *execute* under it, so save-set-restore
      breaks any already-built events plan (verified). Session-wide effect
      on other datasets: parquet nano columns read as bigint instead of
      erroring — no silent value change for non-nano data.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
