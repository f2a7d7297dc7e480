"""Real Structured Streaming event-time test (SURVEY T6): watermarked
tumbling-window aggregation over a file stream, checked for batch-streaming
equivalence — the same transform, run as a stream in 3 micro-batches, must
converge to the batch answer."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def test_watermarked_window_agg_matches_batch(spark, sf_dir, tmp_path: Path):
    from receiptanalyzerpipeline_spark.catalog import table

    events = (
        table(spark, sf_dir, "events")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
        .orderBy("ts")
        .limit(600)
    )
    rows = events.collect()

    # Split into 3 chronological chunks → 3 micro-batches on replay.
    landing = tmp_path / "landing"
    landing.mkdir()
    chunk = len(rows) // 3
    for i in range(3):
        part = rows[i * chunk : (i + 1) * chunk if i < 2 else len(rows)]
        with open(landing / f"chunk_{i}.json", "w") as f:
            for r in part:
                f.write(
                    json.dumps(
                        {
                            "event_id": r["event_id"],
                            "ts": r["ts"].isoformat(sep=" "),
                            "event_type": r["event_type"],
                            "value": r["value"],
                        }
                    )
                    + "\n"
                )

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .json(str(landing))
    )
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )

    state: dict[tuple, tuple] = {}

    def upsert(batch, batch_id):
        for r in batch.collect():
            state[(r["w"]["start"], r["event_type"])] = (r["n"], r["sum_value"])

    q = (
        windowed.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_truth = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }

    assert set(state) == set(batch_truth)
    for k, (n, sv) in batch_truth.items():
        assert state[k][0] == n
        assert abs(state[k][1] - sv) < 1e-6


def test_streaming_hll_sketch_aggregation_matches_batch(spark, tmp_path: Path):
    """Mergeable-sketch streaming OLAP: per-key approx distinct via
    DataSketches HLL aggregated ACROSS micro-batches (update mode).
    The sketch state is mergeable, so incremental delivery must land on
    exactly the batch sketch's estimate — the streaming face of q_a5's
    hll part (A4/T6, the 100 TB answer to streaming COUNT DISTINCT)."""
    import json as _json

    from pyspark.sql import functions as F

    rows = [(i % 7, f"user_{i % 23}") for i in range(400)]
    landing = tmp_path / "in"
    landing.mkdir()
    chunk = len(rows) // 3
    for b in range(3):
        part = rows[b * chunk : (b + 1) * chunk if b < 2 else len(rows)]
        with open(landing / f"b{b}.json", "w") as f:
            for k, u in part:
                f.write(_json.dumps({"k": k, "u": u}) + "\n")
        os.utime(landing / f"b{b}.json", (1_700_000_000 + b,) * 2)

    stream = spark.readStream.schema("k long, u string").option(
        "maxFilesPerTrigger", 1
    ).json(str(landing))
    agg = stream.groupBy("k").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("est")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    streamed = {
        r["k"]: r["est"] for r in spark.sql("SELECT * FROM hll_stream").collect()
    }

    batch_df = spark.createDataFrame(rows, "k long, u string")
    batch = {
        r["k"]: r["est"]
        for r in batch_df.groupBy("k")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("est"))
        .collect()
    }
    exact = {
        r["k"]: r["n"]
        for r in batch_df.groupBy("k")
        .agg(F.countDistinct("u").alias("n"))
        .collect()
    }
    assert streamed == batch  # mergeable state: incremental == one-shot
    for k, est in streamed.items():
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k])


@pytest.mark.slow
def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps
    dedup state only within the watermark horizon (state size ∝ window,
    not stream length — the 100 TB-viable form of q_t2's keyed dedup).
    A duplicate arriving in a later micro-batch within the horizon must
    be suppressed."""
    landing = tmp_path / "landing"
    landing.mkdir()
    schema = StructType(
        [StructField("event_id", LongType()), StructField("ts", TimestampType())]
    )
    with open(landing / "b1.json", "w") as f:
        f.write(json.dumps({"event_id": 1, "ts": "2024-01-01T10:00:00"}) + "\n")
        f.write(json.dumps({"event_id": 2, "ts": "2024-01-01T10:00:30"}) + "\n")
    with open(landing / "b2.json", "w") as f:
        # event_id=1 again (well within the 1h horizon) + a fresh event.
        f.write(json.dumps({"event_id": 1, "ts": "2024-01-01T10:05:00"}) + "\n")
        f.write(json.dumps({"event_id": 3, "ts": "2024-01-01T10:06:00"}) + "\n")

    deduped = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dd_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dd_wm").collect())
    assert got == [1, 2, 3], got
