"""Temporal-join queries (as-of + bounded range join) over ``events``.

North-star extensions (SURVEY §2.11): purchase attribution is the
canonical as-of workload — "which purchase most recently preceded this
view?" — and pre-purchase activity windows are the canonical bounded
range join. Both Spark plans are equi-shuffle re-expressions
(operators/temporal.py); the oracles use DuckDB's native ASOF JOIN and a
plain range theta-join, so the gate proves the scalable plan computes
exactly the textbook semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.catalog import table
from receiptanalyzerpipeline_spark.operators.temporal import asof_join, time_range_join
from receiptanalyzerpipeline_spark.plans.registry import register


def _views(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").alias("vts"), "value"
    )


def _purchases_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases deduped to one row per (user_id, ts) — max event_id wins —
    so the as-of match is deterministic when timestamps collide."""
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("pts"))
        .agg(F.max("event_id").alias("purchase_id"))
    )


@register(
    "q_as1_asof_attribution",
    oracle="""
        WITH p AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(event_id) AS purchase_id
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        ),
        v AS (
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS vts
            FROM events WHERE event_type = 'view'
        )
        SELECT v.event_id, v.user_id, v.vts,
               p.purchase_id AS last_purchase_id,
               date_diff('microsecond', p.pts, v.vts) AS micros_since_purchase
        FROM v ASOF LEFT JOIN p
          ON v.user_id = p.user_id AND v.vts >= p.pts
    """,
    doc=(
        "As-of join (backward, inclusive): each view attributed to the "
        "user's most recent prior purchase. Spark plan is union-then-window "
        "(one shuffle, O(1) state); oracle is DuckDB's native ASOF JOIN."
    ),
    tags=("temporal", "asof-join", "north-star"),
)
def q_as1(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _views(spark, sf_dir).drop("value")
    p = _purchases_unique(spark, sf_dir)
    j = asof_join(v, p, on=["user_id"], left_ts="vts", right_ts="pts", suffix="")
    return j.select(
        "event_id",
        "user_id",
        "vts",
        F.col("purchase_id").alias("last_purchase_id"),
        F.expr("timestampdiff(MICROSECOND, pts, vts)").alias("micros_since_purchase"),
    )


@register(
    "q_as2_prepurchase_window",
    oracle="""
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
            FROM events WHERE event_type = 'purchase'
        ),
        v AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS vts, value
            FROM events WHERE event_type = 'view'
        )
        SELECT p.purchase_id, p.user_id, p.pts,
               COUNT(v.vts) AS n_views_1h,
               CAST(COALESCE(SUM(CAST(v.value AS DECIMAL(18,6))), 0)
                    AS DOUBLE) AS sum_view_value
        FROM p LEFT JOIN v
          ON v.user_id = p.user_id
         AND v.vts <= p.pts
         AND v.vts >= p.pts - INTERVAL 1 HOUR
        GROUP BY 1, 2, 3
    """,
    doc=(
        "Bounded time-range join: views in the hour before each purchase, "
        "aggregated per purchase. Spark plan buckets event time at the "
        "window width and equi-joins on (user, bucket) — a shuffled hash "
        "join, not the BroadcastNestedLoop a theta-join would produce."
    ),
    tags=("temporal", "range-join", "north-star"),
    bench=True,
    order=("purchase_id",),
)
def q_as2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    v = _views(spark, sf_dir).drop("event_id")
    j = time_range_join(
        p, v, on=["user_id"], left_ts="pts", right_ts="vts", window_seconds=3600, how="left"
    )
    return (
        j.groupBy("purchase_id", "user_id", "pts")
        .agg(
            F.count("vts").alias("n_views_1h"),
            F.coalesce(
                F.sum(F.col("value").cast("decimal(18,6)")), F.lit(0).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("sum_view_value"),
        )
    )


@register(
    "q_as3_asof_tolerance",
    oracle="""
        WITH p AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(event_id) AS purchase_id
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        ),
        v AS (
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS vts
            FROM events WHERE event_type = 'view'
        ),
        m AS (
            SELECT v.event_id, v.user_id, v.vts, p.purchase_id, p.pts
            FROM v ASOF LEFT JOIN p
              ON v.user_id = p.user_id AND v.vts >= p.pts
        )
        SELECT event_id, user_id, vts,
               CASE WHEN date_diff('microsecond', pts, vts) <= 1800000000
                    THEN purchase_id END AS recent_purchase_id
        FROM m
    """,
    doc=(
        "As-of join with tolerance (pandas merge_asof semantics): matches "
        "older than 30 min are nulled. Exercises the tolerance gate of "
        "operators.temporal.asof_join."
    ),
    tags=("temporal", "asof-join"),
)
def q_as3(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _views(spark, sf_dir).drop("value")
    p = _purchases_unique(spark, sf_dir)
    j = asof_join(
        v, p, on=["user_id"], left_ts="vts", right_ts="pts",
        tolerance_seconds=1800, suffix="",
    )
    return j.select(
        "event_id", "user_id", "vts",
        F.col("purchase_id").alias("recent_purchase_id"),
    )
