"""Event-stream queries (SURVEY.md §2.12 Q-F3, Q-T1..Q-T3).

Batch-mode equivalents of the streaming operators (§2.9): tumbling
windows, keyed dedup, sessionization. The same transforms are reused by
``streaming/`` over ``readStream`` inputs — in Spark the batch and
streaming plans share the DataFrame expressions, so proving them here
against the oracle also pins the streaming semantics.

Time arithmetic is done in exact epoch microseconds (unix_micros /
epoch_us) on both engines — no float seconds, no truncation ambiguity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from receiptanalyzerpipeline_spark.catalog import table
from receiptanalyzerpipeline_spark.plans.registry import register

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, in microseconds


@register(
    "q_f3_json_map",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
               MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
               MAX(CAST(props->>'k' AS BIGINT)) AS max_k
        FROM events
        GROUP BY event_type
    """,
    doc=(
        "JSON property extraction + aggregation — the other_data JSON column pattern "
        "(models.py:17, SURVEY F7/F12/Q-F3)."
    ),
    tags=("json", "agg"),
    order=("event_type",),
)
def q_f3(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "q_t1_tumbling_window",
    oracle="""
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    doc=(
        "1-hour tumbling event-time window, batch-equivalent of "
        "window(ts, '1 hour') (SURVEY T6/Q-T1)."
    ),
    tags=("window-time", "agg", "streaming-equivalent"),
    bench=True,
    order=("window_start", "event_type"),
)
def q_t1(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour")
    return (
        e.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "q_t5_sliding_window",
    oracle="""
        WITH assigned AS (
            SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS window_start,
                   event_type, value
            FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE,
                   event_type, value
            FROM events
        )
        SELECT window_start,
               window_start + INTERVAL 1 HOUR AS window_end,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM assigned
        GROUP BY 1, 2, 3
    """,
    doc=(
        "Sliding event-time window (1 h window, 30 min slide): each event in "
        "two overlapping windows — window(ts, '1 hour', '30 minutes') "
        "(SURVEY T6). Oracle assigns the two bucket starts explicitly."
    ),
    tags=("window-time", "agg", "streaming-equivalent"),
    order=("window_start", "event_type"),
)
def q_t5(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour", "30 minutes")
    return (
        e.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "q_t2_dedup",
    oracle="""
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        FROM (
            SELECT event_id, ts, user_id, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
            FROM events
        ) t
        WHERE rn = 1
    """,
    doc=(
        "Keyed dedup with a deterministic survivor (first by ts) — the engine form of "
        "dropDuplicates / rename-to-hash collision (anarcptlib.py:155-159, SURVEY T7/Q-T2)."
    ),
    tags=("dedup", "streaming-equivalent"),
    order=("event_id",),
)
def q_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_id").orderBy("ts", "user_id")
    return (
        e.select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q_t4_session_window",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                        WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= {SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
    """,
    doc=(
        "Native session windows: session_window(ts, '30 minutes') — Spark's "
        "built-in stateful sessionization operator, identical in batch and "
        "Structured Streaming (SURVEY T6). Window end = last event + gap. "
        "Testdata has no exact-30min gaps, so the >=-gap oracle is exact."
    ),
    tags=("window-time", "sessionization", "streaming-equivalent"),
    order=("user_id", "session_start"),
)
def q_t4(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "q_t3_sessionization",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                            OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            > {SESSION_GAP_US}
                        THEN 1
                        WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            IS NULL
                        THEN 1
                        ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts, event_id,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end
        FROM sessions
        GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min gaps) via lag + cumulative sum (SURVEY Q-T3).",
    tags=("window", "sessionization", "streaming-equivalent"),
    bench=True,
    order=("user_id", "session_id"),
)
def q_t3(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Exact epoch micros from the NTZ wall-clock — zone-independent, unlike
    # unix_micros() which would interpret via the session timezone.
    micros = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    prev = F.lag(micros).over(w)
    new_session = F.when(prev.isNull() | ((micros - prev) > SESSION_GAP_US), 1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        e.select("user_id", "ts", "event_id")
        .withColumn("session_id", F.sum(new_session).over(cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


_EPOCH_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
_WEEK_US = 7 * 24 * 3600 * 1_000_000


@register(
    "q_t6_funnel",
    oracle="""
        WITH u AS (SELECT DISTINCT user_id FROM events),
        v AS (
            SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS view_ts
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS click_ts
            FROM events e JOIN v ON e.user_id = v.user_id
                          AND CAST(e.ts AS TIMESTAMP) > v.view_ts
            WHERE e.event_type = 'click' GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
            FROM events e JOIN c ON e.user_id = c.user_id
                          AND CAST(e.ts AS TIMESTAMP) > c.click_ts
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts,
               CAST(CASE WHEN p.purchase_ts IS NOT NULL THEN 3
                         WHEN c.click_ts IS NOT NULL THEN 2
                         WHEN v.view_ts IS NOT NULL THEN 1
                         ELSE 0 END AS BIGINT) AS stage
        FROM u LEFT JOIN v USING (user_id)
               LEFT JOIN c USING (user_id)
               LEFT JOIN p USING (user_id)
    """,
    doc=(
        "Ordered conversion funnel (view → later click → later purchase "
        "per user): three min-timestamp aggregates chained by strictly-"
        "later joins, all keyed on user_id — one shuffle partitioning "
        "reused across every stage (Exchange reuse), no window scan of "
        "the full event stream. The per-user funnel stage is the "
        "product-analytics primitive event warehouses run daily at "
        "100 TB; DuckDB replays the same CTE chain."
    ),
    tags=("events", "funnel", "join", "agg"),
    order=("user_id",),
)
def q_t6(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    u = e.select("user_id").distinct()
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    stage = (
        F.when(F.col("purchase_ts").isNotNull(), 3)
        .when(F.col("click_ts").isNotNull(), 2)
        .when(F.col("view_ts").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
    )
    return (
        u.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "view_ts", "click_ts", "purchase_ts", stage.alias("stage"))
    )


@register(
    "q_t7_cohort_retention",
    oracle=f"""
        WITH f AS (
            SELECT user_id,
                   date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cohort_week
            FROM events GROUP BY user_id
        ),
        a AS (
            SELECT DISTINCT user_id,
                   date_trunc('week', CAST(ts AS TIMESTAMP)) AS active_week
            FROM events
        )
        SELECT f.cohort_week,
               CAST((epoch_us(a.active_week) - epoch_us(f.cohort_week))
                    // {_WEEK_US} AS BIGINT) AS week_offset,
               COUNT(*) AS n_users
        FROM a JOIN f USING (user_id)
        GROUP BY 1, 2
    """,
    doc=(
        "Weekly cohort retention triangle: cohort = ISO week of each "
        "user's first event, counts of users active at each week offset. "
        "Two aggregates on user_id (first-event, distinct active weeks — "
        "same shuffle key, exchange reused) + one tiny rollup. Week "
        "offsets are exact integer math on Monday-aligned epoch micros — "
        "both engines truncate weeks to Monday, so the division is exact "
        "and engine-portable."
    ),
    tags=("events", "cohort", "agg", "window"),
    order=("cohort_week", "week_offset"),
)
def q_t7(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    cw = F.date_trunc("week", F.col("ts"))
    f = e.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    a = e.select("user_id", cw.alias("active_week")).distinct()
    aw_us = F.expr(_EPOCH_US.format(c="active_week"))
    cw_us = F.expr(_EPOCH_US.format(c="cohort_week"))
    return (
        a.join(f, "user_id")
        .select(
            "cohort_week",
            ((aw_us - cw_us) / F.lit(_WEEK_US)).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "q_w4_scd2_intervals",
    oracle="""
        SELECT event_id, user_id, event_type,
               CAST(ts AS TIMESTAMP) AS valid_from,
               LEAD(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to,
               (LEAD(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) IS NULL) AS is_current
        FROM events
    """,
    doc=(
        "SCD-type-2 dimension build: each per-user change event becomes a "
        "[valid_from, valid_to) validity interval via lead() with an "
        "event_id tiebreaker; the open interval is flagged is_current. "
        "One shuffle on user_id + in-partition sort — the standard way a "
        "warehouse derives slowly-changing dimensions from a 100 TB "
        "change stream (its type-1 counterpart, replace by key, is the "
        "snapshot MERGE sources/snapshots.merge_upsert)."
    ),
    tags=("events", "window", "dimension"),
    order=("user_id", "valid_from", "event_id"),
)
def q_w4(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
    )
