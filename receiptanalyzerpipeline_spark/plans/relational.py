"""Relational core queries (SURVEY.md §2.12 Q-P*/Q-A*/Q-J*/Q-W*/Q-S1/Q-U*/Q-F1/Q-F2).

Everything here is pure DataFrame API — no UDFs, no collect — so Catalyst
owns pushdown, pruning, join strategy, and whole-stage codegen. Small
dimensions are broadcast explicitly; fact-fact joins shuffle on their keys
and rely on AQE for coalescing/skew handling at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.catalog import table
from receiptanalyzerpipeline_spark.plans.registry import register


def dec2(c: str | Column) -> Column:
    """Money-safe cast: DECIMAL(18,2) before any aggregation."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


def avg_via_decimal(sum_col: Column, count_col: Column) -> Column:
    """Deterministic average: exact decimal sum → double → one IEEE division."""
    return sum_col.cast("double") / count_col


# ---------------------------------------------------------------------------
# Q-P*: projection / filter / predicate  (reference P1-P9, anarcptlib.py:20-25,49-76)
# ---------------------------------------------------------------------------


@register(
    "q_p1_filter_project",
    oracle="""
        SELECT l_orderkey, l_extendedprice
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-03-01'
          AND l_discount BETWEEN 0.05 AND 0.07
    """,
    doc="Pushed-down filter + pruned projection (SURVEY P1/P2).",
    tags=("filter", "projection"),
    bench=True,
)
def q_p1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-03-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
        )
        .select("l_orderkey", "l_extendedprice")
    )


@register(
    "q_p2_case_cast",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size_class,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec
        FROM orders
    """,
    doc="CASE/WHEN dispatch + decimal money cast (SURVEY P3, F1).",
    tags=("projection", "case"),
    order=("o_orderkey",),
)
def q_p2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 100000, "big").otherwise("small").alias("size_class"),
        dec2("o_totalprice").cast("double").alias("price_dec"),
    )


def _morton_sql(x: str, y: str, bits: int) -> str:
    """DuckDB/Spark-portable bit interleave of two small non-negative ints
    (arithmetic only — FLOOR/div/%, exact for BIGINT inputs), mirroring
    ``sources.sinks.zvalue`` bit-for-bit."""
    terms = []
    for i in range(bits):
        p = 1 << i
        terms.append(f"(CAST(FLOOR(({x}) / {p}) AS BIGINT) % 2) * {1 << (2 * i)}")
        terms.append(f"(CAST(FLOOR(({y}) / {p}) AS BIGINT) % 2) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "q_p5_zorder_cell",
    oracle=f"""
        SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
               CAST(l_linenumber AS BIGINT) AS l_linenumber,
               {_morton_sql("CAST(l_linenumber AS BIGINT)", "CAST(l_quantity AS BIGINT)", 6)} AS z
        FROM lineitem
        WHERE l_orderkey % 10 = 0
    """,
    doc=(
        "Morton (Z-order) cell id over (linenumber, quantity) — the exact "
        "bit-interleave kernel behind zorder_frame and compact_snapshot "
        "cluster_by (SURVEY N7 layout policy), oracle-replayed arithmetically."
    ),
    tags=("projection", "layout"),
    order=("l_orderkey", "l_linenumber"),
)
def q_p5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.sources.sinks import zvalue

    li = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 10 == 0)
    z = zvalue(
        [F.col("l_linenumber").cast("long"), F.col("l_quantity").cast("long")],
        bits=6,
    )
    return li.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        z.alias("z"),
    )


# ---------------------------------------------------------------------------
# Q-A*: aggregation  (reference A1 pivot, A4-A6)
# ---------------------------------------------------------------------------


@register(
    "q_a1_conditional_pivot",
    oracle="""
        SELECT o_custkey,
               CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT'
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent_max,
               CAST(MAX(CASE WHEN o_orderpriority = '2-HIGH'
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS high_max,
               CAST(MAX(CASE WHEN o_orderpriority = '5-LOW'
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS low_max,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
    """,
    doc=(
        "KV-rows→wide-row pivot by conditional aggregation — the Spark form of the "
        "reference's per-receipt collapse (anarcptlib.py:44-78, SURVEY A1)."
    ),
    tags=("agg", "pivot"),
    order=("o_custkey",),
)
def q_a1(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def bucket(priority: str) -> Column:
        return F.max(F.when(F.col("o_orderpriority") == priority, dec2("o_totalprice")))

    return (
        o.groupBy("o_custkey")
        .agg(
            bucket("1-URGENT").cast("double").alias("urgent_max"),
            bucket("2-HIGH").cast("double").alias("high_max"),
            bucket("5-LOW").cast("double").alias("low_max"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "q_a2_count_distinct",
    oracle="""
        SELECT COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_supps,
               COUNT(*) AS n_rows
        FROM lineitem
    """,
    doc="Multi-column distinct aggregation (SURVEY A4).",
    tags=("agg", "distinct"),
)
def q_a2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "q_a3_tpch_q1",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR)
                    AS DOUBLE) AS sum_disc_price,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: partial+final agg over the fact table (SURVEY Q-A3).",
    tags=("agg",),
    bench=True,
    order=("l_returnflag", "l_linestatus"),
)
def q_a3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    sum_qty = F.sum(dec2("l_quantity"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.cast("double").alias("sum_qty"),
            F.sum(dec2("l_extendedprice")).cast("double").alias("sum_base"),
            F.sum(dec2("l_extendedprice") * (F.lit(1) - dec2("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            avg_via_decimal(sum_qty, F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_a5_approx_distinct",
    oracle=None,  # HLL++ sketches differ across engines by design; the
    # tolerance property vs exact counts is pinned in tests/test_relational_extra.py
    doc=(
        "approx_count_distinct (HLL++) — the sketch path for distinct "
        "metrics at 100 TB where exact distinct is a full shuffle "
        "(SURVEY A4). Rows-only driver check; accuracy pinned in tests."
    ),
    tags=("agg", "distinct", "approx"),
)
def q_a5(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )


@register(
    "q_a4_rollup",
    oracle="""
        SELECT r_name, n_name,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM region
        JOIN nation ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP grouping sets over a broadcast dim chain (SURVEY A5).",
    tags=("agg", "rollup", "join"),
    order=("r_name", "n_name"),
)
def q_a4(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = F.broadcast(table(spark, sf_dir, "region"))
    n = F.broadcast(table(spark, sf_dir, "nation"))
    c = table(spark, sf_dir, "customer")
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(dec2("c_acctbal")).cast("double").alias("sum_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Q-J*: joins  (reference J1/J2/J5, models.py:18,30-31)
# ---------------------------------------------------------------------------


@register(
    "q_j1_multijoin_revenue",
    oracle="""
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    doc=(
        "TPC-H Q5 shape: fact-fact shuffle join + broadcast dims; the engine form of "
        "the reference's parent/child FK join (SURVEY J1, Q-J1)."
    ),
    tags=("join", "agg"),
    bench=True,
    order=("n_name",),
)
def q_j1(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        li.join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r.where(F.col("r_name") == "ASIA"), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(dec2("l_extendedprice") * (F.lit(1) - dec2("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q_j2_reconciliation",
    oracle="""
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS header_total,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS line_total,
               (ABS(CAST(o_totalprice AS DECIMAL(18,2))
                    - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4))) > 1.0)
                 AS mismatch
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_orderkey, o_totalprice
    """,
    doc=(
        "Header-vs-Σ(line items) reconciliation — receipt_summary.total vs "
        "receipt_line_item amounts (models.py:7-31 semantics; SURVEY Q-J2)."
    ),
    tags=("join", "agg"),
    bench=True,
    order=("o_orderkey",),
)
def q_j2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    line_total = F.sum(dec2("l_extendedprice") * (F.lit(1) - dec2("l_discount"))).cast(
        "decimal(18,4)"
    )
    # Aggregate-before-join: collapse the fact table to one row per order
    # *before* the join, so the join shuffle moves |orders| rows, not
    # |lineitem| — the plan that survives a 100× scale-up. The lineitem
    # side arrives already hash-partitioned by key from its groupBy, so
    # the join adds no extra exchange for it.
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        line_total.alias("line_total_dec")
    )
    return (
        o.join(per_order, "o_orderkey")
        .select(
            "o_orderkey",
            dec2("o_totalprice").cast("double").alias("header_total"),
            F.col("line_total_dec").cast("double").alias("line_total"),
            # mismatch is decided in exact DECIMAL on both engines; only the
            # reported columns are cast to DOUBLE (pandas-path hash contract).
            (F.abs(dec2("o_totalprice") - F.col("line_total_dec")) > 1.0).alias("mismatch"),
        )
    )


@register(
    "q_j3_anti",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="LEFT ANTI join — the reference's dedup-by-collision as a plan op (SURVEY J2/J5).",
    tags=("join", "anti"),
    order=("c_custkey",),
)
def q_j3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    # merge hint: the probe side is the FACT table — Spark's column-pruned
    # size estimate can fall under autoBroadcastJoinThreshold and build a
    # corpus-proportional broadcast on the driver (1.5 M keys at sf1 blew
    # a loaded 1 GB driver in the sweep). Anti/semi joins against facts
    # shuffle; the repo-wide size-independence rule (see jaccard_pairs).
    o = table(spark, sf_dir, "orders").hint("merge")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@register(
    "q_j4_semi",
    oracle="""
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
    """,
    doc="LEFT SEMI join (SURVEY J5).",
    tags=("join", "semi"),
    order=("s_suppkey",),
)
def q_j4(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    # merge hint: same broadcast-build hazard as q_j3 (lineitem is the
    # biggest fact — 6 M rows at sf1); semi joins shuffle on the key.
    li = table(spark, sf_dir, "lineitem").hint("merge")
    return (
        s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


# ---------------------------------------------------------------------------
# Q-W*: window functions  (SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "q_w1_ranking",
    oracle="""
        SELECT c_mktsegment, c_custkey, c_acctbal, rn, rnk, drnk
        FROM (
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey) AS rn,
                   RANK()       OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC) AS rnk,
                   DENSE_RANK() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC) AS drnk
            FROM customer
        ) t
        WHERE rn <= 3
    """,
    doc="Ranking windows: top-3 per segment; 'latest receipt per vendor' shape (SURVEY §2.5).",
    tags=("window",),
    order=("c_mktsegment", "rn"),
)
def q_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = table(spark, sf_dir, "customer")
    w_unique = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_rank = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w_unique).cast("long").alias("rn"),
            F.rank().over(w_rank).cast("long").alias("rnk"),
            F.dense_rank().over(w_rank).cast("long").alias("drnk"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "q_w2_lag_running",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(LAG(CAST(o_totalprice AS DECIMAL(18,2)))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE)
                   AS prev_price,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS running_total
        FROM orders
    """,
    doc="Analytic lag + running-frame sum per customer (SURVEY Q-W2).",
    tags=("window",),
    bench=True,
    order=("o_orderkey",),
)
def q_w2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag(dec2("o_totalprice")).over(w).cast("double").alias("prev_price"),
        F.sum(dec2("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_total"),
    )


# ---------------------------------------------------------------------------
# Q-S1: top-k  (SURVEY §2.6)
# ---------------------------------------------------------------------------


@register(
    "q_s1_topk",
    oracle="""
        SELECT p.p_partkey, p.p_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_partkey, p.p_name
        ORDER BY revenue DESC, p_partkey
        LIMIT 10
    """,
    doc="Top-k by aggregate (TakeOrderedAndProject; SURVEY Q-S1).",
    tags=("topk", "join", "agg"),
    bench=True,
)
def q_s1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = F.broadcast(table(spark, sf_dir, "part"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(
            F.sum(dec2("l_extendedprice") * (F.lit(1) - dec2("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("p_partkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q-U*: set operations  (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "q_u1_except",
    oracle="""
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        EXCEPT
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
    doc="EXCEPT (distinct) — nations with customers but no suppliers (SURVEY Q-U1).",
    tags=("setop",),
    order=("nationkey",),
)
def q_u1(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    return c.subtract(s)


@register(
    "q_u2_union_intersect",
    oracle="""
        SELECT nationkey, src FROM (
            SELECT CAST(c_nationkey AS BIGINT) AS nationkey, 'both' AS src FROM customer
            INTERSECT
            SELECT CAST(s_nationkey AS BIGINT) AS nationkey, 'both' AS src FROM supplier
            UNION
            SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey, 'customer' AS src
            FROM customer
        ) t
    """,
    doc="UNION distinct + INTERSECT — the multi-source ingest union (SURVEY §2.7/S1/S2/S4).",
    tags=("setop",),
    order=("nationkey", "src"),
)
def q_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey"), F.lit("both").alias("src")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey"), F.lit("both").alias("src")
    )
    cust = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").cast("long").alias("nationkey"), F.lit("customer").alias("src"))
        .distinct()
    )
    return c.intersect(s).unionByName(cust).distinct()


@register(
    "q_u3_sql_write_lifecycle",
    oracle="""
        WITH v0 AS (
            SELECT CAST(c_custkey AS BIGINT) AS k, CAST(c_nationkey AS BIGINT) AS v
            FROM customer WHERE c_custkey <= 100
        ),
        ins AS (
            SELECT CAST(c_custkey AS BIGINT) AS k, CAST(c_nationkey AS BIGINT) AS v
            FROM customer WHERE c_custkey > 100 AND c_custkey <= 120
        ),
        v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM ins),
        msrc AS (
            SELECT CAST(c_custkey AS BIGINT) AS k, CAST(-1 AS BIGINT) AS v
            FROM customer
            WHERE c_custkey <= 10 OR (c_custkey > 115 AND c_custkey <= 125)
        ),
        v2 AS (
            SELECT v1.k, COALESCE(m.v, v1.v) AS v
            FROM v1 LEFT JOIN msrc m ON v1.k = m.k
            UNION ALL
            SELECT m.k, m.v FROM msrc m
            WHERE NOT EXISTS (SELECT 1 FROM v1 WHERE v1.k = m.k)
        ),
        v3 AS (SELECT * FROM v2 WHERE NOT (k > 118))
        SELECT cur.k AS k,
               'now=' || CAST(cur.v AS VARCHAR) || '|v1='
                      || CAST(COALESCE(o.v, -999) AS VARCHAR) AS state
        FROM v3 cur LEFT JOIN v1 o ON cur.k = o.k
    """,
    doc=(
        "SQL front door WRITE lifecycle (VERDICT r6 task 8): CREATE TABLE "
        "AS SELECT → INSERT INTO → MERGE INTO (SCD1) → DELETE FROM → "
        "time-travel SELECT ... FOR VERSION AS OF, all through "
        "sqlfront.EngineSession.sql() against a real snapshot table. The "
        "ORACLE replays each version as a CTE (v1 = post-insert, v2 = "
        "SCD1 merge as left-join-override + not-exists-insert, v3 = "
        "post-delete), so the driver hash proves the write verbs AND the "
        "AS-OF read produce exactly the relational-algebra semantics "
        "they claim. The snapshot table is temp-dir scoped per call; the "
        "small final result is pinned before cleanup."
    ),
    tags=("sql", "snapshot", "write", "timetravel"),
    order=("k",),
)
def q_u3(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from receiptanalyzerpipeline_spark.sqlfront import EngineSession

    root = tempfile.mkdtemp(prefix="rap-u3-")
    try:
        eng = EngineSession(spark, sf_dir=sf_dir, table_root=root)
        eng.sql(
            "CREATE TABLE lc_u3 AS SELECT CAST(c_custkey AS BIGINT) AS k, "
            "CAST(c_nationkey AS BIGINT) AS v FROM customer WHERE c_custkey <= 100"
        )
        eng.sql(
            "INSERT INTO lc_u3 SELECT CAST(c_custkey AS BIGINT) AS k, "
            "CAST(c_nationkey AS BIGINT) AS v FROM customer "
            "WHERE c_custkey > 100 AND c_custkey <= 120"
        )
        eng.sql(
            "MERGE INTO lc_u3 USING (SELECT CAST(c_custkey AS BIGINT) AS k, "
            "CAST(-1 AS BIGINT) AS v FROM customer "
            "WHERE c_custkey <= 10 OR (c_custkey > 115 AND c_custkey <= 125)) ON (k)"
        )
        eng.sql("DELETE FROM lc_u3 WHERE k > 118")
        out = eng.sql(
            "SELECT cur.k AS k, "
            "concat('now=', CAST(cur.v AS STRING), '|v1=', "
            "CAST(coalesce(o.v, -999) AS STRING)) AS state "
            "FROM lc_u3 cur LEFT JOIN lc_u3 FOR VERSION AS OF 1 o ON cur.k = o.k"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Q-F1/Q-F2: scalar string / date functions  (reference F1-F6)
# ---------------------------------------------------------------------------


@register(
    "q_f1_string_ops",
    oracle="""
        SELECT p_partkey,
               split_part(p_name, ' ', 1) AS name_head,
               regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
               regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_masked,
               upper(p_name) AS name_upper,
               length(p_name) AS name_len
        FROM part
    """,
    doc=(
        "Regex extract/replace + split/trim/case — the engine forms of the money/tag "
        "parsers (anarcptlib.py:26,35-41,89; SURVEY F1/F2/F4)."
    ),
    tags=("string",),
)
def q_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.split(F.col("p_name"), " ").getItem(0).alias("name_head"),
        F.regexp_extract(F.col("p_brand"), "([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace(F.col("p_type"), "[AEIOU]", "_").alias("type_masked"),
        F.upper(F.col("p_name")).alias("name_upper"),
        F.length(F.col("p_name")).cast("long").alias("name_len"),
    )


@register(
    "q_f2_date_ops",
    oracle="""
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
               CAST(year(o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_total
        FROM orders
        GROUP BY 1, 2
    """,
    doc="date_trunc/year + monthly totals — receipt_date time-series semantics (SURVEY F3/Q-F2).",
    tags=("date", "agg"),
    order=("order_month",),
)
def q_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            # trunc() yields DateType — zone-independent, unlike date_trunc()
            # which promotes NTZ inputs to session-zone timestamps. The final
            # NTZ cast re-widens date → midnight timestamp (still zone-free)
            # because DATE surfaces as `datetime.date` on the Spark pandas
            # path but `datetime64` on DuckDB's — a guaranteed hash mismatch.
            F.trunc(F.col("o_orderdate"), "month").cast("timestamp_ntz").alias("order_month"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(dec2("o_totalprice")).cast("double").alias("month_total"),
        )
    )


@register(
    "q_p4_unpivot",
    oracle="""
        WITH m AS (
            SELECT 'l_quantity' AS measure, l_quantity AS v FROM lineitem
            UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
            UNION ALL SELECT 'l_discount', l_discount FROM lineitem
            UNION ALL SELECT 'l_tax', l_tax FROM lineitem
        )
        SELECT measure, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total,
               MIN(v) AS vmin, MAX(v) AS vmax
        FROM m GROUP BY measure
    """,
    doc=(
        "UNPIVOT/melt: lineitem's four numeric measures into long form, "
        "then per-measure profile stats (the wide→long reshape every "
        "profiling/quality pass needs). Sums go through DECIMAL so the "
        "result is partition-order-independent; min/max of doubles are "
        "order-free already. Spark's unpivot is an Expand node — "
        "map-side, no join, one agg shuffle on the 4-row measure key."
    ),
    tags=("reshape", "unpivot", "agg"),
    order=("measure",),
)
def q_p4(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="v",
    )
    return (
        melted.groupBy("measure")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("total"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
    )


@register(
    "q_w3_range_frame",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                   PARTITION BY o_custkey
                   ORDER BY date_diff('second', TIMESTAMP '1990-01-01 00:00:00',
                                      o_orderdate)
                   RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS trail7d_total
        FROM orders
    """,
    doc=(
        "Trailing 7-day revenue per customer via a RANGE window frame — "
        "the value-based frame (peers included, frame bounds from the "
        "ORDER BY value, not row offsets) that rows-frames can't express. "
        "The ordering key is seconds from a fixed NTZ epoch via "
        "timestampdiff, so it is session-zone-free in both engines; sums "
        "aggregate in DECIMAL (order-independent) with a DOUBLE final "
        "cast. One shuffle on o_custkey."
    ),
    tags=("window", "range-frame", "time"),
    order=("o_orderkey",),
)
def q_w3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    epoch_s = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1990-01-01 00:00:00', o_orderdate)"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_s)
        .rangeBetween(-604800, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
        F.sum(dec2("o_totalprice")).over(w).cast("double").alias("trail7d_total"),
    )


@register(
    "q_q1_quality_audit",
    oracle="""
        WITH single_pass AS (
            SELECT
                CAST(SUM(CASE WHEN l_shipdate IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS v_completeness,
                CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
                     AS BIGINT) AS v_uniqueness,
                CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                              THEN 1 ELSE 0 END) AS BIGINT) AS v_qty_range,
                CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                              THEN 1 ELSE 0 END) AS BIGINT) AS v_disc_range
            FROM lineitem
        ),
        orphans AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)
        )
        SELECT chk, n_violations, n_violations = 0 AS passed FROM (
            SELECT 'completeness:l_shipdate' AS chk, v_completeness AS n_violations
            FROM single_pass
            UNION ALL
            SELECT 'range:l_discount', v_disc_range FROM single_pass
            UNION ALL
            SELECT 'range:l_quantity', v_qty_range FROM single_pass
            UNION ALL
            SELECT 'ref:l_orderkey->orders', v FROM orphans
            UNION ALL
            SELECT 'unique:(l_orderkey,l_linenumber)', v_uniqueness FROM single_pass
        )
    """,
    doc=(
        "Declarative data-quality audit (the Deequ/expectations shape): "
        "completeness, key uniqueness, two range constraints, and "
        "referential integrity, evaluated as ONE single-pass aggregate "
        "over the fact table plus one anti-join — the nightly constraint "
        "run a production warehouse executes before publishing a "
        "partition. All counts are exact integers; the check catalog is "
        "rows in the result, so adding a constraint never adds a scan."
    ),
    tags=("quality", "audit", "agg", "join"),
    order=("chk",),
)
def q_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    single = li.agg(
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("v_completeness"),
        (F.count("*") - F.count_distinct(F.struct("l_orderkey", "l_linenumber")))
        .cast("long")
        .alias("v_uniqueness"),
        F.sum(F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0))
        .cast("long")
        .alias("v_qty_range"),
        F.sum(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(0))
        .cast("long")
        .alias("v_disc_range"),
    )
    orphans = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").cast("long").alias("v"))
    )
    checks = (
        single.select(F.lit("completeness:l_shipdate").alias("chk"), F.col("v_completeness").alias("n_violations"))
        .unionByName(single.select(F.lit("range:l_discount").alias("chk"), F.col("v_disc_range").alias("n_violations")))
        .unionByName(single.select(F.lit("range:l_quantity").alias("chk"), F.col("v_qty_range").alias("n_violations")))
        .unionByName(orphans.select(F.lit("ref:l_orderkey->orders").alias("chk"), F.col("v").alias("n_violations")))
        .unionByName(single.select(F.lit("unique:(l_orderkey,l_linenumber)").alias("chk"), F.col("v_uniqueness").alias("n_violations")))
    )
    return checks.withColumn("passed", F.col("n_violations") == 0)


@register(
    "q_w5_distribution_ranks",
    oracle="""
        SELECT c_mktsegment, c_custkey, c_acctbal, rn, nt, prk, cd, next_bal
        FROM (
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   ROW_NUMBER()   OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal DESC, c_custkey) AS rn,
                   NTILE(4)       OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal DESC, c_custkey) AS nt,
                   PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal DESC) AS prk,
                   CUME_DIST()    OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal DESC) AS cd,
                   LEAD(c_acctbal) OVER (PARTITION BY c_mktsegment
                                         ORDER BY c_acctbal DESC, c_custkey) AS next_bal
            FROM customer
        ) t
        WHERE rn <= 10
    """,
    doc=(
        "Distribution window functions (SURVEY §2.5's remaining class): "
        "NTILE(4) and LEAD over the tie-broken UNIQUE ordering (their "
        "outputs depend on row order, so determinism requires the "
        "c_custkey tiebreak), PERCENT_RANK and CUME_DIST over the raw "
        "value ordering (they depend only on rank/peer counts, and both "
        "engines compute them as one integer-ratio IEEE division — "
        "(rank-1)/(n-1), peers/n — so ties are handled identically). "
        "One shuffle on the partition key, top-10 per segment emitted."
    ),
    tags=("window",),
    order=("c_mktsegment", "rn"),
)
def q_w5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = table(spark, sf_dir, "customer")
    w_unique = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_value = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w_unique).cast("long").alias("rn"),
            F.ntile(4).over(w_unique).cast("long").alias("nt"),
            F.percent_rank().over(w_value).alias("prk"),
            F.cume_dist().over(w_value).alias("cd"),
            F.lead("c_acctbal").over(w_unique).alias("next_bal"),
        )
        .where(F.col("rn") <= 10)
    )
