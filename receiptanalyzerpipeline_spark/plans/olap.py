"""OLAP grouping extensions: CUBE, GROUPING SETS, exact percentiles.

Completes the aggregation family (SURVEY §2.4; q_a4 covers ROLLUP):
multi-level aggregates are Catalyst ``Expand``-based — one extra
projection per grouping set feeding a single hash aggregate, so the
plan stays one shuffle regardless of how many sets are requested
(that's the property that matters at 100 TB; N separate groupBys would
be N shuffles and N scans).

Percentile determinism: ``percentile`` (Spark) and ``quantile_cont``
(DuckDB) both linearly interpolate at index q·(n−1). With dyadic
quantiles (.25/.5/.75) and integer-valued inputs (l_quantity), the
interpolation is exact in IEEE double in both engines — bit-identical,
safe to hash. Non-dyadic quantiles over arbitrary doubles would NOT be
(registry docstring rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.catalog import table
from receiptanalyzerpipeline_spark.plans.registry import register


@register(
    "q_a6_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc=(
        "CUBE over (returnflag, linestatus): all 4 grouping sets in one "
        "Expand + single hash aggregate (one shuffle total)."
    ),
    tags=("agg", "cube", "olap"),
    order=("l_returnflag", "l_linestatus"),
)
def q_a6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "q_a7_grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    doc=(
        "Explicit GROUPING SETS ((returnflag),(linestatus)) — disjoint "
        "single-column sets, NOT derivable from cube/rollup shorthand."
    ),
    tags=("agg", "grouping-sets", "olap"),
    order=("l_returnflag", "l_linestatus"),
)
def q_a7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets([["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
    )


@register(
    "q_a8_quartiles",
    oracle="""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS q25,
               quantile_cont(l_quantity, 0.5)  AS q50,
               quantile_cont(l_quantity, 0.75) AS q75,
               MAX(l_quantity) AS q_max
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc=(
        "Exact continuous quartiles of l_quantity per returnflag — dyadic "
        "quantiles over integer values interpolate bit-identically in both "
        "engines. (approx_percentile is the sketch sibling, q_a5-style.)"
    ),
    tags=("agg", "percentile", "olap"),
)
def q_a8(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q25"),
        F.percentile("l_quantity", 0.5).alias("q50"),
        F.percentile("l_quantity", 0.75).alias("q75"),
        F.max("l_quantity").alias("q_max"),
    )


@register(
    "q_a10_regression_profile",
    oracle="""
        SELECT l_returnflag, n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                   AS intercept,
               (n * sxy - sx * sy)
                   / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r
        FROM (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy
            FROM (
                SELECT l_returnflag,
                       CAST(l_quantity AS DECIMAL(18,2)) AS x,
                       CAST(l_extendedprice AS DECIMAL(18,2)) AS y
                FROM lineitem
            )
            GROUP BY l_returnflag
        )
    """,
    doc=(
        "Statistical profile per returnflag: OLS slope/intercept and "
        "Pearson r of extendedprice vs quantity (SURVEY A6 statistical "
        "aggregates). Built-in corr/regr_* accumulate float moments whose "
        "low-order bits are partition-order-dependent, so instead the five "
        "moments are summed EXACTLY in DECIMAL (x·y at scale 4 fits "
        "DECIMAL(38,4) by orders of magnitude), cast once to DOUBLE, and "
        "the closed-form formulas are evaluated with the identical IEEE "
        "expression tree on both engines — deterministic at any partition "
        "count. One shuffle (partial+final agg); the moment tuple is "
        "mergeable, so the same query works as a streaming snapshot."
    ),
    tags=("agg", "statistics", "olap"),
    order=("l_returnflag",),
)
def q_a10(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias("r"),
    )


@register(
    "q_p3_above_brand_avg",
    oracle="""
        SELECT p_partkey, p_brand,
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM part p
        WHERE CAST(p_retailprice AS DECIMAL(18,2)) > (
            SELECT CAST(CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,2)))
                             AS DOUBLE) / COUNT(*) AS DECIMAL(18,4))
            FROM part p2 WHERE p2.p_brand = p.p_brand
        )
    """,
    doc=(
        "Correlated-scalar-subquery semantics (parts above their brand's "
        "average price), expressed scalably as one aggregate + broadcast "
        "join back — the de-correlated plan Catalyst itself would target; "
        "oracle keeps the textbook correlated form. Brand avg follows the "
        "registry decimal-sum/double-divide determinism rule."
    ),
    tags=("subquery", "agg", "join"),
    order=("p_partkey",),
)
def q_p3(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").withColumn(
        "price", F.col("p_retailprice").cast("decimal(18,2)")
    )
    brand_avg = p.groupBy(F.col("p_brand").alias("b_brand")).agg(
        (F.sum("price").cast("double") / F.count("*"))
        .cast("decimal(18,4)")
        .alias("avg_price")
    )
    return (
        p.join(F.broadcast(brand_avg), p["p_brand"] == F.col("b_brand"))
        .where(F.col("price") > F.col("avg_price"))
        .select("p_partkey", "p_brand", F.col("price").cast("double").alias("price"))
    )


@register(
    "q_a9_approx_quartiles",
    oracle=None,  # sketch output; accuracy pinned in tests vs exact q_a8
    doc=(
        "approx_percentile (GK sketch) quartiles of l_quantity per "
        "returnflag — the single-pass mergeable-sketch sibling of exact "
        "q_a8 for 100 TB percentile queries (exact percentile buffers the "
        "group; the sketch is bounded memory). Rows-only driver check; "
        "tests bound the error against the exact answer."
    ),
    tags=("agg", "percentile", "sketch", "olap"),
)
def q_a9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    acc = F.lit(10000)
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.25), acc).alias("q25"),
        F.approx_percentile("l_quantity", F.lit(0.5), acc).alias("q50"),
        F.approx_percentile("l_quantity", F.lit(0.75), acc).alias("q75"),
    )


@register(
    "q_a11_mergeable_hll",
    oracle=None,  # sketch estimates are engine-specific; tolerance pinned in tests
    doc=(
        "Mergeable-sketch distinct counting (Apache DataSketches HLL): "
        "per-priority sketches via hll_sketch_agg, then ONE union-merge "
        "(hll_union_agg) yields the global estimate without rescanning — "
        "the 100 TB pattern where per-partition/per-day sketches are "
        "persisted and any rollup is a cheap sketch merge instead of a "
        "recount. Rows-only driver check; tests bound the estimates "
        "against exact COUNT(DISTINCT) (<2% at this cardinality). "
        "approx_count_distinct (q_a5) is the one-shot sibling; this one "
        "materializes the REUSABLE sketch."
    ),
    tags=("agg", "distinct", "sketch", "mergeable"),
    order=("o_orderpriority",),
)
def q_a11(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    est = per_group.select(
        "o_orderpriority",
        F.hll_sketch_estimate("sk").cast("long").alias("distinct_custkeys"),
    )
    union = per_group.agg(
        F.lit("_ALL_").alias("o_orderpriority"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("distinct_custkeys"),
    ).select("o_orderpriority", "distinct_custkeys")
    return est.unionByName(union)


@register(
    "q_a5_sketch_accuracy",
    oracle=r"""
        WITH cms_words AS (
            -- same whitespace class as operators/textanalysis.WS_RE
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
                SELECT unnest(string_split_regex(lower(text),
                                                 '[ \t\n\x0B\f\r]+')) AS w
                FROM documents
            ) WHERE w <> '' GROUP BY w
        ),
        cms_buckets AS (
            SELECT w, freq, j,
                   CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR)
                                             || ':' || w), 1, 15)) AS BIGINT)
                       % 64 AS b
            FROM cms_words, (SELECT unnest(range(3)) AS j)
        ),
        cms_sketch AS (
            SELECT j, b, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM cms_buckets GROUP BY j, b
        ),
        cms_top AS (SELECT w, freq FROM cms_words ORDER BY freq DESC, w LIMIT 10),
        cms_est AS (
            SELECT t.w, t.freq, MIN(s.cnt) AS est
            FROM cms_top t
            JOIN cms_buckets p ON p.w = t.w
            JOIN cms_sketch s ON s.j = p.j AND s.b = p.b
            GROUP BY t.w, t.freq
        ),
        cms_n AS (SELECT CAST(SUM(freq) AS BIGINT) AS n FROM cms_words)
        SELECT * FROM (
            SELECT 'cms' AS part, w AS grp, CAST(freq AS DOUBLE) AS exact,
                   (est >= freq AND CAST(est AS DOUBLE)
                        <= CAST(freq AS DOUBLE) + 2.0 * n / 64) AS within_tol
            FROM cms_est CROSS JOIN cms_n
            UNION ALL
            SELECT 'cd' AS part, g AS grp, e AS exact, TRUE AS within_tol
            FROM (
                SELECT 'parts' AS g, CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS e FROM lineitem
                UNION ALL
                SELECT 'supps', CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) FROM lineitem
                UNION ALL
                SELECT 'orders', CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) FROM lineitem
            ) AS _c
            UNION ALL
            SELECT 'pq', l_returnflag || '/' || q, CAST(v AS DOUBLE), TRUE
            FROM (
                SELECT l_returnflag, 'q25' AS q, quantile_cont(l_quantity, 0.25) AS v
                FROM lineitem GROUP BY l_returnflag
                UNION ALL
                SELECT l_returnflag, 'q50', quantile_cont(l_quantity, 0.5)
                FROM lineitem GROUP BY l_returnflag
                UNION ALL
                SELECT l_returnflag, 'q75', quantile_cont(l_quantity, 0.75)
                FROM lineitem GROUP BY l_returnflag
            ) AS _q
            UNION ALL
            SELECT 'hll', o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS DOUBLE), TRUE
            FROM orders GROUP BY o_orderpriority
            UNION ALL
            SELECT 'hll', '_ALL_', CAST(COUNT(DISTINCT o_custkey) AS DOUBLE), TRUE
            FROM orders
            UNION ALL
            -- blk: blocking pair-mass ladder (sum of squared block counts)
            SELECT 'blk', g, e, tol FROM (
                SELECT 'k1_nat' AS g, CAST(SUM(cnt*cnt) AS DOUBLE) AS e,
                       SUM(cnt*cnt) <= 32 * SUM(cnt) AS tol
                FROM (SELECT COUNT(*) AS cnt FROM customer GROUP BY c_nationkey)
                UNION ALL
                SELECT 'k2_nat_seg', CAST(SUM(cnt*cnt) AS DOUBLE),
                       SUM(cnt*cnt) <= 32 * SUM(cnt)
                FROM (SELECT COUNT(*) AS cnt FROM customer
                      GROUP BY c_nationkey, c_mktsegment)
                UNION ALL
                SELECT 'k3_nat_seg_bb', CAST(SUM(cnt*cnt) AS DOUBLE),
                       SUM(cnt*cnt) <= 32 * SUM(cnt)
                FROM (SELECT COUNT(*) AS cnt FROM customer
                      GROUP BY c_nationkey, c_mktsegment,
                               FLOOR(c_acctbal / 1000.0))
            ) AS _b
        ) AS _u
    """,
    doc=(
        "Sketch-accuracy surface: every approximate operator (HLL++ "
        "approx_count_distinct, GK approx_percentile, DataSketches HLL "
        "merge, and a portable count-min sketch) emitted NEXT TO the "
        "exact value it estimates, plus a within_tol boolean computed "
        "Spark-side. Round 5 adds a 'blk' part: the exact blocking "
        "pair-mass statistic (sum of squared block counts) for the "
        "q_er3 key ladder, with its "
        "32-pairs-per-record occupancy budget emitted as data — the "
        "coarse key fails the budget, the composites hold it. "
        "The oracle replays the exact side and asserts the "
        "bound AS DATA (literal TRUE): if a sketch ever drifts outside "
        "tolerance the hash mismatches — the driver gate now checks what "
        "three rounds of 'no_oracle' rows could not. Tolerances: 5% "
        "relative for distinct counts (HLL rsd 0.01 ⇒ ~5σ headroom), "
        "±1.0 absolute for quartiles of integer l_quantity (GK rank "
        "error n/10000 ⇒ well inside one integer step). The cms part is "
        "stronger still: the d=3 × w=64 count-min sketch is built from "
        "md5-derived bucket hashes, so DuckDB replays the ENTIRE sketch "
        "— build, heavy-hitter point queries, and both CMS guarantees "
        "(est ≥ exact always; est ≤ exact + 2N/w here) — as computed "
        "data, not a literal. Build is one vocabulary-sized aggregate to "
        "d·w mergeable counters (the streaming-frequency sibling of the "
        "HLL merge row). All sketches are deterministic for fixed input, "
        "so the booleans are stable across runs and partition counts."
    ),
    tags=("agg", "sketch", "suite"),
    order=("part", "grp"),
)
def q_a5_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")

    def rel_ok(est: F.Column, exact: F.Column) -> F.Column:
        return (F.abs(est - exact) / exact) <= F.lit(0.05)

    # --- cd: exact vs HLL++, one single-column pass per key -------------
    # NOT one 6-way aggregate: mixing three exact COUNT DISTINCTs compiles
    # to a single Expand ×6 whose per-task hash state is the UNION of all
    # three columns' distinct sets — the one shape that OOMed a default
    # 1 GB heap at sf0.1 (SCALE.md honest-deltas; VERDICT r4 task 4).
    # Three column-pruned scans instead: each exact side is a spillable
    # two-phase distinct on ONE int column, each approx side a plain
    # mergeable HLL aggregate, crossed 1-row × 1-row. Memory per task is
    # one column's partial distinct set — the shape that survives any SF.
    def _cd_one(key: str, grp: str) -> DataFrame:
        exact = (
            li.select(key)
            .distinct()
            .agg(F.count(F.lit(1)).cast("double").alias("exact"))
        )
        est = li.agg(
            F.approx_count_distinct(key, 0.01).cast("double").alias("est")
        )
        return exact.crossJoin(F.broadcast(est)).select(
            F.lit("cd").alias("part"),
            F.lit(grp).alias("grp"),
            "exact",
            rel_ok(F.col("est"), F.col("exact")).alias("within_tol"),
        )

    cd = (
        _cd_one("l_partkey", "parts")
        .unionAll(_cd_one("l_suppkey", "supps"))
        .unionAll(_cd_one("l_orderkey", "orders"))
    )

    # --- pq: exact percentile vs GK sketch, same single aggregate -------
    acc = F.lit(10000)
    pq_agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("e25"),
        F.percentile("l_quantity", 0.5).alias("e50"),
        F.percentile("l_quantity", 0.75).alias("e75"),
        F.approx_percentile("l_quantity", F.lit(0.25), acc).cast("double").alias("a25"),
        F.approx_percentile("l_quantity", F.lit(0.5), acc).cast("double").alias("a50"),
        F.approx_percentile("l_quantity", F.lit(0.75), acc).cast("double").alias("a75"),
    )

    def q_ok(a: str, e: str) -> F.Column:
        return F.abs(F.col(a) - F.col(e)) <= F.lit(1.0)

    pq = pq_agg.select(
        F.explode(
            F.array(
                F.struct(F.concat_ws("/", "l_returnflag", F.lit("q25")).alias("grp"), F.col("e25").alias("exact"), q_ok("a25", "e25").alias("within_tol")),
                F.struct(F.concat_ws("/", "l_returnflag", F.lit("q50")).alias("grp"), F.col("e50").alias("exact"), q_ok("a50", "e50").alias("within_tol")),
                F.struct(F.concat_ws("/", "l_returnflag", F.lit("q75")).alias("grp"), F.col("e75").alias("exact"), q_ok("a75", "e75").alias("within_tol")),
            )
        ).alias("r")
    ).select(F.lit("pq").alias("part"), "r.grp", "r.exact", "r.within_tol")

    # --- hll: mergeable DataSketches per group + ONE union merge --------
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").cast("double").alias("exact"),
    )
    hll_groups = per_group.select(
        F.lit("hll").alias("part"),
        F.col("o_orderpriority").alias("grp"),
        "exact",
        rel_ok(F.hll_sketch_estimate("sk").cast("double"), F.col("exact")).alias("within_tol"),
    )
    # global row: exact distinct is NOT the sum of per-group distincts
    # (custkeys repeat across priorities), so recount; the estimate side is
    # the sketch UNION merge — the persisted-sketch rollup pattern.
    global_exact = o.agg(F.countDistinct("o_custkey").cast("double").alias("exact"))
    global_est = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("double").alias("est")
    )
    hll_all = global_exact.crossJoin(global_est).select(
        F.lit("hll").alias("part"),
        F.lit("_ALL_").alias("grp"),
        "exact",
        rel_ok(F.col("est"), F.col("exact")).alias("within_tol"),
    )
    # --- cms: portable count-min sketch, replayed in full by the oracle --
    from receiptanalyzerpipeline_spark.operators.bpe import word_frequencies
    from receiptanalyzerpipeline_spark.operators.cms import cms_build, cms_point_query

    d_rows, width = 3, 64
    wf = word_frequencies(table(spark, sf_dir, "documents"))
    sketch = cms_build(wf, "w", "freq", d=d_rows, w=width)
    top = wf.orderBy(F.col("freq").desc(), "w").limit(10)
    est = cms_point_query(sketch, top, "w", d=d_rows, w=width)
    n_tokens = wf.agg(F.sum("freq").alias("n"))
    cms = est.crossJoin(F.broadcast(n_tokens)).select(
        F.lit("cms").alias("part"),
        F.col("w").alias("grp"),
        F.col("freq").cast("double").alias("exact"),
        (
            (F.col("est") >= F.col("freq"))
            & (
                F.col("est").cast("double")
                <= F.col("freq").cast("double") + 2.0 * F.col("n") / width
            )
        ).alias("within_tol"),
    )
    # --- blk: blocking pair-mass statistic ------------------------------
    # The EXACT candidate-pair count Σ_blocks cnt² that an equi-join on
    # each q_er3 key set would generate, with the ≤32·N occupancy budget
    # emitted as data: the oracle recomputes both sides, so the oracle
    # hash pins the statistic (the booleans show the single coarse key
    # failing the budget and the composites holding it — the round-4 ER
    # quadratic trap, verified every round).
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bb"),
    )

    def _blk(keys: list, gname: str) -> DataFrame:
        return (
            cust.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(
                F.sum(F.col("cnt") * F.col("cnt")).cast("double").alias("exact"),
                F.sum("cnt").cast("double").alias("n"),
            )
            .select(
                F.lit("blk").alias("part"),
                F.lit(gname).alias("grp"),
                "exact",
                (F.col("exact") <= 32.0 * F.col("n")).alias("within_tol"),
            )
        )

    blk = (
        _blk(["nat"], "k1_nat")
        .unionByName(_blk(["nat", "seg"], "k2_nat_seg"))
        .unionByName(_blk(["nat", "seg", "bb"], "k3_nat_seg_bb"))
    )
    return (
        cd.unionByName(pq)
        .unionByName(hll_groups)
        .unionByName(hll_all)
        .unionByName(cms)
        .unionByName(blk)
    )
