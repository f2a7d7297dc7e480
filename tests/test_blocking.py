"""Occupancy-targeted auto-blocking (operators/blocking.py, VERDICT r4
task 6): pair-mass statistics, greedy key composition, and the property
that candidate pairs stay ~linear on a duplicate-dense corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.operators.blocking import (
    auto_blocking_keys,
    blocked_pairs,
    pair_mass,
)


def test_pair_mass_exact(spark):
    df = spark.createDataFrame(
        [("x", 1), ("x", 1), ("x", 2), ("y", 1)], ["k", "g"]
    )
    assert pair_mass(df, ["k"]) == (3 * 3 + 1 * 1, 4)
    assert pair_mass(df, ["k", "g"]) == (2 * 2 + 1 + 1, 4)
    assert pair_mass(df, []) == (16, 4)


def test_greedy_picks_most_discriminating_first(spark):
    # "coarse" has 2 values (mass ~ n^2/2), "fine" has n/4 values.
    n = 400
    df = spark.range(n).select(
        (F.col("id") % 2).alias("coarse"), (F.col("id") % (n // 4)).alias("fine")
    )
    keys = auto_blocking_keys(df, ["coarse", "fine"], target_pairs_per_record=8.0)
    assert keys[0] == "fine"
    m, cnt = pair_mass(df, keys)
    assert m <= 8.0 * cnt


def test_composes_until_budget_holds(spark):
    # No single column suffices; the composite does. 1000 rows,
    # a and b each 10 values -> alone mass = 100 blocks... a: 10 blocks of
    # 100 -> 100_000; composite: 100 blocks of 10 -> 10_000 = 10/record.
    df = spark.range(1000).select(
        (F.col("id") % 10).alias("a"),
        (F.floor(F.col("id") / 100)).alias("b"),
    )
    keys = auto_blocking_keys(df, ["a", "b"], target_pairs_per_record=16.0)
    assert sorted(keys) == ["a", "b"]
    m, n = pair_mass(df, keys)
    assert m <= 16.0 * n


def test_exhausted_keys_returned_with_overbudget_mass(spark):
    # Exact-duplicate pile no key can split: caller detects via pair_mass.
    df = spark.range(500).select(F.lit(1).alias("k"))
    keys = auto_blocking_keys(df, ["k"], target_pairs_per_record=4.0)
    m, n = pair_mass(df, keys)
    assert m > 4.0 * n  # signal: needs an occupancy cap downstream


def _skewed_corpus(spark, n: int):
    """Duplicate-dense: 20% of rows pile onto ONE coarse city; name_key
    and zip3 are finer. Deterministic (md5-free: arithmetic on id)."""
    return spark.range(n).select(
        F.col("id").alias("rec_id"),
        F.when(F.col("id") % 5 == 0, F.lit(0))
        .otherwise(F.col("id") % 50)
        .alias("city"),
        (F.col("id") % (n // 20)).alias("name_key"),
        (F.col("id") % 997).alias("zip3"),
    )


def test_duplicate_dense_corpus_stays_linear(spark):
    """The r3/r4 trap, as a property: at EVERY scale the auto-chosen keys
    keep candidate pairs within target × N (bounded per-record work — the
    definition of linear scalability for blocking; a fixed key choice
    yields N²/cardinality = quadratic growth instead). The realized join
    count must agree with the pair_mass prediction."""
    for n in (2_000, 20_000):
        df = _skewed_corpus(spark, n)
        keys = auto_blocking_keys(
            df, ["city", "name_key", "zip3"], target_pairs_per_record=32.0
        )
        m, cnt = pair_mass(df, keys)
        assert cnt == n and m <= 32.0 * n, (n, keys, m)
        realized = blocked_pairs(df, df.select(
            F.col("rec_id").alias("rid2"), "city", "name_key", "zip3"
        ).withColumnsRenamed({"city": "city2", "name_key": "name_key2", "zip3": "zip32"}),
            [(k, k + "2") for k in keys]).count()
        assert realized == m, (realized, m)  # the statistic is exact
        # The quadratic alternative this avoids: blocking on the skewed
        # coarse key alone would give ~(n/5)^2 pairs from the pile-up city.
        pile = (n // 5) ** 2
        assert m < pile / 10, (m, pile)


def test_er3_composite_is_derivable_from_stats(spark):
    """The hand-derived q_er3 composite: on the customer table the greedy
    search lands on (nation [+segment +bucket] as the budget demands) —
    and whatever it picks satisfies the occupancy invariant."""
    from receiptanalyzerpipeline_spark.catalog import table

    cust = table(spark, "/root/testdata/sf0.01", "customer").select(
        F.col("c_nationkey").cast("long").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bb"),
    )
    keys = auto_blocking_keys(cust, ["nat", "seg", "bb"], target_pairs_per_record=32.0)
    assert keys and set(keys) <= {"nat", "seg", "bb"}
    m, n = pair_mass(cust, keys)
    assert m <= 32.0 * n


def test_join_cardinality_is_exact(spark):
    from receiptanalyzerpipeline_spark.operators.blocking import join_cardinality

    a = spark.range(1000).select((F.col("id") % 30).alias("k"), F.col("id").alias("ai"))
    b = spark.range(700).select((F.col("id") % 45).alias("k"), F.col("id").alias("bi"))
    predicted = join_cardinality(a, b, ["k"])
    actual = a.join(b, "k").count()
    assert predicted == actual > 0

    disjoint = spark.range(10).select((F.col("id") + 1000).alias("k"))
    assert join_cardinality(a, disjoint, ["k"]) == 0


def test_prefix_edit_join_plan_construction_runs_no_job(spark, tmp_path):
    """ADVICE r8: the shuffle_only routing used to run an eager
    df.count() DURING plan construction — a full upstream scan, repeated
    again by the real join. The estimate must now come from footer /
    plan statistics only: zero Spark jobs until an action runs."""
    from receiptanalyzerpipeline_spark.operators.blocking import (
        prefix_filter_edit_join,
    )

    p = str(tmp_path / "names.parquet")
    spark.createDataFrame(
        [(i, f"name{i:03d}") for i in range(50)], ["key", "name"]
    ).write.parquet(p)
    df = spark.read.parquet(p)

    sc = spark.sparkContext
    sc.setJobGroup("advice-r8-plan-build", "plan construction must be lazy")
    try:
        plan = prefix_filter_edit_join(df, "key", "name", q=3, d=2)
        jobs = sc.statusTracker().getJobIdsForGroup("advice-r8-plan-build")
        assert list(jobs) == [], f"plan construction ran Spark jobs: {jobs}"
    finally:
        sc.setJobGroup("", "")
    # The plan still executes correctly after lazy construction.
    assert plan.where(F.col("edit_dist") <= 2).count() > 0


def test_estimated_rows_exact_from_parquet_footers(spark, tmp_path):
    """Footer metadata gives EXACT counts — Catalyst sizeInBytes is the
    compressed size, and clone-dense data dictionary-encodes to ~9 B/row,
    so a byte-derived estimate under-counts 3-4x and would re-route the
    sf1 corpus back to the broadcast heap death (round-8's OOM)."""
    from receiptanalyzerpipeline_spark.operators.blocking import _estimated_rows

    p = str(tmp_path / "dup.parquet")
    # Highly duplicated content: pathological compression ratio.
    spark.range(10_000).select(F.lit("same-name-everywhere").alias("name")).write.parquet(p)
    df = spark.read.parquet(p)
    assert _estimated_rows(df) == 10_000

    # In-memory relations (LogicalRDD, no files, no CBO stats) report
    # Long.MaxValue sizeInBytes — the estimate goes huge, routing
    # conservatively to SMJ. Correct at every scale (the invariant test
    # below proves routing never changes results); real plan callers
    # read parquet, where footers give exact counts.
    tiny = spark.createDataFrame([(1, "a"), (2, "b")], ["key", "name"])
    assert _estimated_rows(tiny) > 100_000


def test_prefix_edit_join_result_invariant_under_routing(spark, monkeypatch):
    """Routing (broadcast vs merge-hint SMJ) may never change results:
    force the shuffle_only path via a tiny threshold and compare against
    the explicit broadcast-allowed path."""
    from receiptanalyzerpipeline_spark.operators import blocking as B

    rows = [(i, n) for i, n in enumerate(
        ["acme corp", "acme corp", "acme corq", "zenith ltd", "zenith ltd.", "other"]
    )]
    df = spark.createDataFrame(rows, ["key", "name"])

    fast = {
        (r["key_a"], r["key_b"], r["edit_dist"])
        for r in B.prefix_filter_edit_join(df, "key", "name", shuffle_only=False).collect()
    }
    monkeypatch.setattr(B, "SHUFFLE_ONLY_ROWS", 1)
    slow = {
        (r["key_a"], r["key_b"], r["edit_dist"])
        for r in B.prefix_filter_edit_join(df, "key", "name").collect()
    }
    assert fast == slow and len(fast) > 0


def test_prefix_edit_join_null_groups_emit_no_pairs(spark):
    """Window.partitionBy groups NULLs together; without the guard two
    NULL-name rows formed a rep group and emitted an unverified
    edit_dist=0 pair — diverging from the direct verify path, where
    levenshtein(NULL, .) is NULL and equi-joins drop NULL keys."""
    from receiptanalyzerpipeline_spark.operators.blocking import (
        prefix_filter_edit_join,
    )

    df = spark.createDataFrame(
        [
            (1, None, "x"),
            (2, None, "x"),  # NULL-name pile: must produce nothing
            (3, "acme", "x"),
            (4, "acme", None),  # NULL block key: must produce nothing
            (5, "acme", "x"),
        ],
        ["key", "name", "brand"],
    )
    out = prefix_filter_edit_join(
        df, "key", "name", q=3, d=2, block_keys=("brand",)
    ).collect()
    assert {(r["key_a"], r["key_b"], r["edit_dist"]) for r in out} == {(3, 5, 0)}
