"""Edit-distance joins (operators/blocking.py): lazy plan construction,
the footer-based row estimate that picks the join strategy, result
invariance under that choice, and NULL handling."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_prefix_edit_join_plan_construction_runs_no_job(spark, tmp_path, sf_dir):
    """ADVICE r8: the shuffle_only routing used to run an eager
    df.count() DURING plan construction — a full upstream scan, repeated
    again by the real join. The estimate must now come from footer /
    plan statistics only: zero Spark jobs until an action runs. The same
    holds for the two registry builders on top of it, q_er1 and q_er2."""
    from receiptanalyzerpipeline_spark.catalog import table
    from receiptanalyzerpipeline_spark.operators.blocking import (
        prefix_filter_edit_join,
    )
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    p = str(tmp_path / "names.parquet")
    spark.createDataFrame(
        [(i, f"name{i:03d}") for i in range(50)], ["key", "name"]
    ).write.parquet(p)
    df = spark.read.parquet(p)
    table(spark, sf_dir, "part").schema  # warm the memoized scan first

    sc = spark.sparkContext
    sc.setJobGroup("advice-r8-plan-build", "plan construction must be lazy")
    try:
        plan = prefix_filter_edit_join(df, "key", "name", q=3, d=2)
        for name in ("q_er1_fuzzy_match", "q_er2_qgram_edit_join"):
            REGISTRY[name].spark(spark, sf_dir)
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
