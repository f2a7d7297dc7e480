"""Edit-distance joins (operators/blocking.py): lazy plan construction
and its py4j round-trip cost, the footer-based row estimate that picks
the join strategy, result invariance under that choice, NULL handling,
clone groups and caller column names against a brute-force join."""

from __future__ import annotations

from itertools import combinations, product

import pytest
from pyspark.sql import functions as F


def _lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


def _brute_force(rows, d=2, blocked=True) -> set:
    """(key_a, key_b, name_a, name_b, edit_dist) of every key-ordered pair
    within Levenshtein d, from (key, name, block) rows."""
    out = set()
    for (ka, na, ba), (kb, nb, bb) in combinations(sorted(rows), 2):
        if (ba == bb or not blocked) and _lev(na, nb) <= d:
            out.add((ka, kb, na, nb, _lev(na, nb)))
    return out


def _pairs(df) -> set:
    return {tuple(r) for r in df.select("key_a", "key_b", "name_a", "name_b", "edit_dist").collect()}


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


def test_er_builds_stay_within_round_trip_budget(spark, sf_dir, monkeypatch):
    """Every DataFrame call is at least one py4j round trip, analysed
    eagerly by the JVM; a chain of them made q_er1's build ~1,500 round
    trips and q_er2's ~1,400. The join is one SQL statement, so a build
    (row estimate, statement, presentation sort) stays within 100."""
    import py4j.clientserver as cs

    from receiptanalyzerpipeline_spark.catalog import table
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    table(spark, sf_dir, "part").schema  # warm the memoized scan first
    calls = 0
    send = cs.ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    for name in ("q_er1_fuzzy_match", "q_er2_qgram_edit_join"):
        calls = 0
        REGISTRY[name].spark(spark, sf_dir)
        assert calls <= 100, (name, calls)


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
    out = B.prefix_filter_edit_join(df, "key", "name")
    slow = {(r["key_a"], r["key_b"], r["edit_dist"]) for r in out.collect()}
    assert fast == slow and len(fast) > 0
    # Spark only logs a warning for a hint that names no relation, so
    # equal results alone cannot show the routing held: the executed
    # plan must run the gram-index join and both member-expansion joins
    # (left keys gram, key_a, key_b) as sort-merge joins. The gram-index
    # join is the gram join that compares keys; the other one looks up
    # gram frequencies and stays Spark's choice.
    final = out._jdf.queryExecution().executedPlan().toString()
    joins = [ln for ln in final.split("== Initial Plan ==")[0].splitlines() if "Join [" in ln]
    for left_key, also in (("gram", "_key#"), ("key_a", ""), ("key_b", "")):
        routed = [ln for ln in joins if f"Join [{left_key}#" in ln and also in ln]
        assert routed and all("SortMergeJoin" in ln for ln in routed), (left_key, joins)


def test_prefix_edit_join_null_groups_emit_no_pairs(spark):
    """Window.partitionBy groups NULLs together; without the guard two
    NULL-name rows formed a rep group and emitted an unverified
    edit_dist=0 pair — diverging from the direct verify path, where
    levenshtein(NULL, .) is NULL and equi-joins drop NULL keys. A NULL
    key in a clone group used to expand a verified pair into (6, 6)."""
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
            (None, "acme", "x"),  # NULL key: no pair, and no (6, 6) below
            (6, "acmf", "x"),
        ],
        ["key", "name", "brand"],
    )
    out = prefix_filter_edit_join(
        df, "key", "name", q=3, d=2, block_keys=("brand",)
    ).collect()
    assert {(r["key_a"], r["key_b"], r["edit_dist"]) for r in out} == {
        (3, 5, 0), (3, 6, 1), (5, 6, 1),
    }


@pytest.mark.parametrize("blocked, shuffle_only", list(product((True, False), repeat=2)))
def test_prefix_edit_join_clone_groups_match_brute_force(spark, blocked, shuffle_only):
    """Clone groups (same block key and name) of 3+ members pair among
    themselves at edit 0 and expand against every near-duplicate group;
    the same name under another brand pairs only without blocking. Keys
    interleave across groups, so expansion must reorder keys and swap
    names alongside them."""
    from receiptanalyzerpipeline_spark.operators.blocking import (
        prefix_filter_edit_join,
    )

    rows = [
        (5, "acme widget", "A"), (2, "acme widget", "A"), (9, "acme widget", "A"),
        (1, "acme widgets", "A"),  # near-duplicate of the A clone group
        (7, "acme widget", "B"), (3, "acme widget", "B"), (12, "acme widget", "B"),
        (4, "acme gidget", "B"),  # edit 1 to B's clone group
        (11, "acme gidgets", "B"),  # edit 1 to key 4, edit 2 to B's clone group
        (6, "zenith gear", "A"), (10, "zenith gear", "A"), (8, "zenith gear", "A"),
        (13, "zenith gears", "B"), (14, "zenith gears", "B"),
        (15, "other thing", "A"),
    ]
    df = spark.createDataFrame(rows, ["key", "name", "brand"])
    out = prefix_filter_edit_join(
        df, "key", "name", block_keys=("brand",) if blocked else (),
        shuffle_only=shuffle_only,
    )
    want = _brute_force(rows, blocked=blocked)
    assert {p[4] for p in want} == {0, 1, 2}
    assert _pairs(out) == want


def test_prefix_edit_join_quotes_caller_column_names(spark):
    """Caller column names are SQL identifiers inside the statement text:
    a space, a backtick or a brace in one must neither break the
    statement nor be read as a format field."""
    from receiptanalyzerpipeline_spark.operators.blocking import (
        prefix_filter_edit_join,
    )

    rows = [
        (1, "acme corp", "x"), (2, "acme corp", "x"), (3, "acme corq", "x"),
        (4, "acme corp", "y"), (5, "zenith ltd", "y"),
    ]
    df = spark.createDataFrame(rows, ["id `{0}`", "vendor name", "brand name"])
    out = prefix_filter_edit_join(df, "id `{0}`", "vendor name", block_keys=("brand name",))
    assert _pairs(out) == _brute_force(rows) == {
        (1, 2, "acme corp", "acme corp", 0),
        (1, 3, "acme corp", "acme corq", 1),
        (2, 3, "acme corp", "acme corq", 1),
    }
