"""Part-wise suite oracle fallback (VERDICT r8 task 2): when DuckDB
OOMs on a FUSED suite union at sf1, each Part's oracle still runs alone
and value-checks the suite against the already-written Spark parquet —
entirely DuckDB-side, no Spark re-run."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "sf1_sweep", os.path.join(REPO, "scripts", "sf1_sweep.py")
)
_sweep = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_sweep)


@pytest.fixture(scope="module")
def suite_parquet(spark, sf_dir, tmp_path_factory):
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    wd = tmp_path_factory.mktemp("partwise")
    name = "q_x12_packing_suite"
    df = REGISTRY[name].spark(spark, sf_dir)
    out = str(wd / f"{name}.spark.parquet")
    df.write.mode("overwrite").parquet(out)
    return name, out, str(wd)


def test_part_oracle_sqls_covers_every_part(suite_parquet):
    from receiptanalyzerpipeline_spark.plans.suites import (
        _SUITE_SPECS,
        part_oracle_sqls,
    )

    name, _, _ = suite_parquet
    sqls = part_oracle_sqls(name)
    assert set(sqls) == {p.tag for p in _SUITE_SPECS[name].parts}
    # Non-suite queries raise KeyError (the sweep's detection contract).
    with pytest.raises(KeyError):
        part_oracle_sqls("q_a3_tpch_q1")


def test_compare_setwise_parts_green_on_matching_suite(suite_parquet, sf_dir):
    from receiptanalyzerpipeline_spark import oracle as O
    from receiptanalyzerpipeline_spark.plans.suites import part_oracle_sqls

    name, pq, wd = suite_parquet
    con = O.duckdb_connect(sf_dir)
    res = O.compare_setwise_parts(name, pq, part_oracle_sqls(name), con, wd)
    assert all(r.ok for r in res.values()), {
        t: r.mismatches for t, r in res.items() if not r.ok
    }
    assert all(r.spark_rows == r.oracle_rows >= 1 for r in res.values())
    con.close()


def test_compare_setwise_parts_isolates_a_failing_part(suite_parquet, sf_dir):
    """One corrupted part's digest goes red; the others stay green — the
    per-part isolation is the whole point of the fallback."""
    from receiptanalyzerpipeline_spark import oracle as O
    from receiptanalyzerpipeline_spark.plans.suites import part_oracle_sqls

    name, pq, wd = suite_parquet
    sqls = dict(part_oracle_sqls(name))
    # Corrupt ONE part's oracle: shift every doc_id by 1.
    sqls["sequences"] = (
        f"SELECT part, shard_id, doc_id + 1 AS doc_id, n1, n2, n3 "
        f"FROM ({sqls['sequences']}) AS _x"
    )
    con = O.duckdb_connect(sf_dir)
    res = O.compare_setwise_parts(name, pq, sqls, con, wd)
    assert not res["sequences"].ok
    assert res["shards"].ok and res["stream_membership"].ok
    con.close()


def test_streaming_membership_cleans_its_scratch(spark, sf_dir):
    """q_x36 runs an eager streaming topology inside a registry builder:
    its tmp dirs (input chunks, checkpoint, snapshot state, shards) must
    be gone once the pinned membership is returned."""
    import glob

    from receiptanalyzerpipeline_spark.plans import REGISTRY

    before = set(glob.glob("/tmp/rap-streammem-*"))
    df = REGISTRY["q_x36_streaming_membership"].spark(spark, sf_dir)
    assert df.count() > 0  # pinned result survives scratch deletion
    after = set(glob.glob("/tmp/rap-streammem-*"))
    assert after <= before


def test_oracle_interrupt_leaves_connection_usable(spark, tmp_path):
    """ADVICE r8: the digest timeout interrupt is lock-guarded so a
    late-firing timer can't cancel the NEXT query on the shared
    connection. An interrupted oracle raises cleanly AND the connection
    immediately serves the following query."""
    from receiptanalyzerpipeline_spark.oracle import compare_setwise

    con = duckdb.connect()
    df = spark.createDataFrame([(1,)], ["k"])
    # DESCRIBE is instant; execution of the 1e10-row cross join is not.
    slow_sql = (
        "SELECT CAST(a.range + b.range AS BIGINT) AS k "
        "FROM range(100000) a, range(100000) b"
    )
    with pytest.raises(duckdb.Error):
        compare_setwise(
            "t_slow", df, slow_sql, con, str(tmp_path), oracle_timeout_s=0.3
        )
    # The regression: a racy interrupt would cancel this next statement.
    assert con.execute("SELECT 42").fetchone() == (42,)
    con.close()


def test_apply_parts_propagates_fail_to_top_level_oracle():
    """ADVICE r9 (medium): a part digest FAIL used to leave row['oracle']
    at 'rows-only (...)' so summary['mismatches'] stayed 0 and the sf1
    gate passed over a recorded real value mismatch."""
    row = {"name": "q_fake_suite", "oracle": "rows-only (sf0.1 oracle 99s > budget)"}
    _sweep._apply_parts(
        row,
        {"a": "match", "b": "FAIL: ['multiset digest differs: ...']", "c": "match"},
        3,
    )
    assert row["oracle"].startswith("MISMATCH (partwise)")
    assert "b" in row["oracle"]
    # The gate's summary counter keys off the MISMATCH prefix.
    assert str(row["oracle"]).startswith("MISMATCH")


def test_apply_parts_full_and_partial_match_strings():
    row = {"name": "q_fake_suite"}
    _sweep._apply_parts(row, {"a": "match", "b": "match"}, 2)
    assert row["oracle"] == "match (partwise)"
    row2 = {"name": "q_fake_suite"}
    _sweep._apply_parts(
        row2, {"a": "match", "b": "skipped (oracle timeout)"}, 2
    )
    assert row2["oracle"] == "match (partwise 1/2)"
    # All-skipped: no match evidence — the row keeps whatever oracle
    # string it already had (rows-only / oracle_err).
    row3 = {"name": "q_fake_suite", "oracle": "oracle_err: X"}
    _sweep._apply_parts(row3, {"a": "skipped (oracle OOM)"}, 1)
    assert row3["oracle"] == "oracle_err: X"


def test_compare_setwise_parts_tags_the_failing_side(spark, tmp_path):
    """ADVICE r9 (low): the sweep soft-skips only ORACLE-side capacity
    failures; the exception message must therefore say which digest
    raised. Oracle-side: broken SQL. Spark-side: parquet missing the
    'part' column the spark digest filters on."""
    from receiptanalyzerpipeline_spark import oracle as O

    good = str(tmp_path / "good.parquet")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], ["part", "v"]
    ).write.parquet(good)
    con = duckdb.connect()
    res = O.compare_setwise_parts(
        "q_fake", good, {"a": "SELECT * FROM no_such_table_xyz"}, con, str(tmp_path)
    )
    assert not res["a"].ok
    assert "(oracle digest)" in res["a"].mismatches[0]

    bad = str(tmp_path / "nopart.parquet")
    spark.createDataFrame([(1,), (2,)], ["v"]).write.parquet(bad)
    res2 = O.compare_setwise_parts(
        "q_fake", bad, {"a": "SELECT 1 AS v"}, con, str(tmp_path)
    )
    assert not res2["a"].ok
    assert "(spark-parquet digest)" in res2["a"].mismatches[0]
    con.close()


def test_sweep_skip_classification_requires_oracle_side():
    """The sweep's soft-skip tokens (InterruptException / OOM) must only
    classify as 'skipped (...)' when tagged '(oracle digest)'. This
    mirrors the inline classification in _partwise — tested here at the
    string level because _partwise closes over live sweep state."""
    msg_oracle = (
        "exception (oracle digest): OutOfMemoryException: could not allocate"
    )
    msg_spark = (
        "exception (spark-parquet digest): OutOfMemoryException: could not allocate"
    )
    for msg, is_skip in ((msg_oracle, True), (msg_spark, False)):
        soft = "(oracle digest)" in msg and (
            "InterruptException" in msg or "OutOfMemoryException" in msg
        )
        assert soft is is_skip


def test_compare_setwise_digest(spark, tmp_path, sf_dir):
    """The sf1 sweep's out-of-core compare: streaming multiset digest
    over the Spark parquet and the oracle query. Green on equal bags,
    red on a single flipped value and on a pair-cancelling duplicate
    (the xor blind spot the sum component covers)."""
    from receiptanalyzerpipeline_spark.oracle import compare_setwise, duckdb_connect

    con = duckdb_connect(sf_dir)
    df = spark.createDataFrame(
        [(1, 1.5, "a"), (2, 2.5, "b"), (3, float("nan"), None)],
        ["k", "v", "s"],
    )
    sql = """
        SELECT * FROM (VALUES (CAST(1 AS BIGINT), 1.5, 'a'),
                              (CAST(2 AS BIGINT), 2.5, 'b'),
                              (CAST(3 AS BIGINT), CAST('nan' AS DOUBLE), NULL))
        AS t(k, v, s)
    """
    r = compare_setwise("t_green", df, sql, con, str(tmp_path))
    assert r.ok, str(r)

    flipped = df.withColumn(
        "v", F.when(F.col("k") == 2, 2.5000001).otherwise(F.col("v"))
    )
    r2 = compare_setwise("t_flip", flipped, sql, con, str(tmp_path))
    assert not r2.ok and "digest" in r2.mismatches[-1]

    # Same row twice vs two distinct rows: xor cancels, sum must catch.
    dup = spark.createDataFrame([(1, 1.0, "x"), (1, 1.0, "x")], ["k", "v", "s"])
    sql_dup = """
        SELECT * FROM (VALUES (CAST(1 AS BIGINT), 1.0, 'x'),
                              (CAST(2 AS BIGINT), 2.0, 'y')) AS t(k, v, s)
    """
    r3 = compare_setwise("t_dup", dup, sql_dup, con, str(tmp_path))
    assert not r3.ok
