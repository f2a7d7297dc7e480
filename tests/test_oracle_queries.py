"""Every registered query with an oracle must hash-match DuckDB.

This is a local replica of the driver's correctness gate
(CORRECTNESS_r{N}.json): row-count + schema + order-insensitive
value-hash with columns sorted by name.
"""

from __future__ import annotations

import pytest

from receiptanalyzerpipeline_spark.oracle import compare
from receiptanalyzerpipeline_spark.plans import DRIVER_REGISTRY, REGISTRY

ORACLE_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
NO_ORACLE_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle is None)

# VERDICT r10 task 2 (default-run budget): the default run oracle-checks
# every DRIVER-EXPOSED query (the exact surface the driver grades —
# suites included, so every fused member's values are still covered
# part-wise); the standalone long-tail member variants are redundant
# with their suite's check and run in the slow (full) pass.
_marked = [
    pytest.param(
        n, marks=[] if n in DRIVER_REGISTRY else [pytest.mark.slow]
    )
    for n in ORACLE_QUERIES
]


@pytest.mark.parametrize("name", _marked)
def test_query_matches_oracle(spark, sf_dir, oracle_con, name):
    q = REGISTRY[name]
    df = q.spark(spark, sf_dir)
    # The registry's single ORDER BY names only output columns.
    assert set(q.order) <= set(df.columns), (q.order, df.columns)
    res = compare(name, df, q.oracle, oracle_con)
    assert res.ok, str(res)


@pytest.mark.parametrize("name", NO_ORACLE_QUERIES)
def test_query_runs_and_is_deterministic(spark, sf_dir, name):
    """Rows-only check for non-SQL-expressible ops: runs, ≥0 rows, stable schema,
    and two executions agree (no nondeterminism from shuffles/partitioning)."""
    q = REGISTRY[name]
    df1 = q.spark(spark, sf_dir)
    rows1 = sorted(map(str, df1.collect()))
    df2 = q.spark(spark, sf_dir)
    rows2 = sorted(map(str, df2.collect()))
    assert df1.columns == df2.columns
    assert rows1 == rows2
