"""Temporal join operators: as-of join and bounded time-range join.

Spark has no ASOF JOIN operator (DuckDB/Pandas do), and a naive
``l.ts >= r.ts`` theta-join degenerates to BroadcastNestedLoopJoin —
O(N×M) and a guaranteed non-starter at 100 TB. Both operators here are
re-expressed as *equi*-shuffle plans so Catalyst picks hash/sort-merge
strategies that scale linearly:

- ``asof_join``: union-then-window. Tag both sides, union by key, and
  carry the right side's payload forward with ``last(..., ignorenulls)``
  over a per-key event-time ordering. Exactly ONE hash shuffle on the key
  plus an in-partition sort — the same cost as a single groupBy — and the
  window frame is running (``rowsBetween(unboundedPreceding, current)``),
  so aggregator state per key is O(1), never a buffered range.
- ``time_range_join``: bucketize event time at the tolerance width and
  tag the build side with the (at most two) buckets any matching probe row
  can fall in, then equi-join on (key, bucket) with the exact range
  predicate as a residual filter. Turns the nested-loop into a shuffled
  equi-join with ≤2× build-side duplication, independent of data volume.

Skew note (100 TB): both shuffles key on the join key; a single hot key
(e.g. a bot user) concentrates in one task. AQE skew-join splitting
(enabled in session defaults) splits it in ``time_range_join``; it does
not apply to ``asof_join``'s window, whose per-key slice must fit a task.

Timestamps are handled as TIMESTAMP_NTZ-safe: epoch arithmetic goes
through ``timestampdiff`` from a fixed NTZ epoch, never a
session-timezone-dependent cast.

Reference parity: the reference engine has no temporal joins; these are
north-star extensions (SURVEY §2.11) in the as-of/range-join family.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "time_range_join"]


def _epoch_seconds(col: str) -> Column:
    """Zone-independent epoch seconds for TIMESTAMP or TIMESTAMP_NTZ."""
    return F.expr(f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance_seconds: int | None = None,
    suffix: str = "_matched",
) -> DataFrame:
    """Backward as-of join: each left row picks the latest right row with
    ``right.ts <= left.ts`` for the same key (LEFT OUTER: unmatched → NULL).

    The right side SHOULD be unique per (key, right_ts); if several right
    rows share a timestamp, the one sorting last on the right payload
    columns wins (make it unique upstream for determinism — e.g.
    ``groupBy(key, ts).agg(max(id))``).

    Returns all left columns plus every non-key right column renamed
    ``<col><suffix>`` (the right timestamp becomes ``<right_ts><suffix>``).
    With ``tolerance_seconds``, matches older than the tolerance are
    nulled out (pandas ``merge_asof(tolerance=...)`` semantics).
    """
    on = list(on)
    rtypes = dict(right.dtypes)
    ltypes = dict(left.dtypes)
    rmatch = [right_ts] + [c for c in right.columns if c not in on and c != right_ts]

    # Side tag orders right rows BEFORE left rows at equal timestamps so the
    # inclusive (<=) match sees a same-instant right row.
    lhs = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    for c in rmatch:
        lhs = lhs.withColumn(f"__r_{c}", F.lit(None).cast(rtypes[c]))
    rhs = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in rmatch],
    )
    for c in left.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(ltypes[c]))
    unioned = lhs.unionByName(rhs.select(*lhs.columns))

    w = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__side", *[f"__r_{c}" for c in rmatch])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__m_{c}")
            for c in rmatch
        ],
    ).filter(F.col("__side") == 1)

    def _gate(c: Column) -> Column:
        if tolerance_seconds is None:
            return c
        # Microsecond granularity: exact in both engines (SECOND-unit diffs
        # truncate in Spark but count boundary crossings in DuckDB).
        age = F.expr(f"timestampdiff(MICROSECOND, __m_{right_ts}, __ts)")
        return F.when(age <= F.lit(int(tolerance_seconds) * 1_000_000), c)

    out = [F.col(c) for c in left.columns]
    out += [_gate(F.col(f"__m_{c}")).alias(f"{c}{suffix}") for c in rmatch]
    return carried.select(*out)


def time_range_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    how: str = "inner",
) -> DataFrame:
    """Join left to right rows with ``left.ts - window <= right.ts <= left.ts``
    for the same key, as a bucketed equi-join (never a nested loop).

    Right rows are tagged with the two epoch buckets (width =
    ``window_seconds``) any matching left row can fall in; the join is an
    equi-join on (key, bucket) and the exact range check is a residual
    predicate. Each true (left, right) match survives in exactly one
    bucket copy — the copy whose tag equals the left row's bucket — so no
    post-join dedup is needed, and an unmatched left row under
    ``how='left'`` appears exactly once (left rows are never exploded).

    ``left_ts`` and ``right_ts`` must be distinct column names (rename
    upstream); right's key columns are dropped after the join.
    """
    if window_seconds <= 0:
        raise ValueError("window_seconds must be positive")
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must have distinct names")
    on = list(on)
    w = int(window_seconds)

    lb = left.withColumn("__lbucket", F.floor(_epoch_seconds(left_ts) / F.lit(w)))
    rb = right.withColumn("__b0", F.floor(_epoch_seconds(right_ts) / F.lit(w)))
    rb = rb.withColumn(
        "__rbucket", F.explode(F.array(F.col("__b0"), F.col("__b0") + 1))
    ).drop("__b0")
    rb = rb.select(
        *[F.col(c).alias(f"__rk_{c}") if c in on else F.col(c) for c in rb.columns]
    )

    cond = F.col("__lbucket") == F.col("__rbucket")
    for k in on:
        cond = cond & (F.col(k) == F.col(f"__rk_{k}"))
    cond = cond & (F.col(right_ts) <= F.col(left_ts))
    # Exact residual at microsecond granularity (second-truncated epochs are
    # only used for bucket tags, where the adjacent-bucket invariant
    # tolerates the ±1 s truncation error).
    cond = cond & (
        F.expr(f"timestampdiff(MICROSECOND, {right_ts}, {left_ts})")
        <= F.lit(w * 1_000_000)
    )

    joined = lb.join(rb, cond, how="left_outer" if how == "left" else how)
    return joined.drop("__lbucket", "__rbucket", *[f"__rk_{k}" for k in on])
