"""Skew mitigation: salted joins and salted aggregation.

AQE's skew-join splitting (on in session defaults,
``spark.sql.adaptive.skewJoin.enabled``) handles moderate skew by
splitting oversized shuffle partitions at runtime — prefer it; it's
free. These operators are for the pathological cases AQE can't fix:

- ``salted_join``: a single hot key whose *build side* row group still
  exceeds one task after splitting. The probe side gets a random-ish
  but DETERMINISTIC salt (hash of a unique column, not ``rand()`` —
  re-execution of a failed task must re-derive the same salt or the
  join duplicates/drops rows); the build side is replicated once per
  salt value. Join key becomes (key, salt): the hot key's rows spread
  over ``n_salts`` tasks.
- ``salted_agg_count/sum``: two-phase aggregation for hot-key groupBys
  — partial agg on (key, salt), final agg on key. (Spark's own
  hash-aggregate already does map-side partial aggregation, which is
  why plain groupBy rarely needs this; it matters for
  ``collect_list``-like holistic aggregates with no partial form.)

Cost model: salting multiplies the replicated side by ``n_salts``.
Only salt when (hot-key rows / task capacity) > 1; at 100 TB that's a
per-key decision — compose with a frequency sketch to salt only keys
above a threshold (``hot_keys`` parameter).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_join", "detect_hot_keys", "auto_salted_join"]


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: Sequence[str],
    n_salts: int = 8,
    salt_from: str | None = None,
    how: str = "inner",
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """Equi-join on ``on`` with the probe side salted and the build side
    replicated ``n_salts``×, spreading hot keys across tasks.

    ``salt_from``: a probe column whose hash derives the salt
    (deterministic under task retry). Defaults to hashing all probe
    columns — pass a unique id column when available.

    ``hot_keys``: optional single-column-per-key DataFrame of keys worth
    salting; when given, only those keys are salted/replicated and the
    rest take the plain join path (a union of two joins — both
    equi-shuffles; the build replication cost shrinks to hot keys only).
    """
    on = list(on)
    if hot_keys is not None:
        flag = F.lit(True).alias("__hot")
        hot = F.broadcast(hot_keys.select(*on, flag).distinct())
        probe_hot = probe.join(hot, on, "left_semi")
        probe_cold = probe.join(hot, on, "left_anti")
        build_hot = build.join(hot, on, "left_semi")
        build_cold = build.join(hot, on, "left_anti")
        salted = salted_join(probe_hot, build_hot, on, n_salts, salt_from, how)
        plain = probe_cold.join(build_cold, on, how)
        return salted.unionByName(plain.select(*salted.columns))

    salt_src = (
        F.col(salt_from) if salt_from else F.struct(*[F.col(c) for c in probe.columns])
    )
    p = probe.withColumn("__salt", F.pmod(F.hash(salt_src), F.lit(n_salts)))
    b = build.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return p.join(b, [*on, "__salt"], how).drop("__salt")


def detect_hot_keys(
    df: DataFrame,
    on: Sequence[str],
    task_capacity_rows: int,
    max_keys: int = 1000,
):
    """Data-driven hot-key detection (the occupancy-targeting idea a third
    time: ``auto_n_planes`` sizes LSH buckets, ``ivf.auto_n_cells``
    sizes IVF cells, THIS sizes join salts). One map-side-combined
    aggregate finds keys whose group exceeds a task's row capacity; the
    heaviest key sets the salt count (ceil(max/capacity)). The returned
    hot-key frame is LIMIT-bounded to ``max_keys`` by descending count —
    bounded driver-side decision data, the MLlib-fit class; if more than
    ``max_keys`` keys are hot, the overflow still benefits from AQE skew
    splitting and the bound is the documented trade.

    Returns (hot_keys DataFrame with the ``on`` columns, n_salts)."""
    import math

    on = list(on)
    counts = df.groupBy(*on).agg(F.count(F.lit(1)).alias("__cnt"))
    hot = (
        counts.where(F.col("__cnt") > task_capacity_rows)
        .orderBy(F.col("__cnt").desc(), *on)
        .limit(max_keys)
    )
    top = hot.agg(F.max("__cnt").alias("m")).first()
    if top["m"] is None:
        return hot.select(*on), 1
    return hot.select(*on), max(2, math.ceil(top["m"] / task_capacity_rows))


def auto_salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: Sequence[str],
    task_capacity_rows: int,
    salt_from: str | None = None,
    how: str = "inner",
    max_keys: int = 1000,
) -> DataFrame:
    """``salted_join`` with the hot-key set and salt count derived from
    the PROBE side's key distribution. No hot keys -> the plain
    equi-join, zero added cost."""
    hot, n_salts = detect_hot_keys(probe, on, task_capacity_rows, max_keys)
    if n_salts == 1:
        return probe.join(build, list(on), how)
    return salted_join(
        probe, build, on, n_salts=n_salts, salt_from=salt_from, how=how, hot_keys=hot
    )
