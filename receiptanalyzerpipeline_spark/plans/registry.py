"""Typed query registry: one entry per declared query (SURVEY.md §2.12).

Each entry pairs a Spark DataFrame program with the ANSI-SQL oracle that
DuckDB runs on the same parquet tables. The driver's correctness gate
(CORRECTNESS_r{N}.json) compares row-count + schema + order-insensitive
value-hash between the two, with columns sorted by name — so every
computed column is aliased identically on both sides.

Determinism rules baked into every entry (SURVEY.md §7.3.1, tightened
after round 1 — VERDICT.md found the driver compares through the pandas
fetch path, where DuckDB DECIMAL/HUGEINT/DATE all collapse to float64 /
datetime64 while Spark keeps Decimal objects / int64 / date objects):

- **Output-type contract**: final projections contain ONLY BIGINT,
  DOUBLE, STRING, BOOLEAN, TIMESTAMP (naive micros), or arrays thereof.
  Never DECIMAL (Spark pandas: ``Decimal('17.00')`` vs DuckDB ``17.0``),
  never DATE (``date`` object vs ``datetime64`` midnight), never a
  DuckDB-side integer SUM left un-cast (HUGEINT → float64 ``5.0``).
- Money math happens in DECIMAL: inputs cast to DECIMAL(18,2) *before*
  aggregation (decimal sums are exact ⇒ shuffle/partition order can't
  change the result); the FINAL column is cast DECIMAL→DOUBLE on both
  engines — one exact decimal value → one identical IEEE double.
- A query's presentation ORDER BY is declared once, in ``order``: the
  builder and the oracle SQL are unsorted bodies, and ``Query.spark`` /
  ``Query.oracle`` apply the same ascending, NULLS FIRST column list on
  both engines. Sorts with semantics — top-k (sort + LIMIT), window
  orderings, a sort feeding further computation — stay in the body.
- Averages of decimals are computed as CAST(decimal_sum AS DOUBLE)/count:
  one IEEE division of identical operands — identical bits in both
  engines — instead of engine-specific decimal-division scale rules.
- **DECIMAL→DOUBLE casts whose scaled integer value can exceed 2^53 go
  through VARCHAR on the DuckDB side** (``CAST(CAST(x AS VARCHAR) AS
  DOUBLE)``): DuckDB's direct decimal→double cast double-rounds
  (int128→double, then ÷10^scale — observed: 7096786968835.8685 →
  ...869 instead of the correctly rounded ...868), while Spark's
  BigDecimal.doubleValue and DuckDB's string→double parse are both
  correctly rounded. Reachable for scale-4/6 sums of decimal products
  (OLS moments, disc-price revenue, scale-6 profiling totals).
- Double columns are only ever *passed through* (bit-identical from the
  shared parquet) or rounded-via-decimal-cast at a scale where binary
  doubles cannot sit on a rounding tie.
- Window orderings carry a unique tiebreaker column; rank()/dense_rank()
  may be computed over non-unique orderings (their outputs depend only on
  key values) but row_number() never is.
- Timestamps flow as naive-UTC in both engines (session tz pinned UTC).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]


class Query:
    """One registered query: an unsorted Spark ``body`` and DuckDB
    ``oracle_body``, presented in ``order`` by ``spark`` and ``oracle``."""

    def __init__(
        self,
        name: str,
        spark: SparkFn,
        oracle: str | None,  # ANSI SQL for DuckDB; None → driver does rows-only check
        doc: str = "",
        tags: tuple[str, ...] = (),
        bench: bool = False,  # part of the headline bench set (bench.py)
        order: tuple[str, ...] = (),
    ) -> None:
        self.name, self.body, self.oracle_body = name, spark, oracle
        self.doc, self.tags, self.bench, self.order = doc, tags, bench, order

    def spark(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        df = self.body(spark, sf_dir)
        return df.orderBy(*self.order) if self.order else df

    @property
    def oracle(self) -> str | None:
        if self.oracle_body is None or not self.order:
            return self.oracle_body
        keys = ", ".join(f"{c} ASC NULLS FIRST" for c in self.order)
        return f"SELECT * FROM (\n{self.oracle_body}\n) AS _q ORDER BY {keys}"


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
    order: tuple[str, ...] = (),
) -> Callable[[SparkFn], SparkFn]:
    """Decorator: register an unsorted (spark_fn, oracle_sql) body pair
    under ``name``, presented in ``order``."""

    def wrap(fn: SparkFn) -> SparkFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name, fn, oracle, doc, tags, bench, order)
        return fn

    return wrap
