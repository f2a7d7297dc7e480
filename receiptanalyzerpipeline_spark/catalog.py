"""Table catalog for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file/dir per table under an ``sf_dir``.

Loading is lazy and declarative (``spark.read.parquet``): Catalyst keeps
column pruning and predicate pushdown available for every downstream
query; nothing here collects or caches eagerly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always ride the broadcast path in joins.
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part", "customer"})


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a lazy DataFrame scan.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects outright. We read nanos as raw INT64
    (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild a microsecond
    timestamp with exact integer division — same truncation DuckDB
    applies when casting TIMESTAMP_NS → TIMESTAMP, so both engines see
    identical values.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Keyed by the session OBJECT, not id(spark): after a session is
    # garbage-collected, CPython reuses addresses, and an id-keyed cache
    # could hand a new session a DataFrame bound to the dead one. The
    # strong reference pins each session for the process lifetime — a few
    # objects at most, and it makes address reuse impossible.
    key = (spark, sf_dir, name)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = _read(spark, sf_dir, name)
    _SCAN_CACHE[key] = df
    return df


# DataFrames are immutable lazy plans, so memoizing the scan per
# (session, sf_dir, table) is semantics-free; it avoids re-listing files and
# re-reading parquet footers (driver-side blocking IO) on every query build.
_SCAN_CACHE: dict[tuple[SparkSession, str, str], DataFrame] = {}


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        from pyspark.sql import functions as F

        from receiptanalyzerpipeline_spark.session import prepare_session

        # Deliberate session prep, not a hidden read side effect: the driver
        # invokes queries on a vanilla SparkSession, so the catalog is the
        # last place that can guarantee the nanos flag before an events scan.
        # See prepare_session for why the flag must outlive this call.
        prepare_session(spark)
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # NTZ, built by exact integer micro-addition: wall-clock identical
            # in every session timezone (timestamp_micros would be zone-shifted).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return spark.read.parquet(path)

