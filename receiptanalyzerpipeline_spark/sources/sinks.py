"""Sinks (SURVEY §2.1 K1-K6): curated-table writers with the 100 TB layout.

Reference → engine:

    K1 batched ORM insert (db.py:9-13)       → partitioned parquet append /
                                               JDBC batch write
    K2 create_all DDL (main.py:135-141)      → none: a table is created by
                                               its first write
    K3 Alembic add-column migration          → mergeSchema-on-read append
       (migrations/versions/e5c6...py:20-28)   (schema evolution without
                                               rewrites)
    K4 move-to-S3 (watcher.py:104-118)       → same writers against s3a://
                                               URIs (Hadoop S3A); no code
                                               difference
    K6 rename-to-hash (anarcptlib.py:155-159)→ hash is a column; physical
                                               layout = hash-prefix
                                               partition, not a rename

Layout policy (SURVEY N7): curated receipt tables partition by month
(time-pruned scans for the dominant date-range queries); raw/dedup zones
partition by 2-hex hash prefix (256 uniform buckets, co-locates the
dedup join key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def write_partitioned_by_month(
    df: DataFrame, path: str, ts_col: str = "receipt_date", mode: str = "append"
) -> None:
    """Append with month partitions: `<path>/month=YYYY-MM/part-*.parquet`.
    NULL dates land in a literal `month=unknown` partition instead of
    failing (reference defaults unparsed dates, we quarantine them)."""
    with_month = df.withColumn(
        "month",
        F.coalesce(F.date_format(F.col(ts_col), "yyyy-MM"), F.lit("unknown")),
    )
    with_month.write.partitionBy("month").mode(mode).parquet(path)


def write_partitioned_by_hash_prefix(
    df: DataFrame, path: str, hash_col: str = "ahash", mode: str = "append"
) -> None:
    """Append with 2-hex-char hash-prefix partitions (256 uniform buckets) —
    the physical form of the reference's rename-to-hash layout."""
    with_prefix = df.withColumn("hash_prefix", F.substring(F.col(hash_col), 1, 2))
    with_prefix.write.partitionBy("hash_prefix").mode(mode).parquet(path)


def append_evolving(df: DataFrame, path: str) -> None:
    """Schema-evolution-safe append (K3): new columns may appear in later
    writes; readers see the union via read_evolved."""
    df.write.mode("append").parquet(path)


_DROP_MASK = "_dropped_columns.json"


def drop_columns(path: str, *cols: str) -> None:
    """ALTER TABLE DROP COLUMN as projection masking (K3 downgrade path —
    the reference's Alembic migration drops ``other_data`` on downgrade,
    /root/reference/migrations/versions/e5c6e71f62a6_initial_migration.py:24-28).
    No data files are rewritten: the dropped names are recorded in a tiny
    mask file next to the data and read_evolved projects them away — an
    O(1) metadata commit at any table size, and reversible (undrop) since
    the bytes remain until a compaction rewrites them."""
    import json
    from pathlib import Path

    mask = Path(path) / _DROP_MASK
    dropped = set(json.loads(mask.read_text())) if mask.exists() else set()
    dropped.update(cols)
    mask.write_text(json.dumps(sorted(dropped)))


def undrop_columns(path: str, *cols: str) -> None:
    """Reverse drop_columns for columns whose data files still carry the
    bytes (no compaction yet) — the Alembic upgrade direction."""
    import json
    from pathlib import Path

    mask = Path(path) / _DROP_MASK
    dropped = set(json.loads(mask.read_text())) if mask.exists() else set()
    dropped.difference_update(cols)
    mask.write_text(json.dumps(sorted(dropped)))


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read an evolving parquet table with the merged (union) schema minus
    any mask-dropped columns — the engine's ALTER TABLE ADD/DROP COLUMN."""
    import json
    from pathlib import Path

    df = spark.read.option("mergeSchema", "true").parquet(path)
    mask = Path(path) / _DROP_MASK
    if mask.exists():
        dropped = [c for c in json.loads(mask.read_text()) if c in df.columns]
        if dropped:
            df = df.drop(*dropped)
    return df


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", **options: str
) -> None:
    """K1 parity sink: batch JDBC write — the engine form of the reference's
    SQLModel insert into SQLite (/root/reference/anarcpt/db.py:9-13).
    Executed in tests against embedded Derby (jdbc:derby:<path>;create=true,
    the in-process JDBC engine Spark ships for its metastore), proving the
    full write+readback path; any other warehouse is the same call with its
    URL/driver."""
    df.write.format("jdbc").option("url", url).option("dbtable", table).options(
        **options
    ).mode(mode).save()


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (``bucketBy`` + optional ``sortBy``): the
    co-located-join layout. Two tables bucketed identically on their join
    key hash-partition at WRITE time, so a later join needs no shuffle
    exchange at all (tests/test_bucketing.py asserts the plan) — at
    100 TB this converts the nightly fact-fact join's dominant cost into
    a one-time write-side cost amortized over every downstream join.
    ``sortBy`` additionally pre-sorts within buckets, letting sort-merge
    join skip its sort."""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(name)


def upsert_by_key(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    version_col: str,
) -> None:
    """MERGE-style upsert into a parquet target without a table format:
    union target + updates, keep the max-``version_col`` row per key,
    rewrite. Equivalent to ``MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED
    INSERT`` with last-writer-wins.

    Scale posture: the rewrite is the cost — at 100 TB this targets ONE
    partition at a time (pair with ``write_partitioned_by_month``'s layout
    and dynamic partition overwrite) or moves to a table format with
    file-level merge (Delta/Iceberg), which keeps this exact dedup
    semantics but rewrites only touched files. The keep-latest dedup is
    one hash shuffle on the key; ties on version break by the remaining
    columns (deterministic under retry).
    """
    import os

    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(),
        *[F.col(c).desc() for c in updates.columns if c not in key_cols and c != version_col],
    )
    if os.path.exists(path):
        current = spark.read.parquet(path)
        merged = current.unionByName(updates.select(*current.columns))
    else:
        merged = updates
    result = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # Parquet sources can't overwrite in place from a plan that reads the
    # same path — materialize through a staging dir, then swap.
    staging = f"{path}.__staging__"
    result.write.mode("overwrite").parquet(staging)
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.replace(staging, path)


def compact(spark: SparkSession, path: str, target_files: int = 1) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ``target_files`` files (coalesce — a repartition-less merge; no
    shuffle). Streaming sinks and per-trigger appends accrete small files
    that degrade scan parallelism bookkeeping at scale; compaction is the
    standing housekeeping job. Returns the file count before compaction.
    """
    import glob as _glob
    import os
    import shutil

    before = len(_glob.glob(os.path.join(path, "*.parquet")))
    df = spark.read.parquet(path)
    staging = f"{path}.__staging__"
    df.coalesce(target_files).write.mode("overwrite").parquet(staging)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(staging, path)
    return before


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
    chunk_tokens: int = 256,
    mode: str = "error",
) -> DataFrame:
    """Export a curated corpus as training shards and return the manifest.

    Layout: ``<path>/shard_id=K/part-*.parquet``, each row carrying its
    concat-then-chunk position (`token_offset`, `chunk_id` — the q_x13
    packing). Shard membership is md5-derived (operators/curation.py):
    reruns, retries, and cluster resizes reproduce identical membership,
    so a resumed export never double-writes a document and a trainer can
    address any chunk deterministically. One window shuffle on shard_id;
    the write itself is partition-local. Returns the per-shard manifest
    (n_docs, total_tokens) the trainer uses to size epochs — computed
    from the written files, not the input, so it doubles as a write
    audit.
    """
    from pyspark.sql import Window

    from receiptanalyzerpipeline_spark.operators.curation import shard_assign
    from receiptanalyzerpipeline_spark.operators.textanalysis import token_count_ws

    spark = df.sparkSession
    staged = df.select(
        "*",
        token_count_ws(F.col(text_col)).cast("long").alias("n_tok"),
        shard_assign(F.col(id_col), n_shards).alias("shard_id"),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = staged.withColumn(
        "token_offset", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    ).withColumn("chunk_id", F.expr(f"token_offset div {int(chunk_tokens)}"))
    packed.write.partitionBy("shard_id").mode(mode).parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy("shard_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
        .orderBy("shard_id")
    )


def zvalue(cols: list, bits: int = 16) -> F.Column:  # type: ignore[name-defined]
    """Interleave the low ``bits`` of integer bucket columns into a Morton
    (Z-order) value — pure bitwise exprs, JVM-side, no UDF. With 2 columns
    at 16 bits the result fits comfortably in a BIGINT."""
    z = F.lit(0).cast("long")
    k = len(cols)
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


def zorder_frame(
    df: DataFrame,
    cols: list[str],
    n_files: int = 16,
    bits: int = 16,
) -> DataFrame:
    """Return ``df`` re-clustered in Z-order on ``cols``: range-partitioned
    into ``n_files`` slices of the Morton curve and sorted within each, so
    each output file owns a compact z-range ⇒ a tight min/max envelope on
    EVERY clustered column. Returns ``df`` unchanged when the input is
    empty or a cluster column is all-NULL (no bounds to bucketize over).

    Each cluster column is mapped into 2^bits equal-width cells with
    ``width_bucket`` over its [min, max] (one 2-scalar agg fetch per
    column — never a per-row collect; heavy value skew would call for
    quantile-based cell edges instead, the Delta range-id variant), the
    cell ids are Morton-interleaved JVM-side. STRING columns cluster by
    their 7-byte UTF-8 prefix embedded as a big-endian integer — a
    left-aligned (zero-padded) prefix compares exactly like the string
    does lexicographically, so zone maps on the raw string stay tight
    and range-prunable.
    """
    from pyspark.sql.types import StringType

    def _ordinal(c: str) -> F.Column:
        if isinstance(df.schema[c].dataType, StringType):
            # 7 bytes = 56 bits: conv() stays positive (no sign flip on
            # high bytes); rpad keeps short strings left-aligned so the
            # integer order equals lexicographic order on the prefix.
            return F.expr(
                f"CAST(conv(hex(rpad(encode(`{c}`, 'UTF-8'), 7, X'00')), 16, 10) AS DOUBLE)"
            )
        return F.col(c).cast("double")

    n_buckets = 1 << bits
    ords = {c: _ordinal(c) for c in cols}
    bounds = df.agg(
        *[
            f
            for c in cols
            for f in (F.min(ords[c]).alias(f"lo_{c}"), F.max(ords[c]).alias(f"hi_{c}"))
        ]
    ).first()
    if any(bounds[f"lo_{c}"] is None for c in cols):
        return df
    bucketized = []
    for c in cols:
        lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
        if lo == hi:
            # Constant column: every row lives in one cell. width_bucket with
            # equal bounds is invalid — pin the cell id to 0 so the column
            # contributes nothing to the z-value instead of corrupting it.
            bucketized.append(F.lit(0))
            continue
        cell = F.width_bucket(
            ords[c], F.lit(float(lo)), F.lit(float(hi)), F.lit(n_buckets)
        )
        # width_bucket: 1..n in range, n+1 at the upper bound — clamp to 0..n-1
        # and map NULL cells to 0 so NULL rows cluster together at the origin.
        bucketized.append(F.coalesce(F.least(cell - 1, F.lit(n_buckets - 1)), F.lit(0)))
    zdf = df.withColumn("__z__", zvalue(bucketized, bits))
    return (
        zdf.repartitionByRange(n_files, "__z__")
        .sortWithinPartitions("__z__")
        .drop("__z__")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Z-order clustered writer: multi-dimensional data skipping without
    partitioning (SURVEY N7 layout policy, Delta OPTIMIZE ZORDER shape).

    A sort on one column gives perfect parquet min/max skipping on that
    column and none on any other; interleaving the bucketized bits of k
    columns gives useful skipping on EVERY clustered column at once — the
    layout for 100 TB fact tables probed by more than one key. See
    ``zorder_frame`` for the mechanics.
    """
    zorder_frame(df, cols, n_files, bits).write.mode("overwrite").parquet(path)
