"""Sinks (SURVEY §2.1 K1-K6): the training-shard export and the Z-order
layout kernel. The curated tables and table maintenance live elsewhere.

Reference → engine:

    K1 batched ORM insert (db.py:9-13)       → idempotent parquet append of
                                               the curated tables
                                               (streaming.ingest.merge_curated);
                                               a JDBC target is Spark's own
                                               df.write.format("jdbc"),
                                               not wrapped here
    K2 create_all DDL (main.py:135-141)      → init-db writes both curated
                                               tables empty with explicit
                                               schemas; otherwise the first
                                               write creates a table
    K3 Alembic add-column migration          → widening snapshot appends
       (migrations/versions/e5c6...py:20-28)   (snapshots._check_append_schema:
                                               old files read NULL for a
                                               new column, nothing rewritten)
    K4 move-to-S3 (watcher.py:104-118)       → the same writers against
                                               s3a:// URIs (Hadoop S3A); no
                                               code difference
    K6 rename-to-hash (anarcptlib.py:155-159)→ the hash is a column (img_id);
                                               no rename and no layout helper

Here: ``write_training_shards`` (the shard export of ``anarcpt-spark
curate``), and ``zvalue``/``zorder_frame``, the Morton kernel behind q_p5
and ``snapshots.compact_snapshot(cluster_by=)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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

