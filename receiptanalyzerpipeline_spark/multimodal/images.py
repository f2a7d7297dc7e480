"""Binary image ingest + perceptual hashing (SURVEY S1/S3, F8, N1/N2).

The reference hashes every receipt image with an 8×8 average hash and
renames the file to the hash so duplicates collide
(anarcpt/anarcptlib.py:145-161). Here the same aHash is a column:

    read_images      binaryFile scan (path, modificationTime, length, content)
    with_ahash       Arrow-batched pandas UDF: content → 16-hex-char aHash
                     + the same hash as int64 for Hamming arithmetic
    ahash_neardup_pairs   banded Hamming join (SURVEY N2) — bit_count(a^b)

Decode is pluggable (this container has no PIL):
- PIL present → real decode + 8×8 grayscale resize (reference parity).
- ``STUB8x8:`` + 64 raw luma bytes → deterministic test format; the aHash
  *algorithm* (mean-threshold bits) is identical, so hashing, dedup and
  Hamming plumbing are fully exercised without an image library.
- anything else → md5-derived pseudo-luma (deterministic fake decode),
  clearly marked: replace with a real codec on a cluster with PIL/OpenCV.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

STUB_MAGIC = b"STUB8x8:"

try:  # pragma: no cover - container has no PIL; real clusters may
    from PIL import Image  # type: ignore

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def read_images(spark: SparkSession, path: str, glob: str = "*.{png,jpg,jpeg}") -> DataFrame:
    """binaryFile scan of an image directory (columns: path,
    modificationTime, length, content). The glob replaces the reference's
    extension/validity filters (anarcptlib.py:146-150, watcher.py:57-61)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def _decode_to_gray8x8(content: bytes) -> np.ndarray:
    """bytes → 8×8 float grayscale. See module docstring for the decode
    ladder (PIL → stub format → md5 pseudo-luma)."""
    if content.startswith(STUB_MAGIC) and len(content) >= len(STUB_MAGIC) + 64:
        raw = content[len(STUB_MAGIC) : len(STUB_MAGIC) + 64]
        return np.frombuffer(raw, dtype=np.uint8).astype(np.float64).reshape(8, 8)
    if _HAVE_PIL:  # pragma: no cover
        import io

        img = Image.open(io.BytesIO(content)).convert("L").resize((8, 8), Image.LANCZOS)
        return np.asarray(img, dtype=np.float64)
    # Deterministic fake decode: md5-expanded pseudo-luma. NOT a real codec —
    # stands in only where no image library exists.
    h = hashlib.md5(content).digest() + hashlib.md5(content + b"1").digest() + \
        hashlib.md5(content + b"2").digest() + hashlib.md5(content + b"3").digest()
    return np.frombuffer(h, dtype=np.uint8).astype(np.float64).reshape(8, 8)


def _ahash_hex(content: bytes | None) -> str | None:
    """8×8 average hash, rendered like imagehash: 64 bits (row-major,
    MSB-first per row) → 16 hex chars (anarcptlib.py:152-153 parity)."""
    if content is None:
        return None
    g = _decode_to_gray8x8(bytes(content))
    bits = (g > g.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return format(val, "016x")


@functools.lru_cache(maxsize=1)
def ahash_column(sc: SparkContext, content_col: str = "content") -> Column:
    """The aHash of ``content_col`` as a 16-hex string: an Arrow-batched
    pandas UDF, built (and its function pickled) once per SparkContext.
    Unlike a built-in expression, the UDF carries its context's Python
    accumulator, so a restarted context must not reuse it."""

    @F.pandas_udf("string")
    def _ahash(content: pd.Series) -> pd.Series:
        return content.map(_ahash_hex)

    return _ahash(F.col(content_col))


def with_ahash(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Add ``ahash`` (16-hex string) + ``ahash_bits`` (int64, two's
    complement of the 64-bit hash) columns. Arrow-batched; decode+hash run
    executor-side, embarrassingly parallel across partitions."""
    out = df.withColumn("ahash", ahash_column(df.sparkSession.sparkContext, content_col))
    # hex → signed int64 with exact bit pattern: shiftleft wraps (Java <<),
    # which IS two's complement — a plain high*2^32 multiply would overflow
    # under ANSI mode for hashes with the top bit set.
    high = F.conv(F.substring(F.col("ahash"), 1, 8), 16, 10).cast("bigint")
    low = F.conv(F.substring(F.col("ahash"), 9, 8), 16, 10).cast("bigint")
    return out.withColumn(
        "ahash_bits",
        F.when(F.col("ahash").isNotNull(), F.shiftleft(high, 32) + low),
    )


def ahash_neardup_pairs(df: DataFrame, id_col: str = "path", max_hamming: int = 2) -> DataFrame:
    """Near-duplicate image pairs: Hamming(aHash) ≤ k via 4×16-bit banded
    join (pigeonhole-complete for k ≤ 3), the image analogue of
    operators.dedup.simhash_pairs — extends the reference's exact-collision
    dedup to perceptual near-dups (SURVEY N2)."""
    n_bands, band_bits = 4, 16
    bands = df.select(
        F.col(id_col).alias("doc_id"),
        F.col("ahash_bits").alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("ahash_bits"), i * band_bits)
                        .bitwiseAND((1 << band_bits) - 1)
                        .alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def exact_dedup_by_ahash(df: DataFrame, order_col: str = "path") -> DataFrame:
    """Keep one survivor per aHash — the reference's rename-collision
    semantics (anarcptlib.py:155-159) as a deterministic window op."""
    w = Window.partitionBy("ahash").orderBy(F.col(order_col))
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")

