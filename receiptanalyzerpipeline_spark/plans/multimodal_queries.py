"""Multimodal queries (SURVEY N5/N2, FIXTURES.md A5): perceptual hashing
and near-dup detection over binary image columns, golden-checked.

The fixture "images" use the engine's documented STUB8x8 byte format
(multimodal/images.py): the aHash *algorithm* (8×8 mean-threshold, hex
rendering, int64 bit pattern) is fully real; only the codec is stubbed in
this PIL-less container. Goldens are hand-computed from the pixel values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from receiptanalyzerpipeline_spark.multimodal.images import (
    STUB_MAGIC,
    ahash_neardup_pairs,
    with_ahash,
)
from receiptanalyzerpipeline_spark.plans.registry import register


def _stub(pixels: list[int]) -> bytes:
    return STUB_MAGIC + bytes(pixels)


# 32 dark / 32 bright: one dark→bright flip moves exactly one hash bit.
FIXTURE_IMAGES: dict[str, bytes] = {
    "scan_a": _stub([10] * 32 + [200] * 32),
    "scan_a_copy": _stub([10] * 32 + [200] * 32),  # exact duplicate
    "scan_b": _stub([200] + [10] * 31 + [200] * 32),  # 1-bit near-dup of a
    "scan_c": _stub([0, 255] * 32),  # unrelated checkerboard
}


def images_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(name, content) for name, content in sorted(FIXTURE_IMAGES.items())],
        ["path", "content"],
    )


@register(
    "q_m1_image_ahash",
    oracle="""
        SELECT * FROM (VALUES
            ('scan_a',      '00000000ffffffff', CAST(4294967295 AS BIGINT)),
            ('scan_a_copy', '00000000ffffffff', CAST(4294967295 AS BIGINT)),
            ('scan_b',      '80000000ffffffff', CAST(-9223372032559808513 AS BIGINT)),
            ('scan_c',      '5555555555555555', CAST(6148914691236517205 AS BIGINT))
        ) AS t(path, ahash, ahash_bits)
    """,
    doc=(
        "Perceptual image hash as a column (reference F8, anarcptlib.py:145-161): "
        "binary content → 16-hex aHash + int64 bit pattern, golden-checked."
    ),
    tags=("multimodal", "hash", "golden"),
)
def q_m1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_ahash(images_df(spark)).select("path", "ahash", "ahash_bits")


@register(
    "q_m2_image_neardup",
    oracle="""
        SELECT * FROM (VALUES
            ('scan_a', 'scan_a_copy', CAST(0 AS BIGINT)),
            ('scan_a', 'scan_b', CAST(1 AS BIGINT)),
            ('scan_a_copy', 'scan_b', CAST(1 AS BIGINT))
        ) AS t(id_a, id_b, hamming)
    """,
    doc=(
        "Near-duplicate images by aHash Hamming ≤ 2 via pigeonhole-banded "
        "join (SURVEY N2): exact dup at 0 bits, crafted near-dup at 1 bit, "
        "checkerboard excluded."
    ),
    tags=("multimodal", "dedup", "golden"),
    order=("id_a", "id_b"),
)
def q_m2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    pairs = ahash_neardup_pairs(with_ahash(images_df(spark)), max_hamming=2)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))
