"""Corrupt-file policy at the batch source: a parquet scan with
``ignoreCorruptFiles`` skips a garbage file in its directory instead of
failing (SURVEY P6)."""

from __future__ import annotations


def test_corrupt_file_policy(spark, tmp_path):
    """P6 corrupt-file policy: with ignoreCorruptFiles a scan survives a
    garbage file in the directory (per-file error isolation at the source,
    the batch sibling of the OCR quarantine contract)."""
    path = tmp_path / "data"
    spark.range(100).write.parquet(str(path))
    (path / "junk.parquet").write_bytes(b"\x00not-a-parquet-file")
    # Explicit schema: inference itself reads footers and would trip on the
    # junk file before the per-file policy applies.
    good = (
        spark.read.schema("id long")
        .option("ignoreCorruptFiles", "true")
        .parquet(str(path))
        .count()
    )
    assert good == 100
