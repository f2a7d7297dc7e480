"""Continuously NEAR-DUP-deduped corpus: a ``foreachBatch`` sink that
keeps a snapshot-table corpus free of MinHash-LSH near-duplicates as
documents stream in — the streaming twin of the batch incremental dedup
(q_d9) and MinHash-LSH (q_d3) operators.

State = two snapshot tables, both exactly-once by batch id:

- ``corpus``: the surviving documents (authoritative — its batch ledger
  decides replay no-ops);
- ``buckets``: (band, vals, doc_id) — the survivors' LSH band buckets,
  the ONLY state the per-batch candidate join needs. New docs probe it
  with a band-bucket equi-join, so each micro-batch costs
  O(batch × collisions), never O(batch × corpus): the same
  banded-never-all-pairs shape as the batch operator, persisted.

Batch algorithm (all building blocks from ``operators/dedup.py``):

1. in-batch: LSH candidate pairs → exact Jaccard → connected components
   → keep each cluster's smallest id (deterministic);
2. vs corpus: survivors' band buckets equi-join the persisted bucket
   table → candidate (new, old) pairs → exact Jaccard against the
   corpus texts → any hit ≥ threshold drops the new doc;
3. commit: buckets first, then corpus, each idempotent by batch id —
   a crash between the two replays into (skip buckets, commit corpus),
   so the pair can never diverge.

100 TB posture: signatures are map-side; both joins are bucketed
equi-joins; the bucket table grows O(survivors × bands) and compacts
like any snapshot table (cluster it by band for probe locality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.operators.components import connected_components
from receiptanalyzerpipeline_spark.operators.dedup import (
    MINHASH_FAMILY,
    minhash_lsh_jaccard_pairs,
    minhash_signatures,
    word_shingles,
)
from receiptanalyzerpipeline_spark.sources import snapshots as snap


def check_minhash_family(*paths: str) -> None:
    """Refuse to probe LSH state written by a different signature hash
    family (ADVICE r10). Signatures from different families never
    collide, so a family change would make every near-dup probe against
    pre-existing state silently miss (estimate ~0, no error) — the
    failure mode this guard turns into a loud construction-time error.
    Non-empty state with NO stamp is treated as unknown-family and also
    refused: it predates the stamp, so nothing proves it matches."""
    for path in paths:
        if not snap.versions(path):
            continue  # fresh table: this sink's own commits will stamp it
        fam = snap.newest_manifest_stamp(path, "minhash_family")
        if fam != MINHASH_FAMILY:
            raise ValueError(
                f"LSH state at {path} was written by MinHash hash family "
                f"{fam or 'unknown (pre-stamp)'} but this engine computes "
                f"{MINHASH_FAMILY}; probing it would silently miss every "
                "near-dup against the existing corpus. Rebuild the state "
                "tables with the current engine (re-run the stream from "
                "the source corpus), or run the matching engine version."
            )


def _band_buckets(sigs: DataFrame, n_hashes: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, vals) — one row per band per doc."""
    n_bands = n_hashes // rows_per_band
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.cast("long").alias("band"),
                    F.slice(
                        F.col("sig"), b * rows_per_band + 1, rows_per_band
                    ).alias("vals"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.vals")


def _exact_jaccard(pairs: DataFrame, k: int) -> DataFrame:
    """pairs must carry text_a/text_b; returns pairs + jaccard."""
    sh_a = F.array_distinct(word_shingles(F.col("text_a"), k))
    sh_b = F.array_distinct(word_shingles(F.col("text_b"), k))
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = (F.size(sh_a) + F.size(sh_b)).cast("double") - inter
    return pairs.withColumn(
        "jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    )


def dedup_in_batch_neardup(
    batch: DataFrame,
    k: int,
    threshold: float,
    n_hashes: int,
    rows_per_band: int,
) -> DataFrame:
    """Drop in-batch near-dups, keeping each LSH cluster's smallest
    doc_id (columns must be (doc_id, text))."""
    pairs = minhash_lsh_jaccard_pairs(
        batch, "doc_id", "text",
        k=k, threshold=threshold, n_hashes=n_hashes, rows_per_band=rows_per_band,
    )
    labels = connected_components(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("__id"), F.col("component").alias("__comp")
    )
    return (
        batch.join(labels, batch["doc_id"] == labels["__id"], "left")
        .where(F.col("__comp").isNull() | (F.col("doc_id") == F.col("__comp")))
        .drop("__id", "__comp")
    )


def minhash_estimate(sig_a, sig_b, n_hashes: int):
    """Unbiased MinHash Jaccard estimate: the fraction of equal signature
    components. Text-free — verifies candidates against persisted
    signatures when the corpus text is not retained."""
    eq = F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda b: b)
    return F.size(eq).cast("double") / F.lit(float(n_hashes))


def neardup_dedup_sink(
    corpus_path: str,
    buckets_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 32,
    rows_per_band: int = 2,
):
    """``foreachBatch`` function maintaining the deduped corpus. Usage::

        stream.writeStream.foreachBatch(
            neardup_dedup_sink(corpus, buckets)
        ).option("checkpointLocation", cp).start()
    """
    # Fail fast if existing bucket state was written by a different (or
    # unstamped) MinHash hash family — see check_minhash_family.
    check_minhash_family(buckets_path)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if snap.batch_committed(corpus_path, batch_id):
            snap._repair_pointer(corpus_path)
            snap._repair_pointer(buckets_path)
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )

        # 1. In-batch near-dup clusters → keep each cluster's smallest id.
        batch = dedup_in_batch_neardup(batch, k, threshold, n_hashes, rows_per_band)

        # 2. Probe the persisted bucket state for corpus near-dups.
        sigs = minhash_signatures(batch, "doc_id", "text", k=k, n_hashes=n_hashes)
        bb = _band_buckets(sigs, n_hashes, rows_per_band)
        if snap.current_version(buckets_path) is not None:
            state = snap.read_snapshot(spark, buckets_path)
            cands = (
                bb.alias("n")
                .join(
                    state.alias("o"),
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.vals") == F.col("o.vals")),
                )
                .select(
                    F.col("n.doc_id").alias("new_id"),
                    F.col("o.doc_id").alias("old_id"),
                )
                .distinct()
            )
            corpus = snap.read_snapshot(spark, corpus_path).select(
                F.col(id_col).alias("old_id"), F.col(text_col).alias("text_b")
            )
            scored = _exact_jaccard(
                cands.join(
                    batch.select(
                        F.col("doc_id").alias("new_id"), F.col("text").alias("text_a")
                    ),
                    "new_id",
                ).join(corpus, "old_id"),
                k,
            )
            dupes = (
                scored.where(F.col("jaccard") >= threshold)
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            batch = batch.join(dupes, "doc_id", "left_anti")

        # 3. Commit survivors: buckets first, then corpus (both idempotent
        # by batch id — see module docstring for the crash-window argument).
        survivors = batch.select(
            F.col("doc_id").alias(id_col), F.col("text").alias(text_col)
        )
        surv_buckets = _band_buckets(
            minhash_signatures(batch, "doc_id", "text", k=k, n_hashes=n_hashes),
            n_hashes,
            rows_per_band,
        )
        if not snap.batch_committed(buckets_path, batch_id):
            snap.write_snapshot(
                surv_buckets, buckets_path, mode="append",
                manifest_extra={
                    "batch_id": batch_id,
                    "minhash_family": MINHASH_FAMILY,
                },
            )
        snap.write_snapshot(
            survivors, corpus_path, mode="append",
            manifest_extra={"batch_id": batch_id},
        )

    return commit
