"""Streaming curation end-to-end (VERDICT r4 task 8): the batch
``curate`` pipeline — quality → exact-content dedup → shard export — as
ONE checkpointed Structured Streaming topology.

Shape: a document file stream drives ``foreachBatch``; each micro-batch

1. applies the same ``quality_filter`` as the ``curate`` CLI and q_x24
   (operators/curation.py),
2. dedups exactly on the same ``content_fingerprint``: within the batch
   (operators/dedup.exact_dedup, first id per fingerprint) AND against
   the accumulated corpus via an anti-join on the snapshot table's
   fingerprints — the "stateful" half, whose state is the snapshot
   table itself, not an in-memory store, so state survives any restart
   and is queryable/AS-OF-readable like any table (sources/snapshots.py),
3. merges survivors into the snapshot (version = micro-batch id), and
4. exports the survivors' shard rows under ``shards/data/snap-<batch>``.

Exactly-once: the snapshot manifest is the COMMIT RECORD. Shard files are
written (overwrite, into a per-batch directory — idempotent) BEFORE the
snapshot commit; a replayed batch whose manifest already exists skips
both writes wholesale (sources/snapshots.snapshot_sink contract). So a
crash at any point re-delivers the batch and the redelivery either
re-does both writes identically or no-ops.

Batch-parity: shard membership (doc_id → shard_id) is md5-derived
(operators/curation.shard_assign), so membership is IDENTICAL to the
batch ``curate`` CLI on the same corpus — chunk offsets are the one
deliberate difference (batch packs offsets over the whole shard at write
time; streaming packs per delivery). Dedup keeps the FIRST-ARRIVED copy
of each content fingerprint (ties within a batch: smallest id), which
equals the batch pipeline's smallest-id-wins whenever arrival order is
id order; under other arrival orders the SET of surviving fingerprints is
identical and only the representative id may differ (documented
divergence, same class as SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.operators import curation as C
from receiptanalyzerpipeline_spark.operators.dedup import exact_dedup
from receiptanalyzerpipeline_spark.operators.textanalysis import content_fingerprint
from receiptanalyzerpipeline_spark.sources import snapshots as snap

# Near-dup LSH parameters: MinHash(32) in 16 bands of 2 rows over word
# 3-shingles, Jaccard threshold 0.5 — the batch near-dup queries' values.
ND_K, ND_THRESHOLD, ND_N_HASHES, ND_ROWS_PER_BAND = 3, 0.5, 32, 2
# Files per state commit in the bucketed layout (fewer when N is smaller).
BUCKET_FILES = 8


def _fpb(col, n_buckets: int):
    """Deterministic fingerprint bucket: the state-table cluster key."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _bb(n_buckets: int):
    """Band-bucket cluster key for the LSH state table (over band+vals)."""
    return F.pmod(F.xxhash64("band", "vals"), F.lit(n_buckets)).cast("int")


def curation_sink(
    snapshot_path: str,
    shards_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
    near_dedup: bool = False,
    bucket_fps: int | None = None,
):
    """``foreachBatch`` commit function for the streaming curation loop.

    ``near_dedup`` adds MinHash-LSH near-dup filtering (the streaming
    counterpart of ``curate --near-dedup``): in-batch clusters keep their
    smallest id; vs-corpus candidates come from a persisted band-bucket
    table and are verified TEXT-FREE against persisted signatures with
    the unbiased MinHash estimator (fraction of equal components) — the
    curation state keeps no document text. Policy note: streaming keeps
    the FIRST-ARRIVED member of each near-dup cluster (causal — future
    docs are unknown); the batch CLI keeps the longest (q_d10). The LSH
    state lives in two snapshot tables beside the fingerprint snapshot
    (``<snapshot>_lshb`` buckets, ``<snapshot>_lshs`` signatures), each
    exactly-once by batch id and committed BEFORE the authoritative
    fingerprint manifest.

    ``bucket_fps`` (VERDICT r5 task 4) turns on the BUCKETED state
    layout: the fingerprint snapshot carries a ``_fpb`` cluster column
    (xxhash64(fp) mod N) with zone maps from the first commit on, each
    batch's state files are range-partitioned on it (``BUCKET_FILES``
    files per batch, tight per-file ranges), and the per-batch anti-join
    reads ONLY the state files whose range overlaps the BATCH's own
    bucket set (``read_snapshot_in``) — so the corpus side of the dedup
    join scans O(|batch buckets| / N) of the table instead of all of it.
    The same layout applies to the near-dup band-bucket table (cluster
    key ``_bb`` over (band, vals))."""
    import os
    from pathlib import Path

    buckets_path, sigs_path = f"{snapshot_path}_lshb", f"{snapshot_path}_lshs"
    # Fail fast on a bucket-modulus change (ADVICE r6): file zone maps
    # were written under the stamped N — probing them with bucket ids
    # computed under a different modulus silently prunes files that hold
    # matching fingerprints (duplicates readmitted, near-dups missed).
    for p in (snapshot_path, buckets_path):
        stamped = snap.newest_manifest_stamp(p, "bucket_fps")
        if stamped is not None and int(stamped) != (bucket_fps or 0):
            raise ValueError(
                f"bucket_fps={bucket_fps or 0} does not match the modulus "
                f"{stamped} stamped into {p}'s manifests; restarting the "
                "stream with a different N would mis-prune the bucketed "
                "state probe. Rebuild the state tables or reuse the "
                "stamped value."
            )
    if near_dedup:
        # Fail fast on a MinHash hash-family mismatch with persisted LSH
        # state (ADVICE r10) — see neardup_stream.check_minhash_family.
        from receiptanalyzerpipeline_spark.streaming.neardup_stream import (
            check_minhash_family,
        )

        check_minhash_family(buckets_path, sigs_path)
    snapshot_commit = snap.snapshot_sink(
        snapshot_path,
        cluster_by=["_fpb"] if bucket_fps else None,
        manifest_extra={"bucket_fps": bucket_fps or 0},
    )

    def _bucketed(df: DataFrame, col: str) -> DataFrame:
        """Range-partition + sort a state batch by its bucket column so
        every output file carries a tight [min, max] zone range."""
        n = min(BUCKET_FILES, max(1, bucket_fps))
        return df.repartitionByRange(n, col).sortWithinPartitions(col)

    def _prior_fps(in_batch: DataFrame) -> DataFrame | None:
        """The corpus fingerprints to anti-join against (None = no prior
        state); the bucketed layout prunes the read by the BATCH's own
        buckets."""
        if not snap.versions(snapshot_path):
            return None
        spark = in_batch.sparkSession
        if not bucket_fps:
            return snap.read_snapshot(spark, snapshot_path).select("fp")
        # The batch's own bucket set (bounded by batch size) prunes the
        # state read before the anti-join ever shuffles anything.
        touched = {
            r["b"]
            for r in in_batch.select(
                _fpb(F.col("fp"), bucket_fps).alias("b")
            ).distinct().collect()
        }
        return snap.read_snapshot_in(
            spark, snapshot_path, "_fpb", touched
        ).select("fp")

    def _committed_state_version(state_path: str) -> int | None:
        """Newest version of an LSH state table whose batch is ALSO
        committed in the authoritative fingerprint table.

        LSH state commits strictly BEFORE the fingerprint manifest, so a
        crash in that window leaves the state table one version ahead,
        containing the batch's own docs. A replay that probed that
        orphaned version would self-match every doc (MinHash estimate
        1.0) and silently drop the whole batch. Only versions the
        fingerprint ledger acknowledges are probe-safe; versions without
        a batch_id (maintenance commits like compaction) are always
        derived from acknowledged data and count as committed."""
        for v in reversed(snap.versions(state_path)):
            bid = snap._read_manifest(state_path, v).get("batch_id")
            if bid is None or snap.batch_committed(snapshot_path, bid):
                return v
        return None

    def _neardup_filter(fresh: DataFrame) -> DataFrame:
        from receiptanalyzerpipeline_spark.operators.dedup import minhash_signatures
        from receiptanalyzerpipeline_spark.streaming.neardup_stream import (
            _band_buckets,
            dedup_in_batch_neardup,
            minhash_estimate,
        )

        spark = fresh.sparkSession
        batch = fresh.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        batch = dedup_in_batch_neardup(
            batch, ND_K, ND_THRESHOLD, ND_N_HASHES, ND_ROWS_PER_BAND
        )
        sigs = minhash_signatures(batch, "doc_id", "text", k=ND_K, n_hashes=ND_N_HASHES)
        v_b = _committed_state_version(buckets_path)
        v_s = _committed_state_version(sigs_path)
        if v_b is not None and v_s is not None:
            bb = _band_buckets(sigs, ND_N_HASHES, ND_ROWS_PER_BAND)
            if bucket_fps:
                touched = {
                    r["b"]
                    for r in bb.select(_bb(bucket_fps).alias("b"))
                    .distinct()
                    .collect()
                }
                state_b = snap.read_snapshot_in(
                    spark, buckets_path, "_bb", touched, version=v_b
                )
            else:
                state_b = snap.read_snapshot(spark, buckets_path, version=v_b)
            cands = (
                bb.alias("n")
                .join(
                    state_b.alias("o"),
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.vals") == F.col("o.vals")),
                )
                .select(
                    F.col("n.doc_id").alias("new_id"),
                    F.col("o.doc_id").alias("old_id"),
                )
                .distinct()
            )
            state_s = snap.read_snapshot(spark, sigs_path, version=v_s).select(
                F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_old")
            )
            est = minhash_estimate(F.col("sig"), F.col("sig_old"), ND_N_HASHES)
            dupes = (
                cands.join(sigs.withColumnRenamed("doc_id", "new_id"), "new_id")
                .join(state_s, "old_id")
                .where(est >= ND_THRESHOLD)
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            batch = batch.join(dupes, "doc_id", "left_anti")
        return fresh.join(
            batch.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
        )

    def _commit_lsh_state(fresh: DataFrame, batch_id: int) -> None:
        from receiptanalyzerpipeline_spark.operators.dedup import minhash_signatures
        from receiptanalyzerpipeline_spark.streaming.neardup_stream import _band_buckets

        sigs = minhash_signatures(
            fresh.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
            "doc_id", "text", k=ND_K, n_hashes=ND_N_HASHES,
        )
        from receiptanalyzerpipeline_spark.operators.dedup import MINHASH_FAMILY

        if not snap.batch_committed(buckets_path, batch_id):
            state_b = _band_buckets(sigs, ND_N_HASHES, ND_ROWS_PER_BAND)
            extra: dict = {
                "batch_id": batch_id,
                "bucket_fps": bucket_fps or 0,
                "minhash_family": MINHASH_FAMILY,
            }
            kw: dict = {}
            if bucket_fps:
                state_b = _bucketed(
                    state_b.withColumn("_bb", _bb(bucket_fps)), "_bb"
                )
                if snap.current_version(buckets_path) is None:
                    # Bootstrap: declare the cluster key with the first
                    # commit; later appends propagate stats themselves.
                    extra["cluster_by"] = ["_bb"]
                    kw["stats_cols"] = ["_bb"]
            snap.write_snapshot(
                state_b, buckets_path, mode="append", manifest_extra=extra, **kw,
            )
        if not snap.batch_committed(sigs_path, batch_id):
            snap.write_snapshot(
                sigs, sigs_path, mode="append",
                manifest_extra={
                    "batch_id": batch_id,
                    "minhash_family": MINHASH_FAMILY,
                },
            )

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if snap.batch_committed(snapshot_path, batch_id):
            # Replay of a committed batch: shards were written before the
            # manifest, so both exist — no-op (pointer repair only).
            snapshot_commit(batch_df.limit(0), batch_id)
            return
        # Quality and in-batch exact dedup are the batch pipeline's own
        # stage functions; survivors then anti-join the corpus state.
        fresh = exact_dedup(
            C.quality_filter(batch_df, id_col, text_col), text_col, id_col
        ).withColumn("fp", content_fingerprint(F.col(text_col)))
        prior_fps = _prior_fps(fresh)
        if prior_fps is not None:
            fresh = fresh.join(prior_fps, "fp", "left_anti")
        if near_dedup:
            fresh = _neardup_filter(fresh)
        fresh = fresh.persist()
        try:
            shard_rows = fresh.select(
                id_col,
                text_col,
                C.shard_assign(F.col(id_col), n_shards).alias("shard_id"),
            )
            data_dir = Path(shards_path) / "data" / f"snap-{batch_id}"
            os.makedirs(data_dir.parent, exist_ok=True)
            shard_rows.write.mode("overwrite").parquet(str(data_dir))
            if near_dedup:
                # LSH state commits FIRST (each idempotent by batch id):
                # a crash between them and the fingerprint manifest
                # replays into skip-state + commit-fingerprints, and the
                # replay's probe reads state AS OF the last fingerprint-
                # acknowledged version (_committed_state_version) so the
                # orphaned attempt's own docs can't self-match.
                _commit_lsh_state(fresh, batch_id)
            # Commit point: snapshot manifest (id + fingerprint only — the
            # dedup state later batches anti-join against; bucketed
            # layout adds the _fpb cluster key, range-partitioned so
            # every state file carries a tight bucket range).
            fps = fresh.select(id_col, "fp")
            if bucket_fps:
                fps = _bucketed(
                    fps.withColumn("_fpb", _fpb(F.col("fp"), bucket_fps)), "_fpb"
                )
            snapshot_commit(fps, batch_id)
        finally:
            fresh.unpersist(blocking=False)

    return commit


def run_streaming_curation(
    spark: SparkSession,
    input_dir: str,
    snapshot_path: str,
    shards_path: str,
    checkpoint: str,
    schema,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    **sink_kwargs,
):
    """Wire the full topology; returns the started StreamingQuery."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            curation_sink(snapshot_path, shards_path, **sink_kwargs)
        ).option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_shard_membership(spark: SparkSession, shards_path: str) -> DataFrame:
    """(id, shard_id) over every committed batch export."""
    return spark.read.parquet(f"{shards_path}/data/snap-*")
