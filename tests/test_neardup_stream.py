"""Streaming near-dup dedup (streaming/neardup_stream.py): persisted LSH
bucket state, in-batch keep-min clustering, corpus-probe drops, and
exactly-once replay across both state tables."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.sources import snapshots as snap
from receiptanalyzerpipeline_spark.streaming.neardup_stream import neardup_dedup_sink

BASE_A = (
    "the quick brown fox jumps over the lazy dog while the curious cat "
    "watches from the tall green fence near the quiet garden path today"
)
BASE_C = (
    "distributed query engines schedule shuffle exchanges across executor "
    "nodes while the optimizer prunes columns and pushes filters into scans"
)
DISTINCT_B = (
    "completely unrelated prose about baking sourdough bread with a slow "
    "overnight fermentation and a very hot dutch oven for the final crust"
)
DISTINCT_D = (
    "alpine meadows bloom in late june when the snowpack melts and the "
    "marmots emerge to whistle warnings across the high granite slopes"
)


def _run(spark, landing, corpus, buckets, cp):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = (
        stream.writeStream.foreachBatch(neardup_dedup_sink(corpus, buckets))
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)


def test_streaming_neardup_corpus_stays_deduped(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    corpus, buckets = str(tmp_path / "corpus"), str(tmp_path / "buckets")

    # Batch 0: two distinct docs — both survive.
    # Batch 1: near-dup of A (vs corpus), new doc C, and an in-batch
    #          near-dup pair (C, C') where C has the smaller id.
    batches = [
        [(1, BASE_A), (2, DISTINCT_B)],
        [
            (10, BASE_A + " with one extra trailing clause appended here"),
            (11, BASE_C),
            (12, BASE_C + " plus a small appended suffix for this twin"),
        ],
    ]
    for i, rows in enumerate(batches):
        with open(landing / f"f{i}.json", "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    _run(spark, landing, corpus, buckets, str(tmp_path / "cp1"))
    kept = {r["doc_id"] for r in snap.read_snapshot(spark, corpus).collect()}
    assert kept == {1, 2, 11}  # 10 dropped vs corpus; 12 dropped in-batch

    # Bucket state covers exactly the survivors.
    state_ids = {
        r["doc_id"]
        for r in snap.read_snapshot(spark, buckets).select("doc_id").collect()
    }
    assert state_ids == {1, 2, 11}

    # Batch 2 after a restart: another near-dup of A (dropped against the
    # PERSISTED state, not the live stream) and a genuinely new doc.
    with open(landing / "f2.json", "w") as f:
        f.write(json.dumps({"doc_id": 20, "text": BASE_A + " again slightly longer"}) + "\n")
        f.write(json.dumps({"doc_id": 21, "text": DISTINCT_D}) + "\n")
    _run(spark, landing, corpus, buckets, str(tmp_path / "cp1"))
    kept = {r["doc_id"] for r in snap.read_snapshot(spark, corpus).collect()}
    assert kept == {1, 2, 11, 21}

    # Fresh checkpoint: full replay is a no-op for BOTH state tables
    # (batch-id ledgers), deterministic batches via maxFilesPerTrigger=1.
    v_c, v_b = snap.current_version(corpus), snap.current_version(buckets)
    _run(spark, landing, corpus, buckets, str(tmp_path / "cp2"))
    assert snap.current_version(corpus) == v_c
    assert snap.current_version(buckets) == v_b
    assert {r["doc_id"] for r in snap.read_snapshot(spark, corpus).collect()} == {
        1, 2, 11, 21,
    }


@pytest.mark.slow
def test_streaming_curation_with_near_dedup(spark, tmp_path):
    """curate-stream --near-dedup: the curation loop drops near-dups both
    in-batch (keep-first) and against the persisted TEXT-FREE LSH state
    (band buckets + signatures, MinHash-estimator verified), exactly-once
    under full replay."""
    from receiptanalyzerpipeline_spark.streaming.curation_stream import (
        read_shard_membership,
        run_streaming_curation,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    rows0 = [(1, BASE_A), (2, DISTINCT_B)]
    rows1 = [
        (10, BASE_A + " with one extra trailing clause appended here"),
        (11, BASE_C),
        (12, BASE_C + " plus a small appended suffix for this twin"),
    ]
    for i, rows in enumerate((rows0, rows1)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(landing / f"b{i}"), mode="overwrite"
        )

    snapshot = str(tmp_path / "state")
    shards = str(tmp_path / "shards")

    def run(cp: str) -> None:
        q = run_streaming_curation(
            spark,
            str(landing) + "/b*",
            snapshot_path=snapshot,
            shards_path=shards,
            checkpoint=cp,
            schema="doc_id long, text string",
            near_dedup=True,
        )
        q.awaitTermination(timeout=300)

    run(str(tmp_path / "cp1"))
    kept = {r["doc_id"] for r in read_shard_membership(spark, shards).collect()}
    assert kept == {1, 2, 11}  # 10: near-dup vs corpus; 12: in-batch twin

    # The LSH state is text-free and covers exactly the survivors.
    sigs = snap.read_snapshot(spark, snapshot + "_lshs")
    assert set(sigs.columns) == {"doc_id", "sig"}
    assert {r["doc_id"] for r in sigs.collect()} == {1, 2, 11}

    # Full replay from a fresh checkpoint: all three state tables no-op.
    vs = [
        snap.current_version(p)
        for p in (snapshot, snapshot + "_lshb", snapshot + "_lshs")
    ]
    run(str(tmp_path / "cp2"))
    assert vs == [
        snap.current_version(p)
        for p in (snapshot, snapshot + "_lshb", snapshot + "_lshs")
    ]
    assert {r["doc_id"] for r in read_shard_membership(spark, shards).collect()} == kept


@pytest.mark.slow
def test_neardup_crash_between_lsh_and_fingerprint_commit(spark, tmp_path, monkeypatch):
    """ADVICE r5 (high): a crash AFTER the LSH state commit but BEFORE the
    fingerprint manifest must not lose the batch on replay. Without the
    committed-state-version guard, the replayed probe sees the batch's own
    docs in LSH state, every doc self-matches (estimate 1.0), and the
    batch re-commits as an empty fingerprint set + empty shard export."""
    from receiptanalyzerpipeline_spark.streaming import curation_stream as cs
    from receiptanalyzerpipeline_spark.streaming.curation_stream import (
        curation_sink,
        read_shard_membership,
    )

    snapshot = str(tmp_path / "state")
    shards = str(tmp_path / "shards")

    real_sink = snap.snapshot_sink
    crashed = {"done": False}

    def crashing_sink(path, **kw):
        inner = real_sink(path, **kw)

        def commit(df, bid):
            if bid == 1 and not crashed["done"]:
                crashed["done"] = True
                raise RuntimeError("injected crash before fingerprint commit")
            return inner(df, bid)

        return commit

    monkeypatch.setattr(cs.snap, "snapshot_sink", crashing_sink)
    sink = curation_sink(snapshot, shards, near_dedup=True)

    b0 = spark.createDataFrame(
        [(1, BASE_A), (2, DISTINCT_B)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [
            (10, BASE_A + " with one extra trailing clause appended here"),
            (11, BASE_C),
            (12, BASE_C + " plus a small appended suffix for this twin"),
        ],
        "doc_id long, text string",
    )
    sink(b0, 0)
    try:
        sink(b1, 1)
    except RuntimeError:
        pass
    # Crash window reproduced: LSH state has batch 1, fingerprints don't.
    assert snap.batch_committed(snapshot + "_lshb", 1)
    assert snap.batch_committed(snapshot + "_lshs", 1)
    assert not snap.batch_committed(snapshot, 1)

    sink(b1, 1)  # replay
    fp_ids = {r["doc_id"] for r in snap.read_snapshot(spark, snapshot).collect()}
    assert fp_ids == {1, 2, 11}  # 11 survived the replay — batch NOT lost
    kept = {r["doc_id"] for r in read_shard_membership(spark, shards).collect()}
    assert kept == {1, 2, 11}
    # State tables did not double-commit on replay.
    for p in (snapshot + "_lshb", snapshot + "_lshs"):
        bids = [
            snap._read_manifest(p, v).get("batch_id") for v in snap.versions(p)
        ]
        assert bids.count(1) == 1


@pytest.mark.parametrize("crash_at", [0, 1, 2])
@pytest.mark.slow
def test_neardup_crash_matrix_converges_to_no_crash_state(
    spark, tmp_path, monkeypatch, crash_at
):
    """VERDICT r5 task 5: inject a failure before EVERY commit in the
    near-dedup batch protocol (0=buckets, 1=signatures, 2=fingerprints —
    the shard export precedes all three and is overwrite-idempotent),
    replay the batch, and assert the converged state equals a run that
    never crashed."""
    from receiptanalyzerpipeline_spark.streaming import curation_stream as cs
    from receiptanalyzerpipeline_spark.streaming.curation_stream import (
        curation_sink,
        read_shard_membership,
    )

    b0 = spark.createDataFrame(
        [(1, BASE_A), (2, DISTINCT_B)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [
            (10, BASE_A + " with one extra trailing clause appended here"),
            (11, BASE_C),
            (12, BASE_C + " plus a small appended suffix for this twin"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(20, DISTINCT_D), (21, BASE_C + " with yet another tiny suffix")],
        "doc_id long, text string",
    )
    batches = [(b0, 0), (b1, 1), (b2, 2)]

    def run(base, crash_batch=None, crash_commit=None):
        snapshot, shards = str(base / "state"), str(base / "shards")
        counter = {"n": 0}
        real_ws, real_sink = snap.write_snapshot, snap.snapshot_sink

        def crashing_ws(df, path, **kw):
            if counter["n"] == crash_commit:
                counter["n"] += 1
                raise RuntimeError("injected crash")
            counter["n"] += 1
            return real_ws(df, path, **kw)

        def crashing_sink_factory(path, **kw):
            inner = real_sink(path, **kw)

            def commit(df, bid):
                if bid == crash_batch and counter["n"] == crash_commit:
                    counter["n"] += 1
                    raise RuntimeError("injected crash")
                counter["n"] += 1
                return inner(df, bid)

            return commit

        if crash_batch is not None:
            monkeypatch.setattr(cs.snap, "snapshot_sink", crashing_sink_factory)
        sink = curation_sink(snapshot, shards, near_dedup=True)
        for df, bid in batches:
            if bid == crash_batch:
                monkeypatch.setattr(cs.snap, "write_snapshot", crashing_ws)
                counter["n"] = 0
                try:
                    sink(df, bid)
                    raise AssertionError("injected crash did not fire")
                except RuntimeError:
                    pass
                monkeypatch.setattr(cs.snap, "write_snapshot", real_ws)
                counter["n"] = -10**9  # disarm
                sink(df, bid)  # replay
            else:
                sink(df, bid)
        monkeypatch.setattr(cs.snap, "snapshot_sink", real_sink)
        return {
            "shards": sorted(
                (r["doc_id"], r["shard_id"])
                for r in read_shard_membership(spark, shards).collect()
            ),
            "fp_ids": sorted(
                r["doc_id"] for r in snap.read_snapshot(spark, snapshot).collect()
            ),
            "sig_ids": sorted(
                r["doc_id"]
                for r in snap.read_snapshot(spark, snapshot + "_lshs").collect()
            ),
            "batch_versions": [
                sorted(
                    snap._read_manifest(p, v).get("batch_id")
                    for v in snap.versions(p)
                )
                for p in (snapshot, snapshot + "_lshb", snapshot + "_lshs")
            ],
        }

    clean = run(tmp_path / "clean")
    crashed = run(tmp_path / f"crash{crash_at}", crash_batch=1, crash_commit=crash_at)
    assert crashed == clean
    assert clean["fp_ids"] == [1, 2, 11, 20]  # 10/12/21 are near-dups


def test_neardup_probe_plan_is_equi_join(spark):
    """The vs-corpus candidate probe must compile to a hash/sort-merge
    EQUI-join on (band, vals) — never a nested-loop/cartesian — because
    at scale the bucket state is the big side."""
    from receiptanalyzerpipeline_spark.operators.dedup import minhash_signatures
    from receiptanalyzerpipeline_spark.streaming.neardup_stream import _band_buckets

    docs = spark.createDataFrame(
        [(i, f"w{i} " * 20) for i in range(50)], "doc_id long, text string"
    )
    bb = _band_buckets(minhash_signatures(docs, "doc_id", "text"), 32, 2)
    state = bb.withColumnRenamed("doc_id", "old_id")
    cands = bb.alias("n").join(
        state.alias("o"),
        (F.col("n.band") == F.col("o.band")) & (F.col("n.vals") == F.col("o.vals")),
    )
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan



def test_minhash_family_stamp_guards_persisted_state(spark, tmp_path):
    """ADVICE r10: LSH state manifests carry the signature hash family;
    a sink built by an engine with a different (or unknown) family must
    refuse to probe the state instead of silently missing every
    near-dup against the pre-existing corpus."""
    from receiptanalyzerpipeline_spark.operators.dedup import MINHASH_FAMILY
    from receiptanalyzerpipeline_spark.streaming.neardup_stream import (
        check_minhash_family,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus, buckets = str(tmp_path / "corpus"), str(tmp_path / "buckets")
    with open(landing / "f0.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": BASE_A}) + "\n")
    _run(spark, landing, corpus, buckets, str(tmp_path / "cp1"))

    # Writes stamp the current family; a same-family restart constructs.
    assert snap.newest_manifest_stamp(buckets, "minhash_family") == MINHASH_FAMILY
    neardup_dedup_sink(corpus, buckets)  # no raise

    # Tamper the stamp to simulate state written by another family.
    v = snap.current_version(buckets)
    mpath = snap._manifest_path(buckets, v)
    m = json.loads(mpath.read_text())
    m["minhash_family"] = "md5-conv-v1"
    mpath.write_text(json.dumps(m))
    with pytest.raises(ValueError, match="md5-conv-v1"):
        neardup_dedup_sink(corpus, buckets)
    with pytest.raises(ValueError, match="hash family"):
        check_minhash_family(buckets)

    # Unstamped non-empty state (predates the stamp) is unknown-family:
    # nothing proves it matches, so it is refused too.
    del m["minhash_family"]
    mpath.write_text(json.dumps(m))
    with pytest.raises(ValueError, match="pre-stamp"):
        neardup_dedup_sink(corpus, buckets)

    # Restore and confirm the guard passes again.
    m["minhash_family"] = MINHASH_FAMILY
    mpath.write_text(json.dumps(m))
    neardup_dedup_sink(corpus, buckets)
