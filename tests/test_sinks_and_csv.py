"""Snapshot-table tests (time travel, retention, compaction, exactly-once
sinks; SURVEY K7), the Z-order layout that ``compact_snapshot(cluster_by=)``
writes, and assorted operator checks: the CSV line-item parser (F5),
approximate and HLL distinct counts, PERMISSIVE JSON and
connected-components convergence."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F


CSV_CASES = [
    ("COFFEE BEANS (ITEM),12.99,2", ("COFFEE BEANS", Decimal("12.99"), 2)),
    ("OAT MILK,$3.49,F 1", ("OAT MILK", Decimal("3.49"), 1)),  # bad qty → 1
    ("MYSTERY,,", ("MYSTERY", Decimal("0.00"), 1)),  # empty price/qty → defaults
    (",8.29,", ("Unknown", Decimal("8.29"), 1)),  # empty item → Unknown
]


def test_parse_line_item_csv(spark):
    from receiptanalyzerpipeline_spark.functions.text import parse_line_item_csv

    df = spark.createDataFrame([(s,) for s, _ in CSV_CASES], ["line"]).select(
        "line", parse_line_item_csv("line").alias("li")
    )
    got = {r["line"]: (r["li"]["item_name"], r["li"]["price"], r["li"]["quantity"]) for r in df.collect()}
    for line, expect in CSV_CASES:
        assert got[line] == expect, f"{line!r}: {got[line]} != {expect}"


def test_approx_distinct_tolerance(spark, sf_dir):
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    approx = REGISTRY["q_a5_approx_distinct"].spark(spark, sf_dir).collect()[0]
    exact = (
        REGISTRY["q_a2_count_distinct"].spark(spark, sf_dir).collect()[0]
    )
    assert abs(approx["approx_parts"] - exact["n_parts"]) / exact["n_parts"] < 0.05
    assert abs(approx["approx_supps"] - exact["n_supps"]) / exact["n_supps"] < 0.05


def test_permissive_json_quarantines_corrupt_rows(spark, tmp_path):
    """T5 at the batch source: PERMISSIVE JSON parse routes malformed rows
    to a corrupt-record column instead of failing the job — the ingest
    sibling of the OCR error column."""
    p = tmp_path / "in.json"
    p.write_text(
        '{"img_id": "a", "total": 1.5}\n'
        "this is not json\n"
        '{"img_id": "b", "total": 2.5}\n'
        '{"img_id": "c", "total": "NOT_A_NUMBER"}\n'
    )
    df = (
        spark.read.schema("img_id string, total double, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(str(p))
    )
    rows = df.collect()
    good = {r["img_id"]: r["total"] for r in rows if r["_corrupt"] is None}
    bad = [r["_corrupt"] for r in rows if r["_corrupt"] is not None]
    assert good == {"a": 1.5, "b": 2.5}
    assert len(bad) == 2  # garbage line + type-mismatched row, both kept


def _files_matching_point(spark, path: str, col: str, probes: list) -> float:
    """Mean #files whose [min,max] envelope admits each probe value —
    the count a min/max-pruning scan planner would have to read."""
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
        .collect()
    )
    return sum(
        sum(1 for r in stats if r["lo"] <= p <= r["hi"]) for p in probes
    ) / len(probes)


def test_zorder_layout_skips_on_both_columns(spark, tmp_path):
    """zorder_frame: one layout, min/max skipping on BOTH cluster columns.
    The linear sort baseline skips perfectly on its sort column and not at
    all on the other; z-order must beat it decisively on the second column
    while keeping real pruning on the first."""
    from receiptanalyzerpipeline_spark.sources.sinks import zorder_frame

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    n_files = 16
    zpath, lpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    zorder_frame(li, ["l_orderkey", "l_partkey"], n_files=n_files).write.mode(
        "overwrite"
    ).parquet(zpath)
    (
        li.repartitionByRange(n_files, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    row = li.agg(
        *[f
          for c in ("l_orderkey", "l_partkey")
          for f in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))]
    ).first()
    probes = {
        c: [row[f"lo_{c}"] + int((row[f"hi_{c}"] - row[f"lo_{c}"]) * q)
            for q in (0.1, 0.3, 0.5, 0.7, 0.9)]
        for c in ("l_orderkey", "l_partkey")
    }

    z_pk = _files_matching_point(spark, zpath, "l_partkey", probes["l_partkey"])
    lin_pk = _files_matching_point(spark, lpath, "l_partkey", probes["l_partkey"])
    z_ok = _files_matching_point(spark, zpath, "l_orderkey", probes["l_orderkey"])

    # Linear layout: l_partkey is unclustered → essentially every file matches.
    assert lin_pk > n_files * 0.8
    # Z-order: both columns prune to well under half the files.
    assert z_pk <= n_files * 0.5, f"partkey envelope too wide: {z_pk}"
    assert z_ok <= n_files * 0.5, f"orderkey envelope too wide: {z_ok}"
    # Same rows either way.
    assert spark.read.parquet(zpath).count() == li.count()


def test_zorder_degenerate_inputs(spark, tmp_path):
    """zorder_frame must not fail on empty input or constant cluster
    columns: empty → write as-is; constant column → pinned cell 0 (the
    column contributes nothing to the z-value instead of corrupting it)."""
    from receiptanalyzerpipeline_spark.sources.sinks import zorder_frame

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )

    empty = li.limit(0)
    epath = str(tmp_path / "empty")
    zorder_frame(empty, ["l_orderkey", "l_partkey"], n_files=4).write.mode(
        "overwrite"
    ).parquet(epath)
    assert spark.read.parquet(epath).count() == 0

    const = li.withColumn("l_partkey", F.lit(7))
    cpath = str(tmp_path / "const")
    zorder_frame(const, ["l_orderkey", "l_partkey"], n_files=4).write.mode(
        "overwrite"
    ).parquet(cpath)
    out = spark.read.parquet(cpath)
    assert out.count() == li.count()
    # The non-constant column still clusters: each file's envelope is narrow.
    stats = (
        out.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi"))
        .collect()
    )
    full = li.agg(
        F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi")
    ).first()
    span = full["hi"] - full["lo"]
    assert all(r["hi"] - r["lo"] < span for r in stats if r["hi"] != r["lo"])


def test_connected_components_raises_when_unconverged(spark):
    """A graph whose label propagation cannot finish within max_iter must
    raise, not return silently-wrong clusters (ADVICE r2)."""
    import pytest

    from receiptanalyzerpipeline_spark.operators.components import (
        connected_components,
    )

    # 40-node chain: diameter 39; with pointer jumping it converges in
    # O(log D) rounds, so max_iter=2 is genuinely insufficient.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a: long, id_b: long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)
    # And with the default budget the same chain converges to one component.
    labels = connected_components(edges).collect()
    assert len({r["component"] for r in labels}) == 1


def test_mergeable_hll_tolerance(spark, sf_dir):
    """q_a11: per-group HLL estimates AND the union-merged global estimate
    must sit within 2% of exact COUNT(DISTINCT) — the merge must not lose
    accuracy (sketch union is lossless in HLL)."""
    from receiptanalyzerpipeline_spark.catalog import table
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    got = {
        r["o_orderpriority"]: r["distinct_custkeys"]
        for r in REGISTRY["q_a11_mergeable_hll"].spark(spark, sf_dir).collect()
    }
    o = table(spark, sf_dir, "orders")
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact["_ALL_"] = o.select("o_custkey").distinct().count()
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.02, (k, est, exact[k])


def test_snapshot_time_travel(spark, tmp_path):
    """Snapshot layer: atomic versioned commits, AS OF reads, overwrite
    keeps history readable."""
    import pyspark.sql.functions as SF

    from receiptanalyzerpipeline_spark.sources.snapshots import (
        current_version,
        read_snapshot,
        versions,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    v0 = write_snapshot(li.limit(100), path)                       # 100 rows
    v1 = write_snapshot(li.limit(50), path, mode="append")         # +50
    v2 = write_snapshot(li.limit(10), path, mode="overwrite")      # reset to 10
    assert (v0, v1, v2) == (0, 1, 2)
    assert current_version(path) == 2 and versions(path) == [0, 1, 2]
    assert read_snapshot(spark, path, 0).count() == 100
    assert read_snapshot(spark, path, 1).count() == 150
    assert read_snapshot(spark, path).count() == 10
    # Appends must preserve earlier rows exactly (manifest-defined reads).
    a = read_snapshot(spark, path, 0).agg(SF.sum("l_quantity")).first()[0]
    b = li.limit(100).agg(SF.sum("l_quantity")).first()[0]
    assert a == b


def test_snapshot_incremental_read(spark, tmp_path):
    """read_row_changes returns exactly the rows a downstream incremental
    consumer needs between two append commits, each tagged an insert."""
    from receiptanalyzerpipeline_spark.sources.snapshots import (
        read_row_changes,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    )
    write_snapshot(li.limit(100), path)
    write_snapshot(li.limit(150).subtract(li.limit(100)), path, mode="append")
    delta = read_row_changes(spark, path, 0, 1)
    assert delta.count() == 50
    assert {r["_op"] for r in delta.select("_op").collect()} == {"insert"}
    # No-change diff is empty but schema-stable.
    same = read_row_changes(spark, path, 1, 1)
    assert same.count() == 0 and same.columns == delta.columns


def test_snapshot_sink_exactly_once_replay(spark, tmp_path):
    """Streaming snapshot sink: one version per micro-batch; restarting
    the stream from a FRESH checkpoint over the same files re-delivers
    every batch, and each redelivery must be a no-op (no new rows, no
    version churn)."""
    import json as _json

    from receiptanalyzerpipeline_spark.sources.snapshots import (
        read_snapshot,
        snapshot_sink,
        versions,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        with open(landing / f"f{i}.json", "w") as f:
            for j in range(10):
                f.write(_json.dumps({"k": i * 10 + j}) + "\n")

    table_path = str(tmp_path / "tbl")

    def run(checkpoint: str) -> None:
        stream = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .json(str(landing))
        )
        q = (
            stream.writeStream.foreachBatch(snapshot_sink(table_path))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    run(str(tmp_path / "cp1"))
    assert versions(table_path) == [0, 1, 2]
    assert read_snapshot(spark, table_path).count() == 30

    # Fresh checkpoint: Structured Streaming replays ALL batches; the
    # batchId-keyed manifests make every redelivery a no-op.
    run(str(tmp_path / "cp2"))
    assert versions(table_path) == [0, 1, 2]
    assert read_snapshot(spark, table_path).count() == 30


def test_snapshot_retention(spark, tmp_path):
    """expire_snapshots removes old versions and their orphaned files but
    never breaks surviving versions (shared append files are retained)."""
    from receiptanalyzerpipeline_spark.sources.snapshots import (
        expire_snapshots,
        read_snapshot,
        versions,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey"
    )
    write_snapshot(li.limit(100), path)                   # v0
    write_snapshot(li.limit(20), path, mode="append")     # v1 shares v0 files
    write_snapshot(li.limit(30), path, mode="append")     # v2 shares v0+v1
    assert expire_snapshots(path, keep_last=2) == [0]
    assert versions(path) == [1, 2]
    # Survivors still read in full: v0's files are shared, so retained.
    assert read_snapshot(spark, path, 1).count() == 120
    assert read_snapshot(spark, path, 2).count() == 150


def test_retention_with_lagging_pointer_does_not_strand_readers(spark, tmp_path):
    """A VERSION pointer left lagging by the manifest/rename crash window
    must not strand default reads after a retention pass expires the
    version the pointer names: committed state comes from manifests."""
    from receiptanalyzerpipeline_spark.sources.snapshots import (
        _version_file,
        current_version,
        expire_snapshots,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(spark.range(5).toDF("id"), path)                  # v0
    write_snapshot(spark.range(5, 8).toDF("id"), path, mode="append")  # v1
    write_snapshot(spark.range(8, 9).toDF("id"), path, mode="append")  # v2
    _version_file(path).write_text("0")  # pointer stuck below survivors
    assert expire_snapshots(path, keep_last=1) == [0, 1]
    assert current_version(path) == 2
    assert read_snapshot(spark, path).count() == 9


def test_snapshot_sink_crash_between_manifest_and_version(spark, tmp_path):
    """ADVICE r3 (high): a crash AFTER manifest N is written but BEFORE the
    VERSION rename must not lose batch N's files. On replay the sink must
    repair the stale pointer, and batch N+1 must chain from manifest N
    (the newest committed manifest), not from the stale VERSION."""
    from receiptanalyzerpipeline_spark.sources.snapshots import (
        _manifest_path,
        _read_manifest,
        _version_file,
        current_version,
        read_snapshot,
        snapshot_sink,
    )

    path = str(tmp_path / "tbl")
    sink = snapshot_sink(path)
    b0 = spark.range(10).toDF("id")
    b1 = spark.range(10, 15).toDF("id")
    b2 = spark.range(15, 18).toDF("id")

    sink(b0, 0)
    sink(b1, 1)
    # Simulate the crash window: manifest 1 committed, pointer rolled back.
    _version_file(path).write_text("0")
    # Committed state is defined by manifests, so readers already see v1
    # even while the pointer file lags.
    assert current_version(path) == 1 and _manifest_path(path, 1).exists()
    assert _version_file(path).read_text().strip() == "0"

    # Replay of batch 1 (what Structured Streaming does after the crash):
    # must be a data no-op and must leave committed state at v1.
    sink(b1, 1)
    assert current_version(path) == 1

    sink(b2, 2)
    files2 = _read_manifest(path, 2)["files"]
    files1 = set(_read_manifest(path, 1)["files"])
    assert files1 <= set(files2), "batch 1's files dropped from the chain"
    assert read_snapshot(spark, path).count() == 18

    # Same scenario WITHOUT an intervening replay: batch 2 arrives while
    # VERSION still lags — chaining must use manifest 1 regardless.
    path2 = str(tmp_path / "tbl2")
    sink2 = snapshot_sink(path2)
    sink2(b0, 0)
    sink2(b1, 1)
    _version_file(path2).write_text("0")
    sink2(b2, 2)
    assert read_snapshot(spark, path2).count() == 18
    assert current_version(path2) == 2


def test_write_snapshot_recovers_from_orphaned_data_dir(spark, tmp_path):
    """ADVICE r3 (low), updated for optimistic concurrency: a crash
    between the data write and the manifest publish leaves an orphan data
    dir. Commits write uniquely-named dirs, so the retry can never
    collide with the orphan (expire_snapshots vacuums it later), and a
    stale VERSION pointer must not make the retry collide with a
    committed version."""
    from pathlib import Path

    from receiptanalyzerpipeline_spark.sources.snapshots import (
        _version_file,
        current_version,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(spark.range(5).toDF("id"), path)  # v0

    # Orphan: data for v1 written, then crash before manifest.
    orphan = Path(path) / "data" / "snap-1"
    spark.range(99).toDF("id").write.parquet(str(orphan))
    v1 = write_snapshot(spark.range(5, 8).toDF("id"), path, mode="append")
    assert v1 == 1
    assert read_snapshot(spark, path).count() == 8  # 5 + 3, orphan gone

    # Stale pointer: manifest 1 committed but VERSION says 0 — the next
    # write must become v2 (chained on v1), not collide with v1.
    _version_file(path).write_text("0")
    v2 = write_snapshot(spark.range(8, 10).toDF("id"), path, mode="append")
    assert v2 == 2
    assert current_version(path) == 2
    assert read_snapshot(spark, path).count() == 10


def test_compact_snapshot_reduces_files_and_preserves_history(spark, tmp_path):
    """OPTIMIZE analogue: the live chain collapses to few files, rows are
    identical, prior versions stay AS-OF readable, and retention then
    vacuums the small pre-compaction files."""
    from receiptanalyzerpipeline_spark.sources.snapshots import (
        _read_manifest,
        compact_snapshot,
        expire_snapshots,
        read_snapshot,
        versions,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    for i in range(3):
        write_snapshot(
            spark.range(i * 10, (i + 1) * 10).toDF("id").repartition(4), path
        )
    assert versions(path) == [0, 1, 2]
    files_before = len(_read_manifest(path, 2)["files"])
    assert files_before >= 12

    v = compact_snapshot(spark, path)
    assert v == 3
    m = _read_manifest(path, v)
    assert m["compaction_of"] == 2 and m["mode"] == "overwrite"
    assert len(m["files"]) < files_before
    assert read_snapshot(spark, path).count() == 30
    # Time travel across the compaction still works.
    assert read_snapshot(spark, path, version=1).count() == 20

    expired = expire_snapshots(path, keep_last=1)
    assert expired == [0, 1, 2]
    assert read_snapshot(spark, path).count() == 30
    assert len(_read_manifest(path, v)["files"]) == len(m["files"])


def test_compaction_manifest_publishes_once_and_complete(spark, tmp_path, monkeypatch):
    """ADVICE r5 (medium): compaction metadata (compaction_of, cluster_by,
    stats) must ride the SAME atomic conditional-put as the manifest — a
    post-hoc in-place rewrite lets a concurrent CDC/IVM reader see
    truncated JSON or mistake the commit for a plain overwrite."""
    import json

    from receiptanalyzerpipeline_spark.sources import snapshots as snap

    path = str(tmp_path / "tbl")
    for i in range(2):
        snap.write_snapshot(
            spark.range(i * 10, (i + 1) * 10)
            .selectExpr("id", "id % 4 AS grp")
            .repartition(3),
            path,
        )

    published = []
    real = snap._write_manifest_exclusive

    def spy(p, version, m):
        published.append((version, json.loads(json.dumps(m))))
        return real(p, version, m)

    monkeypatch.setattr(snap, "_write_manifest_exclusive", spy)
    v = snap.compact_snapshot(spark, path, cluster_by=["grp"])

    (pub,) = [m for ver, m in published if ver == v]
    # Complete at publish time — nothing was added by a later rewrite.
    assert pub["compaction_of"] == 1 and pub["cluster_by"] == ["grp"]
    assert pub["stats"] and set(pub["stats"]) == set(pub["files"])
    on_disk = json.loads(snap._manifest_path(path, v).read_text())
    on_disk.pop("committed_at", None)  # stamped inside the exclusive put
    assert on_disk == pub
    # Readers that special-case compactions still see it as one.
    assert snap.file_stats(path, v) == pub["stats"]


def test_legacy_table_replay_is_recognized(spark, tmp_path):
    """ADVICE r5 (low): a table written by the pre-batch-id sink (manifest
    version == batch id, no batch_id field) must treat a pending replay of
    those versions as committed — not re-commit duplicate rows."""
    from receiptanalyzerpipeline_spark.sources.snapshots import (
        _read_manifest,
        batch_committed,
        read_snapshot,
        snapshot_sink,
        versions,
        write_snapshot,
    )

    path = str(tmp_path / "legacy")
    # Simulate the legacy sink: plain appends, no batch_id stamped.
    write_snapshot(spark.range(10).toDF("id"), path)
    write_snapshot(spark.range(10, 20).toDF("id"), path)
    assert all("batch_id" not in _read_manifest(path, v) for v in versions(path))

    sink = snapshot_sink(path)
    sink(spark.range(10).toDF("id"), 0)  # replay of legacy batch 0
    sink(spark.range(10, 20).toDF("id"), 1)  # replay of legacy batch 1
    assert read_snapshot(spark, path).count() == 20  # no duplicates
    assert versions(path) == [0, 1]

    # A genuinely new batch commits, stamped — and from then on the
    # legacy shape no longer matches, so ids are tracked exactly.
    assert not batch_committed(path, 2)
    sink(spark.range(20, 25).toDF("id"), 2)
    assert read_snapshot(spark, path).count() == 25
    assert _read_manifest(path, 2)["batch_id"] == 2
    assert batch_committed(path, 2) and not batch_committed(path, 3)


def test_expired_table_does_not_reenter_legacy_mode(spark, tmp_path):
    """ADVICE r6 (medium): after expire_snapshots moves every stamped
    batch id into the _batches.json ledger, a table whose LIVE manifests
    are all unstamped appends must not match the legacy shape — a new
    batch id colliding with a live version number would be silently
    treated as committed (dropped batch)."""
    from receiptanalyzerpipeline_spark.sources.snapshots import (
        batch_committed,
        expire_snapshots,
        read_snapshot,
        snapshot_sink,
        versions,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    sink = snapshot_sink(path)
    sink(spark.range(5).toDF("id"), 0)  # stamped batch 0 → version 0
    sink(spark.range(5, 10).toDF("id"), 1)  # stamped batch 1 → version 1
    write_snapshot(spark.range(10, 12).toDF("id"), path, mode="append")  # v2
    write_snapshot(spark.range(12, 14).toDF("id"), path, mode="append")  # v3
    assert expire_snapshots(path, keep_last=2, orphan_grace_s=0.0) == [0, 1]
    assert versions(path) == [2, 3]  # live manifests: unstamped appends only

    # Expired-but-ledgered batches stay committed; a NEW batch whose id
    # collides with a live version number must NOT read as committed.
    assert batch_committed(path, 0) and batch_committed(path, 1)
    assert not batch_committed(path, 2)
    sink(spark.range(14, 20).toDF("id"), 2)
    assert batch_committed(path, 2)
    assert read_snapshot(spark, path).count() == 20  # batch 2 not dropped


def test_compaction_interleaves_safely_with_streaming_sink(spark, tmp_path):
    """The hazard the batch-id-tagged manifests close: a compaction takes
    the next version number mid-stream, and the NEXT micro-batch (whose id
    now collides with that version) must still be committed — while a true
    replay of an old batch stays a no-op."""
    from receiptanalyzerpipeline_spark.sources.snapshots import (
        batch_committed,
        compact_snapshot,
        read_snapshot,
        snapshot_sink,
        versions,
    )

    path = str(tmp_path / "tbl")
    sink = snapshot_sink(path)
    sink(spark.range(10).toDF("id"), 0)
    sink(spark.range(10, 20).toDF("id"), 1)
    v = compact_snapshot(spark, path)  # takes version 2
    assert v == 2

    # Batch 2 arrives AFTER the compaction: under version==batch_id replay
    # detection it would be skipped (manifest 2 exists); the recorded
    # batch_id keeps it distinct.
    assert not batch_committed(path, 2)
    sink(spark.range(20, 25).toDF("id"), 2)
    assert read_snapshot(spark, path).count() == 25
    assert versions(path) == [0, 1, 2, 3]

    # A genuine replay of batch 1 is still a no-op.
    sink(spark.range(10, 20).toDF("id"), 1)
    assert read_snapshot(spark, path).count() == 25
    assert versions(path) == [0, 1, 2, 3]
