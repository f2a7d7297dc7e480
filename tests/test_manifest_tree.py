"""Manifest tree (VERDICT r5 task 1): past GROUP_THRESHOLD live files a
snapshot table graduates from one flat manifest to an Iceberg-style tree
— immutable file-group JSONs holding the per-file lists + zone maps, a
top manifest holding only {path, n, bounds} per group. These tests shrink
the thresholds to drive every tree path at unit scale; the ≥50k-file
metadata-cost measurement lives in SCALE.md (scripts/manifest_scale.py).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.sources import snapshots as snap


@pytest.fixture()
def small_groups(monkeypatch):
    monkeypatch.setattr(snap, "GROUP_THRESHOLD", 6)
    monkeypatch.setattr(snap, "GROUP_TARGET", 4)
    monkeypatch.setattr(snap, "MAX_SMALL_GROUPS", 3)


def _ids(spark, path, version=None):
    return {
        r["id"] for r in snap.read_snapshot(spark, path, version=version).collect()
    }


def test_graduation_and_append_carry_by_reference(spark, tmp_path, small_groups):
    path = str(tmp_path / "t")
    # 3 appends × 3 files = 9 files > threshold 6: the table graduates.
    for i in range(3):
        snap.write_snapshot(
            spark.range(i * 10, (i + 1) * 10).toDF("id").repartition(3), path
        )
    m = snap._read_manifest(path, 2)
    assert "files" not in m and m["groups"], "past threshold ⇒ tree manifest"
    assert sum(g["n"] for g in m["groups"]) == 9
    assert _ids(spark, path) == set(range(30))
    # Time travel across the graduation boundary still works.
    assert _ids(spark, path, version=0) == set(range(10))

    # A further append carries every prior group BY REFERENCE.
    before = [g["path"] for g in m["groups"]]
    snap.write_snapshot(spark.range(30, 40).toDF("id").repartition(2), path)
    m2 = snap._read_manifest(path, 3)
    after = [g["path"] for g in m2["groups"]]
    assert set(before) <= set(after), "prior groups must not be rewritten"
    assert sum(g["n"] for g in m2["groups"]) == 11
    assert _ids(spark, path) == set(range(40))


def test_small_groups_coalesce_bounded(spark, tmp_path, small_groups):
    path = str(tmp_path / "t")
    for i in range(12):  # 12 single-file appends
        snap.write_snapshot(spark.range(i, i + 1).toDF("id").coalesce(1), path)
    m = snap._read_manifest(path, 11)
    small = [g for g in m["groups"] if g["n"] < snap.GROUP_TARGET]
    assert len(small) <= snap.MAX_SMALL_GROUPS + 1, "group list must stay bounded"
    assert _ids(spark, path) == set(range(12))
    # Every intermediate version still reads exactly its own rows.
    for v in (0, 5, 11):
        assert _ids(spark, path, version=v) == set(range(v + 1))


def test_tree_pruned_read_skips_groups_without_opening(
    spark, tmp_path, small_groups, monkeypatch
):
    path = str(tmp_path / "t")
    snap.write_snapshot(
        spark.range(5000).selectExpr("id", "id % 7 AS pad").repartition(2), path
    )
    snap.compact_snapshot(spark, path, target_file_bytes=2000, cluster_by=["id"])
    m = snap._read_manifest(path, snap.current_version(path))
    assert m.get("groups"), "clustered compaction of a big file set ⇒ tree"
    assert all(g["bounds"].get("id") for g in m["groups"])

    opened = []
    real = snap._read_group

    def spy(gp):
        opened.append(gp)
        return real(gp)

    monkeypatch.setattr(snap, "_read_group", spy)
    df = snap.read_snapshot_pruned(spark, path, {"id": (3, 5)})
    assert {r["id"] for r in df.where("id BETWEEN 3 AND 5").collect()} == {3, 4, 5}
    assert len(opened) < len(m["groups"]), (
        f"narrow probe opened {len(opened)}/{len(m['groups'])} groups — "
        "group bounds must prune unopened"
    )


def test_merge_on_tree_rewrites_only_touched_groups(spark, tmp_path, small_groups):
    path = str(tmp_path / "t")
    snap.write_snapshot(
        spark.range(5000).selectExpr("id AS k", "CAST(0 AS LONG) AS v").repartition(2),
        path,
    )
    snap.compact_snapshot(spark, path, target_file_bytes=2000, cluster_by=["k"])
    base = snap.current_version(path)
    groups_before = {g["path"] for g in snap._read_manifest(path, base)["groups"]}

    src = spark.createDataFrame([(3, 99), (5001, 77)], "k long, v long")
    v = snap.merge_upsert(spark, src, path, ["k"])
    m = snap._read_manifest(path, v)
    carried = {g["path"] for g in m["groups"]} & groups_before
    assert len(groups_before) - len(carried) <= 2, (
        "a 2-key upsert must carry almost every group by reference"
    )
    assert m["carried_files"] > 0 and m["rewrote_files"] >= 1
    got = {
        (r["k"], r["v"])
        for r in snap.read_snapshot(spark, path).where("k IN (3, 5, 5001)").collect()
    }
    assert got == {(3, 99), (5, 0), (5001, 77)}
    assert snap.read_snapshot(spark, path).count() == 5001
    # cluster_by survives the merge so later commits keep their zone maps.
    assert m.get("cluster_by") == ["k"]


def test_delete_on_tree_carries_untouched_groups(spark, tmp_path, small_groups):
    path = str(tmp_path / "t")
    snap.write_snapshot(
        spark.range(5000).selectExpr("id", "id % 3 AS tag").repartition(2), path
    )
    snap.compact_snapshot(spark, path, target_file_bytes=2000, cluster_by=["id"])
    base = snap.current_version(path)
    groups_before = {g["path"] for g in snap._read_manifest(path, base)["groups"]}

    v = snap.delete_where(spark, path, "id BETWEEN 10 AND 12")
    m = snap._read_manifest(path, v)
    carried = {g["path"] for g in m["groups"]} & groups_before
    assert len(groups_before) - len(carried) <= 2
    assert _ids(spark, path) == set(range(5000)) - {10, 11, 12}
    # The zone-pruned probe + carried stats keep the table prunable.
    assert snap.file_stats(path, v)


def test_cdc_diff_cancels_shared_groups(spark, tmp_path, small_groups, monkeypatch):
    path = str(tmp_path / "t")
    for i in range(3):
        snap.write_snapshot(
            spark.range(i * 10, (i + 1) * 10).toDF("id").repartition(3), path
        )
    snap.write_snapshot(spark.range(30, 35).toDF("id").coalesce(1), path)

    opened = []
    real = snap._read_group

    def spy(gp):
        opened.append(gp)
        return real(gp)

    monkeypatch.setattr(snap, "_read_group", spy)
    ch = snap.read_row_changes(spark, path, from_version=2, to_version=3)
    rows = {(r["id"], r["_op"], r["_version"]) for r in ch.collect()}
    assert rows == {(i, "insert", 3) for i in range(30, 35)}
    # Shared group references cancel WITHOUT being opened: only the new
    # version's one fresh group may be expanded.
    assert len(set(opened)) <= 1


def test_snapshot_sink_streams_onto_tree(spark, tmp_path, small_groups):
    path = str(tmp_path / "t")
    sink = snap.snapshot_sink(path)
    for b in range(4):
        sink(spark.range(b * 10, (b + 1) * 10).toDF("id").repartition(3), b)
    m = snap._read_manifest(path, 3)
    assert m.get("groups") and m["batch_id"] == 3
    assert _ids(spark, path) == set(range(40))
    # Replay stays a no-op on a tree table.
    sink(spark.range(20, 30).toDF("id").repartition(3), 2)
    assert snap.versions(path) == [0, 1, 2, 3]
    assert _ids(spark, path) == set(range(40))


def test_expire_gcs_unreferenced_group_files(spark, tmp_path, small_groups):
    path = str(tmp_path / "t")
    for i in range(12):
        snap.write_snapshot(spark.range(i, i + 1).toDF("id").coalesce(1), path)
    gdir = snap._group_dir(path)
    n_groups_on_disk = len(list(gdir.glob("g-*.json")))
    live = {g["path"] for g in snap._read_manifest(path, 11).get("groups", [])}
    assert n_groups_on_disk > len(live), "coalesce must have left old groups behind"

    snap.expire_snapshots(path, keep_last=1, orphan_grace_s=0.0)
    left = {str(p) for p in gdir.glob("g-*.json")}
    assert left == live, "GC keeps exactly the referenced groups"
    assert _ids(spark, path) == set(range(12))


def test_tree_and_inline_tables_are_row_equivalent(spark, tmp_path, small_groups):
    """Same op sequence against an inline table (threshold never reached)
    and a tree table must produce identical rows at every version."""
    tree, flat = str(tmp_path / "tree"), str(tmp_path / "flat")
    ops = [
        ("append", spark.range(0, 40).selectExpr("id AS k", "id AS v").repartition(4)),
        ("append", spark.range(40, 80).selectExpr("id AS k", "id AS v").repartition(4)),
        ("merge", spark.createDataFrame([(7, 700), (99, 990)], "k long, v long")),
        ("delete", "k BETWEEN 20 AND 29"),
        ("append", spark.range(100, 110).selectExpr("id AS k", "id AS v").coalesce(1)),
    ]
    for path, threshold in ((tree, 6), (flat, 10**9)):
        import unittest.mock as mock

        with mock.patch.object(snap, "GROUP_THRESHOLD", threshold):
            for op, arg in ops:
                if op == "append":
                    snap.write_snapshot(arg, path)
                elif op == "merge":
                    snap.merge_upsert(spark, arg, path, ["k"])
                else:
                    snap.delete_where(spark, path, arg)
    assert snap._read_manifest(tree, 4).get("groups")
    assert not snap._read_manifest(flat, 4).get("groups")
    for v in range(5):
        t = {(r["k"], r["v"]) for r in snap.read_snapshot(spark, tree, version=v).collect()}
        f = {(r["k"], r["v"]) for r in snap.read_snapshot(spark, flat, version=v).collect()}
        assert t == f, f"version {v} diverged"
    # The change feeds agree too (same net row deltas per version).
    for frm in range(4):
        t = {
            (r["k"], r["v"], r["_op"], r["_version"])
            for r in snap.read_row_changes(spark, tree, frm).collect()
        }
        f = {
            (r["k"], r["v"], r["_op"], r["_version"])
            for r in snap.read_row_changes(spark, flat, frm).collect()
        }
        assert t == f, f"change feed from {frm} diverged"
