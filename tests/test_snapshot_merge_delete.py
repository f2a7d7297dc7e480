"""Copy-on-write MERGE / DELETE and zone-map data skipping on the
snapshot layer (Delta/Iceberg MERGE INTO, DELETE FROM, and OPTIMIZE
ZORDER + file-skipping analogues)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.sources import snapshots as snap


def _rows(df):
    return {tuple(r) for r in df.select(*sorted(df.columns)).collect()}


def _table(spark, tmp_path, batches):
    path = str(tmp_path / "tbl")
    for b in batches:
        snap.write_snapshot(
            spark.createDataFrame(b, "k long, v string"), path, mode="append"
        )
    return path


def _sixteenth_of_table_bytes(path):
    """A compaction target of 1/16 of the live table's bytes on disk. The
    table's bytes depend on how many files ``local[N]`` wrote (one footer
    each), so a fixed byte target would give a core-count-dependent file
    count."""
    files = snap._manifest_files(path, snap._read_manifest(path, snap.current_version(path)))
    return sum(Path(f).stat().st_size for f in files) // 16


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    path = _table(spark, tmp_path, [[(1, "a"), (2, "b")], [(3, "c"), (4, "d")]])
    v_before = snap.current_version(path)
    src = spark.createDataFrame([(2, "B!"), (5, "e")], "k long, v string")
    v = snap.merge_upsert(spark, src, path, ["k"])
    assert v == v_before + 1
    got = _rows(snap.read_snapshot(spark, path))
    assert got == {(1, "a"), (2, "B!"), (3, "c"), (4, "d"), (5, "e")}
    # Time travel: the pre-merge version is untouched.
    before = _rows(snap.read_snapshot(spark, path, version=v_before))
    assert before == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}


def test_merge_rewrites_only_matching_files(spark, tmp_path):
    # Batch 1 holds keys 1-2, batch 2 holds keys 3-4; a merge touching
    # only key 2 must carry batch 2's files over as pure metadata.
    path = str(tmp_path / "tbl")
    snap.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1),
        path,
        mode="append",
    )
    snap.write_snapshot(
        spark.createDataFrame([(3, "c"), (4, "d")], "k long, v string").coalesce(1),
        path,
        mode="append",
    )
    files_before = snap._read_manifest(path, snap.current_version(path))["files"]
    batch2_files = [f for f in files_before if "/snap-1-" in f]
    assert batch2_files
    src = spark.createDataFrame([(2, "B!")], "k long, v string")
    v = snap.merge_upsert(spark, src, path, ["k"])
    m = snap._read_manifest(path, v)
    assert m["mode"] == "merge"
    assert m["rewrote_files"] == 1
    # Batch 2's file is carried verbatim — no rewrite, no new copy.
    for f in batch2_files:
        assert f in m["files"]
    got = _rows(snap.read_snapshot(spark, path))
    assert got == {(1, "a"), (2, "B!"), (3, "c"), (4, "d")}


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    path = _table(spark, tmp_path, [[(1, "a")]])
    src = spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string")
    with pytest.raises(ValueError, match="unique source keys"):
        snap.merge_upsert(spark, src, path, ["k"])


def test_merge_rejects_schema_mismatch(spark, tmp_path):
    path = _table(spark, tmp_path, [[(1, "a")]])
    src = spark.createDataFrame([(1, "x", 0.5)], "k long, v string, extra double")
    with pytest.raises(ValueError, match="schema mismatch"):
        snap.merge_upsert(spark, src, path, ["k"])


def test_delete_where_removes_rows_and_carries_untouched_files(spark, tmp_path):
    path = str(tmp_path / "tbl")
    snap.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1),
        path,
        mode="append",
    )
    snap.write_snapshot(
        spark.createDataFrame([(3, "c"), (4, "d")], "k long, v string").coalesce(1),
        path,
        mode="append",
    )
    v_before = snap.current_version(path)
    v = snap.delete_where(spark, path, "k = 1")
    m = snap._read_manifest(path, v)
    assert m["mode"] == "delete"
    assert m["rewrote_files"] == 1 and m["carried_files"] == 1
    assert _rows(snap.read_snapshot(spark, path)) == {(2, "b"), (3, "c"), (4, "d")}
    # Deleted rows remain in history until retention purges them.
    assert (1, "a") in _rows(snap.read_snapshot(spark, path, version=v_before))
    # No-match delete commits a metadata-only version.
    v2 = snap.delete_where(spark, path, "k = 999")
    assert _rows(snap.read_snapshot(spark, path, version=v2)) == {
        (2, "b"),
        (3, "c"),
        (4, "d"),
    }


def test_merge_delete_modes_force_ivm_full_recompute(spark, tmp_path):
    # MERGE and DELETE rewrite history, so their manifests must not be
    # recorded as appends. batch_committed reads `mode` on a legacy
    # (unstamped) table: an append at version == batch id counts as that
    # batch's commit. A MERGE recorded as `append` would make a legacy
    # replay of the batch with that id look committed and drop it.
    path = _table(spark, tmp_path, [[(1, "a")]])
    v0 = snap.current_version(path)
    snap.merge_upsert(
        spark, spark.createDataFrame([(2, "b")], "k long, v string"), path, ["k"]
    )
    v1 = snap.current_version(path)
    assert not snap._read_manifest(path, v1)["mode"] == "append"
    assert snap.batch_committed(path, v0)
    assert not snap.batch_committed(path, v1)


def test_clustered_compaction_zone_maps_prune_on_both_dims(spark, tmp_path):
    # 2-D uniform grid appended as row-major stripes (perfectly clustered
    # on x, scattered on y). After Z-order compaction both dimensions get
    # tight per-file envelopes, so a small box query prunes most files —
    # using manifest stats alone, no file opens.
    path = str(tmp_path / "tbl")
    n = 64
    rows = [(x, y, x * n + y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long, payload long")
    snap.write_snapshot(df, path, mode="append")
    v = snap.compact_snapshot(
        spark,
        path,
        target_file_bytes=_sixteenth_of_table_bytes(path),
        cluster_by=["x", "y"],
        bits=6,
    )
    m = snap._read_manifest(path, v)
    assert m["cluster_by"] == ["x", "y"]
    n_files = len(m["files"])
    assert n_files >= 8
    stats = snap.file_stats(path, v)
    assert set(stats) == set(m["files"])
    # A box covering ~1/64 of the grid must skip the large majority of files.
    bounds = {"x": (0, 7), "y": (0, 7)}
    pruned = snap.read_snapshot_pruned(spark, path, bounds, version=v)
    kept_files = {
        f
        for f in m["files"]
        if not (stats[f]["x"][1] < 0 or stats[f]["x"][0] > 7)
        and not (stats[f]["y"][1] < 0 or stats[f]["y"][0] > 7)
    }
    assert len(kept_files) < n_files / 2
    # Pruned read + row filter == full read + row filter (file pruning is
    # a pure optimization, never a semantics change).
    expect = _rows(
        snap.read_snapshot(spark, path, version=v).where(
            "x between 0 and 7 and y between 0 and 7"
        )
    )
    got = _rows(pruned.where("x between 0 and 7 and y between 0 and 7"))
    assert got == expect and len(expect) == 64


def test_pruning_keeps_files_without_stats(spark, tmp_path):
    # Plain (unclustered) compaction records no stats: pruning must keep
    # every file (conservative), never silently drop data.
    path = _table(spark, tmp_path, [[(1, "a"), (2, "b")]])
    v = snap.compact_snapshot(spark, path)
    pruned = snap.read_snapshot_pruned(spark, path, {"k": (999, 1000)}, version=v)
    assert _rows(pruned) == {(1, "a"), (2, "b")}


@pytest.mark.slow
def test_zone_maps_persist_across_append_merge_delete(spark, tmp_path):
    """Once clustered, zone maps survive later commits: carried files keep
    their recorded ranges, new files get stats scanned at commit time, so
    read_snapshot_pruned (and MERGE's probe pruning) keep working over the
    table's whole lifecycle."""
    path = str(tmp_path / "tbl")
    snap.write_snapshot(
        spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS v"), path
    )
    snap.compact_snapshot(spark, path, target_file_bytes=4 << 10, cluster_by=["k"])

    # Append: new files must appear in the propagated stats.
    v_app = snap.write_snapshot(
        spark.createDataFrame([(5000, 1)], "k long, v long").coalesce(1),
        path,
        mode="append",
    )
    m = snap._read_manifest(path, v_app)
    assert m["cluster_by"] == ["k"] and set(m["stats"]) == set(m["files"])
    new_file_stats = [s for f, s in m["stats"].items() if "/snap-2-" in f]
    assert new_file_stats == [{"k": [5000, 5000]}]

    # Merge far outside every clustered file's range: probe pruning means
    # zero rewrites (pure insert), and stats still cover every live file.
    v_mrg = snap.merge_upsert(
        spark, spark.createDataFrame([(9000, 9)], "k long, v long"), path, ["k"]
    )
    m = snap._read_manifest(path, v_mrg)
    assert m["rewrote_files"] == 0
    assert set(m["stats"]) == set(m["files"])

    # Delete inside one file's range: only overlapping files rewritten,
    # stats follow, and a pruned read over the deleted range sees nothing.
    v_del = snap.delete_where(spark, path, "k = 5000")
    m = snap._read_manifest(path, v_del)
    assert set(m["stats"]) == set(m["files"])
    assert snap.read_snapshot_pruned(
        spark, path, {"k": (5000, 5000)}, version=v_del
    ).where("k = 5000").count() == 0
    assert snap.read_snapshot(spark, path).count() == 1001  # 1000 + 9000 - 5000


@pytest.mark.slow
def test_merge_delete_interleavings_match_model(spark, tmp_path):
    """Randomized (seeded) interleavings of MERGE / DELETE / clustered or
    plain compaction / retention must always leave the latest read equal
    to a driver-side key→value model — the copy-on-write analogue of the
    append-layer interleaving invariant in
    test_snapshot_op_interleavings_preserve_contents."""
    import random

    for seed in (11, 42):
        rng = random.Random(seed)
        path = str(tmp_path / f"tbl_{seed}")
        model: dict[int, int] = {}
        for step in range(8):
            op = rng.choice(["merge", "merge", "delete", "compact", "expire"])
            if op == "merge" or not model:
                ks = rng.sample(range(20), rng.randint(1, 6))
                rows = [(k, rng.randint(0, 999)) for k in ks]
                src = spark.createDataFrame(rows, "k long, v long")
                if snap.current_version(path) is None:
                    snap.write_snapshot(src, path, mode="append")
                else:
                    snap.merge_upsert(spark, src, path, ["k"])
                model.update(dict(rows))
            elif op == "delete":
                m, r = rng.randint(2, 5), rng.randint(0, 1)
                snap.delete_where(spark, path, f"k % {m} = {r}")
                model = {k: v for k, v in model.items() if k % m != r}
            elif op == "compact":
                cluster = rng.choice([None, ["k"], ["k", "v"]])
                snap.compact_snapshot(spark, path, cluster_by=cluster)
            elif op == "expire":
                snap.expire_snapshots(path, keep_last=2)
            if snap.versions(path):
                live = snap.read_snapshot(spark, path)
                got = {(r["k"], r["v"]) for r in live.collect()}
                assert got == set(model.items()), (seed, step, op)

        # Change-feed closure: replaying the retraction feed from the
        # earliest still-present version on top of that version's
        # contents must reconstruct the live table exactly.
        vs = snap.versions(path)
        if len(vs) > 1:
            base_v = vs[0]
            from collections import Counter

            state = Counter(
                (r["k"], r["v"])
                for r in snap.read_snapshot(spark, path, version=base_v).collect()
            )
            for r in snap.read_row_changes(spark, path, base_v).collect():
                state[(r["k"], r["v"])] += 1 if r["_op"] == "insert" else -1
            rebuilt = {kv for kv, n in state.items() if n > 0}
            assert all(n in (0, 1) for n in state.values()), seed
            assert rebuilt == set(model.items()), seed


def test_delete_to_empty_table_stays_readable(spark, tmp_path):
    """Deleting every row is a legal state: the manifest carries the
    schema, so the empty version reads back as a typed empty frame and a
    later merge can repopulate it."""
    path = _table(spark, tmp_path, [[(1, "a"), (2, "b")]])
    snap.delete_where(spark, path, "k >= 0")
    live = snap.read_snapshot(spark, path)
    assert live.count() == 0
    assert dict(live.dtypes) == {"k": "bigint", "v": "string"}
    snap.merge_upsert(
        spark, spark.createDataFrame([(7, "z")], "k long, v string"), path, ["k"]
    )
    assert _rows(snap.read_snapshot(spark, path)) == {(7, "z")}


def test_stats_survive_json_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    snap.write_snapshot(
        spark.createDataFrame([(1, "a"), (9, "z")], "k long, v string"), path
    )
    v = snap.compact_snapshot(spark, path, cluster_by=["k"], bits=4)
    raw = json.loads((Path(path) / "manifests" / f"{v}.json").read_text())
    for f, st in raw["stats"].items():
        assert Path(f).exists()
        lo, hi = st["k"]
        assert isinstance(lo, int) and isinstance(hi, int) and lo <= hi


def test_schema_evolution_add_column(spark, tmp_path):
    """Appends may WIDEN the schema: the manifest records the new schema,
    reads project NULL for files predating the column, time travel keeps
    each version's own schema, and MERGE/DELETE rewrite old files under
    the evolved view. Drops and type changes are rejected."""
    import pytest as _pytest

    path = str(tmp_path / "tbl")
    v0 = snap.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1),
        path,
    )
    v1 = snap.write_snapshot(
        spark.createDataFrame([(3, "c", 0.9)], "k long, v string, score double"),
        path,
        mode="append",
    )
    live = snap.read_snapshot(spark, path)
    assert dict(live.dtypes)["score"] == "double"
    got = {(r["k"], r["score"]) for r in live.collect()}
    assert got == {(1, None), (2, None), (3, 0.9)}
    # Time travel: version 0 still has its own (narrow) schema.
    assert "score" not in snap.read_snapshot(spark, path, version=v0).columns

    # Rejected evolutions.
    with _pytest.raises(ValueError, match="widening superset"):
        snap.write_snapshot(
            spark.createDataFrame([(4,)], "k long"), path, mode="append"
        )
    with _pytest.raises(ValueError, match="widening superset"):
        snap.write_snapshot(
            spark.createDataFrame([(4, 1, 0.1)], "k long, v int, score double"),
            path,
            mode="append",
        )

    # MERGE under the evolved schema rewrites a pre-evolution file: the
    # carried row materializes score=NULL, the update carries its value.
    snap.merge_upsert(
        spark,
        spark.createDataFrame([(2, "B!", 0.5)], "k long, v string, score double"),
        path,
        ["k"],
    )
    got = {
        (r["k"], r["v"], r["score"])
        for r in snap.read_snapshot(spark, path).collect()
    }
    assert got == {(1, "a", None), (2, "B!", 0.5), (3, "c", 0.9)}

    # The change feed spans both eras (old-era rows surface score=NULL).
    feed = snap.read_row_changes(spark, path, v0)
    assert "score" in feed.columns
    assert feed.where("_op = 'delete' AND k = 2 AND score IS NULL").count() == 1


def test_scan_snapshot_pushes_bounds_to_zone_maps(spark, tmp_path):
    """scan_snapshot derives conservative bounds from a SQL predicate and
    prunes via zone maps (native scan of survivors only), with identical
    results to an unpruned filtered read; OR/NOT disables pruning."""
    path = str(tmp_path / "tbl")
    snap.write_snapshot(
        spark.range(4096).selectExpr("id AS k", "id % 13 AS v"), path
    )
    v = snap.compact_snapshot(
        spark, path, target_file_bytes=_sixteenth_of_table_bytes(path), cluster_by=["k"]
    )
    n_files = len(snap._read_manifest(path, v)["files"])
    assert n_files >= 8

    pred = "k BETWEEN 100 AND 160 AND v >= 0"
    df = snap.scan_snapshot(spark, path, pred)
    scanned = {f.removeprefix("file://") for f in df.inputFiles()}
    assert len(scanned) < n_files / 2  # zone maps pruned most files
    expect = _rows(snap.read_snapshot(spark, path).where(pred))
    assert _rows(df) == expect and len(expect) == 61

    # Strict inequality widened conservatively; equality becomes a point.
    df_eq = snap.scan_snapshot(spark, path, "k = 7")
    assert _rows(df_eq) == {(7, 7 % 13)}
    assert len({f for f in df_eq.inputFiles()}) == 1

    # OR disables pruning (correctness first): all files scanned.
    df_or = snap.scan_snapshot(spark, path, "k = 7 OR k = 4000")
    assert len({f for f in df_or.inputFiles()}) == n_files
    assert _rows(df_or) == {(7, 7 % 13), (4000, 4000 % 13)}


def test_bounds_extraction_is_conservative(spark):
    from receiptanalyzerpipeline_spark.sources.snapshots import (
        _bounds_from_predicate,
    )

    assert _bounds_from_predicate("k >= 5 AND k < 9") == {"k": (5, 9)}
    assert _bounds_from_predicate("k BETWEEN 2 AND 4 AND v = 'x'") == {
        "k": (2, 4),
        "v": ("x", "x"),
    }
    # Contradiction still prunes correctly (empty range).
    assert _bounds_from_predicate("k = 5 AND k = 6") == {"k": (6, 5)}
    # OR / NOT anywhere: no pruning at all.
    assert _bounds_from_predicate("k = 5 OR v = 'a'") == {}
    assert _bounds_from_predicate("NOT (k = 5)") == {}
    # Expressions over columns never produce bogus column bounds.
    assert "1" not in _bounds_from_predicate("k + 1 >= 5")


@pytest.mark.slow
def test_check_constraints_enforced_across_commit_paths(spark, tmp_path):
    """CHECK constraints live in the manifest, propagate through every
    commit, and reject violating rows at append/merge/sink time BEFORE
    any manifest is published (NULL passes, per SQL semantics)."""
    path = str(tmp_path / "tbl")
    snap.write_snapshot(
        spark.createDataFrame([(1, "a")], "k long, v string"), path
    )
    v_c = snap.set_constraints(path, {"k_pos": "k > 0", "v_ne": "length(v) > 0"})
    assert snap._read_manifest(path, v_c)["mode"] == "constraints"

    # Valid append commits and carries the constraints forward.
    v = snap.write_snapshot(
        spark.createDataFrame([(2, "b"), (3, None)], "k long, v string"),
        path,
        mode="append",  # NULL v passes: CHECK fails only on FALSE
    )
    assert snap._read_manifest(path, v)["constraints"] == {
        "k_pos": "k > 0",
        "v_ne": "length(v) > 0",
    }

    # Violating append: rejected, no version published.
    before = snap.versions(path)
    with pytest.raises(snap.ConstraintViolation, match="k_pos"):
        snap.write_snapshot(
            spark.createDataFrame([(-5, "x")], "k long, v string"), path, mode="append"
        )
    assert snap.versions(path) == before

    # Violating MERGE source: rejected.
    with pytest.raises(snap.ConstraintViolation, match="v_ne"):
        snap.merge_upsert(
            spark, spark.createDataFrame([(2, "")], "k long, v string"), path, ["k"]
        )

    # Constraints survive compaction and keep binding afterwards.
    snap.compact_snapshot(spark, path)
    with pytest.raises(snap.ConstraintViolation):
        snap.write_snapshot(
            spark.createDataFrame([(0, "x")], "k long, v string"), path, mode="append"
        )

    # Streaming sink enforces too (call the foreachBatch fn directly).
    sink = snap.snapshot_sink(path)
    with pytest.raises(snap.ConstraintViolation):
        sink(spark.createDataFrame([(-1, "y")], "k long, v string"), 777)
    assert not snap.batch_committed(path, 777)
    sink(spark.createDataFrame([(9, "ok")], "k long, v string"), 778)
    assert snap.batch_committed(path, 778)

    # Dropping constraints re-opens the gate.
    snap.set_constraints(path, {})
    snap.write_snapshot(
        spark.createDataFrame([(-5, "x")], "k long, v string"), path, mode="append"
    )
    assert snap.read_snapshot(spark, path).where("k = -5").count() == 1


def test_predicate_bounds_conservative_property():
    """Property (hypothesis, pure Python): for ANY conjunctive predicate
    — including atoms the extractor cannot parse — every row satisfying
    the predicate lies inside the extracted per-column bounds. That is
    the exact invariant zone-map pruning needs: a file range containing a
    satisfying row can never be pruned."""
    from hypothesis import given, settings, strategies as st

    from receiptanalyzerpipeline_spark.sources.snapshots import (
        _bounds_from_predicate,
    )

    cols = ("k", "v")
    lit = st.integers(min_value=-50, max_value=50)

    simple = st.tuples(
        st.just("simple"), st.sampled_from(cols),
        st.sampled_from([">=", "<=", "=", "<", ">"]), lit,
    )
    between = st.tuples(st.just("between"), st.sampled_from(cols), lit, lit)
    arith = st.tuples(
        st.just("arith"), st.sampled_from(cols), lit,
        st.sampled_from([">=", "<="]), lit,
    )
    atoms = st.lists(st.one_of(simple, between, arith), min_size=1, max_size=5)

    def render(atom) -> str:
        if atom[0] == "simple":
            _, c, op, x = atom
            return f"{c} {op} {x}"
        if atom[0] == "between":
            _, c, a, b = atom
            return f"{c} BETWEEN {a} AND {b}"
        _, c, add, op, x = atom
        return f"{c} + {add} {op} {x}"  # unparseable by design

    def holds(atom, row) -> bool:
        if atom[0] == "simple":
            _, c, op, x = atom
            return {
                ">=": row[c] >= x, "<=": row[c] <= x, "=": row[c] == x,
                "<": row[c] < x, ">": row[c] > x,
            }[op]
        if atom[0] == "between":
            _, c, a, b = atom
            return a <= row[c] <= b
        _, c, add, op, x = atom
        return (row[c] + add) >= x if op == ">=" else (row[c] + add) <= x

    @settings(max_examples=300, deadline=None)
    @given(atoms=atoms, k=lit, v=lit, paren=st.booleans())
    def prop(atoms, k, v, paren):
        row = {"k": k, "v": v}
        if not all(holds(a, row) for a in atoms):
            return  # predicate not satisfied: nothing to assert
        text = " AND ".join(
            f"({render(a)})" if paren else render(a) for a in atoms
        )
        bounds = _bounds_from_predicate(text)
        for c, (lo, hi) in bounds.items():
            assert c in row, f"bogus column {c!r} from {text!r}"
            if lo is not None:
                assert row[c] >= lo, (text, bounds, row)
            if hi is not None:
                assert row[c] <= hi, (text, bounds, row)

    prop()


def test_timestamp_time_travel(spark, tmp_path):
    """AS OF TIMESTAMP: each manifest records its commit instant, and a
    timestamp resolves to the newest commit at or before it — exact at
    the recorded instants, stable between them."""
    path = _table(
        spark, tmp_path, [[(1, "a")], [(2, "b")], [(3, "c")]]
    )
    ts = {
        v: snap._read_manifest(path, v)["committed_at"]
        for v in snap.versions(path)
    }
    assert ts[0] <= ts[1] <= ts[2]
    # Exactly at each commit instant: that version.
    for v in (0, 1, 2):
        assert snap.version_at(path, ts[v]) >= v  # same-tick commits allowed
        got = _rows(snap.read_snapshot(spark, path, timestamp=ts[v]))
        assert {(v0 + 1) for v0 in range(v + 1)} <= {k for k, _ in got}
    # Far future: latest. Before the first commit: error.
    assert snap.version_at(path, ts[2] + 1e6) == 2
    with pytest.raises(FileNotFoundError):
        snap.version_at(path, ts[0] - 1e6)
    with pytest.raises(ValueError, match="not both"):
        snap.read_snapshot(spark, path, version=1, timestamp=ts[1])


def test_zorder_on_string_keys_prunes_lexicographic_ranges(spark, tmp_path):
    """String cluster columns embed their 7-byte UTF-8 prefix as the
    Morton input, so zone maps on the raw strings are tight and a
    lexicographic range predicate prunes files — the doc-id case every
    training-data table hits."""
    path = str(tmp_path / "tbl")
    rows = [(f"doc-{i:05d}", i % 7) for i in range(4096)]
    snap.write_snapshot(
        spark.createDataFrame(rows, "doc_id string, label long"), path
    )
    v = snap.compact_snapshot(
        spark, path, target_file_bytes=2 << 10, cluster_by=["doc_id"], bits=12
    )
    m = snap._read_manifest(path, v)
    n_files = len(m["files"])
    assert n_files >= 8
    stats = snap.file_stats(path, v)
    # Zone maps hold the raw strings, and clustering makes them tight:
    # most files' [min, max] spans a narrow id range.
    pred = "doc_id BETWEEN 'doc-00100' AND 'doc-00160'"
    df = snap.scan_snapshot(spark, path, pred)
    assert len(df.inputFiles()) < n_files / 2
    got = {r["doc_id"] for r in df.collect()}
    assert got == {f"doc-{i:05d}" for i in range(100, 161)}
    # Mixed string+numeric 2-D clustering also prunes on the string dim.
    v2 = snap.compact_snapshot(
        spark, path, target_file_bytes=2 << 10, cluster_by=["doc_id", "label"], bits=6
    )
    df2 = snap.scan_snapshot(spark, path, pred)
    assert {r["doc_id"] for r in df2.collect()} == got
    assert len(df2.inputFiles()) < len(snap._read_manifest(path, v2)["files"])


def test_vacuum_keep_from_protects_consumer_watermarks(spark, tmp_path):
    """keep_from_version: retention never expires a version a consumer
    still needs, so a change-feed reader's watermark at that version stays
    diff-able after the vacuum."""
    path = _table(
        spark, tmp_path,
        [[(1, "a")], [(2, "b")], [(3, "c")], [(4, "d")], [(5, "e")]],
    )
    expired = snap.expire_snapshots(path, keep_last=1, keep_from_version=2)
    assert expired == [0, 1]
    assert snap.versions(path) == [2, 3, 4]
    # The protected watermark still supports a row-level change feed
    # (changes strictly AFTER the watermark version).
    feed = snap.read_row_changes(spark, path, 2)
    assert {r["k"] for r in feed.collect()} == {4, 5}


def test_manifest_extra_static_reserved_set(spark, tmp_path):
    """ADVICE r8: the clash guard must check a STATIC reserved set, not
    the keys present at the call site — tree mode pops 'files' into
    group manifests before the guard, and append manifests never carry
    'groups', so both used to slip through and corrupt the file list."""
    from receiptanalyzerpipeline_spark.sources import snapshots as snap

    p = str(tmp_path / "tbl")
    df = spark.range(3).select(F.col("id").alias("k"))
    # 'groups' is never present in a files-mode append manifest — the
    # old dynamic check let it through.
    with pytest.raises(ValueError, match="collide"):
        snap.write_snapshot(df, p, mode="append", manifest_extra={"groups": []})
    # 'stats' only appears when stats_cols is set — statically reserved.
    with pytest.raises(ValueError, match="collide"):
        snap.write_snapshot(df, p, mode="append", manifest_extra={"stats": {}})
    # Namespaced app metadata still travels.
    assert snap.write_snapshot(df, p, mode="append", manifest_extra={"app_x": 1}) == 0


def test_manifest_extra_reserved_key_collision_raises(spark, tmp_path):
    from receiptanalyzerpipeline_spark.sources import snapshots as snap

    p = str(tmp_path / "tbl")
    df = spark.range(3).select(F.col("id").alias("k"))
    # Benign, namespaced metadata still travels with the commit.
    v = snap.write_snapshot(df, p, mode="append", manifest_extra={"app_tag": "ok"})
    assert v == 0
    with pytest.raises(ValueError, match="collide"):
        snap.write_snapshot(df, p, mode="append", manifest_extra={"files": []})
    # The refused commit published nothing.
    assert snap.current_version(p) == 0


def test_merge_upsert_manifest_extra_guarded(spark, tmp_path):
    from receiptanalyzerpipeline_spark.sources import snapshots as snap

    p = str(tmp_path / "tbl")
    snap.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), p, mode="append"
    )
    src = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    with pytest.raises(ValueError, match="collide"):
        snap.merge_upsert(spark, src, p, ["k"], manifest_extra={"merge_of": 99})
    assert snap.current_version(p) == 0
    v = snap.merge_upsert(spark, src, p, ["k"], manifest_extra={"app_tag": "x"})
    assert v == 1
    rows = {
        (r["k"], r["v"])
        for r in snap.read_snapshot(spark, p).collect()
    }
    assert rows == {(1, "a"), (2, "B"), (3, "c")}


def test_snapshot_op_interleavings_preserve_contents(spark, tmp_path):
    """Randomized (seeded) interleavings of append / replay / compact /
    expire must always leave the latest read equal to the multiset of
    appended rows — the invariant every other layer (curation state, the
    change feed) builds on."""
    import random

    from receiptanalyzerpipeline_spark.sources.snapshots import (
        compact_snapshot,
        expire_snapshots,
        read_snapshot,
        snapshot_sink,
        versions,
    )

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        path = str(tmp_path / f"tbl_{seed}")
        sink = snapshot_sink(path)
        appended: list[int] = []
        next_batch = 0
        delivered: dict[int, tuple[int, int]] = {}
        for _ in range(10):
            op = rng.choice(["append", "append", "replay", "compact", "expire"])
            if op == "append":
                lo = next_batch * 100
                hi = lo + rng.randint(1, 30)
                delivered[next_batch] = (lo, hi)
                sink(spark.range(lo, hi).toDF("id"), next_batch)
                appended.extend(range(lo, hi))
                next_batch += 1
            elif op == "replay" and delivered:
                b = rng.choice(sorted(delivered))
                lo, hi = delivered[b]
                sink(spark.range(lo, hi).toDF("id"), b)  # must be a no-op
            elif op == "compact" and versions(path):
                compact_snapshot(spark, path)
            elif op == "expire" and len(versions(path)) > 2:
                expire_snapshots(path, keep_last=2)
            if versions(path):
                got = sorted(r["id"] for r in read_snapshot(spark, path).collect())
                assert got == sorted(appended), (seed, op)


def test_replay_of_expired_batch_stays_a_noop(spark, tmp_path):
    """The ledger closes the expire-then-replay hole: after retention
    removes a batch's manifest, re-delivering that batch must STILL be
    recognized as committed (no duplicate rows)."""
    from receiptanalyzerpipeline_spark.sources.snapshots import (
        batch_committed,
        expire_snapshots,
        read_snapshot,
        snapshot_sink,
        versions,
    )

    path = str(tmp_path / "tbl")
    sink = snapshot_sink(path)
    for b in range(4):
        sink(spark.range(b * 10, (b + 1) * 10).toDF("id"), b)
    expired = expire_snapshots(path, keep_last=2)
    assert expired == [0, 1]
    assert batch_committed(path, 0) and batch_committed(path, 1)

    sink(spark.range(0, 10).toDF("id"), 0)  # late replay of expired batch
    assert read_snapshot(spark, path).count() == 40  # no duplicates
    assert versions(path) == [2, 3]
