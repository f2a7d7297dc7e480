"""Manifest-based snapshot layer over parquet: atomic commits and
time-travel reads (the Iceberg/Delta core idea, minimally).

A table directory holds immutable data files plus a manifest per
version; the manifest — not the directory listing — defines table
contents, so readers never see partial writes and any historical
version stays readable:

    <path>/data/snap-<N>/part-*.parquet   immutable data files
    <path>/manifests/<N>.json             file list composing version N
    <path>/VERSION                        latest committed version

Commit protocol: data files are fully written first (into a
uniquely-named dir, so writers never collide on data), then the manifest
is PUBLISHED with an atomic conditional-put (write-to-temp + os.link,
which fails with EEXIST if the version is already claimed — the local-FS
analogue of an object store's if-none-match put). A reader sees either
the old or the new version, never a mix or a partial manifest.
Optimistic concurrency: appends losing the race re-chain on the new head
and retry (appends commute); overwrite/merge/delete raise
``CommitConflict`` for the caller to recompute — the Delta/Iceberg
concurrent-modification contract. The VERSION pointer is only a
monotonic read cache.

100 TB posture: the manifest is O(data files), not O(rows) — list-free
reads (no S3 LIST on the data prefix, the classic object-store
bottleneck), version pruning for retention, and append commits that
touch only new files. Real deployments graduate to Iceberg/Delta for
multi-writer commits, partition-level stats, and manifest trees; the
read/commit CONTRACT is identical, which is the point of this module.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def _version_file(path: str) -> Path:
    return Path(path) / "VERSION"


def current_version(path: str) -> int | None:
    """Newest COMMITTED version. A version is committed iff its manifest
    exists, so the manifest set — not the VERSION pointer — is the source
    of truth: in the crash window between a manifest write and the pointer
    rename the pointer lags, and trusting it would serve stale data (and
    a retention pass could even delete the manifest a lagging pointer
    references). The pointer remains as an O(1) read cache for clients
    that cannot list the manifest prefix."""
    vs = versions(path)
    if vs:
        return vs[-1]
    vf = _version_file(path)
    if not vf.exists():
        return None
    return int(vf.read_text().strip())


def _manifest_path(path: str, version: int) -> Path:
    return Path(path) / "manifests" / f"{version}.json"


def _read_manifest(path: str, version: int) -> dict:
    return json.loads(_manifest_path(path, version).read_text())


def _check_append_schema(prev_manifest: dict, df: DataFrame) -> None:
    """Schema evolution contract for appends: the incoming frame may ADD
    columns (widening — old files project NULL for them on read) but must
    keep every existing column with its exact type. Anything else (drops,
    type changes) would silently corrupt old rows under the
    manifest-schema-driven read and is rejected."""
    sch = prev_manifest.get("schema")
    if sch is None:
        return  # pre-schema manifest: nothing to check against
    old = {f["name"]: f["type"] for f in sch["fields"]}
    new = {f["name"]: f["type"] for f in df.schema.jsonValue()["fields"]}
    missing = [c for c in old if c not in new]
    changed = [c for c in old if c in new and new[c] != old[c]]
    if missing or changed:
        raise ValueError(
            "append schema must be a widening superset of the table schema; "
            f"missing={missing} type_changed={changed}"
        )


class ConstraintViolation(Exception):
    """A commit's incoming rows violate a table CHECK constraint. The
    commit is rejected BEFORE any manifest is published — the table never
    holds a violating row (writer-enforced, reader-trusted, the Delta
    CHECK-constraint contract)."""


def set_constraints(path: str, constraints: dict[str, str]) -> int:
    """Record CHECK constraints (name -> SQL boolean expression) as a
    metadata-only commit; returns the new version. Constraints propagate
    through every later commit's manifest and are enforced on the
    incoming rows of every data-adding commit (append, overwrite, MERGE,
    streaming sinks). SQL semantics: a row violates only when the
    expression is FALSE — NULL passes. Passing ``{}`` drops them all."""
    committed = versions(path)
    if not committed:
        raise FileNotFoundError(f"no committed version at {path}")
    pm = _read_manifest(path, committed[-1])
    m = {
        k: v
        for k, v in pm.items()
        if k in ("files", "schema", "stats", "cluster_by", "groups")
    }
    m["mode"] = "constraints"
    m["constraints"] = constraints
    version = committed[-1] + 1
    m["version"] = version
    try:
        _write_manifest_exclusive(path, version, m)
    except FileExistsError:
        raise CommitConflict(
            f"version {version} at {path} was committed by another writer"
        ) from None
    _advance_pointer(path, version)
    return version


def _check_constraints(df: DataFrame, prev_manifest: dict) -> None:
    """Reject the commit if any incoming row makes a constraint FALSE.
    One bounded action (LIMIT 1 per constraint, single filter pass) —
    the cost scales with the COMMIT's rows, never the table."""
    from pyspark.sql import functions as F

    cons = prev_manifest.get("constraints") or {}
    for name, expr in cons.items():
        bad = df.where(F.coalesce(F.expr(expr), F.lit(True)) == False).limit(1).collect()  # noqa: E712
        if bad:
            raise ConstraintViolation(
                f"constraint {name!r} ({expr}) violated by row {bad[0].asDict()}"
            )


class CommitConflict(Exception):
    """Another writer committed first and this commit's inputs are stale.

    Raised only for commits whose CONTENT depends on the base version
    (overwrite/compaction/merge/delete): the caller must recompute
    against the new head and retry — the Delta/Iceberg
    ``ConcurrentModificationException`` contract. Appends never raise it:
    they commute, so the writer re-chains and retries internally."""


# STRUCTURAL manifest fields — the ones readers interpret as the file
# list, schema, or commit protocol state. The clash guard checks these
# against a static set, not the keys present in the dict at the call
# site (ADVICE r8): in tree mode "files" is popped into group manifests
# before the guard ran, and append manifests never carry "groups", so a
# dynamic check let manifest_extra={"files": ...} slip through and be
# re-expanded by _manifest_files as a data-file list — exactly the
# corruption the guard exists to prevent. PROVENANCE markers (batch_id,
# compaction_of, merge_of, delete_of, cluster_by) are deliberately NOT
# in this set: carrying them atomically with a commit is what the
# manifest_extra channel exists for (the streaming sink and compactor
# are its callers); at call sites that already wrote one, the dynamic
# present-keys check still raises.
_RESERVED_MANIFEST_KEYS = frozenset(
    {
        "version", "mode", "files", "groups", "schema", "stats",
        "constraints", "carried_files", "rewrote_files",
    }
)


def _apply_manifest_extra(m: dict, extra: dict | None) -> dict:
    """Merge caller-supplied manifest metadata (``manifest_extra``) into
    a fully-built protocol manifest, refusing to clobber commit-protocol
    state (ADVICE r7/r8): any key the protocol writes in ANY mode —
    version/mode/files/groups/schema/batch_id/stats/... — is reserved
    via a static set (not the keys currently in the dict, which vary by
    commit path); a colliding key raises instead of silently corrupting
    replay markers or file lists. Callers should namespace app metadata
    (e.g. ``"app_owner"``) to stay clear of future protocol fields."""
    if not extra:
        return m
    clash = sorted(set(extra) & (_RESERVED_MANIFEST_KEYS | set(m)))
    if clash:
        raise ValueError(
            f"manifest_extra keys {clash} collide with reserved manifest "
            "fields written by the commit protocol; rename them"
        )
    m.update(extra)
    return m


def _write_manifest_exclusive(path: str, version: int, m: dict) -> None:
    """Atomic conditional-put of a manifest: the content is fully written
    to a temp file, then ``os.link`` publishes it iff version N is still
    unclaimed (EEXIST otherwise). Readers can never observe a partial
    manifest, and two writers can never both own version N — the local-FS
    analogue of an object store's if-none-match conditional put."""
    import time as _time
    import uuid as _uuid

    mdir = Path(path) / "manifests"
    mdir.mkdir(parents=True, exist_ok=True)
    # Commit wall-clock, recorded atomically with the manifest: the basis
    # for AS OF TIMESTAMP time travel (version_at).
    m.setdefault("committed_at", _time.time())
    tmp = mdir / f".{version}.{_uuid.uuid4().hex[:8]}.tmp"
    tmp.write_text(json.dumps(m))
    try:
        os.link(tmp, _manifest_path(path, version))
    finally:
        tmp.unlink()


def _advance_pointer(path: str, version: int) -> None:
    """Best-effort monotonic bump of the VERSION read cache (manifests,
    not the pointer, define committedness)."""
    vf = _version_file(path)
    if not vf.exists() or int(vf.read_text().strip()) < version:
        tmp = vf.with_suffix(".tmp")
        tmp.write_text(str(version))
        os.replace(tmp, vf)  # atomic: old or new, never a mix


# ---------------------------------------------------------------------------
# Manifest tree (Iceberg-style manifest list → file groups).
#
# A flat manifest inlines every data file (and its zone-map stats) in one
# JSON — O(live files) driver work on EVERY commit and read, the measured
# cliff at ~6.4k files (SCALE.md). Past GROUP_THRESHOLD files, manifests
# graduate to a TREE: immutable file-group JSONs under manifests/groups/
# hold the per-file lists + stats, and the top manifest records only
# {path, n, bounds} per group. Appends then carry prior groups BY
# REFERENCE (O(change) commit), predicate pruning skips whole groups by
# their bounds before opening any of them, CDC diffs cancel shared group
# references, and MERGE rewrites only the groups its probe touched. The
# commit protocol (atomic conditional-put of the top manifest) is
# unchanged — groups are published before the manifest that references
# them, and an unreferenced group is vacuumed like an orphan data dir.
# ---------------------------------------------------------------------------

GROUP_THRESHOLD = 256  # live files before a manifest graduates to a tree
GROUP_TARGET = 128  # data files per group file
MAX_SMALL_GROUPS = 16  # coalesce sub-target groups past this many


def _group_dir(path: str) -> Path:
    return Path(path) / "manifests" / "groups"


from functools import lru_cache as _lru_cache  # noqa: E402


@_lru_cache(maxsize=8192)
def _read_group(gpath: str) -> tuple[tuple, dict]:
    """(files, per-file stats) of an immutable group file. Cached — group
    files are content-immutable (uuid-named, never rewritten), so the
    cache can only ever serve exactly what a reread would. Callers must
    not mutate the returned stats dict."""
    g = json.loads(Path(gpath).read_text())
    return tuple(g["files"]), g.get("stats") or {}


def _stats_bounds(files: list[str], stats: dict | None) -> dict:
    """Per-column [min, max] over a group's files — recorded in the TOP
    manifest so pruning can skip the whole group without opening it. A
    column is included only when EVERY file has a known range for it
    (otherwise the group must stay conservatively unprunable)."""
    if not stats:
        return {}
    cols = set.intersection(*(set(stats[f]) for f in files)) if all(
        f in stats for f in files
    ) else set()
    out = {}
    for c in cols:
        los = [stats[f][c][0] for f in files]
        his = [stats[f][c][1] for f in files]
        if any(v is None for v in los) or any(v is None for v in his):
            continue
        out[c] = [min(los), max(his)]
    return out


def _write_group(path: str, files: list[str], stats: dict | None) -> dict:
    """Publish one immutable group file; returns its manifest entry."""
    import uuid as _uuid

    gd = _group_dir(path)
    gd.mkdir(parents=True, exist_ok=True)
    g: dict = {"files": list(files)}
    fstats = {f: stats[f] for f in files if f in stats} if stats else {}
    if fstats:
        g["stats"] = fstats
    gp = gd / f"g-{_uuid.uuid4().hex[:12]}.json"
    tmp = gd / (gp.name + ".tmp")
    tmp.write_text(json.dumps(g))
    os.replace(tmp, gp)
    return {"path": str(gp), "n": len(files), "bounds": _stats_bounds(files, fstats)}


def _grouped_entries(path: str, files: list[str], stats: dict | None) -> list[dict]:
    """Chunk ``files`` (in the given order — cluster order for compacted
    tables, so consecutive chunks get tight bounds) into group files."""
    tgt = GROUP_TARGET
    return [
        _write_group(path, files[i : i + tgt], stats)
        for i in range(0, len(files), tgt)
    ]


def _coalesce_small_groups(path: str, groups: list[dict]) -> list[dict]:
    """Bound the top manifest's group count: one group lands per append
    micro-batch, so without maintenance the group list itself regrows the
    flat-manifest cliff one level up. When more than MAX_SMALL_GROUPS
    sub-target groups accumulate, rewrite just those into target-sized
    groups (full groups are never touched) — amortized O(change)."""
    small = [g for g in groups if g["n"] < GROUP_TARGET]
    if len(small) <= MAX_SMALL_GROUPS:
        return groups
    big = [g for g in groups if g["n"] >= GROUP_TARGET]
    files: list[str] = []
    stats: dict = {}
    for g in small:
        gf, gs = _read_group(g["path"])
        files.extend(gf)
        stats.update(gs)
    return big + _grouped_entries(path, files, stats)


def _manifest_files(path: str, m: dict) -> list[str]:
    """The version's full data-file list: inline files + group expansion.
    O(#groups) cached reads; call sites that only need counts or diffs
    should use manifest_file_count / _diff_file_sets instead."""
    files = list(m.get("files", []))
    for g in m.get("groups", []):
        files.extend(_read_group(g["path"])[0])
    return files


def _manifest_stats(path: str, m: dict) -> dict:
    """Per-file zone maps: inline stats + group stats, merged."""
    stats = dict(m.get("stats") or {})
    for g in m.get("groups", []):
        stats.update(_read_group(g["path"])[1])
    return stats


def _manifest_schema(spark: SparkSession, path: str, version: int, m: dict):
    """The version's StructType from its recorded schema — O(1), no file
    listing. Pre-schema manifests (round-4 tables) fall back to resolving
    the file set once."""
    sch = m.get("schema")
    if sch is not None:
        from pyspark.sql.types import StructType

        return StructType.fromJson(sch)
    return read_snapshot(spark, path, version=version).schema


def manifest_file_count(m: dict) -> int:
    """Live file count without expanding any group."""
    return len(m.get("files", [])) + sum(g["n"] for g in m.get("groups", []))


def _tree_carry(
    tree_groups: list[dict], probed_paths: set[str], touched: set[str]
) -> tuple[list[dict], list[str], dict]:
    """Copy-on-write carry over a manifest tree: groups the rewrite
    provably didn't touch (pruned before opening, or opened and disjoint
    from ``touched``) carry BY REFERENCE; touched groups contribute their
    untouched remainder (files + stats) for regrouping. Returns
    (carried_groups, residual_files, residual_stats)."""
    carried_groups: list[dict] = []
    resid_files: list[str] = []
    resid_stats: dict = {}
    for g in tree_groups:
        if g["path"] not in probed_paths:  # pruned ⇒ provably untouched
            carried_groups.append(g)
            continue
        gf, gs = _read_group(g["path"])
        if touched.isdisjoint(gf):
            carried_groups.append(g)
            continue
        rem = [f for f in gf if f not in touched]
        resid_files.extend(rem)
        resid_stats.update({f: gs[f] for f in rem if f in gs})
    return carried_groups, resid_files, resid_stats


def _diff_file_sets(path: str, m_old: dict, m_new: dict) -> tuple[list, list]:
    """(removed, added) files between two manifests. Group references
    shared by both sides cancel WITHOUT being opened, so consecutive
    append diffs cost O(changed groups) — the CDC property that keeps
    change feeds O(change) on tree manifests."""
    go = {g["path"] for g in m_old.get("groups", [])}
    gn = {g["path"] for g in m_new.get("groups", [])}
    old = set(m_old.get("files", []))
    new = set(m_new.get("files", []))
    for p in go - gn:
        old.update(_read_group(p)[0])
    for p in gn - go:
        new.update(_read_group(p)[0])
    return sorted(old - new), sorted(new - old)


def _append_carry(
    spark: SparkSession,
    path: str,
    pm: dict,
    df_cols: list[str],
    new_files: list[str],
    explicit_stats: dict | None = None,
) -> tuple[list[str], list[dict], dict]:
    """Shared append-chain logic for write_snapshot and snapshot_sink:
    returns (inline_files, groups, extra_manifest_fields) for a commit
    appending ``new_files`` onto the manifest ``pm``. Graduates the
    table to a manifest tree once the live file count passes
    GROUP_THRESHOLD; tree-mode appends carry prior groups by reference."""
    prev_groups = list(pm.get("groups", []))
    prev_inline = list(pm.get("files", []))
    total = sum(g["n"] for g in prev_groups) + len(prev_inline) + len(new_files)
    scols = pm.get("cluster_by")
    if not prev_groups and total <= GROUP_THRESHOLD:
        fields = _propagate_stats(spark, pm, prev_inline, new_files)
        if explicit_stats is not None:
            fields["stats"] = {**fields.get("stats", {}), **explicit_stats}
        return prev_inline + new_files, [], fields
    fields: dict = {}
    if scols:
        fields["cluster_by"] = scols
    new_stats = explicit_stats
    if new_stats is None and scols and new_files and set(scols) <= set(df_cols):
        new_stats = _file_stats(spark, new_files, scols)
    groups = prev_groups
    if prev_inline:  # graduation: inline tail becomes its own group(s)
        groups = groups + _grouped_entries(path, prev_inline, pm.get("stats"))
    if new_files:
        groups = groups + _grouped_entries(path, new_files, new_stats)
    return [], _coalesce_small_groups(path, groups), fields


def write_snapshot(
    df: DataFrame,
    path: str,
    mode: str = "append",
    manifest_extra: dict | None = None,
    validate_constraints: bool = True,
    stats_cols: list[str] | None = None,
    expected_head: int | None = None,
) -> int:
    """Commit ``df`` as a new table version; returns the version number.

    ``append`` keeps prior versions' files in the new manifest;
    ``overwrite`` starts the manifest from only the new files (old files
    stay on disk — historical versions remain readable until a
    retention pass removes them). ``manifest_extra`` entries are written
    INTO the manifest atomically with the commit (e.g. a streaming
    sink's ``batch_id`` replay marker). ``stats_cols`` computes per-file
    [min, max] zone maps over the commit's new files and publishes them
    in the same manifest — manifests are immutable once published, so
    metadata that must travel with a commit (compaction provenance,
    clustering, stats) goes through here, never a post-hoc rewrite.

    Concurrency: data files land in a uniquely-named dir (no writer ever
    collides on data), then the manifest is published with a
    conditional-put. If another writer claims the version first, an
    APPEND re-chains on the new head and retries (appends commute); an
    OVERWRITE raises ``CommitConflict`` — its content was computed
    against a base that no longer is the head.

    ``expected_head``: the version the caller's ``df`` was DERIVED from
    (a read-modify-write like compaction). The conditional-put alone
    only detects races inside the publish window; a writer whose READ
    was stale — it read version N, another writer committed N+1, and
    only then did this function run — would otherwise publish its
    rewrite as N+2 and silently drop the interleaved commit's rows (the
    lost update the round-10 continuous soak caught: a live sink's
    batch vanished from a snapshot compacted from a stale read). With
    ``expected_head`` set, the commit raises ``CommitConflict`` whenever
    the current head differs from it.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    head = versions(path)
    if head and validate_constraints:
        _check_constraints(df, _read_manifest(path, head[-1]))
    data_dir = _fresh_data_dir(path)
    df.write.mode("error").parquet(str(data_dir))
    new_files = sorted(
        str(p) for p in data_dir.glob("*.parquet") if not p.name.startswith("_")
    )
    explicit_stats = (
        _file_stats(df.sparkSession, new_files, stats_cols) if stats_cols else None
    )
    while True:
        # A version is COMMITTED iff its manifest exists — chain from the
        # newest manifest, never the VERSION pointer (which lags across
        # the crash window between manifest publish and pointer rename).
        committed = versions(path)
        prev = committed[-1] if committed else None
        if expected_head is not None and prev != expected_head:
            raise CommitConflict(
                f"head at {path} is {prev}, but this write was derived "
                f"from version {expected_head}; recompute against the new "
                "head and retry"
            )
        version = 0 if prev is None else prev + 1
        files = new_files
        groups: list[dict] = []
        stat_fields: dict = {}
        if prev is not None:
            pm = _read_manifest(path, prev)
            if pm.get("constraints"):
                stat_fields["constraints"] = pm["constraints"]
        if mode == "append" and prev is not None:
            _check_append_schema(pm, df)
            files, groups, carry_fields = _append_carry(
                df.sparkSession, path, pm, df.columns, new_files, explicit_stats
            )
            stat_fields.update(carry_fields)
        elif len(new_files) > GROUP_THRESHOLD:
            # Big overwrite (compaction of a large table): born as a tree.
            files, groups = [], _grouped_entries(path, new_files, explicit_stats)
        elif explicit_stats is not None:
            stat_fields["stats"] = explicit_stats
        # Schema travels with the commit so a version whose file list is
        # empty (all rows deleted, empty bootstrap batch) stays readable.
        m = {
            "version": version,
            "mode": mode,
            "files": files,
            "schema": df.schema.jsonValue(),
            **stat_fields,
        }
        if groups:
            m["groups"] = groups
            del m["files"]  # tree mode: file lists live in the groups
        _apply_manifest_extra(m, manifest_extra)
        try:
            _write_manifest_exclusive(path, version, m)
            break
        except FileExistsError:
            if mode != "append":
                raise CommitConflict(
                    f"version {version} at {path} was committed by another "
                    "writer; recompute against the new head and retry"
                ) from None
            continue  # appends commute: re-chain on the new head
    _advance_pointer(path, version)
    return version


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Read the table AS OF ``version``, or AS OF ``timestamp`` (epoch
    seconds — resolved to the newest commit at or before that instant);
    default: latest committed."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at(path, timestamp)
    if version is None:
        version = current_version(path)
        if version is None:
            raise FileNotFoundError(f"no committed version at {path}")
    manifest = _read_manifest(path, version)
    sch = manifest.get("schema")
    files = _manifest_files(path, manifest)
    if not files:
        if sch is None:
            raise FileNotFoundError(f"version {version} at {path} lists no files")
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(sch))
    if sch is not None:
        # Manifest-schema-driven read: the version's recorded schema wins,
        # so a table widened by schema evolution projects NULLs for files
        # written before the added column existed, and time travel reads
        # each version under ITS schema (not the newest file's).
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(sch)).parquet(*files)
    return spark.read.parquet(*files)


def version_at(path: str, timestamp: float) -> int:
    """AS OF TIMESTAMP resolution: the newest version whose commit time is
    <= ``timestamp`` (epoch seconds). Commit times are recorded atomically
    with each manifest, so the mapping is exact and immutable. Raises if
    the table has no commit at or before the instant (or if retention
    already expired it — same contract as version-number time travel)."""
    best = None
    for v in versions(path):
        ts = _read_manifest(path, v).get("committed_at")
        if ts is not None and ts <= timestamp:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no committed version at or before timestamp {timestamp} in {path}"
        )
    return best


def versions(path: str) -> list[int]:
    """All committed, readable versions (ascending)."""
    mdir = Path(path) / "manifests"
    if not mdir.exists():
        return []
    # _batches.json (the expired-batch ledger) lives alongside; manifests
    # are the purely-numeric stems.
    return sorted(int(p.stem) for p in mdir.glob("*.json") if p.stem.isdigit())


def newest_manifest_stamp(path: str, key: str):
    """The value a writer stamped under ``key`` into this table's
    manifests, or None if the table doesn't exist or predates the stamp.
    Newest stamp wins: every commit of a stamping writer carries the same
    value, so the newest-first scan stops at the first hit."""
    for v in reversed(versions(path)):
        value = _read_manifest(path, v).get(key)
        if value is not None:
            return value
    return None


def read_row_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Row-level change feed with RETRACTIONS (the Delta CDF shape): table
    rows tagged ``_op`` ('insert' | 'delete') and ``_version``, covering
    every commit in (from_version, to_version].

    Derivation is pure manifest file-diffing — no row diffing, no extra
    commit-time bookkeeping: a commit's removed files are emitted as
    deletes and its added files as inserts, so an UPDATE surfaces as
    delete(old)+insert(new). Rows a MERGE carried through a rewritten
    file appear as a self-cancelling delete+insert pair — more delta
    volume than minimal CDC, but exact for any retraction-aware consumer
    (an additive aggregate subtracts the deletes), and the volume is
    O(files touched), never O(table).

    Compaction commits are logical no-ops and emit nothing. Consecutive
    PRESENT manifests are diffed, so an expired intermediate version
    simply folds its changes into the next surviving commit's diff — the
    net change stays exact. Requires ``from_version``'s manifest to still
    exist (retention must keep at least the consumer's watermark)."""
    from pyspark.sql import functions as F

    if to_version is None:
        to_version = current_version(path)
    present = [v for v in versions(path) if from_version <= v <= to_version]
    if not present or present[0] != from_version:
        raise FileNotFoundError(
            f"version {from_version} at {path} expired; row-level changes "
            "cannot be derived (retention must keep the consumer watermark)"
        )
    frames = []
    prev_m = _read_manifest(path, from_version)
    for v in present[1:]:
        m = _read_manifest(path, v)
        removed, added = _diff_file_sets(path, prev_m, m)
        if "compaction_of" not in m:
            for files, op in ((removed, "delete"), (added, "insert")):
                if files:
                    frames.append(
                        spark.read.parquet(*files)
                        .withColumn("_op", F.lit(op))
                        .withColumn("_version", F.lit(v).cast("long"))
                    )
        prev_m = m
    if not frames:
        return (
            read_snapshot(spark, path, version=to_version)
            .limit(0)
            .withColumn("_op", F.lit("").cast("string"))
            .withColumn("_version", F.lit(0).cast("long"))
        )
    from functools import reduce

    # allowMissingColumns: frames span schema-evolution eras — files
    # predating an added column surface it as NULL, same as table reads.
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def _ledger_path(path: str) -> Path:
    return Path(path) / "manifests" / "_batches.json"


def _ledger_batch_ids(path: str) -> set[int]:
    lp = _ledger_path(path)
    if not lp.exists():
        return set()
    return set(json.loads(lp.read_text()))


def _ledger_add(path: str, batch_ids: set[int]) -> None:
    if not batch_ids:
        return
    lp = _ledger_path(path)
    merged = sorted(_ledger_batch_ids(path) | batch_ids)
    tmp = lp.with_suffix(".tmp")
    tmp.write_text(json.dumps(merged))
    os.replace(tmp, lp)


def batch_committed(path: str, batch_id: int) -> bool:
    """True iff this micro-batch id was ever committed.

    Replay detection keys on the RECORDED batch id, not on version-number
    equality: maintenance commits (compaction) interleave versions, so a
    sink that asked "does manifest <batch_id> exist?" would mistake the
    compaction's version for its own batch and silently drop data.
    Sources: live manifests PLUS the ``_batches.json`` ledger, where
    ``expire_snapshots`` preserves the batch ids of manifests it deletes
    — without it, a very late replay of an already-expired batch would
    re-commit as new data (duplicates).

    Legacy tables (written before batch ids were stamped into manifests,
    when the sink's contract was version-number==batch_id) are detected
    by shape: no manifest anywhere records a batch_id AND the ledger is
    empty. For those, an append manifest at version==batch_id counts as
    committed — otherwise a pending replay against an upgraded table
    re-commits the batch as duplicate rows. Trade-off: attaching a
    brand-new stream (fresh checkpoint) to a table hand-built by plain
    ``write_snapshot`` appends inherits the legacy contract for its
    first deliveries — identical to pre-upgrade behavior; start such
    streams on a fresh table path."""
    ledger = _ledger_batch_ids(path)
    if batch_id in ledger:
        return True
    stamped = False
    vs = versions(path)
    manifests = {v: _read_manifest(path, v) for v in vs}
    for m in manifests.values():
        bid = m.get("batch_id")
        if bid == batch_id:
            return True
        if bid is not None:
            stamped = True
    # Legacy shape requires BOTH no stamped manifest AND an empty ledger:
    # after expiry moves every stamped id into the ledger, the live
    # manifests alone look legacy, and a new batch id colliding with a
    # version number would be silently treated as committed (dropped).
    if not stamped and not ledger and batch_id in manifests:
        lm = manifests[batch_id]
        if lm.get("mode") == "append" and "compaction_of" not in lm:
            return True
    return False


def snapshot_sink(
    path: str,
    cluster_by: list[str] | None = None,
    manifest_extra: dict | None = None,
):
    """``foreachBatch`` function committing each micro-batch as a table
    version, EXACTLY-ONCE under replay: each manifest records its
    micro-batch id, and a batch some manifest already records is skipped
    wholesale — after a crash between sink write and checkpoint commit,
    Structured Streaming re-delivers the batch and the sink makes the
    redelivery a no-op (same idempotence contract as the engine's
    checkpointed file sinks, SURVEY T4/T7). Version numbers are the next
    sequential integer (not the batch id), so table-maintenance commits
    — ``compact_snapshot`` — can interleave with a live stream safely:
    the manifest publish is a conditional-put, and losing the race to an
    interleaved maintenance commit just re-chains on the new head and
    retries (the batch is an append; appends commute).

    ``cluster_by`` declares zone-map columns from the FIRST commit on:
    every batch's new files get [min, max] stats for them (one bounded
    scan of the batch's files), so state tables written by a stream are
    born prunable — the bucketed-state probe (``read_snapshot_in``)
    depends on it.

    Usage::

        stream.writeStream.foreachBatch(snapshot_sink(path)).start()
    """

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_committed(path, batch_id):
            # Replayed batch: its manifest IS the commit record. But a
            # crash after the manifest write and before the VERSION rename
            # leaves the pointer stale — repair it here, otherwise the
            # next batch would chain from the stale pointer's manifest and
            # permanently drop this batch's files from the latest chain.
            _repair_pointer(path)
            return
        head = versions(path)
        if head:
            _check_constraints(batch_df, _read_manifest(path, head[-1]))
        data_dir = _fresh_data_dir(path)
        batch_df.write.mode("error").parquet(str(data_dir))
        new_files = sorted(
            str(p) for p in data_dir.glob("*.parquet") if not p.name.startswith("_")
        )
        while True:
            # Chain from the newest COMMITTED manifest, never from the
            # VERSION pointer (which can lag a committed manifest across
            # the crash window above).
            committed = versions(path)
            version = committed[-1] + 1 if committed else 0
            files = new_files
            groups: list[dict] = []
            fields: dict = {}
            declared = (
                cluster_by
                if cluster_by and set(cluster_by) <= set(batch_df.columns)
                else None
            )
            if committed:
                pm = _read_manifest(path, committed[-1])
                _check_append_schema(pm, batch_df)
                # Declared cluster columns the table doesn't yet record
                # need this batch's stats computed explicitly; once the
                # manifest carries cluster_by, _append_carry does it.
                explicit = (
                    _file_stats(batch_df.sparkSession, new_files, declared)
                    if declared and not pm.get("cluster_by")
                    else None
                )
                # Zone maps + constraints survive streamed appends too;
                # past GROUP_THRESHOLD files the chain carries manifest-
                # tree groups by reference (O(batch) commit, not O(table)).
                files, groups, fields = _append_carry(
                    batch_df.sparkSession, path, pm, batch_df.columns, new_files,
                    explicit,
                )
                if pm.get("constraints"):
                    fields["constraints"] = pm["constraints"]
                if declared and not fields.get("cluster_by"):
                    fields["cluster_by"] = declared
            elif declared:
                fields = {
                    "cluster_by": declared,
                    "stats": _file_stats(
                        batch_df.sparkSession, new_files, declared
                    ),
                }
            m = {
                "version": version,
                "mode": "append",
                "batch_id": batch_id,
                "files": files,
                "schema": batch_df.schema.jsonValue(),
                **fields,
            }
            if groups:
                m["groups"] = groups
                del m["files"]
            _apply_manifest_extra(m, manifest_extra)
            try:
                _write_manifest_exclusive(path, version, m)
                break
            except FileExistsError:
                continue  # an interleaved commit took this version
        _advance_pointer(path, version)

    return commit


def _fresh_data_dir(path: str) -> Path:
    """Uniquely-named data directory for a new commit: the version prefix
    is informational (manifests, not dir names, define table contents);
    the random suffix means concurrent writers and crash retries never
    collide on data paths. A crash between data write and manifest
    publish leaves an unreferenced dir that ``expire_snapshots`` vacuums
    after a grace period."""
    import uuid as _uuid

    version_next = (versions(path)[-1] if versions(path) else -1) + 1
    return Path(path) / "data" / f"snap-{version_next}-{_uuid.uuid4().hex[:8]}"


def _repair_pointer(path: str) -> None:
    """Advance a VERSION pointer left stale by a crash between a manifest
    write and the pointer rename (manifests, not the pointer, define
    committedness — see ``current_version``)."""
    vs = versions(path)
    if vs:
        _advance_pointer(path, vs[-1])


def _commit_manifest(
    path: str,
    files: list[str],
    mode: str,
    extra: dict | None = None,
    groups: list[dict] | None = None,
) -> int:
    """Commit a prepared file list as the next version (shared tail of the
    copy-on-write ops below). Data files must already be fully written.
    MERGE/DELETE content is computed against a specific base version, so
    losing the conditional-put race raises ``CommitConflict`` — the
    caller must recompute against the new head and retry."""
    committed = versions(path)
    version = committed[-1] + 1 if committed else 0
    m = {"version": version, "mode": mode, "files": files}
    if groups:
        m["groups"] = groups
        if not files:
            del m["files"]
    # ``extra`` here is the commit path's OWN field dict (merge_of,
    # schema, stats, ...) — caller-supplied manifest_extra was already
    # validated against the static reserved set upstream, so only the
    # structural base keys built above need collision protection.
    if extra:
        clash = sorted(set(extra) & set(m))
        if clash:
            raise ValueError(
                f"internal manifest fields {clash} collide with the commit base"
            )
        m.update(extra)
    try:
        _write_manifest_exclusive(path, version, m)
    except FileExistsError:
        raise CommitConflict(
            f"version {version} at {path} was committed by another writer; "
            "recompute against the new head and retry"
        ) from None
    _advance_pointer(path, version)
    return version


def _plain_path(f: str) -> str:
    """input_file_name returns a file:/ or file:/// URI on local
    filesystems; manifests store plain absolute paths."""
    import re

    return re.sub(r"^file:/+", "/", f)


def _touched_files(df: DataFrame, condition) -> set[str]:
    """Distinct data files containing at least one row matching
    ``condition``. ``input_file_name`` is materialized BEFORE the filter
    so provenance survives whatever plan follows. O(live files)
    driver-side result — same order as the manifest itself, the
    documented bounded-collect class."""
    from pyspark.sql import functions as F

    return {
        _plain_path(r["__f"])
        for r in df.withColumn("__f", F.input_file_name())
        .where(condition)
        .select("__f")
        .distinct()
        .collect()
    }


def merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key_cols: list[str],
    manifest_extra: dict | None = None,
) -> int:
    """MERGE INTO (SCD1 upsert) by key, copy-on-write: matched target rows
    are replaced by their source row, unmatched source rows are inserted.
    Returns the new version number.

    100 TB posture — this is the Delta/Iceberg MERGE file-pruning shape:
    only data files that CONTAIN a matching key are rewritten; every other
    live file is carried into the new manifest untouched (a metadata move,
    zero I/O). The match probe is a broadcast-able semi-join of the
    target against the source's distinct keys, so a small upsert into a
    huge table touches O(matching files), not O(table). Prior versions
    stay readable (time travel) until retention expires them.

    Source keys must be unique — multiple source rows per key make the
    merge ambiguous (same error contract as Delta's
    ``MergeIntoCommand``); raises ``ValueError``.
    """
    from pyspark.sql import functions as F

    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    for k in key_cols:
        if k not in source.columns:
            raise ValueError(f"key column {k!r} missing from source")
    dup = (
        source.groupBy(*key_cols)
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"source has multiple rows for key {tuple(dup[0][k] for k in key_cols)}; "
            "MERGE requires unique source keys"
        )
    m = _read_manifest(path, cur)
    target_schema = _manifest_schema(spark, path, cur, m)
    if {f.name for f in target_schema} != set(source.columns):
        raise ValueError(
            f"schema mismatch: target {sorted(f.name for f in target_schema)} vs "
            f"source {sorted(source.columns)}"
        )
    _check_constraints(source, m)
    keys = F.broadcast(source.select(*key_cols).distinct())
    inline = list(m.get("files", []))
    tree_groups = list(m.get("groups", []))
    # Probe pruning: when the live manifest carries zone maps for key
    # columns (clustered compaction), files whose key range cannot overlap
    # the source's [min, max] are excluded from the match probe BEFORE any
    # scan — so a narrow upsert into a clustered table probes O(overlap)
    # files, not O(table). On a manifest TREE, whole groups are skipped by
    # their recorded bounds without even opening them, so the driver-side
    # metadata cost is O(overlapping groups), not O(live files).
    # Conservative: files/groups without stats are probed.
    inline_stats = m.get("stats") or {}
    kbounds = None
    if (inline_stats or any(g.get("bounds") for g in tree_groups)) and (
        inline or tree_groups
    ):
        kb = source.agg(
            *[
                f
                for k in key_cols
                for f in (F.min(k).alias(f"lo_{k}"), F.max(k).alias(f"hi_{k}"))
            ]
        ).first()
        kbounds = {k: (kb[f"lo_{k}"], kb[f"hi_{k}"]) for k in key_cols}
    if kbounds is not None:
        probe_files = [f for f in inline if _zone_overlaps(inline_stats.get(f), kbounds)]
        probed_groups = [
            g for g in tree_groups if _zone_overlaps(g.get("bounds") or None, kbounds)
        ]
        for g in probed_groups:
            gf, gs = _read_group(g["path"])
            probe_files.extend(f for f in gf if _zone_overlaps(gs.get(f), kbounds))
    else:
        probe_files = inline + [
            f for g in tree_groups for f in _read_group(g["path"])[0]
        ]
        probed_groups = tree_groups
    if probe_files:
        # Schema-driven read: files predating an added column still probe
        # (the column reads as NULL there, matching the table view).
        probe = spark.read.schema(target_schema).parquet(*probe_files)
        # File provenance is materialized at the scan, BEFORE the
        # semi-join, so it survives any join strategy Catalyst picks.
        tgt_keys = probe.select(F.input_file_name().alias("__f"), *key_cols)
        touched = {
            _plain_path(r["__f"])
            for r in tgt_keys.join(keys, key_cols, "left_semi")
            .select("__f")
            .distinct()
            .collect()
        }
    else:
        touched = set()
    data_dir = _fresh_data_dir(path)
    # New file set = surviving rows from touched files (key NOT in source)
    # + the full source (updates and inserts), written before the manifest
    # commit — readers of the current version are unaffected throughout.
    survivors = (
        (
            spark.read.schema(target_schema).parquet(*sorted(touched))
            if touched
            else spark.createDataFrame([], target_schema)
        )
        .join(keys, key_cols, "left_anti")
    )
    out = survivors.unionByName(source.select(*[f.name for f in target_schema]))
    out.write.mode("error").parquet(str(data_dir))
    new_files = sorted(
        str(p) for p in data_dir.glob("*.parquet") if not p.name.startswith("_")
    )
    carried_inline = [f for f in inline if f not in touched]
    if not tree_groups:
        n_carried = len(carried_inline)
        return _commit_manifest(
            path,
            carried_inline + new_files,
            "merge",
            _apply_manifest_extra(
                {
                    "merge_of": cur,
                    "rewrote_files": len(touched),
                    "carried_files": n_carried,
                    "schema": target_schema.jsonValue(),
                    **_propagate_stats(spark, m, carried_inline, new_files),
                },
                manifest_extra,
            ),
        )
    # Tree manifest: groups whose probe found no touched file are carried
    # BY REFERENCE (a metadata move, never opened past the probe); only
    # groups actually containing touched files are rewritten — their
    # untouched remainder plus the merge output become new group(s).
    carried_groups, resid_files, resid_stats = _tree_carry(
        tree_groups, {g["path"] for g in probed_groups}, touched
    )
    resid_files = carried_inline + resid_files
    resid_stats.update({f: inline_stats[f] for f in carried_inline if f in inline_stats})
    scols = m.get("cluster_by")
    new_stats = None
    if scols and new_files and {f.name for f in target_schema} >= set(scols):
        new_stats = _file_stats(spark, new_files, scols)
    groups = carried_groups + _grouped_entries(
        path, resid_files, resid_stats or None
    ) + _grouped_entries(path, new_files, new_stats)
    fields: dict = {
        "merge_of": cur,
        "rewrote_files": len(touched),
        "carried_files": sum(g["n"] for g in carried_groups) + len(carried_inline),
        "schema": target_schema.jsonValue(),
    }
    if m.get("constraints"):
        fields["constraints"] = m["constraints"]
    if scols:
        fields["cluster_by"] = scols
    _apply_manifest_extra(fields, manifest_extra)
    return _commit_manifest(path, [], "merge", fields, groups=_coalesce_small_groups(path, groups))


def delete_where(spark: SparkSession, path: str, predicate: str) -> int:
    """DELETE FROM ... WHERE ``predicate`` (a SQL boolean expression),
    copy-on-write: files containing at least one matching row are
    rewritten without those rows; all other live files are carried over
    untouched (metadata-only). Returns the new version number. Prior
    versions still contain the deleted rows — retention
    (``expire_snapshots``) is the GDPR-style physical purge step."""
    from pyspark.sql import functions as F

    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    m = _read_manifest(path, cur)
    target_schema = _manifest_schema(spark, path, cur, m)
    cond = F.expr(predicate)
    inline = list(m.get("files", []))
    tree_groups = list(m.get("groups", []))
    inline_stats = m.get("stats") or {}
    # Zone-prune the touch PROBE itself: a file (or a whole group) whose
    # recorded range cannot satisfy the predicate provably holds no
    # matching row, so it is never opened — the probe scans O(overlap).
    bounds = _bounds_from_predicate(predicate)
    if bounds:
        cand = [f for f in inline if _zone_overlaps(inline_stats.get(f), bounds)]
        probed_groups = [
            g for g in tree_groups if _zone_overlaps(g.get("bounds") or None, bounds)
        ]
    else:
        cand = inline
        probed_groups = tree_groups
    for g in probed_groups:
        gf, gs = _read_group(g["path"])
        if bounds:
            cand.extend(f for f in gf if _zone_overlaps(gs.get(f), bounds))
        else:
            cand.extend(gf)
    touched = (
        _touched_files(spark.read.schema(target_schema).parquet(*cand), cond)
        if cand
        else set()
    )
    carried_groups, resid_files, resid_stats = _tree_carry(
        tree_groups, {g["path"] for g in probed_groups}, touched
    )
    carried_inline = [f for f in inline if f not in touched]
    base_fields = {
        "delete_of": cur,
        "schema": target_schema.jsonValue(),
    }
    if m.get("constraints"):
        base_fields["constraints"] = m["constraints"]
    scols = m.get("cluster_by")
    if not touched:
        if not tree_groups:
            return _commit_manifest(
                path, carried_inline, "delete",
                {**base_fields, **_propagate_stats(spark, m, carried_inline, [])},
            )
        fields = dict(base_fields)
        if scols:
            fields["cluster_by"] = scols
        return _commit_manifest(
            path, carried_inline, "delete", fields, groups=carried_groups
        )
    data_dir = _fresh_data_dir(path)
    spark.read.schema(target_schema).parquet(*sorted(touched)).where(~cond).write.mode(
        "error"
    ).parquet(
        str(data_dir)
    )
    new_files = sorted(
        str(p) for p in data_dir.glob("*.parquet") if not p.name.startswith("_")
    )
    rewrite_fields = {
        **base_fields,
        "rewrote_files": len(touched),
        "carried_files": len(carried_inline) + sum(g["n"] for g in carried_groups),
    }
    if not tree_groups:
        return _commit_manifest(
            path,
            carried_inline + new_files,
            "delete",
            {**rewrite_fields, **_propagate_stats(spark, m, carried_inline, new_files)},
        )
    resid_files = carried_inline + resid_files
    resid_stats.update({f: inline_stats[f] for f in carried_inline if f in inline_stats})
    new_stats = None
    if scols and new_files and set(scols) <= {f.name for f in target_schema}:
        new_stats = _file_stats(spark, new_files, scols)
    groups = carried_groups + _grouped_entries(
        path, resid_files, resid_stats or None
    ) + _grouped_entries(path, new_files, new_stats)
    if scols:
        rewrite_fields["cluster_by"] = scols
    return _commit_manifest(
        path, [], "delete", rewrite_fields,
        groups=_coalesce_small_groups(path, groups),
    )


def _file_stats(
    spark: SparkSession, files: list[str], stats_cols: list[str]
) -> dict:
    """Per-file [min, max] for each stats column, one scan of ``files``
    (grouped on file provenance — O(files) result rows). Values must be
    JSON-representable; non-numeric/non-string values are stringified
    (pruning then compares as strings, which is correct for ISO dates)."""
    from pyspark.sql import functions as F

    if not files:
        return {}
    rows = (
        spark.read.parquet(*files)
        .groupBy(F.input_file_name().alias("__f"))
        .agg(
            *[
                f
                for c in stats_cols
                for f in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))
            ]
        )
        .collect()
    )

    def _plain(v):
        return v if isinstance(v, (int, float, str, type(None))) else str(v)

    # Every file gets an entry; zero-row files (a writer partition that
    # held no data) keep null ranges, which pruning treats conservatively.
    stats: dict = {f: {c: [None, None] for c in stats_cols} for f in files}
    for r in rows:
        f = _plain_path(r["__f"])
        stats[f] = {c: [_plain(r[f"lo_{c}"]), _plain(r[f"hi_{c}"])] for c in stats_cols}
    return stats


def file_stats(path: str, version: int | None = None) -> dict:
    """Zone-map stats recorded in ``version``'s manifest (may be {});
    on a manifest tree, the groups' stats merged."""
    if version is None:
        version = current_version(path)
    return _manifest_stats(path, _read_manifest(path, version))


def _propagate_stats(
    spark: SparkSession,
    prev_manifest: dict,
    carried_files: list[str],
    new_files: list[str],
) -> dict:
    """Table metadata persists across commits: CHECK constraints are
    copied forward, and once a table is clustered its zone maps persist —
    carried files keep their recorded ranges (data files are immutable),
    only the commit's NEW files are scanned for stats — O(change), never
    O(table). Returns manifest fields to merge."""
    out: dict = {}
    if prev_manifest.get("constraints"):
        out["constraints"] = prev_manifest["constraints"]
    scols = prev_manifest.get("cluster_by")
    if not scols:
        return out
    prev_stats = prev_manifest.get("stats", {})
    stats = {f: prev_stats[f] for f in carried_files if f in prev_stats}
    if new_files:
        if not set(scols) <= set(spark.read.parquet(*new_files).columns):
            return out  # schema drifted away from the clustered columns
        stats.update(_file_stats(spark, new_files, scols))
    out.update({"stats": stats, "cluster_by": scols})
    return out


def _split_conjuncts(s: str) -> list[str]:
    """Split a predicate on top-level ANDs (paren- and quote-aware; the
    AND inside ``x BETWEEN a AND b`` stays with its BETWEEN)."""
    import re

    parts: list[str] = []
    cur, depth, i, in_str, between_pending = "", 0, 0, False, False
    while i < len(s):
        c = s[i]
        if in_str:
            cur += c
            in_str = c != "'"
            i += 1
            continue
        if c == "'":
            in_str = True
            cur += c
            i += 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if depth == 0:
            m = re.match(r"(?i)\bBETWEEN\b", s[i:])
            if m and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")):
                between_pending = True
            m = re.match(r"(?i)\bAND\b", s[i:])
            if m and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")):
                if between_pending:
                    between_pending = False  # this AND belongs to BETWEEN
                else:
                    parts.append(cur)
                    cur = ""
                    i += 3
                    continue
        cur += c
        i += 1
    parts.append(cur)
    return parts


def _bounds_from_predicate(where: str) -> dict:
    """Conservative per-column [lo, hi] bounds from a SQL predicate, for
    zone-map file pruning. Only top-level CONJUNCTS that are ENTIRELY a
    simple range constraint (``col op literal``, ``col BETWEEN a AND b``)
    contribute — an expression like ``k + v >= 5`` bounds nothing, and
    any OR / NOT anywhere disables pruning entirely ({} = keep all
    files). Strict inequalities are widened to inclusive bounds —
    pruning must only ever be conservative; the caller still applies the
    full predicate row-wise."""
    import re

    s = where.strip()
    if re.search(r"\bOR\b|\bNOT\b", s, re.IGNORECASE):
        return {}
    lit = r"(-?\d+(?:\.\d+)?|'[^']*')"

    def _val(tok: str):
        if tok.startswith("'"):
            return tok[1:-1]
        return float(tok) if "." in tok else int(tok)

    bounds: dict = {}

    def _tighten(col: str, lo=None, hi=None) -> None:
        cur_lo, cur_hi = bounds.get(col, (None, None))
        if lo is not None:
            cur_lo = lo if cur_lo is None else max(cur_lo, lo)
        if hi is not None:
            cur_hi = hi if cur_hi is None else min(cur_hi, hi)
        bounds[col] = (cur_lo, cur_hi)

    for conj in _split_conjuncts(s):
        c = conj.strip()
        # Strip balanced outer parens wrapping the whole conjunct.
        while c.startswith("(") and c.endswith(")") and _split_conjuncts(c[1:-1]):
            inner = c[1:-1].strip()
            if inner.count("(") != inner.count(")"):
                break
            c = inner
        m = re.fullmatch(rf"(\w+)\s+BETWEEN\s+{lit}\s+AND\s+{lit}", c, re.IGNORECASE)
        if m:
            _tighten(m.group(1), lo=_val(m.group(2)), hi=_val(m.group(3)))
            continue
        m = re.fullmatch(rf"(\w+)\s*(>=|<=|=|<|>)\s*{lit}", c)
        if m:
            col, op, v = m.group(1), m.group(2), _val(m.group(3))
            if op in (">=", ">"):
                _tighten(col, lo=v)
            elif op in ("<=", "<"):
                _tighten(col, hi=v)
            else:
                _tighten(col, lo=v, hi=v)
    return bounds


def scan_snapshot(
    spark: SparkSession, path: str, where: str, version: int | None = None
) -> DataFrame:
    """Predicate-pushdown read: derive conservative per-column bounds
    from ``where``, zone-map-prune the file list (scan-free — pruned
    files are never opened), then run a NATIVE parquet scan of the
    survivors with the full predicate applied row-wise. Equivalent to
    ``read_snapshot(...).where(where)`` in results; cheaper by every
    file whose recorded range provably cannot match. Files without stats
    (never-clustered tables) are kept, so this degrades gracefully to a
    plain filtered read."""
    bounds = _bounds_from_predicate(where)
    from pyspark.sql import functions as F

    if bounds:
        df = read_snapshot_pruned(spark, path, bounds, version=version)
    else:
        df = read_snapshot(spark, path, version=version)
    return df.where(F.expr(where))


def _zone_overlaps(st: dict | None, bounds: dict) -> bool:
    """Conservative zone-map check: False only when a file's recorded
    [min, max] range PROVES it cannot hold a row inside ``bounds``."""
    if st is None:
        return True
    for col, (lo, hi) in bounds.items():
        rng = st.get(col)
        if rng is None or rng[0] is None or rng[1] is None:
            continue  # unknown or all-NULL file range: cannot exclude
        try:
            if lo is not None and rng[1] < lo:
                return False
            if hi is not None and rng[0] > hi:
                return False
        except TypeError:
            # Stats stringify non-primitive values; a caller passing the
            # raw type can't be compared — keep the file (conservative).
            continue
    return True


def read_snapshot_pruned(
    spark: SparkSession,
    path: str,
    bounds: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """Read AS OF ``version`` touching only files whose manifest zone-map
    COULD contain a row inside ``bounds`` (``{col: (lo, hi)}``, inclusive;
    either end may be None for open ranges).

    This is scan-free data skipping: the decision uses manifest stats
    only — pruned files are never opened, which at object-store scale
    means no GET at all (vs parquet footer skipping, which still pays an
    open+footer read per file). Files with no recorded stats for a bound
    column are conservatively kept. The caller still applies the actual
    row filter — pruning is file-granular, not row-granular.
    """
    if version is None:
        version = current_version(path)
        if version is None:
            raise FileNotFoundError(f"no committed version at {path}")
    manifest = _read_manifest(path, version)
    stats = manifest.get("stats") or {}
    keep = [
        f for f in manifest.get("files", []) if _zone_overlaps(stats.get(f), bounds)
    ]
    # Manifest tree: a group whose recorded bounds cannot overlap is
    # skipped WITHOUT being opened — pruning cost is O(overlapping
    # groups), so a narrow predicate on a 50k-file table reads a handful
    # of group JSONs, not a 50k-entry manifest.
    for g in manifest.get("groups", []):
        if not _zone_overlaps(g.get("bounds") or None, bounds):
            continue
        gf, gs = _read_group(g["path"])
        keep.extend(f for f in gf if _zone_overlaps(gs.get(f), bounds))
    if not keep:
        return read_snapshot(spark, path, version).limit(0)
    sch = manifest.get("schema")
    if sch is not None:
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(sch)).parquet(*keep)
    return spark.read.parquet(*keep)


def read_snapshot_in(
    spark: SparkSession,
    path: str,
    col: str,
    values: set,
    version: int | None = None,
) -> DataFrame:
    """Read AS OF ``version`` touching only files whose zone range on
    ``col`` can contain AT LEAST ONE of ``values`` — the scattered-set
    twin of ``read_snapshot_pruned`` (whose bounds are one contiguous
    range). This is the bucketed-state probe shape: a streaming batch
    collects its own (small) bucket set and the state side shrinks to
    O(|values| / n_buckets) of the table before any join. On a manifest
    tree, whole groups are skipped by their bounds without being opened.
    Files without stats for ``col`` are conservatively kept."""
    if version is None:
        version = current_version(path)
        if version is None:
            raise FileNotFoundError(f"no committed version at {path}")
    manifest = _read_manifest(path, version)

    def _hits(st: dict | None) -> bool:
        rng = (st or {}).get(col)
        if rng is None or rng[0] is None or rng[1] is None:
            return True
        try:
            return any(rng[0] <= v <= rng[1] for v in values)
        except TypeError:
            return True
    stats = manifest.get("stats") or {}
    keep = [f for f in manifest.get("files", []) if _hits(stats.get(f))]
    for g in manifest.get("groups", []):
        if not _hits(g.get("bounds")):
            continue
        gf, gs = _read_group(g["path"])
        keep.extend(f for f in gf if _hits(gs.get(f)))
    if not keep:
        return read_snapshot(spark, path, version).limit(0)
    sch = manifest.get("schema")
    if sch is not None:
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(sch)).parquet(*keep)
    return spark.read.parquet(*keep)


def compact_snapshot(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    cluster_by: list[str] | None = None,
    bits: int = 16,
) -> int:
    """Rewrite the LIVE file set into size-targeted files as a NEW
    version (the Iceberg/Delta OPTIMIZE analogue). Logically a no-op —
    the new version holds exactly the latest version's rows — and prior
    versions stay readable until ``expire_snapshots`` vacuums them, so
    time-travel and concurrent readers are unaffected.

    Why it exists: a streaming ``snapshot_sink`` commits one small file
    set per micro-batch; at object-store scale the accumulated file
    count (and per-read open cost) grows without bound. Compaction is
    the nightly companion to retention: compact, then expire, and the
    live chain is back to O(data/target_file_bytes) files. Safe against
    a live stream: the sink detects replays by recorded batch id, so a
    compaction commit taking the next version number cannot be mistaken
    for a delivered batch.

    With ``cluster_by``, the rewrite is Z-order clustered on those columns
    (the Delta ``OPTIMIZE ... ZORDER BY`` analogue, via ``zorder_frame``)
    and the new manifest records per-file [min, max] zone maps for them,
    which ``read_snapshot_pruned`` uses for scan-free file skipping."""
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    import math

    files = _manifest_files(path, _read_manifest(path, cur))
    total = sum(os.path.getsize(f) for f in files if os.path.exists(f))
    target = max(1, math.ceil(total / target_file_bytes))
    df = read_snapshot(spark, path, version=cur)
    if cluster_by:
        from receiptanalyzerpipeline_spark.sources.sinks import zorder_frame

        df = zorder_frame(df, cluster_by, n_files=target, bits=bits)
    else:
        df = df.coalesce(target)
    # Rows were validated when first committed; re-checking the whole
    # table at every compaction would be an O(table) scan for nothing.
    # compaction_of/cluster_by/stats ride the SAME atomic manifest
    # publish: a post-hoc rewrite would let a concurrent reader (such as
    # read_row_changes) see truncated JSON or a commit
    # that momentarily looks like a plain overwrite — which a CDC
    # consumer would replay as a full-table delete+insert.
    extra: dict = {"compaction_of": cur}
    if cluster_by:
        extra["cluster_by"] = cluster_by
    return write_snapshot(
        df,
        path,
        mode="overwrite",
        validate_constraints=False,
        manifest_extra=extra,
        stats_cols=cluster_by or None,
        # The rewrite is version `cur`'s rows: if anything committed
        # after `cur` was read, publishing would be a lost update (the
        # round-10 soak's finding); conflict instead, caller retries.
        expected_head=cur,
    )


def expire_snapshots(
    path: str,
    keep_last: int = 2,
    orphan_grace_s: float = 3600.0,
    keep_from_version: int | None = None,
) -> list[int]:
    """Retention pass: drop all but the newest ``keep_last`` versions and
    delete data files no surviving manifest references. Returns the
    expired version numbers.

    Safe ordering: manifests are removed BEFORE their now-orphaned data
    files, so a concurrent reader either resolved its manifest first
    (files still present — reads succeed) or finds the version gone and
    retries at a surviving one; the live VERSION pointer is never
    expired. At object-store scale this is the nightly vacuum that keeps
    the data prefix from growing without bound.

    Also vacuums ORPHAN data dirs — commits that wrote data but crashed
    (or lost a non-append commit race) before publishing a manifest.
    A dir is removed only when no surviving manifest references any file
    in it AND it is older than ``orphan_grace_s`` (so an in-flight
    writer's fresh dir is never swept — Delta VACUUM's retention-hours
    contract).

    ``keep_from_version`` protects a CONSUMER WATERMARK: versions >= it
    are never expired regardless of ``keep_last``, so a change-feed
    reader's next ``read_row_changes(from_version=...)`` (e.g. ``table
    changes --from-version``) stays diff-able. Pass the slowest such
    reader's last-read version."""
    import shutil
    import time

    vs = versions(path)
    if len(vs) <= keep_last:
        survivors = vs
        expired: list[int] = []
    else:
        survivors, expired = vs[-keep_last:], vs[:-keep_last]
    if keep_from_version is not None and expired:
        protected = [v for v in expired if v >= keep_from_version]
        expired = [v for v in expired if v < keep_from_version]
        survivors = protected + survivors
    keep_files = {
        f for v in survivors for f in _manifest_files(path, _read_manifest(path, v))
    }
    keep_groups = {
        g["path"] for v in survivors for g in _read_manifest(path, v).get("groups", [])
    }
    drop_files = [
        f
        for v in expired
        for f in _manifest_files(path, _read_manifest(path, v))
        if f not in keep_files
    ]
    # Preserve the expired manifests' batch ids BEFORE deleting them, so
    # batch_committed still recognizes a very late replay of an expired
    # batch (otherwise the sink would re-commit it as new data).
    _ledger_add(
        path,
        {
            bid
            for v in expired
            if (bid := _read_manifest(path, v).get("batch_id")) is not None
        },
    )
    for v in expired:
        _manifest_path(path, v).unlink()
    for f in drop_files:
        p = Path(f)
        if p.exists():
            p.unlink()
    ddir = Path(path) / "data"
    if ddir.exists():
        now = time.time()
        for d in ddir.iterdir():
            if not d.is_dir():
                continue
            if any(str(p) in keep_files for p in d.glob("*.parquet")):
                continue
            if now - d.stat().st_mtime < orphan_grace_s:
                continue
            shutil.rmtree(d)
    # Manifest-tree GC: group files no surviving manifest references
    # (expired versions' groups, coalesce/graduation leftovers, crashed
    # commits). The grace period protects an in-flight writer that has
    # published groups but not yet its manifest — same contract as
    # orphan data dirs.
    gdir = _group_dir(path)
    if gdir.exists():
        now = time.time()
        for gp in gdir.glob("g-*.json"):
            if str(gp) in keep_groups:
                continue
            if now - gp.stat().st_mtime < orphan_grace_s:
                continue
            gp.unlink()
    return expired
