"""Mechanical bench gate (VERDICT r4 task 1; artifact form VERDICT r5
task 2). bench.py records its floor-check outcome in BENCH_GATE.json on
every default-sf run; the gate test here validates that record — always,
no skip, no second Spark JVM mid-suite (concurrent JVMs are the r03→r04
phantom-regression cause root-caused in BASELINE.md)."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def test_floors_file_matches_bench_set():
    with open(os.path.join(REPO, "BENCH_FLOORS.json")) as f:
        floors = json.load(f)
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    bench_names = {name for name, q in REGISTRY.items() if q.bench}
    assert set(floors["reference"]) == bench_names, (
        "BENCH_FLOORS.json must cover exactly the bench-flagged registry queries; "
        "re-measure on a quiet host after adding/removing a headline query"
    )


def _floors():
    with open(os.path.join(REPO, "BENCH_FLOORS.json")) as f:
        return json.load(f)


def test_check_floors_logic():
    floors = _floors()
    ref = floors["reference"]
    mult, slack = floors["multiplier"], floors["absolute_slack_sec"]
    # At exactly the reference: no violations.
    assert bench.check_floors(dict(ref)) == []
    # Within the absolute slack on a tiny query: no violation.
    name_small = min(ref, key=ref.get)
    ok = dict(ref)
    ok[name_small] = ref[name_small] + slack - 0.001
    assert bench.check_floors(ok) == []
    # Past both the ratio and the slack: flagged.
    bad = dict(ref)
    name_big = max(ref, key=ref.get)
    bad[name_big] = max(ref[name_big] * mult, ref[name_big] + slack) + 0.001
    out = bench.check_floors(bad)
    assert len(out) == 1 and name_big in out[0]
    # A query missing from the run (renamed/removed) is not a violation here;
    # test_floors_file_matches_bench_set catches set drift instead.
    partial = {k: v for k, v in ref.items() if k != name_big}
    assert bench.check_floors(partial) == []


def test_host_index_clamps_and_neutral_cases():
    floors = _floors()
    cref = floors["canary_reference"]
    # Exactly at reference: 1.0 (and a FASTER host never tightens).
    assert bench.host_index(dict(cref), floors) == 1.0
    assert bench.host_index({k: v * 0.5 for k, v in cref.items()}, floors) == 1.0
    # Uniform 1.3x: geometric mean is 1.3.
    hi = bench.host_index({k: v * 1.3 for k, v in cref.items()}, floors)
    assert abs(hi - 1.3) < 1e-3
    # Degenerate host: capped at 3.0, never unbounded.
    assert bench.host_index({k: v * 10 for k, v in cref.items()}, floors) == 3.0
    # No canary / no reference: neutral.
    assert bench.host_index(None, floors) == 1.0
    assert bench.host_index(dict(cref), {"reference": {}}) == 1.0


def test_uniform_host_drift_divides_out_but_code_regression_trips():
    """VERDICT r9 task 1 done-criterion: a synthetic 1.3x-uniform
    slowdown (host era drift — the r08→r09 episode) produces ZERO
    violations when the canary moved 1.3x too, while a single-query
    1.5x regression under a calm (1.0) canary trips."""
    floors = _floors()
    ref = floors["reference"]
    cref = floors["canary_reference"]
    hi_slow = bench.host_index({k: v * 1.3 for k, v in cref.items()}, floors)
    assert bench.check_floors({k: v * 1.3 for k, v in ref.items()}, hi_slow) == []
    # Code regression on a calm host: the biggest query 1.5x over.
    name_big = max(ref, key=ref.get)
    bad = dict(ref)
    bad[name_big] = ref[name_big] * 1.5
    hi_calm = bench.host_index(dict(cref), floors)
    assert hi_calm == 1.0
    out = bench.check_floors(bad, hi_calm)
    assert len(out) == 1 and name_big in out[0]


def test_small_ref_2x_regression_visible():
    """VERDICT r9 task 2 done-criterion: with the absolute slack at
    15 ms, a 2x regression on even the SMALLEST bench ref trips the
    gate (under the old 50 ms slack, 19/22 refs were slack-governed and
    q_a3 ran 2.7x its ref while staying green)."""
    floors = _floors()
    ref = floors["reference"]
    assert floors["absolute_slack_sec"] <= 0.015
    name_small = min(ref, key=ref.get)
    # Design constraint: the slack must sit below the smallest ref,
    # otherwise 2x on that query is invisible by arithmetic.
    assert ref[name_small] > floors["absolute_slack_sec"]
    bad = dict(ref)
    bad[name_small] = ref[name_small] * 2.0
    out = bench.check_floors(bad)
    assert len(out) == 1 and name_small in out[0]


def test_bench_gate_artifact_current_and_clean():
    """The per-round bench gate, enforced WITHOUT a mid-suite Spark
    subprocess (a second JVM under pytest is exactly the contention that
    produced the r03→r04 phantom regressions): every bench.py run at the
    default sf records its floor-check outcome in BENCH_GATE.json, and
    this test FAILS — never skips — when that record is missing, covers
    a different query set than the committed floors (stale: a headline
    query was added/removed without re-running the bench), or contains
    violations. The driver runs bench.py every round, so a green suite
    means the latest quiet-host bench genuinely met the floors."""
    gate_path = os.path.join(REPO, "BENCH_GATE.json")
    assert os.path.exists(gate_path), (
        "BENCH_GATE.json missing — run `python bench.py` on a quiet host "
        "(the per-round bench run records it)"
    )
    with open(gate_path) as f:
        gate = json.load(f)
    with open(os.path.join(REPO, "BENCH_FLOORS.json")) as f:
        floors = json.load(f)
    assert set(gate["queries"]) == set(floors["reference"]), (
        "BENCH_GATE.json is stale: its query set differs from "
        "BENCH_FLOORS.json — re-run `python bench.py` on a quiet host"
    )
    assert gate["floor_violations"] == [], gate["floor_violations"]
    # The recorded run must actually have been checked against the
    # CURRENT floors: re-derive violations from the recorded timings
    # under the HOST INDEX recorded alongside them (a run on a slow
    # host legitimately passed with a stretched bound — re-deriving at
    # 1.0 would retro-fail it for host weather).
    hi = gate.get("host_index", 1.0)
    assert 1.0 <= hi <= 3.0
    assert bench.check_floors(gate["queries"], hi) == []


def test_row_scaled_slack_absorbs_collect_jitter_but_catches_regressions():
    """VERDICT r10 task 8: the absolute slack scales with declared
    output rows (the timed region is an Arrow collect, so jitter grows
    with bytes fetched), while the 1.3x ratio bound still catches a
    genuine regression on every query — including the largest-output
    one."""
    floors = _floors()
    ref = floors["reference"]
    mult, slack = floors["multiplier"], floors["absolute_slack_sec"]
    per_mrow = floors["slack_per_mrow_sec"]
    rows = floors["output_rows"]
    assert set(rows) == set(ref), "output_rows must cover the bench set"
    big = max(rows, key=rows.get)  # q_er2's 5.5M-row collect
    assert rows[big] > 10 * sorted(rows.values())[-2], "one dominant output"
    row_slack = per_mrow * rows[big] / 1e6
    # Collect jitter up to the row-scaled slack is absorbed...
    ok = dict(ref)
    ok[big] = ref[big] + slack + row_slack - 0.001
    flagged = bench.check_floors(ok)
    assert not any(big in v for v in flagged), flagged
    # ...but an injected 1.3x regression is still flagged.
    bad = dict(ref)
    bad[big] = ref[big] * mult + 0.002
    out = bench.check_floors(bad)
    assert any(big in v for v in out), out
    # Small-output queries keep their tight absolute slack: the row term
    # adds <1 ms below 40k rows.
    small = min(rows, key=rows.get)
    tight = dict(ref)
    tight[small] = max(ref[small] * mult, ref[small] + slack) + 0.002
    assert any(small in v for v in bench.check_floors(tight))


def test_row_slack_never_exceeds_ratio_headroom():
    """The ratio bound governs every bench query: each entry's row-scaled
    slack fits inside its 1.3x headroom, so an injected 1.3x regression
    is caught on all of them, not only on the largest-output one."""
    floors = _floors()
    mult, per_mrow = floors["multiplier"], floors["slack_per_mrow_sec"]
    rows = floors["output_rows"]
    over = {
        n: (per_mrow * rows[n] / 1e6, r * (mult - 1))
        for n, r in floors["reference"].items()
        if per_mrow * rows[n] / 1e6 > r * (mult - 1)
    }
    assert not over, f"row slack exceeds ratio headroom (slack, headroom): {over}"
