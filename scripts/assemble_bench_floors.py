"""Assemble a new BENCH_FLOORS.json epoch from N quiet-host bench runs.

Protocol (VERDICT r9 tasks 1-2): the per-query references AND the host
canary references are minima over the SAME serial quiet-host sessions,
so the committed epoch is internally consistent — future host drift is
divided out by host_index (canary ratio) instead of requalifying refs.

Usage: python scripts/assemble_bench_floors.py run_1.json run_2.json ...
Writes BENCH_FLOORS.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    runs = []
    for path in sys.argv[1:]:
        with open(path) as f:
            runs.append(json.load(f))
    assert len(runs) >= 3, "need at least 3 independent quiet-host runs"

    names = set(runs[0]["queries"])
    for r in runs:
        assert set(r["queries"]) == names, "query-set drift across runs"
        assert r.get("canary"), "runs must carry canary measurements"

    reference = {
        n: round(min(r["queries"][n] for r in runs), 4) for n in sorted(names)
    }
    canary_reference = {
        k: round(min(r["canary"][k] for r in runs), 4)
        for k in runs[0]["canary"]
    }

    doc = (
        "Committed per-query reference times (sec, warm best-of-5, quiet host, "
        "sf0.1, local[32]): MINIMA over {} serial quiet-host bench.py runs "
        "measured {}, in the SAME sessions as canary_reference. "
        "Gate: a query REGRESSES if its warm time exceeds "
        "max(ref * {}, ref + {}) * host_index, where host_index is the "
        "clamped [1.0, 3.0] geometric-mean ratio of the run's measured canary "
        "(bench.measure_canary: fixed 1e9-row xxhash CPU job + 4x lineitem "
        "parquet scan, plans rebuilt per rep so AQE stage reuse cannot skip "
        "the work) to canary_reference. The canary divides host-era drift "
        "out of the comparison (the r08->r09 all-query +32% episode and two "
        "consecutive rounds of floor requalification motivated it), and the "
        "absolute slack dropped 0.050 -> 0.015 s so the ratio term governs "
        "every query >= ~50 ms (under the old slack 19/22 refs were "
        "slack-governed and a 2.7x regression on q_a3 stayed green). "
        "bench.py evaluates this automatically and emits 'floor_violations'; "
        "tests/test_bench_gate.py enforces the recorded BENCH_GATE.json. "
        "r11 (VERDICT r10 task 8): the absolute slack additionally scales "
        "with each query's DECLARED OUTPUT ROWS (output_rows, counted at "
        "sf0.1) at slack_per_mrow_sec per million rows — bound = "
        "max(ref*mult, ref + slack + rows/1e6*slack_per_mrow) * host_index. "
        "The timed region is a driver Arrow collect whose jitter grows with "
        "the bytes collected (q_er2's 5.5M-row fetch jittered +-0.1-0.3s on "
        "the best-of-3 min, forcing 15 settle retries in the r10 driver "
        "run); 0.025 s/Mrow keeps q_er2's absolute bound just below its "
        "1.3x ratio bound so an injected 1.3x regression is still caught "
        "(tests/test_bench_gate.py pins both properties)."
    ).format(len(runs), time.strftime("%Y-%m-%d"), 1.3, 0.015)

    # Carry the r11 row-scaled-slack fields forward from the committed
    # epoch (output rows are a property of the declared queries, not of
    # the measurement session).
    prev_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_FLOORS.json",
    )
    prev = {}
    if os.path.exists(prev_path):
        with open(prev_path) as f:
            prev = json.load(f)

    rows = prev.get("output_rows", {})
    missing, stale = sorted(set(reference) - set(rows)), sorted(set(rows) - set(reference))
    if missing or stale:
        sys.exit(
            "output_rows inherited from BENCH_FLOORS.json does not match the "
            f"measured bench set: no row count for {missing}, stale count for "
            f"{stale}; count those queries' output rows at sf0.1 first"
        )
    floors = {
        "_doc": doc,
        "multiplier": 1.3,
        "absolute_slack_sec": 0.015,
        "slack_per_mrow_sec": prev.get("slack_per_mrow_sec", 0.025),
        "reference": reference,
        "canary_reference": canary_reference,
        "output_rows": rows,
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_FLOORS.json",
    )
    with open(out, "w") as f:
        json.dump(floors, f, indent=1)
    print(json.dumps({"reference": reference, "canary_reference": canary_reference}))


if __name__ == "__main__":
    main()
