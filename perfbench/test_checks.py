"""Tests of the benchmark's own output checks; no Spark needed.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os

import receipts
import run


def _curated(landed):
    """The outputs a correct pipeline writes for ``landed``."""
    summary, items, errors = [], {}, set()
    for rc in {r.ahash: r for r in landed}.values():
        if rc.fails:
            errors.add(rc.ahash)
            continue
        want = receipts.expected(rc.key)
        summary.append({"img_id": rc.ahash, **{k: want[k] for k in
                        ("vendor_name", "total", "receipt_date", "currency")}})
        items[rc.ahash] = want["n_items"]
    return summary, items, errors


def _landed(n_ops=6):
    ops = receipts.plan_batches(seed=7, batch=50, n_ops=n_ops)
    return [rc for batch in ops for rc in batch]


def test_correct_output_passes():
    landed = _landed()
    assert any(rc.fails for rc in landed), "the plan must exercise quarantine"
    assert len({rc.ahash for rc in landed}) < len(landed), "the plan must re-scan receipts"
    assert receipts.check_curated(landed, *_curated(landed)) == []


def test_dropped_curated_row_fails():
    landed = _landed()
    summary, items, errors = _curated(landed)
    dropped = summary.pop(3)
    assert receipts.check_curated(landed, summary, items, errors) == [dropped["img_id"]]


def test_replayed_row_and_quarantine_leak_fail():
    landed = _landed()
    summary, items, errors = _curated(landed)
    quarantined = next(rc.ahash for rc in landed if rc.fails)
    bad = summary + [dict(summary[0]), {**summary[1], "img_id": quarantined}]
    assert receipts.check_curated(landed, bad, items, errors) == sorted(
        [summary[0]["img_id"], quarantined])


def test_backend_document_matches_expected():
    rc = next(rc for rc in _landed(1) if not rc.fails)
    doc = receipts.DerivedBackend().analyze(rc.content, rc.ahash)
    fields = {f["Type"]["Text"]: f["ValueDetection"]["Text"]
              for f in doc["ExpenseDocuments"][0]["SummaryFields"]}
    want = receipts.expected(rc.key)
    assert fields["VENDOR_NAME"] == want["vendor_name"]
    assert len(doc["ExpenseDocuments"][0]["LineItemGroups"][0]["LineItems"]) == want["n_items"]


def test_benchmark_json_names_what_run_reports():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
