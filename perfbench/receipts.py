"""Seeded synthetic receipts for the ``receipt_ingest`` workload.

Each receipt is a ``STUB8x8:`` image (multimodal/images.py): 64 luma bytes
that fix its aHash, then ``|<key>``. :class:`DerivedBackend` is an
``OcrBackend`` that re-derives the AnalyzeExpense document from that key,
so no response table ships with the tasks, and :func:`expected` gives the
curated row the pipeline must produce from it. Everything here is pure
Python; the Spark side lives in ``run.py``.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from decimal import Decimal

STUB_MAGIC = b"STUB8x8:"
FAIL_RATE = 0.02  # receipts the OCR backend rejects
RESCAN_FRAC = 0.2  # share of each batch after the first that re-scans earlier receipts

VENDORS = (
    "Corner Market", "Blue Bottle Cafe", "Hardware Depot", "Pine St Pharmacy",
    "Noodle House", "City Books", "Green Grocer", "Fuel Stop 24",
    "Bakery Lune", "Office Supply Co",
)
ITEMS = ("milk", "bread", "coffee", "nails", "notebook", "apples", "rice",
         "soap", "tape", "tea", "eggs", "pens")
CURRENCIES = {"$": "US Dollars", "£": "Pound Sterling", "€": "Euro", "": "US Dollars"}
MONTHS = ("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")


@dataclass(frozen=True)
class Receipt:
    key: str
    content: bytes
    ahash: str
    fails: bool


def _rng(key: str) -> random.Random:
    return random.Random(key)  # str seeds hash with sha512: stable across processes


def _ahash(luma: bytes) -> str:
    """The 8x8 mean-threshold hash of multimodal/images.py, without numpy."""
    mean = sum(luma) / 64.0
    val = 0
    for b in luma:
        val = (val << 1) | int(b > mean)
    return format(val, "016x")


def make_receipt(seed: int, idx: int) -> Receipt:
    key = f"{seed}:{idx}"
    r = _rng(key)
    luma = bytes(r.randrange(256) for _ in range(64))
    fails = r.random() < FAIL_RATE
    return Receipt(key, STUB_MAGIC + luma + b"|" + key.encode(), _ahash(luma), fails)


def _money(r: random.Random, sym: str, cents: int) -> str:
    whole, frac = divmod(cents, 100)
    num = f"{whole:,}.{frac:02d}" if r.random() < 0.5 else f"{whole}.{frac:02d}"
    return f"{sym}{' ' if sym and r.random() < 0.2 else ''}{num}"


def _date_text(r: random.Random, d: dt.datetime) -> str:
    style = r.randrange(4)
    if style == 0:
        return f"{MONTHS[d.month - 1]} {d.day},{d.year} {d.hour:02d}:{d.minute:02d}"
    if style == 1:
        return f"{d.year}-{d.month:02d}-{d.day:02d} {d.hour:02d}:{d.minute:02d}"
    if style == 2:
        return f"{d.month}/{d.day}/{d.year} {d.hour:02d}:{d.minute:02d}"
    return f"{d.year}-{d.month:02d}-{d.day:02d}"


def _spec(key: str) -> dict:
    """The receipt's content, derived from its key alone."""
    r = _rng(key + "/doc")
    sym = r.choice(tuple(CURRENCIES))
    d = dt.datetime(2021, 1, 1) + dt.timedelta(minutes=r.randrange(2 * 365 * 24 * 60))
    date_text = _date_text(r, d)
    if len(date_text) == 10:
        d = d.replace(hour=0, minute=0)
    items = [
        (r.choice(ITEMS), r.randrange(50, 5000), r.randrange(1, 4))
        for _ in range(r.randrange(1, 9))
    ]
    sub = sum(p * q for _, p, q in items)
    tax = sub * r.randrange(0, 10) // 100
    return {
        "vendor": r.choice(VENDORS), "sym": sym, "date": d, "date_text": date_text,
        "items": items, "sub": sub, "tax": tax, "total": sub + tax,
        "fmt": [_money(r, sym, c) for c in (sub, tax, sub + tax)],
    }


def _field(type_text: str, value: str, label: str | None = None) -> dict:
    return {
        "PageNumber": 1,
        "Type": {"Text": type_text, "Confidence": 99.0},
        "LabelDetection": {"Text": label, "Confidence": 90.0, "Geometry": None} if label else None,
        "ValueDetection": {"Text": value, "Confidence": 95.0, "Geometry": None},
    }


def document(key: str, ahash: str) -> dict:
    s = _spec(key)
    sub_t, tax_t, total_t = s["fmt"]
    lines = [
        {"LineItemExpenseFields": [
            {"PageNumber": 1, "Type": {"Text": t, "Confidence": 99.0},
             "ValueDetection": {"Text": v, "Confidence": 95.0, "Geometry": None}}
            for t, v in (("ITEM", name), ("PRICE", f"{s['sym']}{p // 100}.{p % 100:02d}"),
                         ("QUANTITY", str(q)))
        ]}
        for name, p, q in s["items"]
    ]
    return {
        "img_id": ahash,
        "DocumentMetadata": {"Pages": 1},
        "ExpenseDocuments": [{
            "ExpenseIndex": 1,
            "SummaryFields": [
                _field("VENDOR_NAME", s["vendor"]),
                _field("INVOICE_RECEIPT_DATE", s["date_text"]),
                _field("SUBTOTAL", sub_t, "Subtotal"),
                _field("TAX", tax_t, "Tax"),
                _field("TOTAL", total_t, "Total"),
                _field("OTHER", f"#{key}", "Register"),
            ],
            "LineItemGroups": [{"LineItemGroupIndex": 1, "LineItems": lines}],
        }],
    }


def expected(key: str) -> dict:
    """The curated summary fields and line-item count ``key`` must produce."""
    s = _spec(key)
    return {
        "vendor_name": s["vendor"],
        "total": Decimal(s["total"]) / 100,
        "receipt_date": s["date"],
        "currency": CURRENCIES[s["sym"]],
        "n_items": len(s["items"]),
    }


class OcrFailure(RuntimeError):
    pass


class DerivedBackend:
    """``OcrBackend`` whose document is a pure function of the image bytes.

    Receipts generated with ``fails`` raise, as a rejected page would,
    which sends them down the quarantine path."""

    def analyze(self, content: bytes, ahash: str) -> dict:
        key = content[len(STUB_MAGIC) + 64 :]
        if not content.startswith(STUB_MAGIC) or key[:1] != b"|":
            raise ValueError("not a benchmark receipt")
        key_s = key[1:].decode()
        seed, idx = key_s.split(":")
        if make_receipt(int(seed), int(idx)).fails:
            raise OcrFailure(f"unreadable receipt {key_s}")
        return document(key_s, ahash)


def plan_batches(seed: int, batch: int, n_ops: int) -> list[list[Receipt]]:
    """Receipts landed per op: ``RESCAN_FRAC`` of each batch after the first
    re-scans receipts landed by earlier ops, the rest are new."""
    r = random.Random(f"{seed}/plan")
    seen: list[Receipt] = []
    hashes: set[str] = set()
    nxt = 0
    ops = []
    for op in range(n_ops):
        n_re = min(len(seen), round(batch * RESCAN_FRAC)) if op else 0
        picked = r.sample(seen, n_re)
        fresh = []
        while len(fresh) < batch - n_re:
            rc = make_receipt(seed, nxt)
            nxt += 1
            if rc.ahash not in hashes:  # 64-bit hashes: a collision is a re-scan in disguise
                hashes.add(rc.ahash)
                fresh.append(rc)
        seen.extend(fresh)
        ops.append(fresh + picked)
    return ops


def check_curated(landed: list[Receipt], summary: list[dict], items: dict[str, int],
                  raw_errors: set[str]) -> list[str]:
    """Compare the curated tables with everything landed so far.

    ``summary`` holds the curated summary rows, ``items`` the curated
    line-item count per img_id and ``raw_errors`` the hashes with an
    ``ocr_error`` raw-zone row. Returns the aHashes whose output is wrong.
    """
    by_hash = {rc.ahash: rc for rc in landed}
    rows: dict[str, list[dict]] = {}
    for row in summary:
        rows.setdefault(row["img_id"], []).append(row)
    bad = {h for h in rows if h not in by_hash}
    for h, rc in by_hash.items():
        got = rows.get(h, [])
        if rc.fails:
            if got or h not in raw_errors or items.get(h):
                bad.add(h)
            continue
        if len(got) != 1:
            bad.add(h)
            continue
        want = expected(rc.key)
        row = got[0]
        if (row["vendor_name"], row["total"], row["receipt_date"], row["currency"]) != (
            want["vendor_name"], want["total"], want["receipt_date"], want["currency"]
        ) or items.get(h, 0) != want["n_items"]:
            bad.add(h)
    return sorted(bad)
