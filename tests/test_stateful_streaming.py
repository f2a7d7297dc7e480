"""Stream/batch equivalence for the applyInPandasWithState sessionizer.

The same event slice is (a) sessionized in batch with the lag+cumsum plan
(q_t3 semantics) and (b) replayed as a 3-micro-batch file stream through
streaming/stateful.py. Every session the stream CAN close (watermark
passed end+gap) must match the batch session exactly; sessions still open
at end-of-stream are excluded from the comparison on both sides.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from receiptanalyzerpipeline_spark.streaming.stateful import _session_fn, sessionize_stream

GAP_S = 1800
STREAM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


# The stream tests below are marked slow and excluded from the default
# run. The fold itself is checked without Spark by
# test_session_fn_logic_without_spark, which stays in the default run.


@pytest.mark.slow
def test_stateful_sessionizer_matches_batch(spark, sf_dir, tmp_path: Path):
    """The applyInPandasWithState sessionizer must produce the batch
    sessionizer's exact closed sessions from a 3-micro-batch replay."""
    from receiptanalyzerpipeline_spark.catalog import table

    # A few users only, chronological, unique ts per user (generator gives
    # microsecond ts — collisions effectively impossible).
    events = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 8)
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
        .orderBy("ts")
    )
    rows = events.collect()
    assert len(rows) > 50

    landing = tmp_path / "landing"
    landing.mkdir()
    chunk = len(rows) // 3
    for i in range(3):
        part = rows[i * chunk : (i + 1) * chunk if i < 2 else len(rows)]
        with open(landing / f"chunk_{i}.json", "w") as f:
            for r in part:
                f.write(
                    json.dumps(
                        {
                            "user_id": r["user_id"],
                            "ts": r["ts"].isoformat(),
                            "value": r["value"],
                        }
                    )
                    + "\n"
                )
    # Two far-future sentinel events, each in its own micro-batch: the
    # first advances the watermark past every real session's close, the
    # second guarantees a batch RUNS with that watermark so the timeout
    # emissions fire. Without them, closing the trailing sessions depends
    # on availableNow's OPTIONAL final no-data batch — a race that made
    # this test flaky under load. Sentinel user 999 is excluded below.
    import datetime as _dt

    _max_ts = max(r["ts"] for r in rows)
    for j, delta in ((3, 4 * GAP_S), (4, 8 * GAP_S)):
        with open(landing / f"chunk_{j}.json", "w") as f:
            f.write(
                json.dumps(
                    {
                        "user_id": 999,
                        "ts": (_max_ts + _dt.timedelta(seconds=delta)).isoformat(),
                        "value": 0.0,
                    }
                )
                + "\n"
            )

    # The file source orders micro-batches by modification time; files
    # written within the same ms TIE, and tie order follows the FS listing
    # — nondeterministic. A tie that replays a sentinel BEFORE the last
    # real chunk leaves the trailing sessions' timers waiting on
    # availableNow's OPTIONAL final no-data batch (the order-dependent
    # flake round 3 caught). Pin strictly increasing mtimes so the replay
    # order is chunk_0..chunk_4, exactly as the sibling out-of-order test
    # does.
    import os

    for i in range(5):
        os.utime(landing / f"chunk_{i}.json", (1_700_000_000 + i * 10,) * 2)

    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    sessions = sessionize_stream(stream, gap_seconds=GAP_S, watermark="30 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM closed_sessions").collect()
        if r["user_id"] != 999  # sentinel user: its session may stay open
    }

    # Batch truth (q_t3 semantics on the same slice). The sentinels push
    # the watermark past every real session's close, so EVERY batch
    # session must be emitted — no closeable_before carve-out needed.
    max_ts = max(r["ts"] for r in rows)
    import datetime as dt

    closeable_before = max_ts + dt.timedelta(seconds=1)
    sessions_b = []
    by_user: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"])):
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, rs in by_user.items():
        cur = None
        for r in rs:
            if cur is None or (r["ts"] - cur["end"]).total_seconds() > GAP_S:
                if cur is not None:
                    sessions_b.append((uid, cur["start"], cur["end"], cur["n"]))
                cur = {"start": r["ts"], "end": r["ts"], "n": 1}
            else:
                cur["end"] = r["ts"]
                cur["n"] += 1
        if cur is not None:
            sessions_b.append((uid, cur["start"], cur["end"], cur["n"]))
    want = {s for s in sessions_b if s[2] <= closeable_before}

    missing = want - got
    assert not missing, f"stream missed sessions: {sorted(missing)[:5]}"
    # Everything the stream emitted must be a true batch session.
    extra = got - {tuple(s) for s in sessions_b}
    assert not extra, f"stream emitted non-sessions: {sorted(extra)[:5]}"


@pytest.mark.slow
def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps
    dedup state only within the watermark horizon (state size ∝ window,
    not stream length — the 100 TB-viable form of q_t2's keyed dedup).
    A duplicate arriving in a later micro-batch within the horizon must
    be suppressed."""
    import json as _json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = StructType(
        [StructField("event_id", LongType()), StructField("ts", TimestampType())]
    )
    with open(landing / "b1.json", "w") as f:
        f.write(_json.dumps({"event_id": 1, "ts": "2024-01-01T10:00:00"}) + "\n")
        f.write(_json.dumps({"event_id": 2, "ts": "2024-01-01T10:00:30"}) + "\n")
    with open(landing / "b2.json", "w") as f:
        # event_id=1 again (well within the 1h horizon) + a fresh event.
        f.write(_json.dumps({"event_id": 1, "ts": "2024-01-01T10:05:00"}) + "\n")
        f.write(_json.dumps({"event_id": 3, "ts": "2024-01-01T10:06:00"}) + "\n")

    deduped = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dd_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dd_wm").collect())
    assert got == [1, 2, 3], got


@pytest.mark.slow
def test_out_of_order_event_extends_session_backwards(spark, tmp_path):
    """Regression (ADVICE r1): a cross-batch event arriving under the
    watermark with ts EARLIER than the open session's recorded start must
    extend the session backwards (start = min), matching the batch
    sessionizer over globally sorted events."""
    import json as _json

    landing = tmp_path / "landing"
    landing.mkdir()
    # Batch 1: session opens at 10:00. Watermark after batch 1: 09:30.
    with open(landing / "b1.json", "w") as f:
        f.write(
            _json.dumps({"user_id": 7, "ts": "2024-01-01T10:00:00", "value": 1.0}) + "\n"
        )
    # Batch 2: 09:50 — under the watermark, earlier than the open start,
    # within the 30-min gap of it → same session, start must become 09:50.
    with open(landing / "b2.json", "w") as f:
        f.write(
            _json.dumps({"user_id": 7, "ts": "2024-01-01T09:50:00", "value": 2.0}) + "\n"
        )
    # Batch 3: far-later event for the same user: the fold closes the old
    # session immediately (gap exceeded) and emits it.
    with open(landing / "b3.json", "w") as f:
        f.write(
            _json.dumps({"user_id": 7, "ts": "2024-01-01T13:00:00", "value": 3.0}) + "\n"
        )
    # The file source orders micro-batches by modification time — pin
    # strictly increasing mtimes so b1 → b2 → b3 is the actual replay order
    # (same-second writes otherwise tie and can reorder).
    import os

    for i, name in enumerate(["b1.json", "b2.json", "b3.json"]):
        os.utime(landing / name, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    sessions = sessionize_stream(stream, gap_seconds=GAP_S, watermark="30 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("ooo_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    rows = spark.sql("SELECT * FROM ooo_sessions").collect()
    assert len(rows) == 1, rows
    r = rows[0]
    assert r["session_start"].isoformat() == "2024-01-01T09:50:00"
    assert r["session_end"].isoformat() == "2024-01-01T10:00:00"
    assert r["n_events"] == 2
    assert r["sum_value"] == 3.0


class _FakeGroupState:
    """The GroupState surface ``_session_fn`` uses. As on pyspark's
    GroupState, ``exists``, ``get`` and ``hasTimedOut`` are properties."""

    def __init__(self):
        self.value = None
        self.timed_out = False
        self.timeout_ms = None
        self.watermark_ms = 0

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    @property
    def hasTimedOut(self):
        return self.timed_out

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def test_session_fn_logic_without_spark():
    """Drive the applyInPandasWithState fold directly with a fake
    GroupState: the fold and timeout logic is pure Python."""
    import pandas as pd

    fn = _session_fn(GAP_S)
    state = _FakeGroupState()

    def batch(ts_list):
        pdf = pd.DataFrame(
            {"ts": [pd.Timestamp(t) for t in ts_list], "value": [1.0] * len(ts_list)}
        )
        return list(fn((7,), iter([pdf]), state))

    def ms(t):
        return pd.Timestamp(t).value // 1_000_000

    # Batch 1 opens a session at 10:00; it times out at end + gap.
    assert batch(["2024-01-01T10:00:00"]) == []
    assert state.exists
    assert state.timeout_ms == ms("2024-01-01T10:30:00")

    # Batch 2: an EARLIER event extends the open session backwards; the
    # end, and so the timeout, are unchanged.
    assert batch(["2024-01-01T09:50:00"]) == []
    s, e, n, v = state.get
    assert pd.Timestamp(s, unit="us") == pd.Timestamp("2024-01-01T09:50:00")
    assert pd.Timestamp(e, unit="us") == pd.Timestamp("2024-01-01T10:00:00")
    assert (n, v) == (2, 2.0)
    assert state.timeout_ms == ms("2024-01-01T10:30:00")

    # Timeout emits exactly one summary row and clears the state.
    state.timed_out = True
    [df] = list(fn((7,), iter([]), state))
    assert not state.exists
    assert df.to_dict("records") == [
        {
            "user_id": 7,
            "session_start": pd.Timestamp("2024-01-01T09:50:00"),
            "session_end": pd.Timestamp("2024-01-01T10:00:00"),
            "n_events": 2,
            "sum_value": 2.0,
        }
    ]
    state.timed_out = False

    # A reopened session whose natural close is already behind the
    # watermark is clamped to time out just after it.
    state.watermark_ms = ms("2024-01-01T12:00:00")
    assert batch(["2024-01-01T11:00:00"]) == []
    assert state.timeout_ms == state.watermark_ms + 1

    # A far-later event closes the old session inline and opens a new one.
    [df2] = batch(["2024-01-01T14:00:00"])
    assert df2["session_start"].tolist() == [pd.Timestamp("2024-01-01T11:00:00")]
    assert pd.Timestamp(state.get[0], unit="us") == pd.Timestamp("2024-01-01T14:00:00")
