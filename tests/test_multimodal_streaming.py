"""Multimodal (aHash, near-dup, OCR boundary) + streaming ingest tests
(FIXTURES.md A5: exact-dup pair, 1-bit near-dup pair, distinct image,
non-image rejected; SURVEY §5.2.5: replay without duplication)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.multimodal.images import (
    STUB_MAGIC,
    _ahash_hex,
    ahash_neardup_pairs,
    exact_dedup_by_ahash,
    with_ahash,
)


def stub_image(pixels: list[int]) -> bytes:
    assert len(pixels) == 64
    return STUB_MAGIC + bytes(pixels)


# 32 dark / 32 bright: mean well-separated, so one dark→bright flip moves
# exactly one bit of the aHash.
IMG_A = stub_image([10] * 32 + [200] * 32)
IMG_A2 = stub_image([10] * 32 + [200] * 32)  # exact duplicate content
IMG_B = stub_image([200] + [10] * 31 + [200] * 32)  # 1-bit near-dup of A
IMG_C = stub_image([0, 255] * 32)  # checkerboard, far from A


def images_df(spark, named: dict[str, bytes]):
    return spark.createDataFrame(
        [(name, content) for name, content in named.items()], ["path", "content"]
    )


def test_ahash_properties(spark):
    df = with_ahash(images_df(spark, {"a": IMG_A, "a2": IMG_A2, "b": IMG_B, "c": IMG_C}))
    rows = {r["path"]: r for r in df.collect()}
    assert rows["a"]["ahash"] == rows["a2"]["ahash"], "identical content → identical hash"
    assert len(rows["a"]["ahash"]) == 16
    # ahash_bits carries the exact bit pattern (two's complement int64)
    for r in rows.values():
        unsigned = int(r["ahash"], 16)
        expect = unsigned - (1 << 64) if unsigned >= (1 << 63) else unsigned
        assert r["ahash_bits"] == expect
    ham = bin(rows["a"]["ahash_bits"] ^ rows["b"]["ahash_bits"]).count("1")
    assert ham == 1, f"crafted near-dup should differ by exactly 1 bit, got {ham}"


@pytest.mark.slow
def test_ahash_neardup_and_exact_dedup(spark):
    df = with_ahash(images_df(spark, {"a": IMG_A, "a2": IMG_A2, "b": IMG_B, "c": IMG_C}))
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_neardup_pairs(df, max_hamming=2).collect()
    }
    assert pairs[("a", "a2")] == 0
    assert pairs[("a", "b")] == 1
    assert pairs[("a2", "b")] == 1
    assert not any("c" in k for k in pairs), "checkerboard is not a near-dup"

    survivors = {r["path"] for r in exact_dedup_by_ahash(df).collect()}
    assert survivors == {"a", "b", "c"}  # a2 collides with a; lowest path wins


def _stream_dirs(base: Path) -> dict[str, str]:
    d = {k: str(base / k) for k in ["landing", "checkpoint", "raw", "summary", "items"]}
    Path(d["landing"]).mkdir(parents=True)
    return d


@pytest.fixture()
def stream_dirs(tmp_path: Path) -> dict[str, str]:
    return _stream_dirs(tmp_path)


def _ingest(spark, d, backend=None, checkpoint=None, available_now=True):
    from receiptanalyzerpipeline_spark.multimodal.ocr import StubBackend
    from receiptanalyzerpipeline_spark.streaming.ingest import run_ingest

    return run_ingest(
        spark,
        d["landing"],
        checkpoint or d["checkpoint"],
        d["raw"],
        d["summary"],
        d["items"],
        backend or StubBackend(),
        available_now=available_now,
    )


def _logging_backend(log_path: str, responses: dict[str, dict] | None = None):
    """A backend that appends one line per analyze() call to a shared file —
    visible across Python worker processes, so a test can count exactly how
    many times the paid OCR call ran. The class is defined inside this
    function so cloudpickle ships it by value to the workers."""

    class _LoggingBackend:
        def analyze(self, content: bytes, ahash: str) -> dict:
            with open(log_path, "a") as f:
                f.write(ahash + "\n")
            from receiptanalyzerpipeline_spark.multimodal.ocr import StubBackend

            return StubBackend(responses).analyze(content, ahash)

    return _LoggingBackend()


def _summary_count(spark, d) -> int:
    return spark.read.parquet(d["summary"]).count()


@pytest.mark.slow
def test_streaming_ingest_idempotent(spark, stream_dirs):
    d = stream_dirs
    landing = Path(d["landing"])
    (landing / "scan_001.png").write_bytes(IMG_A)
    (landing / "scan_002.png").write_bytes(IMG_A2)  # duplicate content
    (landing / "scan_003.png").write_bytes(IMG_C)
    (landing / "notes.txt").write_bytes(b"not an image")  # glob-filtered

    _ingest(spark, stream_dirs)
    assert _summary_count(spark, d) == 2  # a==a2 collapse, c distinct
    raw = spark.read.parquet(d["raw"])
    assert raw.count() == 2, "OCR ran once per distinct ahash (memoized)"

    # Replay with same checkpoint: no new files → no change.
    _ingest(spark, stream_dirs)
    assert _summary_count(spark, d) == 2

    # New file with ALREADY-SEEN content: stream processes it, but the
    # idempotent merge + OCR cache keep outputs unchanged.
    (landing / "scan_004.png").write_bytes(IMG_A)
    _ingest(spark, stream_dirs)
    assert _summary_count(spark, d) == 2
    assert spark.read.parquet(d["raw"]).count() == 2

    # Genuinely new content → exactly one new summary row.
    (landing / "scan_005.png").write_bytes(IMG_B)
    _ingest(spark, stream_dirs)
    assert _summary_count(spark, d) == 3

    # Curated rows came from the stub backend's canned documents.
    vendors = {
        r["vendor_name"] for r in spark.read.parquet(d["summary"]).collect()
    }
    assert all(v.startswith("STUB VENDOR ") for v in vendors)


@pytest.mark.slow
def test_ocr_with_cache_single_invocation(spark, tmp_path):
    """Regression (ADVICE r1): the cache probe must not execute the OCR
    stage — each distinct image is analyzed exactly ONCE across repeated
    ocr_with_cache calls, and an empty input with no cache yet returns an
    empty frame instead of raising."""
    from receiptanalyzerpipeline_spark.multimodal.ocr import ocr_with_cache

    log = tmp_path / "calls.log"
    cache = str(tmp_path / "ocr_cache")
    backend = _logging_backend(str(log))

    imgs = with_ahash(images_df(spark, {"a": IMG_A, "a2": IMG_A2, "c": IMG_C}))
    out1 = ocr_with_cache(spark, imgs, cache, backend)
    assert out1.count() == 2  # a==a2 collapse
    calls = log.read_text().splitlines()
    assert len(calls) == 2, f"each distinct ahash OCR'd exactly once, got {calls}"

    # Re-run with the same inputs: all hits, zero new backend calls.
    out2 = ocr_with_cache(spark, imgs, cache, backend)
    assert out2.count() == 2
    assert len(log.read_text().splitlines()) == 2

    # One genuinely new image → exactly one more call.
    more = with_ahash(images_df(spark, {"a": IMG_A, "b": IMG_B}))
    out3 = ocr_with_cache(spark, more, cache, backend)
    assert out3.count() == 2
    assert len(log.read_text().splitlines()) == 3

    # Empty input against a cache path that was never created: empty result.
    empty = with_ahash(images_df(spark, {"a": IMG_A})).limit(0)
    out4 = ocr_with_cache(spark, empty, str(tmp_path / "never_written"), backend)
    assert out4.count() == 0
    assert len(log.read_text().splitlines()) == 3


def test_ingest_exactly_once_and_loud_on_unreadable_target(spark, stream_dirs, tmp_path):
    """The ingest path in the default run: one backend call per distinct new
    hash, the expected curated rows, a replay that adds nothing, and an
    unreadable curated table that fails the batch instead of being treated
    as empty (which would append duplicate rows)."""
    from receiptanalyzerpipeline_spark.sources.fixtures import RECEIPT_ACME
    from receiptanalyzerpipeline_spark.streaming.ingest import process_receipt_batch

    d = stream_dirs
    landing = Path(d["landing"])
    (landing / "scan_001.png").write_bytes(IMG_A)
    (landing / "scan_002.png").write_bytes(IMG_A2)  # duplicate content
    (landing / "scan_003.png").write_bytes(IMG_C)
    hashes = {_ahash_hex(IMG_A), _ahash_hex(IMG_C)}
    # Every document carries RECEIPT_ACME's two line items.
    responses = {h: {**RECEIPT_ACME, "img_id": h} for h in hashes}
    log = tmp_path / "calls.log"
    backend = _logging_backend(str(log), responses)

    def state():
        calls = sorted(log.read_text().splitlines())
        return calls, _summary_count(spark, d), spark.read.parquet(d["items"]).count()

    _ingest(spark, d, backend)
    assert state() == (sorted(hashes), 2, 4)

    # Replay every file from a fresh checkpoint: the OCR cache and the
    # idempotent merges turn the whole batch into a no-op.
    _ingest(spark, d, backend, checkpoint=str(tmp_path / "checkpoint_replay"))
    assert state() == (sorted(hashes), 2, 4)

    def files():
        return {k: sorted(Path(d[k]).iterdir()) for k in ("raw", "summary", "items")}

    # Every table is probed before anything is written: whichever one is
    # unreadable, a batch with a new image fails before it pays for OCR
    # or appends a file anywhere.
    before, calls = files(), state()[0]
    for target in ("summary", "raw", "items"):
        parts = {f: f.read_bytes() for f in Path(d[target]).glob("part-*.parquet")}
        for f in parts:
            f.write_bytes(b"not parquet")
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            process_receipt_batch(
                images_df(spark, {"b": IMG_B}), d["raw"], d["summary"], d["items"], backend
            )
        for f, content in parts.items():
            f.write_bytes(content)
        assert sorted(log.read_text().splitlines()) == calls, target
        assert files() == before, target


def test_continuous_ingest_returns_running_query(spark, stream_dirs):
    """Without availableNow, run_ingest hands back the running query (what
    `watch` without --once awaits) instead of dropping it."""
    d = stream_dirs
    landing = Path(d["landing"])
    for i, img in enumerate([IMG_A, IMG_B, IMG_C]):
        (landing / f"scan_{i:03d}.png").write_bytes(img)
    q = _ingest(spark, d, available_now=False)
    try:
        assert q.isActive
        q.processAllAvailable()
        assert _summary_count(spark, d) == 3
    finally:
        q.stop()


def test_ingest_batch_lists_files_without_a_spark_job(spark, stream_dirs):
    """The file source passes each batch file to the reader as a root path;
    above the parallel-listing threshold that was a listing job with one
    task per file. The session default keeps a batch of 40 files (more than
    Spark's default threshold of 32) on the driver."""
    landing = Path(stream_dirs["landing"])
    for i in range(40):
        (landing / f"scan_{i:03d}.png").write_bytes(
            stub_image([(i * 7 + j) % 256 for j in range(64)])
        )
    q = _ingest(spark, stream_dirs)
    st = spark.sparkContext.statusTracker()
    stages = [
        st.getStageInfo(s)
        for j in st.getJobIdsForGroup(str(q.runId))
        for s in st.getJobInfo(j).stageIds
    ]
    tasks = [s.numTasks for s in stages if s is not None]
    assert tasks, "the stream's jobs are tagged with its run id"
    assert max(tasks) < 40, tasks


def _curated_rows(spark, d) -> tuple[list, list]:
    return tuple(
        sorted(map(tuple, spark.read.parquet(d[k]).select(*sorted(cols)).collect()))
        for k, cols in (("summary", ("img_id", "vendor_name")), ("items", ("item_key", "price")))
    )


def test_ingest_drains_a_backlog_in_capped_batches(spark, tmp_path, monkeypatch):
    """At most MAX_FILES_PER_TRIGGER files per micro-batch, so a backlog
    drains in several batches under availableNow, with the same curated
    rows as one uncapped batch."""
    from receiptanalyzerpipeline_spark.multimodal.ocr import StubBackend
    from receiptanalyzerpipeline_spark.sources.fixtures import RECEIPT_ACME
    from receiptanalyzerpipeline_spark.streaming import ingest

    images = [stub_image([(i * 31 + j * 7) % 256 for j in range(64)]) for i in range(5)]
    # Every document carries RECEIPT_ACME's two line items.
    backend = StubBackend({h: {**RECEIPT_ACME, "img_id": h} for h in map(_ahash_hex, images)})
    runs = {}
    for cap in (2, ingest.MAX_FILES_PER_TRIGGER):
        d = _stream_dirs(tmp_path / str(cap))
        for i, img in enumerate(images):
            (Path(d["landing"]) / f"scan_{i:03d}.png").write_bytes(img)
        monkeypatch.setattr(ingest, "MAX_FILES_PER_TRIGGER", cap)
        q = _ingest(spark, d, backend)
        batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
        runs[cap] = batches, _curated_rows(spark, d)
    (capped, rows), (uncapped, rows_once) = runs.values()
    assert capped == [2, 2, 1] and uncapped == [5]
    assert rows == rows_once and (len(rows[0]), len(rows[1])) == (5, 10)


def test_curated_tables_keep_one_column_order(spark, stream_dirs):
    """The first append and every later (filtered) append write the same
    column order, so all part files of a curated table share one schema."""
    import pyarrow.parquet as pq

    from receiptanalyzerpipeline_spark.multimodal.ocr import StubBackend
    from receiptanalyzerpipeline_spark.sources.fixtures import RECEIPT_ACME

    d = stream_dirs
    landing = Path(d["landing"])
    # Every document carries RECEIPT_ACME's two line items.
    backend = StubBackend(
        {h: {**RECEIPT_ACME, "img_id": h} for h in map(_ahash_hex, (IMG_A, IMG_B))}
    )
    (landing / "scan_001.png").write_bytes(IMG_A)
    _ingest(spark, d, backend)
    (landing / "scan_002.png").write_bytes(IMG_B)
    (landing / "scan_003.png").write_bytes(IMG_A)
    _ingest(spark, d, backend)
    for table in ("summary", "items"):
        schemas = {tuple(pq.read_schema(f).names) for f in Path(d[table]).glob("part-*.parquet")}
        assert len(schemas) == 1, (table, schemas)
    assert spark.read.parquet(d["items"]).count() == 4


def test_warm_batch_job_count(spark, stream_dirs):
    """A warm receipt batch probes history with its own hashes instead of
    joining against it: hash collect, three key probes, the OCR write and
    the two curated appends (each a shuffle stage and a write) stay within
    11 Spark jobs."""
    from receiptanalyzerpipeline_spark.multimodal.ocr import StubBackend
    from receiptanalyzerpipeline_spark.streaming.ingest import process_receipt_batch

    d = stream_dirs
    sc = spark.sparkContext

    def batch(named):
        process_receipt_batch(
            images_df(spark, named), d["raw"], d["summary"], d["items"], StubBackend()
        )

    batch({"a": IMG_A, "c": IMG_C})
    sc.setJobGroup("warm-receipt-batch", "jobs of one warm receipt batch")
    try:
        batch({"a": IMG_A, "a2": IMG_A2, "b": IMG_B})
        jobs = sc.statusTracker().getJobIdsForGroup("warm-receipt-batch")
    finally:
        sc.setJobGroup("", "")
    assert _summary_count(spark, d) == 3
    assert 0 < len(jobs) <= 11, len(jobs)


def test_warm_receipt_batch_compiles_no_new_classes(spark, stream_dirs):
    """Steady-state JVM compile time on the ingest path is HotSpot warming
    up, not Spark's codegen cache missing: by the third batch of one shape
    (three fresh receipts each), every generated class is a cache hit."""
    import random

    from receiptanalyzerpipeline_spark.multimodal.ocr import StubBackend
    from receiptanalyzerpipeline_spark.streaming.ingest import process_receipt_batch

    d = stream_dirs
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    rng = random.Random(17)
    compiled = []
    for i in range(3):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        named = {f"b{i}_{j}": stub_image([rng.randrange(256) for _ in range(64)]) for j in range(3)}
        process_receipt_batch(images_df(spark, named), d["raw"], d["summary"], d["items"], StubBackend())
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert _summary_count(spark, d) == 9
    assert compiled[2] == 0, compiled


def test_in_keys_escapes_quotes_and_backslashes(spark):
    """A key set travels as one SQL IN list; keys holding quotes or
    backslashes still match themselves only."""
    from receiptanalyzerpipeline_spark.multimodal.ocr import in_keys

    keys = ["x'y", "b\\c", "plain"]
    df = spark.createDataFrame([(k,) for k in [*keys, "x", "bc"]], ["k"])
    got = {r[0] for r in df.where(F.expr(in_keys("k", keys[:2]))).collect()}
    assert got == {"x'y", "b\\c"}
