"""The OCR operator boundary (SURVEY S6, §7.3.4): image bytes → AnalyzeExpense
document, as a pluggable, memoized, executor-side stage.

The reference calls Textract synchronously once per image
(anarcpt/anarcptlib.py:113,121,128-130) — a serial, quota-bound hot loop.
Here OCR is a ``mapInPandas`` stage with:

- **pluggable backends**: ``TextractBackend`` (boto3, client built once per
  partition, reference parity) or ``StubBackend`` (deterministic canned
  documents keyed by content hash — CI runs with no AWS at all);
- **write-once memoization**: ``ocr_with_cache`` probes a raw-zone
  parquet keyed by ``ahash`` with the batch's own hashes (one filtered
  scan, collected) and OCRs only the misses, so retries, AQE re-execution
  and re-runs never re-pay the OCR call, and the probe's cost is set by
  the batch, not by the size of the cache — the *plan-shape*
  optimization the reference encodes as pipeline order (hash/dedup before
  Textract, SURVEY §4.1);
- **one pass per batch**: ``hashed_images`` persists the hashed images
  and collects their hashes, and ``ocr_documents`` persists the parsed
  documents, so a caller with several sinks hashes, probes the cache and
  parses once;
- OCR results as JSON strings in the raw zone (schema applied on read via
  ``from_json`` with sources.textract.TEXTRACT_SCHEMA) so the cache is
  append-only and schema-evolution-safe (K3 semantics).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.multimodal.images import ahash_column
from receiptanalyzerpipeline_spark.sources.textract import TEXTRACT_SCHEMA

OCR_RESULT_SCHEMA = "ahash string, doc_json string, ocr_error string"


class OcrBackend(Protocol):
    def analyze(self, content: bytes, ahash: str) -> dict: ...


class RateLimiter:
    """Blocking token bucket with an injectable clock/sleeper (tests drive
    virtual time; production uses ``time.monotonic``/``time.sleep``).

    ``acquire()`` blocks until a token is available, so a caller can never
    exceed ``burst + rate_per_sec * elapsed`` calls in any window — the
    classic bucket guarantee. Tokens may go briefly negative if a sleeper
    under-sleeps; that only makes later acquires wait longer (conservative,
    never faster than the configured rate)."""

    def __init__(
        self,
        rate_per_sec: float,
        burst: float = 1.0,
        clock: Callable[[], float] | None = None,
        sleeper: Callable[[float], None] | None = None,
    ):
        if rate_per_sec <= 0:
            raise ValueError("rate_per_sec must be positive")
        self.rate = float(rate_per_sec)
        self.burst = max(1.0, float(burst))
        self._clock = clock or time.monotonic
        self._sleeper = sleeper or time.sleep
        self._tokens = self.burst
        self._last: float | None = None

    def _refill(self) -> None:
        now = self._clock()
        if self._last is None:
            self._last = now
        self._tokens = min(self.burst, self._tokens + (now - self._last) * self.rate)
        self._last = now

    # Tolerance for float round-trip: wait*(rate) can land a hair under the
    # missing token count, which would otherwise spin on ~1e-17 sleeps.
    _EPS = 1e-9

    def acquire(self) -> None:
        self._refill()
        while self._tokens < 1.0 - self._EPS:
            self._sleeper((1.0 - self._tokens) / self.rate)
            self._refill()
        self._tokens -= 1.0


# Throttle signatures across AWS SDK surfaces: botocore raises ClientError
# with response["Error"]["Code"] in this family (or a subclass whose NAME
# carries the code).
_THROTTLE_MARKERS = (
    "ThrottlingException",
    "ProvisionedThroughputExceededException",
    "LimitExceededException",
    "TooManyRequestsException",
    "Throttling",
    "SlowDown",
)


def _default_is_throttle(ex: Exception) -> bool:
    resp = getattr(ex, "response", None)
    code = ""
    if isinstance(resp, dict):
        code = (resp.get("Error") or {}).get("Code") or ""
    name = type(ex).__name__
    return any(m in code or m in name for m in _THROTTLE_MARKERS)


class RateLimitedBackend:
    """Token-bucket + bounded-retry/backoff wrapper for any ``OcrBackend``
    (SURVEY §7.3.4: the reference's real throughput ceiling is Textract
    TPS — ref anarcpt/anarcptlib.py:113,121 calls the service bare).

    Scope: the limiter lives inside ONE task (the backend object is
    pickled per mapInPandas task), so ``rate_per_sec`` is a PER-PARTITION
    rate. To bound cluster-wide TPS, set
    ``rate_per_sec = TPS_budget / max_concurrent_ocr_tasks`` (and cap
    concurrency with ``spark.dynamicAllocation.maxExecutors`` /
    ``maxFilesPerTrigger`` on the ingest stream). A cluster-global bucket
    would need an external coordinator — deliberately out of scope.

    Retry policy: throttle-classified errors (botocore ClientError codes
    ThrottlingException / ProvisionedThroughputExceededException / ... —
    see ``_THROTTLE_MARKERS``) are retried up to ``max_retries`` times
    with deterministic exponential backoff (base·2^attempt, capped); the
    retry call re-acquires a token, so backoff never bypasses the bucket.
    Anything else — and throttles past the budget — re-raises, which
    ``ocr_expense`` turns into a quarantine row (per-event isolation, T5):
    a hard-throttled batch converges with zero lost rows."""

    def __init__(
        self,
        inner: OcrBackend,
        rate_per_sec: float,
        burst: float = 1.0,
        max_retries: int = 4,
        backoff_base_s: float = 0.5,
        backoff_cap_s: float = 30.0,
        clock: Callable[[], float] | None = None,
        sleeper: Callable[[float], None] | None = None,
        is_throttle: Callable[[Exception], bool] | None = None,
    ):
        self.inner = inner
        self.limiter = RateLimiter(rate_per_sec, burst, clock=clock, sleeper=sleeper)
        self.max_retries = int(max_retries)
        self.backoff_base_s = float(backoff_base_s)
        self.backoff_cap_s = float(backoff_cap_s)
        self._sleeper = sleeper or time.sleep
        self._is_throttle = is_throttle or _default_is_throttle

    def analyze(self, content: bytes, ahash: str) -> dict:
        attempt = 0
        while True:
            self.limiter.acquire()
            try:
                return self.inner.analyze(content, ahash)
            except Exception as ex:
                if attempt >= self.max_retries or not self._is_throttle(ex):
                    raise
                self._sleeper(
                    min(self.backoff_cap_s, self.backoff_base_s * (2.0**attempt))
                )
                attempt += 1


class StubBackend:
    """Deterministic offline backend: returns a canned AnalyzeExpense-shaped
    document derived from the content hash. Tests inject richer canned docs
    via ``responses`` (ahash → document dict)."""

    def __init__(self, responses: dict[str, dict] | None = None):
        self.responses = responses or {}

    def analyze(self, content: bytes, ahash: str) -> dict:
        if ahash in self.responses:
            return self.responses[ahash]
        return {
            "img_id": ahash,
            "DocumentMetadata": {"Pages": 1},
            "ExpenseDocuments": [
                {
                    "ExpenseIndex": 1,
                    "SummaryFields": [
                        {
                            "PageNumber": 1,
                            "Type": {"Text": "VENDOR_NAME", "Confidence": 50.0},
                            "LabelDetection": None,
                            "ValueDetection": {
                                "Text": f"STUB VENDOR {ahash[:4].upper()}",
                                "Confidence": 50.0,
                                "Geometry": None,
                            },
                        }
                    ],
                    "LineItemGroups": [],
                }
            ],
        }


class TextractBackend:  # pragma: no cover - requires AWS credentials
    """AnalyzeExpense via boto3 — one client per executor partition
    (reference parity: anarcptlib.py:112-113,121). Untested in this
    environment (no AWS); the call shape mirrors the reference."""

    def __init__(self, region_name: str = "us-east-2"):
        self.region_name = region_name
        self._client = None

    def analyze(self, content: bytes, ahash: str) -> dict:
        if self._client is None:
            import boto3

            self._client = boto3.client("textract", region_name=self.region_name)
        resp = self._client.analyze_expense(Document={"Bytes": content})
        resp["img_id"] = ahash
        return resp


def ocr_expense(df: DataFrame, backend: OcrBackend) -> DataFrame:
    """(ahash, content) → (ahash, doc_json, ocr_error). Per-event error
    isolation (reference T5): a failing document yields an error row, the
    batch keeps going."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for ahash, content in zip(pdf["ahash"], pdf["content"]):
                try:
                    doc = backend.analyze(bytes(content), ahash)
                    out.append((ahash, json.dumps(doc), None))
                except Exception as ex:  # quarantine row, don't kill the batch
                    out.append((ahash, None, f"{type(ex).__name__}: {ex}"))
            yield pd.DataFrame(out, columns=["ahash", "doc_json", "ocr_error"])

    return df.select("ahash", "content").mapInPandas(run, schema=OCR_RESULT_SCHEMA)


def parse_ocr_documents(raw: DataFrame) -> DataFrame:
    """raw-zone rows → typed nested documents (img_id = ahash)."""
    return (
        raw.where(F.col("doc_json").isNotNull())
        .select(F.from_json(F.col("doc_json"), TEXTRACT_SCHEMA).alias("doc"))
        .select("doc.*")
    )


def in_keys(col: str, keys: Iterable[str]) -> str:
    """SQL text of ``col IN ('k1', 'k2', ...)``, quotes escaped. A key set
    crosses py4j as this one expression; ``Column.isin(list)`` costs a
    round trip per key (about 230 against 4 for 50 keys). ``keys`` must
    not be empty."""
    quoted = ", ".join("'" + k.replace("\\", "\\\\").replace("'", "\\'") + "'" for k in keys)
    return f"`{col}` IN ({quoted})"


def _batch_hashes(hashed: DataFrame) -> list[str]:
    """The distinct non-null ``ahash`` values of a batch, collected to the
    driver in one job with no shuffle. A receipt micro-batch is capped at
    ``streaming.ingest.MAX_FILES_PER_TRIGGER`` files, which bounds the
    list."""
    return sorted({r[0] for r in hashed.select("ahash").collect()} - {None})


def held_keys(
    spark: SparkSession, path: str, key: str, hashes: list[str], hash_col: str = "ahash"
) -> set[str]:
    """The ``key`` values that the parquet table at ``path`` already holds
    for rows whose ``hash_col`` is one of ``hashes``: one filtered scan of
    the two columns, read with a declared schema (no inference job) and
    collected.

    Empty ONLY when the path does not exist yet (first run). Any other
    failure re-raises, a corrupt file included: treating an unreadable
    table as "nothing there" would silently re-pay OCR calls or append
    duplicate curated rows."""
    from pyspark.errors import AnalysisException

    if not hashes:
        return set()
    schema = ", ".join(f"`{c}` string" for c in {key, hash_col})
    try:
        table = spark.read.schema(schema).parquet(path)
    except AnalysisException as ex:
        if ex.getCondition() == "PATH_NOT_FOUND":
            return set()
        raise
    return {r[0] for r in table.where(F.expr(in_keys(hash_col, hashes))).select(key).collect()}


def ocr_with_cache(
    spark: SparkSession,
    images: DataFrame,
    cache_path: str,
    backend: OcrBackend,
    hashes: list[str] | None = None,
) -> DataFrame:
    """Memoized OCR: hit rows come from the raw-zone cache, misses run the
    backend once and are appended. Returns the full (ahash, doc_json,
    ocr_error) set for the input images.

    The raw zone is probed with the batch's own hashes (``hashes``, or
    ``_batch_hashes(images)`` when the caller has not collected them), so
    the cost is set by the batch, not by the size of the cache: one
    filtered key scan, the OCR write of the misses, and a filtered read
    back. Exactly one OCR call per distinct new image content, idempotent
    under replay (SURVEY §7.3.4/§7.3.6)."""
    if hashes is None:
        hashes = _batch_hashes(images)
    if not hashes:
        return spark.createDataFrame([], OCR_RESULT_SCHEMA)
    cached = held_keys(spark, cache_path, "ahash", hashes)
    misses = [h for h in hashes if h not in cached]
    # The write is the only execution of the OCR stage: nothing probes or
    # counts its output, which would pay the backend a second time.
    if misses:
        todo = images.where(F.expr(in_keys("ahash", misses))).select("ahash", "content")
        ocr_expense(todo.dropDuplicates(["ahash"]), backend).write.mode("append").parquet(
            cache_path
        )
    raw = spark.read.schema(OCR_RESULT_SCHEMA).parquet(cache_path)
    return raw.where(F.expr(in_keys("ahash", hashes)))


@contextmanager
def hashed_images(images: DataFrame) -> Iterator[tuple[DataFrame, list[str]]]:
    """Hash a batch's ``content`` column once: yields the persisted
    ``(ahash, content)`` frame and its distinct hashes, and releases the
    frame on exit. The collect of the hashes is the job that computes the
    hash; every later probe, the OCR write and the read-back reuse it."""
    ahash = ahash_column(images.sparkSession.sparkContext).alias("ahash")
    hashed = images.select(ahash, "content").persist()
    try:
        yield hashed, _batch_hashes(hashed)
    finally:
        hashed.unpersist()


@contextmanager
def ocr_documents(
    hashed: DataFrame, hashes: list[str], cache_path: str, backend: OcrBackend
) -> Iterator[DataFrame]:
    """A hashed batch (``hashed_images``) → its parsed documents, persisted
    so that every action on the yielded frame reuses one parse.

    The persisted frame does not hold the paid call: OCR runs only inside
    ``ocr_with_cache``'s append write, and the documents are read back from
    the raw zone, so recomputing an evicted partition re-reads the cache
    and never calls the backend again. Released on exit."""
    docs = parse_ocr_documents(
        ocr_with_cache(hashed.sparkSession, hashed, cache_path, backend, hashes)
    ).persist()
    try:
        yield docs
    finally:
        docs.unpersist()
