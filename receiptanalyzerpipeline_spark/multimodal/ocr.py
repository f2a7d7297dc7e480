"""The OCR operator boundary (SURVEY S6, §7.3.4): image bytes → AnalyzeExpense
document, as a pluggable, memoized, executor-side stage.

The reference calls Textract synchronously once per image
(anarcpt/anarcptlib.py:113,121,128-130) — a serial, quota-bound hot loop.
Here OCR is a ``mapInPandas`` stage with:

- **pluggable backends**: ``TextractBackend`` (boto3, client built once per
  partition, reference parity) or ``StubBackend`` (deterministic canned
  documents keyed by content hash — CI runs with no AWS at all);
- **write-once memoization**: ``ocr_with_cache`` anti-joins the input
  against a raw-zone parquet keyed by ``ahash`` and OCRs only the misses,
  so retries, AQE re-execution, and re-runs never re-pay the OCR call —
  the *plan-shape* optimization the reference encodes as pipeline order
  (hash/dedup before Textract, SURVEY §4.1);
- **one pass per batch**: ``ocr_documents`` persists the hashed images and
  the parsed documents, so a caller with several sinks hashes, probes the
  cache and parses once;
- OCR results as JSON strings in the raw zone (schema applied on read via
  ``from_json`` with sources.textract.TEXTRACT_SCHEMA) so the cache is
  append-only and schema-evolution-safe (K3 semantics).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from receiptanalyzerpipeline_spark.multimodal.images import with_ahash
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


def ocr_with_cache(
    spark: SparkSession, images: DataFrame, cache_path: str, backend: OcrBackend
) -> DataFrame:
    """Memoized OCR: hit rows come from the raw-zone cache, misses run the
    backend once and are appended. Returns the full (ahash, doc_json,
    ocr_error) set for the input images.

    The anti-join keys on ahash — exactly-once OCR per distinct image
    content, idempotent under replay (SURVEY §7.3.4/§7.3.6)."""
    distinct_imgs = images.select("ahash", "content").dropDuplicates(["ahash"])
    cache = _read_or_none(spark, cache_path, OCR_RESULT_SCHEMA)
    if cache is None:
        cache = spark.createDataFrame([], OCR_RESULT_SCHEMA)

    misses = distinct_imgs.join(cache.select("ahash"), "ahash", "left_anti")
    # Probe MISSES (a plain anti-join) for emptiness, never the OCR output:
    # probing `fresh` would invoke the backend once for the probe and again
    # for the write — two paid calls per miss. The single `fresh.write` job
    # below is the only execution of the OCR stage.
    if misses.limit(1).count() > 0:
        ocr_expense(misses, backend).write.mode("append").parquet(cache_path)
    cache_now = _read_or_none(spark, cache_path, OCR_RESULT_SCHEMA)
    if cache_now is None:  # nothing cached and nothing missed: empty input
        return spark.createDataFrame([], OCR_RESULT_SCHEMA)
    return cache_now.join(distinct_imgs.select("ahash"), "ahash", "left_semi")


@contextmanager
def ocr_documents(
    images: DataFrame, cache_path: str, backend: OcrBackend
) -> Iterator[DataFrame]:
    """Image bytes → parsed documents, with each stage computed once.

    Hashes the ``content`` column, runs ``ocr_with_cache`` over it and
    parses the result. The hashed images and the parsed documents are
    persisted, so the cache probe, the OCR write and every action on the
    yielded frame reuse one hash pass and one parse instead of re-reading
    the input and the raw zone. Neither persisted frame holds the paid
    call: OCR runs only inside ``ocr_with_cache``'s append write, and the
    documents are read back from the raw zone, so recomputing an evicted
    partition re-reads the cache and never calls the backend again. Both
    frames are released on exit."""
    hashed = with_ahash(images.select("content")).select("ahash", "content").persist()
    docs = None
    try:
        raw = ocr_with_cache(images.sparkSession, hashed, cache_path, backend)
        docs = parse_ocr_documents(raw).persist()
        yield docs
    finally:
        if docs is not None:
            docs.unpersist()
        hashed.unpersist()


def _read_or_none(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame | None:
    """Read a parquet table with a declared schema (no inference job),
    returning None ONLY when the path does not exist yet (first run). Any
    other failure re-raises, and a corrupt file fails the query that
    executes the frame: treating an unreadable table as "nothing there"
    would silently re-pay OCR calls or append duplicate curated rows."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as ex:
        if ex.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
