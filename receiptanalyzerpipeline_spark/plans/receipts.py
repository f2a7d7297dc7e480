"""Receipt-domain queries (SURVEY M2 / Q-E1): Textract → flatten → pivot →
curated receipt_summary / receipt_line_item.

The fixture documents are original synthetic receipts
(sources/fixtures.py); the oracles are hand-derived golden rows as VALUES
literals, so the driver's gate verifies the full parse pipeline: last-wins
pivot, label-only TOTAL match, money/currency/date parsing, defaults, and
the other_data map fold (rendered as a sorted ``k=v;...`` string — maps
don't hash portably).

Reference parity: anarcpt/anarcptlib.py:20-78 (flatten+pivot),
:81-108 (line items), models.py:7-31 (defaults).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.plans.registry import register
from receiptanalyzerpipeline_spark.sources.fixtures import ALL_RECEIPTS
from receiptanalyzerpipeline_spark.sources.textract import (
    TEXTRACT_SCHEMA,
    extract_line_items,
    flatten_summary_fields,
    pivot_receipt_summary,
)


def fixture_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(ALL_RECEIPTS, TEXTRACT_SCHEMA)


def other_repr(map_col) -> F.Column:
    """Deterministic string form of the other_data map: sorted ``k=v`` joined
    with ``;`` (map cells don't compare portably across engines)."""
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(map_col)),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
        ";",
    )


@register(
    "q_e1_receipt_summary",
    oracle="""
        SELECT * FROM (VALUES
            ('0f1e2d3c4b5a6978', 'CORNER CAFE', '12 High Street, London',
             TIMESTAMP '2023-11-02 00:00:00', CAST(18.20 AS DOUBLE),
             CAST(17.00 AS DOUBLE), CAST(1.20 AS DOUBLE),
             'Pound Sterling', 'TABLE=7'),
            ('a1b2c3d4e5f60718', 'ACME MART #42', NULL,
             TIMESTAMP '2023-03-05 14:07:00', CAST(25.00 AS DOUBLE),
             CAST(23.45 AS DOUBLE), CAST(1.55 AS DOUBLE),
             'US Dollars', 'CASH=$26.00;CHANGE=0.56;Total=$25.00'),
            ('deadbeef00000000', 'Unknown', NULL,
             CAST(NULL AS TIMESTAMP), CAST(0.00 AS DOUBLE),
             CAST(0.00 AS DOUBLE), CAST(0.00 AS DOUBLE),
             'US Dollars', '')
        ) AS t(img_id, vendor_name, receiver_address, receipt_date,
               total, sub_total, tax_amount, currency, other_repr)
    """,
    doc=(
        "End-to-end receipt slice: nested AnalyzeExpense docs → flatten (P1) → "
        "last-wins pivot (A1) → receipt_summary golden rows (SURVEY Q-E1)."
    ),
    tags=("receipt", "golden"),
    order=("img_id",),
)
def q_e1(spark: SparkSession, sf_dir: str) -> DataFrame:
    summary = pivot_receipt_summary(flatten_summary_fields(fixture_df(spark)))
    return summary.select(
        "img_id",
        "vendor_name",
        "receiver_address",
        "receipt_date",
        F.col("total").cast("double").alias("total"),
        F.col("sub_total").cast("double").alias("sub_total"),
        F.col("tax_amount").cast("double").alias("tax_amount"),
        "currency",
        other_repr(F.col("other_data")).alias("other_repr"),
    )


@register(
    "q_e2_receipt_line_items",
    oracle="""
        SELECT * FROM (VALUES
            ('a1b2c3d4e5f60718', CAST(1 AS BIGINT), 'COFFEE BEANS', CAST(12.99 AS DOUBLE), CAST(1 AS BIGINT)),
            ('a1b2c3d4e5f60718', CAST(2 AS BIGINT), 'OAT MILK', CAST(3.49 AS DOUBLE), CAST(1 AS BIGINT))
        ) AS t(img_id, line_no, item_name, price, quantity)
    """,
    doc=(
        "Line items natively from LineItemGroups (replaces the reference's "
        "CSV round-trip, SURVEY F10/F5): tag-strip, money parse, quantity "
        "default on unparseable input."
    ),
    tags=("receipt", "golden"),
    order=("img_id", "line_no"),
)
def q_e2(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = extract_line_items(fixture_df(spark))
    return items.select(
        "img_id",
        F.col("line_no").cast("long").alias("line_no"),
        "item_name",
        F.col("price").cast("double").alias("price"),
        F.col("quantity").cast("long").alias("quantity"),
    )


@register(
    "q_f4_money_roundtrip",
    oracle="""
        WITH tagged AS (
            SELECT p_partkey,
                   CASE CAST(p_partkey % 4 AS INT)
                        WHEN 0 THEN '$' || CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR)
                        WHEN 1 THEN '£' || CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR)
                        WHEN 2 THEN '€ ' || CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR)
                        ELSE CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR)
                   END AS money_str
            FROM part
        )
        SELECT p_partkey, money_str,
               CAST(CAST(regexp_replace(
                    regexp_extract(money_str,
                        '^\\s*([£$€])?\\s*([0-9][0-9,]*\\.?[0-9]*)\\s*$', 2),
                    ',', '') AS DECIMAL(18,2)) AS DOUBLE) AS amount,
               CASE regexp_extract(money_str,
                        '^\\s*([£$€])?\\s*([0-9][0-9,]*\\.?[0-9]*)\\s*$', 1)
                    WHEN '$' THEN 'US Dollars'
                    WHEN '£' THEN 'Pound Sterling'
                    WHEN '€' THEN 'Euro'
                    ELSE 'US Dollars'
               END AS currency
        FROM tagged
    """,
    doc=(
        "Money-parser roundtrip over the synthetic tables: format a decimal "
        "with a currency symbol, parse it back (reference F1/F2 semantics)."
    ),
    tags=("string", "money"),
    order=("p_partkey",),
)
def q_f4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.catalog import table
    from receiptanalyzerpipeline_spark.functions.money import (
        money_amount,
        money_currency_name,
    )

    p = table(spark, sf_dir, "part")
    dec_str = F.col("p_retailprice").cast("decimal(18,2)").cast("string")
    money_str = (
        F.when(F.col("p_partkey") % 4 == 0, F.concat(F.lit("$"), dec_str))
        .when(F.col("p_partkey") % 4 == 1, F.concat(F.lit("£"), dec_str))
        .when(F.col("p_partkey") % 4 == 2, F.concat(F.lit("€ "), dec_str))
        .otherwise(dec_str)
    )
    return (
        p.select("p_partkey", money_str.alias("money_str"))
        .select(
            "p_partkey",
            "money_str",
            money_amount(F.col("money_str")).cast("double").alias("amount"),
            money_currency_name(F.col("money_str")).alias("currency"),
        )
    )


@register(
    "q_e3_ocr_pipeline",
    oracle="""
        SELECT * FROM (VALUES
            ('00000000ffffffff', 'ACME MART #42', NULL,
             TIMESTAMP '2023-03-05 14:07:00', CAST(25.00 AS DOUBLE),
             CAST(23.45 AS DOUBLE), CAST(1.55 AS DOUBLE),
             'US Dollars', 'CASH=$26.00;CHANGE=0.56;Total=$25.00'),
            ('5555555555555555', 'Unknown', NULL,
             CAST(NULL AS TIMESTAMP), CAST(0.00 AS DOUBLE),
             CAST(0.00 AS DOUBLE), CAST(0.00 AS DOUBLE),
             'US Dollars', ''),
            ('80000000ffffffff', 'CORNER CAFE', '12 High Street, London',
             TIMESTAMP '2023-11-02 00:00:00', CAST(18.20 AS DOUBLE),
             CAST(17.00 AS DOUBLE), CAST(1.20 AS DOUBLE),
             'Pound Sterling', 'TABLE=7')
        ) AS t(img_id, vendor_name, receiver_address, receipt_date,
               total, sub_total, tax_amount, currency, other_repr)
    """,
    doc=(
        "Full S6 OCR boundary end-to-end as a driver-checked query "
        "(reference anarcpt/anarcptlib.py:115-142): fixture image bytes → "
        "aHash (dedup key; 4 images collapse to 3 distinct hashes BEFORE "
        "OCR, the reference's hash-then-analyze pipeline order) → "
        "StubBackend AnalyzeExpense via the memoized mapInPandas raw-zone "
        "cache (ocr_with_cache runs TWICE — the second pass must be all "
        "cache hits and add nothing) → from_json → flatten → last-wins "
        "pivot → receipt_summary golden rows keyed by ahash."
    ),
    tags=("receipt", "ocr", "multimodal", "golden"),
    order=("img_id",),
)
def q_e3(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from receiptanalyzerpipeline_spark.multimodal.images import with_ahash
    from receiptanalyzerpipeline_spark.multimodal.ocr import (
        StubBackend,
        ocr_with_cache,
        parse_ocr_documents,
    )
    from receiptanalyzerpipeline_spark.plans.multimodal_queries import images_df
    from receiptanalyzerpipeline_spark.sources.fixtures import (
        RECEIPT_ACME,
        RECEIPT_CAFE,
        RECEIPT_DEGENERATE,
    )

    # Canned AnalyzeExpense responses keyed by the fixture images' aHashes
    # (scan_a and scan_a_copy share 00000000ffffffff — one OCR call serves
    # both). img_id is overridden to the ahash, the engine's natural key.
    responses = {
        "00000000ffffffff": {**RECEIPT_ACME, "img_id": "00000000ffffffff"},
        "80000000ffffffff": {**RECEIPT_CAFE, "img_id": "80000000ffffffff"},
        "5555555555555555": {**RECEIPT_DEGENERATE, "img_id": "5555555555555555"},
    }
    backend = StubBackend(responses)
    cache_path = tempfile.mkdtemp(prefix="q_e3_ocr_raw_zone_") + "/ocr"

    imgs = with_ahash(images_df(spark))
    ocr_with_cache(spark, imgs, cache_path, backend)  # populates the raw zone
    raw = ocr_with_cache(spark, imgs, cache_path, backend)  # pure cache hits
    summary = pivot_receipt_summary(flatten_summary_fields(parse_ocr_documents(raw)))
    return summary.select(
        "img_id",
        "vendor_name",
        "receiver_address",
        "receipt_date",
        F.col("total").cast("double").alias("total"),
        F.col("sub_total").cast("double").alias("sub_total"),
        F.col("tax_amount").cast("double").alias("tax_amount"),
        "currency",
        other_repr(F.col("other_data")).alias("other_repr"),
    )
