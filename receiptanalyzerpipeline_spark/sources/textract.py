"""Textract AnalyzeExpense documents as Spark-native nested tables.

The reference's whole pipeline is: OCR response dict → JMESPath projection
→ per-receipt dispatch loop → one wide row (anarcpt/anarcptlib.py:20-78).
Here the same dataflow is three declarative transforms over a deeply
nested DataFrame (schema per FIXTURES.md A1 / reference output.json:1):

    flatten_summary_fields   P1: double unnest + rename, missing → NULL
    pivot_receipt_summary    A1: last-match-wins pivot via max_by(value, pos)
    extract_line_items       F5/F10 replacement: LineItemGroups explode+pivot

All three are pure DataFrame ops — explode/posexplode, conditional
aggregation, regexp casts — so they scale as ordinary shuffles keyed by
img_id and stay inside whole-stage codegen. Nested-schema pruning keeps
the scan reading only the struct leaves each transform touches.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from receiptanalyzerpipeline_spark.functions.dates import parse_receipt_date
from receiptanalyzerpipeline_spark.functions.money import money_amount, money_currency_name
from receiptanalyzerpipeline_spark.functions.text import strip_field_tags


def _geometry() -> StructType:
    return StructType(
        [
            StructField(
                "BoundingBox",
                StructType(
                    [
                        StructField("Width", DoubleType()),
                        StructField("Height", DoubleType()),
                        StructField("Left", DoubleType()),
                        StructField("Top", DoubleType()),
                    ]
                ),
            ),
            StructField(
                "Polygon",
                ArrayType(
                    StructType([StructField("X", DoubleType()), StructField("Y", DoubleType())])
                ),
            ),
        ]
    )


def _detection(with_geometry: bool = True) -> StructType:
    fields = [StructField("Text", StringType()), StructField("Confidence", DoubleType())]
    if with_geometry:
        fields.append(StructField("Geometry", _geometry()))
    return StructType(fields)


# Schema of one AnalyzeExpense response (FIXTURES.md A1; reference output.json:1).
TEXTRACT_SCHEMA = StructType(
    [
        StructField("img_id", StringType(), False),
        StructField("DocumentMetadata", StructType([StructField("Pages", IntegerType())])),
        StructField(
            "ExpenseDocuments",
            ArrayType(
                StructType(
                    [
                        StructField("ExpenseIndex", IntegerType()),
                        StructField(
                            "SummaryFields",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("PageNumber", IntegerType()),
                                        StructField("Type", _detection(with_geometry=False)),
                                        StructField("LabelDetection", _detection()),
                                        StructField("ValueDetection", _detection()),
                                    ]
                                )
                            ),
                        ),
                        StructField(
                            "LineItemGroups",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("LineItemGroupIndex", IntegerType()),
                                        StructField(
                                            "LineItems",
                                            ArrayType(
                                                StructType(
                                                    [
                                                        StructField(
                                                            "LineItemExpenseFields",
                                                            ArrayType(
                                                                StructType(
                                                                    [
                                                                        StructField(
                                                                            "PageNumber",
                                                                            IntegerType(),
                                                                        ),
                                                                        StructField(
                                                                            "Type",
                                                                            _detection(
                                                                                with_geometry=False
                                                                            ),
                                                                        ),
                                                                        StructField(
                                                                            "ValueDetection",
                                                                            _detection(),
                                                                        ),
                                                                    ]
                                                                )
                                                            ),
                                                        ),
                                                    ]
                                                )
                                            ),
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def flatten_summary_fields(raw: DataFrame) -> DataFrame:
    """P1: the JMESPath double-unnest as explode+explode, with ``pos``
    preserving document order for last-wins pivot parity (SURVEY §7.3.2).

    Missing LabelDetection → NULL columns natively (vs JMESPath's None).
    """
    return (
        raw.select("img_id", F.explode("ExpenseDocuments").alias("doc"))
        .select("img_id", F.posexplode("doc.SummaryFields").alias("pos", "f"))
        .select(
            "img_id",
            "pos",
            F.col("f.Type.Text").alias("TypeText"),
            F.col("f.Type.Confidence").alias("TypeConfidence"),
            F.col("f.LabelDetection.Text").alias("LabelText"),
            F.col("f.LabelDetection.Confidence").alias("LabelConfidence"),
            F.col("f.ValueDetection.Text").alias("ValueText"),
            F.col("f.ValueDetection.Confidence").alias("ValueConfidence"),
        )
    )


def pivot_receipt_summary(kv: DataFrame) -> DataFrame:
    """A1: N summary-field rows → one receipt_summary row per img_id.

    Reference semantics (anarcpt/anarcptlib.py:44-78), reproduced exactly:

    - dispatch on TypeText (TOTAL also matches on LabelText == 'Total');
    - the *value* column is always ValueText (cleaned), even for the
      label-match case (:51,64-68);
    - last match in document order wins → ``max_by(value, pos)``;
    - OTHER rows with truthy ValueText fold into the other_data map;
    - defaults: vendor 'Unknown', money 0, currency 'US Dollars'
      (models.py:10-16); receipt_date NULL when unparseable (§7.4).
    """
    return kv.groupBy("img_id").agg(*_summary_aggs())


# The aggregate lists below are built once per process: a receipt
# micro-batch would otherwise rebuild the same Column trees, about 1,770
# py4j round trips (1,483 of them for the summary aggregates). Sharing them
# is safe because PySpark keeps one JVM gateway per process
# (SparkContext._gateway outlives any one context) and a classic Column of
# built-in functions is an unresolved expression, tied to no session or
# plan. A Python UDF column is not (multimodal.images.ahash_column).
@functools.cache
def _summary_aggs() -> tuple[Column, ...]:
    cleaned = F.trim(F.regexp_replace(F.col("ValueText"), r"[$£€]", ""))

    def last_wins(cond, value):
        return F.max_by(F.when(cond, value), F.when(cond, F.col("pos")))

    # Reference dispatch iterates the elif chain once per (key, value) PAIR
    # of each field dict (anarcptlib.py:48-49: ``for key, value in
    # rcpt_dict.items()``) — the TypeText pair and the LabelText pair
    # dispatch independently. So a row with LabelText == 'Total' sets
    # ``total`` REGARDLESS of its TypeText (which additionally feeds its own
    # branch: SUBTOTAL also sets sub_total, OTHER also folds into
    # other_data). The disjunction below reproduces that exactly.
    is_total = (F.col("TypeText") == "TOTAL") | (F.col("LabelText") == "Total")
    money_cols = {
        "total": is_total,
        "sub_total": F.col("TypeText") == "SUBTOTAL",
        "tax_amount": F.col("TypeText") == "TAX",
    }
    # Null labels can't key a Spark map (reference would key a Python dict
    # with None — documented divergence, SURVEY §7.4).
    is_other = (
        (F.col("TypeText") == "OTHER")
        & F.col("LabelText").isNotNull()
        & F.col("ValueText").isNotNull()
        & (F.col("ValueText") != "")
    )
    is_money = money_cols["total"] | money_cols["sub_total"] | money_cols["tax_amount"]

    return (
        F.coalesce(
            last_wins(F.col("TypeText") == "VENDOR_NAME", cleaned), F.lit("Unknown")
        ).alias("vendor_name"),
        last_wins(F.col("TypeText") == "RECEIVER_ADDRESS", cleaned).alias("receiver_address"),
        last_wins(
            F.col("TypeText") == "INVOICE_RECEIPT_DATE", parse_receipt_date(F.col("ValueText"))
        ).alias("receipt_date"),
        *[
            F.coalesce(last_wins(cond, money_amount(F.col("ValueText"))), F.lit(0))
            .cast("decimal(18,2)")
            .alias(name)
            for name, cond in money_cols.items()
        ],
        # Currency: last money field carrying a recognizable symbol wins;
        # default 'US Dollars' (divergence §7.4: £/€ map to real names).
        F.coalesce(
            last_wins(
                is_money & money_currency_name(F.col("ValueText"), default=None).isNotNull(),
                money_currency_name(F.col("ValueText"), default=None),
            ),
            F.lit("US Dollars"),
        ).alias("currency"),
        _other_data_map(is_other).alias("other_data"),
    )


def _other_data_map(is_other):
    """OTHER rows → map, duplicate labels resolved last-in-document-order
    (the reference's dict-overwrite fold, anarcptlib.py:71-76).

    map_from_entries raises on duplicate keys, so entries are sorted by
    (label, pos) and filtered to the last occurrence per label first.
    """
    entries = F.array_sort(
        F.collect_list(
            F.when(is_other, F.struct(F.col("LabelText"), F.col("pos"), F.col("ValueText")))
        )
    )
    last_per_label = F.filter(
        entries,
        lambda x, i: (i == F.size(entries) - 1)
        | (F.get(entries, i + 1)["LabelText"] != x["LabelText"]),
    )
    return F.map_from_entries(
        F.transform(last_per_label, lambda x: F.struct(x["LabelText"], x["ValueText"]))
    )


def extract_line_items(raw: DataFrame) -> DataFrame:
    """Line items straight from LineItemGroups — replaces the reference's
    pretty-print→CSV→re-parse round-trip (F10/F5, anarcptlib.py:81-108).

    Per line item: pivot LineItemExpenseFields on Type.Text; defaults per
    models.py:27-29 — item 'Unknown', price 0, quantity 1 (an unparseable
    quantity like ``"F 1"`` falls back to 1 via try_cast NULL → coalesce).
    """
    fields = (
        raw.select("img_id", F.explode("ExpenseDocuments").alias("doc"))
        .select("img_id", F.explode("doc.LineItemGroups").alias("g"))
        .select("img_id", F.posexplode("g.LineItems").alias("line_idx", "item"))
        .select(
            "img_id",
            (F.col("line_idx") + 1).alias("line_no"),
            F.explode("item.LineItemExpenseFields").alias("f"),
        )
        .select(
            "img_id",
            "line_no",
            F.col("f.Type.Text").alias("ftype"),
            F.col("f.ValueDetection.Text").alias("fvalue"),
        )
    )

    return fields.groupBy("img_id", "line_no").agg(*_item_aggs())


@functools.cache
def _item_aggs() -> tuple[Column, ...]:
    def first_of(ftype: str):
        return F.min(F.when(F.col("ftype") == ftype, F.col("fvalue")))

    return (
        F.coalesce(strip_field_tags(first_of("ITEM")), F.lit("Unknown")).alias("item_name"),
        F.coalesce(money_amount(first_of("PRICE")), F.lit(0))
        .cast("decimal(18,2)")
        .alias("price"),
        # try_cast: ANSI-safe — "F 1" → NULL → default 1 (the reference reaches
        # the same default via its broad except, anarcptlib.py:99-106).
        F.coalesce(F.trim(first_of("QUANTITY")).try_cast("int"), F.lit(1)).alias("quantity"),
    )
