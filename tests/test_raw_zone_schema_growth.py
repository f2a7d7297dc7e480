"""The raw zone survives OCR response-format growth and bad rows.

The raw zone stores each AnalyzeExpense response as a ``doc_json`` string
(multimodal/ocr.py OCR_RESULT_SCHEMA) and applies TEXTRACT_SCHEMA only on
read, in ``parse_ocr_documents``. So a response that grows unknown fields
must curate exactly like the original, and a corrupt document or an OCR
error row must yield no curated rows without failing the batch."""

from __future__ import annotations

import copy
import json

from receiptanalyzerpipeline_spark.multimodal.ocr import (
    OCR_RESULT_SCHEMA,
    parse_ocr_documents,
)
from receiptanalyzerpipeline_spark.sources.fixtures import RECEIPT_ACME
from receiptanalyzerpipeline_spark.sources.textract import (
    extract_line_items,
    flatten_summary_fields,
    pivot_receipt_summary,
)


def _grown(doc: dict) -> dict:
    """``doc`` with unknown fields added at the top level and nested in a
    summary field and a line-item field."""
    grown = copy.deepcopy(doc)
    grown["NewTextractSection"] = {"Blocks": [{"Id": "b1", "Score": 0.5}]}
    expense = grown["ExpenseDocuments"][0]
    expense["SummaryFields"][0]["FutureField"] = ["x", "y"]
    expense["LineItemGroups"][0]["LineItems"][0]["LineItemExpenseFields"][0]["Extra"] = {
        "Kind": "new"
    }
    return grown


def _by_img(df) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in df.collect():
        d = r.asDict()
        out.setdefault(d.pop("img_id"), []).append(d)
    return {k: sorted(v, key=repr) for k, v in out.items()}


def test_parse_ocr_documents_survives_schema_growth_and_corruption(spark):
    raw = spark.createDataFrame(
        [
            ("orig", json.dumps({**RECEIPT_ACME, "img_id": "orig"}), None),
            ("grown", json.dumps({**_grown(RECEIPT_ACME), "img_id": "grown"}), None),
            ("corrupt", "{not json at all", None),
            ("error", None, "ThrottlingException: rate exceeded"),
        ],
        OCR_RESULT_SCHEMA,
    )
    docs = parse_ocr_documents(raw)
    summary = _by_img(pivot_receipt_summary(flatten_summary_fields(docs)))
    items = _by_img(extract_line_items(docs))

    # The corrupt row and the error row curate to nothing.
    assert set(summary) == {"orig", "grown"}
    assert set(items) == {"orig", "grown"}
    # The grown document curates exactly like the original.
    assert summary["grown"] == summary["orig"]
    assert items["grown"] == items["orig"]
    assert len(summary["orig"]) == 1
    assert len(items["orig"]) == 2
