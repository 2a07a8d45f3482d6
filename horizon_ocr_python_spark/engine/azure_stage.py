"""C5 at Spark scale: map recorded Azure responses to the page model.

The reference caches every Azure Document Intelligence response
(azure/response_cache.py) and replays the mapping offline. This stage runs
that replay as a DataFrame job: one input row per (url, response-JSON
string), one output row per mapped page — the kernel mapping
(kernel/azure_map.py, doc_intelligence.py:385-658 semantics) inside one
Arrow row map (schema.map_rows), with per-row containment (a malformed
JSON yields a status="error" row, never a dead task).

Scale shape: no shuffle at all — the stage is a pure map over the input
partitioning; only (url, response) ship to Python; output reuses the
engine's LINE/REGION/TABLE struct schemas so downstream queries written
against the native pipeline's pages work unchanged on mapped Azure pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

from .schema import LINE_SCHEMA, REGION_SCHEMA, TABLE_SCHEMA, map_rows

AZURE_PAGE_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("number", IntegerType(), True),
    StructField("width", DoubleType(), True),
    StructField("height", DoubleType(), True),
    StructField("unit", StringType(), True),
    StructField("text_lines", ArrayType(LINE_SCHEMA), True),
    StructField("layout_regions", ArrayType(REGION_SCHEMA), True),
    StructField("tables", ArrayType(TABLE_SCHEMA), True),
    StructField("raw_text", StringType(), True),
    StructField("status", StringType(), False),
    StructField("error", StringType(), True),
])


def _page_rows(url: str, response_json: str) -> list[dict]:
    """Kernel page dicts pass through to AZURE_PAGE_SCHEMA; `map_rows`
    converts them and drops keys without a column, such as the R7 style's
    `handwritten` flag (types.py:118-126 has no slot for it). Only the page
    number, unit and raw text are written here."""
    import json

    from ..kernel import azure_map

    try:
        result = json.loads(response_json)
        if not isinstance(result, dict):
            raise ValueError("analyzeResult must be a JSON object")
        pages = azure_map.map_azure_response(result)
    except Exception as exc:  # noqa: BLE001 — per-row containment
        return [{"url": url, "text_lines": [], "layout_regions": [],
                 "tables": [], "raw_text": "",
                 "status": "error", "error": f"{type(exc).__name__}: {exc}"}]
    return [{
        **p,
        "url": url,
        # clamp to int32: a corrupt recorded pageNumber must yield a
        # bounded value, not an Arrow cast failure outside the
        # containment try (AZURE_PAGE_SCHEMA.number is IntegerType)
        "number": max(0, min(p["number"], 2**31 - 1)),
        # the recorded unit is any JSON value; the column is a string
        "unit": str(p["unit"]),
        # Azure returns lines already in reading order; the reference
        # consumes them as-is (no y-band re-sort on the cloud path)
        "raw_text": "\n".join(tl["text"] for tl in p["text_lines"]),
        "status": "ok",
        "error": "",
    } for p in pages]


def map_recorded_responses(responses: DataFrame,
                           url_col: str = "url",
                           response_col: str = "response") -> DataFrame:
    """Map a table of recorded ``analyzeResult`` JSON strings to pages."""
    return map_rows(responses.select(url_col, response_col),
                    lambda row: _page_rows(row[url_col], row[response_col]),
                    AZURE_PAGE_SCHEMA)
