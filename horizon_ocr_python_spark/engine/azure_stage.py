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


def _line_row(tl: dict) -> dict:
    from .extract import bbox_row, style_row

    return {
        "text": tl.get("text"),
        "bbox": bbox_row(tl.get("bbox")),
        "font_size": None,
        "confidence": float(tl.get("confidence", 0.9)),
        "source": tl.get("source"),
        "content_type": tl.get("content_type"),
        "words": [{
            "text": w.get("text"),
            "bbox": bbox_row(w.get("bbox")),
            "confidence": float(w.get("confidence", 0.0)),
            "source": w.get("source"),
            "content_type": w.get("content_type"),
        } for w in tl.get("words", [])],
        # R7 styles (applied by the kernel when the response carries
        # styles[] + content) project through the SHARED extract.style_row
        # — the `handwritten` flag has no STYLE_SCHEMA slot (types.py:
        # 118-126 has none either; Azure's flag lives only in styles[])
        "style": style_row(tl.get("style")),
    }


def _page_rows(url: str, response_json: str) -> list[dict]:
    import json

    from ..kernel import azure_map
    from .extract import bbox_row, table_row

    try:
        result = json.loads(response_json)
        if not isinstance(result, dict):
            raise ValueError("analyzeResult must be a JSON object")
        pages = azure_map.map_azure_response(result)
    except Exception as exc:  # noqa: BLE001 — per-row containment
        return [{"url": url, "number": None, "width": None, "height": None,
                 "unit": None, "text_lines": [], "layout_regions": [],
                 "tables": [], "raw_text": "",
                 "status": "error", "error": f"{type(exc).__name__}: {exc}"}]
    rows = []
    for p in pages:
        lines = p.get("text_lines") or []
        rows.append({
            "url": url,
            # clamp to int32: a corrupt recorded pageNumber must yield a
            # bounded value, not an Arrow cast failure outside the
            # containment try (AZURE_PAGE_SCHEMA.number is IntegerType)
            "number": max(0, min(int(p.get("number", 1)), 2**31 - 1)),
            "width": float(p.get("width") or 0.0),
            "height": float(p.get("height") or 0.0),
            "unit": (str(p["unit"]) if p.get("unit") is not None
                     else None),
            "text_lines": [_line_row(tl) for tl in lines],
            "layout_regions": [{
                "type": r.get("type"), "index": None,
                "bbox": bbox_row(r.get("bbox")),
                "confidence": float(r.get("confidence", 0.95)),
            } for r in p.get("layout_regions") or []],
            "tables": [table_row(t) for t in p.get("tables") or []],
            # Azure returns lines already in reading order; the reference
            # consumes them as-is (no y-band re-sort on the cloud path)
            "raw_text": "\n".join(tl.get("text") or "" for tl in lines),
            "status": "ok",
            "error": "",
        })
    return rows


def map_recorded_responses(responses: DataFrame,
                           url_col: str = "url",
                           response_col: str = "response") -> DataFrame:
    """Map a table of recorded ``analyzeResult`` JSON strings to pages."""
    return map_rows(responses.select(url_col, response_col),
                    lambda row: _page_rows(row[url_col], row[response_col]),
                    AZURE_PAGE_SCHEMA)
