"""The fused extraction stage: pages DataFrame -> documents DataFrame.

One Arrow row map (`schema.map_rows`) runs the whole kernel pipeline
(parse -> boilerplate strip -> reading order -> KIE -> fuse -> validate)
per document, so page payloads never cross a stage boundary (SURVEY §4
custom-work 2: Catalyst cannot fuse across two Python UDF stages without
serializing the intermediate).

Vectorization pattern (SURVEY §2.4 O2): the per-document Python loop lives
*inside* the Arrow batch — Spark hands over Arrow record batches of
`arrow.maxRecordsPerBatch` rows and the output batch is built once from
the row dicts; there is no Spark-row-at-a-time Python and no pandas hop.
Error containment is per row (status/error columns, types.py:317-323) —
a poisoned document must not kill a 10^12-row task.
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.document import extract_document
from .checkpoint import content_key
from .schema import DOCUMENT_SCHEMA, map_rows


def _bbox_dict(bbox) -> dict | None:
    if bbox is None:
        return None
    return {"x1": float(bbox[0]), "y1": float(bbox[1]),
            "x2": float(bbox[2]), "y2": float(bbox[3])}


def _validator_row(r: dict) -> dict:
    """ValidatorResult (types.py:210-216): name/passed/message + the parse
    outputs (parsed_value, normalized, format_used, ...) as the stringified
    details map the reference carries."""
    return {
        "name": r["name"],
        "passed": bool(r["passed"]),
        "message": r.get("message"),
        "details": {k: str(v) for k, v in r.items()
                    if k not in ("name", "passed", "message") and v is not None},
    }


def _field_row(f: dict) -> dict:
    return {
        "name": f["name"],
        "value": str(f["value"]) if f["value"] is not None else None,
        "normalized_value": (str(f["normalized_value"])
                             if f.get("normalized_value") is not None else None),
        "data_type": f["data_type"],
        "confidence": float(f["confidence"]),
        "status": f["status"],
        "chosen_source": f.get("chosen_source"),
        "page": int(f["page"]) if f.get("page") is not None else None,
        "bbox": _bbox_dict(f.get("bbox")),
        "candidates": [{
            "source": c.get("source"),
            "value": str(c["value"]) if c.get("value") is not None else None,
            "confidence": float(c.get("confidence", 0.0)),
            "page": int(c["page"]) if c.get("page") is not None else None,
            "bbox": _bbox_dict(c.get("bbox")),
        } for c in f.get("candidates", [])],
        "n_candidates": len(f.get("candidates", [])),
        "validators": [_validator_row(r) for r in f.get("validators", [])],
    }


def _page_row(p: dict) -> dict:
    md = p.get("metadata") or {}
    return {
        "number": int(p["number"]),
        "width": int(md.get("width", 0)),
        "height": int(md.get("height", 0)),
        "dpi": int(md["dpi"]) if md.get("dpi") is not None else None,
        "content_type": md.get("content_type"),
        "readability": md.get("readability"),
        "readability_issues": list(md.get("readability_issues", [])),
        "layout_regions": [{
            "type": r.get("type"),
            "index": int(r["index"]) if r.get("index") is not None else None,
            "bbox": _bbox_dict(r.get("bbox")),
            "confidence": float(r.get("confidence", 1.0)),
        } for r in p.get("layout_regions", [])],
        "text_lines": [{
            "text": tl.get("text"),
            "bbox": _bbox_dict(tl.get("bbox")),
            "font_size": (float(tl["font_size"])
                          if tl.get("font_size") is not None else None),
            "confidence": (float(tl["confidence"])
                           if tl.get("confidence") is not None else None),
            "source": tl.get("source"),
            "content_type": tl.get("content_type"),
            "words": [{
                "text": w.get("text"),
                "bbox": _bbox_dict(w.get("bbox")),
                "confidence": float(w.get("confidence", 1.0)),
                # words inherit their line's source/content_type
                # (types.py:129-135)
                "source": w.get("source", tl.get("source")),
                "content_type": w.get("content_type", tl.get("content_type")),
            } for w in tl.get("words", [])],
            "style": style_row(tl.get("style")),
        } for tl in p.get("text_lines", [])],
        "tables": [_table_row(t) for t in p.get("tables", [])],
        "raw_text": p.get("raw_text", ""),
    }


def style_row(style: dict | None) -> dict | None:
    """TextStyle dict -> STYLE_SCHEMA row — THE single projection, shared by
    the native page rows and the Azure replay stage (engine/azure_stage.py)
    so the two paths cannot silently diverge. Extra kernel keys (e.g. the
    Azure `handwritten` flag, which types.py:118-126 has no slot for) are
    dropped here."""
    if not style:
        return None
    return {
        "font_name": style.get("font_name"),
        "font_size": (float(style["font_size"])
                      if style.get("font_size") is not None else None),
        "bold": bool(style.get("bold", False)),
        "italic": bool(style.get("italic", False)),
        "color": style.get("color"),
        "source": style.get("source"),
        "confidence": float(style.get("confidence", 0.5)),
    }



def _table_row(t: dict) -> dict:
    """Table dict -> TABLE_SCHEMA row (rich cells + expanded grid)."""
    return {
        "rows": t.get("rows", []),
        "cells": [{
            "row": int(c.get("row", 0)), "col": int(c.get("col", 0)),
            "row_span": int(c.get("row_span", 1)),
            "col_span": int(c.get("col_span", 1)),
            "text": c.get("text"),
            "is_header": bool(c.get("is_header", False)),
            "bbox": _bbox_dict(c.get("bbox")),
        } for c in t.get("cells", [])],
        "n_rows": int(t.get("n_rows", len(t.get("rows", [])))),
        "n_cols": int(t.get("n_cols",
                            max((len(r) for r in t.get("rows", [])),
                                default=0))),
    }

# public aliases for sibling stages (engine/azure_stage.py reuses the same
# row shapes; no cross-module private use)
bbox_row = _bbox_dict
table_row = _table_row


def _reconstruction_row(rec: dict | None) -> dict | None:
    if not rec:
        return None
    return {
        "version": rec.get("version"),
        "pages": [{"page": int(p["page"]), "width": int(p["width"]),
                   "height": int(p["height"])} for p in rec.get("pages", [])],
        "elements": [{
            "type": e.get("type"), "page": int(e.get("page", 1)),
            "text": e.get("text"),
            "x": float(e.get("x", 0.0)), "y": float(e.get("y", 0.0)),
            "width": float(e.get("width", 0.0)),
            "height": float(e.get("height", 0.0)),
            "font_size": (float(e["font_size"])
                          if e.get("font_size") is not None else None),
            "bold": bool(e.get("bold", False)),
        } for e in rec.get("elements", [])],
        "tables": [{
            "page": int(t.get("page", 1)),
            "rows": int(t.get("rows", 0)),
            "cols": int(t.get("cols", 0)),
            "cells": [{"row": int(c["row"]), "col": int(c["col"]),
                       "text": c.get("text")} for c in t.get("cells", [])],
        } for t in rec.get("tables", [])],
        "fields_summary": {str(k): (str(v) if v is not None else None)
                           for k, v in (rec.get("fields_summary") or {}).items()},
    }


def _normalized_row(n: dict | None) -> dict | None:
    if not n:
        return None

    def item(it):
        ev = it.get("_evidence") or {}
        return {
            "values": {str(k): (str(v) if v is not None else None)
                       for k, v in (it.get("values") or {}).items()},
            "_evidence": {
                "table_id": ev.get("table_id"),
                "cell_refs": [{"row": int(c["row"]), "col": int(c["col"])}
                              for c in ev.get("cell_refs", [])],
                "page": int(ev.get("page", 1)),
            },
        }

    return {
        "document_type": n.get("document_type"),
        "header": {str(k): (str(v) if v is not None else None)
                   for k, v in (n.get("header") or {}).items()},
        "line_items": [item(it) for it in n.get("line_items", [])],
        "totals": {str(k): (str(v) if v is not None else None)
                   for k, v in (n.get("totals") or {}).items()},
        "line_items_secondary": [item(it) for it
                                 in n.get("line_items_secondary", [])],
    }


def _doc_to_row(url, warc_ts, lang, doc: dict, content_key: str,
                partition_id: int, extract_ms: float) -> dict:
    fields = [_field_row(f) for f in doc.get("fields", [])]
    v = doc.get("validation") or {}
    pages = doc.get("pages") or []
    blocks_total = sum(len(p["layout_regions"]) for p in pages)
    content_total = sum(len(p["text_lines"]) for p in pages)
    return {
        "url": url,
        "doc_id": doc["id"],
        "content_key": content_key,
        "status": doc["status"],
        "error": doc.get("error", ""),
        "file_type": doc["metadata"].get("file_type", "unknown"),
        "warc_ts": warc_ts,
        "lang": lang,
        "title": doc.get("title", ""),
        "raw_text": doc.get("raw_text", ""),
        "n_chars": len(doc.get("raw_text", "")),
        "n_blocks": blocks_total,
        "n_content_blocks": content_total,
        "page_count": int(doc.get("page_count", len(pages))),
        "pages": [_page_row(p) for p in pages],
        "fields": fields,
        "tables": [_table_row(t) for t in doc.get("tables", [])],
        "validation": {
            "passed": bool(v.get("passed", True)),
            "total_checks": int(v.get("total_checks", 0)),
            "passed_checks": int(v.get("passed_checks", 0)),
            "failed_checks": int(v.get("failed_checks", 0)),
            "issues": list(v.get("issues", [])),
        },
        "reconstruction": _reconstruction_row(doc.get("reconstruction")),
        "normalized": _normalized_row(doc.get("normalized")),
        "partition_id": partition_id,
        "extract_ms": extract_ms,
    }


_SHIPPED = ("url", "warc_ts", "html", "lang", "content_key")


def _make_extract_fn(config: Optional[dict] = None):
    """Build the per-row body with the (broadcastable) config dict
    baked into the closure — the C7 contract: executors see a plain dict,
    never driver-side dataclasses. The FULL resolved config reaches the
    kernel (fusion.*, thresholds.*, extraction.*), so HSP_* env overrides
    never silently no-op."""

    def _extract_row(row: dict):
        ctx = TaskContext.get()
        t0 = time.perf_counter()
        doc = extract_document(row["url"], row["html"] or b"",
                               row["warc_ts"], row["lang"], config=config)
        ms = (time.perf_counter() - t0) * 1000.0
        yield _doc_to_row(row["url"], row["warc_ts"], row["lang"], doc,
                          row["content_key"],
                          ctx.partitionId() if ctx is not None else -1, ms)

    return _extract_row


def extract_stage(pages: DataFrame, config: Optional[dict] = None) -> DataFrame:
    """Run the fused extraction stage over a pages DataFrame.

    `config` is an EngineConfig.to_dict() (kernel.config) — currently the
    fusion strategy reaches the kernel; omitted -> reference defaults.

    Column pruning: only (url, warc_ts, html, lang) are shipped to Python —
    the ground-truth `text` column (test-only) is never read here, so the
    parquet scan prunes it (check ReadSchema in .explain). The resume key
    rides along: a `content_key` column already on the rows (the resume
    filter's, computed before the shuffle) is shipped as is, otherwise
    `checkpoint.content_key(html)` is computed JVM-side here.
    """
    if "content_key" not in pages.columns:
        pages = pages.withColumn("content_key", content_key(F.col("html")))
    # Input column order, so the select only prunes and sinks below the
    # caller's shuffle: AQE replaces a Project over an empty shuffle along
    # with the stage below, losing run_extraction's input Observation.
    shipped = [c for c in pages.columns if c in _SHIPPED]
    return map_rows(pages.select(*shipped), _make_extract_fn(config),
                    DOCUMENT_SCHEMA)


def with_json_output(documents: DataFrame) -> DataFrame:
    """S5 JSON sink (orchestrator.py:1374-1412): one JSON document per row,
    rendered JVM-side with F.to_json over the nested struct — the per-doc
    serialization the reference writes to output/*.json, as a column.

    Top-level keys match JSON_SCHEMA.md:5-18 (id, metadata, page_count,
    pages, tables, fields, validation) plus the embedded flat
    reconstruction_prompt block the reference adds at save time
    (orchestrator.py:1387-1391); status/error carry the per-row containment
    verdict (types.py:317-323)."""
    from pyspark.sql import functions as F

    doc_struct = F.struct(
        F.col("doc_id").alias("id"),
        F.struct(
            F.col("url"), F.col("file_type"), F.col("lang"),
            F.col("warc_ts").cast("string").alias("processed_at"),
        ).alias("metadata"),
        F.col("page_count"), F.col("pages"),
        F.col("title"), F.col("raw_text"),
        F.col("fields"), F.col("tables"), F.col("validation"),
        F.col("normalized"),
        F.col("reconstruction").alias("reconstruction_prompt"),
        F.col("status"), F.col("error"),
    )
    return documents.withColumn("json", F.to_json(doc_struct))


def extracted_metrics(documents: DataFrame,
                      snapshot_id: Optional[int] = None) -> DataFrame:
    """Per-partition lineage/metrics table (SURVEY §4 custom-work 3):
    (partition_id, n_docs, n_ok, n_err, wall_ms, snapshot_id).

    Pure relational aggregation over the stage output — one map-side-combined
    groupBy, no extra pass over the payloads.
    """
    from pyspark.sql import functions as F

    return (documents.groupBy("partition_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("n_err"),
        F.sum("extract_ms").alias("wall_ms"),
    ).withColumn("snapshot_id", F.lit(snapshot_id).cast("long")))
