"""C5/R7: Azure Document Intelligence RESPONSE MAPPING (local, no cloud).

The reference's Azure provider has two separable halves: the transport
(C4 — REST calls, polling, auth; cloud-scoped out per SURVEY §7.1) and the
RESPONSE MAPPING (C5 — azure/doc_intelligence.py:385-658) plus the
offset-interval style map (R7 — extract/pdf_style_extractor.py:261-343),
which are pure functions over the recorded ``analyzeResult`` JSON. A user
holding cached Azure responses (the reference caches them,
azure/response_cache.py) can run THIS mapping at Spark scale with no cloud
account: one row per (url, response-json), mapped to the same page model
the native pipeline emits.

Wire shape: the REST ``analyzeResult`` camelCase dict — ``pages[]`` with
``lines[] {content, polygon, spans[{offset,length}]}`` and ``words[]
{content, polygon, span{offset,length}, confidence}``, ``tables[]`` with
``cells[] {rowIndex, columnIndex, rowSpan, columnSpan, kind, content,
boundingRegions}``, ``paragraphs[] {role, content, boundingRegions}``,
``styles[] {spans[], fontWeight, fontStyle, isHandwritten}``.
"""

from __future__ import annotations

from typing import Any, Optional

# Azure paragraph role -> layout region type
# (azure/doc_intelligence.py:40-47 _ROLE_MAP; default TEXT)
ROLE_MAP = {
    "title": "title",
    "sectionHeading": "title",
    "pageHeader": "header",
    "pageFooter": "footer",
    "pageNumber": "page_number",
    "footnote": "footer",
}

# cell kinds that mark a header cell (doc_intelligence.py:490-494)
HEADER_KINDS = ("columnheader", "rowheader", "stubhead")

SOURCE = "azure_doc_intelligence"


def _int(v, default: int = 0) -> int:
    """Tolerant int for recorded-JSON fields: null/absent/garbage ->
    default (recorded responses are data, not SDK-typed objects — a
    malformed field must not kill a 100 TB mapping job)."""
    try:
        return int(v)
    except (TypeError, ValueError):
        return default


def _int32(v, default: int = 0) -> int:
    """`_int` clamped into int32: the engine's table schemas store cell
    positions and spans as IntegerType, and one corrupt recorded value
    must not fail the Arrow conversion of a whole replay batch."""
    return max(-2**31, min(_int(v, default), 2**31 - 1))


def _float(v, default: float = 0.0) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return default


def _str(v) -> str:
    """Tolerant text field: null -> "", non-string JSON values stringified
    (they must not poison a downstream Arrow string column)."""
    return "" if v is None else str(v)


def _scale(page_w: float, page_h: float, target_w: Optional[float],
           target_h: Optional[float]) -> tuple[float, float]:
    """Azure-unit-space -> pixel-space scale factors
    (doc_intelligence.py:585-586, 617-618): identity unless target dims are
    given (Azure reports inches for PDFs, pixels for images)."""
    sx = (target_w / page_w) if (target_w and page_w) else 1.0
    sy = (target_h / page_h) if (target_h and page_h) else 1.0
    return sx, sy


def bbox_from_polygon(flat: Optional[list], sx: float = 1.0,
                      sy: float = 1.0) -> Optional[tuple]:
    """Envelope bbox of Azure's flat [x1,y1,x2,y2,...] polygon
    (doc_intelligence.py:567-592 polygon + :421 poly.bounding_box)."""
    if not isinstance(flat, (list, tuple)) or len(flat) < 4:
        return None
    xs = [_float(flat[i]) * sx for i in range(0, len(flat) - 1, 2)]
    ys = [_float(flat[i]) * sy for i in range(1, len(flat), 2)]
    return (min(xs), min(ys), max(xs), max(ys))


def bbox_from_regions(regions: Optional[list], sx: float = 1.0,
                      sy: float = 1.0) -> tuple:
    """First bounding region's polygon envelope, unit default
    (doc_intelligence.py:594-628: missing/short polygon -> (0,0,1,1))."""
    regions = _dicts(regions)
    if not regions:
        return (0.0, 0.0, 1.0, 1.0)
    box = bbox_from_polygon(regions[0].get("polygon"), sx, sy)
    return box if box is not None else (0.0, 0.0, 1.0, 1.0)


def _dicts(items) -> list:
    """Dict elements of a recorded-JSON array (null/str/junk elements are
    data to skip, not a reason to kill the document)."""
    if not isinstance(items, (list, tuple)):
        return []
    return [it for it in items if isinstance(it, dict)]


def _clamp01(v: float) -> float:
    return min(max(_float(v), 0.0), 1.0)


def map_azure_lines(azure_page: Optional[dict],
                    target_w: Optional[float] = None,
                    target_h: Optional[float] = None) -> list[dict]:
    """Azure ``DocumentPage.lines + words`` -> kernel text-line dicts
    (doc_intelligence.py:385-462):

    - a word belongs to a line iff line_start <= word.span.offset < line_end
      (first line span only, :440-448)
    - line confidence = average word confidence, default 0.9 when the line
      matched no words (:412-414), clamped to [0, 1]
    - bbox = polygon envelope; missing polygon -> (0,0,1,1)
    - source/content_type fixed: azure_doc_intelligence / printed
    """
    if azure_page is None:
        return []
    page_w = _float(azure_page.get("width"))
    page_h = _float(azure_page.get("height"))
    sx, sy = _scale(page_w, page_h, target_w, target_h)
    page_num = _int(azure_page.get("pageNumber"), 1)
    words = _dicts(azure_page.get("words"))

    out = []
    for line in _dicts(azure_page.get("lines")):
        bbox = bbox_from_polygon(line.get("polygon"), sx, sy) \
            or (0.0, 0.0, 1.0, 1.0)
        spans = _dicts(line.get("spans"))
        matched = []
        if spans:
            start = _int(spans[0].get("offset"))
            end = start + _int(spans[0].get("length"))
            for w in words:
                span = w.get("span")
                if (isinstance(span, dict)
                        and start <= _int(span.get("offset"), -1) < end):
                    wbox = bbox_from_polygon(w.get("polygon"), sx, sy) \
                        or (0.0, 0.0, 1.0, 1.0)
                    matched.append({
                        "text": _str(w.get("content")),
                        "bbox": wbox,
                        "confidence": _clamp01(w.get("confidence") or 0.0),
                        "source": SOURCE,
                        "content_type": "printed",
                    })
        confs = [w["confidence"] for w in matched] if matched else [0.9]
        out.append({
            "text": _str(line.get("content")),
            "page": page_num,
            "bbox": bbox,
            "font_size": None,
            "words": matched,
            "confidence": _clamp01(sum(confs) / len(confs)),
            "source": SOURCE,
            "content_type": "printed",
            "style": None,
        })
    return out


def map_azure_tables(azure_tables: Optional[list], page_num: int,
                     target_w: Optional[float] = None,
                     target_h: Optional[float] = None,
                     page_w: float = 0.0, page_h: float = 0.0) -> list[dict]:
    """Azure ``DocumentTable`` list -> kernel table dicts
    (doc_intelligence.py:466-521): header iff cell.kind in
    columnheader/rowheader/stubhead (case-insensitive), spans default 1,
    fixed confidence 0.95 (Azure gives no per-cell confidence)."""
    sx, sy = _scale(page_w, page_h, target_w, target_h)
    out = []
    for at in _dicts(azure_tables):
        cells = []
        for ac in _dicts(at.get("cells")):
            cells.append({
                "row": _int32(ac.get("rowIndex")),
                "col": _int32(ac.get("columnIndex")),
                "row_span": _int32(ac.get("rowSpan"), 1) or 1,
                "col_span": _int32(ac.get("columnSpan"), 1) or 1,
                "text": _str(ac.get("content")),
                "bbox": bbox_from_regions(ac.get("boundingRegions"), sx, sy),
                "confidence": 0.95,
                "source": SOURCE,
                "is_header": str(ac.get("kind") or "").lower() in HEADER_KINDS,
                "page": page_num,
            })
        n_rows = max(0, _int(at.get("rowCount")))
        n_cols = max(0, _int(at.get("columnCount")))
        if max(n_rows, 1) * max(n_cols, 1) > 1_000_000:
            # corrupt declared dims must not allocate an absurd grid, and
            # each dimension is bounded on its own (columnCount 0 must not
            # let rowCount through): degrade to the observed-cell envelope,
            # hard-capped (Azure's real tables are orders of magnitude
            # below either bound)
            n_rows = min(n_rows,
                         max((c["row"] for c in cells), default=-1) + 1,
                         10_000)
            n_cols = min(n_cols,
                         max((c["col"] for c in cells), default=-1) + 1, 100)
        rows: list[list[str]] = [[""] * n_cols for _ in range(n_rows)]
        for c in cells:
            if 0 <= c["row"] < n_rows and 0 <= c["col"] < n_cols:
                rows[c["row"]][c["col"]] = c["text"]
        out.append({
            "cells": cells, "n_rows": n_rows, "n_cols": n_cols,
            "rows": rows, "page": page_num,
            "bbox": bbox_from_regions(at.get("boundingRegions"), sx, sy),
            "confidence": 0.95, "has_borders": True,
        })
    return out


def map_azure_paragraphs(paragraphs: Optional[list], page_num: int,
                         target_w: Optional[float] = None,
                         target_h: Optional[float] = None,
                         page_w: float = 0.0,
                         page_h: float = 0.0) -> list[dict]:
    """Azure ``DocumentParagraph`` list -> layout-region dicts
    (doc_intelligence.py:525-562): role -> ROLE_MAP (default text),
    fixed confidence 0.95."""
    sx, sy = _scale(page_w, page_h, target_w, target_h)
    out = []
    for para in _dicts(paragraphs):
        role = str(para.get("role") or "").strip()
        out.append({
            "type": ROLE_MAP.get(role, "text"),
            "bbox": bbox_from_regions(para.get("boundingRegions"), sx, sy),
            "page": page_num,
            "confidence": 0.95,
            "text": _str(para.get("content")),
        })
    return out


def _for_page(items: Optional[list], page_num: int) -> list:
    """Items whose boundingRegions mention the page
    (doc_intelligence.py:630-658)."""
    return [it for it in _dicts(items)
            if any(_int(r.get("pageNumber")) == page_num
                   for r in _dicts(it.get("boundingRegions")))]


def map_azure_response(result: dict,
                       target_dims: Optional[dict[int, tuple]] = None
                       ) -> list[dict]:
    """Full ``analyzeResult`` -> one kernel page dict per Azure page
    (the C5 mapping the orchestrator consumes): text_lines, tables and
    layout regions filtered per page, coordinates optionally rescaled into
    pixel space via ``target_dims[page_number] = (w, h)``."""
    pages = []
    for ap in _dicts(result.get("pages")):
        page_num = _int(ap.get("pageNumber"), 1)
        tw, th = (target_dims or {}).get(page_num, (None, None))
        pw = _float(ap.get("width"))
        ph = _float(ap.get("height"))
        pages.append({
            "number": page_num,
            "width": tw if tw else pw,
            "height": th if th else ph,
            "unit": ap.get("unit") or "",
            "text_lines": map_azure_lines(ap, tw, th),
            "tables": map_azure_tables(
                _for_page(result.get("tables"), page_num), page_num,
                tw, th, pw, ph),
            "layout_regions": map_azure_paragraphs(
                _for_page(result.get("paragraphs"), page_num), page_num,
                tw, th, pw, ph),
        })
    # R7: when the recorded response carries document-level styles[] and
    # the full `content` string, apply the offset-interval style map over
    # ALL pages' lines in one pass (one forward cursor across the document,
    # the reference's traversal order — per-page restarts would mis-locate
    # duplicate line texts across pages)
    styles = _dicts(result.get("styles"))
    full_text = result.get("content")
    if styles and isinstance(full_text, str) and full_text:
        apply_azure_styles([tl for p in pages for tl in p["text_lines"]],
                           styles, full_text)
    return pages


def apply_azure_styles(text_lines: list[dict], azure_styles: list[dict],
                       full_text: str) -> list[dict]:
    """R7: Azure's document-level ``styles[]`` (char-offset spans) -> per-line
    bold/italic/handwritten + estimated size
    (extract/pdf_style_extractor.py:261-343), mutating and returning
    ``text_lines``:

    - build a char-offset -> style map from every style span
    - locate each line's text in full_text with a FORWARD-MOVING cursor
      (falling back to a from-the-start search)
    - a line is bold/italic/handwritten iff ANY of its characters is
    - size = bbox_height * 0.75 clamped [6, 72] (11.0 when no bbox)
    - source = azure_detected iff bold or italic else estimated;
      confidence 0.85 / 0.6 respectively
    """
    style_map: dict[int, dict] = {}
    # spans are only meaningful inside full_text: clamping the interval to
    # [0, len(full_text)) both matches the lookup domain and stops a
    # corrupt recorded `length` from allocating an unbounded char map
    limit = len(full_text)
    for style in _dicts(azure_styles):
        for span in _dicts(style.get("spans")):
            offset = max(0, _int(span.get("offset")))
            end = min(offset + _int(span.get("length")), limit)
            for i in range(offset, end):
                style_map[i] = style

    current = 0
    for line in text_lines:
        text = line.get("text", "")
        if not text:
            continue
        pos = full_text.find(text, current)
        if pos == -1:
            pos = full_text.find(text)
        is_bold = is_italic = is_hand = False
        if pos >= 0:
            for i in range(pos, pos + len(text)):
                st = style_map.get(i)
                if st is None:
                    continue
                if st.get("fontWeight") == "bold":
                    is_bold = True
                if st.get("fontStyle") == "italic":
                    is_italic = True
                if st.get("isHandwritten"):
                    is_hand = True
            current = pos + len(text)
        bbox = line.get("bbox")
        height = (_float(bbox[3]) - _float(bbox[1])) if bbox else 0.0
        size = max(6.0, min(72.0, height * 0.75)) if height > 0 else 11.0
        detected = is_bold or is_italic
        line["style"] = {
            "font_name": None,  # Azure doesn't provide one
            "font_size": round(size, 1),
            "bold": is_bold,
            "italic": is_italic,
            "handwritten": is_hand,
            "color": None,
            "source": "azure_detected" if detected else "estimated",
            "confidence": 0.85 if detected else 0.6,
        }
    return text_lines
