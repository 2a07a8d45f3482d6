"""Per-document extraction: bytes -> Document dict.

This is the kernel's top-level function — the analogue of the reference's
DocumentProcessor.process (pipeline/orchestrator.py:411-571) with the same
output contract (JSON_SCHEMA.md:5-18 top-level keys: id, metadata,
page_count, pages, tables, fields, validation).

Shape: one producer per payload kind (native PDF text layer, raster pages
via `_assemble_from_ocr`, a picture or undecodable image, HTML) builds the
document's finished Page records (types.py:243-264) with `_page`, the one
page constructor, plus the per-page KIE field lists, the title and the
raw text. `_assemble` then runs the doc-level stages over those pages:
table fields -> fuse across the field lists -> spatial anchoring ->
validate -> output dict, with the doc-level tables the pages' tables in
page order (orchestrator.py:497-522). Multi-page PDFs fan out exactly like
the reference's `for page_num, page_image in enumerate(page_images, 1)`
loop.

Determinism deviations from the reference, per SURVEY §7.5:
- id = sha256(url) instead of uuid (types.py:140)
- processed_at = the row's warc_ts instead of wall clock (types.py:282)
- DateValidator 'now' is injectable and defaults to the row's warc_ts
- PDF word boxes are deterministic width estimates (no font metrics in this
  container): advance = 0.6 * font_size per char, Helvetica-average
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone
from typing import Any, Optional

from . import anchor as anchor_mod
from . import fuse as fuse_mod
from . import html_extract, kie, pdf_text, reading_order, validators
from .config import EngineConfig

ENGINE_VERSION = "0.2.0"

AVG_CHAR_W = 0.6  # average Helvetica advance as a fraction of font size
PDF_DPI = 72  # PDF user space: 72 points per inch

_DEFAULT_CONFIG = EngineConfig().to_dict()  # read-only: config=None


def doc_id_for_url(url: str) -> str:
    """Deterministic document id: sha256(url) hex (replaces uuid,
    types.py:140; same content-hash idea as the reference's upload dedup)."""
    return hashlib.sha256(url.encode("utf-8")).hexdigest()


def _validation_summary(check_results: list[dict]) -> dict:
    """Roll-up (orchestrator.py:1349-1372): counts + issues; passed iff no
    failed checks."""
    failed = [r for r in check_results if not r["passed"]]
    return {
        "passed": len(failed) == 0,
        "total_checks": len(check_results),
        "passed_checks": len(check_results) - len(failed),
        "failed_checks": len(failed),
        "issues": [r.get("message", r["name"]) for r in failed],
    }


def _normalized_value(f: dict, results: list[dict]) -> Optional[str]:
    """Per-field normalized_value (types.py:224 "e.g. date -> ISO format";
    contract pinned by the reference's own fixture, tests/test_markdown.py:
    131-146: string "12345" -> "12345", currency "$500.00" -> "500.00"):

    - date  -> ISO YYYY-MM-DD from the date validator's parse
               (normalize_date, kie/validators.py:281-286)
    - currency/number -> parsed amount from the amount validator
               (AmountValidator._parse_amount, kie/validators.py:96-130),
               2-decimal string per the fixture
    - other types -> the value unchanged
    A failed normalizing parse yields None (no normalized form exists).
    """
    value = f["value"]
    if value is None:
        return None
    dt = f.get("data_type", "string")
    if dt == "date":
        for r in results:
            if r["name"] == "date":
                return r.get("normalized")  # None when the parse failed
        return validators.normalize_date(str(value))
    if dt in ("currency", "number"):
        for r in results:
            if r["name"] == "amount":
                p = r.get("parsed_value")
                return f"{p:.2f}" if p is not None else None
        p = validators.parse_amount(value)
        return f"{p:.2f}" if p is not None else None
    return str(value)


def _apply_validator_status(fields: list[dict], now: Optional[datetime],
                            low_confidence: float) -> list[dict]:
    """Run auto-selected validators per field, update status
    (orchestrator.py:1304-1347): all passed & conf >= thresholds.low_confidence
    -> validated; any failed -> validation_failed. Also writes the per-field
    normalized_value (types.py:224) from the validators' parses."""
    for f in fields:
        results = validators.run_validators(f["name"], f["data_type"], f["value"], now=now)
        f["validators"] = results
        f["normalized_value"] = _normalized_value(f, results)
        if results:
            if all(r["passed"] for r in results) and f["confidence"] >= low_confidence:
                f["status"] = "validated"
            elif any(not r["passed"] for r in results):
                f["status"] = "validation_failed"
    return fields


def extract_document(url: str, payload: bytes, warc_ts: Any = None,
                     lang: str = "", now: Optional[datetime] = None,
                     config: Optional[dict] = None) -> dict:
    """Extract one document. Never raises: failures are contained into
    status/error per the reference's ProcessingResult contract
    (types.py:317-323) — a failed doc must not kill a task (SURVEY §4).

    `config` is an EngineConfig.to_dict() (kernel.config), read as given;
    None means `EngineConfig().to_dict()` (no env vars are read here).

    `now` is the date validator's clock. None means the row's crawl time
    (`warc_ts`, as naive UTC like the parsed dates), so a row extracts the
    same on any day; only a row without a timestamp uses the wall clock.
    """
    if now is None and isinstance(warc_ts, datetime):
        now = warc_ts
        if now.tzinfo is not None:
            now = now.astimezone(timezone.utc).replace(tzinfo=None)
    try:
        return _extract(url, payload, warc_ts, lang, now,
                        config or _DEFAULT_CONFIG)
    except Exception as exc:  # noqa: BLE001 — containment boundary
        return {
            "id": doc_id_for_url(url),
            "status": "error",
            "error": f"{type(exc).__name__}: {exc}",
            "metadata": _metadata(url, payload, "unknown", warc_ts, lang),
            "title": "",
            "page_count": 0,
            "pages": [],
            "tables": [],
            "fields": [],
            "validation": _validation_summary([]),
            "raw_text": "",
        }


def _metadata(url: str, payload: bytes, file_type: str, warc_ts: Any, lang: str) -> dict:
    return {
        "url": url,
        "filename": url.rsplit("/", 1)[-1] or url,
        "file_type": file_type,
        "file_size_bytes": len(payload) if payload is not None else 0,
        "processed_at": str(warc_ts) if warc_ts is not None else "",
        "lang": lang or "",
        "version": ENGINE_VERSION,
    }


def _pdf_line_struct(ln: dict) -> dict:
    """PDF line -> TextLine dict with word boxes (types.py:129-149).

    The generated subset has no per-word positions, so word boxes are
    deterministic advance estimates: cursor starts at the line x, each char
    advances AVG_CHAR_W * font_size. Box height is one em (baseline at y)."""
    size = float(ln.get("font_size", 12.0))
    x, y = float(ln["x"]), float(ln["y"])
    step = AVG_CHAR_W * size
    words = []
    cursor = x
    for w in ln["text"].split(" "):
        if w:
            words.append({"text": w,
                          "bbox": (cursor, y - size, cursor + step * len(w), y),
                          "confidence": 1.0})
        cursor += step * (len(w) + 1)
    style = None
    if ln.get("font_name"):
        style = {"font_name": ln["font_name"],
                 "font_size": size,
                 "bold": bool(ln.get("bold", False)),
                 "italic": bool(ln.get("italic", False)),
                 "color": ln.get("color", "#000000"),
                 "source": "pdf_native",
                 "confidence": 0.9}
    return {
        "text": ln["text"],
        "page": int(ln.get("page", 1)),
        "bbox": (x, y - size, x + step * len(ln["text"]), y),
        "font_size": size,
        "words": words,
        # native text layer: certain by construction (types.py:138-148 —
        # the observables the reference's TextLine carries)
        "confidence": 1.0,
        "source": "pdf_text",
        "content_type": "printed",
        "style": style,
    }


def build_reconstruction(pages: list[dict], fields: list[dict]) -> dict:
    """R1 flat view embedded in the JSON output (orchestrator.py:1387-1391
    via io/reconstruction.py:136-250): per-page dims + text elements (with
    bold flag) deduped on (text, y-band) and sorted in reading order, flat
    table grids (page/rows/cols/cells — geometry zeroed when the source has
    none, reconstruction.py _bbox_to_coords(None) behavior), + fields
    summary."""
    out_pages = [{"page": p["number"],
                  "width": p["metadata"]["width"],
                  "height": p["metadata"]["height"]} for p in pages]
    elements = []
    for p in pages:
        for tl in p["text_lines"]:
            text = (tl.get("text") or "").strip()
            if not text:
                continue
            b = tl.get("bbox")
            x, y, w, h = ((float(b[0]), float(b[1]),
                           float(b[2]) - float(b[0]), float(b[3]) - float(b[1]))
                          if b else (0.0, 0.0, 0.0, 0.0))
            st = tl.get("style") or {}
            elements.append({"type": "text", "page": p["number"], "text": text,
                             "x": x, "y": y, "width": w, "height": h,
                             "font_size": tl.get("font_size"),
                             "bold": bool(st.get("bold", False))})
    elements = reading_order.dedup_elements(elements)
    elements = reading_order.sort_reading_order(elements)
    table_grids = []
    for p in pages:
        for t in p.get("tables", []):
            rows = t.get("rows", [])
            n_cols = max((len(r) for r in rows), default=0)
            table_grids.append({
                "page": p["number"],
                "rows": len(rows), "cols": n_cols,
                "cells": [{"row": ri, "col": ci, "text": cell}
                          for ri, row in enumerate(rows)
                          for ci, cell in enumerate(row)],
            })
    return {
        "version": "1.0",
        "pages": out_pages,
        "elements": elements,
        "tables": table_grids,
        "fields_summary": {f["name"]: f["value"] for f in fields},
    }


# normalized-view key split (JSON_SCHEMA.md:360-395 rule: "Never mix header
# fields with line-item fields"; totals keys per the totals block)
_TOTALS_KEYS = {"subtotal", "tax", "tax_amount", "total", "total_amount"}


def build_normalized(fields: list[dict], tables_rows: list[dict]) -> dict:
    """Deterministic `normalized` business view (JSON_SCHEMA.md:360-395).

    The reference produces this block only via GPT-Vision KIE (K10,
    azure/gpt_vision_kie.py:51-135 — cloud-scoped out per SURVEY §7.1);
    this is the deterministic assembly of the same contract from what the
    pipeline already extracted:

    - header: fused fields that are NOT totals keys (never mix header and
      line-item fields); values are strings (normalized_value preferred)
    - totals: subtotal / tax_amount / total_amount from the totals fields
    - line_items: the LARGEST detected table; its first row provides the
      column keys (lowercased, spaces -> _), each body row becomes one item
      with `_evidence {table_id, cell_refs, page}` pointing at its cells
    - line_items_secondary: the second-largest table, same shape
    - document_type: 'invoice' when invoice fields are present, else 'auto'
    """
    def sval(f):
        v = f.get("normalized_value") if f.get("normalized_value") is not None \
            else f.get("value")
        return str(v) if v is not None else None

    by_name = {f["name"].lower(): f for f in fields}
    header = {f["name"]: sval(f) for f in fields
              if f["name"].lower() not in _TOTALS_KEYS}
    totals = {}
    sub = by_name.get("subtotal")
    tax = by_name.get("tax") or by_name.get("tax_amount")
    tot = by_name.get("total") or by_name.get("total_amount")
    if sub:
        totals["subtotal"] = sval(sub)
    if tax:
        totals["tax_amount"] = sval(tax)
    if tot:
        totals["total_amount"] = sval(tot)
    doc_type = ("invoice" if ("invoice_number" in by_name
                              or "invoice" in by_name or tot) else "auto")

    def items_from(table: dict, table_idx: int) -> list[dict]:
        rows = table.get("rows", [])
        if len(rows) < 2:
            return []
        keys = [(c or f"col_{i}").strip().lower().replace(" ", "_")
                for i, c in enumerate(rows[0])]
        page = int(table.get("page", 1))
        out = []
        for ri, row in enumerate(rows[1:], 1):
            out.append({
                "values": {k: (row[ci] if ci < len(row) else None)
                           for ci, k in enumerate(keys)},
                "_evidence": {
                    "table_id": f"table-{table_idx:03d}",
                    "cell_refs": [{"row": ri, "col": ci}
                                  for ci in range(len(keys))],
                    "page": page,
                },
            })
        return out

    # largest table = line_items, second largest = secondary (the order the
    # reference's prompts ask GPT for, gpt_vision_kie.py:56,75). 2-column
    # label/value tables are KV shapes — they already flattened into fields
    # (the table_fields path in _assemble) and feed header/totals, not
    # line_items ("Header metadata goes to normalized.header",
    # gpt_vision_kie.py:55).
    candidates = [(i, t) for i, t in enumerate(tables_rows)
                  if t.get("rows") and not all(len(r) == 2
                                               for r in t["rows"])]
    indexed = sorted(candidates, key=lambda it: -len(it[1].get("rows", [])))
    line_items = items_from(indexed[0][1], indexed[0][0]) if indexed else []
    secondary = (items_from(indexed[1][1], indexed[1][0])
                 if len(indexed) > 1 else [])
    return {
        "document_type": doc_type,
        "header": header,
        "line_items": line_items,
        "totals": totals,
        "line_items_secondary": secondary,
    }


def _page(number: int, text_lines: list[dict], regions: list[dict],
          width: float, height: float, content_type: str,
          dpi: Optional[int] = None, tables: list[dict] = (),
          readability: str = "good", readability_issues: list[str] = (),
          rotation: int = 0, preprocessed: bool = False) -> dict:
    """One Page record (the reference's Page + PageMetadata, types.py:
    243-264); every producer builds its pages here.

    `dpi` is PageMetadata.dpi (types.py:247): raster pages pass 350, the
    native-PDF text layer is point space (PDF_DPI), HTML and pictures have
    no defined rendering DPI. `rotation` is the O10 upright rotation
    (90-degree CCW steps) the raster path applied before recognition;
    `preprocessed` marks pages whose geometry lives in the P-stage frame.
    The S7 artifacts renderer uses both to re-derive the geometry frame
    from stored pixels without re-running OSD. `tables` are the page's own
    (the doc-level array is all pages' tables in page order)."""
    return {
        "number": number,
        "metadata": {"width": width, "height": height, "dpi": dpi,
                     "content_type": content_type, "rotation": rotation,
                     "preprocessed": preprocessed,
                     "readability": readability,
                     "readability_issues": list(readability_issues)},
        "layout_regions": regions,
        "text_lines": text_lines,
        "tables": list(tables),
        "raw_text": reading_order.assemble_raw_text(text_lines),
    }


def _page_fields(pages: list[dict], confidence: float,
                 source: str) -> list[list[dict]]:
    """KIE per page over each page's text lines (the reference's per-page
    loop collects one field list per page, orchestrator.py:497-513), so
    candidates carry true pages."""
    return [kie.extract_kv_fields([tl["text"] for tl in p["text_lines"]],
                                  confidence=confidence,
                                  page_num=p["number"], source=source)
            for p in pages]


def _extract(url: str, payload: bytes, warc_ts: Any, lang: str,
             now: Optional[datetime], cfg: dict) -> dict:
    if payload is None:
        payload = b""
    if isinstance(payload, str):
        payload = payload.encode("utf-8")
    file_type = pdf_text.sniff_type(payload)
    ctx = (url, payload, warc_ts, lang, now, cfg, file_type)

    if file_type == "pdf":
        ex = pdf_text.extract_pdf(payload)
        # scanned gate (pdf_style_extractor.py:67-98): a PDF whose text
        # layer carries <=100 chars is treated as scanned/image-only and
        # routed through the raster path: decode embedded /Image XObjects
        # -> P-stage preprocess -> glyph recognition (the deterministic
        # no-weights OCR fallback) -> the same downstream pipeline.
        if sum(len(ln["text"]) for ln in ex["lines"]) <= SCANNED_CHAR_GATE:
            images = pdf_text.extract_pdf_images(payload)
            if images:
                return _assemble_from_ocr(*ctx, [
                    _ocr_page(img, p, cfg) if img is not None else None
                    for p, img in enumerate(images, 1)])
        # per-page fan-out: lines arrive in reading order, grouped by page
        # (extract_pdf's n_pages is the largest line page)
        page_lines: dict[int, list[dict]] = {
            p: [] for p in range(1, ex["n_pages"] + 1)}
        for ln in ex["lines"]:
            page_lines[ln["page"]].append(_pdf_line_struct(ln))
        pages = [_page(p, tls, [{"type": "text", "bbox": tl["bbox"],
                                 "page": p, "confidence": 1.0}
                                for tl in tls],
                       pdf_text.PAGE_W, pdf_text.PAGE_H, file_type,
                       dpi=PDF_DPI)
                 for p, tls in page_lines.items()]
        return _assemble(*ctx, pages, _page_fields(pages, 0.9, "pdf_text"),
                         ex["title"], ex["raw_text"])
    if file_type == "image":
        # The reference routes EVERY image file through the same page
        # pipeline as rasterized PDFs (io/image.py:49-79 load ->
        # orchestrator.py:455-513 per-page loop -> OCR) — a scanned
        # JPEG/PNG of a document extracts like a scanned PDF. Our
        # deterministic recognizer adds a confidence gate the model-backed
        # reference gets implicitly: a photo/diagram whose "recognized"
        # ink scores below thresholds.image_text_gate carries no document
        # text and stays a picture row (the reference's no-weights
        # fallback: no model, no text).
        from . import multimodal

        try:
            img = multimodal.decode_image(payload)
        except NotImplementedError:
            # undecodable format: metadata-only (header parse upstream)
            return _assemble(*ctx, [_page(1, [], [], 0, 0, file_type)], [],
                             "", "")
        # the junk floor may never exceed the acceptance gate — a user
        # lowering image_text_gate below the default floor must not be
        # silently nullified by the floor's earlier short-circuit
        thr = cfg["thresholds"]
        floor = min(thr["picture_floor"], thr["image_text_gate"])
        ocr = _ocr_page(img, 1, cfg, junk_floor=floor)
        n_rec_chars = sum(len(tl["text"]) - tl["text"].count(" ")
                          for tl in ocr["text_lines"])
        if ((ocr["text_lines"] or ocr["tables"])
                and ocr["score"] >= thr["image_text_gate"]
                and (ocr["tables"]
                     or n_rec_chars >= thr["min_image_text_chars"])):
            return _assemble_from_ocr(*ctx, [ocr])
        # a picture: one image region over the decoded pixels. Readability
        # was already assessed inside _ocr_page (it is exactly
        # rot90-invariant: std/mean/interior-Laplacian identical, the size
        # rule is an OR over both dims) — reuse, don't recompute
        w, h = int(img.shape[1]), int(img.shape[0])
        region = {"type": "image", "page": 1, "confidence": 1.0,
                  "bbox": (0.0, 0.0, float(w), float(h))}
        return _assemble(*ctx, [_page(
            1, [], [region], w, h, file_type,
            readability=ocr["readability"],
            readability_issues=ocr["readability_issues"])], [], "", "")
    ext = cfg["extraction"]
    hx = html_extract.extract_html(
        payload, min_block_chars=ext["min_block_chars"],
        max_link_density=ext["max_link_density"],
        min_text_density=ext["min_text_density"])
    lines = [{"text": b["text"], "page": 1, "bbox": None, "font_size": None,
              "words": [],
              # markup parse is certain; no pixels -> no OCR content type
              "confidence": 1.0, "source": "html", "content_type": None,
              "style": None}
             for b in hx["content_blocks"]]
    regions = [{"type": b["role"], "index": b["index"], "bbox": None,
                "page": 1, "confidence": 1.0} for b in hx["blocks"]]
    # KV fields come from body blocks only: headings routinely contain
    # colons ("Document 12: ...") and would produce junk fields
    kv_lines = [b["text"] for b in hx["content_blocks"]
                if b["role"] in ("paragraph", "list_item")]
    return _assemble(
        *ctx, [_page(1, lines, regions, 0, 0, file_type, tables=hx["tables"])],
        [kie.extract_kv_fields(kv_lines, confidence=0.9, page_num=1,
                               source="html_kv")],
        hx["title"], hx["raw_text"])


SCANNED_CHAR_GATE = 100  # pdf_style_extractor.py:67-98 scanned threshold


def _ocr_page(img, p: int, cfg: dict,
              junk_floor: Optional[float] = None) -> dict:
    """Shared raster page body — the reference's per-page loop
    (orchestrator.py:631-816) over decoded page pixels, used by scanned
    PDFs AND standalone scanned images (the reference feeds every image
    file through this same pipeline, io/image.py:49-79 ->
    orchestrator.py:455-513):

    O10 OSD -> P9 readability -> P8 content-type -> P-stage preprocess ->
    glyph recognition -> O7/O4 targeted re-OCR (O3 dual decoder routed by
    content type) -> D6-shape column split -> D13 raster tables -> D2
    layout-role classification.
    """
    import numpy as np

    from . import glyphs, preprocess, style_merge, table_model
    from . import reocr as reocr_mod

    # O10 orientation detection FIRST, on the raw image (the OSD order the
    # reference uses: coarse 90-degree orientation before fine deskew —
    # deskew on a sideways page destroys the glyph grid). Upright pages
    # short-circuit after one recognition pass.
    gray0 = preprocess.to_gray(img) if img.ndim == 3 else img
    osd_lines, rot_k, osd_score = glyphs.recognize_with_osd(gray0)
    if rot_k:
        img = np.ascontiguousarray(np.rot90(img, rot_k))
    # page dims from the RAW upright pixels, the reference's
    # `h, w = image.shape[:2]` before preprocess (orchestrator.py:648) —
    # dewarp/deskew may resize the working frame but page metadata and the
    # style estimator's page_height stay raw
    dims = (int(img.shape[1]), int(img.shape[0]))
    if junk_floor is not None and osd_score < junk_floor:
        # obvious non-document (standalone-image path only) — UNLESS a page
        # quadrilateral is visible (a photographed document inside a
        # margin: the case P1 dewarp exists for scores like garbage until
        # dewarped, so it gets the full enhancement chain; the final
        # image-text gate still rejects genuine pictures afterwards).
        # Otherwise skip the enhancement chain; the caller's picture
        # fallback takes over, reusing the readability computed here
        # (P9 runs once per image — raw pixels, a documented deviation:
        # preprocess never runs on this page).
        if preprocess.detect_page_quad(img) is None:
            readability, readability_issues = preprocess.assess_readability(img)
            return {"dims": dims, "text_lines": [], "regions": [],
                    "tables": [], "content_type": "",
                    "readability": readability,
                    "readability_issues": readability_issues,
                    "score": osd_score, "rotation": rot_k,
                    "preprocessed": False}
    if osd_score == 1.0 and osd_lines:
        # Confidence-gated recomputation (the reference's own pattern —
        # low-conf work is recomputed, high-conf work is not,
        # orchestrator.py:1140-1176 / targeted_reocr.py selection): a
        # score of exactly 1.0 means EVERY character matched its template
        # with zero Hamming distance on the raw pixels, so the P-stage
        # preprocess + re-recognition + re-OCR sweep cannot improve the
        # text — skip them. Lossless pages (FlateDecode scans, PNG images,
        # ~half the scanned corpus) take this path; any JPEG blur drops
        # the score below 1.0 and runs the full enhancement chain.
        # P8/P9 run on the raw upright pixels here — a documented
        # deviation from orchestrator.py:655-665 (which assesses the
        # PROCESSED pixels): on this path preprocess never runs, and a
        # perfect-score page is by construction clean enough that the
        # processed and raw assessments agree.
        lines = osd_lines
        readability, readability_issues = preprocess.assess_readability(img)
        content_type, _ct_conf = preprocess.detect_content_type(img)
        was_preprocessed = False
    else:
        was_preprocessed = True
        pre = preprocess.preprocess_for_ocr(img)
        gray = preprocess.to_gray(pre) if pre.ndim == 3 else pre
        # P9 readability + P8 content-type on the PREPROCESSED pixels —
        # the reference's order (orchestrator.py:655-665: preprocess_for_ocr
        # first, then detect_content_type and assess_readability on
        # `processed`); content type routes the O3 decoder order below.
        readability, readability_issues = preprocess.assess_readability(gray)
        content_type, _ct_conf = preprocess.detect_content_type(gray)
        lines = glyphs.recognize_page(gray)
        # O7 targeted re-OCR with O4 positional write-back:
        # low-confidence lines (faded/hazy strokes the default ink
        # threshold misses) get a second-effort recognition; the
        # reference's selection/acceptance rules (targeted_reocr.py:
        # 150-178, 440-443) apply verbatim via kernel.reocr, and accepted
        # results replace the line's text/words/geometry in place — the
        # line-update join of orchestrator's OCR batch application.
        enhanced: dict[int, dict] = {}
        # P8 -> O2 routing (trocr.py:189-199): handwritten crops go to
        # the handwritten-model slot (soft decoder first); printed/mixed/
        # unknown to the printed slot (hard decoder first).
        decoder_primary = "soft" if content_type == "handwritten" else "hard"

        def _recompute(line: dict) -> tuple[str, float]:
            # O3 dual-decoder arbitration (trocr.py:293-323): hard
            # threshold-sweep vs soft contrast-normalized correlation,
            # strict-> picks the secondary
            new, _decoder = glyphs.recognize_line_dual(
                gray, line["bbox"], primary=decoder_primary)
            if new is None:
                return line["text"], line["confidence"]
            enhanced[id(line)] = new
            return new["text"], new["confidence"]

        # threshold calibrated to the glyph recognizer's confidence scale
        # (even random ink matches ~0.7 against the best of 95 templates;
        # clean lines sit >= 0.95) — the reference exposes exactly this
        # knob (reocr confidence_threshold, config.py:221); ours is
        # EngineConfig.thresholds.glyph_reocr_confidence.
        reocr_mod.process_lines(
            lines, _recompute,
            threshold=cfg["thresholds"]["glyph_reocr_confidence"],
            source="ocr_enhanced")
        for ln in lines:
            if ln.get("source") == "ocr_enhanced" and id(ln) in enhanced:
                new = enhanced[id(ln)]
                for k in ("words", "bbox", "x", "y", "font_size"):
                    if k in new:
                        ln[k] = new[k]
    # D6-shape page-column detection: a dominant vertical whitespace
    # valley splits interleaved two-column band lines into per-column
    # lines (kernel.table_model.split_page_columns); tables are then
    # detected per column (rows must be y-consecutive within a column),
    # and the final (y-band, x) sort makes text column-major within bands.
    columns = table_model.split_page_columns(lines)
    page_tables: list[dict] = []
    kept: list[dict] = []
    block_regions: list[dict] = []
    for col_lines in columns:
        # borderless raster tables (whitespace-alignment detection, the
        # D13 shape on pixels); consumed lines leave the text flow — table
        # text is structured output, not raw_text (same rule as HTML)
        tbls, consumed = table_model.detect_raster_tables(col_lines, page=p)
        page_tables.extend(tbls)
        col_kept = [ln for k, ln in enumerate(col_lines)
                    if k not in consumed]
        kept.extend(col_kept)
        # D2 regions at the reference's granularity: the heuristic
        # detector's dilation+contours produce one region per PARAGRAPH
        # block, not per line (layout_doclaynet.py:146-209); each block is
        # classified by the position/aspect rules (210-251) — including
        # their wide-tall-block -> "table" quirk, reproduced faithfully.
        for block in reading_order.group_lines_into_blocks(col_kept):
            env = (min(ln["bbox"][0] for ln in block),
                   min(ln["bbox"][1] for ln in block),
                   max(ln["bbox"][2] for ln in block),
                   max(ln["bbox"][3] for ln in block))
            chars = sum(len(ln["text"]) for ln in block) or 1
            conf = round(sum(ln["confidence"] * len(ln["text"])
                             for ln in block) / chars, 4)
            block_regions.append({
                "type": reading_order.classify_region_heuristic(
                    env[0], env[1], env[2] - env[0], env[3] - env[1],
                    dims[0], dims[1]),
                "bbox": env, "page": p, "confidence": conf})
    kept.sort(key=lambda ln: (int(ln["y"] // 50), ln["x"]))
    # R5 estimated styles on every raster line (the reference estimates a
    # TextStyle whenever PDF-native styles are absent, orchestrator.py:
    # 606-629/775-777 -> pdf_style_extractor.py:192-258), with the raw page
    # height as page_height (the orchestrator passes the pre-preprocess `h`).
    # Lines also surface the OCR observables the reference's TextLine
    # carries (types.py:138-148): per-line confidence, source ("ocr" =
    # the deterministic glyph recognizer in the TrOCR slot; "ocr_enhanced"
    # after an accepted O7 re-OCR), and the page's P8 content type.
    text_lines = [{
        "text": ln["text"],
        "page": p,
        "bbox": tuple(float(v) for v in ln["bbox"]),
        "font_size": float(ln["font_size"]),
        "words": ln["words"],
        "confidence": float(ln["confidence"]),
        "source": ln.get("source", "ocr"),
        "content_type": content_type,
        "style": style_merge.estimate_style_from_bbox(
            ln["text"], float(ln["bbox"][3]) - float(ln["bbox"][1]),
            float(ln["bbox"][1]), float(dims[1])),
    } for ln in kept]
    # D3 same-type IoU merge with the reference's exact rule, then table
    # regions appended (one per detected grid)
    regions = reading_order.merge_regions_iou(block_regions) + \
        [{"type": "table", "bbox": t["cells"][0]["bbox"], "page": p,
          "confidence": 1.0} for t in page_tables]
    # acceptance score over EVERY recognized line, including the ones a
    # detected table consumed — a document image that is ONLY a table has
    # empty text_lines but real recognized content, and must not be
    # mistaken for a picture (round-4 review finding)
    score = glyphs.osd_score([ln for col in columns for ln in col])
    return {"dims": dims, "text_lines": text_lines, "regions": regions,
            "tables": page_tables, "content_type": content_type,
            "readability": readability,
            "readability_issues": readability_issues, "score": score,
            # O10 coarse rotation applied to reach upright (90-degree steps
            # CCW) and whether the P-stage chain ran — carried so the S7
            # artifacts renderer can re-decode the stored pixels and
            # reproduce the geometry frame the bboxes/regions live in
            # (slow-path bboxes are in the PREPROCESSED frame, which
            # dewarp/deskew may have resized)
            "rotation": rot_k, "preprocessed": was_preprocessed}


def _assemble_from_ocr(url, payload, warc_ts, lang, now, cfg, file_type,
                       ocr_pages: list[Optional[dict]]) -> dict:
    """Document assembly over per-page raster OCR results (None = corrupt
    page, contained and kept empty). Shared by the scanned-PDF and
    standalone-image paths."""
    # a corrupt page takes the FIRST SURVIVING page's dims and readability
    # (round-4 ADVICE: a corrupt page 1 must not pin the default letter
    # dims onto a real scan's title cutoff); letter dims when every page
    # failed. Surviving pages carry their own P8 content type and P9
    # readability (the reference assesses every page, orchestrator.py:
    # 651-675) and their own dims (a scan's pages can differ in size).
    first = next((ocr for ocr in ocr_pages if ocr is not None), None)
    width, height = first["dims"] if first else (pdf_text.PAGE_W,
                                                 pdf_text.PAGE_H)
    blank = ({"readability": first["readability"],
              "readability_issues": first["readability_issues"]}
             if first else {})
    pages = [
        _page(p, [], [], width, height, file_type,
              dpi=PDF_DPI if file_type == "pdf" else None, **blank)
        if ocr is None else
        # raster pages carry the reference's PageMetadata dpi default
        # (types.py:247) — embedded images keep their stored resolution,
        # nothing re-rasterizes
        _page(p, ocr["text_lines"], ocr["regions"], *ocr["dims"],
              ocr["content_type"], dpi=350, tables=ocr["tables"],
              readability=ocr["readability"],
              readability_issues=ocr["readability_issues"],
              rotation=ocr["rotation"], preprocessed=ocr["preprocessed"])
        for p, ocr in enumerate(ocr_pages, 1)]
    all_lines = [tl for pg in pages for tl in pg["text_lines"]]
    title = next((tl["text"] for tl in all_lines
                  if tl["font_size"] and tl["font_size"] > 14
                  and tl["bbox"][1] < height * 0.3), "")
    return _assemble(url, payload, warc_ts, lang, now, cfg, file_type, pages,
                     _page_fields(pages, 0.85, "ocr_fallback"), title,
                     "\n".join(tl["text"] for tl in all_lines),
                     table_source="ocr_table")


def _assemble(url, payload, warc_ts, lang, now, cfg, file_type,
              pages: list[dict], field_lists: list[list[dict]], title: str,
              raw_text: str, table_source: str = "html_table") -> dict:
    tables = [t for pg in pages for t in pg["tables"]]
    # table-derived fields from 2-column tables (label/value shape).
    # `table_source` carries provenance: tables parsed from HTML markup are
    # "html_table" (weight 0.9); tables detected on the raster/OCR path are
    # "ocr_table" (weight 0.8) — their text comes from the same uncertain
    # glyph recognition as ocr_fallback lines and must not outweigh it
    # (round-3 ADVICE).
    table_fields: list[dict] = []
    for t in tables:
        rows = t.get("rows", [])
        if rows and all(len(r) == 2 for r in rows):
            data = {}
            for k, v in rows:
                key = k.strip().lower().replace(" ", "_")
                if key and v and key not in data:
                    data[key] = v.strip()
            table_fields.extend(kie.flatten_to_fields(
                data, confidence=0.85, page_num=t.get("page", 1),
                source=table_source))

    fields = fuse_mod.fuse_fields(field_lists + [table_fields],
                                  **cfg["fusion"])

    # K9 spatial anchoring (orchestrator.py:1190-1302): attach bbox/page from
    # word/line/substring/cell matches; HTML lines carry no geometry, so
    # anchoring is effective on the PDF path and a no-op (no false anchors)
    # on HTML — the reference's rule 5.
    fields = anchor_mod.anchor_fields(
        fields, [tl for pg in pages for tl in pg["text_lines"]], tables)

    fields = _apply_validator_status(fields, now,
                                     cfg["thresholds"]["low_confidence"])

    field_checks = [r for f in fields for r in f.get("validators", [])]
    consistency = validators.validate_document_consistency(
        [{"name": f["name"], "value": f["value"]} for f in fields])
    validation = _validation_summary(field_checks + consistency)

    return {
        "id": doc_id_for_url(url),
        "status": "ok",
        "error": "",
        "metadata": _metadata(url, payload, file_type, warc_ts, lang),
        "title": title,
        "page_count": len(pages),
        "pages": pages,
        "tables": tables,
        "fields": fields,
        "validation": validation,
        "raw_text": raw_text,
        "reconstruction": build_reconstruction(pages, fields),
        "normalized": build_normalized(fields, tables),
    }
