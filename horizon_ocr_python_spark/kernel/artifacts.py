"""S7 artifacts: debug overlay images + summary HTML (io/artifacts.py).

The reference's ArtifactManager (io/artifacts.py:81-610) renders per-page
overlay PNGs — layout regions (save_layout_overlay, :175-256), text boxes
colored by confidence (save_text_polygons_overlay, :258-307), table
structure (save_table_structure_overlay, :309-390), OCR results with text
labels (save_ocr_overlay, :392-466), a thickness-1 combined view
(save_combined_overlay, :468-531) — plus a summary.html per document
(generate_summary_html, :533-610), written to
``{output_dir}/{mode}/{doc_id}/page_{NNN}_{kind}.png``.

This module reimplements the same overlays numpy-from-scratch (no cv2):
rectangles/fills are array slices, text labels use the kernel's own
deterministic 5x7 glyph bitmaps (kernel.glyphs.GLYPHS — the exact font the
raster corpus is printed in), and PNGs come from kernel.png.encode_png.
Colors are the reference's LAYOUT_COLORS / confidence ramp converted
BGR -> RGB (our decoded frames are RGB). Deviation, recorded: the
reference draws labels with cv2's Hershey vector font; we rasterize the
glyph-bitmap font instead, so label geometry differs while label text,
placement rule (above the box, dark background) and colors match.

Scale shape (SURVEY §2 S7: "optional debug stage; skip at scale or sample
via df.sample().foreachPartition"): artifacts are produced for a
HASH-SAMPLED slice of the corpus only and land in a columnar artifacts
table (engine.artifacts) — never one file per page on the driver.
"""

from __future__ import annotations

from typing import Any, Optional

import numpy as np

from . import glyphs
from .png import encode_png

# Reference LAYOUT_COLORS (io/artifacts.py:29-43, BGR) converted to RGB,
# keyed by this engine's region/role names. HTML roles map onto the nearest
# reference LayoutRegionType: heading -> TITLE, paragraph -> TEXT,
# list_item -> LIST, boilerplate -> UNKNOWN.
LAYOUT_COLORS = {
    "header": (100, 100, 255),
    "footer": (255, 100, 100),
    "text": (100, 255, 100),
    "paragraph": (100, 255, 100),
    "table": (100, 255, 255),
    "figure": (255, 100, 255),
    "image": (255, 100, 255),
    "logo": (255, 255, 100),
    "title": (100, 200, 200),
    "heading": (100, 200, 200),
    "list": (200, 200, 100),
    "list_item": (200, 200, 100),
    "caption": (200, 100, 200),
    "page_number": (150, 150, 150),
    "signature": (255, 150, 50),
    "stamp": (150, 50, 255),
}
UNKNOWN_COLOR = (128, 128, 128)

TABLE_BORDER = (0, 255, 255)    # reference BGR (255,255,0) cyan, :347
CELL_HEADER = (255, 255, 0)     # reference BGR (0,255,255) yellow, :364
CELL_BODY = (0, 200, 0)         # reference BGR (0,200,0) green, :364


def confidence_to_color(confidence: float) -> tuple[int, int, int]:
    """Red->yellow->green confidence ramp (io/artifacts.py:46-68), RGB."""
    c = min(max(float(confidence), 0.0), 1.0)
    if c < 0.5:
        return (255, int(255 * (c / 0.5)), 0)
    return (int(255 * ((1.0 - c) / 0.5)), 255, 0)


def _dpi_scale(image: np.ndarray) -> float:
    """Line/font scale vs a 72-DPI (~800 px wide) baseline
    (io/artifacts.py:71-78)."""
    return max(image.shape[1] / 800.0, 1.0)


def _to_rgb(image: np.ndarray) -> np.ndarray:
    if image.ndim == 2:
        return np.stack([image] * 3, axis=-1).astype(np.uint8)
    return image.astype(np.uint8).copy()


def _clamp_box(img: np.ndarray, bbox) -> Optional[tuple[int, int, int, int]]:
    h, w = img.shape[:2]
    x1 = max(int(bbox[0]), 0)
    y1 = max(int(bbox[1]), 0)
    x2 = min(int(bbox[2]), w)
    y2 = min(int(bbox[3]), h)
    if x2 <= x1 or y2 <= y1:
        return None
    return x1, y1, x2, y2


def _draw_rect(img: np.ndarray, bbox, color, thickness: int) -> None:
    """Rectangle border via slice assignment (cv2.rectangle twin)."""
    box = _clamp_box(img, bbox)
    if box is None:
        return
    x1, y1, x2, y2 = box
    t = max(int(thickness), 1)
    c = np.array(color, dtype=np.uint8)
    img[y1:min(y1 + t, y2), x1:x2] = c
    img[max(y2 - t, y1):y2, x1:x2] = c
    img[y1:y2, x1:min(x1 + t, x2)] = c
    img[y1:y2, max(x2 - t, x1):x2] = c


def _fill_alpha(img: np.ndarray, bbox, color, alpha: float) -> None:
    """Transparent fill (cv2.addWeighted twin, io/artifacts.py:217-220)."""
    box = _clamp_box(img, bbox)
    if box is None:
        return
    x1, y1, x2, y2 = box
    sub = img[y1:y2, x1:x2].astype(np.float64)
    rect = np.array(color, dtype=np.float64)
    img[y1:y2, x1:x2] = np.clip(
        np.rint(rect * alpha + sub * (1.0 - alpha)), 0, 255).astype(np.uint8)


def _draw_text(img: np.ndarray, x: int, y: int, text: str, color,
               scale: int = 1) -> None:
    """Rasterize a label with the kernel glyph font (5x7 bitmaps, the same
    deterministic font the corpus is printed in). (x, y) = top-left."""
    s = max(int(scale), 1)
    h, w = img.shape[:2]
    c = np.array(color, dtype=np.uint8)
    for j, ch in enumerate(text):
        g = glyphs.GLYPHS.get(ch)
        if g is None or not g.any():
            continue
        gx = int(x) + j * glyphs.PITCH * s
        gy = int(y)
        tile = np.kron(g, np.ones((s, s), dtype=bool))
        th, tw = tile.shape
        if gy < 0 or gx < 0 or gy + th > h or gx + tw > w:
            continue  # clip whole glyphs at the border, as render_page does
        region = img[gy:gy + th, gx:gx + tw]
        region[tile] = c


def _text_w(text: str, scale: int) -> int:
    return len(text) * glyphs.PITCH * max(int(scale), 1)


def _label_above(img: np.ndarray, bbox, label: str, color, s: float,
                 bg=(0, 0, 0)) -> None:
    """Label above the box on a filled background
    (io/artifacts.py:226-230 placement rule)."""
    fs = max(int(round(s)), 1)
    th = glyphs.GLYPH_H * fs
    x1 = max(int(bbox[0]), 0)
    label_y = int(bbox[1]) - th - int(5 * s)
    if label_y < 0:
        label_y = int(bbox[1]) + int(2 * s)
    _fill_alpha(img, (x1, label_y - int(2 * s),
                      x1 + _text_w(label, fs) + int(4 * s),
                      label_y + th + int(2 * s)), bg, 1.0)
    _draw_text(img, x1 + int(2 * s), label_y, label, color, fs)


def layout_overlay(image: np.ndarray, regions: list[dict]) -> np.ndarray:
    """Layout regions: 0.45-alpha fill + border + type/confidence label,
    plus a legend strip stacked on top (io/artifacts.py:175-256)."""
    out = _to_rgb(image)
    s = _dpi_scale(out)
    border_t = max(int(2 * s), 2)
    used: dict[str, tuple] = {}
    for region in regions:
        if not region.get("bbox"):
            continue
        rtype = str(region.get("type") or "unknown").lower()
        color = LAYOUT_COLORS.get(rtype, UNKNOWN_COLOR)
        used[rtype] = color
        _fill_alpha(out, region["bbox"], color, 0.45)
        _draw_rect(out, region["bbox"], color, border_t)
        label = f"{rtype} ({float(region.get('confidence', 0.0)):.2f})"
        _label_above(out, region["bbox"], label, color, s)
    if used:
        # legend strip (io/artifacts.py:232-248): color box + type name
        fs = max(int(round(s)), 1)
        legend_h = int(40 * s)
        legend = np.full((legend_h, out.shape[1], 3), 30, dtype=np.uint8)
        x = int(10 * s)
        box_sz = int(18 * s)
        cy = legend_h // 2
        for rtype in sorted(used):
            color = used[rtype]
            legend[max(cy - box_sz // 2, 0):cy + box_sz // 2,
                   x:min(x + box_sz, legend.shape[1])] = color
            x += box_sz + int(6 * s)
            _draw_text(legend, x, cy - (glyphs.GLYPH_H * fs) // 2, rtype,
                       (255, 255, 255), fs)
            x += _text_w(rtype, fs) + int(20 * s)
        out = np.vstack([legend, out])
    return out


def text_lines_overlay(image: np.ndarray, text_lines: list[dict]) -> np.ndarray:
    """Text boxes colored by confidence (io/artifacts.py:258-307; our lines
    carry bboxes, not polygons — the reference's own bbox fallback path)."""
    out = _to_rgb(image)
    t = max(int(2 * _dpi_scale(out)), 2)
    for line in text_lines:
        if not line.get("bbox"):
            continue
        _draw_rect(out, line["bbox"],
                   confidence_to_color(line.get("confidence", 1.0)), t)
    return out


def _table_bbox(table: dict) -> Optional[tuple]:
    """Envelope of the table's cell bboxes (raster tables carry per-cell
    geometry; markup tables carry none -> no overlay, the reference's own
    `if cell.bbox` guard, io/artifacts.py:363)."""
    boxes = [c["bbox"] for c in table.get("cells") or [] if c.get("bbox")]
    if not boxes:
        return None
    return (min(b[0] for b in boxes), min(b[1] for b in boxes),
            max(b[2] for b in boxes), max(b[3] for b in boxes))


def table_overlay(image: np.ndarray, tables: list[dict]) -> np.ndarray:
    """Table structure: envelope border + "Table N (RxC)" label + per-cell
    rectangles ((row,col)-labelled, header vs body colored)
    (io/artifacts.py:309-390)."""
    out = _to_rgb(image)
    s = _dpi_scale(out)
    border_t = max(int(3 * s), 3)
    cell_t = max(int(1 * s), 1)
    fs = max(int(round(0.5 * s)), 1)
    for idx, table in enumerate(tables):
        bbox = _table_bbox(table)
        if bbox is None:
            continue
        _draw_rect(out, bbox, TABLE_BORDER, border_t)
        label = f"Table {idx + 1} ({table.get('n_rows', 0)}x{table.get('n_cols', 0)})"
        _label_above(out, bbox, label, TABLE_BORDER, s)
        for cell in table.get("cells") or []:
            if not cell.get("bbox"):
                continue
            color = CELL_HEADER if cell.get("is_header") else CELL_BODY
            _draw_rect(out, cell["bbox"], color, cell_t)
            _draw_text(out, int(cell["bbox"][0]) + int(2 * s),
                       int(cell["bbox"][1]) + int(2 * s),
                       f"({cell['row']},{cell['col']})", color, fs)
    return out


def ocr_overlay(image: np.ndarray, text_lines: list[dict],
                show_text: bool = True) -> np.ndarray:
    """OCR results: confidence-colored boxes + "text (conf)" labels on a
    light background (io/artifacts.py:392-466; >50-char text truncated with
    an ellipsis, :436)."""
    out = _to_rgb(image)
    s = _dpi_scale(out)
    box_t = max(int(2 * s), 2)
    fs = max(int(round(s)), 1)
    for line in text_lines:
        if not line.get("bbox"):
            continue
        color = confidence_to_color(line.get("confidence", 1.0))
        _draw_rect(out, line["bbox"], color, box_t)
        if show_text and line.get("text"):
            text = line["text"]
            text = text[:50] + "..." if len(text) > 50 else text
            label = f"{text} ({float(line.get('confidence', 1.0)):.2f})"
            _label_above(out, line["bbox"], label, color, s,
                         bg=(255, 255, 255))
    return out


def combined_overlay(image: np.ndarray, page: dict) -> np.ndarray:
    """All detections, thickness-1 borders, no labels
    (io/artifacts.py:468-531)."""
    out = _to_rgb(image)
    for region in page.get("layout_regions") or []:
        if region.get("bbox"):
            rtype = str(region.get("type") or "unknown").lower()
            _draw_rect(out, region["bbox"],
                       LAYOUT_COLORS.get(rtype, UNKNOWN_COLOR), 1)
    for line in page.get("text_lines") or []:
        if line.get("bbox"):
            _draw_rect(out, line["bbox"],
                       confidence_to_color(line.get("confidence", 1.0)), 1)
    for table in page.get("tables") or []:
        bbox = _table_bbox(table)
        if bbox is not None:
            _draw_rect(out, bbox, TABLE_BORDER, 2)
    return out


def summary_html(doc: dict, kinds_by_page: dict[int, list[str]]) -> str:
    """Per-document artifact summary page (io/artifacts.py:533-610): the
    stats block (pages/fields/tables/validation verdict) + one section per
    page listing its overlay images by relative filename."""
    doc_id = doc.get("id", "")
    validation = doc.get("validation") or {}
    parts = [f"""<!DOCTYPE html>
<html>
<head>
    <title>Artifacts - {doc_id}</title>
    <style>
        body {{ font-family: Arial, sans-serif; margin: 20px; }}
        .page {{ margin-bottom: 40px; border: 1px solid #ccc; padding: 20px; }}
        .artifacts {{ display: flex; flex-wrap: wrap; gap: 10px; }}
        .artifact {{ max-width: 400px; }}
        .artifact img {{ max-width: 100%; border: 1px solid #ddd; }}
        h1, h2 {{ color: #333; }}
        .stats {{ background: #f5f5f5; padding: 10px; margin-bottom: 20px; }}
    </style>
</head>
<body>
    <h1>Processing Artifacts</h1>
    <div class="stats">
        <strong>Document ID:</strong> {doc_id}<br>
        <strong>Pages:</strong> {doc.get("page_count", 0)}<br>
        <strong>Fields:</strong> {len(doc.get("fields") or [])}<br>
        <strong>Tables:</strong> {len(doc.get("tables") or [])}<br>
        <strong>Validation:</strong> {"Passed" if validation.get("passed") else "Failed"}
    </div>"""]
    for page in doc.get("pages") or []:
        number = int(page.get("number", 1))
        parts.append(f"""
    <div class="page">
        <h2>Page {number}</h2>
        <div class="artifacts">""")
        for kind in kinds_by_page.get(number, []):
            img = f"page_{number:03d}_{kind}.png"
            title = kind.replace("_", " ").title()
            parts.append(f"""
            <div class="artifact">
                <h4>{title}</h4>
                <img src="{img}" alt="{kind}">
            </div>""")
        parts.append("""
        </div>
    </div>""")
    parts.append("""
</body>
</html>
""")
    return "".join(parts)


# "preprocessed" = the P-stage frame itself (save_preprocessed_image,
# io/artifacts.py:145-173 — the reference's summary lists it first)
OVERLAY_KINDS = ("preprocessed", "layout", "text_polygons", "tables", "ocr",
                 "combined")


def _page_pixels(doc: dict, payload: bytes) -> dict[int, np.ndarray]:
    """Re-derive the upright pixel frame per page from the stored payload,
    using the rotation recorded at extraction time (no OSD re-run).

    Raster paths (scanned PDFs / standalone images) decode the stored
    pixels, re-apply the recorded rotation, and — when the page's geometry
    lives in the P-stage frame (metadata.preprocessed, set on the
    score<1.0 slow path where dewarp/deskew may RESIZE the working frame)
    — re-run the deterministic preprocess chain so overlay rectangles land
    where recognition actually saw them. Native-PDF pages get a white
    canvas at page size (their text layer has exact geometry but no raster
    — the reference rasterizes every PDF via pdf2image, which this engine
    deliberately does not; overlay geometry is what the artifact is for).
    HTML pages carry no geometry -> no entry -> no overlays, summary
    only."""
    from . import multimodal, pdf_text, preprocess

    def _upright_frame(img: np.ndarray, meta: dict) -> np.ndarray:
        rot = int(meta.get("rotation", 0))
        if rot:
            img = np.ascontiguousarray(np.rot90(img, rot))
        if meta.get("preprocessed"):
            # same call, same defaults as kernel.document._ocr_page's slow
            # path — deterministic, so the frame reproduces exactly
            img = preprocess.preprocess_for_ocr(img)
        return img

    file_type = (doc.get("metadata") or {}).get("file_type", "")
    pages = doc.get("pages") or []
    # scanned = ANY page carries the raster dpi: a corrupt (contained)
    # page 1 falls back to default metadata and must not reroute the
    # surviving scan pages onto white canvases
    scanned = any((p.get("metadata") or {}).get("dpi") == 350
                  for p in pages)
    out: dict[int, np.ndarray] = {}
    if file_type == "image" and pages and scanned:
        # reproduce the frame on the SAME channel order recognition saw:
        # decode_image returns BGR and _ocr_page preprocessed BGR (to_gray
        # weights channels, so a premature RGB flip would change the quad/
        # deskew geometry); flip to RGB only for the overlay at the end
        frame = _upright_frame(multimodal.decode_image(payload),
                               pages[0].get("metadata") or {})
        out[1] = frame[..., ::-1] if frame.ndim == 3 else frame
    elif file_type == "pdf" and pages:
        if scanned:
            for p, img in enumerate(pdf_text.extract_pdf_images(payload), 1):
                if img is None or p > len(pages):
                    continue
                meta = pages[p - 1].get("metadata") or {}
                if meta.get("dpi") != 350:
                    continue  # this page's OCR failed; no geometry frame
                out[p] = _upright_frame(img, meta)
        else:
            for page in pages:
                meta = page.get("metadata") or {}
                w = int(meta.get("width") or pdf_text.PAGE_W)
                h = int(meta.get("height") or pdf_text.PAGE_H)
                out[int(page["number"])] = np.full((h, w, 3), 255,
                                                   dtype=np.uint8)
    return out


def document_artifacts(url: str, payload: bytes, warc_ts: Any = None,
                       lang: str = "", config: Optional[dict] = None,
                       kinds: tuple = OVERLAY_KINDS,
                       show_text: bool = True) -> list[dict]:
    """All artifacts for one document as rows
    ``{doc_id, url, page, kind, mime, payload}`` — the columnar form of the
    reference's ``{doc_id}/page_{NNN}_{kind}.png`` + ``summary.html`` tree
    (io/artifacts.py:126-143 layout; engine.artifacts.export_artifacts_local
    reproduces the tree on a filesystem for debugging).

    Extraction runs ONCE (document.extract_document, with the row's
    `warc_ts` as in the extract stage); overlays are drawn from the
    assembled page model on pixels re-decoded from the stored payload,
    aligned via the recorded O10 rotation."""
    from . import document as document_mod

    if isinstance(payload, str):
        payload = payload.encode("utf-8")
    doc = document_mod.extract_document(url, payload, warc_ts, lang=lang,
                                        config=config)
    rows: list[dict] = []
    kinds_by_page: dict[int, list[str]] = {}
    pixels = _page_pixels(doc, payload) if doc.get("status") == "ok" else {}
    for page in doc.get("pages") or []:
        number = int(page.get("number", 1))
        img = pixels.get(number)
        if img is None:
            continue
        rendered: list[tuple[str, np.ndarray]] = []
        is_raster = (page.get("metadata") or {}).get("dpi") == 350
        if "preprocessed" in kinds and is_raster:
            # the frame itself (P-stage output when the slow path ran, else
            # the upright raw pixels) — save_preprocessed_image,
            # io/artifacts.py:145-173. Raster pages only: a native-PDF
            # page's frame is a synthetic white canvas, not a preprocessed
            # image, and would just ship a blank PNG
            rendered.append(("preprocessed", _to_rgb(img)))
        if "layout" in kinds:
            rendered.append(
                ("layout", layout_overlay(img, page.get("layout_regions") or [])))
        if "text_polygons" in kinds:
            rendered.append(
                ("text_polygons",
                 text_lines_overlay(img, page.get("text_lines") or [])))
        if "tables" in kinds and page.get("tables"):
            rendered.append(("tables", table_overlay(img, page["tables"])))
        if "ocr" in kinds:
            rendered.append(
                ("ocr", ocr_overlay(img, page.get("text_lines") or [],
                                    show_text=show_text)))
        if "combined" in kinds:
            rendered.append(("combined", combined_overlay(img, page)))
        for kind, overlay in rendered:
            rows.append({"doc_id": doc["id"], "url": url, "page": number,
                         "kind": kind, "mime": "image/png",
                         "payload": encode_png(overlay)})
        kinds_by_page[number] = [k for k, _ in rendered]
    rows.append({"doc_id": doc["id"], "url": url, "page": 0,
                 "kind": "summary", "mime": "text/html",
                 "payload": summary_html(doc, kinds_by_page).encode("utf-8")})
    return rows
