"""Rich table model: spanning cells + accessors.

Mirrors the reference's Table/Cell types (types.py:161-198): each cell
carries (row, col, row_span, col_span, text, is_header, bbox), and the
accessors resolve span coverage — get_cell(r, c) returns the cell COVERING
the position, get_row_texts/get_col_texts place the covering cell's text in
every covered slot. TATR emits spanning cells (table_tatr.py:455-517,
label 5); on the HTML path the same structure comes from colspan/rowspan.

Tables are plain dicts (Arrow-friendly):
    {"rows": [[str]], "cells": [cell], "n_rows": int, "n_cols": int}
where "rows" is the span-EXPANDED text grid (the get_row_texts view) so the
flat-grid consumers (markdown, label/value field mining) keep working.
"""

from __future__ import annotations

from typing import Optional


def make_cell(row: int, col: int, text: str, row_span: int = 1,
              col_span: int = 1, is_header: bool = False,
              bbox: Optional[tuple] = None) -> dict:
    return {"row": int(row), "col": int(col),
            "row_span": max(1, int(row_span)),
            "col_span": max(1, int(col_span)),
            "text": text, "is_header": bool(is_header), "bbox": bbox}


def get_cell(table: dict, row: int, col: int) -> Optional[dict]:
    """The cell covering (row, col), span-aware (types.py:185-189)."""
    for cell in table.get("cells") or []:
        if (cell["row"] <= row < cell["row"] + cell["row_span"]
                and cell["col"] <= col < cell["col"] + cell["col_span"]):
            return cell
    return None


def get_row_texts(table: dict, row: int) -> list[str]:
    """Texts of one row, covering cell's text in each covered slot
    (types.py:191-194)."""
    return [(c["text"] if (c := get_cell(table, row, col)) else "")
            for col in range(table.get("n_cols", 0))]


def get_col_texts(table: dict, col: int) -> list[str]:
    """Texts of one column, span-aware (types.py:196-198)."""
    return [(c["text"] if (c := get_cell(table, row, col)) else "")
            for row in range(table.get("n_rows", 0))]


def from_html_rows(html_rows: list[list[dict]]) -> dict:
    """Build the rich table from parsed HTML rows of
    {"text", "colspan", "rowspan", "is_header"} dicts, assigning grid
    positions with the standard HTML table algorithm: each row's cells fill
    the leftmost slots not occupied by earlier rowspans."""
    occupied: set[tuple[int, int]] = set()
    cells: list[dict] = []
    n_rows = n_cols = 0
    for r, row in enumerate(html_rows):
        c = 0
        for h in row:
            while (r, c) in occupied:
                c += 1
            cell = make_cell(r, c, h["text"],
                             row_span=h.get("rowspan", 1),
                             col_span=h.get("colspan", 1),
                             is_header=h.get("is_header", False))
            cells.append(cell)
            for rr in range(r, r + cell["row_span"]):
                for cc in range(c, c + cell["col_span"]):
                    occupied.add((rr, cc))
            n_rows = max(n_rows, r + cell["row_span"])
            n_cols = max(n_cols, c + cell["col_span"])
            c += cell["col_span"]
    table = {"cells": cells, "n_rows": n_rows, "n_cols": n_cols}
    table["rows"] = [get_row_texts(table, r) for r in range(n_rows)]
    return table


# --- raster (scanned-page) table detection -----------------------------------
# The borderless-table path for recognized glyph pages: column structure is
# found from WHITESPACE ALIGNMENT across consecutive lines — the same 1-D
# gap clustering idea as D13 (reference table_structure fallback; our
# kernel/reading_order.cluster_positions_1d twin), driven purely by the
# recognizer's fixed-pitch geometry. A run of >=2 consecutive lines, each
# splitting into the same >=2 column segments at aligned x-starts, becomes
# a Table whose cells carry REAL pixel bboxes (so strategy-4 anchoring
# works on scanned documents — the reference's image-cell capability, O8).

import re as _re

_GAP_RE = _re.compile(r" {3,}")


def split_segments(line: dict) -> list[dict]:
    """Split a recognized line into column segments at runs of >=3 space
    cells. Uses the glyph geometry: char index i sits at x + i*pitch."""
    text = line["text"]
    size = float(line.get("font_size") or 14.0)
    s = size / 7.0
    pitch = 6.0 * s
    x0 = float(line["x"])
    y0 = float(line["bbox"][1]) if line.get("bbox") else 0.0
    bounds = []
    prev = 0
    for m in _GAP_RE.finditer(text):
        if prev < m.start():
            bounds.append((prev, m.start()))
        prev = m.end()
    if prev < len(text):
        bounds.append((prev, len(text)))
    return [{
        "text": text[a:b],
        "x": x0 + a * pitch,
        "bbox": (x0 + a * pitch, y0, x0 + b * pitch - s, y0 + size),
    } for a, b in bounds]


# --- page-column detection (multi-column scans) -------------------------------
# The reference's D6 fallback detector finds per-column text boxes before
# reading order runs (text_craft.py:275-351: a 30x1 horizontal dilation
# cannot bridge a wide column gutter, so side-by-side columns arrive as
# separate boxes). Our row-projection recognizer bands full page width, so
# two side-by-side columns in one y-band read as one interleaved line; this
# pass restores the reference shape by finding the dominant vertical
# whitespace valley shared by (almost) every line and cutting each line at
# it. Downstream, the standard (y-band, x) reading-order sort makes the
# result column-major within bands (reference D7 row-major over per-column
# boxes).

MIN_COL_LINES = 6       # lines with ink on BOTH sides needed to call it a gutter
COL_BLANK_FRAC = 0.85   # fraction of lines that must be blank across the valley
MIN_COL_GAP_PX = 24.0   # narrower gaps are intra-table/kv spacing, not gutters


def split_page_columns(lines: list[dict],
                       _depth: int = 0) -> list[list[dict]]:
    """Detect the dominant column gutter over recognized lines and split
    every line crossing it, then recurse into each side (up to 4 columns —
    the reference's D6 produces one box per column however many there
    are). Returns a list of per-column line lists (1 list when no gutter
    is found — the single-column fast path is bit-for-bit unchanged).
    Crossing lines whose ink spans the valley (e.g. a full-width title)
    are kept whole and assigned to the column their x starts in.
    """
    import numpy as np

    if len(lines) < MIN_COL_LINES + 1:
        return [lines]
    boxed = [ln for ln in lines if ln.get("bbox")]
    if len(boxed) < MIN_COL_LINES + 1:
        return [lines]
    x_min = min(ln["bbox"][0] for ln in boxed)
    x_max = max(ln["bbox"][2] for ln in boxed)
    w = int(x_max - x_min) + 1
    if w <= MIN_COL_GAP_PX:
        return [lines]
    occ = np.zeros((len(boxed), w), dtype=bool)
    for i, ln in enumerate(boxed):
        for wd in ln.get("words") or []:
            b = wd.get("bbox")
            if b is None:
                continue
            a, z = int(b[0] - x_min), int(np.ceil(b[2] - x_min))
            occ[i, max(0, a):max(0, z)] = True
    cover = occ.sum(axis=0)
    n = len(boxed)
    blank = cover <= int((1.0 - COL_BLANK_FRAC) * n)
    from .glyphs import _bands  # same (start, end_inclusive) run semantics

    best = None
    for a, b in _bands(blank):
        if b - a + 1 < MIN_COL_GAP_PX or a == 0 or b == w - 1:
            continue  # too narrow, or a page margin rather than a gutter
        both = int((occ[:, :a].any(axis=1) & occ[:, b + 1:].any(axis=1)).sum())
        if both < MIN_COL_LINES:
            continue
        if best is None or (b - a) > (best[1] - best[0]):
            best = (a, b)
    if best is None:
        return [lines]
    valley_x = x_min + (best[0] + best[1] + 1) / 2.0
    left_col: list[dict] = []
    right_col: list[dict] = []
    for ln in lines:
        box = ln.get("bbox")
        if box is None or box[2] <= valley_x:
            left_col.append(ln)
            continue
        if box[0] >= valley_x:
            right_col.append(ln)
            continue
        piece = _cut_line_at(ln, valley_x)
        if piece is None:
            # ink crosses the valley (title): keep whole. Any line
            # reaching here spans the valley (box[0] < valley_x < box[2]),
            # so it starts in — and is assigned to — the left column.
            left_col.append(ln)
        else:
            left_col.append(piece[0])
            right_col.append(piece[1])
    if _depth >= 1:  # 2 recursion levels -> at most 4 columns
        out = [left_col, right_col]
    else:
        out = (split_page_columns(left_col, _depth + 1)
               + split_page_columns(right_col, _depth + 1))
    return [col for col in out if col] or [[]]


def _cut_line_at(ln: dict, valley_x: float) -> tuple[dict, dict] | None:
    """Cut one recognized line at the >=3-space gap covering `valley_x`;
    None when no such gap exists (the line's ink crosses the valley)."""
    text = ln["text"]
    size = float(ln.get("font_size") or 14.0)
    s = size / 7.0
    pitch = 6.0 * s
    x0 = float(ln["x"])
    cut = None
    for m in _GAP_RE.finditer(text):
        if x0 + m.start() * pitch <= valley_x <= x0 + m.end() * pitch:
            cut = m
            break
    if cut is None:
        return None
    y0, y1 = float(ln["bbox"][1]), float(ln["bbox"][3])

    def _side(a: int, b: int) -> dict:
        side_text = text[a:b]
        sx = x0 + a * pitch
        words = [wd for wd in ln.get("words") or []
                 if wd.get("bbox") is not None
                 and (wd["bbox"][0] + wd["bbox"][2]) / 2.0 >= sx - pitch / 2
                 and (wd["bbox"][0] + wd["bbox"][2]) / 2.0
                 <= sx + len(side_text) * pitch]
        chars = sum(len(wd["text"]) for wd in words)
        conf = (round(sum(wd["confidence"] * len(wd["text"])
                          for wd in words) / chars, 4)
                if chars else ln.get("confidence", 0.0))
        return {**ln, "text": side_text, "x": sx,
                "bbox": (sx, y0, sx + len(side_text) * pitch - s, y1),
                "confidence": conf, "words": words}

    return _side(0, cut.start()), _side(cut.end(), len(text))


def detect_raster_tables(lines: list[dict], page: int = 1,
                         min_rows: int = 2) -> tuple[list[dict], set[int]]:
    """Detect borderless tables in recognized lines (one page).

    Returns (tables, consumed_line_indices). A table is a maximal run of
    consecutive lines with the same >=2 column segmentation, x-starts
    aligned within half a glyph pitch."""
    segs = [split_segments(ln) for ln in lines]
    tables: list[dict] = []
    consumed: set[int] = set()
    i = 0
    while i < len(lines):
        if len(segs[i]) < 2:
            i += 1
            continue
        s = float(lines[i].get("font_size") or 14.0) / 7.0
        tol = 3.0 * s  # half a cell pitch
        run = [i]
        j = i + 1
        while (j < len(lines) and len(segs[j]) == len(segs[i])
               and all(abs(a["x"] - b["x"]) <= tol
                       for a, b in zip(segs[j], segs[i]))):
            run.append(j)
            j += 1
        if len(run) >= min_rows:
            cells = []
            for r, li in enumerate(run):
                for c, seg in enumerate(segs[li]):
                    cell = make_cell(r, c, seg["text"], bbox=seg["bbox"])
                    cell["page"] = page
                    cells.append(cell)
            n_cols = len(segs[i])
            table = {"cells": cells, "n_rows": len(run), "n_cols": n_cols,
                     "page": page}
            table["rows"] = [get_row_texts(table, r) for r in range(len(run))]
            tables.append(table)
            consumed.update(run)
            i = j
        else:
            i += 1
    return tables, consumed
