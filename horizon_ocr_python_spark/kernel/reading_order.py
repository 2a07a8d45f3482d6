"""Reading order, deduplication and layout-role heuristics.

Semantics pinned to the reference:
- reading-order sort key (page, y-band of 50px, x)  -> io/reconstruction.py:121-133
- dedup key (text, y-band) per page                 -> io/reconstruction.py:173-199
- region classification by position/aspect          -> detect/layout_doclaynet.py:210-251

Elements are plain dicts {text, page, x, y, width, height, ...}. All sorts use
Python's stable sort, matching the reference's `sorted` tie-breaking
(text_craft.py:368; SURVEY §7.5 hard-part 1).
"""

from __future__ import annotations

from typing import Any

Y_BAND_PX = 50  # io/reconstruction.py:131


def reading_order_key(element: dict[str, Any]) -> tuple[int, int, float]:
    """(page, y//50, x) — io/reconstruction.py:120-133."""
    page = element.get("page", 1)
    y = element.get("y", 0)
    x = element.get("x", 0)
    return (page, int(y // Y_BAND_PX), x)


def sort_reading_order(elements: list[dict]) -> list[dict]:
    """Stable sort by reading-order key."""
    return sorted(elements, key=reading_order_key)


def dedup_elements(elements: list[dict]) -> list[dict]:
    """Drop repeats of (text, y-band) within a page, keeping first occurrence
    (io/reconstruction.py:173-199)."""
    seen: dict[int, set[tuple[str, int]]] = {}
    kept = []
    for el in elements:
        page = el.get("page", 1)
        text = str(el.get("text", "")).strip()
        if not text:
            continue
        key = (text, int(el.get("y", 0) // Y_BAND_PX))
        bucket = seen.setdefault(page, set())
        if key in bucket:
            continue
        bucket.add(key)
        kept.append(el)
    return kept


def classify_region_heuristic(x: float, y: float, w: float, h: float,
                              img_w: float, img_h: float) -> str:
    """Position/aspect layout classification
    (detect/layout_doclaynet.py:210-251).

    Order matters and is preserved exactly: header (top 15%) -> footer
    (bottom 15%) -> page_number (bottom corners) -> table (AR>2, tall-ish) ->
    title (near top, AR>3, short) -> text.
    """
    rel_y = y / img_h if img_h else 0.0
    rel_h = h / img_h if img_h else 0.0
    aspect_ratio = w / h if h > 0 else 0.0

    if rel_y < 0.15:
        return "header"
    if rel_y + rel_h > 0.85:
        return "footer"
    if rel_y + rel_h > 0.9 and (x < img_w * 0.2 or x > img_w * 0.8):
        return "page_number"
    if aspect_ratio > 2.0 and rel_h > 0.1:
        return "table"
    if rel_y < 0.3 and aspect_ratio > 3.0 and rel_h < 0.1:
        return "title"
    return "text"


BLOCK_GAP_PX = 20  # layout_doclaynet.py:165: 30x10 dilation bridges
# vertical gaps up to 2*10px, so adjacent text lines fuse into one
# contour block; larger gaps (e.g. title -> body) start a new block


def group_lines_into_blocks(lines: list[dict],
                            gap_px: float = BLOCK_GAP_PX) -> list[list[dict]]:
    """Group y-ordered line dicts (with bbox) into contour-style blocks —
    the granularity the reference's heuristic layout detector emits
    (layout_doclaynet.py:146-209: dilation + contours produce one region
    per PARAGRAPH, not per line). A new block starts when the vertical gap
    to the previous line exceeds `gap_px`."""
    blocks: list[list[dict]] = []
    for ln in sorted(lines, key=lambda l: (l["bbox"][1], l["bbox"][0])):
        if blocks and ln["bbox"][1] - max(
                m["bbox"][3] for m in blocks[-1]) <= gap_px:
            blocks[-1].append(ln)
        else:
            blocks.append([ln])
    return blocks


def _iou(a: tuple, b: tuple) -> float:
    """IoU of (x1,y1,x2,y2) boxes (layout_doclaynet.py:311-325)."""
    x1, y1 = max(a[0], b[0]), max(a[1], b[1])
    x2, y2 = min(a[2], b[2]), min(a[3], b[3])
    if x2 <= x1 or y2 <= y1:
        return 0.0
    inter = (x2 - x1) * (y2 - y1)
    union = ((a[2] - a[0]) * (a[3] - a[1])
             + (b[2] - b[0]) * (b[3] - b[1]) - inter)
    return inter / union if union > 0 else 0.0


def merge_regions_iou(regions: list[dict],
                      iou_threshold: float = 0.5) -> list[dict]:
    """D3 region merge with the reference's exact semantics
    (layout_doclaynet.py:253-309): largest-area first, same-type regions
    with IoU > threshold merge by bbox envelope, the absorbing region's
    confidence is kept. Output is re-sorted into reading order (y, x) —
    a stable-consumption deviation from the reference's area ordering."""
    if len(regions) <= 1:
        return list(regions)
    order = sorted(regions, key=lambda r: -((r["bbox"][2] - r["bbox"][0])
                                            * (r["bbox"][3] - r["bbox"][1])))
    used: set[int] = set()
    merged: list[dict] = []
    for i, ri in enumerate(order):
        if i in used:
            continue
        cur = tuple(ri["bbox"])
        for j in range(i + 1, len(order)):
            if j in used or order[j]["type"] != ri["type"]:
                continue
            if _iou(cur, order[j]["bbox"]) > iou_threshold:
                b = order[j]["bbox"]
                cur = (min(cur[0], b[0]), min(cur[1], b[1]),
                       max(cur[2], b[2]), max(cur[3], b[3]))
                used.add(j)
        merged.append({**ri, "bbox": cur})
    merged.sort(key=lambda r: (r["bbox"][1], r["bbox"][0]))
    return merged


def assemble_raw_text(lines: list[dict]) -> str:
    """`"\\n".join(line.text for line in text_lines if line.text)` —
    pipeline/orchestrator.py:780. This exact join is the byte-identity target."""
    return "\n".join(line["text"] for line in lines if line.get("text"))


def cluster_positions_1d(positions: list[float], threshold: float) -> list[float]:
    """1-D gap clustering: sorted positions whose gap <= threshold merge into
    one cluster; the cluster value is the mean (detect/table_tatr.py:433-453).

    Dataset-level analogue: Window.orderBy + lag + cumsum sessionization
    (operators.sessionize).
    """
    if not positions:
        return []
    ordered = sorted(positions)
    out: list[float] = []
    cluster = [ordered[0]]
    for p in ordered[1:]:
        if p - cluster[-1] <= threshold:
            cluster.append(p)
        else:
            out.append(sum(cluster) / len(cluster))
            cluster = [p]
    out.append(sum(cluster) / len(cluster))
    return out
