"""Rank-and-fuse — combine field candidates from multiple extraction sources.

Semantics pinned to the reference's RankAndFuse (docvision/kie/fuse.py:36-408),
re-expressed over plain dicts so the same logic runs (a) per-document inside an
Arrow UDF batch and (b) is mirrored dataset-level as the relational form
`explode(candidates) -> groupBy(name, value_key).agg(sum(conf*weight)) ->
window rank` in horizon_ocr_python_spark.operators.fuse_relational.

Candidate dict: {source, value, confidence, page?, bbox?, metadata?}
Field dict:     {name, value, data_type, confidence, status, page?, bbox?,
                 chosen_source, candidates: [...], validators: [...]}

Default source weights (orchestrator.py:241-251 / fuse.py:65-71):
donut 1.0, layoutlmv3 0.9, trocr 0.8, tesseract 0.7, ppstructure 0.85;
unknown source 0.5 (fuse.py:307).

Validators V1-V10 run after fusion (`document._apply_validator_status`), as
in the reference (orchestrator.py:516-522), so `validator_priority`
(fuse.py:325-340) sees no pass ratios and is the highest-confidence rule.
The reference's min-confidence prefilter (fuse.py:277-291) is dropped: it
never changes which candidate has the maximum confidence.
"""

from __future__ import annotations

import re
from collections import defaultdict
from typing import Any, Optional

DEFAULT_SOURCE_WEIGHTS = {
    "donut": 1.0,
    "layoutlmv3": 0.9,
    "trocr": 0.8,
    "tesseract": 0.7,
    "ppstructure": 0.85,
    # our engine's own deterministic sources (same weight family)
    "html_kv": 1.0,
    "html_table": 0.9,
    "pdf_text": 0.95,
    "ocr_fallback": 0.8,  # scanned-PDF glyph recognition (trocr's slot)
    "ocr_table": 0.8,     # raster-path table cells — same OCR provenance
}
UNKNOWN_SOURCE_WEIGHT = 0.5
DEFAULT_STRATEGY = "weighted_vote"  # the reference's default selector
LOW_CONF_THRESHOLD = 0.15     # fuse.py:135


def normalize_field_name(name: str) -> str:
    """lower/strip, spaces and dashes -> underscore (fuse.py:173-175)."""
    return name.lower().strip().replace(" ", "_").replace("-", "_")


def _value_key(value: Any) -> str:
    return str(value).strip().lower()


def looks_like_amount(value: str) -> bool:
    """Plausible monetary amount (fuse.py:484-492)."""
    cleaned = re.sub(r"[$€£¥,\s]", "", value)
    if not re.search(r"\d", cleaned):
        return False
    return bool(re.match(r"^[+-]?\d+\.?\d*$", cleaned))


def looks_like_date_value(value: str) -> bool:
    """Plausible date string (fuse.py:495-507)."""
    if not re.search(r"\d", value):
        return False
    patterns = [
        r"\d{4}[-/]\d{1,2}[-/]\d{1,2}",
        r"\d{1,2}[-/]\d{1,2}[-/]\d{2,4}",
        r"\w+\s+\d{1,2},?\s+\d{4}",
        r"\d{1,2}\s+\w+\s+\d{4}",
    ]
    return any(re.search(p, value) for p in patterns)


def filter_low_quality_fields(fields: list[dict]) -> list[dict]:
    """Post-fusion quality filter (fuse.py:110-171).

    Drops: empty values; single-source fields with conf < 0.15; currency
    fields whose value fails the amount shape; date fields failing date shape.
    """
    kept = []
    for field in fields:
        value = field.get("value")
        value_str = str(value).strip() if value is not None else ""
        if not value_str:
            continue
        num_sources = len({c["source"] for c in field.get("candidates", [])})
        if num_sources <= 1 and field.get("confidence", 0.0) < LOW_CONF_THRESHOLD:
            continue
        if field.get("data_type") == "currency" and not looks_like_amount(value_str):
            continue
        if field.get("data_type") == "date" and not looks_like_date_value(value_str):
            continue
        kept.append(field)
    return kept


def select_highest_confidence(candidates: list[dict]) -> Optional[dict]:
    """max-confidence (fuse.py:277-291); also the `validator_priority` rule.

    Ties break to the earliest candidate (Python max keeps the first maximum),
    matching the reference's list ordering exactly.
    """
    if not candidates:
        return None
    return max(candidates, key=lambda c: c["confidence"])


def select_weighted_vote(candidates: list[dict],
                         source_weights: Optional[dict] = None) -> Optional[dict]:
    """Weighted voting per distinct lowercase value key (fuse.py:293-323).

    score(value) = sum over candidates of conf * weight(source); the returned
    candidate is the highest-confidence one carrying the winning value.
    Tie-break on equal scores: first value to reach the max in insertion order
    (Python max over dict keys), as in the reference.
    """
    if not candidates:
        return None
    weights = source_weights or DEFAULT_SOURCE_WEIGHTS
    value_scores: dict[str, float] = defaultdict(float)
    value_candidates: dict[str, dict] = {}
    for c in candidates:
        key = _value_key(c["value"])
        value_scores[key] += c["confidence"] * weights.get(c["source"], UNKNOWN_SOURCE_WEIGHT)
        if key not in value_candidates or c["confidence"] > value_candidates[key]["confidence"]:
            value_candidates[key] = c
    best_value = max(value_scores.keys(), key=lambda k: value_scores[k])
    return value_candidates.get(best_value)


def select_consensus(candidates: list[dict],
                     source_weights: Optional[dict] = None) -> Optional[dict]:
    """Most-agreed value; falls back to weighted vote when no value repeats
    (fuse.py:342-373)."""
    if not candidates:
        return None
    value_counts: dict[str, int] = defaultdict(int)
    value_candidates: dict[str, list[dict]] = defaultdict(list)
    for c in candidates:
        key = _value_key(c["value"])
        value_counts[key] += 1
        value_candidates[key].append(c)
    max_count = max(value_counts.values())
    if max_count > 1:
        for key, count in value_counts.items():
            if count == max_count:
                return max(value_candidates[key], key=lambda c: c["confidence"])
    return select_weighted_vote(candidates, source_weights)


# The reference's four strategy names -> selector(candidates, source_weights).
# FusionConfig rejects any other name.
SELECTORS = {
    "highest_confidence": lambda c, _: select_highest_confidence(c),
    "weighted_vote": select_weighted_vote,
    "validator_priority": lambda c, _: select_highest_confidence(c),
    "consensus": select_consensus,
}


def determine_status(selected: dict, all_candidates: list[dict]) -> str:
    """Field status rules (fuse.py:375-408); `validated`/`validation_failed`
    are set after fusion (`document._apply_validator_status`)."""
    selected_value = _value_key(selected["value"])
    matching_sources = {c["source"] for c in all_candidates
                        if _value_key(c["value"]) == selected_value}
    if len(matching_sources) >= 2 and selected["confidence"] >= 0.7:
        return "confident"
    if len(matching_sources) == 1:
        return "single_source"
    if selected["confidence"] < 0.5:
        return "uncertain"
    return "confident"


def fuse_single_field(fields: list[dict], strategy: str = DEFAULT_STRATEGY,
                      source_weights: Optional[dict] = None) -> Optional[dict]:
    """Fuse one field group (fuse.py:177-244)."""
    if not fields:
        return None
    if len(fields) == 1:
        return fields[0]

    all_candidates: list[dict] = []
    for field in fields:
        all_candidates.extend(field.get("candidates", []))
        if field.get("chosen_source"):
            main = {
                "source": field["chosen_source"],
                "value": field["value"],
                "confidence": field["confidence"],
                "page": field.get("page"),
                "bbox": field.get("bbox"),
            }
            if not any(c["source"] == main["source"] and c["value"] == main["value"]
                       for c in all_candidates):
                all_candidates.append(main)

    if not all_candidates:
        return fields[0]
    best = SELECTORS[strategy](all_candidates, source_weights)

    return {
        "name": fields[0]["name"],
        "value": best["value"],
        "data_type": fields[0]["data_type"],
        "confidence": best["confidence"],
        "status": determine_status(best, all_candidates),
        "page": best.get("page") or fields[0].get("page"),
        "bbox": best.get("bbox") or fields[0].get("bbox"),
        "chosen_source": best["source"],
        "candidates": all_candidates,
        "validators": [],
    }


def fuse_fields(field_lists: list[list[dict]], strategy: str = DEFAULT_STRATEGY,
                source_weights: Optional[dict] = None) -> list[dict]:
    """Group by normalized name, fuse each group, quality-filter
    (fuse.py:73-108)."""
    field_groups: dict[str, list[dict]] = defaultdict(list)
    for fields in field_lists:
        for field in fields:
            field_groups[normalize_field_name(field["name"])].append(field)

    return filter_low_quality_fields(
        [fuse_single_field(group, strategy, source_weights)
         for group in field_groups.values()])


def boxes_overlap(box1: tuple, box2: tuple, threshold: float = 0.3) -> bool:
    """Overlap ratio vs smaller box area >= threshold (fuse.py:459-476).

    Boxes are (x1, y1, x2, y2) tuples.
    """
    x1, y1 = max(box1[0], box2[0]), max(box1[1], box2[1])
    x2, y2 = min(box1[2], box2[2]), min(box1[3], box2[3])
    if x2 <= x1 or y2 <= y1:
        return False
    intersection = (x2 - x1) * (y2 - y1)
    area1 = (box1[2] - box1[0]) * (box1[3] - box1[1])
    area2 = (box2[2] - box2[0]) * (box2[3] - box2[1])
    smaller = min(area1, area2)
    return (intersection / smaller if smaller > 0 else 0) >= threshold
