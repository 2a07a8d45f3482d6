"""Engine configuration — C7 (reference config.py:24-337: YAML -> nested
dataclasses with env-var fallback; defaults pinned to the reference's).

JSON instead of YAML (no PyYAML in this container; the contract — nested
config file -> typed dataclasses -> env override -> broadcastable dict — is
identical). Env vars use the HSP_<SECTION>_<FIELD> convention and take
precedence over the file, as in the reference's load order.

At scale the resolved dict is what gets broadcast to executors (SURVEY §2.2
P7 "flags = broadcast config"); dataclasses stay driver-side ergonomics.

Every extraction setting gets its default here, once, and is resolved
here: the kernel reads `EngineConfig.to_dict()` as given, with no
per-document fallbacks. The fusion defaults are `kernel.fuse`'s constants
(they are also `fuse_fields`' own defaults); the other literals below are
the only copies, read by `html_extract`'s keyword defaults,
`partitioning.with_length_cap` and the operators that mirror a gate.

Each of the 11 leaves changes some document's output
(tests/test_kernel_config.py::TestEveryLeafChangesOutput): a setting that
cannot change an output is deleted rather than kept as a silent no-op.

The reference's re-OCR selection (targeted_reocr.py:64-67) and Tesseract
reroute (config.py:157) values are not settings here: nothing on the
extraction path reads them, so they stay as the constants that drive the
code that does (`reocr.CONFIDENCE_THRESHOLD` / `IMPROVEMENT_THRESHOLD` /
`MAX_REOCR_LINES`, `operators.extras.REROUTE_BELOW`).
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass, field
from typing import Any, Optional

from . import fuse


@dataclass
class Thresholds:
    """Reference default: config.py:163. The raster-path values below are
    calibrations of this engine's glyph recognizer (kernel.document)."""
    low_confidence: float = 0.5            # config.py:163
    # re-OCR line selection: the reference's 0.70 (config.py:221)
    # recalibrated to the glyph recognizer's scale (kernel.document._ocr_page)
    glyph_reocr_confidence: float = 0.90
    # Standalone-image OCR acceptance: char-weighted mean template
    # confidence the recognized page must reach before its text is
    # believed. Random ink (photos, diagrams, ruled forms) scores ~0.7,
    # genuine glyph print >= 0.95 even after JPEG/preprocess blur, so 0.88
    # cleanly separates document scans from pictures. Scanned PDFs skip
    # this gate: a PDF with no text layer but embedded page images already
    # declares the content a document.
    image_text_gate: float = 0.88
    # Early junk floor for standalone images: raw recognition scoring this
    # far below the gate cannot plausibly be lifted past it by the
    # enhancement chain (measured: pictures ~0.72, genuine scans ~1.0;
    # borderline 0.80-0.88 pages still get the full enhancement chance).
    # Skipping preprocess + re-OCR on obvious non-documents saves ~60ms/row.
    picture_floor: float = 0.80
    # Minimum evidence for image-text acceptance (absent a table): the gate
    # score is a char-weighted mean, so a single noise cell within Hamming
    # tolerance of one template (~0.2% of random-noise images, found by
    # fuzzing: a lone ';' at conf 0.89) could clear it alone. Real scans
    # carry tens of characters (corpus minimum observed: 69 non-space).
    min_image_text_chars: int = 8


@dataclass
class FusionConfig:
    """Reference defaults: orchestrator.py:241-251 / fuse.py:44-71."""
    strategy: str = fuse.DEFAULT_STRATEGY
    source_weights: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.strategy not in fuse.SELECTORS:
            raise ValueError(f"unknown fusion strategy {self.strategy!r}; "
                             f"expected one of {sorted(fuse.SELECTORS)}")
        # user weights MERGE over the kernel defaults: a config written
        # before a kernel source existed must not demote that source to
        # the unknown-source weight; explicit keys still override
        self.source_weights = {**fuse.DEFAULT_SOURCE_WEIGHTS,
                               **(self.source_weights or {})}


@dataclass
class ExtractionConfig:
    max_payload_bytes: int = 8 * 1024 * 1024   # engine length cap
    min_block_chars: int = 3       # shorter HTML blocks are noise
    max_link_density: float = 0.33  # nav-like: > 1/3 of chars inside <a>
    min_text_density: float = 0.0  # chars/(1+tags); 0 = off


@dataclass
class EngineConfig:
    thresholds: Thresholds = field(default_factory=Thresholds)
    fusion: FusionConfig = field(default_factory=FusionConfig)
    extraction: ExtractionConfig = field(default_factory=ExtractionConfig)

    def to_dict(self) -> dict:
        return dataclasses.asdict(self)


_SECTIONS = {"thresholds": Thresholds, "fusion": FusionConfig,
             "extraction": ExtractionConfig}


def _coerce(value: str, target_type: type) -> Any:
    if target_type is int:
        return int(value)
    if target_type is float:
        return float(value)
    if target_type is dict:
        return json.loads(value)
    return value


def load_config(path: Optional[str] = None,
                data: Optional[dict] = None,
                env: Optional[dict] = None) -> EngineConfig:
    """Build EngineConfig from (in increasing precedence): dataclass
    defaults -> JSON file / dict -> HSP_* environment variables.

    Unknown file keys raise (the reference's Pydantic-style validation at
    the config boundary); unknown env vars are ignored (they may belong to
    other tools).
    """
    if path is not None:
        with open(path) as fh:
            data = json.load(fh)
    data = data or {}
    env = os.environ if env is None else env

    sections: dict[str, Any] = {}
    for name, cls in _SECTIONS.items():
        file_part = data.get(name, {})
        valid = {f.name: f for f in dataclasses.fields(cls)}
        unknown = set(file_part) - set(valid)
        if unknown:
            raise ValueError(f"unknown config keys in '{name}': {sorted(unknown)}")
        kwargs = dict(file_part)
        for fname, fdef in valid.items():
            env_key = f"HSP_{name.upper()}_{fname.upper()}"
            if env.get(env_key):  # empty value == unset, not an override
                ftype = (type(fdef.default) if fdef.default is not
                         dataclasses.MISSING else dict)
                kwargs[fname] = _coerce(env[env_key], ftype)
        sections[name] = cls(**kwargs)

    extra = set(data) - set(_SECTIONS)
    if extra:
        raise ValueError(f"unknown config sections: {sorted(extra)}")
    return EngineConfig(**sections)
