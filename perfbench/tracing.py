"""The traced run's span recorder and the layers it measures.

Spans are recorded by the benchmark around calls into the engine's public
functions: the module attributes are swapped for timing wrappers while a
traced region runs and restored after. No engine code is edited.

- Driver spans: the engine calls a timed job makes (`run_extraction`,
  `commit_snapshot`, ...), one trace id per job.
- Kernel spans: a single-process replay of a sample of the workload's
  documents through `extract_document`, one trace id per document.

Self time of a span is its duration minus the time its child spans cover;
a layer's time is the summed self time of its spans.
"""

from __future__ import annotations

import contextlib
import fnmatch
import importlib
import inspect
import pkgutil
import statistics
import sys
import time
from dataclasses import asdict, dataclass

# Engine module -> the public functions a timed job calls.
ENGINE_SPANS = {
    "pipeline": ["run_extraction"],
    "checkpoint": ["committed_keys", "filter_uncommitted", "commit_snapshot"],
    "partitioning": ["with_length_cap", "salted_repartition"],
    "extract": ["extract_stage", "extracted_metrics"],
}

# Kernel layer -> (module, function-name pattern) of the spans it sums.
KERNEL_LAYERS = {
    "kernel.sniff_s": [("pdf_text", "sniff_type")],
    "kernel.html_s": [("html_extract", "extract_html")],
    "kernel.pdf_text_s": [("pdf_text", "extract_pdf")],
    "kernel.pdf_images_s": [("pdf_text", "extract_pdf_images")],
    "kernel.jpeg_decode_s": [("jpeg", "decode_jpeg")],
    "kernel.png_decode_s": [("png", "decode_png")],
    "kernel.preprocess_s": [("preprocess", "*")],
    "kernel.ocr_s": [("glyphs", "recognize_*"), ("reocr", "process_lines")],
    "kernel.raster_tables_s": [("table_model", "*")],
    "kernel.kie_s": [("kie", "extract_kv_fields")],
    "kernel.fuse_s": [("fuse", "fuse_fields")],
    "kernel.validate_s": [("validators", "*")],
    "kernel.assemble_s": [("document", "extract_document")],
}

PKG = "horizon_ocr_python_spark"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the summed duration of its direct children.

    Spans of one thread nest (a child lies inside its parent), so the
    children's durations are the part of the parent's interval they cover."""
    out = {s.span_id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Summed self time per layer; a span's layer is its name up to '/'."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s.name.split("/", 1)[0]
        out[layer] = out.get(layer, 0.0) + own[s.span_id]
    return out


class Tracer:
    """Records spans in memory; the run writes `records()` to its trace
    file when it ends."""

    def __init__(self, trace_id: str):
        self.spans: list[Span] = []
        self.unresolved: list[str] = []
        self._stack: list[int] = []
        self.current = trace_id

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if trace_id is not None:
            self.current = trace_id
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.current)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()

    def _wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self, targets: dict[str, list]):
        """Swap every binding of each target function, in every loaded
        module of the engine package, for a span-recording wrapper.

        `targets` maps a layer name to the functions whose spans it sums."""
        swaps = []
        modules = [m for n, m in list(sys.modules.items())
                   if n == PKG or n.startswith(PKG + ".")]
        for layer, fns in targets.items():
            for fn in fns:
                short = fn.__module__.rsplit(".", 1)[-1]
                wrapper = self._wrap(f"{layer}/{short}.{fn.__name__}", fn)
                for mod in modules:
                    for attr, val in list(vars(mod).items()):
                        if val is fn:
                            swaps.append((mod, attr, fn))
                            setattr(mod, attr, wrapper)
        try:
            yield
        finally:
            for mod, attr, fn in reversed(swaps):
                setattr(mod, attr, fn)

    def resolve(self, spec: dict[str, list[tuple[str, str]]], package: str):
        """Layer -> functions matching (module, pattern) under `package`.
        Names that match nothing are kept in `unresolved` for the trace file
        (a renamed function then reads as an empty layer, not a crash)."""
        out = {}
        for layer, pats in spec.items():
            fns = []
            for mod_name, pattern in pats:
                mod = importlib.import_module(f"{package}.{mod_name}")
                found = [f for n, f in vars(mod).items()
                         if inspect.isfunction(f) and f.__module__ == mod.__name__
                         and not n.startswith("_") and fnmatch.fnmatchcase(n, pattern)]
                if not found:
                    self.unresolved.append(f"{mod_name}.{pattern}")
                fns += found
            out[layer] = fns
        return out

    @contextlib.contextmanager
    def engine_spans(self, trace_id: str):
        """Driver spans around the engine calls of one timed job."""
        spec = {f"driver.{m}": [(m, n) for n in names]
                for m, names in ENGINE_SPANS.items()}
        with self.patched(self.resolve(spec, f"{PKG}.engine")), \
                self.span("driver.job", trace_id=trace_id):
            yield

    def records(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def time_session_warmup(spark) -> float:
    """`setup_s` with the warmup on minus `setup_s` with HSP_WARM_PYTHON=0:
    the session was built with the switch off, so this runs the warmup the
    switch skips, on the same session, and times it."""
    from horizon_ocr_python_spark.engine import session

    t = time.perf_counter()
    session._warm_python_runner(spark)  # noqa: SLF001 — the switched-off step
    return time.perf_counter() - t


def _import_kernel() -> None:
    """Load every kernel module so `patched` sees all bindings, including
    names imported by value at module level."""
    kernel = importlib.import_module(f"{PKG}.kernel")
    for info in pkgutil.iter_modules(kernel.__path__):
        importlib.import_module(f"{PKG}.kernel.{info.name}")


def replay_kernel(tracer: Tracer, docs: list[dict]) -> dict[str, float]:
    """Replay `docs` through `extract_document` in this process: once cold
    and untraced (counts JPEG LUT builds), once traced, once warm and
    untraced (the traced pass's baseline)."""
    _import_kernel()
    from horizon_ocr_python_spark.kernel import document, jpeg

    def run(trace: bool) -> tuple[float, list[dict]]:
        outs, total = [], 0.0
        for n, d in enumerate(docs):
            if trace:
                tracer.current = f"doc{n}"
            t = time.perf_counter()
            # looked up per call: the traced pass sees the wrapper
            outs.append(document.extract_document(d["url"], d["html"],
                                                  d["warc_ts"], d["lang"]))
            total += time.perf_counter() - t
        return total, outs

    luts_before = jpeg._ac_multi_lut.cache_info().misses  # noqa: SLF001
    run(False)
    lut_builds = jpeg._ac_multi_lut.cache_info().misses - luts_before  # noqa: SLF001

    first = len(tracer.spans)
    with tracer.patched(tracer.resolve(KERNEL_LAYERS, f"{PKG}.kernel")):
        traced_s, outs = run(True)
    plain_s, _ = run(False)

    spans = tracer.spans[first:]
    layers = layer_self_times(spans)
    out = {name: layers.get(name, 0.0) for name in KERNEL_LAYERS}
    covered = sum(out.values())
    ocr_docs = {s.trace_id for s in spans if s.name.startswith("kernel.ocr_s/")}
    useful = sum(1 for n, o in enumerate(outs)
                 if f"doc{n}" in ocr_docs and o.get("raw_text"))
    out.update({
        "kernel.jpeg_lut_builds": float(lut_builds),
        "kernel.ocr_useful_ratio": useful / len(ocr_docs) if ocr_docs else 0.0,
        "kernel.span_coverage": covered / traced_s if traced_s else 0.0,
        "kernel.docs_replayed": float(len(docs)),
        "trace.kernel_overhead": traced_s / plain_s if plain_s else 0.0,
    })
    return out


def median_layers(per_job: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in per_job) for k in per_job[0]}
