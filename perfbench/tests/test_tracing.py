"""Span self-time arithmetic and the kernel span patching."""

import tracing
from tracing import Span, Tracer, layer_self_times, self_times


def _spans():
    # job [0, 10] holds a [1, 4] and b [5, 9]; b holds c [6, 7]
    return [
        Span(0, "driver.job", 0.0, 10.0, None, "t"),
        Span(1, "layer.a/m.a", 1.0, 4.0, 0, "t"),
        Span(2, "layer.b/m.b", 5.0, 9.0, 0, "t"),
        Span(3, "layer.a/m.c", 6.0, 7.0, 2, "t"),
    ]


def test_self_time_subtracts_direct_children_only():
    assert self_times(_spans()) == {0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0}


def test_layer_self_times_sum_to_the_root_duration():
    layers = layer_self_times(_spans())
    assert layers == {"driver.job": 3.0, "layer.a": 4.0, "layer.b": 3.0}
    assert sum(layers.values()) == 10.0


def test_nested_spans_record_parent_and_trace_id():
    tr = Tracer("run")
    with tr.span("outer", trace_id="doc0"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert outer.parent is None and inner.parent == outer.span_id
    assert inner.trace_id == outer.trace_id == "doc0"
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_patched_wraps_every_binding_and_restores():
    from horizon_ocr_python_spark.kernel import pdf_text

    original = pdf_text.sniff_type
    tr = Tracer("run")
    targets = tr.resolve({"kernel.sniff_s": [("pdf_text", "sniff_type")],
                          "kernel.none_s": [("pdf_text", "no_such_*")]},
                         f"{tracing.PKG}.kernel")
    with tr.patched(targets):
        assert pdf_text.sniff_type is not original
        pdf_text.sniff_type(b"%PDF-1.4\n")
    assert pdf_text.sniff_type is original
    assert [s.name for s in tr.spans] == ["kernel.sniff_s/pdf_text.sniff_type"]
    assert tr.unresolved == ["pdf_text.no_such_*"]


def test_replay_spans_cover_extract_document():
    from horizon_ocr_python_spark.sources.pages import make_page

    docs = []
    for i in range(40):
        p = make_page(i, seed=3)
        if p["kind"] in ("html", "pdf"):
            docs.append({k: p[k] for k in ("url", "html", "warc_ts", "lang")})
    out = tracing.replay_kernel(Tracer("run"), docs[:6])
    assert out["kernel.span_coverage"] >= 0.9
    assert out["kernel.html_s"] > 0 and out["kernel.assemble_s"] > 0
    assert out["kernel.ocr_useful_ratio"] == 0.0
