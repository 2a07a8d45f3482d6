"""Round-5 contract closure tests.

Covers the round-4 VERDICT "next round" list:
1. per-field validators[] + normalized_value (JSON_SCHEMA.md:79,
   types.py:224, fixture contract tests/test_markdown.py:131-146)
2. TextLine/Word confidence/source/content_type + PageMetadata.dpi
   (types.py:129-149, 243-250)
3. R5 estimated styles on raster lines (orchestrator.py:606-629/775-777 ->
   pdf_style_extractor.py:192-258)
4. P1 dewarp by default (reference config.py:113) + byte-identical text on
   a perspective-warped fixture; full-bleed scans stay untouched
5. P8/P9 on preprocessed pixels (orchestrator.py:655-665)
+ round-4 ADVICE: source-weight merge, first-surviving-page dims, jpeg LUT
  immutability.
"""

import numpy as np
import pytest

from horizon_ocr_python_spark.kernel import (document, glyphs, png,
                                             preprocess, style_merge,
                                             validators)
from horizon_ocr_python_spark.kernel.config import (EngineConfig,
                                                    FusionConfig, load_config)

CFG = EngineConfig().to_dict()

# --- warped-page fixture -----------------------------------------------------

WARP_LINES = [(36, 72, "Warped scan alpha beta", 3),
              (36, 140, "Invoice: INV-55001234", 3),
              (36, 190, "Total: $987.65", 3)]
WARP_TEXT = [t for _, _, t, _ in WARP_LINES]


def warp_into_canvas(page: np.ndarray, margin: int = 60,
                     pull: tuple = (10, 6), bg: int = 230):
    """Embed `page` into a larger canvas, perspective-warped: the top-right
    corner is pulled inward by `pull` px (a photographed page lying at a
    slight angle). The bottom and left sides keep their full length, so the
    engine's dewarp output size equals the page size and the composite
    (embed-then-correct) homography is identity on the corners."""
    H, W = page.shape
    ch, cw = H + 2 * margin, W + 2 * margin
    quad = np.array([[margin, margin],
                     [margin + W - pull[0], margin + pull[1]],
                     [margin + W, margin + H],
                     [margin, margin + H]], dtype=np.float64)
    src_rect = np.array([[0, 0], [W - 1, 0], [W - 1, H - 1], [0, H - 1]],
                        dtype=np.float64)
    hm = preprocess._homography(quad, src_rect)
    yy, xx = np.mgrid[0:ch, 0:cw].astype(np.float64)
    denom = hm[2, 0] * xx + hm[2, 1] * yy + hm[2, 2]
    sx = (hm[0, 0] * xx + hm[0, 1] * yy + hm[0, 2]) / denom
    sy = (hm[1, 0] * xx + hm[1, 1] * yy + hm[1, 2]) / denom
    inside = (sx >= -0.5) & (sx <= W - 0.5) & (sy >= -0.5) & (sy <= H - 0.5)
    sxc = np.clip(np.rint(sx).astype(int), 0, W - 1)
    syc = np.clip(np.rint(sy).astype(int), 0, H - 1)
    return np.where(inside, page[syc, sxc], bg).astype(np.uint8), quad


class TestDewarpDefault:
    def test_dewarp_is_default_on(self):
        import inspect
        sig = inspect.signature(preprocess.preprocess_for_ocr)
        assert sig.parameters["dewarp"].default is True  # ref config.py:113

    def test_full_bleed_scan_has_no_quad(self):
        """A page filling the frame must be a dewarp no-op (the reference's
        contour detector finds no page outline) — byte identity of the
        existing scanned corpus depends on it."""
        page = glyphs.render_page(WARP_LINES)
        assert preprocess.detect_page_quad(page) is None

    def test_degenerate_quad_rejected(self):
        """A gradient 'picture' whose bright-mask extreme points nearly
        coincide must not produce a singular homography."""
        yy, xx = np.mgrid[0:64, 0:32]
        grad = ((xx * 8) % 256).astype(np.uint8)
        out = preprocess.perspective_correction(grad)  # must not raise
        assert out.shape[0] > 0

    def test_warped_quad_detected_exactly(self):
        page = glyphs.render_page(WARP_LINES)
        canvas, quad = warp_into_canvas(page)
        det = preprocess.detect_page_quad(canvas)
        assert det is not None
        assert np.abs(preprocess.order_points(det) - quad).max() <= 2.0

    def test_warped_page_byte_identical(self):
        """The P1 acceptance bar: dewarp recovers the warped page's text
        byte-for-byte through the full raster chain."""
        page = glyphs.render_page(WARP_LINES)
        canvas, _ = warp_into_canvas(page)
        ocr = document._ocr_page(canvas, 1, CFG)
        assert [ln["text"] for ln in ocr["text_lines"]] == WARP_TEXT

    def test_warped_standalone_image_extracts(self):
        """End-to-end: a PNG photo of a warped document routes through the
        raster path and extracts byte-identical text + fields."""
        page = glyphs.render_page(WARP_LINES)
        canvas, _ = warp_into_canvas(page)
        enc = png.encode_png(np.stack([canvas] * 3, axis=-1))
        doc = document.extract_document("https://x/warped.png", enc)
        assert doc["status"] == "ok"
        assert doc["raw_text"] == "\n".join(WARP_TEXT)
        names = {f["name"]: f for f in doc["fields"]}
        assert names["total"]["value"] == "$987.65"

    def test_junk_floor_spares_pages_with_quad(self):
        """The picture short-circuit must not swallow a photographed
        document: raw recognition on the warped canvas scores below a
        strict floor, but the visible page quad grants the full chain."""
        page = glyphs.render_page(WARP_LINES)
        canvas, _ = warp_into_canvas(page)
        _, _, raw_score = glyphs.recognize_with_osd(
            preprocess.to_gray(canvas) if canvas.ndim == 3 else canvas)
        floor = round(raw_score + 0.03, 2)  # strictly above the raw score
        ocr = document._ocr_page(canvas, 1, CFG, junk_floor=floor)
        assert [ln["text"] for ln in ocr["text_lines"]] == WARP_TEXT

    def test_junk_floor_still_skips_quadless_pictures(self):
        rng = np.random.default_rng(7)
        noise = rng.integers(0, 255, (640, 520), dtype=np.uint8)
        ocr = document._ocr_page(noise, 1, CFG, junk_floor=0.99)
        assert ocr["text_lines"] == [] and ocr["score"] < 0.99


class TestRasterLineObservables:
    """Round-4 VERDICT missing #2/#3: confidence/source/content_type/styles
    on raster lines."""

    @pytest.fixture(scope="class")
    def scan_doc(self):
        from horizon_ocr_python_spark.kernel import pdf_text
        page = glyphs.render_page(WARP_LINES)
        pdf = pdf_text.build_scanned_pdf([page])
        return document.extract_document("https://x/scan.pdf", pdf)

    def test_lines_carry_confidence_and_source(self, scan_doc):
        assert scan_doc["status"] == "ok"
        for tl in scan_doc["pages"][0]["text_lines"]:
            assert 0.0 < tl["confidence"] <= 1.0
            assert tl["source"] in ("ocr", "ocr_enhanced")
            assert tl["content_type"] in ("printed", "handwritten", "mixed")

    def test_lines_carry_estimated_style(self, scan_doc):
        for tl in scan_doc["pages"][0]["text_lines"]:
            st = tl["style"]
            assert st is not None and st["source"] == "estimated"
            assert 6.0 <= st["font_size"] <= 72.0
            assert st["color"] == "#000000"

    def test_page_metadata_dpi(self, scan_doc):
        assert scan_doc["pages"][0]["metadata"]["dpi"] == 350  # types.py:247

    def test_native_pdf_line_observables(self):
        from horizon_ocr_python_spark.sources import pages as src
        for i in range(200):
            p = src.make_page(i, seed=42)
            doc = document.extract_document(p["url"], p["html"],
                                            p["warc_ts"], p["lang"])
            if doc["metadata"]["file_type"] == "pdf" and \
                    doc["pages"] and doc["pages"][0]["text_lines"]:
                tl = doc["pages"][0]["text_lines"][0]
                if tl["source"] == "pdf_text":
                    assert tl["confidence"] == 1.0
                    assert doc["pages"][0]["metadata"]["dpi"] == 72
                    return
        pytest.skip("no native-PDF page in the first 200 seeds")

    def test_reocr_marks_source_enhanced(self):
        """A hazy line below the re-OCR threshold is recomputed and marked
        ocr_enhanced (O7/O4), observable per line."""
        page = glyphs.render_page([(36, 72, "hazy line of text", 2)]).copy()
        page[page < 128] = 110  # fade the ink toward the threshold
        ocr = document._ocr_page(page, 1, CFG)
        srcs = {tl["source"] for tl in ocr["text_lines"]}
        assert srcs <= {"ocr", "ocr_enhanced"} and srcs


class TestEstimateStyleRules:
    """Pin the estimator to pdf_style_extractor.py:192-258."""

    def test_clamps_and_round(self):
        st = style_merge.estimate_style_from_bbox("x", 4.0, 500.0, 792.0)
        assert st["font_size"] == 6.0
        st = style_merge.estimate_style_from_bbox("x", 200.0, 500.0, 792.0)
        assert st["font_size"] == 72.0

    def test_title_role_from_position(self):
        st = style_merge.estimate_style_from_bbox("Big Top", 24.0, 30.0, 792.0)
        assert st["font_name"] == "Arial"  # title => header font
        assert st["bold"] is False  # not ALL CAPS, no explicit role

    def test_allcaps_bold_and_confidence(self):
        st = style_merge.estimate_style_from_bbox("TOTAL", 14.0, 700.0, 792.0)
        assert st["bold"] is True
        assert st["confidence"] == 0.6  # 0.5 + 0.1 caps

    def test_explicit_role_bold_and_confidence(self):
        st = style_merge.estimate_style_from_bbox("Header", 14.0, 10.0, 792.0,
                                                  role="title")
        assert st["bold"] is True and st["confidence"] == 0.65

    def test_body_font(self):
        st = style_merge.estimate_style_from_bbox("body text", 13.0, 500.0,
                                                  792.0)
        assert st["font_name"] == "Times New Roman"
        assert st["source"] == "estimated" and st["italic"] is False


class TestNormalizedValue:
    """types.py:224 + the reference's own fixture (test_markdown.py:131-146):
    date -> ISO, currency $500.00 -> 500.00, string -> unchanged."""

    def _run(self, name, dtype, value):
        f = {"name": name, "data_type": dtype, "value": value,
             "confidence": 0.9, "status": "confident"}
        document._apply_validator_status(
            [f], None, CFG["thresholds"]["low_confidence"])
        return f

    def test_date_to_iso(self):
        f = self._run("invoice_date", "date", "03/15/2024")
        assert f["normalized_value"] == "2024-03-15"
        assert any(r["name"] == "date" and r["passed"]
                   for r in f["validators"])

    def test_currency_two_decimals(self):
        f = self._run("total", "currency", "$500.00")
        assert f["normalized_value"] == "500.00"

    def test_currency_eu_format(self):
        f = self._run("total", "currency", "1.234,56")
        assert f["normalized_value"] == "1234.56"

    def test_string_passthrough(self):
        f = self._run("invoice_number", "string", "INV-12345")
        assert f["normalized_value"] == "INV-12345"

    def test_unparseable_date_is_none(self):
        f = self._run("due_date", "date", "not a date")
        assert f["normalized_value"] is None
        assert f["status"] == "validation_failed"

    def test_negative_amount_keeps_parse(self):
        r = validators.validate_amount("-12.50")
        assert r["passed"] is False and r["parsed_value"] == -12.5

    def test_none_value(self):
        f = self._run("total", "currency", None)
        assert f["normalized_value"] is None


class TestAdviceFixes:
    def test_source_weights_merge_over_defaults(self):
        """Round-4 ADVICE: a pre-round-4 config without ocr_fallback must
        not demote raster sources to the unknown-source weight — whether
        the config is loaded or an EngineConfig is built directly."""
        user = {"donut": 0.3}
        for cfg in (load_config(data={"fusion": {"source_weights": user}},
                                env={}),
                    EngineConfig(fusion=FusionConfig(source_weights=user))):
            weights = cfg.to_dict()["fusion"]["source_weights"]
            assert weights["donut"] == 0.3
            assert weights["ocr_fallback"] == 0.8
            assert weights["ocr_table"] == 0.8

    def test_first_surviving_page_dims(self):
        """A corrupt page 1 must not pin letter dims onto a real scan."""
        page = glyphs.render_page(WARP_LINES)
        ocr = document._ocr_page(page, 2, CFG)
        doc = document._assemble_from_ocr(
            "https://x/p.pdf", b"%PDF", None, "", None, CFG, "pdf",
            [None, ocr])
        assert doc["pages"][1]["metadata"]["width"] == ocr["dims"][0]
        assert doc["reconstruction"]["pages"][0]["width"] == ocr["dims"][0]

    def test_jpeg_lut_immutable(self):
        from horizon_ocr_python_spark.kernel.jpeg import _decode_lut
        lut = _decode_lut((0,) * 16, ())
        assert isinstance(lut, tuple)


class TestNormalizedView:
    """Deterministic `normalized` business view (JSON_SCHEMA.md:360-395)."""

    FIELDS = [
        {"name": "invoice_number", "value": "INV-1", "normalized_value": "INV-1"},
        {"name": "total", "value": "$500.00", "normalized_value": "500.00"},
        {"name": "tax", "value": "$25.00", "normalized_value": "25.00"},
        {"name": "subtotal", "value": "$475.00", "normalized_value": "475.00"},
    ]
    ITEMS_TABLE = {"page": 1, "rows": [
        ["Item", "Qty", "Amount"],
        ["widget", "2", "$10.00"],
        ["gadget", "1", "$5.00"],
    ]}
    KV_TABLE = {"page": 1, "rows": [["Invoice Number", "INV-1"],
                                    ["Total", "$500.00"]]}

    def test_header_totals_never_mixed(self):
        n = document.build_normalized(self.FIELDS, [])
        assert set(n["header"]) == {"invoice_number"}
        assert n["totals"] == {"subtotal": "475.00", "tax_amount": "25.00",
                               "total_amount": "500.00"}
        assert n["document_type"] == "invoice"

    def test_line_items_from_largest_table_with_evidence(self):
        n = document.build_normalized(self.FIELDS,
                                      [self.KV_TABLE, self.ITEMS_TABLE])
        assert len(n["line_items"]) == 2
        it = n["line_items"][0]
        assert it["values"] == {"item": "widget", "qty": "2",
                                "amount": "$10.00"}
        ev = it["_evidence"]
        assert ev["table_id"] == "table-001" and ev["page"] == 1
        assert ev["cell_refs"][0] == {"row": 1, "col": 0}

    def test_kv_tables_never_become_line_items(self):
        n = document.build_normalized(self.FIELDS, [self.KV_TABLE])
        assert n["line_items"] == []

    def test_auto_type_without_invoice_fields(self):
        n = document.build_normalized(
            [{"name": "ref", "value": "R-1", "normalized_value": "R-1"}], [])
        assert n["document_type"] == "auto" and n["totals"] == {}

    def test_generator_html_pages_carry_line_items(self):
        from horizon_ocr_python_spark.sources import pages as src
        p = src.make_page(0, seed=42)  # i % 3 == 0 -> items table present
        doc = document.extract_document(p["url"], p["html"],
                                        p["warc_ts"], p["lang"])
        n = doc["normalized"]
        assert n["line_items"], "every 3rd HTML page carries a 4-col table"
        assert set(n["line_items"][0]["values"]) == \
            {"item", "qty", "unit_price", "amount"}
        assert doc["raw_text"] == p["text"]  # cells never leak into raw_text


class TestP8P9Ordering:
    def test_slow_path_assesses_processed_pixels(self):
        """orchestrator.py:655-665: content type + readability come from the
        preprocessed pixels. Observable: a faded scan is 'blurry' raw
        (Laplacian variance collapses with the contrast) but sharp after the
        enhancement chain — the page metadata must carry the processed
        verdict, and the faded ink must recognize byte-identically."""
        page = glyphs.render_page(WARP_LINES).astype(np.float64)
        faded = (132 + page * (44.0 / 255)).astype(np.uint8)  # ink 132/bg 176
        raw_issues = preprocess.assess_readability(faded)[1]
        assert "blurry" in raw_issues
        ocr = document._ocr_page(faded, 1, CFG)
        assert "blurry" not in ocr["readability_issues"]
        assert [ln["text"] for ln in ocr["text_lines"]] == WARP_TEXT


class TestEngineSurfacesRound5:
    """The round-5 columns as seen THROUGH the Spark engine (DOCUMENT_SCHEMA),
    not just the kernel dicts — the training-data curation shape runs over
    the real extraction output."""

    @pytest.fixture(scope="class")
    def docs_df(self, spark):
        from horizon_ocr_python_spark.engine.extract import extract_stage
        from horizon_ocr_python_spark.engine.pipeline import pages_dataframe
        df = extract_stage(pages_dataframe(spark, 60, seed=42)).cache()
        df.count()
        return df

    def test_line_confidence_curation_filter(self, docs_df):
        lines = (docs_df.selectExpr("doc_id", "explode(pages) p")
                 .selectExpr("doc_id", "explode(p.text_lines) tl")
                 .selectExpr("doc_id", "tl.confidence c", "tl.source s"))
        ocr = lines.filter("s in ('ocr', 'ocr_enhanced')").collect()
        assert ocr, "corpus contains raster lines"
        assert all(r.c is not None and 0.0 < r.c <= 1.0 for r in ocr)
        html = lines.filter("s = 'html'").limit(5).collect()
        assert all(r.c == 1.0 for r in html)

    def test_fields_validators_and_normalized_value(self, docs_df):
        from pyspark.sql import functions as F
        f = (docs_df.selectExpr("explode(fields) f")
             .select("f.name", "f.value", "f.normalized_value",
                     F.size("f.validators").alias("nv"),
                     "f.validators"))
        totals = f.filter("name = 'total'").collect()
        assert totals
        for r in totals:
            assert r.nv >= 1  # non_empty always selected
            assert r.normalized_value is not None
            assert not r.normalized_value.startswith("$")  # currency parsed
        dates = f.filter("name = 'date'").limit(5).collect()
        for r in dates:
            assert r.normalized_value == r.value  # already ISO in corpus

    def test_normalized_view_round_trip(self, docs_df):
        from pyspark.sql import functions as F
        n = docs_df.filter(F.size("normalized.line_items") > 0)
        row = n.selectExpr("normalized.document_type dt",
                           "normalized.line_items[0]._evidence.table_id tid",
                           "normalized.line_items[0].values v",
                           "normalized.totals t").first()
        assert row is not None
        assert row.tid.startswith("table-")
        assert set(row.v.keys()) == {"item", "qty", "unit_price", "amount"}

    def test_page_dpi_by_path(self, docs_df):
        pages = (docs_df.selectExpr("file_type", "explode(pages) p")
                 .selectExpr("file_type", "p.dpi dpi"))
        by_type = {r.file_type: r.dpi for r in pages.dropDuplicates(
            ["file_type"]).collect()}
        assert by_type.get("html") is None
        if "pdf" in by_type:
            assert by_type["pdf"] in (72, 350)  # native 72 / scanned 350
