"""Round-4 raster-path symmetry: standalone scanned images through the OCR
path, D6-shape page-column splitting, D2 layout roles on raster pages, P8
content-type routing of the O3 decoders, and per-page P9 readability.

Reference analogues: io/image.py:49-79 + orchestrator.py:455-513 (every
image file goes through the page pipeline), text_craft.py:275-351 (per-
column text boxes), layout_doclaynet.py:210-251 (position/aspect roles),
enhance.py:219-308 -> trocr.py:189-199 (content-type model routing),
orchestrator.py:651-675 (readability per page)."""

import numpy as np
import pytest

from horizon_ocr_python_spark.kernel import (document, glyphs, jpeg,
                                             pdf_text, png, preprocess,
                                             table_model)

TITLE = "Scan 4 alpha beta"
BODY = ["Invoice Number: INV-42000077", "data spark table query row",
        "Total: $1,234.56"]
SPEC = [(36, 72, TITLE, 3)] + [(36, 120 + 24 * k, t, 2)
                               for k, t in enumerate(BODY)]
TRUTH = "\n".join([TITLE] + BODY)


def _render():
    return glyphs.render_page(SPEC)


class TestScannedImageRoute:
    """VERDICT #1: a scanned PNG/JPEG of a document extracts exactly like
    the same content delivered as a scanned PDF."""

    def test_png_extracts_text(self):
        doc = document.extract_document(
            "https://x/scan.png", png.encode_png(_render()))
        assert doc["status"] == "ok"
        assert doc["raw_text"] == TRUTH
        assert doc["title"] == TITLE
        f = {f["name"]: f for f in doc["fields"]}
        assert f["invoice_number"]["value"] == "INV-42000077"
        assert f["invoice_number"]["bbox"] is not None  # anchors on words

    def test_jpeg_extracts_text(self):
        rgb = np.stack([_render()] * 3, axis=-1)
        doc = document.extract_document(
            "https://x/scan.jpg", jpeg.encode_jpeg(rgb, quality=90))
        assert doc["raw_text"] == TRUTH

    @pytest.mark.parametrize("stored_k", [1, 2, 3])
    def test_rotated_image_recovered(self, stored_k):
        rot = np.ascontiguousarray(np.rot90(_render(), -stored_k))
        doc = document.extract_document(
            "https://x/rot.png", png.encode_png(rot))
        assert doc["raw_text"] == TRUTH
        meta = doc["pages"][0]["metadata"]
        assert (meta["width"], meta["height"]) == (612, 792)  # upright dims

    def test_matches_scanned_pdf_output(self):
        img = _render()
        via_pdf = document.extract_document(
            "https://x/a.pdf", pdf_text.build_scanned_pdf([img]))
        via_img = document.extract_document(
            "https://x/a.png", png.encode_png(img))
        assert via_img["raw_text"] == via_pdf["raw_text"]
        assert via_img["title"] == via_pdf["title"]
        assert ([r["type"] for r in via_img["pages"][0]["layout_regions"]]
                == [r["type"] for r in via_pdf["pages"][0]["layout_regions"]])
        assert ({f["name"]: f["value"] for f in via_img["fields"]}
                == {f["name"]: f["value"] for f in via_pdf["fields"]})

    def test_picture_stays_picture(self):
        from horizon_ocr_python_spark.sources import _png_doc_image

        img = _png_doc_image.render(seed=7)
        doc = document.extract_document(
            "https://x/pic.png", _png_doc_image.encode(img))
        assert doc["raw_text"] == ""
        assert [r["type"] for r in doc["pages"][0]["layout_regions"]] \
            == ["image"]

    def test_table_only_image_is_a_document(self):
        """Round-4 review finding: an image that is ONLY a borderless table
        (every recognized line consumed by the detector) must still pass
        the acceptance gate and match its scanned-PDF twin."""
        spec = [(36, 150, "Invoice Number" + " " * 4 + "INV-42000012", 2),
                (36, 174, "Date" + " " * 14 + "2026-03-01", 2),
                (36, 198, "Total" + " " * 13 + "$1,234.56", 2)]
        img = glyphs.render_page(spec)
        via_img = document.extract_document(
            "https://x/t-only.png", png.encode_png(img))
        via_pdf = document.extract_document(
            "https://x/t-only.pdf", pdf_text.build_scanned_pdf([img]))
        assert len(via_img["tables"]) == 1
        assert via_img["tables"] == via_pdf["tables"]
        f = {f["name"]: f["value"] for f in via_img["fields"]}
        assert f["invoice_number"] == "INV-42000012"
        assert via_img["raw_text"] == via_pdf["raw_text"] == ""

    def test_raster_table_from_image(self):
        spec = [(36, 72, "Scan 1 head", 3),
                (36, 120, "plain body line", 2),
                (36, 150, "Invoice Number" + " " * 4 + "INV-42000012", 2),
                (36, 174, "Date" + " " * 14 + "2026-03-01", 2),
                (36, 198, "Total" + " " * 13 + "$1,234.56", 2)]
        doc = document.extract_document(
            "https://x/t.png", png.encode_png(glyphs.render_page(spec)))
        assert len(doc["tables"]) == 1
        assert doc["raw_text"] == "Scan 1 head\nplain body line"
        # ADVICE fix: raster-table fields carry OCR provenance, not html
        f = {f["name"]: f for f in doc["fields"]}
        assert f["invoice_number"]["chosen_source"] == "ocr_table"


class TestColumnSplit:
    """VERDICT #4: two side-by-side columns in one y-band produce per-column
    lines, column-major within (y//50) bands."""

    X_RIGHT = 36 + 24 * 12  # 20-char column + 4-cell gutter, on pitch grid

    TITLE = "Wide title over the gutter"  # 26 chars * 18px: crosses x=324

    def _two_col_spec(self, n=8):
        left = [f"left line {k} here" for k in range(n)]
        right = [f"right side {k}" for k in range(n)]
        spec = [(36, 72, self.TITLE, 3)]
        for k in range(n):
            spec.append((36, 120 + 24 * k, left[k], 2))
            spec.append((self.X_RIGHT, 120 + 24 * k, right[k], 2))
        return spec, left, right

    def test_split_page_columns_cuts_merged_bands(self):
        spec, left, right = self._two_col_spec()
        lines = glyphs.recognize_page(glyphs.render_page(spec))
        # full-width banding merges each row pair into one line
        assert any("   " in ln["text"] for ln in lines)
        cols = table_model.split_page_columns(lines)
        assert len(cols) == 2
        assert [ln["text"] for ln in cols[0] if ln["text"].startswith("left")] \
            == left
        assert [ln["text"] for ln in cols[1]] == right

    def test_crossing_title_kept_whole(self):
        spec, _, _ = self._two_col_spec()
        lines = glyphs.recognize_page(glyphs.render_page(spec))
        cols = table_model.split_page_columns(lines)
        titles = [ln for col in cols for ln in col if ln["font_size"] == 21.0]
        assert len(titles) == 1
        assert titles[0]["text"] == self.TITLE

    def test_single_column_page_unchanged(self):
        lines = glyphs.recognize_page(glyphs.render_page(
            [(36, 120 + 24 * k, f"body line number {k} padded out", 2)
             for k in range(10)]))
        cols = table_model.split_page_columns(lines)
        assert len(cols) == 1 and cols[0] is lines

    def test_few_lines_never_split(self):
        # a 3-row kv table page must NOT be read as two columns even though
        # its gutter is blank in 100% of lines (MIN_COL_LINES gate)
        lines = glyphs.recognize_page(glyphs.render_page(
            [(36, 120, "Invoice Number" + " " * 4 + "INV-1", 2),
             (36, 144, "Date" + " " * 14 + "2026-01-01", 2),
             (36, 168, "Total" + " " * 13 + "$5.00", 2)]))
        assert len(table_model.split_page_columns(lines)) == 1

    def test_document_reading_order_column_major_in_bands(self):
        spec, left, right = self._two_col_spec(n=8)
        pdf = pdf_text.build_scanned_pdf([glyphs.render_page(spec)])
        doc = document.extract_document("https://x/2col.pdf", pdf)
        items = ([(72, 36, self.TITLE)]
                 + [(120 + 24 * k, 36, left[k]) for k in range(8)]
                 + [(120 + 24 * k, self.X_RIGHT, right[k]) for k in range(8)])
        expected = "\n".join(
            t for (_, _, t) in sorted(items, key=lambda it: (it[0] // 50,
                                                             it[1])))
        assert doc["raw_text"] == expected

    def test_three_columns_recursive_split(self):
        xs = [36, 36 + 16 * 12, 36 + 32 * 12]  # 12-char cols, 4-cell gutters
        cols_text = [[f"c{c} line {k}" for k in range(8)] for c in range(3)]
        spec = [(36, 72, "Top title", 3)]
        for k in range(8):
            for c in range(3):
                spec.append((xs[c], 120 + 24 * k, cols_text[c][k], 2))
        lines = glyphs.recognize_page(glyphs.render_page(spec))
        cols = table_model.split_page_columns(lines)
        assert len(cols) == 3
        got = [[ln["text"] for ln in col if ln["font_size"] == 14.0]
               for col in cols]
        assert got == cols_text
        # end-to-end: reading order is column-major within y//50 bands
        pdf = pdf_text.build_scanned_pdf([glyphs.render_page(spec)])
        doc = document.extract_document("https://x/3col.pdf", pdf)
        items = [(72, 36, "Top title")] + [
            (120 + 24 * k, xs[c], cols_text[c][k])
            for c in range(3) for k in range(8)]
        expected = "\n".join(t for (_, _, t) in
                             sorted(items, key=lambda it: (it[0] // 50,
                                                           it[1])))
        assert doc["raw_text"] == expected

    def test_word_boxes_follow_the_cut(self):
        spec, left, right = self._two_col_spec()
        lines = glyphs.recognize_page(glyphs.render_page(spec))
        cols = table_model.split_page_columns(lines)
        for col in cols:
            for ln in col:
                for w in ln["words"]:
                    assert ln["bbox"][0] - 1 <= w["bbox"][0]
                    assert w["bbox"][2] <= ln["bbox"][2] + 1


class TestRasterLayoutRoles:
    """VERDICT #2: D2 position/aspect roles applied to raster regions."""

    def test_roles_assigned(self):
        spec = [(36, 72, "Top header strip text", 3),
                (36, 300, "middle body line", 2),
                (36, 740, "bottom footer line", 2)]
        pdf = pdf_text.build_scanned_pdf([glyphs.render_page(spec)])
        doc = document.extract_document("https://x/roles.pdf", pdf)
        regions = doc["pages"][0]["layout_regions"]
        types = [r["type"] for r in regions]
        assert types[0] == "header"        # top 15% of a 792px page
        assert types[-1] == "footer"       # bottom 15%
        assert "text" in types
        # classification matches the kernel rule applied to the same boxes
        from horizon_ocr_python_spark.kernel import reading_order

        for r in regions:
            x1, y1, x2, y2 = r["bbox"]
            assert r["type"] == reading_order.classify_region_heuristic(
                x1, y1, x2 - x1, y2 - y1, 612, 792)


class TestBlockRegions:
    """D2 at the reference's granularity (one region per paragraph block,
    layout_doclaynet.py:146-209) + the exact D3 IoU merge (253-309)."""

    def _ln(self, y, h=14, x=36, w=300, text="abcdef", conf=1.0):
        return {"text": text, "bbox": (x, y, x + w, y + h),
                "confidence": conf}

    def test_adjacent_lines_fuse_into_one_block(self):
        from horizon_ocr_python_spark.kernel import reading_order as ro

        lines = [self._ln(120), self._ln(144), self._ln(168),
                 self._ln(300)]  # 10px gaps, then a 118px break
        blocks = ro.group_lines_into_blocks(lines)
        assert [len(b) for b in blocks] == [3, 1]

    def test_title_separated_by_gap(self):
        from horizon_ocr_python_spark.kernel import reading_order as ro

        lines = [self._ln(72, h=21), self._ln(120), self._ln(144)]
        blocks = ro.group_lines_into_blocks(lines)  # 93->120 gap 27 > 20
        assert [len(b) for b in blocks] == [1, 2]

    def test_scanned_page_emits_block_regions(self):
        page = glyphs.render_page(
            [(36, 72, "Scan head", 3)]
            + [(36, 120 + 24 * k, f"body line {k} here", 2)
               for k in range(6)])
        doc = document.extract_document(
            "https://x/blk.pdf", pdf_text.build_scanned_pdf([page]))
        regions = doc["pages"][0]["layout_regions"]
        assert len(regions) == 2  # title block + one 6-line body block
        assert regions[1]["bbox"][3] - regions[1]["bbox"][1] > 100

    def test_merge_regions_iou_reference_rule(self):
        from horizon_ocr_python_spark.kernel import reading_order as ro

        regions = [
            {"type": "text", "bbox": (0, 0, 100, 100), "confidence": 0.9},
            {"type": "text", "bbox": (10, 10, 100, 100), "confidence": 0.5},
            {"type": "table", "bbox": (5, 5, 95, 95), "confidence": 0.7},
            {"type": "text", "bbox": (300, 300, 310, 310), "confidence": 1.0},
        ]
        merged = ro.merge_regions_iou(regions)
        # the two overlapping text regions merge (IoU 0.81 > 0.5); the
        # table overlaps but is a different type; the far text survives
        assert len(merged) == 3
        texts = [r for r in merged if r["type"] == "text"]
        assert {tuple(r["bbox"]) for r in texts} == \
            {(0, 0, 100, 100), (300, 300, 310, 310)}
        big = next(r for r in texts if r["bbox"][2] == 100)
        assert big["confidence"] == 0.9  # absorbing (largest) region's conf

    def test_merge_below_threshold_keeps_both(self):
        from horizon_ocr_python_spark.kernel import reading_order as ro

        regions = [
            {"type": "text", "bbox": (0, 0, 100, 100), "confidence": 0.9},
            {"type": "text", "bbox": (60, 0, 160, 100), "confidence": 0.8},
        ]  # IoU = 40/160 = 0.25 < 0.5
        assert len(ro.merge_regions_iou(regions)) == 2


class TestContentTypeRouting:
    """VERDICT #3: P8 content type is consulted on the raster path and
    routes the O3 decoder order (reference trocr.py:189-199 dispatch)."""

    def test_page_metadata_carries_detected_type(self):
        pdf = pdf_text.build_scanned_pdf([_render()])
        doc = document.extract_document("https://x/ct.pdf", pdf)
        ct = doc["pages"][0]["metadata"]["content_type"]
        assert ct in ("printed", "handwritten", "mixed")

    def test_native_pages_keep_file_type(self):
        pdf = pdf_text.build_pdf_pages(
            [[(72.0, 72.0, "A native text layer line comfortably past the "
                           "hundred character scanned gate threshold to stay "
                           "on the native path.", 12.0)]])
        doc = document.extract_document("https://x/n.pdf", pdf)
        assert doc["pages"][0]["metadata"]["content_type"] == "pdf"

    @staticmethod
    def _lzw_tiff():
        import struct

        from image_encoders import encode_tiff

        data = bytearray(encode_tiff(np.zeros((30, 40, 3), np.uint8)))
        i = data.find(struct.pack("<HH", 259, 3))  # compression tag
        data[i + 8] = 5  # LZW: decode_image raises NotImplementedError
        return bytes(data)

    @pytest.mark.parametrize("kind", ["native_pdf", "html", "picture",
                                      "undecodable_image"])
    def test_unrasterized_page_metadata(self, kind):
        """Full PageMetadata of the pages the raster path does not build:
        file type as content type, no rotation or preprocess, the doc's
        readability."""
        from horizon_ocr_python_spark.sources import _png_doc_image

        plain = {"dpi": None, "rotation": 0, "preprocessed": False,
                 "readability": "good", "readability_issues": []}
        url, payload, meta = {
            "native_pdf": ("https://x/n.pdf", pdf_text.build_pdf_pages(
                [[(72.0, 72.0, "native " * 20, 12.0)]]),
                {**plain, "width": pdf_text.PAGE_W,
                 "height": pdf_text.PAGE_H, "dpi": 72,
                 "content_type": "pdf"}),
            "html": ("https://x/p.html",
                     b"<html><body><p>Some paragraph of body text.</p>"
                     b"</body></html>",
                     {**plain, "width": 0, "height": 0,
                      "content_type": "html"}),
            # kept as a picture: readability comes from the P9 assessment
            "picture": ("https://x/pic.png", _png_doc_image.encode(
                _png_doc_image.render(seed=7)),
                {**plain, "width": 160, "height": 120,
                 "content_type": "image", "readability": "fair",
                 "readability_issues": ["high_noise", "low_resolution"]}),
            "undecodable_image": ("https://x/lzw.tiff", self._lzw_tiff(),
                                  {**plain, "width": 0, "height": 0,
                                   "content_type": "image"}),
        }[kind]
        doc = document.extract_document(url, payload)
        assert doc["status"] == "ok" and doc["page_count"] == 1
        assert doc["pages"][0]["metadata"] == meta

    def test_dual_decoder_soft_primary_holds_ties(self):
        # both decoders read a clean line with confidence 1.0; the strict->
        # rule keeps whichever model is PRIMARY, so routing decides ties
        page = glyphs.render_page([(36, 72, "Total: $9.99", 2)])
        bbox = (36.0, 72.0, 600.0, 86.0)
        ln_h, tag_h = glyphs.recognize_line_dual(page, bbox, primary="hard")
        ln_s, tag_s = glyphs.recognize_line_dual(page, bbox, primary="soft")
        assert (tag_h, tag_s) == ("hard", "soft")
        assert ln_h["text"] == ln_s["text"] == "Total: $9.99"

    def test_soft_primary_still_loses_to_better_hard(self):
        # hazy ink the soft decoder normalizes but decodes identically —
        # build a case where hard wins strictly and soft-primary yields
        page = glyphs.render_page([(36, 72, "Total: $9.99", 2)])
        noisy = page.copy()
        noisy[72:86, 0:4] = 120  # smudge outside the glyph cells
        ln, tag = glyphs.recognize_line_dual(noisy, (36.0, 72.0, 600.0, 86.0),
                                             primary="soft")
        assert ln is not None and ln["text"] == "Total: $9.99"


class TestPerPageDims:
    def test_mixed_size_scan_pages_keep_own_dims(self):
        p1 = glyphs.render_page([(36, 72, "first page line", 2)])
        p2 = glyphs.render_page([(36, 72, "second page line", 2)],
                                width=400, height=500)
        pdf = pdf_text.build_scanned_pdf([p1, p2])
        doc = document.extract_document("https://x/mix.pdf", pdf)
        m1, m2 = (doc["pages"][0]["metadata"], doc["pages"][1]["metadata"])
        assert (m1["width"], m1["height"]) == (612, 792)
        assert (m2["width"], m2["height"]) == (400, 500)
        assert doc["raw_text"] == "first page line\nsecond page line"


class TestPerPageReadability:
    """VERDICT #8: P9 runs on every page, not just page 1."""

    def test_pages_carry_own_readability(self):
        clean = _render()
        dark = np.minimum(clean, 40).astype(np.uint8)  # too_dark page 2
        pdf = pdf_text.build_scanned_pdf([clean, dark])
        doc = document.extract_document("https://x/2p.pdf", pdf)
        m1 = doc["pages"][0]["metadata"]
        m2 = doc["pages"][1]["metadata"]
        assert "too_dark" not in m1["readability_issues"]
        assert "too_dark" in m2["readability_issues"]
        assert m2["readability"] != "good"


class TestConfidenceGatedFastPath:
    """Confidence-gated recomputation (the reference's own skip-what's-
    already-confident pattern, orchestrator.py:1140-1176): a raw page whose
    OSD recognition scores exactly 1.0 (every char a zero-distance template
    match) skips preprocess + re-recognition + re-OCR; any degradation
    (JPEG blur, haze) drops the score below 1.0 and runs the full chain."""

    def test_lossless_page_skips_preprocess(self, monkeypatch):
        calls = []
        orig = preprocess.preprocess_for_ocr
        monkeypatch.setattr(preprocess, "preprocess_for_ocr",
                            lambda *a, **k: calls.append(1) or orig(*a, **k))
        pdf = pdf_text.build_scanned_pdf([_render()], codec="flate")
        doc = document.extract_document("https://x/clean.pdf", pdf)
        assert doc["raw_text"] == TRUTH
        assert calls == []  # shortcut taken

    def test_degraded_page_runs_full_chain(self, monkeypatch):
        calls = []
        orig = preprocess.preprocess_for_ocr
        monkeypatch.setattr(preprocess, "preprocess_for_ocr",
                            lambda *a, **k: calls.append(1) or orig(*a, **k))
        page = _render().copy()
        # knock out one template bit (a 2x2 block at scale 2) of a glyph in
        # the first body line: the char still decodes (nearest template)
        # but at Hamming distance 1 -> line conf < 1.0 -> no shortcut
        page[120:122, 96:98] = 255
        pdf = pdf_text.build_scanned_pdf([page], codec="flate")
        doc = document.extract_document("https://x/deg.pdf", pdf)
        assert doc["raw_text"] == TRUTH
        assert calls  # score < 1.0 -> the enhancement chain ran


class TestRasterConfigThreading:
    """C7: the raster-path knobs (glyph_reocr_confidence, image_text_gate,
    picture_floor) thread from EngineConfig to their stages — no silent
    no-op overrides."""

    def test_image_text_gate_reaches_image_route(self):
        from horizon_ocr_python_spark.kernel.config import load_config

        payload = png.encode_png(_render())
        base = document.extract_document("https://x/s.png", payload)
        assert base["raw_text"] == TRUTH
        cfg = load_config(data={"thresholds": {"image_text_gate": 1.01}},
                          env={}).to_dict()
        strict = document.extract_document("https://x/s.png", payload,
                                           config=cfg)
        assert strict["raw_text"] == ""  # nothing can pass a >1.0 gate

    def test_picture_floor_reaches_image_route(self, monkeypatch):
        # the floor is clamped to min(floor, gate), so its observable is
        # the WORK it skips: by default a picture (score ~0.72 < 0.80)
        # never reaches the enhancement chain; with the floor lowered to 0
        # the same picture runs preprocess — and still ends a picture row
        from horizon_ocr_python_spark.sources import _png_doc_image
        from horizon_ocr_python_spark.kernel.config import load_config

        calls = []
        orig = preprocess.preprocess_for_ocr
        monkeypatch.setattr(preprocess, "preprocess_for_ocr",
                            lambda *a, **k: calls.append(1) or orig(*a, **k))
        payload = _png_doc_image.encode(_png_doc_image.render(seed=5))
        base = document.extract_document("https://x/p.png", payload)
        assert base["raw_text"] == "" and calls == []  # floored: no chain
        cfg = load_config(data={"thresholds": {"picture_floor": 0.0}},
                          env={}).to_dict()
        low = document.extract_document("https://x/p.png", payload,
                                        config=cfg)
        assert calls  # floor 0: the chain ran...
        assert low["raw_text"] == ""  # ...and the gate still rejects

    def test_glyph_reocr_confidence_reaches_reocr(self, monkeypatch):
        from horizon_ocr_python_spark.kernel import reocr
        from horizon_ocr_python_spark.kernel.config import load_config

        seen = []
        orig = reocr.process_lines

        def spy(lines, recompute, threshold, **kw):
            seen.append(threshold)
            return orig(lines, recompute, threshold=threshold, **kw)

        monkeypatch.setattr(reocr, "process_lines", spy)
        page = _render().copy()
        page[120:122, 96:98] = 255  # one bad bit -> score < 1.0, full chain
        pdf = pdf_text.build_scanned_pdf([page], codec="flate")
        document.extract_document("https://x/d.pdf", pdf)
        assert seen and seen[-1] == 0.90  # calibrated default
        cfg = load_config(
            data={"thresholds": {"glyph_reocr_confidence": 0.42}},
            env={}).to_dict()
        document.extract_document("https://x/d.pdf", pdf, config=cfg)
        assert seen[-1] == 0.42  # the override reaches the stage


class TestPipelineReocrAcceptance:
    """The fast path absorbed the old faded fixture (its haze decodes
    perfectly raw), so this pins the pipeline-level O7 acceptance with a
    fixture the raw pass genuinely garbles: gray-120 flood haze reads as
    solid ink at threshold 128 (the line decodes as garbage) but vanishes
    in the re-OCR sweep, which recovers the amount."""

    def _hazed_pdf(self):
        lines = [(36, 72, "Scan 9 alpha", 3), (36, 130, "Total: $9.99", 2),
                 (36, 160, "healthy body line", 2)]
        page = glyphs.render_page(lines).copy()
        band = page[130:144, 36:240]
        band[band == 255] = 120
        return pdf_text.build_scanned_pdf([page], codec="flate")

    def test_accepted_reocr_rewrites_the_line(self):
        from horizon_ocr_python_spark.kernel.config import load_config

        pdf = self._hazed_pdf()
        doc = document.extract_document("https://x/h.pdf", pdf)
        line2 = doc["raw_text"].splitlines()[1]
        assert line2.startswith("Total:") and "$9.99" in line2
        # with re-OCR selection disabled, the post-preprocess decode keeps
        # its misread ("Total+..."), proving the clean "Total:" above came
        # from the accepted threshold-sweep rewrite
        cfg = load_config(
            data={"thresholds": {"glyph_reocr_confidence": 0.0}},
            env={}).to_dict()
        off = document.extract_document("https://x/h.pdf", pdf, config=cfg)
        assert "Total:" not in off["raw_text"].splitlines()[1]


class TestGeneratorRound4Kinds:
    def test_scanned_image_and_two_col_rows_byte_identical(self):
        from horizon_ocr_python_spark.sources import pages

        n_img, n_2col = 0, 0
        for i in range(600):
            p = pages.make_page(i, seed=42)
            if p["kind"] == "scanned_image":
                n_img += 1
            elif p["kind"] == "scanned_pdf" and "Inv: " in p["text"]:
                n_2col += 1
            else:
                continue
            doc = document.extract_document(p["url"], p["html"],
                                            p["warc_ts"], p["lang"])
            assert doc["status"] == "ok"
            assert doc["raw_text"] == p["text"], p["url"]
            assert doc["title"] == p["expected_title"]
        assert n_img >= 5 and n_2col >= 1
