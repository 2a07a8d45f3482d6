"""S7 artifacts: overlay renderers + sampled Spark stage.

Reference semantics: io/artifacts.py:29-68 (colors/ramp), :175-256 (layout
overlay + legend), :258-307 (text boxes), :309-390 (table structure),
:392-466 (OCR labels), :468-531 (combined), :533-610 (summary HTML),
:126-143 (on-disk tree). SURVEY §2 S7 maps the stage to a sampled debug
path at scale — pinned here via the deterministic url-hash gate.
"""

from __future__ import annotations

import datetime
import hashlib

import numpy as np
import pytest

from horizon_ocr_python_spark.kernel import (artifacts, glyphs, multimodal,
                                             pdf_text)
from horizon_ocr_python_spark.kernel.png import encode_png


def _decode(png_bytes: bytes) -> np.ndarray:
    """RGB view of an encoded overlay (decode_image returns BGR)."""
    img = multimodal.decode_image(bytes(png_bytes))
    return img[..., ::-1] if img.ndim == 3 else img


SPEC = [(36, 40, "SCAN TITLE", 3),
        (36, 120, "Alpha line one", 2),
        (36, 150, "Beta line two", 2),
        # two aligned 2-col rows -> D13 raster table
        (36, 200, "Item" + " " * 8 + "Amount", 2),
        (36, 224, "Widget" + " " * 6 + "$12.00", 2)]


class TestOverlayPrimitives:
    def test_confidence_ramp_endpoints(self):
        # io/artifacts.py:46-68: red -> yellow -> green
        assert artifacts.confidence_to_color(0.0) == (255, 0, 0)
        assert artifacts.confidence_to_color(0.5) == (255, 255, 0)
        assert artifacts.confidence_to_color(1.0) == (0, 255, 0)

    def test_draw_rect_border_only(self):
        img = np.zeros((20, 30, 3), dtype=np.uint8)
        artifacts._draw_rect(img, (5, 5, 25, 15), (0, 255, 0), 2)
        assert tuple(img[5, 10]) == (0, 255, 0)      # top border
        assert tuple(img[13, 10]) == (0, 255, 0)     # bottom border
        assert tuple(img[10, 10]) == (0, 0, 0)       # interior untouched

    def test_fill_alpha_blends(self):
        img = np.full((10, 10, 3), 200, dtype=np.uint8)
        artifacts._fill_alpha(img, (0, 0, 10, 10), (0, 0, 0), 0.45)
        assert int(img[5, 5, 0]) == round(200 * 0.55)

    def test_label_text_uses_kernel_glyphs(self):
        img = np.zeros((20, 120, 3), dtype=np.uint8)
        artifacts._draw_text(img, 2, 2, "AB", (255, 0, 0), 1)
        # the glyph bitmaps force the two top corners ON for non-space chars
        g = glyphs.GLYPHS["A"]
        assert g[0, 0] and tuple(img[2, 2]) == (255, 0, 0)


class TestDocumentArtifactsScannedPdf:
    @pytest.fixture(scope="class")
    def rows(self):
        pdf = pdf_text.build_scanned_pdf([glyphs.render_page(SPEC)])
        return artifacts.document_artifacts("https://x/scan.pdf", pdf)

    def test_kinds_present(self, rows):
        kinds = {r["kind"] for r in rows}
        assert {"layout", "text_polygons", "tables", "ocr", "combined",
                "summary"} <= kinds

    def test_overlays_decode_at_page_size(self, rows):
        combined = next(r for r in rows if r["kind"] == "combined")
        img = _decode(combined["payload"])
        assert img.shape[:2] == (792, 612)
        # layout overlay gains the legend strip on top (io/artifacts.py:248)
        layout = _decode(next(r for r in rows
                              if r["kind"] == "layout")["payload"])
        assert layout.shape[1] == 612 and layout.shape[0] > 792

    def test_ocr_overlay_marks_line_bbox(self, rows):
        from horizon_ocr_python_spark.kernel import document
        doc = document.extract_document(
            "https://x/scan.pdf",
            pdf_text.build_scanned_pdf([glyphs.render_page(SPEC)]))
        line = doc["pages"][0]["text_lines"][0]
        ocr = _decode(next(r for r in rows if r["kind"] == "ocr")["payload"])
        x1, y1 = int(line["bbox"][0]), int(line["bbox"][1])
        color = artifacts.confidence_to_color(line["confidence"])
        assert tuple(ocr[y1, x1 + 2]) == color

    def test_table_overlay_present_with_cells(self, rows):
        img = _decode(next(r for r in rows
                           if r["kind"] == "tables")["payload"])
        # envelope border drawn in the reference cyan somewhere on the page
        assert (img == np.array(artifacts.TABLE_BORDER)).all(-1).any()

    def test_summary_html_stats_block(self, rows):
        html = next(r for r in rows
                    if r["kind"] == "summary")["payload"].decode()
        assert "Document ID:" in html and "Pages:</strong> 1" in html
        assert "page_001_layout.png" in html and "Validation:" in html

    def test_rows_share_doc_id_and_url(self, rows):
        assert len({r["doc_id"] for r in rows}) == 1
        assert all(r["url"] == "https://x/scan.pdf" for r in rows)


class TestDocumentArtifactsOtherPaths:
    def test_rotated_image_overlays_upright(self):
        page = glyphs.render_page(SPEC)
        rotated = np.ascontiguousarray(np.rot90(page, -1))  # 90 deg CW
        rows = artifacts.document_artifacts(
            "https://x/rot.png", encode_png(rotated))
        combined = next(r for r in rows if r["kind"] == "combined")
        # geometry frame is the upright page, not the stored rotation
        assert _decode(combined["payload"]).shape[:2] == (792, 612)

    def test_native_pdf_white_canvas(self):
        pdf = pdf_text.build_pdf([(72, 720, "Hello native world", 12),
                                  (72, 700, "Second line here", 12)])
        rows = artifacts.document_artifacts("https://x/native.pdf", pdf)
        ocr = next(r for r in rows if r["kind"] == "ocr")
        img = _decode(ocr["payload"])
        assert img.shape[:2] == (792, 612)
        # boxes drawn on the canvas: some non-white ink exists
        assert (img < 250).any()

    def test_html_doc_summary_only(self):
        html = (b"<html><head><title>T</title></head><body>"
                b"<p>" + b"content word " * 30 + b"</p></body></html>")
        rows = artifacts.document_artifacts("https://x/page.html", html)
        assert [r["kind"] for r in rows] == ["summary"]

    def test_picture_image_summary_only(self):
        rng = np.random.default_rng(7)
        noise = rng.integers(0, 255, (200, 300), dtype=np.uint8)
        rows = artifacts.document_artifacts(
            "https://x/photo.png", encode_png(np.ascontiguousarray(noise)))
        assert [r["kind"] for r in rows] == ["summary"]


class TestArtifactsStage:
    @pytest.fixture(scope="class")
    def stage_df(self, spark):
        from horizon_ocr_python_spark.engine.artifacts import artifacts_stage
        from horizon_ocr_python_spark.engine.pipeline import pages_dataframe
        df = artifacts_stage(pages_dataframe(spark, 200, seed=42),
                             every_n=20).cache()
        df.count()
        return df

    def test_sample_gate_matches_hash_rule(self, spark, stage_df):
        from pyspark.sql import functions as F
        from horizon_ocr_python_spark.engine.pipeline import pages_dataframe
        expected = (pages_dataframe(spark, 200, seed=42)
                    .where(F.pmod(F.abs(F.xxhash64("url")), F.lit(20)) == 0)
                    .select("url").distinct().count())
        assert expected > 0
        assert stage_df.select("url").distinct().count() == expected

    def test_schema_and_kinds(self, stage_df):
        assert [f.name for f in stage_df.schema.fields] == [
            "url", "doc_id", "page", "kind", "mime", "payload"]
        kinds = {r.kind for r in stage_df.select("kind").distinct().collect()}
        assert "summary" in kinds and "error" not in kinds

    def test_deterministic_rerun(self, spark, stage_df):
        from horizon_ocr_python_spark.engine.artifacts import artifacts_stage
        from horizon_ocr_python_spark.engine.pipeline import pages_dataframe

        def digest(df):
            return sorted(
                (r.url, r.kind, r.page, hashlib.md5(bytes(r.payload)).hexdigest())
                for r in df.collect())

        again = artifacts_stage(pages_dataframe(spark, 200, seed=42),
                                every_n=20)
        assert digest(stage_df) == digest(again)

    def test_export_local_reference_tree(self, stage_df, tmp_path):
        from horizon_ocr_python_spark.engine.artifacts import (
            export_artifacts_local)
        first_doc = stage_df.select("doc_id").first().doc_id
        n = export_artifacts_local(
            stage_df.where(stage_df.doc_id == first_doc), str(tmp_path))
        assert n >= 1
        local = tmp_path / "Local"
        doc_dirs = list(local.iterdir())
        assert len(doc_dirs) == 1
        names = {p.name for p in doc_dirs[0].iterdir()}
        assert "summary.html" in names


class TestReviewFindings:
    """Regressions for the round-5 review findings."""

    def test_slow_path_overlay_uses_preprocessed_frame(self):
        # a faded scan (ink 132 on bg 176) scores < 1.0 -> the P-stage
        # chain runs and the line bboxes live in the preprocessed frame;
        # the overlay must be drawn on that frame, not the raw pixels
        from horizon_ocr_python_spark.kernel import document, preprocess

        page = glyphs.render_page(SPEC)
        faded = (132 + page * (44.0 / 255)).astype(np.uint8)
        pdf = pdf_text.build_scanned_pdf([faded])
        doc = document.extract_document("https://x/faded.pdf", pdf)
        meta = doc["pages"][0]["metadata"]
        assert meta["preprocessed"] is True  # precondition: slow path ran
        line = doc["pages"][0]["text_lines"][0]
        rows = artifacts.document_artifacts("https://x/faded.pdf", pdf)
        ocr = _decode(next(r for r in rows if r["kind"] == "ocr")["payload"])
        # frame dims equal the preprocessed frame, and the box lands on
        # the line's bbox in that frame
        (img,) = pdf_text.extract_pdf_images(pdf)
        pre = preprocess.preprocess_for_ocr(img)
        assert ocr.shape[:2] == pre.shape[:2]
        x1, y1 = int(line["bbox"][0]), int(line["bbox"][1])
        assert tuple(ocr[y1, x1 + 2]) == \
            artifacts.confidence_to_color(line["confidence"])

    def test_corrupt_page1_does_not_reroute_surviving_pages(self):
        # scanned detection keys off ANY page's dpi, and pages whose OCR
        # failed (default metadata) are skipped instead of forcing the
        # white-canvas branch for the whole document
        img = glyphs.render_page(SPEC)
        pdf = pdf_text.build_scanned_pdf([img, img])
        doc = {"status": "ok", "metadata": {"file_type": "pdf"},
               "pages": [
                   {"number": 1, "metadata": {"dpi": 72}},  # contained page
                   {"number": 2, "metadata": {"dpi": 350, "rotation": 0,
                                              "preprocessed": False}}]}
        pixels = artifacts._page_pixels(doc, pdf)
        assert 1 not in pixels          # failed page: no geometry frame
        assert pixels[2].shape[:2] == (792, 612)  # real pixels, not canvas
        assert (pixels[2] < 250).any()

    def test_export_errors_do_not_overwrite(self, spark, tmp_path):
        from horizon_ocr_python_spark.engine.artifacts import (
            ARTIFACT_SCHEMA, export_artifacts_local)

        rows = [("https://x/a", "", 0, "error", "text/plain", b"boom-a"),
                ("https://x/b", "", 0, "error", "text/plain", b"boom-b")]
        df = spark.createDataFrame(rows, ARTIFACT_SCHEMA)
        n = export_artifacts_local(df, str(tmp_path))
        files = list((tmp_path / "Local" / "_errors").iterdir())
        assert n == 2 and len(files) == 2
        assert {f.read_bytes() for f in files} == {b"boom-a", b"boom-b"}


class TestArtifactsClock:
    """Artifacts extract with the row's warc_ts, like the extract stage:
    a date 49.75 years before the crawl passes the 50-year rule against
    warc_ts, while the wall clock (2026-10 onwards) fails it."""

    PAYLOAD = b"<p>Date: 1976-06-01</p><p>Total: $10.00</p>"
    WARC_TS = datetime.datetime(2026, 3, 1)

    def _validation_line(self, rows) -> str:
        (summary,) = [bytes(r["payload"]).decode() for r in rows
                      if r["kind"] == "summary"]
        return next(ln.strip() for ln in summary.splitlines()
                    if "Validation:" in ln)

    def test_document_artifacts_use_warc_ts(self):
        from horizon_ocr_python_spark.kernel import document

        doc = document.extract_document("https://x/d.html", self.PAYLOAD,
                                        self.WARC_TS)
        assert doc["validation"]["passed"] is True  # the engine's verdict
        rows = artifacts.document_artifacts("https://x/d.html", self.PAYLOAD,
                                            self.WARC_TS)
        assert self._validation_line(rows).endswith("Passed")

    def test_stage_ships_warc_ts(self, spark):
        from horizon_ocr_python_spark.engine.artifacts import artifacts_stage
        from horizon_ocr_python_spark.engine.schema import PAGES_SCHEMA

        pages = spark.createDataFrame(
            [("https://x/d.html", self.WARC_TS, self.PAYLOAD, "", "en")],
            PAGES_SCHEMA)
        rows = [r.asDict() for r in
                artifacts_stage(pages, every_n=1).collect()]
        assert self._validation_line(rows).endswith("Passed")


class TestModelCacheRoots:
    def test_load_model_distinct_roots(self, tmp_path, monkeypatch):
        import os

        from horizon_ocr_python_spark.sources import models as model_src

        # pin path resolution to the local roots: a SparkFiles candidate
        # registered by an earlier distribute_models test (same basename)
        # would otherwise shadow both roots and make this order-dependent
        monkeypatch.setattr(model_src, "model_path",
                            lambda lp, root=".": os.path.join(root, lp))
        info = model_src.MODELS[0]
        roots = []
        for sub in ("a", "b"):
            root = str(tmp_path / sub)
            path = os.path.join(root, info["local_path"])
            os.makedirs(os.path.dirname(path))
            with open(path, "wb") as fh:
                fh.write(sub.encode())
            roots.append(root)
        loaded = [model_src.load_model(info["name"],
                                       lambda p: open(p, "rb").read(), r)
                  for r in roots]
        assert loaded == [b"a", b"b"]  # no cross-root cache hit


class TestReferenceIoParity:
    """Expectations mirrored from the reference's own artifact tests
    (tests/test_io.py:107-240)."""

    def test_preprocessed_kind_present(self):
        # save_preprocessed_image twin: the frame itself is an artifact
        pdf = pdf_text.build_scanned_pdf([glyphs.render_page(SPEC)])
        rows = artifacts.document_artifacts("https://x/p.pdf", pdf)
        pre = next(r for r in rows if r["kind"] == "preprocessed")
        assert _decode(pre["payload"]).shape[:2] == (792, 612)

    def test_kinds_filter_disables(self):
        # disabled-save twin (test_io.py:144-160): an excluded kind is
        # simply not rendered
        pdf = pdf_text.build_scanned_pdf([glyphs.render_page(SPEC)])
        rows = artifacts.document_artifacts("https://x/p.pdf", pdf,
                                            kinds=("layout",))
        assert {r["kind"] for r in rows} == {"layout", "summary"}

    def test_mode_subfolders(self, spark, tmp_path):
        # get_document_dir mode mapping (test_io.py:195-231):
        # local -> Local/, azure -> Azure_Cloud/
        from horizon_ocr_python_spark.engine.artifacts import (
            ARTIFACT_SCHEMA, export_artifacts_local)

        rows = [("https://x/a", "doc-1", 0, "summary", "text/html",
                 b"<html></html>")]
        df = spark.createDataFrame(rows, ARTIFACT_SCHEMA)
        export_artifacts_local(df, str(tmp_path), mode="local")
        export_artifacts_local(df, str(tmp_path), mode="azure")
        assert (tmp_path / "Local" / "doc-1" / "summary.html").exists()
        assert (tmp_path / "Azure_Cloud" / "doc-1" / "summary.html").exists()
