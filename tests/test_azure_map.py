"""C5/R7 Azure response mapping (kernel/azure_map.py) vs the reference's
rules: azure/doc_intelligence.py:385-658 (line/word/table/paragraph maps)
and extract/pdf_style_extractor.py:261-343 (offset-interval styles).

Mirrors the reference's own mapping expectations
(tests/test_azure_doc_intelligence.py:161-433: TestTextLineMapping /
TestTableMapping / TestLayoutRegionMapping / TestRoleMap / TestHelpers /
TestAnalyze) over the wire-shape dicts; the reference ships no tests for
apply_azure_styles — the R7 classes here pin that surface beyond it."""

from __future__ import annotations

from horizon_ocr_python_spark.kernel import azure_map


def _page(lines, words, number=1, width=8.5, height=11.0, unit="inch"):
    return {"pageNumber": number, "width": width, "height": height,
            "unit": unit, "lines": lines, "words": words}


def _word(text, offset, length, conf, poly=None):
    return {"content": text, "polygon": poly,
            "span": {"offset": offset, "length": length},
            "confidence": conf}


class TestLineMapping:
    def test_words_matched_by_span_membership(self):
        # line span [0, 11): "Hello world"
        lines = [{"content": "Hello world", "polygon": [1, 1, 4, 1, 4, 2, 1, 2],
                  "spans": [{"offset": 0, "length": 11}]}]
        words = [_word("Hello", 0, 5, 0.9), _word("world", 6, 5, 0.7),
                 _word("next", 12, 4, 0.1)]  # outside the line span
        out = azure_map.map_azure_lines(_page(lines, words))
        assert len(out) == 1
        tl = out[0]
        assert [w["text"] for w in tl["words"]] == ["Hello", "world"]
        # line confidence = average word confidence (:412-414)
        assert tl["confidence"] == (0.9 + 0.7) / 2
        assert tl["source"] == "azure_doc_intelligence"
        assert tl["content_type"] == "printed"
        # polygon envelope
        assert tl["bbox"] == (1, 1, 4, 2)

    def test_no_words_default_confidence(self):
        lines = [{"content": "orphan", "polygon": None,
                  "spans": [{"offset": 50, "length": 6}]}]
        out = azure_map.map_azure_lines(_page(lines, []))
        assert out[0]["confidence"] == 0.9         # :413 default [0.9]
        assert out[0]["bbox"] == (0.0, 0.0, 1.0, 1.0)  # :407 unit default

    def test_confidence_clamped(self):
        lines = [{"content": "x", "polygon": None,
                  "spans": [{"offset": 0, "length": 1}]}]
        words = [_word("x", 0, 1, 1.7)]
        out = azure_map.map_azure_lines(_page(lines, words))
        assert out[0]["confidence"] == 1.0         # :422 min/max clamp

    def test_unit_scaling_inch_to_pixels(self):
        # 8.5x11 in -> 612x792 px: sx = sy = 72 (:585-586)
        lines = [{"content": "a", "polygon": [1.0, 2.0, 2.0, 2.0,
                                              2.0, 2.5, 1.0, 2.5],
                  "spans": [{"offset": 0, "length": 1}]}]
        out = azure_map.map_azure_lines(_page(lines, []), 612.0, 792.0)
        assert out[0]["bbox"] == (72.0, 144.0, 144.0, 180.0)


class TestTableAndParagraphMapping:
    def test_header_kinds_and_span_defaults(self):
        at = {"rowCount": 2, "columnCount": 2, "cells": [
            {"rowIndex": 0, "columnIndex": 0, "kind": "columnHeader",
             "content": "H1", "boundingRegions": [
                 {"pageNumber": 1, "polygon": [0, 0, 2, 0, 2, 1, 0, 1]}]},
            {"rowIndex": 0, "columnIndex": 1, "kind": "stubHead",
             "content": "H2", "boundingRegions": None},
            {"rowIndex": 1, "columnIndex": 0, "content": "a",
             "rowSpan": 2, "columnSpan": None, "boundingRegions": None},
        ]}
        (t,) = azure_map.map_azure_tables([at], page_num=3)
        headers = [c for c in t["cells"] if c["is_header"]]
        assert [c["text"] for c in headers] == ["H1", "H2"]  # :490-494
        body = t["cells"][2]
        assert body["row_span"] == 2 and body["col_span"] == 1  # :499-500
        assert all(c["confidence"] == 0.95 for c in t["cells"])  # :503
        assert t["page"] == 3 and t["has_borders"] is True       # :511-517
        assert t["rows"] == [["H1", "H2"], ["a", ""]]
        assert t["cells"][0]["bbox"] == (0, 0, 2, 1)
        assert t["cells"][1]["bbox"] == (0.0, 0.0, 1.0, 1.0)  # :608-609

    def test_paragraph_role_map(self):
        paras = [{"role": "title", "content": "T", "boundingRegions": None},
                 {"role": "sectionHeading", "content": "S"},
                 {"role": "pageFooter", "content": "F"},
                 {"role": "pageNumber", "content": "3"},
                 {"role": None, "content": "body"}]
        out = azure_map.map_azure_paragraphs(paras, 1)
        assert [r["type"] for r in out] == [
            "title", "title", "footer", "page_number", "text"]  # :40-47
        assert all(r["confidence"] == 0.95 for r in out)        # :548


class TestFullResponse:
    def test_page_fanout_and_filters(self):
        result = {
            "pages": [
                _page([{"content": "p1", "polygon": None,
                        "spans": [{"offset": 0, "length": 2}]}], [],
                      number=1),
                _page([], [], number=2),
            ],
            "tables": [{"rowCount": 1, "columnCount": 1, "cells": [],
                        "boundingRegions": [{"pageNumber": 2,
                                             "polygon": [0, 0, 1, 0,
                                                         1, 1, 0, 1]}]}],
            "paragraphs": [{"role": "title", "content": "T",
                            "boundingRegions": [{"pageNumber": 1,
                                                 "polygon": None}]}],
        }
        pages = azure_map.map_azure_response(result)
        assert [p["number"] for p in pages] == [1, 2]
        assert len(pages[0].get("tables")) == 0      # :630-643 page filter
        assert len(pages[1]["tables"]) == 1
        assert pages[0]["layout_regions"][0]["type"] == "title"
        assert pages[1]["layout_regions"] == []


class TestAzureStyles:
    LINES = [{"text": "Bold line here", "bbox": (0, 0, 100, 16)},
             {"text": "plain text row", "bbox": (0, 20, 100, 30)},
             {"text": "plain text row", "bbox": (0, 40, 100, 50)}]

    def _full_text(self):
        return "\n".join(ln["text"] for ln in self.LINES)

    def test_offset_interval_flags(self):
        # bold span covers chars [0, 4) -> only line 1 is bold
        styles = [{"spans": [{"offset": 0, "length": 4}],
                   "fontWeight": "bold"}]
        out = azure_map.apply_azure_styles(
            [dict(ln) for ln in self.LINES], styles, self._full_text())
        assert out[0]["style"]["bold"] is True
        assert out[1]["style"]["bold"] is False
        # detected vs estimated source + confidence (:339-340)
        assert out[0]["style"]["source"] == "azure_detected"
        assert out[0]["style"]["confidence"] == 0.85
        assert out[1]["style"]["source"] == "estimated"
        assert out[1]["style"]["confidence"] == 0.6

    def test_forward_cursor_disambiguates_duplicates(self):
        # both "plain text row" lines are identical; an italic span over the
        # SECOND occurrence must style line 3, not line 2 (:288-320 cursor)
        second_start = self._full_text().rindex("plain text row")
        styles = [{"spans": [{"offset": second_start, "length": 5}],
                   "fontStyle": "italic"}]
        out = azure_map.apply_azure_styles(
            [dict(ln) for ln in self.LINES], styles, self._full_text())
        assert out[1]["style"]["italic"] is False
        assert out[2]["style"]["italic"] is True

    def test_handwritten_flag_and_size(self):
        styles = [{"spans": [{"offset": 0, "length": 4}],
                   "isHandwritten": True}]
        out = azure_map.apply_azure_styles(
            [dict(ln) for ln in self.LINES], styles, self._full_text())
        st = out[0]["style"]
        assert st["handwritten"] is True
        # handwritten alone is NOT "detected" (:339 bold/italic only)
        assert st["source"] == "estimated"
        # size = 0.75 * bbox height (16) = 12.0, clamp [6, 72] (:328-330)
        assert st["font_size"] == 12.0

    def test_no_bbox_default_size(self):
        out = azure_map.apply_azure_styles(
            [{"text": "x", "bbox": None}], [], "x")
        assert out[0]["style"]["font_size"] == 11.0  # :329 default


class TestRecordedResponseStage:
    """engine/azure_stage.map_recorded_responses: the replay of cached
    responses as a DataFrame job, with per-row containment."""

    def test_map_and_contain(self, spark):
        import json

        from horizon_ocr_python_spark.engine.azure_stage import (
            map_recorded_responses)

        good = {"pages": [
            {"pageNumber": 1, "width": 8.5, "height": 11.0, "unit": "inch",
             "lines": [{"content": "Hello", "polygon": [1, 1, 3, 1, 3, 2, 1, 2],
                        "spans": [{"offset": 0, "length": 5}]}],
             "words": [{"content": "Hello", "polygon": None,
                        "span": {"offset": 0, "length": 5},
                        "confidence": 0.8}]},
            {"pageNumber": 2, "width": 8.5, "height": 11.0, "unit": "inch",
             "lines": [], "words": []},
        ], "tables": [], "paragraphs": [
            {"role": "title", "content": "T",
             "boundingRegions": [{"pageNumber": 1,
                                  "polygon": [0, 0, 4, 0, 4, 1, 0, 1]}]}]}
        df = spark.createDataFrame(
            [("https://x/a", json.dumps(good)),
             ("https://x/bad", "{not json")],
            ["url", "response"])
        out = map_recorded_responses(df).collect()
        ok = sorted((r for r in out if r.status == "ok"),
                    key=lambda r: r.number)
        assert [r.number for r in ok] == [1, 2]
        assert ok[0].text_lines[0].confidence == 0.8
        assert ok[0].text_lines[0].source == "azure_doc_intelligence"
        assert ok[0].layout_regions[0].type == "title"
        assert ok[0].raw_text == "Hello"
        bad = [r for r in out if r.status == "error"]
        assert len(bad) == 1 and bad[0].url == "https://x/bad"
        assert "JSONDecodeError" in bad[0].error

    def test_no_shuffle_plan(self, spark):
        import plan_helpers
        from horizon_ocr_python_spark.engine.azure_stage import (
            map_recorded_responses)

        df = spark.createDataFrame([("u", "{}")], ["url", "response"])
        assert plan_helpers.n_exchanges(map_recorded_responses(df)) == 0


class TestReviewFindings:
    """Regressions for the round-5 review findings."""

    def test_style_span_length_clamped(self):
        # a corrupt recorded length must not allocate an unbounded char map
        lines = [{"text": "abc", "bbox": (0, 0, 10, 10)}]
        styles = [{"spans": [{"offset": 0, "length": 10**12}],
                   "fontWeight": "bold"}]
        out = azure_map.apply_azure_styles(lines, styles, "abc")
        assert out[0]["style"]["bold"] is True  # still styled, bounded work

    def test_junk_array_elements_skipped_not_fatal(self):
        resp = {"pages": [None, "junk",
                          {"pageNumber": 1, "width": 1, "height": 1,
                           "lines": [None,
                                     {"content": "ok",
                                      "polygon": [1, None, "x", 2],
                                      "spans": [None,
                                                {"offset": 0, "length": 2}]}],
                           "words": ["junk", {"span": "notadict"}]}],
                "tables": [{"cells": [None, {"rowIndex": 0}],
                            "boundingRegions": [None,
                                                {"pageNumber": 1,
                                                 "polygon": [0, 0, 1, 1]}],
                            "rowCount": 1, "columnCount": 1}],
                "paragraphs": [None], "styles": [None]}
        pages = azure_map.map_azure_response(resp)
        assert len(pages) == 1
        assert pages[0]["text_lines"][0]["text"] == "ok"
        assert len(pages[0]["tables"]) == 1

    def test_styles_flow_through_response_mapping(self):
        # styles[] + content on the response style the mapped lines (R7
        # wired into C5 — review finding: the replay stage dropped them)
        resp = {"content": "Alpha\nBeta",
                "pages": [{"pageNumber": 1, "width": 8.5, "height": 11.0,
                           "lines": [
                               {"content": "Alpha",
                                "polygon": [0, 0, 2, 0, 2, 1, 0, 1],
                                "spans": [{"offset": 0, "length": 5}]},
                               {"content": "Beta",
                                "polygon": [0, 1, 2, 1, 2, 2, 0, 2],
                                "spans": [{"offset": 6, "length": 4}]}],
                           "words": []}],
                "styles": [{"spans": [{"offset": 0, "length": 5}],
                            "fontWeight": "bold"}]}
        pages = azure_map.map_azure_response(resp)
        tls = pages[0]["text_lines"]
        assert tls[0]["style"]["bold"] is True
        assert tls[0]["style"]["source"] == "azure_detected"
        assert tls[1]["style"]["bold"] is False

    def test_stage_carries_styles(self, spark):
        import json

        from horizon_ocr_python_spark.engine.azure_stage import (
            map_recorded_responses)

        resp = {"content": "Alpha",
                "pages": [{"pageNumber": 1, "width": 8.5, "height": 11.0,
                           "lines": [{"content": "Alpha",
                                      "polygon": [0, 0, 2, 0, 2, 1, 0, 1],
                                      "spans": [{"offset": 0, "length": 5}]}],
                           "words": []}],
                "styles": [{"spans": [{"offset": 0, "length": 5}],
                            "fontWeight": "bold"}]}
        df = spark.createDataFrame([("u", json.dumps(resp))],
                                   ["url", "response"])
        row = map_recorded_responses(df).collect()[0]
        assert row.text_lines[0].style.bold is True
        assert row.text_lines[0].style.source == "azure_detected"

    def test_out_of_int32_page_number_contained(self, spark):
        import json

        from horizon_ocr_python_spark.engine.azure_stage import (
            map_recorded_responses)

        resp = {"pages": [{"pageNumber": 3_000_000_000, "width": 1,
                           "height": 1, "lines": [], "words": []}]}
        df = spark.createDataFrame([("u", json.dumps(resp))],
                                   ["url", "response"])
        row = map_recorded_responses(df).collect()[0]
        assert row.status == "ok" and row.number == 2**31 - 1

    def test_declared_dims_bounded_per_dimension(self):
        # columnCount 0 zeroes the rows*cols product: the row count alone
        # must not allocate one row list per declared row
        resp = {"pages": [{"pageNumber": 1, "width": 1, "height": 1,
                           "lines": [], "words": []}],
                "tables": [{"rowCount": 3_000_000, "columnCount": 0,
                            "cells": [],
                            "boundingRegions": [{"pageNumber": 1,
                                                 "polygon": [0, 0, 1, 1]}]}]}
        t = azure_map.map_azure_response(resp)[0]["tables"][0]
        assert t["n_rows"] == 0 and t["rows"] == []

    def test_out_of_int32_cell_contained(self, spark):
        import json

        from horizon_ocr_python_spark.engine.azure_stage import (
            map_recorded_responses)

        region = [{"pageNumber": 1, "polygon": [0, 0, 1, 1]}]
        resp = {"pages": [{"pageNumber": 1, "width": 1, "height": 1,
                           "lines": [], "words": []}],
                "tables": [{"rowCount": 1, "columnCount": 1,
                            "boundingRegions": region,
                            "cells": [{"rowIndex": 2**40, "columnIndex": 0,
                                       "content": "a"},
                                      {"rowIndex": 0, "columnIndex": 0,
                                       "rowSpan": 2**40, "content": "b"}]}]}
        df = spark.createDataFrame([("u", json.dumps(resp))],
                                   ["url", "response"])
        row = map_recorded_responses(df).collect()[0]
        assert row.status == "ok"
        cells = row.tables[0].cells
        assert cells[0].row == 2**31 - 1 and cells[1].row_span == 2**31 - 1
        assert row.tables[0].rows == [["b"]]
