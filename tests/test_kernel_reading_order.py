"""Reading order / dedup / layout heuristics — ported from reference
tests/test_reconstruction.py and layout classifier semantics."""

from horizon_ocr_python_spark.kernel import reading_order as R


class TestReadingOrder:
    def test_sort_key(self):
        # (page, y//50, x) — io/reconstruction.py:121-133
        assert R.reading_order_key({"page": 2, "y": 120, "x": 33.5}) == (2, 2, 33.5)
        assert R.reading_order_key({}) == (1, 0, 0)

    def test_sort_multi_column(self):
        els = [
            {"text": "right-col", "page": 1, "y": 100, "x": 400},
            {"text": "left-col", "page": 1, "y": 110, "x": 50},
            {"text": "header", "page": 1, "y": 10, "x": 50},
            {"text": "page2", "page": 2, "y": 0, "x": 0},
        ]
        ordered = [e["text"] for e in R.sort_reading_order(els)]
        # y=100 and y=110 share band 2 -> x decides; header band 0 first
        assert ordered == ["header", "left-col", "right-col", "page2"]

    def test_stable_ties(self):
        els = [{"text": "a", "page": 1, "y": 0, "x": 0},
               {"text": "b", "page": 1, "y": 0, "x": 0}]
        assert [e["text"] for e in R.sort_reading_order(els)] == ["a", "b"]


class TestDedup:
    def test_same_text_same_band_dropped(self):
        els = [
            {"text": "dup", "page": 1, "y": 10, "x": 0},
            {"text": "dup", "page": 1, "y": 40, "x": 0},   # same band 0
            {"text": "dup", "page": 1, "y": 60, "x": 0},   # band 1 -> kept
            {"text": "dup", "page": 2, "y": 10, "x": 0},   # other page -> kept
        ]
        assert len(R.dedup_elements(els)) == 3

    def test_empty_text_dropped(self):
        assert R.dedup_elements([{"text": "  ", "page": 1, "y": 0}]) == []


class TestRegionClassifier:
    # layout_doclaynet.py:210-251 thresholds on a 1000x1000 page
    def test_header(self):
        assert R.classify_region_heuristic(0, 50, 500, 50, 1000, 1000) == "header"

    def test_footer(self):
        assert R.classify_region_heuristic(400, 900, 100, 50, 1000, 1000) == "footer"

    def test_page_number_corner(self):
        # footer rule fires first unless bottom>0.85 fails... corners need
        # rel_y+rel_h>0.9 AND x in outer 20%; but footer rule (>0.85) matches
        # first, exactly as in the reference (ordering preserved)
        assert R.classify_region_heuristic(10, 920, 30, 20, 1000, 1000) == "footer"

    def test_table_wide(self):
        assert R.classify_region_heuristic(100, 400, 600, 150, 1000, 1000) == "table"

    def test_title_near_top(self):
        assert R.classify_region_heuristic(100, 200, 600, 50, 1000, 1000) == "title"

    def test_default_text(self):
        assert R.classify_region_heuristic(100, 400, 200, 200, 1000, 1000) == "text"


class TestRawText:
    def test_assemble(self):
        # orchestrator.py:780 exact join
        lines = [{"text": "a"}, {"text": ""}, {"text": "b"}]
        assert R.assemble_raw_text(lines) == "a\nb"


class TestClusterPositions:
    def test_gap_clustering(self):
        # table_tatr.py:433-453: gap<=threshold merges; cluster value = mean
        assert R.cluster_positions_1d([10, 12, 14, 100, 104], 20) == [12.0, 102.0]
        assert R.cluster_positions_1d([], 20) == []
        assert R.cluster_positions_1d([5.0], 20) == [5.0]
