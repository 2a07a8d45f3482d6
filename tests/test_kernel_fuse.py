"""Kernel fusion tests — ported from reference tests/test_fuse.py:6-296."""

from horizon_ocr_python_spark.kernel import fuse as F


def make_field(name, value, confidence, source, data_type="string", candidates=None):
    return {
        "name": name, "value": value, "data_type": data_type,
        "confidence": confidence, "status": "single_source", "page": 1,
        "bbox": None, "chosen_source": source,
        "candidates": candidates if candidates is not None else [
            {"source": source, "value": value, "confidence": confidence,
             "page": 1, "bbox": None, "metadata": {}}],
        "validators": [],
    }


class TestFusion:
    def test_fuse_identical_fields(self):
        result = F.fuse_fields([
            [make_field("total", "100.00", 0.9, "donut")],
            [make_field("total", "100.00", 0.85, "layoutlmv3")],
        ], strategy="highest_confidence")
        totals = [f for f in result if f["name"] == "total"]
        assert len(totals) == 1 and totals[0]["value"] == "100.00"

    def test_fuse_conflicting_picks_highest_confidence(self):
        result = F.fuse_fields([
            [make_field("total", "100.00", 0.95, "donut")],
            [make_field("total", "200.00", 0.85, "layoutlmv3")],
        ], strategy="highest_confidence")
        totals = [f for f in result if f["name"] == "total"]
        assert totals[0]["value"] == "100.00" and totals[0]["confidence"] == 0.95

    def test_weighted_vote_custom_weights(self):
        result = F.fuse_fields([
            [make_field("date", "2024-01-15", 0.8, "donut")],
            [make_field("date", "2024-01-15", 0.9, "layoutlmv3")],
        ], strategy="weighted_vote",
            source_weights={"donut": 0.6, "layoutlmv3": 0.4})
        dates = [f for f in result if f["name"] == "date"]
        assert len(dates) == 1 and dates[0]["value"] == "2024-01-15"

    def test_weighted_vote_sum_beats_single(self):
        # two weaker sources agreeing outvote one stronger disagreeing source:
        # 0.6*1.0(donut) < 0.55*0.9 + 0.55*0.8 -> "B" wins
        result = F.fuse_fields([
            [make_field("x", "A", 0.6, "donut")],
            [make_field("x", "B", 0.55, "layoutlmv3")],
            [make_field("x", "B", 0.55, "trocr")],
        ], strategy="weighted_vote")
        assert result[0]["value"] == "B"

    def test_fuse_empty(self):
        assert F.fuse_fields([]) == []

    def test_fuse_single_source_passthrough(self):
        result = F.fuse_fields([[
            make_field("total", "100.00", 0.9, "donut"),
            make_field("date", "2024-01-15", 0.85, "donut"),
        ]])
        assert len(result) == 2

    def test_consensus_two_agree(self):
        result = F.fuse_fields([
            [make_field("total", "100.00", 0.9, "donut")],
            [make_field("total", "100.00", 0.85, "layoutlmv3")],
            [make_field("total", "200.00", 0.7, "trocr")],
        ], strategy="consensus")
        totals = [f for f in result if f["name"] == "total"]
        assert totals[0]["value"] == "100.00"

    def test_consensus_falls_back_to_weighted_vote(self):
        cands = [
            {"source": "donut", "value": "A", "confidence": 0.5, "metadata": {}},
            {"source": "layoutlmv3", "value": "B", "confidence": 0.9, "metadata": {}},
        ]
        # no value repeats -> weighted vote: B 0.9*0.9=0.81 > A 0.5*1.0
        best = F.select_consensus(cands)
        assert best["value"] == "B"

    def test_name_normalization_groups(self):
        # "Invoice Number" and "invoice-number" fuse into one group (fuse.py:173-175)
        result = F.fuse_fields([
            [make_field("Invoice Number", "INV-1", 0.9, "donut")],
            [make_field("invoice-number", "INV-1", 0.8, "layoutlmv3")],
        ])
        assert len(result) == 1
        assert F.normalize_field_name("Invoice Number") == "invoice_number"

    def test_status_determination(self):
        # >=2 sources agree & conf >= 0.7 -> confident (fuse.py:399-400)
        cands = [
            {"source": "donut", "value": "100", "confidence": 0.9, "metadata": {}},
            {"source": "layoutlmv3", "value": "100", "confidence": 0.8, "metadata": {}},
        ]
        assert F.determine_status(cands[0], cands) == "confident"
        # single source -> single_source
        one = [{"source": "donut", "value": "100", "confidence": 0.9, "metadata": {}}]
        assert F.determine_status(one[0], one) == "single_source"


class TestQualityFilter:
    def test_drops_empty(self):
        fields = [make_field("a", "", 0.9, "donut"),
                  make_field("b", "  ", 0.9, "donut"),
                  make_field("c", "keep", 0.9, "donut")]
        kept = F.filter_low_quality_fields(fields)
        assert [f["name"] for f in kept] == ["c"]

    def test_drops_low_conf_single_source(self):
        fields = [make_field("a", "guess", 0.06, "layoutlmv3")]
        assert F.filter_low_quality_fields(fields) == []
        # multi-source low-conf survives
        multi = make_field("a", "guess", 0.06, "layoutlmv3")
        multi["candidates"].append({"source": "donut", "value": "guess",
                                    "confidence": 0.05, "metadata": {}})
        assert F.filter_low_quality_fields([multi]) == [multi]

    def test_drops_currency_mismatch(self):
        bad = make_field("total", "BATTERY RADIATOR", 0.9, "donut", data_type="currency")
        good = make_field("total", "$1,234.56", 0.9, "donut", data_type="currency")
        kept = F.filter_low_quality_fields([bad, good])
        assert [f["value"] for f in kept] == ["$1,234.56"]

    def test_drops_date_mismatch(self):
        bad = make_field("date", "WIDGET", 0.9, "donut", data_type="date")
        good = make_field("date", "2024-01-15", 0.9, "donut", data_type="date")
        kept = F.filter_low_quality_fields([bad, good])
        assert [f["value"] for f in kept] == ["2024-01-15"]


class TestShapeHelpers:
    def test_looks_like_amount(self):
        assert F.looks_like_amount("$1,234.56")
        assert F.looks_like_amount("495")
        assert F.looks_like_amount("-12.5")
        assert not F.looks_like_amount("BATTERY RADIATOR")
        assert not F.looks_like_amount("n/a")

    def test_looks_like_date_value(self):
        assert F.looks_like_date_value("2024-01-15")
        assert F.looks_like_date_value("1/15/24")
        assert F.looks_like_date_value("January 15, 2024")
        assert F.looks_like_date_value("15 January 2024")
        assert not F.looks_like_date_value("WIDGET")

    def test_boxes_overlap(self):
        # overlap/min-area >= 0.3 (fuse.py:459-476)
        assert F.boxes_overlap((0, 0, 10, 10), (4, 4, 15, 15))   # 36% of smaller
        assert not F.boxes_overlap((0, 0, 10, 10), (5, 5, 15, 15))  # 25% < 0.3
        assert not F.boxes_overlap((0, 0, 10, 10), (9.5, 9.5, 100, 100))
        assert not F.boxes_overlap((0, 0, 10, 10), (20, 20, 30, 30))
