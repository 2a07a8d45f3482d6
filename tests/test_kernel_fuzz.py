"""Property-based / fuzz tests: the kernel must be total (never raise) and
deterministic on arbitrary input — the error-containment contract says a
poisoned document becomes a status row, never a task failure."""

from datetime import datetime

from hypothesis import given, settings
from hypothesis import strategies as st

from horizon_ocr_python_spark.kernel import fuse as FU
from horizon_ocr_python_spark.kernel import html_extract, kie, validators
from horizon_ocr_python_spark.kernel.document import extract_document

NOW = datetime(2026, 3, 15)


class TestTotality:
    @given(st.binary(max_size=2000))
    @settings(max_examples=150, deadline=None)
    def test_extract_document_never_raises(self, payload):
        doc = extract_document("http://fuzz", payload, None, "en", now=NOW)
        assert doc["status"] in ("ok", "error")
        assert isinstance(doc["raw_text"], str)

    @given(st.text(max_size=2000))
    @settings(max_examples=150, deadline=None)
    def test_html_extract_total_on_text(self, text):
        ex = html_extract.extract_html(text)
        assert isinstance(ex["raw_text"], str)
        # content blocks are exactly the non-dropped blocks, in order
        assert [b["index"] for b in ex["content_blocks"]] == sorted(
            b["index"] for b in ex["blocks"] if not b["dropped"])

    @given(st.text(max_size=500))
    @settings(max_examples=100, deadline=None)
    def test_kie_parse_total(self, s):
        out = kie.parse_kie_output(s)
        assert isinstance(out, dict)

    @given(st.text(max_size=100))
    @settings(max_examples=100, deadline=None)
    def test_validators_total(self, s):
        for fn in (validators.validate_amount, validators.validate_currency,
                   validators.validate_non_empty):
            r = fn(s)
            assert isinstance(r["passed"], bool)
        assert isinstance(validators.validate_date(s, now=NOW)["passed"], bool)


class TestDeterminismAndInvariants:
    @given(st.binary(max_size=1000))
    @settings(max_examples=60, deadline=None)
    def test_extract_document_deterministic(self, payload):
        a = extract_document("http://u", payload, None, "en", now=NOW)
        b = extract_document("http://u", payload, None, "en", now=NOW)
        assert a == b

    @given(st.floats(min_value=0, max_value=1e9, allow_nan=False),
           st.floats(min_value=0, max_value=1e9, allow_nan=False))
    @settings(max_examples=80, deadline=None)
    def test_amount_roundtrip_property(self, a, b):
        # formatting then parsing any 2dp amount is the identity
        s = f"{a:,.2f}"
        parsed = validators.parse_amount(s)
        assert parsed is not None and abs(parsed - round(a, 2)) < 1e-6

    @given(st.lists(st.floats(min_value=-100, max_value=100,
                              allow_nan=False), min_size=1, max_size=30),
           st.floats(min_value=0.1, max_value=50, allow_nan=False))
    @settings(max_examples=80, deadline=None)
    def test_cluster_positions_invariants(self, positions, threshold):
        from horizon_ocr_python_spark.kernel.reading_order import cluster_positions_1d
        out = cluster_positions_1d(positions, threshold)
        assert 1 <= len(out) <= len(positions)
        assert out == sorted(out)
        # consecutive cluster centers are separated by more than... (not
        # guaranteed: centers can be close even when member gaps are large)

    @given(st.lists(st.tuples(st.text(alphabet="ab", min_size=1, max_size=3),
                              st.floats(min_value=0, max_value=1,
                                        allow_nan=False)),
                    min_size=1, max_size=10))
    @settings(max_examples=60, deadline=None)
    def test_weighted_vote_picks_existing_candidate(self, pairs):
        cands = [{"source": "donut", "value": v, "confidence": c,
                  "metadata": {}} for v, c in pairs]
        best = FU.select_weighted_vote(cands)
        assert best in cands
