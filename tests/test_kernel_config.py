"""C7 config loader — reference tests/test_config.py semantics: defaults,
partial file, invalid keys, env override precedence."""

import json
from datetime import datetime, timezone

import pytest

from horizon_ocr_python_spark.kernel.config import EngineConfig, load_config
from horizon_ocr_python_spark.kernel.fuse import DEFAULT_SOURCE_WEIGHTS


class TestDefaults:
    def test_reference_defaults(self):
        cfg = load_config(env={})
        assert cfg.thresholds.low_confidence == 0.5
        assert cfg.fusion.strategy == "weighted_vote"
        assert cfg.fusion.source_weights["donut"] == 1.0
        assert cfg.fusion.source_weights["tesseract"] == 0.7
        assert cfg.extraction.max_link_density == 0.33

    def test_to_dict_broadcastable(self):
        d = load_config(env={}).to_dict()
        assert json.dumps(d)  # plain JSON-serializable (broadcast-safe)
        assert d["thresholds"]["low_confidence"] == 0.5


class TestFileLoad:
    def test_partial_file(self, tmp_path):
        p = tmp_path / "cfg.json"
        p.write_text(json.dumps({"fusion": {"strategy": "consensus"}}))
        cfg = load_config(path=str(p), env={})
        assert cfg.fusion.strategy == "consensus"
        assert cfg.thresholds.glyph_reocr_confidence == 0.90  # untouched

    def test_unknown_key_rejected(self, tmp_path):
        p = tmp_path / "cfg.json"
        p.write_text(json.dumps({"fusion": {"stratgy": "typo"}}))
        with pytest.raises(ValueError, match="unknown config keys"):
            load_config(path=str(p), env={})

    def test_unknown_strategy_rejected(self):
        # a typo must not silently fall back to another selector
        with pytest.raises(ValueError, match="unknown fusion strategy"):
            load_config(data={"fusion": {"strategy": "weighted-vote"}},
                        env={})

    def test_unknown_section_rejected(self):
        with pytest.raises(ValueError, match="unknown config sections"):
            load_config(data={"nonsense": {}}, env={})

    def test_invalid_json_raises(self, tmp_path):
        p = tmp_path / "cfg.json"
        p.write_text("{not json")
        with pytest.raises(json.JSONDecodeError):
            load_config(path=str(p))


class TestEnvOverride:
    def test_env_beats_file(self):
        cfg = load_config(
            data={"thresholds": {"glyph_reocr_confidence": 0.80}},
            env={"HSP_THRESHOLDS_GLYPH_REOCR_CONFIDENCE": "0.65"})
        assert cfg.thresholds.glyph_reocr_confidence == 0.65

    def test_env_type_coercion(self):
        cfg = load_config(env={
            "HSP_THRESHOLDS_MIN_IMAGE_TEXT_CHARS": "25",
            "HSP_FUSION_STRATEGY": "highest_confidence",
            "HSP_FUSION_SOURCE_WEIGHTS": '{"donut": 2.0}',
        })
        assert cfg.thresholds.min_image_text_chars == 25
        assert cfg.fusion.strategy == "highest_confidence"
        # user weights merge over the kernel defaults at the config boundary
        assert cfg.fusion.source_weights == {**DEFAULT_SOURCE_WEIGHTS,
                                             "donut": 2.0}

    def test_unrelated_env_ignored(self):
        cfg = load_config(env={"HSP_NOPE_X": "1", "PATH": "/bin"})
        assert cfg == EngineConfig()


class TestConfigThroughEngine:
    def test_fusion_strategy_reaches_kernel(self):
        """A conflict page where highest_confidence and consensus disagree,
        extracted under each strategy via the kernel entry the engine uses."""
        from horizon_ocr_python_spark.kernel.document import extract_document

        # consensus favors the twice-repeated table value, highest_confidence
        # the 0.9 kv
        html = _payloads()["conflict"]
        hc, cs = (extract_document("u", html, config=load_config(
            data={"fusion": {"strategy": s}}, env={}).to_dict())
            for s in ("highest_confidence", "consensus"))
        hc_total = next(f["value"] for f in hc["fields"] if f["name"] == "total")
        cs_total = next(f["value"] for f in cs["fields"] if f["name"] == "total")
        assert hc_total == "$1.00"
        assert cs_total == "$2.00"


def _leaves(d, prefix=""):
    return {p for k, v in d.items()
            for p in (_leaves(v, prefix + k + ".")
                      if isinstance(v, dict) and k != "source_weights"
                      else {prefix + k})}


def _payloads():
    from horizon_ocr_python_spark.kernel import glyphs, pdf_text, png
    from horizon_ocr_python_spark.sources import _png_doc_image

    scan = glyphs.render_page(
        [(36, 72, "Scan 4 alpha beta", 3),
         (36, 120, "Invoice Number: INV-42000077", 2),
         (36, 144, "Total: $1,234.56", 2)])
    # gray-120 haze reads as ink raw; only the re-OCR sweep recovers the
    # line (TestPipelineReocrAcceptance in test_raster_round4.py)
    hazed = glyphs.render_page(
        [(36, 72, "Scan 9 alpha", 3), (36, 130, "Total: $9.99", 2),
         (36, 160, "healthy body line", 2)]).copy()
    band = hazed[130:144, 36:240]
    band[band == 255] = 120
    return {
        "total": b"<html><body><p>Total: $1.00</p></body></html>",
        "scanned_png": png.encode_png(scan),
        "picture": _png_doc_image.encode(_png_doc_image.render(seed=1)),
        "hazed_pdf": pdf_text.build_scanned_pdf([hazed], codec="flate"),
        # kv says $1.00 (html_kv, conf 0.9); two tables say $2.00 (0.85):
        # weighted_vote picks $2.00, highest confidence $1.00
        "conflict": (b"<html><body><p>Total: $1.00</p>"
                     b"<table><tr><td>Total</td><td>$2.00</td></tr></table>"
                     b"<table><tr><td>Total</td><td>$2.00</td></tr></table>"
                     b"</body></html>"),
        "short": b"<html><body><p>Notes</p><p>A paragraph of body text.</p>"
                 b"</body></html>",
        "links": b"<html><body><p><a href='/a'>home about contact</a> news"
                 b"</p><p>A paragraph of body text.</p></body></html>",
        "widget": (b"<html><body><p>A clean paragraph of plain prose</p>"
                   b"<p><b>w</b><i>i</i><b>d</b><i>g</i><b>e</b><i>t</i>"
                   b"<b>s</b><i>p</i><b>a</b><i>m</i></p></body></html>"),
    }


class TestEveryLeafChangesOutput:
    """Every EngineConfig leaf changes some document's output: a setting
    whose override changes nothing is a silent no-op and is deleted."""

    # leaf -> (non-default value, payload of _payloads())
    CASES = {
        "thresholds.low_confidence": (0.95, "total"),
        "thresholds.glyph_reocr_confidence": (0.0, "hazed_pdf"),
        "thresholds.image_text_gate": (1.01, "scanned_png"),
        "thresholds.picture_floor": (0.0, "picture"),
        "thresholds.min_image_text_chars": (10000, "scanned_png"),
        "fusion.strategy": ("highest_confidence", "conflict"),
        "fusion.source_weights": ({"html_kv": 5.0}, "conflict"),
        "extraction.max_payload_bytes": (20, "total"),  # run_extraction's
        "extraction.min_block_chars": (6, "short"),
        "extraction.max_link_density": (1.0, "links"),
        "extraction.min_text_density": (3.0, "widget"),
    }

    @staticmethod
    def override(leaf):
        section, key = leaf.split(".")
        value = TestEveryLeafChangesOutput.CASES[leaf][0]
        return load_config(data={section: {key: value}}, env={}).to_dict()

    def test_table_covers_every_leaf(self):
        leaves = _leaves(EngineConfig().to_dict())
        assert set(self.CASES) == leaves and len(leaves) == 11

    def test_leaf_changes_document(self):
        from horizon_ocr_python_spark.kernel.document import extract_document

        now = datetime(2026, 1, 1, tzinfo=timezone.utc)
        payloads = _payloads()
        unchanged = []
        for leaf, (_, name) in self.CASES.items():
            if leaf == "extraction.max_payload_bytes":
                continue  # TestEveryLeafIsRead
            url, payload = f"https://x/{name}", payloads[name]
            base = extract_document(url, payload, now=now)
            doc = extract_document(url, payload, now=now,
                                   config=self.override(leaf))
            assert base["status"] == doc["status"] == "ok", leaf
            if doc == base:
                unchanged.append(leaf)
        assert unchanged == []


class TestEveryLeafIsRead:
    def test_run_extraction_reads_length_cap(self, spark, tmp_path):
        """extraction.max_payload_bytes is run_extraction's: its
        TestEveryLeafChangesOutput row changes the committed document."""
        from horizon_ocr_python_spark.engine.pipeline import run_extraction

        leaf = "extraction.max_payload_bytes"
        html = _payloads()[TestEveryLeafChangesOutput.CASES[leaf][1]]
        pages = spark.createDataFrame(
            [("u", None, html, "en")],
            "url string, warc_ts timestamp, html binary, lang string")

        def documents(root, config=None):
            res = run_extraction(pages, output_root=str(tmp_path / root),
                                 num_partitions=1, config=config)
            return [r.asDict(recursive=True)
                    for r in res.documents.drop("extract_ms").collect()]

        assert documents("default") != documents(
            "capped", TestEveryLeafChangesOutput.override(leaf))
