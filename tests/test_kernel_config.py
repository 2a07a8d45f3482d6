"""C7 config loader — reference tests/test_config.py semantics: defaults,
partial file, invalid keys, env override precedence."""

import json
from collections.abc import Mapping

import pytest

from horizon_ocr_python_spark.kernel.config import EngineConfig, load_config
from horizon_ocr_python_spark.kernel.fuse import DEFAULT_SOURCE_WEIGHTS


class TestDefaults:
    def test_reference_defaults(self):
        cfg = load_config(env={})
        assert cfg.thresholds.low_confidence == 0.5
        assert cfg.fusion.strategy == "weighted_vote"
        assert cfg.fusion.min_confidence == 0.2
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

        # kv says $1.00 (conf 0.9); table repeats $2.00 twice via rows ->
        # consensus favors agreement, highest_confidence favors the 0.9 kv
        html = (b"<html><body><p>Total: $1.00</p>"
                b"<table><tr><td>Total</td><td>$2.00</td></tr></table>"
                b"<table><tr><td>Total</td><td>$2.00</td></tr></table>"
                b"</body></html>")
        hc, cs = (extract_document("u", html, config=load_config(
            data={"fusion": {"strategy": s}}, env={}).to_dict())
            for s in ("highest_confidence", "consensus"))
        hc_total = next(f["value"] for f in hc["fields"] if f["name"] == "total")
        cs_total = next(f["value"] for f in cs["fields"] if f["name"] == "total")
        assert hc_total == "$1.00"
        assert cs_total == "$2.00"


class _Recorder(Mapping):
    """A config mapping that records the dotted path of every leaf read
    (fusion.source_weights counts as one leaf)."""

    def __init__(self, data, reads, prefix=""):
        self._data, self._reads, self._prefix = data, reads, prefix

    def __getitem__(self, key):
        value, path = self._data[key], self._prefix + key
        if isinstance(value, dict) and path != "fusion.source_weights":
            return _Recorder(value, self._reads, path + ".")
        self._reads.add(path)
        return value

    def __iter__(self):
        return iter(self._data)

    def __len__(self):
        return len(self._data)


def _leaves(d, prefix=""):
    return {p for k, v in d.items()
            for p in (_leaves(v, prefix + k + ".")
                      if isinstance(v, dict) and k != "source_weights"
                      else {prefix + k})}


class TestEveryLeafIsRead:
    """Every EngineConfig leaf reaches the stage it governs: a key nothing
    reads would make its HSP_* override a silent no-op."""

    def _route_payloads(self):
        from horizon_ocr_python_spark.kernel import glyphs, pdf_text, png
        from horizon_ocr_python_spark.sources import _png_doc_image

        page = glyphs.render_page(
            [(36, 72, "Scan 4 alpha beta", 3),
             (36, 120, "Invoice Number: INV-42000077", 2),
             (36, 144, "Total: $1,234.56", 2)])
        bad_bit = page.copy()
        bad_bit[120:122, 96:98] = 255  # score < 1.0: re-OCR runs
        return {
            "html": b"<html><body><p>Total: $1.00</p></body></html>",
            "text_pdf": pdf_text.build_pdf_pages(
                [[(72.0, 72.0, "Big Title", 24.0),
                  (72.0, 130.0, "Invoice Number: INV-42", 12.0)]]),
            "scanned_pdf": pdf_text.build_scanned_pdf([bad_bit],
                                                      codec="flate"),
            "scanned_png": png.encode_png(page),
            "picture": _png_doc_image.encode(_png_doc_image.render(seed=5)),
        }

    def test_kernel_reads_every_extraction_leaf(self):
        from horizon_ocr_python_spark.kernel.document import extract_document

        cfg = EngineConfig().to_dict()
        reads: set = set()
        for route, payload in self._route_payloads().items():
            doc = extract_document(f"https://x/{route}", payload,
                                   config=_Recorder(cfg, reads))
            assert doc["status"] == "ok", (route, doc.get("error"))
        # max_payload_bytes is run_extraction's (next test)
        assert sorted(_leaves(cfg) - reads) == ["extraction.max_payload_bytes"]
        assert len(_leaves(cfg)) == 12

    def test_run_extraction_reads_length_cap(self, spark):
        from horizon_ocr_python_spark.engine.pipeline import run_extraction

        reads: set = set()
        pages = spark.createDataFrame(
            [("u", None, b"<p>x</p>", "en")],
            "url string, warc_ts timestamp, html binary, lang string")
        run_extraction(pages, num_partitions=1,
                       config=_Recorder(EngineConfig().to_dict(), reads))
        assert "extraction.max_payload_bytes" in reads
