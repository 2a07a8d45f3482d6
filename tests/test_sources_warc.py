"""WARC container: roundtrip, robustness, and the Spark ingestion path."""

from datetime import datetime

from pyspark.sql import functions as F

from horizon_ocr_python_spark.sources import pages as pages_gen
from horizon_ocr_python_spark.sources.warc import (build_warc, parse_warc,
                                                   read_warc_pages)

TS = datetime(2026, 3, 5, 12, 0, 0)


class TestWarcRoundtrip:
    def test_roundtrip(self):
        recs = [("https://a.example/1", TS, b"<html><body>one</body></html>"),
                ("https://b.example/2", TS, b"payload two")]
        parsed = list(parse_warc(build_warc(recs)))
        assert [(r["url"], r["warc_ts"], r["payload"]) for r in parsed] == recs

    def test_binary_payload_with_crlf(self):
        payload = b"bin\r\n\r\nstill the same record \x00\xff"
        parsed = list(parse_warc(build_warc([("u", TS, payload)])))
        assert parsed[0]["payload"] == payload

    def test_non_response_records_skipped(self):
        warc = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n"
                b"\r\ninfo\r\n\r\n"
                + build_warc([("https://x.example", TS, b"keep me")]))
        parsed = list(parse_warc(warc))
        assert len(parsed) == 1 and parsed[0]["payload"] == b"keep me"

    def test_trailing_garbage_tolerated(self):
        warc = build_warc([("u", TS, b"data")]) + b"\x00garbage tail"
        assert len(list(parse_warc(warc))) == 1

    def test_empty(self):
        assert list(parse_warc(b"")) == []


class TestWarcSparkIngestion:
    def test_warc_to_extraction_byte_identity(self, spark, tmp_path):
        """The full real-world ingest: pages serialized as WARC files,
        re-read via binaryFile + record explode, run through the extraction
        stage — text must still be byte-identical to the generator truth."""
        gen = pages_gen.generate_pages(30, seed=42)
        truth = {p["url"]: p["text"] for p in gen}
        half = len(gen) // 2
        for name, chunk in [("a.warc", gen[:half]), ("b.warc", gen[half:])]:
            warc = build_warc([(p["url"], p["warc_ts"], p["html"])
                               for p in chunk])
            (tmp_path / name).write_bytes(warc)

        from horizon_ocr_python_spark.engine.extract import extract_stage

        pages = read_warc_pages(spark, str(tmp_path / "*.warc"))
        assert pages.count() == 30
        docs = extract_stage(pages).collect()
        assert len(docs) == 30
        mismatch = [d.url for d in docs if d.raw_text != truth[d.url]]
        assert mismatch == []
        # warc_ts survived the container roundtrip
        ts_null = [d.url for d in docs if d.warc_ts is None]
        assert ts_null == []

    def test_warc_date_is_utc_in_any_session_time_zone(self, spark, tmp_path):
        """`WARC-Date: ...Z` is UTC: the stored instant must not shift with
        the session time zone (a naive datetime read as session-local time
        lands 5 h off under America/New_York)."""
        (tmp_path / "a.warc").write_bytes(
            build_warc([("https://a.example/1", TS, b"<html>x</html>")]))
        key = "spark.sql.session.timeZone"
        before = spark.conf.get(key)
        spark.conf.set(key, "America/New_York")
        try:
            got = (read_warc_pages(spark, str(tmp_path / "*.warc"))
                   .select(F.unix_timestamp("warc_ts").alias("e"))
                   .collect())
        finally:
            spark.conf.set(key, before)
        # 2026-03-05T12:00:00Z
        assert [r.e for r in got] == [1772712000]
