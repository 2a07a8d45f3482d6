"""Engine guardrails: oversized-payload cap, the JSON output column and the
session's local-dir choice."""

import json

from pyspark.sql import functions as F

from horizon_ocr_python_spark.engine import session
from horizon_ocr_python_spark.engine.extract import extract_stage, with_json_output
from horizon_ocr_python_spark.engine.partitioning import with_length_cap
from horizon_ocr_python_spark.engine.schema import PAGES_SCHEMA


class TestLengthCap:
    def test_oversized_payload_truncated_not_dropped(self, spark):
        big = b"<html><body><p>" + b"x" * (1024 * 1024) + b"</p></body></html>"
        small = b"<html><body><p>small fine text</p></body></html>"
        df = spark.createDataFrame(
            [("u://big", None, big, "", "en"), ("u://small", None, small, "", "en")],
            PAGES_SCHEMA)
        capped = with_length_cap(df, max_bytes=1000)
        rows = {r.url: r for r in capped.collect()}
        assert len(rows["u://big"].html) == 1000
        assert len(rows["u://small"].html) == len(small)
        # the truncated row still flows through extraction as a row
        docs = extract_stage(capped).collect()
        assert {d.url for d in docs} == {"u://big", "u://small"}
        assert all(d.status in ("ok", "error") for d in docs)


class TestJsonOutput:
    def test_json_column_roundtrips(self, spark):
        from horizon_ocr_python_spark.engine.pipeline import pages_dataframe

        pages = pages_dataframe(spark, 5, seed=42)
        docs = with_json_output(extract_stage(pages))
        row = docs.orderBy("url").first()
        parsed = json.loads(row.json)
        assert parsed["id"] == row.doc_id
        assert parsed["raw_text"] == row.raw_text
        assert parsed["metadata"]["url"] == row.url
        assert {f["name"] for f in parsed["fields"]} == \
            {f["name"] for f in row.fields}
        assert parsed["validation"]["passed"] == row.validation.passed


class TestLocalDir:
    def test_spark_local_dirs_set_creates_nothing(self, monkeypatch):
        """With SPARK_LOCAL_DIRS set Spark ignores spark.local.dir, so the
        engine neither creates its tmpfs directory nor sets the config."""
        made = []
        monkeypatch.setattr(session.os, "makedirs",
                            lambda *a, **k: made.append(a))
        monkeypatch.setenv("SPARK_LOCAL_DIRS", "/elsewhere")
        assert session._local_dir() is None  # noqa: SLF001
        assert made == []

        monkeypatch.delenv("SPARK_LOCAL_DIRS")
        assert session._local_dir() is not None  # noqa: SLF001
