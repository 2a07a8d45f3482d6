"""Engine integration: fused extraction stage, partitioning, checkpoint/resume,
metrics — on a live local SparkSession."""

import pytest
from pyspark.sql import functions as F

from horizon_ocr_python_spark.engine import checkpoint as ckpt
from horizon_ocr_python_spark.engine.extract import extract_stage, extracted_metrics
from horizon_ocr_python_spark.engine.partitioning import salted_repartition
from horizon_ocr_python_spark.engine.pipeline import pages_dataframe, run_extraction

N_PAGES = 80


@pytest.fixture(scope="module")
def pages(spark):
    return pages_dataframe(spark, N_PAGES, seed=42).cache()


class TestExtractStage:
    def test_byte_identity_distributed(self, spark, pages):
        """The per-row invariant, end-to-end through Spark: extracted
        raw_text == ground-truth text column for every url."""
        docs = extract_stage(pages)
        joined = docs.join(pages.select("url", "text"), on="url")
        n_total = joined.count()
        n_match = joined.filter(F.col("raw_text") == F.col("text")).count()
        assert n_total == N_PAGES
        assert n_match == N_PAGES

    def test_status_all_ok(self, spark, pages):
        docs = extract_stage(pages)
        assert docs.filter(F.col("status") != "ok").count() == 0

    def test_fields_arrive(self, spark, pages):
        docs = extract_stage(pages)
        row = (docs.select("url", F.explode("fields").alias("f"))
               .filter(F.col("f.name") == "invoice_number").first())
        assert row is not None and row.f.value.startswith("INV-")

    def test_poison_row_contained(self, spark):
        data = [("u://good", None, b"<html><body><p>fine text here</p></body></html>",
                 "fine text here", "en"),
                ("u://bad", None, b"\x00\x01\x02\xff", "", "en")]
        from horizon_ocr_python_spark.engine.schema import PAGES_SCHEMA
        df = spark.createDataFrame(data, PAGES_SCHEMA)
        docs = extract_stage(df).collect()
        assert len(docs) == 2  # the poison row produced a row, not a task failure

    def test_metrics_lineage(self, spark, pages):
        docs = extract_stage(salted_repartition(pages, 8))
        m = extracted_metrics(docs, snapshot_id=7).collect()
        assert sum(r.n_docs for r in m) == N_PAGES
        assert all(r.n_err == 0 for r in m)
        assert all(r.snapshot_id == 7 for r in m)
        assert all(r.wall_ms >= 0 for r in m)


class TestDocumentRow:
    """`_doc_to_row` writes only where the kernel Document differs from
    DOCUMENT_SCHEMA; `RecordBatch.from_pylist` on the schema (what
    `map_rows` does) converts the rest."""

    @staticmethod
    def _row(doc):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from horizon_ocr_python_spark.engine.extract import _doc_to_row
        from horizon_ocr_python_spark.engine.schema import DOCUMENT_SCHEMA

        row = _doc_to_row("https://x/d", None, "en", doc, "k", 3, 1.5)
        return pa.RecordBatch.from_pylist(
            [row], schema=to_arrow_schema(DOCUMENT_SCHEMA)).to_pylist()[0]

    def test_reshapes(self):
        line = {"text": "a b", "bbox": (0, 0, 9, 4), "source": "pdf_text",
                "content_type": "printed", "words": [
                    {"text": "a", "bbox": (0, 0, 4, 4), "confidence": 1.0},
                    {"text": "b", "source": "ocr", "content_type": None}]}
        doc = {
            "id": "d1", "status": "ok", "error": "", "raw_text": "a b",
            "metadata": {"file_type": "pdf"},
            "pages": [{"number": 1, "layout_regions": [{"type": "text"}],
                       "text_lines": [line],
                       "metadata": {"width": 612, "height": 792, "dpi": 72,
                                    "rotation": 0}}],
            "fields": [{"name": "qty", "value": 42, "candidates": [
                {"source": "pdf_text", "value": 42, "metadata": {}},
                {"source": "html_kv", "value": None}],
                "validators": [{"name": "amount", "passed": True,
                                "message": "ok", "parsed_value": 42.0,
                                "format_used": None}]}],
        }
        row = self._row(doc)
        assert (row["doc_id"], row["file_type"], row["content_key"]) == \
            ("d1", "pdf", "k")
        assert (row["n_chars"], row["n_blocks"], row["n_content_blocks"]) == \
            (3, 1, 1)
        assert (row["partition_id"], row["extract_ms"]) == (3, 1.5)
        page = row["pages"][0]
        assert (page["width"], page["height"], page["dpi"]) == (612, 792, 72)
        words = page["text_lines"][0]["words"]
        assert [(w["source"], w["content_type"]) for w in words] == \
            [("pdf_text", "printed"), ("ocr", None)]
        assert words[0]["bbox"] == {"x1": 0.0, "y1": 0.0, "x2": 4.0,
                                    "y2": 4.0}
        field = row["fields"][0]
        assert field["value"] == "42"
        assert [c["value"] for c in field["candidates"]] == ["42", None]
        assert field["n_candidates"] == 2
        assert dict(field["validators"][0]["details"]) == \
            {"parsed_value": "42.0"}

    def test_error_row(self, monkeypatch):
        from horizon_ocr_python_spark.kernel import document

        def boom(*args, **kwargs):
            raise ValueError("boom")

        monkeypatch.setattr(document, "_extract", boom)
        doc = document.extract_document("https://x/d", b"<p>x</p>")
        row = self._row(doc)
        assert (row["status"], row["error"]) == ("error", "ValueError: boom")
        assert row["reconstruction"] is None and row["normalized"] is None
        assert row["pages"] == [] and row["n_blocks"] == 0
        assert row["validation"]["total_checks"] == 0


class TestPartitioning:
    def test_salted_spreads_hot_host(self, spark, pages):
        parts = (salted_repartition(pages, 8)
                 .withColumn("pid", F.spark_partition_id())
                 .groupBy("pid").count().collect())
        counts = [r["count"] for r in parts]
        # Zipf head (host000 ~ many pages) must not all land in one partition.
        # (AQE may coalesce the tiny shuffle below 8 partitions — that's fine;
        # what matters is that no partition carries the whole hot host.)
        assert len(counts) >= 2
        assert max(counts) < N_PAGES * 0.5

    def test_deterministic_assignment(self, spark, pages):
        a = (salted_repartition(pages, 8).withColumn("pid", F.spark_partition_id())
             .select("url", "pid").collect())
        b = (salted_repartition(pages, 8).withColumn("pid", F.spark_partition_id())
             .select("url", "pid").collect())
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestCheckpointResume:
    def test_commit_and_resume(self, spark, pages, tmp_path):
        root = str(tmp_path / "out")
        first = pages.limit(30)
        res1 = run_extraction(first, output_root=root, num_partitions=4)
        assert res1.snapshot_id == 1
        assert res1.documents.count() == 30

        # second run over the full table resumes: only the 50 new rows run
        res2 = run_extraction(pages, output_root=root, num_partitions=4)
        assert res2.snapshot_id == 2
        snap2 = spark.read.parquet(f"{root}/snapshots/snap-2")
        assert snap2.count() == N_PAGES - 30

        # merged view has every url exactly once
        table = ckpt.read_table(spark, root)
        assert table.count() == N_PAGES
        assert table.select("url").distinct().count() == N_PAGES

        # metrics accumulated for both snapshots
        metrics = spark.read.parquet(f"{root}/metrics")
        snaps = {r.snapshot_id for r in metrics.select("snapshot_id").distinct().collect()}
        assert snaps == {1, 2}

    def test_time_travel_read(self, spark, pages, tmp_path):
        root = str(tmp_path / "tt")
        run_extraction(pages.limit(20), output_root=root, num_partitions=2)
        run_extraction(pages.limit(50), output_root=root, num_partitions=2)
        assert ckpt.read_table(spark, root, as_of_snapshot=1).count() == 20
        assert ckpt.read_table(spark, root).count() == 50
        assert ckpt.read_table(spark, root, as_of_snapshot=0) is None

    def test_rerun_noop(self, spark, pages, tmp_path):
        root = str(tmp_path / "out2")
        run_extraction(pages.limit(10), output_root=root, num_partitions=2)
        res = run_extraction(pages.limit(10), output_root=root, num_partitions=2)
        snap2 = spark.read.parquet(f"{root}/snapshots/snap-2")
        assert snap2.count() == 0  # everything committed -> nothing re-extracted
        assert res.snapshot_id == 2

    def test_crash_before_manifest_is_invisible(self, spark, pages, tmp_path):
        root = str(tmp_path / "out3")
        run_extraction(pages.limit(5), output_root=root, num_partitions=2)
        # simulate a crashed run: data dir exists, no manifest
        import os
        os.makedirs(f"{root}/snapshots/snap-99", exist_ok=True)
        assert len(ckpt.committed_snapshots(root)) == 1
        assert ckpt.next_snapshot_id(root) == 2

    def test_retry_after_mid_write_crash(self, spark, pages, tmp_path):
        """A crash DURING the snapshot data write leaves an orphan snap-N
        dir; the retried commit (same N) must clear it and succeed."""
        import os
        root = str(tmp_path / "out4")
        run_extraction(pages.limit(5), output_root=root, num_partitions=2)
        # orphan for the NEXT id (2): half-written data, no manifest
        orphan = f"{root}/snapshots/snap-2"
        os.makedirs(orphan)
        open(f"{orphan}/part-half-written.parquet", "wb").write(b"garbage")
        res = run_extraction(pages.limit(12), output_root=root, num_partitions=2)
        assert res.snapshot_id == 2
        assert ckpt.read_table(spark, root).count() == 12
        # the garbage file is gone
        assert not os.path.exists(f"{orphan}/part-half-written.parquet")


class TestPlanShape:
    def test_text_column_pruned(self, spark, tmp_path, pages):
        """The extraction stage must not read the ground-truth text column:
        check the parquet ReadSchema after writing pages to disk."""
        path = str(tmp_path / "pages_parquet")
        pages.write.parquet(path)
        on_disk = spark.read.parquet(path)
        plan = extract_stage(on_disk)._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema" in plan
        import re
        read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
        assert "text" not in read_schema, read_schema
        assert "html" in read_schema
