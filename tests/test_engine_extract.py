"""Engine integration: fused extraction stage, partitioning, checkpoint/resume,
metrics — on a live local SparkSession."""

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

import plan_helpers
from horizon_ocr_python_spark.engine import checkpoint as ckpt
from horizon_ocr_python_spark.engine.extract import (extract_stage,
                                                     extracted_metrics,
                                                     extraction)
from horizon_ocr_python_spark.engine.partitioning import salted_repartition
from horizon_ocr_python_spark.engine.pipeline import pages_dataframe, run_extraction
from horizon_ocr_python_spark.engine.schema import (DOCUMENT_SCHEMA,
                                                    METRICS_SCHEMA, PAGES_SCHEMA)

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
        metrics = ckpt.read_metrics(spark, root)
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
        # nor any metrics row: the extraction pass never ran
        assert ckpt.committed_snapshots(root)[-1]["metrics"] == []
        assert {r.snapshot_id for r in res.metrics.collect()} == {1}

    def test_empty_commit_reads(self, spark, pages, tmp_path):
        """A commit without rows leaves one schema-only part file: the
        snapshot reads with its known schema and by schema inference."""
        root = str(tmp_path / "empty")
        run_extraction(pages.limit(4), output_root=root, num_partitions=2)
        res = run_extraction(pages.limit(4), output_root=root, num_partitions=2)
        assert os.listdir(f"{root}/snapshots/snap-2") == ["part-00000.parquet"]
        assert ckpt.read_snapshot(spark, root, 2).count() == 0
        inferred = spark.read.parquet(f"{root}/snapshots/snap-2")
        assert inferred.count() == 0
        # parquet reads every column as nullable; names and types match
        assert inferred.schema.simpleString() == DOCUMENT_SCHEMA.simpleString()
        assert res.documents.count() == 0

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


def _metric_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _snapshot_metrics(spark, root, snap_id):
    """`extracted_metrics` recomputed over a committed snapshot's rows."""
    return _metric_rows(extracted_metrics(
        ckpt.read_snapshot(spark, root, snap_id), snapshot_id=snap_id))


class TestPartitionMetrics:
    """A committing run's per-partition metrics are a side output of the
    extraction pass, committed in the snapshot's manifest."""

    def test_side_output_equals_recomputed(self, spark, pages, tmp_path):
        root = str(tmp_path / "m")
        run_extraction(pages.limit(30), output_root=root, num_partitions=4)
        res = run_extraction(pages, output_root=root, num_partitions=4)
        assert res.metrics.schema == METRICS_SCHEMA
        for snap in ckpt.committed_snapshots(root):
            sid = snap["snapshot_id"]
            rows = _metric_rows(res.metrics.filter(F.col("snapshot_id") == sid))
            assert rows == _snapshot_metrics(spark, root, sid)
            assert sum(r["n_docs"] for r in snap["metrics"]) == snap["n_rows"]
        assert sum(r[1] for r in _metric_rows(res.metrics)) == N_PAGES

    def test_contained_error_counts_in_n_err(self, spark, tmp_path):
        from horizon_ocr_python_spark.engine.schema import PAGES_SCHEMA

        df = spark.createDataFrame([
            ("u://good", None, b"<html><body><p>fine text here</p></body></html>",
             "fine text here", "en"),
            # a truncated PNG: the kernel contains the decode error in the row
            ("u://bad", None, b"\x89PNG\r\n\x1a\n" + bytes(20), "", "en"),
        ], PAGES_SCHEMA)
        root = str(tmp_path / "err")
        run_extraction(df, output_root=root, num_partitions=2)
        rows = ckpt.read_metrics(spark, root).collect()
        assert (sum(r.n_docs for r in rows), sum(r.n_ok for r in rows),
                sum(r.n_err for r in rows)) == (2, 1, 1)
        assert _metric_rows(ckpt.read_metrics(spark, root)) == \
            _snapshot_metrics(spark, root, 1)

    def test_crashed_run_contributes_none(self, spark, pages, tmp_path):
        """A run that wrote its part files but died before the manifest
        rename: neither its rows nor its metrics are visible, and the
        retry commits only its own rows."""
        root = str(tmp_path / "crash")
        run_extraction(pages.limit(5), output_root=root, num_partitions=2)
        before = _metric_rows(ckpt.read_metrics(spark, root))
        data_dir = f"{root}/snapshots/snap-2"
        os.makedirs(data_dir)
        shipped, row_fn = extraction(pages.limit(12))
        lost = ckpt.write_part(data_dir, 0, 1, shipped.toArrow().to_batches(),
                               row_fn)
        assert lost["n_docs"] == 12
        assert os.listdir(data_dir) == ["part-00000.parquet"]
        assert _metric_rows(ckpt.read_metrics(spark, root)) == before
        assert ckpt.read_table(spark, root).count() == 5
        res = run_extraction(pages.limit(12), output_root=root,
                             num_partitions=2)
        assert sum(r.n_docs for r in res.metrics.collect()) == 5 + 7
        assert res.documents.count() == 7

    def test_manifests_without_rows_read_empty(self, spark, pages, tmp_path):
        # commits of document rows (compaction's) carry no metrics rows
        root = str(tmp_path / "bare")
        run_extraction(pages.limit(5), output_root=root, num_partitions=2)
        ckpt.compact(spark, root)
        ckpt.commit_snapshot(extract_stage(pages.limit(3)), root)
        assert [s.get("metrics") is None
                for s in ckpt.committed_snapshots(root)] == [False, True, True]
        assert {r.snapshot_id for r in ckpt.read_metrics(spark, root).collect()} == {1}
        # hand-written manifests with an id only
        hand = tmp_path / "hand" / "manifests"
        hand.mkdir(parents=True)
        for i in (1, 2):
            (hand / f"manifest-{i}.json").write_text(json.dumps({"snapshot_id": i}))
        metrics = ckpt.read_metrics(spark, str(tmp_path / "hand"))
        assert metrics.schema == METRICS_SCHEMA and metrics.count() == 0
        assert ckpt.read_metrics(spark, str(tmp_path / "none")).count() == 0


class TestRunResultFrames:
    """run_extraction builds neither DataFrame of its result; each is
    built on first access, with the values it had at commit time."""

    def test_built_on_first_access(self, spark, pages, tmp_path, monkeypatch):
        def eager(*args):
            raise AssertionError("RunResult frame built at commit time")

        monkeypatch.setattr(ckpt, "read_snapshot", eager)
        monkeypatch.setattr(ckpt, "read_metrics", eager)
        root = str(tmp_path / "lazy")
        first = run_extraction(pages.limit(12), output_root=root,
                               num_partitions=2)
        # a later commit changes neither frame of the earlier result
        later = run_extraction(pages, output_root=root, num_partitions=2)
        monkeypatch.undo()
        assert first.metrics.schema == METRICS_SCHEMA
        assert {r.snapshot_id for r in first.metrics.collect()} == {1}
        assert _metric_rows(first.metrics) == _snapshot_metrics(spark, root, 1)
        assert _metric_rows(later.metrics) == _metric_rows(
            ckpt.read_metrics(spark, root))
        assert first.documents.count() == 12
        assert later.documents.count() == N_PAGES - 12
        assert first.documents is first.documents  # built once
        assert first.metrics is first.metrics


class TestPartFileStatistics:
    def test_statistics_only_on_key_columns(self, spark, pages, tmp_path):
        import pyarrow.parquet as pq

        root = str(tmp_path / "stats")
        run_extraction(pages.limit(20), output_root=root, num_partitions=2)
        run_extraction(pages, output_root=root, num_partitions=2)
        for snap in ckpt.committed_snapshots(root):
            for name in os.listdir(snap["path"]):
                meta = pq.ParquetFile(os.path.join(snap["path"], name)).metadata
                for rg in range(meta.num_row_groups):
                    with_stats = {
                        meta.row_group(rg).column(c).path_in_schema
                        for c in range(meta.num_columns)
                        if meta.row_group(rg).column(c).statistics is not None}
                    assert with_stats == {"url", "content_key", "status"}
        # every reader round-trips: the snapshot, the table, the resume
        # keys and a compaction of them
        table = _json_rows(ckpt.read_table(spark, root))
        assert len(table) == N_PAGES
        assert ckpt.committed_keys(spark, root).count() == N_PAGES
        base = ckpt.compact(spark, root)
        assert _json_rows(ckpt.read_snapshot(spark, root, base)) == table
        assert _json_rows(ckpt.read_table(spark, root)) == table


def _json_rows(df):
    """Every column but the run-dependent extract_ms/partition_id, as
    sorted JSON lines."""
    cols = [c for c in df.columns if c not in ("extract_ms", "partition_id")]
    return sorted(r[0] for r in df.select(F.to_json(F.struct(*cols))).collect())


class TestCommitWriter:
    """The commit's tasks write the snapshot's part files themselves."""

    def test_retried_attempts_leave_one_part_file(self, spark, pages,
                                                  tmp_path):
        """Two finished attempts of one partition and a failed one: one
        part file, no hidden attempt file after the commit, the table
        count unchanged by the retries."""
        root = str(tmp_path / "retry")
        run_extraction(pages.limit(5), output_root=root, num_partitions=2)
        data_dir = f"{root}/snapshots/snap-2"
        os.makedirs(data_dir)
        shipped, row_fn = extraction(pages.limit(12))
        batches = shipped.toArrow().to_batches(max_chunksize=4)

        def crashing():
            yield batches[0]
            raise RuntimeError("executor lost")

        with pytest.raises(RuntimeError):
            ckpt.write_part(data_dir, 0, 7, crashing(), row_fn)
        assert ".part-00000.attempt-7" in os.listdir(data_dir)
        first = ckpt.write_part(data_dir, 0, 8, iter(batches), row_fn)
        second = ckpt.write_part(data_dir, 0, 9, iter(batches), row_fn)
        assert first["n_docs"] == second["n_docs"] == 12
        manifest = ckpt._publish(root, 2, [second], None, with_metrics=True)
        assert sorted(os.listdir(data_dir)) == ["part-00000.parquet"]
        assert manifest["n_rows"] == 12
        assert ckpt.read_snapshot(spark, root, 2).count() == 12
        assert ckpt.read_table(spark, root).count() == 12

    def test_snapshot_equals_extract_stage(self, spark, pages, tmp_path):
        """The committed rows are the extract stage's rows, column for
        column, over a mix with a contained error, a NULL payload,
        validator details maps and table cells."""
        odd = spark.createDataFrame([
            ("u://bad", None, b"\x89PNG\r\n\x1a\n" + bytes(20), "", "en"),
            ("u://null", None, None, None, None),
        ], PAGES_SCHEMA)
        mix = pages.orderBy("url").limit(40).unionByName(odd)
        root = str(tmp_path / "same")
        res = run_extraction(mix, output_root=root, num_partitions=4)
        committed = _json_rows(res.documents)
        assert committed == _json_rows(extract_stage(mix))
        docs = res.documents
        assert docs.count() == 42
        assert docs.filter(F.col("status") != "ok").count() >= 1
        assert docs.filter(F.col("url") == "u://null").count() == 1
        assert docs.filter(F.exists(
            "fields", lambda f: F.exists(
                f["validators"], lambda v: F.size(v["details"]) > 0))).count() > 0
        assert docs.filter(F.exists(
            "tables", lambda t: F.size(t["cells"]) > 0)).count() > 0


class TestJobCount:
    """The fixed per-job cost: a committing run is its commit job (whose
    tasks extract and write the part files), that job's shuffle map stage
    and, when resuming, the broadcast of the committed keys. No schema
    inference, metrics or re-read job."""

    @staticmethod
    def _jobs(spark, fn) -> int:
        sc = spark.sparkContext
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_committing_run_jobs(self, spark, pages, tmp_path):
        path = str(tmp_path / "pages")
        pages.write.parquet(path)
        on_disk = spark.read.parquet(path)  # schema inferred here, untracked
        urls = [r.url for r in pages.select("url").limit(40).collect()]
        root = str(tmp_path / "resumed")
        run_extraction(on_disk.filter(F.col("url").isin(urls)),
                       output_root=root, num_partitions=4)

        resumed = self._jobs(spark, lambda: run_extraction(
            on_disk, output_root=root, num_partitions=4))
        fresh = self._jobs(spark, lambda: run_extraction(
            on_disk, output_root=str(tmp_path / "fresh"), num_partitions=4))
        assert resumed <= 3, resumed
        assert fresh <= 2, fresh
        assert ckpt.read_table(spark, root).count() == N_PAGES


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

    def test_resume_build_side_not_deduplicated(self, spark, pages, tmp_path):
        """The anti-join's committed side is the key scan under its
        BroadcastExchange: no aggregate, no shuffle (duplicate build keys
        do not change a left-anti join's result)."""
        root = str(tmp_path / "keys")
        run_extraction(pages.limit(10), output_root=root, num_partitions=2)
        todo = ckpt.filter_uncommitted(pages, ckpt.committed_keys(spark, root))
        lines = plan_helpers.physical_plan(todo).splitlines()
        assert any("LeftAnti" in ln for ln in lines), lines
        at = next(i for i, ln in enumerate(lines) if "BroadcastExchange" in ln)
        depth = lines[at].find("+-")
        below = []
        for ln in lines[at + 1:]:
            if ln.find("+-") <= depth:
                break
            below.append(ln)
        assert any("FileScan parquet" in ln for ln in below), below
        assert not any("HashAggregate" in ln or "Exchange" in ln
                       for ln in below), below
