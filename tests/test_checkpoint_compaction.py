"""Checkpoint compaction: steady-state reads scan base + tail, never the
full snapshot history; time travel to pre-compaction states stays exact;
the resume filter and n_skipped accounting keep working across compaction.
"""

import pytest
from pyspark.sql import functions as F

from horizon_ocr_python_spark.engine import checkpoint as ckpt
from horizon_ocr_python_spark.engine.pipeline import pages_dataframe, run_extraction


@pytest.fixture(scope="module")
def pages(spark):
    return pages_dataframe(spark, 80, seed=42).cache()


@pytest.fixture()
def history(spark, pages, tmp_path):
    """3 incremental runs (20, 35, 50 pages) -> 3 snapshots."""
    root = str(tmp_path / "hist")
    for n in (20, 35, 50):
        run_extraction(pages.limit(n), output_root=root, num_partitions=2)
    return root


class TestCompaction:
    def test_compact_creates_base_and_prunes_reads(self, spark, history):
        assert len(ckpt.active_snapshots(history)) == 3
        snap_id = ckpt.compact(spark, history)
        assert snap_id == 4
        # steady-state readers now scan exactly one snapshot dir
        active = ckpt.active_snapshots(history)
        assert [s["snapshot_id"] for s in active] == [4]
        assert active[0]["base"] is True
        assert active[0]["compacted_through"] == 3

    def test_read_after_compaction_identical(self, spark, history):
        before = {(r.url, r.content_key)
                  for r in ckpt.read_table(spark, history)
                  .select("url", "content_key").collect()}
        ckpt.compact(spark, history)
        after = {(r.url, r.content_key)
                 for r in ckpt.read_table(spark, history)
                 .select("url", "content_key").collect()}
        assert before == after and len(after) == 50

    def test_incremental_after_compaction_scans_two_dirs(self, spark, pages, history):
        ckpt.compact(spark, history)
        run_extraction(pages, output_root=history, num_partitions=2)  # 30 new
        active = ckpt.active_snapshots(history)
        assert [s["snapshot_id"] for s in active] == [4, 5]
        assert ckpt.read_table(spark, history).count() == 80

    def test_time_travel_survives_compaction(self, spark, history):
        ckpt.compact(spark, history)
        # pre-compaction states replay the original snapshots
        assert ckpt.read_table(spark, history, as_of_snapshot=1).count() == 20
        assert ckpt.read_table(spark, history, as_of_snapshot=2).count() == 35
        assert ckpt.read_table(spark, history, as_of_snapshot=0) is None

    def test_resume_filter_uses_compacted_keys(self, spark, pages, history):
        ckpt.compact(spark, history)
        res = run_extraction(pages.limit(50), output_root=history,
                             num_partitions=2)
        # everything was already committed: empty snapshot, all skipped
        assert res.n_skipped_committed == 50
        assert res.documents.count() == 0

    def test_compact_empty_root_is_noop(self, spark, tmp_path):
        assert ckpt.compact(spark, str(tmp_path / "nothing")) is None

    def test_second_compaction_supersedes_first(self, spark, pages, history):
        ckpt.compact(spark, history)
        run_extraction(pages, output_root=history, num_partitions=2)
        ckpt.compact(spark, history)
        active = ckpt.active_snapshots(history)
        assert len(active) == 1 and active[0]["base"]
        assert ckpt.read_table(spark, history).count() == 80


class TestSkippedAccounting:
    def test_n_skipped_reported_without_option(self, spark, pages, tmp_path):
        """Counted on every committing run, a first run included; a run
        without output_root commits nothing and reports no count."""
        root = str(tmp_path / "skip")
        res = run_extraction(pages.limit(30), output_root=root,
                             num_partitions=2)
        assert res.n_skipped_committed == 0
        res = run_extraction(pages.limit(30), num_partitions=2)
        assert res.n_skipped_committed is None

    def test_n_skipped_counted_on_request(self, spark, pages, tmp_path):
        root = str(tmp_path / "skip2")
        run_extraction(pages.limit(30), output_root=root, num_partitions=2)
        res = run_extraction(pages, output_root=root, num_partitions=2)
        assert res.n_skipped_committed == 30

    def test_same_url_new_content_reextracted(self, spark, pages, tmp_path):
        """The (url, content_key) resume key: a re-crawl with CHANGED bytes
        must re-extract; identical bytes must be skipped."""
        root = str(tmp_path / "recrawl")
        run_extraction(pages.limit(10), output_root=root, num_partitions=2)
        changed = pages.limit(10).withColumn(
            "html", F.concat(F.col("html"),
                             F.lit(b"<p>fresh content appended</p>")))
        res = run_extraction(changed, output_root=root, num_partitions=2)
        assert res.n_skipped_committed == 0
        assert res.documents.count() == 10
