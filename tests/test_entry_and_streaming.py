"""Driver-contract smoke (entry/queries/oracle_sql shape) + streaming tests."""

import pytest
from pyspark.sql import functions as F


class TestEntryContract:
    def test_entry_runs_and_is_byte_identical(self, spark):
        import __spark_entry__ as e

        df = e.entry(spark)
        rows = df.collect()
        assert len(rows) > 0
        assert all(r.status == "ok" for r in rows)
        assert all(r.byte_identical for r in rows), \
            [r.url for r in rows if not r.byte_identical][:5]

    def test_queries_oracle_keys_align(self):
        import __spark_entry__ as e

        qs, os_ = e.queries(), e.oracle_sql()
        assert set(os_) <= set(qs)
        # every query has an oracle except the deliberately rows-only ones
        assert set(qs) - set(os_) == {"s6_markdown_render"}

    def test_sampled_queries_run(self, spark):
        import __spark_entry__ as e

        sf = "/root/testdata/sf0.001"
        for name in ["k7_quality_filter", "o7_worst_k", "k5_weighted_vote",
                     "cosine_topk", "exact_dedup"]:
            df = e.queries()[name](spark, sf)
            assert df.count() >= 0


class TestStreaming:
    @pytest.fixture()
    def pages_dir(self, spark, tmp_path):
        from horizon_ocr_python_spark.engine.pipeline import pages_dataframe

        d = str(tmp_path / "pages_in")
        pages_dataframe(spark, 40, seed=42).write.parquet(d)
        return d

    def test_stream_to_snapshots(self, spark, tmp_path, pages_dir):
        from horizon_ocr_python_spark.engine import checkpoint as ckpt
        from horizon_ocr_python_spark.streaming.stream import run_stream_to_snapshots

        out = str(tmp_path / "out")
        cp = str(tmp_path / "cp")
        q = run_stream_to_snapshots(spark, pages_dir, out, cp)
        q.awaitTermination(120)
        snaps = ckpt.committed_snapshots(out)
        assert len(snaps) >= 1
        table = ckpt.read_table(spark, out)
        assert table.count() == 40
        assert table.filter(F.col("status") != "ok").count() == 0

    def test_stream_extracts_each_document_once(self, spark, tmp_path,
                                                pages_dir, monkeypatch):
        """The micro-batch emptiness check reads the pages batch, not
        extracted documents (whose check would run the kernel over a
        batch the commit then extracts again); each committed batch goes
        through the batch pipeline's extraction once."""
        from horizon_ocr_python_spark.engine import checkpoint as ckpt
        from horizon_ocr_python_spark.engine import pipeline
        from horizon_ocr_python_spark.engine.schema import PAGES_SCHEMA
        from horizon_ocr_python_spark.streaming import stream

        cls = type(spark.range(1))
        probed, extracted = [], []
        is_empty, extraction = cls.isEmpty, pipeline.extraction

        def probe(df):
            probed.append(df.columns)
            return is_empty(df)

        def recorded(pages, *args, **kwargs):
            extracted.append(pages.columns)
            return extraction(pages, *args, **kwargs)

        monkeypatch.setattr(cls, "isEmpty", probe)
        monkeypatch.setattr(pipeline, "extraction", recorded)
        out = str(tmp_path / "out")
        q = stream.run_stream_to_snapshots(spark, pages_dir, out,
                                           str(tmp_path / "cp"))
        q.awaitTermination(120)
        assert probed and all(c == PAGES_SCHEMA.names for c in probed), probed
        assert len(extracted) == len(ckpt.committed_snapshots(out)) >= 1
        assert ckpt.read_table(spark, out).count() == 40

    def test_replayed_stream_commits_nothing_twice(self, spark, tmp_path,
                                                    pages_dir):
        """A stream replayed over committed input (a new streaming
        checkpoint, the same output root) goes through the batch resume
        filter: its snapshots commit no rows and the table keeps one row
        per page."""
        from horizon_ocr_python_spark.engine import checkpoint as ckpt
        from horizon_ocr_python_spark.streaming.stream import run_stream_to_snapshots

        out = str(tmp_path / "out")
        first = run_stream_to_snapshots(spark, pages_dir, out,
                                        str(tmp_path / "cp1"))
        first.awaitTermination(120)
        n_first = len(ckpt.committed_snapshots(out))
        assert sum(m["n_rows"] for m in ckpt.committed_snapshots(out)) == 40

        second = run_stream_to_snapshots(spark, pages_dir, out,
                                         str(tmp_path / "cp2"))
        second.awaitTermination(120)
        replayed = ckpt.committed_snapshots(out)[n_first:]
        assert replayed and sum(m["n_rows"] for m in replayed) == 0
        assert ckpt.read_table(spark, out).count() == 40

    def test_stream_extracts_raster_rows_byte_identical(self, spark,
                                                        tmp_path):
        """Scanned PDFs and standalone scanned images flow through the
        SAME streaming extraction stage with byte-identical text — the
        round-4 raster symmetry holds under readStream too."""
        from horizon_ocr_python_spark.engine import checkpoint as ckpt
        from horizon_ocr_python_spark.engine.schema import PAGES_SCHEMA
        from horizon_ocr_python_spark.sources import pages as gen
        from horizon_ocr_python_spark.streaming.stream import (
            run_stream_to_snapshots)

        picked, i, want = [], 0, {"scanned_pdf": 2, "scanned_image": 2,
                                  "html": 1, "image": 1}
        while any(v > 0 for v in want.values()) and i < 2000:
            p = gen.make_page(i, seed=42)
            if want.get(p["kind"], 0) > 0:
                want[p["kind"]] -= 1
                picked.append(p)
            i += 1
        assert not any(want.values()), want
        d = str(tmp_path / "raster_in")
        spark.createDataFrame(
            [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
             for p in picked], PAGES_SCHEMA).coalesce(1).write.parquet(d)
        out, cp = str(tmp_path / "r_out"), str(tmp_path / "r_cp")
        q = run_stream_to_snapshots(spark, d, out, cp)
        q.awaitTermination(180)
        got = {r["url"]: r["raw_text"]
               for r in ckpt.read_table(spark, out)
               .select("url", "raw_text").collect()}
        for p in picked:
            assert got[p["url"]] == p["text"], p["url"]

    def test_windowed_lang_counts_streaming_plan(self, spark, pages_dir):
        """The watermarked windowed agg must be a valid *streaming* plan:
        run it with availableNow into a memory sink."""
        from horizon_ocr_python_spark.streaming.stream import (
            read_pages_stream, windowed_lang_counts)

        agg = windowed_lang_counts(read_pages_stream(spark, pages_dir))
        q = (agg.writeStream.format("memory").queryName("lang_counts")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        # append-mode with watermark emits only closed windows; the table
        # must exist and the query must have made progress without error
        assert spark.table("lang_counts").columns == \
            ["window_start", "lang", "n_pages", "n_bytes"]

    def test_windowed_lang_counts_complete_mode(self, spark, pages_dir):
        from horizon_ocr_python_spark.streaming.stream import (
            read_pages_stream, windowed_lang_counts)

        agg = windowed_lang_counts(read_pages_stream(spark, pages_dir))
        q = (agg.writeStream.format("memory").queryName("lang_counts_c")
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.table("lang_counts_c").collect()
        assert sum(r.n_pages for r in rows) == 40

    def test_streaming_exact_dedup(self, spark, tmp_path):
        """Duplicate rows (same url + identical bytes) inside the watermark
        horizon are dropped; distinct content for the same url survives."""
        from horizon_ocr_python_spark.engine.pipeline import pages_dataframe
        from horizon_ocr_python_spark.streaming.stream import (
            read_pages_stream, streaming_exact_dedup)

        d = str(tmp_path / "dup_in")
        base = pages_dataframe(spark, 10, seed=42)
        changed = base.limit(3).withColumn(
            "html", F.concat(F.col("html"), F.lit(b"<p>v2</p>")))
        # 10 originals + 10 exact re-crawls + 3 changed re-crawls
        base.unionByName(base).unionByName(changed).write.parquet(d)

        deduped = streaming_exact_dedup(read_pages_stream(spark, d))
        q = (deduped.writeStream.format("memory")
             .queryName("dedup_out").outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT url, content_key FROM dedup_out").collect()
        assert len(got) == 13  # 10 unique + 3 changed
        assert len({(r.url, r.content_key) for r in got}) == 13
