"""Stateful streaming operator: per-host running stats accumulate across
micro-batches (applyInPandasWithState)."""

import pytest
from pyspark.sql import functions as F


class TestHostStatsStream:
    def test_state_accumulates_across_batches(self, spark, tmp_path):
        from horizon_ocr_python_spark.engine.extract import extract_stage
        from horizon_ocr_python_spark.engine.pipeline import pages_dataframe
        from horizon_ocr_python_spark.streaming.stateful import host_stats_stream
        from horizon_ocr_python_spark.streaming.stream import read_pages_stream

        # two input files -> with maxFilesPerTrigger=1, two micro-batches
        d = str(tmp_path / "in")
        pages = pages_dataframe(spark, 40, seed=42).cache()
        pages.filter(F.col("url").substr(-1, 1).isin("0", "2", "4", "6", "8")) \
            .coalesce(1).write.parquet(d)
        pages.filter(~F.col("url").substr(-1, 1).isin("0", "2", "4", "6", "8")) \
            .coalesce(1).write.mode("append").parquet(d)

        stream = extract_stage(read_pages_stream(spark, d,
                                                 max_files_per_trigger=1))
        stats = host_stats_stream(stream)
        q = (stats.writeStream.format("memory").queryName("host_stats")
             .outputMode("update").trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "cp")).start())
        q.awaitTermination(180)

        # 'update' memory sink appends every emitted snapshot; the LAST
        # snapshot per host must equal the batch totals
        snaps = spark.table("host_stats").collect()
        assert snaps, "no state snapshots emitted"
        final = {}
        for r in snaps:  # later rows overwrite earlier (arrival order)
            final[r.host] = (r.n_pages, r.n_ok, r.n_chars)
        totals = (pages
                  .groupBy(F.split_part(F.col("url"), F.lit("/"), F.lit(3))
                           .alias("host"))
                  .agg(F.count("*").alias("n"),
                       F.sum(F.length("text")).alias("chars")).collect())
        expected = {r.host: r.n for r in totals}
        got_pages = {h: v[0] for h, v in final.items()}
        assert got_pages == expected
        # all pages extract ok on the synthetic corpus
        assert all(v[0] == v[1] for v in final.values())
