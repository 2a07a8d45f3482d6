"""Streaming extraction over a pages directory.

Design: file-source readStream with the explicit PAGES_SCHEMA (streaming
sources never infer schemas at scale), the SAME extraction as batch (its
Arrow row map is stateless, so `extract.extract_stage` also applies to a
stream directly), and two sinks:

- extraction sink: foreachBatch over the pages stream -> the batch
  pipeline (engine.pipeline.run_extraction), so streaming output is
  length-capped, resume-filtered and committed by the same protocol as
  batch, and each micro-batch is extracted once, by the tasks that write
  it
- stats sink: watermark(10 min on warc_ts) + 1h tumbling window per lang —
  the late-data-tolerant aggregation a crawl-ingest pipeline monitors
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.checkpoint import content_key
from ..engine.pipeline import run_extraction
from ..engine.schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def windowed_lang_counts(pages_stream: DataFrame) -> DataFrame:
    """Watermarked tumbling-window ingest stats: pages and bytes per lang per
    1h window; events later than 10 min past the watermark are dropped."""
    return (pages_stream
            .withWatermark("warc_ts", "10 minutes")
            .groupBy(F.window("warc_ts", "1 hour").alias("win"), "lang")
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.length("html")).alias("n_bytes"))
            .select(F.col("win.start").alias("window_start"),
                    "lang", "n_pages", "n_bytes"))


def streaming_exact_dedup(pages_stream: DataFrame,
                          watermark: str = "10 minutes") -> DataFrame:
    """Streaming member of the dedup family: drop re-crawled identical
    content within the watermark horizon. Key = (url,
    checkpoint.content_key(html)) — the batch resume filter's key, so a
    page that re-arrives with identical bytes inside the horizon is
    dropped BEFORE the expensive extraction stage, and the state store
    stays bounded (dropDuplicatesWithinWatermark evicts keys older than
    the watermark, unlike unbounded dropDuplicates)."""
    keyed = pages_stream.withColumn("content_key", content_key(F.col("html")))
    return (keyed.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["url", "content_key"]))


def run_stream_to_snapshots(spark: SparkSession, input_dir: str,
                            output_root: str, checkpoint_dir: str,
                            available_now: bool = True):
    """Pages stream -> snapshot-committed documents via foreachBatch.

    Each non-empty micro-batch of pages is one committing
    `pipeline.run_extraction` run: length cap, resume filter against every
    committed snapshot, salted repartition, then one snapshot whose
    documents are extracted once, by the tasks that write them. The
    emptiness check reads the pages only (a JVM scan, no extraction). The
    Spark streaming checkpoint guarantees a batch is either fully
    committed or replayed, and the resume filter makes a replayed batch
    commit no document twice.
    """

    def commit_batch(pages_batch: DataFrame, batch_id: int) -> None:
        if pages_batch.isEmpty():
            return
        run_extraction(pages_batch, output_root=output_root)

    writer = (read_pages_stream(spark, input_dir).writeStream
              .foreachBatch(commit_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
