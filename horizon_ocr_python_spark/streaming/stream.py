"""Streaming extraction over a pages directory.

Design: file-source readStream with the explicit PAGES_SCHEMA (streaming
sources never infer schemas at scale), the SAME extract_stage as batch
(its Arrow row map is streaming-compatible — stateless), and two sinks:

- extraction sink: foreachBatch -> snapshot commit (engine.checkpoint), so
  streaming output is resumable/idempotent by the same protocol as batch
- stats sink: watermark(10 min on warc_ts) + 1h tumbling window per lang —
  the late-data-tolerant aggregation a crawl-ingest pipeline monitors
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.checkpoint import content_key
from ..engine.extract import extract_stage
from ..engine.schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def streaming_extraction(pages_stream: DataFrame) -> DataFrame:
    """The batch extraction stage applied to a stream — identical semantics,
    identical code path (kernel untouched)."""
    return extract_stage(pages_stream)


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
    """Extraction stream -> snapshot-committed output via foreachBatch.

    Each micro-batch commits one snapshot; the Spark streaming checkpoint
    guarantees a batch is either fully committed or replayed, and the
    snapshot protocol makes the replay idempotent at the storage layer.
    """
    from ..engine import checkpoint as ckpt

    stream = streaming_extraction(read_pages_stream(spark, input_dir))

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ckpt.commit_snapshot(batch_df, output_root, extra={"stream_batch": batch_id})

    writer = (stream.writeStream
              .foreachBatch(commit_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
