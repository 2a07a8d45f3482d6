"""End-to-end extraction pipeline: read -> resume-filter -> salted
repartition -> fused extract -> commit snapshot + metrics.

The Spark lifecycle target of SURVEY §3.4. Exactly one shuffle (the
repartition); the extraction stage and the sinks are narrow.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..kernel.config import EngineConfig
from . import checkpoint as ckpt
from .extract import extract_stage, extracted_metrics
from .partitioning import partitions_for, salted_repartition, with_length_cap


@dataclass
class RunResult:
    documents: DataFrame
    metrics: DataFrame
    snapshot_id: Optional[int]
    n_skipped_committed: Optional[int] = None


def run_extraction(pages: DataFrame, *, num_partitions: Optional[int] = None,
                   rows_hint: Optional[int] = None,
                   output_root: Optional[str] = None,
                   resume: bool = True,
                   config: Optional[dict] = None) -> RunResult:
    """Run the pipeline. With `output_root`, commits a snapshot and appends
    per-partition metrics alongside (resumable); without, returns the lazy
    documents DataFrame (caller materializes).

    With `output_root`, `n_skipped_committed` is the number of input rows
    the resume filter dropped: an Observation counts the input rows on the
    commit's own pass, minus the rows the snapshot committed. No extra scan.
    """
    spark = pages.sparkSession

    committed = None
    if output_root and resume:
        committed = ckpt.committed_keys(spark, output_root)
    # Length-cap BEFORE the resume key is computed: extract_stage keys the
    # payload it receives (the capped bytes), so the resume anti-join must
    # key the same payload or oversized rows re-extract on every resume.
    config = config or EngineConfig().to_dict()
    capped = with_length_cap(
        pages, max_bytes=config["extraction"]["max_payload_bytes"])
    n_input = Observation()
    if output_root:
        capped = capped.observe(n_input, F.count(F.lit(1)).alias("n"))
    todo = ckpt.filter_uncommitted(capped, committed)

    n = num_partitions or partitions_for(spark, rows_hint)
    distributed = salted_repartition(todo, n)
    documents = extract_stage(distributed, config=config)

    if not output_root:
        return RunResult(documents=documents,
                         metrics=extracted_metrics(documents), snapshot_id=None)

    snap_id = ckpt.commit_snapshot(documents, output_root)
    snap = next(s for s in ckpt.committed_snapshots(output_root)
                if s["snapshot_id"] == snap_id)
    committed_docs = spark.read.parquet(snap["path"])
    metrics = extracted_metrics(committed_docs, snapshot_id=snap_id)
    metrics.write.mode("append").parquet(f"{output_root}/metrics")
    return RunResult(documents=committed_docs,
                     metrics=spark.read.parquet(f"{output_root}/metrics"),
                     snapshot_id=snap_id,
                     n_skipped_committed=n_input.get["n"] - snap["n_rows"])


def pages_dataframe(spark: SparkSession, n_rows: int, seed: int = 42,
                    n_hosts: int = 50, slices: Optional[int] = None,
                    scale: int = 1) -> DataFrame:
    """Synthetic pages as a DataFrame — generated IN PARALLEL on executors.

    The generator is seeded per row index, so we parallelize the index range
    and build rows inside the Arrow row map instead of materializing bytes
    on the driver (at bench scale the HTML payloads would not fit driver
    memory — and a driver-side loop is exactly the anti-pattern the engine
    avoids). `make_page`'s naive `warc_ts` is stored as UTC.
    """
    from ..sources.pages import make_page
    from .schema import PAGES_SCHEMA, map_rows

    slices = slices or spark.sparkContext.defaultParallelism
    idx = spark.range(0, n_rows, 1, slices).toDF("i")
    return map_rows(idx, lambda row: (make_page(
        row["i"], seed=seed, n_hosts=n_hosts, scale=scale),), PAGES_SCHEMA)
