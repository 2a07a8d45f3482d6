"""End-to-end extraction pipeline: read -> resume-filter -> salted
repartition -> fused extract -> commit snapshot + metrics.

The Spark lifecycle target of SURVEY §3.4. Exactly one shuffle (the
repartition); the extraction stage and the sink are narrow. A committing
run is one job (plus its shuffle map stage and, when resuming, the
broadcast of the committed keys): each task extracts its partition and
writes the documents to the snapshot's part file itself, and the
per-partition metrics it returns commit in the snapshot's manifest.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..kernel.config import EngineConfig
from . import checkpoint as ckpt
from .extract import extraction
from .partitioning import partitions_for, salted_repartition, with_length_cap


@dataclass
class RunResult:
    """A committed run. `documents` (the new snapshot's rows) and `metrics`
    (the per-partition metrics of every snapshot committed up to this
    run's, read from the manifests at commit time) are DataFrames built on
    first access: a caller that reads neither pays for neither."""
    snapshot_id: int
    n_skipped_committed: int
    _spark: SparkSession = field(repr=False)
    _root: str = field(repr=False)
    _metric_rows: list = field(repr=False)

    @functools.cached_property
    def documents(self) -> DataFrame:
        return ckpt.read_snapshot(self._spark, self._root, self.snapshot_id)

    @functools.cached_property
    def metrics(self) -> DataFrame:
        return ckpt.read_metrics(self._spark, self._root, self._metric_rows)


def run_extraction(pages: DataFrame, *, output_root: str,
                   num_partitions: Optional[int] = None,
                   rows_hint: Optional[int] = None,
                   resume: bool = True,
                   config: Optional[dict] = None) -> RunResult:
    """Run the pipeline and commit a snapshot (resumable) in one job: the
    shipped pages and the extraction's per-row function go to
    `checkpoint.commit_snapshot`, so each document is written to a part
    file by the task that extracted it and never goes back into the JVM.
    The per-partition metrics rows are those tasks' totals, committed in
    the snapshot's manifest, so they exist iff the snapshot does.
    `documents` reads the new snapshot and `metrics` every committed
    snapshot's rows (`checkpoint.metric_rows`), both without a job and
    only when first accessed.
    `n_skipped_committed` is the number of input rows the resume filter
    dropped: an Observation counts the input rows on the commit's own
    pass, minus the rows the snapshot committed. No extra scan.
    """
    spark = pages.sparkSession

    committed = ckpt.committed_keys(spark, output_root) if resume else None
    # Length-cap BEFORE the resume key is computed: extract_stage keys the
    # payload it receives (the capped bytes), so the resume anti-join must
    # key the same payload or oversized rows re-extract on every resume.
    config = config or EngineConfig().to_dict()
    capped = with_length_cap(
        pages, max_bytes=config["extraction"]["max_payload_bytes"])
    n_input = Observation()
    capped = capped.observe(n_input, F.count(F.lit(1)).alias("n"))
    todo = ckpt.filter_uncommitted(capped, committed)

    n = num_partitions or partitions_for(spark, rows_hint)
    distributed = salted_repartition(todo, n)

    shipped, row_fn = extraction(distributed, config=config)
    snap = ckpt.commit_snapshot(shipped, output_root, row_fn=row_fn)
    return RunResult(
        snapshot_id=snap["snapshot_id"],
        n_skipped_committed=n_input.get["n"] - snap["n_rows"],
        _spark=spark, _root=output_root,
        _metric_rows=ckpt.metric_rows(output_root))


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
