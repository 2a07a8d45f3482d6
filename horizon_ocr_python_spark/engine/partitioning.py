"""Salted repartitioning and skew handling for the heavy UDF stage.

Why (SURVEY §4 custom-work 1): Common-Crawl dumps sort host-adjacent — all
pages of a giant host land in one input split, and AQE only rebalances
*shuffle-size* skew, not *UDF-compute* skew. A salted hash repartition on url
spreads per-host work uniformly before the expensive stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.config import ExtractionConfig


def salted_repartition(df: DataFrame, num_partitions: int,
                       key: str = "url", salt: int = 42) -> DataFrame:
    """repartition(N, xxhash64(key, salt)).

    The partition expression must span the FULL hash range: Spark murmur3-
    hashes the expression value again to pick the partition, so a pre-modded
    expression (pmod(hash(key), N)) yields only N distinct inputs to that
    second hash — collisions leave some partitions empty and others double-
    loaded (observed: 5 of 8 partitions used, 3:1 skew). With the raw 64-bit
    salted hash the composition is uniform.

    Deterministic for fixed (key, salt, N) — task retries land rows in the
    same partition, which resume/idempotence relies on.
    """
    return df.repartition(num_partitions,
                          F.xxhash64(F.col(key), F.lit(salt)))


def partitions_for(spark, rows_hint: int | None = None,
                   target_rows_per_partition: int = 2000) -> int:
    """Pick a partition count: ~target rows per partition, at least 2 per
    core (so one slow partition doesn't straggle the stage), capped at 4x
    parallelism when the row hint is small."""
    cores = spark.sparkContext.defaultParallelism
    if rows_hint is None:
        return cores * 2
    want = max(1, rows_hint // target_rows_per_partition)
    return max(min(want, cores * 4), min(cores * 2, max(1, rows_hint)))


def with_length_cap(df: DataFrame,
                    max_bytes: int = ExtractionConfig.max_payload_bytes,
                    col: str = "html") -> DataFrame:
    """Guardrail for pathological rows (the reference caps work per doc:
    max_pages config.py:103, 50-line re-OCR cap config.py:223). Oversized
    payloads are truncated rather than dropped so the row still yields a
    status row downstream."""
    c = F.col(col)
    return df.withColumn(
        col,
        F.when(F.length(c) > max_bytes, F.substring(c, 1, max_bytes)).otherwise(c),
    )
