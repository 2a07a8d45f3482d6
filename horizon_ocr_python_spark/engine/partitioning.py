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

SALT_KEY = "url"            # the column whose hash spreads the rows
SALT = 42
TARGET_ROWS_PER_PARTITION = 2000
PAYLOAD_COL = "html"        # the column the length cap truncates


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """repartition(N, xxhash64(SALT_KEY, SALT)).

    The partition expression must span the FULL hash range: Spark murmur3-
    hashes the expression value again to pick the partition, so a pre-modded
    expression (pmod(hash(key), N)) yields only N distinct inputs to that
    second hash — collisions leave some partitions empty and others double-
    loaded (observed: 5 of 8 partitions used, 3:1 skew). With the raw 64-bit
    salted hash the composition is uniform.

    Deterministic for fixed N — task retries land rows in the same
    partition, which resume/idempotence relies on.
    """
    return df.repartition(num_partitions,
                          F.xxhash64(F.col(SALT_KEY), F.lit(SALT)))


def partitions_for(spark, rows_hint: int | None = None) -> int:
    """Pick a partition count: ~TARGET_ROWS_PER_PARTITION, at least 2 per
    core (so one slow partition doesn't straggle the stage), capped at 4x
    parallelism when the row hint is small."""
    cores = spark.sparkContext.defaultParallelism
    if rows_hint is None:
        return cores * 2
    want = max(1, rows_hint // TARGET_ROWS_PER_PARTITION)
    return max(min(want, cores * 4), min(cores * 2, max(1, rows_hint)))


def with_length_cap(df: DataFrame,
                    max_bytes: int = ExtractionConfig.max_payload_bytes
                    ) -> DataFrame:
    """Guardrail for pathological rows (the reference caps work per doc:
    max_pages config.py:103, 50-line re-OCR cap config.py:223). Oversized
    payloads are truncated rather than dropped so the row still yields a
    status row downstream."""
    c = F.col(PAYLOAD_COL)
    return df.withColumn(
        PAYLOAD_COL,
        F.when(F.length(c) > max_bytes, F.substring(c, 1, max_bytes)).otherwise(c),
    )
