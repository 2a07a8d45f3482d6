"""Plan inspection helpers — assert the physical plan is the one we want
(pushdown reached the scan, codegen spans the expressions, the join
broadcast), not just that the first plan passed."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def read_schema_of(df: DataFrame) -> str:
    """The columns the parquet scan actually reads (column pruning check)."""
    m = re.search(r"ReadSchema: ([^\n]+)", physical_plan(df))
    return m.group(1) if m else ""


def pushed_filters_of(df: DataFrame) -> str:
    m = re.search(r"PushedFilters: (\[[^\]]*\])", physical_plan(df))
    return m.group(1) if m else ""


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001


def has_broadcast_hint(df: DataFrame) -> bool:
    """True when an EXPLICIT F.broadcast hint survives into the optimized
    plan (renders as `strategy=broadcast` on the join). AQE choosing a
    broadcast at runtime because a side is genuinely small does NOT count —
    the anti-pattern is forcing a broadcast whose size grows with the data."""
    return "strategy=broadcast" in optimized_plan(df)


def has_wholestage_codegen(df: DataFrame) -> bool:
    """Under AQE the plan string hides WholeStageCodegen until finalized, and
    a write executes a *copy* of the plan, so the original never finalizes.
    Toggle AQE off, re-derive an identical DataFrame from the same logical
    plan (fresh QueryExecution picks up the conf), and inspect that."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        clone = df.select("*")
        # codegen stages print as `*(n) Operator` in executedPlan.toString
        return bool(re.search(r"^\s*[+\-:]*\s*\*\(\d+\)", physical_plan(clone),
                              re.MULTILINE))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def n_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan (each Exchange hashpartitioning is one)."""
    return len(re.findall(r"Exchange (?:hash|range|SinglePartition)",
                          physical_plan(df)))
