"""Digest of the 3000-page extraction corpus: the check that a change keeps
the extraction output byte-identical.

Usage: python tools/extract_digest.py

Runs `extract_stage(pages_dataframe(spark, 3000, seed=42))` in a
build_session session (local[$SPARK_GRAFT_CPUS]) with the session time zone
set to UTC, renders each document row without its run-dependent columns
(`extract_ms`, `partition_id`) as `to_json`, sorts the rows and prints the
sha256 of the rows joined by newlines. Compare the printed digest between
two checkouts; it does not depend on the core count or partitioning.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from horizon_ocr_python_spark.engine.extract import extract_stage
    from horizon_ocr_python_spark.engine.pipeline import pages_dataframe
    from horizon_ocr_python_spark.engine.session import build_session

    spark = build_session(app_name="extract_digest")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        docs = extract_stage(pages_dataframe(spark, 3000, seed=42)).drop(
            "extract_ms", "partition_id")
        rows = sorted(r[0] for r in docs.select(
            F.to_json(F.struct(*docs.columns))).collect())
        print(hashlib.sha256("\n".join(rows).encode("utf-8")).hexdigest())
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
