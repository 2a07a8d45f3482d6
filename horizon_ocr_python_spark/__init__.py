"""horizon_ocr_python_spark — a from-scratch PySpark-native document/main-content
extraction engine with the computational semantics of ankitan-ai/horizon-OCR-python
("DocVision"), re-expressed Spark-first.

Layers
------
kernel/     Pure-Python extraction semantics (no Spark imports). Byte-identity
            anchors vs the reference's pure functions (validators, fusion,
            KIE parse, reading order). Unit-tested against the reference's
            own expected values (reference tests/ ported).
engine/     pyspark.sql assembly: the fused Arrow extraction stage (one
            mapInArrow row map, `schema.map_rows`), salted repartitioning,
            checkpoint/resume, lineage+metrics.
operators/  Dataset-level relational operators (dedup, similarity search,
            sessionization, top-k, fusion-as-SQL, validators as Column
            expressions) — each DuckDB-oracle checkable.
sources/    Deterministic synthetic `pages` generator + readers (parquet, and
            the pages table shape from BASELINE.json input_hint).
streaming/  Structured Streaming ingestion of the same pages table.

Reference: /root/reference (read-only). Citations in docstrings are
`docvision/<file>:<line>` into that snapshot.
"""

__version__ = "0.1.0"
