"""Pure-Python extraction kernel — no Spark imports allowed in this package.

Every function here is deterministic and unit-tested; the engine layer calls
these from inside its Arrow row maps (engine.schema.map_rows). Keeping the
kernel Spark-free guarantees the byte-identity contract (same bytes in → same
text out) is testable without a SparkSession.
"""
