"""Training-data curation operators over the extraction output model.

o9_line_confidence — the per-line OCR-confidence filter (round-5 LINE_SCHEMA
surfaces TextLine.confidence/source, types.py:138-148): keep lines at/above
the re-OCR acceptance threshold, report per-document keep stats. This is the
curation query a 100 TB training-data pipeline runs over the extracted
corpus; expressed as pure Catalyst expressions with a DuckDB oracle.

n1_normalized_split — the `normalized` business-view assembly rule
(JSON_SCHEMA.md:360-395, kernel.document.build_normalized) in relational
form: never mix header fields with totals, totals re-normalized via the V1
amount parse, document_type from field presence.

Scale notes: both are single map-side-combined groupBys keyed by doc_id —
one key-sized shuffle, no windows, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.config import Thresholds
from . import table

LINES_PER_DOC = 5
CONF_THRESHOLD = Thresholds.glyph_reocr_confidence


def _line_conf(doc_id, line):
    """md5-derived deterministic confidence on the glyph recognizer's scale
    [0.5, 1.0) — the s3_scanned_image recipe, but EXACT dyadic rationals
    (0.5 + k/8192, no pre-rounding): sums/averages over them stay bit-exact
    across engines regardless of aggregation order, so only the OUTPUT
    columns round."""
    key = F.concat_ws("-", doc_id.cast("string"), line.cast("string"))
    return (F.lit(0.5)
            + (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
               % 4096) / F.lit(8192.0))


def o9_line_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document line-confidence curation rollup: N synthesized lines per
    document, keep conf >= CONF_THRESHOLD (the re-OCR selection threshold,
    thresholds.glyph_reocr_confidence — lines below it were already given
    their second chance), emit keep counts and the kept-average the
    curation gate thresholds on."""
    docs = table(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(LINES_PER_DOC - 1))).alias("line"))
    lines = lines.withColumn("conf", _line_conf(F.col("doc_id"), F.col("line")))
    kept = F.col("conf") >= CONF_THRESHOLD
    return (lines.groupBy("doc_id")
            .agg(F.count("*").alias("n_lines"),
                 F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
                 F.round(F.avg(F.when(kept, F.col("conf"))), 4).alias("avg_kept_conf"),
                 F.round(F.min("conf"), 4).alias("min_conf"))
            .orderBy("doc_id"))


O9_LINE_CONFIDENCE_SQL = f"""
WITH lines AS (
  SELECT doc_id, k AS line,
         0.5 + (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' ||
                                CAST(k AS VARCHAR)), 1, 8))::BIGINT
                % 4096) / 8192.0 AS conf
  FROM documents, (SELECT unnest(range({LINES_PER_DOC})) AS k)
)
SELECT doc_id, count(*) AS n_lines,
       sum(CASE WHEN conf >= {CONF_THRESHOLD} THEN 1 ELSE 0 END) AS n_kept,
       round(avg(CASE WHEN conf >= {CONF_THRESHOLD} THEN conf END), 4)
         AS avg_kept_conf,
       round(min(conf), 4) AS min_conf
FROM lines
GROUP BY doc_id
ORDER BY doc_id
"""


# --- n1: normalized business-view split ------------------------------------

_TOTALS_NAMES = ("subtotal", "tax", "tax_amount", "total", "total_amount")


def n1_normalized_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build_normalized assembly rule relationally: synthesize per-doc
    extracted fields (every 5th document carries no invoice fields), split
    header vs totals by name (never mixed), normalize amounts with the V1
    parse ($-strip), classify document_type by field presence."""
    docs = table(spark, sf_dir, "documents")
    is_plain = F.col("doc_id") % 5 == 0
    sub_amt = ((F.col("doc_id") * 37 % 9000 + 100) / 100.0)
    tot_amt = F.round(sub_amt * 2, 2)
    # four fields per invoice doc; two header-only fields per plain doc
    f = F.explode(F.when(is_plain, F.array(
        F.struct(F.lit("ref").alias("name"),
                 F.concat(F.lit("R-"),
                          F.col("doc_id").cast("string")).alias("value"),
                 F.lit("string").alias("dtype")),
        F.struct(F.lit("note").alias("name"), F.lit("plain").alias("value"),
                 F.lit("string").alias("dtype")),
    )).otherwise(F.array(
        F.struct(F.lit("invoice_number").alias("name"),
                 F.concat(F.lit("INV-"),
                          F.col("doc_id").cast("string")).alias("value"),
                 F.lit("string").alias("dtype")),
        F.struct(F.lit("date").alias("name"),
                 F.date_format(F.date_add(F.lit("2024-01-01").cast("date"),
                                          (F.col("doc_id") % 365).cast("int")),
                               "yyyy-MM-dd").alias("value"),
                 F.lit("date").alias("dtype")),
        F.struct(F.lit("subtotal").alias("name"),
                 F.format_string("$%.2f", sub_amt).alias("value"),
                 F.lit("currency").alias("dtype")),
        F.struct(F.lit("total").alias("name"),
                 F.format_string("$%.2f", tot_amt).alias("value"),
                 F.lit("currency").alias("dtype")),
    ))).alias("f")
    fields = docs.select("doc_id", f).select(
        "doc_id", F.col("f.name").alias("name"), F.col("f.value").alias("value"))
    is_total = F.col("name").isin(*_TOTALS_NAMES)
    amount = F.replace(F.col("value"), F.lit("$"), F.lit("")).try_cast("double")
    return (fields.groupBy("doc_id")
            .agg(F.sum(F.when(~is_total, 1).otherwise(0)).alias("n_header"),
                 F.sum(F.when(is_total, 1).otherwise(0)).alias("n_totals"),
                 F.round(F.max(F.when(F.col("name") == "total", amount)), 2)
                 .alias("total_amount"),
                 F.round(F.max(F.when(F.col("name") == "subtotal", amount)), 2)
                 .alias("subtotal"),
                 F.max(F.when(F.col("name").isin("invoice_number", "total"), 1)
                       .otherwise(0)).alias("has_invoice"))
            .select("doc_id", "n_header", "n_totals", "total_amount",
                    "subtotal",
                    F.when(F.col("has_invoice") == 1, "invoice")
                    .otherwise("auto").alias("document_type"))
            .orderBy("doc_id"))


N1_NORMALIZED_SPLIT_SQL = f"""
WITH fields AS (
  SELECT doc_id, 'ref' AS name,
         'R-' || CAST(doc_id AS VARCHAR) AS value
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 'note', 'plain' FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 'invoice_number', 'INV-' || CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id, 'date',
         strftime(DATE '2024-01-01' + INTERVAL (doc_id % 365) DAY, '%Y-%m-%d')
  FROM documents WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id, 'subtotal',
         printf('$%.2f', (doc_id * 37 % 9000 + 100) / 100.0)
  FROM documents WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id, 'total',
         printf('$%.2f', round((doc_id * 37 % 9000 + 100) / 100.0 * 2, 2))
  FROM documents WHERE doc_id % 5 <> 0
), split AS (
  SELECT doc_id, name, value,
         name IN {_TOTALS_NAMES} AS is_total,
         TRY_CAST(replace(value, '$', '') AS DOUBLE) AS amount
  FROM fields
)
SELECT doc_id,
       sum(CASE WHEN NOT is_total THEN 1 ELSE 0 END) AS n_header,
       sum(CASE WHEN is_total THEN 1 ELSE 0 END) AS n_totals,
       round(max(CASE WHEN name = 'total' THEN amount END), 2) AS total_amount,
       round(max(CASE WHEN name = 'subtotal' THEN amount END), 2) AS subtotal,
       CASE WHEN max(CASE WHEN name IN ('invoice_number', 'total')
                          THEN 1 ELSE 0 END) = 1
            THEN 'invoice' ELSE 'auto' END AS document_type
FROM split
GROUP BY doc_id
ORDER BY doc_id
"""
