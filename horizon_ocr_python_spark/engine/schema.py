"""Spark schemas for the pages input table and the extracted Document output.

Mapping per SURVEY §1.3: Document object graph -> one row with nested
Struct/Array columns; enums -> strings; Field.value -> string + data_type tag
(JSON contract "values should be strings", reference JSON_SCHEMA.md:395);
per-row status/error columns instead of exceptions (types.py:317-323).
`map_rows` is the one Python row map that fills them: every Python stage
of the engine is a per-row function handed to it.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# BASELINE.json input_hint: the Common-Crawl-style pages table
PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

# BoundingBox (types.py:96-104): x1/y1/x2/y2, top-left origin.
BBOX_SCHEMA = StructType([
    StructField("x1", DoubleType(), True),
    StructField("y1", DoubleType(), True),
    StructField("x2", DoubleType(), True),
    StructField("y2", DoubleType(), True),
])

# Candidate (types.py:201-209): per-source value with confidence/page/bbox.
CANDIDATE_SCHEMA = StructType([
    StructField("source", StringType(), True),
    StructField("value", StringType(), True),
    StructField("confidence", DoubleType(), True),
    StructField("page", IntegerType(), True),
    StructField("bbox", BBOX_SCHEMA, True),
])

# ValidatorResult (types.py:210-216 / JSON_SCHEMA.md:186-193): per-check
# verdict; extra parse outputs (parsed_value, normalized, format_used, ...)
# travel in the stringified details map, as the reference's details object.
VALIDATOR_SCHEMA = StructType([
    StructField("name", StringType(), False),
    StructField("passed", BooleanType(), False),
    StructField("message", StringType(), True),
    StructField("details", MapType(StringType(), StringType()), True),
])

# Field (types.py:220-236): value + normalized_value + full candidate list +
# anchor position + per-field validator results (JSON_SCHEMA.md:79).
FIELD_SCHEMA = StructType([
    StructField("name", StringType(), False),
    StructField("value", StringType(), True),
    StructField("normalized_value", StringType(), True),
    StructField("data_type", StringType(), True),
    StructField("confidence", DoubleType(), True),
    StructField("status", StringType(), True),
    StructField("chosen_source", StringType(), True),
    StructField("page", IntegerType(), True),
    StructField("bbox", BBOX_SCHEMA, True),
    StructField("candidates", ArrayType(CANDIDATE_SCHEMA), True),
    StructField("n_candidates", IntegerType(), True),
    StructField("validators", ArrayType(VALIDATOR_SCHEMA), True),
])

# Cell (types.py:161-178): grid position + spans + header flag + bbox.
# TATR emits spanning cells (table_tatr.py:455-517); HTML colspan/rowspan
# map to the same struct.
CELL_SCHEMA = StructType([
    StructField("row", IntegerType(), True),
    StructField("col", IntegerType(), True),
    StructField("row_span", IntegerType(), True),
    StructField("col_span", IntegerType(), True),
    StructField("text", StringType(), True),
    StructField("is_header", BooleanType(), True),
    StructField("bbox", BBOX_SCHEMA, True),
])

# Table (types.py:180-198): rich cells + dims, plus the span-EXPANDED text
# grid (the get_row_texts view) for flat-grid consumers.
TABLE_SCHEMA = StructType([
    StructField("rows", ArrayType(ArrayType(StringType())), True),
    StructField("cells", ArrayType(CELL_SCHEMA), True),
    StructField("n_rows", IntegerType(), True),
    StructField("n_cols", IntegerType(), True),
])

# Word / TextLine (types.py:129-149): positions where the source has them
# (PDF text layer); HTML blocks carry no geometry -> nulls, empty words.
# Words inherit their line's source/content_type (types.py:129-135 Word
# carries both; the kernel computes them per line).
WORD_SCHEMA = StructType([
    StructField("text", StringType(), True),
    StructField("bbox", BBOX_SCHEMA, True),
    StructField("confidence", DoubleType(), True),
    StructField("source", StringType(), True),
    StructField("content_type", StringType(), True),
])

# TextStyle (types.py:110-125, R4): present on the PDF-native path.
STYLE_SCHEMA = StructType([
    StructField("font_name", StringType(), True),
    StructField("font_size", DoubleType(), True),
    StructField("bold", BooleanType(), True),
    StructField("italic", BooleanType(), True),
    StructField("color", StringType(), True),
    StructField("source", StringType(), True),
    StructField("confidence", DoubleType(), True),
])

# TextLine observables (types.py:138-148): per-line OCR confidence, source
# engine ("ocr" glyph recognizer / "ocr_enhanced" after accepted re-OCR /
# "pdf_text" native layer / "html" markup), and the page's P8 content type —
# the columns a training-data pipeline filters on.
LINE_SCHEMA = StructType([
    StructField("text", StringType(), True),
    StructField("bbox", BBOX_SCHEMA, True),
    StructField("font_size", DoubleType(), True),
    StructField("confidence", DoubleType(), True),
    StructField("source", StringType(), True),
    StructField("content_type", StringType(), True),
    StructField("words", ArrayType(WORD_SCHEMA), True),
    StructField("style", STYLE_SCHEMA, True),
])

REGION_SCHEMA = StructType([
    StructField("type", StringType(), True),
    StructField("index", IntegerType(), True),
    StructField("bbox", BBOX_SCHEMA, True),
    StructField("confidence", DoubleType(), True),
])

# Page (types.py:252-266 / JSON_SCHEMA.md Page block).
PAGE_SCHEMA = StructType([
    StructField("number", IntegerType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("dpi", IntegerType(), True),
    StructField("content_type", StringType(), True),
    StructField("readability", StringType(), True),
    StructField("readability_issues", ArrayType(StringType()), True),
    StructField("layout_regions", ArrayType(REGION_SCHEMA), True),
    StructField("text_lines", ArrayType(LINE_SCHEMA), True),
    StructField("tables", ArrayType(TABLE_SCHEMA), True),
    StructField("raw_text", StringType(), True),
])

# R1 flat reconstruction view embedded in output (io/reconstruction.py:136-250).
RECON_ELEMENT_SCHEMA = StructType([
    StructField("type", StringType(), True),
    StructField("page", IntegerType(), True),
    StructField("text", StringType(), True),
    StructField("x", DoubleType(), True),
    StructField("y", DoubleType(), True),
    StructField("width", DoubleType(), True),
    StructField("height", DoubleType(), True),
    StructField("font_size", DoubleType(), True),
    StructField("bold", BooleanType(), True),
])

RECON_TABLE_SCHEMA = StructType([
    StructField("page", IntegerType(), True),
    StructField("rows", IntegerType(), True),
    StructField("cols", IntegerType(), True),
    StructField("cells", ArrayType(StructType([
        StructField("row", IntegerType(), True),
        StructField("col", IntegerType(), True),
        StructField("text", StringType(), True),
    ])), True),
])

RECONSTRUCTION_SCHEMA = StructType([
    StructField("version", StringType(), True),
    StructField("pages", ArrayType(StructType([
        StructField("page", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ])), True),
    StructField("elements", ArrayType(RECON_ELEMENT_SCHEMA), True),
    StructField("tables", ArrayType(RECON_TABLE_SCHEMA), True),
    StructField("fields_summary", MapType(StringType(), StringType()), True),
])

# Normalized business-ready view (JSON_SCHEMA.md:360-395). Dynamic row-level
# keys live in a map (`values`) with `_evidence` as a typed sibling — the one
# structural deviation from the reference's inline-keys JSON (Spark structs
# cannot mix dynamic keys with typed fields in one object).
NORMALIZED_ITEM_SCHEMA = StructType([
    StructField("values", MapType(StringType(), StringType()), True),
    StructField("_evidence", StructType([
        StructField("table_id", StringType(), True),
        StructField("cell_refs", ArrayType(StructType([
            StructField("row", IntegerType(), True),
            StructField("col", IntegerType(), True),
        ])), True),
        StructField("page", IntegerType(), True),
    ]), True),
])

NORMALIZED_SCHEMA = StructType([
    StructField("document_type", StringType(), True),
    StructField("header", MapType(StringType(), StringType()), True),
    StructField("line_items", ArrayType(NORMALIZED_ITEM_SCHEMA), True),
    StructField("totals", MapType(StringType(), StringType()), True),
    StructField("line_items_secondary",
                ArrayType(NORMALIZED_ITEM_SCHEMA), True),
])

VALIDATION_SCHEMA = StructType([
    StructField("passed", BooleanType(), True),
    StructField("total_checks", IntegerType(), True),
    StructField("passed_checks", IntegerType(), True),
    StructField("failed_checks", IntegerType(), True),
    StructField("issues", ArrayType(StringType()), True),
])

# Output of the fused extraction stage. `partition_id` and `extract_ms` keep
# the per-partition lineage/metrics table (SURVEY §4 custom-work 3)
# recomputable from the documents themselves (`extract.extracted_metrics`).
DOCUMENT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("doc_id", StringType(), False),
    StructField("content_key", StringType(), False),  # sha256(html) — resume key
    StructField("status", StringType(), False),
    StructField("error", StringType(), True),
    StructField("file_type", StringType(), True),
    StructField("warc_ts", TimestampType(), True),
    StructField("lang", StringType(), True),
    StructField("title", StringType(), True),
    StructField("raw_text", StringType(), True),
    StructField("n_chars", LongType(), True),
    StructField("n_blocks", IntegerType(), True),
    StructField("n_content_blocks", IntegerType(), True),
    StructField("page_count", IntegerType(), True),
    StructField("pages", ArrayType(PAGE_SCHEMA), True),
    StructField("fields", ArrayType(FIELD_SCHEMA), True),
    StructField("tables", ArrayType(TABLE_SCHEMA), True),
    StructField("validation", VALIDATION_SCHEMA, True),
    StructField("reconstruction", RECONSTRUCTION_SCHEMA, True),
    StructField("normalized", NORMALIZED_SCHEMA, True),
    StructField("partition_id", IntegerType(), True),
    StructField("extract_ms", DoubleType(), True),
])

# The per-partition lineage/metrics table: one row per extraction partition
# of a committed run. The columns and types of `extract.extracted_metrics`
# read back from parquet, so every column is nullable.
METRICS_SCHEMA = StructType([
    StructField("partition_id", IntegerType(), True),
    StructField("n_docs", LongType(), True),
    StructField("n_ok", LongType(), True),
    StructField("n_err", LongType(), True),
    StructField("wall_ms", DoubleType(), True),
    StructField("snapshot_id", LongType(), True),
])


def map_rows(df: DataFrame, fn: Callable[[dict], Iterable[dict]],
             schema: StructType) -> DataFrame:
    """THE engine's Python row map, over Spark's Arrow batch map: `fn(row)`
    yields zero or more output dicts per input row dict, and each output
    batch is built once by `RecordBatch.from_pylist` on the schema's Arrow
    shape. That conversion is the row contract the stages rely on, at every
    nesting level: a missing key is null, an extra key is ignored, a tuple
    fills a struct by position (bbox tuples -> BBOX_SCHEMA), Python and
    numpy numbers are fitted to the declared width (a float in an int
    column truncates like int(); a value out of range fails the batch),
    and naive datetimes are read as UTC whatever the session time zone.
    One batch in, one batch out keeps a task's memory bounded (SURVEY §2.4
    O2; the reference's lazy page iterator, io/pdf.py:86-115)."""
    arrow_schema = to_arrow_schema(schema)
    return df.mapInArrow(lambda batches: row_batches(batches, fn, arrow_schema),
                         schema)


def row_batches(batches: Iterable[pa.RecordBatch],
                fn: Callable[[dict], Iterable[dict]],
                arrow_schema: pa.Schema) -> Iterable[pa.RecordBatch]:
    """The body of `map_rows`: one output batch per input batch that
    yields rows, converted by `RecordBatch.from_pylist` on `arrow_schema`.
    The snapshot writer (`checkpoint.commit_snapshot`) applies the same
    row contract to the batches it writes."""
    for batch in batches:
        rows = [out for row in batch.to_pylist() for out in fn(row)]
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
