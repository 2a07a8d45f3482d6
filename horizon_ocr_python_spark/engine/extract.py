"""The fused extraction stage: pages DataFrame -> documents DataFrame.

One Arrow row map (`schema.map_rows`) runs the whole kernel pipeline
(parse -> boilerplate strip -> reading order -> KIE -> fuse -> validate)
per document, so page payloads never cross a stage boundary (SURVEY §4
custom-work 2: Catalyst cannot fuse across two Python UDF stages without
serializing the intermediate).

Vectorization pattern (SURVEY §2.4 O2): the per-document Python loop lives
*inside* the Arrow batch — Spark hands over Arrow record batches of
`arrow.maxRecordsPerBatch` rows and the output batch is built once from
the row dicts; there is no Spark-row-at-a-time Python and no pandas hop.
Error containment is per row (status/error columns, types.py:317-323) —
a poisoned document must not kill a 10^12-row task.

A committing run does not map rows into a DataFrame at all: it hands
the stage's two halves (`extraction`: the shipped pages and the per-row
function) to `checkpoint.commit_snapshot`, whose tasks write the documents
they extract straight to the snapshot's part files, so no document goes
back into the JVM. Those tasks also total the per-partition metrics;
`extracted_metrics` recomputes the same table from document rows.
"""

from __future__ import annotations

import time
from typing import Callable, Iterable, Optional

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.document import extract_document
from .checkpoint import content_key
from .schema import DOCUMENT_SCHEMA, map_rows


def _str_or_none(v) -> str | None:
    return None if v is None else str(v)


def _doc_to_row(url, warc_ts, lang, doc: dict, content_key: str,
                partition_id: int, extract_ms: float) -> dict:
    """Kernel Document -> DOCUMENT_SCHEMA row, written only where the two
    differ: top-level renames and counts, each page's metadata flattened
    into its page row, words inheriting their line's source/content_type
    (types.py:129-135), string field/candidate values (JSON_SCHEMA.md:395)
    and the stringified validator `details` map (types.py:210-216).
    `map_rows` converts everything else on the schema."""
    pages = doc["pages"]
    return {
        **doc,
        "url": url,
        "doc_id": doc["id"],
        "content_key": content_key,
        "file_type": doc["metadata"]["file_type"],
        "warc_ts": warc_ts,
        "lang": lang,
        "n_chars": len(doc["raw_text"]),
        "n_blocks": sum(len(p["layout_regions"]) for p in pages),
        "n_content_blocks": sum(len(p["text_lines"]) for p in pages),
        "pages": [{**p, **p["metadata"], "text_lines": [{
            **tl,
            "words": [{"source": tl.get("source"),
                       "content_type": tl.get("content_type"), **w}
                      for w in tl["words"]],
        } for tl in p["text_lines"]]} for p in pages],
        "fields": [{
            **f,
            "value": _str_or_none(f["value"]),
            "candidates": [{**c, "value": _str_or_none(c.get("value"))}
                           for c in f["candidates"]],
            "n_candidates": len(f["candidates"]),
            "validators": [{**r, "details": {
                k: str(v) for k, v in r.items()
                if k not in ("name", "passed", "message") and v is not None
            }} for r in f["validators"]],
        } for f in doc["fields"]],
        "partition_id": partition_id,
        "extract_ms": extract_ms,
    }


_SHIPPED = ("url", "warc_ts", "html", "lang", "content_key")


def _make_extract_fn(config: Optional[dict] = None):
    """Build the per-row body with the (broadcastable) config dict
    baked into the closure — the C7 contract: executors see a plain dict,
    never driver-side dataclasses. The kernel reads the fusion.*,
    thresholds.* and HTML extraction.* leaves in the stages they govern."""

    def _extract_row(row: dict):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        t0 = time.perf_counter()
        doc = extract_document(row["url"], row["html"] or b"",
                               row["warc_ts"], row["lang"], config=config)
        ms = (time.perf_counter() - t0) * 1000.0
        yield _doc_to_row(row["url"], row["warc_ts"], row["lang"], doc,
                          row["content_key"], pid, ms)

    return _extract_row


def extraction(pages: DataFrame, config: Optional[dict] = None
               ) -> tuple[DataFrame, Callable[[dict], Iterable[dict]]]:
    """The extraction stage as its two halves: the pages rows shipped to
    Python, and the per-row function that turns each into a
    DOCUMENT_SCHEMA row. `extract_stage` maps one over the other;
    `checkpoint.commit_snapshot` takes both and writes what the function
    yields.

    `config` is an EngineConfig.to_dict() (kernel.config), handed to the
    kernel as is; omitted -> EngineConfig's defaults.

    Column pruning: only (url, warc_ts, html, lang) are shipped to Python —
    the ground-truth `text` column (test-only) is never read here, so the
    parquet scan prunes it (check ReadSchema in .explain). The resume key
    rides along: a `content_key` column already on the rows (the resume
    filter's, computed before the shuffle) is shipped as is, otherwise
    `checkpoint.content_key(html)` is computed JVM-side here.
    """
    if "content_key" not in pages.columns:
        pages = pages.withColumn("content_key", content_key(F.col("html")))
    # Input column order, so the select only prunes and sinks below the
    # caller's shuffle: AQE replaces a Project over an empty shuffle along
    # with the stage below, losing run_extraction's input Observation.
    shipped = [c for c in pages.columns if c in _SHIPPED]
    return pages.select(*shipped), _make_extract_fn(config)


def extract_stage(pages: DataFrame, config: Optional[dict] = None) -> DataFrame:
    """Run the fused extraction stage over a pages DataFrame: the lazy
    documents DataFrame (DOCUMENT_SCHEMA) of `extraction`'s two halves.
    `pipeline.run_extraction` writes the same rows through
    `checkpoint.commit_snapshot` instead."""
    return map_rows(*extraction(pages, config), DOCUMENT_SCHEMA)


def extracted_metrics(documents: DataFrame,
                      snapshot_id: Optional[int] = None) -> DataFrame:
    """Per-partition lineage/metrics table (SURVEY §4 custom-work 3):
    (partition_id, n_docs, n_ok, n_err, wall_ms, snapshot_id).

    The lazy table of any documents DataFrame (an `extract_stage` output):
    a relational aggregation over the stage output, one map-side-combined
    groupBy, no extra pass over the payloads. `pipeline.run_extraction`
    does not call it: its commit tasks total the same rows as they write
    them, and the manifest carries them
    (`checkpoint.read_metrics` serves them with these columns and types,
    schema.METRICS_SCHEMA).
    """
    from pyspark.sql import functions as F

    return (documents.groupBy("partition_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("n_err"),
        F.sum("extract_ms").alias("wall_ms"),
    ).withColumn("snapshot_id", F.lit(snapshot_id).cast("long")))
