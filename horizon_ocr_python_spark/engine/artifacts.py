"""S7 artifacts stage: sampled debug overlays as a columnar table.

The reference writes one PNG/HTML file per page per kind under
``artifacts/{mode}/{doc_id}/`` for EVERY document
(io/artifacts.py:126-143, orchestrator wiring). At 100 TB that is billions
of tiny files — the survey's own Spark mapping for S7 is "optional debug
stage; skip at scale or sample via df.sample().foreachPartition"
(SURVEY §2 S7). This stage implements exactly that, deterministically:

- sampling is a HASH GATE on url (``xxhash64(url) % every_n == 0``) — a
  plain scan-level predicate (no RNG state, same slice every run/retry, no
  driver coordination), evaluated before any payload crosses the Arrow
  boundary;
- sampled rows fan out to artifact rows (kernel.artifacts.document_artifacts)
  inside one Arrow row map (schema.map_rows) — same shape as the extract
  stage;
- the output is a DataFrame of artifact rows, written with any table sink
  (billions of rows is a table problem, not a filesystem problem);
  `export_artifacts_local` reproduces the reference's on-disk tree for an
  already-sampled frame when a human wants to click through summary.html.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, StringType,
                               StructField, StructType)

from .schema import map_rows

ARTIFACT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("doc_id", StringType(), False),
    StructField("page", IntegerType(), False),   # 0 = document-level
    StructField("kind", StringType(), False),    # layout/.../summary
    StructField("mime", StringType(), False),
    StructField("payload", BinaryType(), False),
])


def _make_artifacts_fn(config: Optional[dict], show_text: bool):
    def artifact_rows(row: dict) -> list[dict]:
        from ..kernel import artifacts as kernel_artifacts

        try:
            return kernel_artifacts.document_artifacts(
                row["url"], row["html"], warc_ts=row["warc_ts"],
                lang=row["lang"], config=config, show_text=show_text)
        except Exception as exc:  # noqa: BLE001 — per-row containment
            return [{"doc_id": "", "url": row["url"], "page": 0,
                     "kind": "error", "mime": "text/plain",
                     "payload": f"{type(exc).__name__}: {exc}".encode()}]
    return artifact_rows


def artifacts_stage(pages: DataFrame, every_n: int = 100,
                    config: Optional[dict] = None,
                    show_text: bool = True) -> DataFrame:
    """Debug artifacts for a deterministic 1-in-`every_n` sample of pages.

    The url-hash gate is a Catalyst predicate on the scan (check
    PushedFilters is irrelevant here — it is an expression filter, but it
    runs JVM-side before the Arrow exchange, so (every_n - 1)/every_n of
    payload bytes never reach Python). Column pruning matches the extract
    stage: only (url, warc_ts, html, lang) ship; `warc_ts` is the
    document's date-rule clock and its processed_at, as in extraction."""
    sampled = pages.where(
        F.pmod(F.abs(F.xxhash64(F.col("url"))), F.lit(every_n)) == 0)
    return map_rows(sampled.select("url", "warc_ts", "html", "lang"),
                    _make_artifacts_fn(config, show_text), ARTIFACT_SCHEMA)


def export_artifacts_local(artifacts: DataFrame, out_dir: str,
                           mode: str = "Local") -> int:
    """Materialize an (already-sampled) artifacts frame as the reference's
    on-disk tree: ``{out_dir}/{mode}/{doc_id}/page_{NNN}_{kind}.png`` +
    ``summary.html`` (io/artifacts.py:126-143 get_document_dir layout,
    "Local"/"Azure_Cloud" mode subfolder). Driver-side by design — this is
    the human-debug endpoint for a bounded sample, not a distributed sink;
    returns the number of files written. ``mode`` accepts the reference's
    lowercase mode names ("local"/"azure", get_document_dir
    io/artifacts.py:126-143) as well as a literal subfolder name."""
    import hashlib
    import os

    mode = {"local": "Local", "azure": "Azure_Cloud"}.get(mode.lower(), mode)

    n = 0
    for row in artifacts.toLocalIterator():
        doc_dir = os.path.join(out_dir, mode, row.doc_id or "_errors")
        os.makedirs(doc_dir, exist_ok=True)
        if row.kind == "summary":
            name = "summary.html"
        elif row.kind == "error":
            # error rows share the _errors dir (no doc_id): key the file by
            # url hash so multiple failed docs don't overwrite each other
            name = f"error_{hashlib.md5(row.url.encode()).hexdigest()[:12]}.txt"
        else:
            name = f"page_{row.page:03d}_{row.kind}.png"
        with open(os.path.join(doc_dir, name), "wb") as fh:
            fh.write(bytes(row.payload))
        n += 1
    return n
