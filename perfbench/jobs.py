"""The workloads' timed job, its untimed set-up, and the output check.

Every timed job is the production call
`engine.pipeline.run_extraction(read(input), output_root=<root>)`: read,
length cap, resume anti-join, salted repartition, fused extraction, snapshot
commit and per-partition metrics. Workloads differ in their inputs and in
what the output root already holds when the job starts.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

from horizon_ocr_python_spark.engine import checkpoint as ckpt
from horizon_ocr_python_spark.engine import pipeline
from horizon_ocr_python_spark.engine.extract import extract_stage
from horizon_ocr_python_spark.engine.partitioning import (salted_repartition,
                                                          with_length_cap)
from pyspark.sql import functions as F

from corpus import Sample


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    scale: int
    kinds: tuple[str, ...] | None     # None: make_page's natural mix
    committed_fraction: float         # share of urls committed before each job


WORKLOADS = {
    w.name: w for w in (
        Workload("crawl_mix", n_pages=600, scale=1, kinds=None,
                 committed_fraction=0.0),
        Workload("html_recrawl", n_pages=1000, scale=8, kinds=("html",),
                 committed_fraction=0.5),
    )
}


@dataclass(frozen=True)
class JobCheck:
    extracted: int        # docs the job itself extracted (its snapshot rows)
    checked: int          # docs in the output table after the job
    errors: int           # status != "ok"
    mismatches: int       # raw_text != ground-truth text
    failed: int           # docs with an error or a mismatch, plus `missing`
    missing: int          # input urls absent from, or duplicated in, the output
    digest: str           # order-independent digest of (url, status, raw_text)


def committed_urls(w: Workload, s: Sample) -> int:
    return round(len(s.urls) * w.committed_fraction)


def prepare_template(spark, w: Workload, s: Sample, template: str, k: int) -> None:
    """Untimed set-up: commit the workload's committed share of the input
    (the first urls of the seeded sample) into `template`."""
    n = committed_urls(w, s)
    if n == 0:
        return
    pages = spark.read.parquet(s.path)
    first = pages.filter(F.col("url").isin(s.urls[:n]))
    pipeline.run_extraction(first, num_partitions=2 * k, output_root=template)


def fresh_root(template: str, root: str) -> None:
    """Untimed: the state the output root is in when a job starts."""
    if os.path.isdir(template):
        shutil.copytree(template, root)


def timed_job(spark, s: Sample, root: str, k: int):
    """The timed region: what a production run executes."""
    return pipeline.run_extraction(spark.read.parquet(s.path),
                                   num_partitions=2 * k, output_root=root)


def check(spark, s: Sample, root: str) -> JobCheck:
    """Untimed output check against make_page's ground truth."""
    table = ckpt.read_table(spark, root)
    rows = table.select("url", "status",
                        F.sha2(F.col("raw_text"), 256).alias("h")).collect()
    truth = {u: hashlib.sha256(t.encode("utf-8")).hexdigest()
             for u, t in zip(s.urls, s.texts)}
    seen: dict[str, int] = {}
    errors = mismatches = failed = 0
    for r in rows:
        seen[r.url] = seen.get(r.url, 0) + 1
        error = r.status != "ok"
        mismatch = r.h is None or r.h != truth.get(r.url)
        errors += error
        mismatches += mismatch
        failed += error or mismatch
    missing = (sum(1 for u in truth if seen.get(u) != 1)
               + sum(1 for u in seen if u not in truth))
    digest = hashlib.sha256("\n".join(sorted(
        f"{r.url}\x1f{r.status}\x1f{r.h}" for r in rows)).encode()).hexdigest()
    extracted = ckpt.committed_snapshots(root)[-1]["n_rows"]
    return JobCheck(extracted=extracted, checked=len(rows), errors=errors,
                    mismatches=mismatches, failed=failed + missing,
                    missing=missing, digest=digest)


def extract_ms(spark, root: str) -> list[float]:
    """Per-doc kernel time the engine recorded for the job's own snapshot."""
    path = ckpt.committed_snapshots(root)[-1]["path"]
    return [r.extract_ms for r in spark.read.parquet(path).select("extract_ms").collect()]


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def checkpoint_layers(spark, w: Workload, s: Sample, template: str,
                      last_root: str, k: int, job_s: float) -> dict[str, float]:
    """The checkpoint layer, measured around the same calls the job makes.

    - resume: the anti-join against a committed root, to a noop sink. The
      root is the workload's template, or, when nothing is committed
      before a job, the last job's fully committed output (fraction 1).
    - commit: the job's median time minus the same documents extracted to
      a noop sink.
    - stored bytes and files: what the last job added to its root."""
    resume_root = template if committed_urls(w, s) else last_root
    capped = with_length_cap(spark.read.parquet(s.path))
    resume_s = statistics.median(
        _noop(ckpt.filter_uncommitted(capped, ckpt.committed_keys(spark, resume_root)))
        for _ in range(3))
    kept = ckpt.filter_uncommitted(
        capped, ckpt.committed_keys(spark, resume_root)).count()

    def same_docs():
        pages = with_length_cap(spark.read.parquet(s.path))
        committed = (ckpt.committed_keys(spark, template)
                     if os.path.isdir(template) else None)
        return extract_stage(salted_repartition(
            ckpt.filter_uncommitted(pages, committed), 2 * k))

    noop_s = statistics.median(_noop(same_docs()) for _ in range(2))
    before = {p.relative_to(template) for p in Path(template).rglob("*")
              if p.is_file()} if os.path.isdir(template) else set()
    written = [p for p in Path(last_root).rglob("*")
               if p.is_file() and p.relative_to(last_root) not in before]
    input_bytes = sum(s.sizes[committed_urls(w, s):])
    return {
        "checkpoint.resume_s": resume_s,
        "checkpoint.commit_s": job_s - noop_s,
        "checkpoint.noop_extract_s": noop_s,
        "checkpoint.skip_ratio": 1.0 - kept / len(s.urls),
        "checkpoint.stored_bytes_per_input_byte":
            sum(p.stat().st_size for p in written) / input_bytes,
        "checkpoint.files_written": float(len(written)),
    }


def expected_skip_ratio(w: Workload, s: Sample) -> float:
    n = committed_urls(w, s)
    return n / len(s.urls) if n else 1.0
