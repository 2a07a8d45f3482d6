"""Snapshot-committed output + resume-from-checkpoint.

Production design (SURVEY §4 custom-work 3): the output is an Iceberg table;
each run `MERGE INTO` on (url, content_key) so task retries are idempotent
and a failed run resumes from the last committed snapshot by anti-joining
its keys. This container has no Iceberg runtime jar, so this module
implements the same commit protocol over a parquet directory layout:

    <root>/
      snapshots/snap-<id>/part-<pid:05d>.parquet  (data, written first)
      manifests/manifest-<id>.json                (commit point, written LAST)

`commit_snapshot` is the one snapshot writer, and its Spark job is the
commit's only job. Each task writes its partition's DOCUMENT_SCHEMA rows
with `pyarrow.parquet`, batch by batch, into one `part-<pid>.parquet` per
non-empty partition: there is no `_SUCCESS` marker and no `.crc` file. A
task writes to a hidden file unique to its attempt, then renames it over
the part file, so a retried or speculative attempt rewrites the same file;
before the manifest rename the driver deletes the hidden files that failed
attempts left. A commit without rows writes one schema-only
`part-00000.parquet`, so every snapshot reads, also by schema inference.
The output root is a local (or locally mounted) path: the tasks and the
driver write it with `os` calls.

A manifest holds the snapshot id, parent, data path and row count (the
tasks' summed `n_docs`). When the commit extracted its documents itself
(every `run_extraction` commit, stream micro-batches included) it also
holds the per-partition metrics rows `{partition_id, n_docs, n_ok, n_err,
wall_ms}` (SURVEY §4 custom-work 3), as an Iceberg manifest carries
per-file record counts: the writing tasks total them, so they commit in
the same atomic rename as the data and cost no job of their own;
`read_metrics` serves them as a table. Compaction manifests carry none.

A snapshot exists iff its manifest exists — readers list manifests, never
raw directories, so a crashed run's half-written snapshot is invisible
(the same visibility rule as an Iceberg metadata commit), and so are its
metrics. Every read passes its known schema (`DOCUMENT_SCHEMA` or the two
key columns), so no read pays a parquet schema-inference job. The resume
key is content-addressed like the reference's response cache
(azure/response_cache.py:66-91: sha256 of content + context).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, Iterable, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .schema import DOCUMENT_SCHEMA, METRICS_SCHEMA, row_batches

# What the resume filter reads of a snapshot: its MERGE key.
KEY_SCHEMA = StructType([DOCUMENT_SCHEMA["url"], DOCUMENT_SCHEMA["content_key"]])
# What a commit task returns: its partition's totals (`write_part`).
_TOTALS_SCHEMA = StructType([METRICS_SCHEMA[c] for c in
                             ("partition_id", "n_docs", "n_ok", "wall_ms")])
_TOTALS_ARROW = to_arrow_schema(_TOTALS_SCHEMA)
_DOCUMENT_ARROW = to_arrow_schema(DOCUMENT_SCHEMA)
# Readers use the Parquet schema; the footer's copy of the Arrow schema
# would add ~14 KB to every part file. Min/max statistics only for the
# short key columns a filter can prune on: for raw_text, reconstruction
# and the other long strings they are two copies of a prefix per page
# that no reader uses.
_PARQUET_OPTIONS = {"store_schema": False,
                    "write_statistics": ["url", "content_key", "status"]}


def content_key(col) -> Column:
    """THE resume key's content half, JVM-side: sha256 hex of the payload
    (NULL = empty). The resume filter, the streaming dedup and the extract
    stage's document rows all use this one definition."""
    return F.sha2(F.coalesce(col, F.lit(bytearray())), 256)


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "manifests")


def _snap_dir(root: str, snap_id: int) -> str:
    return os.path.join(root, "snapshots", f"snap-{snap_id}")


def committed_snapshots(root: str) -> list[dict]:
    """All committed snapshot manifests, oldest first."""
    mdir = _manifest_dir(root)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("manifest-") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as fh:
                out.append(json.load(fh))
    return sorted(out, key=lambda s: s["snapshot_id"])


def next_snapshot_id(root: str) -> int:
    snaps = committed_snapshots(root)
    return (max(s["snapshot_id"] for s in snaps) + 1) if snaps else 1


def active_snapshots(root: str, as_of_snapshot: Optional[int] = None) -> list[dict]:
    """The snapshots a reader must scan: the latest BASE (compaction)
    snapshot plus everything after it. Without compaction this is the full
    history; after each `compact()` it is 1 + (snapshots since) — the fix
    for the steady-state read path replaying 1,000 incremental snapshots.

    `as_of_snapshot` prunes first, so time travel reconstructs the table
    exactly as it stood then (a base snapshot summarizes all ids <= its
    own, so pruning within the as_of window stays exact)."""
    snaps = committed_snapshots(root)
    if as_of_snapshot is not None:
        snaps = [s for s in snaps if s["snapshot_id"] <= as_of_snapshot]
    base_idx = None
    for i, s in enumerate(snaps):
        if s.get("base"):
            base_idx = i
    return snaps if base_idx is None else snaps[base_idx:]


def committed_keys(spark: SparkSession, root: str) -> Optional[DataFrame]:
    """DataFrame of (url, content_key) across the active snapshots, or
    None when no snapshot exists. Reads only the two key columns, with
    their known schema: no inference job, and parquet column pruning keeps
    the scan cheap even for wide document rows."""
    snaps = active_snapshots(root)
    if not snaps:
        return None
    paths = [_snap_dir(root, s["snapshot_id"]) for s in snaps]
    return spark.read.schema(KEY_SCHEMA).parquet(*paths)


def filter_uncommitted(pages: DataFrame, committed: Optional[DataFrame]) -> DataFrame:
    """Resume filter: left-anti join pages against already-committed keys.

    Keyed on (url, content_key(html)) — the MERGE key this module's
    docstring promises. A re-crawl of the same url with identical bytes is
    skipped; a NEW url whose bytes happen to equal some committed page is
    still extracted (it is a distinct output row). Content-only dedup
    across urls is a separate operator (operators/dedup.exact_dedup), not
    the resume filter's job.

    The `content_key` column stays on the returned rows, also when nothing
    is committed, so the extract stage ships it instead of hashing again.
    The committed keys are joined as they are: a left-anti join's result
    does not depend on duplicate build keys, so deduplicating them would
    only add an aggregate and a shuffle below the broadcast.
    """
    keyed = pages.withColumn("content_key", content_key(F.col("html")))
    if committed is None:
        return keyed
    return keyed.join(committed.select("url", "content_key"),
                      on=["url", "content_key"], how="left_anti")


def _part_file(data_dir: str, partition_id: int) -> str:
    return os.path.join(data_dir, f"part-{partition_id:05d}.parquet")


def _as_documents(batch: pa.RecordBatch) -> pa.RecordBatch:
    """A document batch in DOCUMENT_SCHEMA's own Arrow types. Spark hands
    over file-read rows with every nested field nullable, which
    `RecordBatch.cast` refuses to narrow; the memory layout is the same,
    so each column is viewed as its declared type."""
    if batch.schema.equals(_DOCUMENT_ARROW):
        return batch
    return pa.RecordBatch.from_arrays(
        [batch.column(f.name).view(f.type) for f in _DOCUMENT_ARROW],
        schema=_DOCUMENT_ARROW)


def write_part(data_dir: str, partition_id: int, attempt: int,
               batches: Iterable[pa.RecordBatch],
               row_fn: Optional[Callable[[dict], Iterable[dict]]] = None
               ) -> Optional[dict]:
    """The commit job's task body: write one partition's document rows as
    `part-<partition_id>.parquet` and return its totals
    `{partition_id, n_docs, n_ok, wall_ms}`, or None when it has no row.

    `batches` are the partition's input batches. With `row_fn` they are
    input rows that `row_fn` turns into document rows (the `map_rows` row
    contract); without, they already are document rows. Each batch is
    written as it comes to a hidden file unique to `attempt`, which is
    renamed over the part file at the end, so a retried or speculative
    attempt rewrites the same file and a failed one leaves only a hidden
    file, which the commit deletes."""
    if row_fn is not None:
        batches = row_batches(batches, row_fn, _DOCUMENT_ARROW)
    tmp = os.path.join(data_dir, f".part-{partition_id:05d}.attempt-{attempt}")
    n_docs = n_ok = 0
    wall_ms = 0.0
    writer = None
    try:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            batch = _as_documents(batch)
            if writer is None:
                writer = pq.ParquetWriter(tmp, _DOCUMENT_ARROW,
                                          **_PARQUET_OPTIONS)
            writer.write_batch(batch)
            n_docs += batch.num_rows
            n_ok += batch.column("status").to_pylist().count("ok")
            for ms in batch.column("extract_ms").to_pylist():
                wall_ms += ms or 0.0
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return None
    os.replace(tmp, _part_file(data_dir, partition_id))
    return {"partition_id": partition_id, "n_docs": n_docs, "n_ok": n_ok,
            "wall_ms": wall_ms}


def commit_snapshot(rows: DataFrame, root: str,
                    extra: Optional[dict] = None,
                    row_fn: Optional[Callable[[dict], Iterable[dict]]] = None
                    ) -> dict:
    """Write a new snapshot: data first, manifest last (the commit point).
    The one snapshot writer: extraction runs (stream micro-batches
    included) and compaction both commit through it.

    One Spark job: each task writes its partition's rows with `write_part`
    and returns its totals, which the driver collects. `rows` are document
    rows (DOCUMENT_SCHEMA), or, with `row_fn`, the input rows of the
    per-row function that extracts them (`extract.extraction`), so each
    document is written by the task that made it. The manifest records
    `n_rows` = the summed `n_docs`; with `row_fn` it also carries the
    per-partition metrics rows, which then commit with the data.

    Returns the committed manifest. A driver crash before the manifest
    write leaves an invisible orphan directory, never a torn snapshot.
    """
    snap_id = next_snapshot_id(root)
    data_dir = _snap_dir(root, snap_id)
    # A run that crashed mid-write leaves an orphan data dir with no
    # manifest. It is invisible to readers (manifest-last visibility rule),
    # but the retry recomputes the SAME snapshot id — clear the orphan so
    # the rewrite succeeds (this is exactly Iceberg's orphan-file story).
    if os.path.isdir(data_dir) and not os.path.exists(
            os.path.join(_manifest_dir(root), f"manifest-{snap_id}.json")):
        shutil.rmtree(data_dir)
    os.makedirs(data_dir)

    def task(batches):
        ctx = TaskContext.get()
        totals = write_part(data_dir, ctx.partitionId(), ctx.taskAttemptId(),
                            batches, row_fn)
        if totals is not None:
            yield pa.RecordBatch.from_pylist([totals], schema=_TOTALS_ARROW)

    totals = [r.asDict() for r in rows.mapInArrow(task, _TOTALS_SCHEMA).collect()]
    return _publish(root, snap_id, totals, extra,
                    with_metrics=row_fn is not None)


def _publish(root: str, snap_id: int, totals: list[dict],
             extra: Optional[dict], with_metrics: bool) -> dict:
    """The driver's half of a commit, after every task has written its
    part file: delete the hidden files of failed attempts, give a snapshot
    without rows one schema-only part file (so it still reads, also with
    schema inference), then write the manifest and rename it into place."""
    data_dir = _snap_dir(root, snap_id)
    for name in os.listdir(data_dir):
        if name.startswith("."):
            os.remove(os.path.join(data_dir, name))
    if not totals:
        pq.write_table(_DOCUMENT_ARROW.empty_table(), _part_file(data_dir, 0),
                       **_PARQUET_OPTIONS)
    manifest = {
        "snapshot_id": snap_id,
        "parent_id": snap_id - 1 if snap_id > 1 else None,
        "path": data_dir,
        "n_rows": sum(t["n_docs"] for t in totals),
        **(extra or {}),
    }
    if with_metrics:
        manifest["metrics"] = [
            {"partition_id": t["partition_id"], "n_docs": t["n_docs"],
             "n_ok": t["n_ok"], "n_err": t["n_docs"] - t["n_ok"],
             "wall_ms": t["wall_ms"]}
            for t in sorted(totals, key=lambda t: t["partition_id"])]
    os.makedirs(_manifest_dir(root), exist_ok=True)
    tmp = os.path.join(_manifest_dir(root), f".manifest-{snap_id}.json.tmp")
    final = os.path.join(_manifest_dir(root), f"manifest-{snap_id}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2)
    os.replace(tmp, final)  # atomic commit
    return manifest


def read_snapshot(spark: SparkSession, root: str, snapshot_id: int) -> DataFrame:
    """One snapshot's document rows, read with DOCUMENT_SCHEMA."""
    return spark.read.schema(DOCUMENT_SCHEMA).parquet(_snap_dir(root, snapshot_id))


def metric_rows(root: str) -> list[dict]:
    """The per-partition metrics rows of every committed snapshot, from
    the manifests: no data file is read and no job runs. Manifests without
    metrics rows (compaction) and uncommitted runs contribute none."""
    return [{**r, "snapshot_id": s["snapshot_id"]}
            for s in committed_snapshots(root) for r in s.get("metrics", ())]


def read_metrics(spark: SparkSession, root: str,
                 rows: Optional[list[dict]] = None) -> DataFrame:
    """The per-partition metrics table (METRICS_SCHEMA): `rows`, or
    `metric_rows(root)` as it stands now."""
    return spark.createDataFrame(
        metric_rows(root) if rows is None else rows, METRICS_SCHEMA)


def read_table(spark: SparkSession, root: str,
               as_of_snapshot: Optional[int] = None) -> Optional[DataFrame]:
    """Read the union of all committed snapshots (latest-wins dedup on url:
    rows from higher snapshot ids shadow lower, the MERGE semantics).

    `as_of_snapshot` gives Iceberg-style time travel: reconstruct the table
    exactly as it stood after that snapshot committed.

    Reads only the ACTIVE snapshots (latest base + tail) — after
    compaction, steady-state reads scan a bounded number of snapshot dirs
    however long the commit history grows.
    """
    snaps = active_snapshots(root, as_of_snapshot)
    if not snaps:
        return None
    from pyspark.sql.window import Window

    dfs = None
    for s in snaps:
        df = read_snapshot(spark, root, s["snapshot_id"]) \
            .withColumn("_snap", F.lit(s["snapshot_id"]))
        dfs = df if dfs is None else dfs.unionByName(df)
    w = Window.partitionBy("url").orderBy(F.col("_snap").desc())
    return (dfs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "_snap"))


def compact(spark: SparkSession, root: str) -> Optional[int]:
    """Rewrite the current latest-wins table state as a new BASE snapshot
    (Iceberg's rewrite_data_files compaction, expressed in this module's
    manifest protocol). History stays on disk, so time travel to any
    pre-compaction snapshot keeps working; steady-state readers switch to
    base + tail via `active_snapshots`. Returns the new snapshot id, or
    None when there is nothing to compact."""
    current = read_table(spark, root)
    if current is None:
        return None
    last = committed_snapshots(root)[-1]["snapshot_id"]
    return commit_snapshot(current, root, extra={
        "base": True, "compacted_through": last})["snapshot_id"]
