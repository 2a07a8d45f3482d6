"""Snapshot-committed output + resume-from-checkpoint.

Production design (SURVEY §4 custom-work 3): the output is an Iceberg table;
each run `MERGE INTO` on (url, content_key) so task retries are idempotent
and a failed run resumes from the last committed snapshot by anti-joining
its keys. This container has no Iceberg runtime jar, so this module
implements the same commit protocol over a parquet directory layout:

    <root>/
      snapshots/snap-<id>/part-*.parquet      (data, written first)
      manifests/manifest-<id>.json            (commit point, written LAST)

A manifest holds the snapshot id, parent, data path and row count, and for
an extraction run also the per-partition metrics rows
`{partition_id, n_docs, n_ok, n_err, wall_ms}` (SURVEY §4 custom-work 3),
as an Iceberg manifest carries per-file record counts. The extraction pass
fills them as a side output (`partition_metrics`), so they commit in the
same atomic rename as the data and cost no job of their own;
`read_metrics` serves them as a table. Compaction and stream-batch
manifests carry none.

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
from typing import Optional

from pyspark import Accumulator, AccumulatorParam, SparkContext
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .schema import DOCUMENT_SCHEMA, METRICS_SCHEMA

# What the resume filter reads of a snapshot: its MERGE key.
KEY_SCHEMA = StructType([DOCUMENT_SCHEMA["url"], DOCUMENT_SCHEMA["content_key"]])


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


class _PartitionTotals(AccumulatorParam):
    """Accumulator value `{partition_id: [n_docs, n_ok, wall_ms]}`, summed
    element-wise per partition."""

    def zero(self, value):
        return {}

    def addInPlace(self, totals, more):
        for pid, v in more.items():
            totals[pid] = [a + b for a, b in zip(totals.get(pid, (0, 0, 0.0)), v)]
        return totals


def partition_metrics(sc: SparkContext) -> Accumulator:
    """A fresh accumulator for one commit's per-partition metrics. The
    extraction pass adds `{partition_id: (1, status == "ok", extract_ms)}`
    per document, and `commit_snapshot` writes the totals into the
    manifest. Spark applies each successful task's update exactly once in
    a result stage, so the pass must run only in the write job's result
    stage, as it does in `pipeline.run_extraction`."""
    return sc.accumulator({}, _PartitionTotals())


def commit_snapshot(documents: DataFrame, root: str,
                    extra: Optional[dict] = None,
                    metrics: Optional[Accumulator] = None) -> dict:
    """Write a new snapshot: data first, manifest last (the commit point).

    Returns the committed manifest. Task retries inside the write are
    handled by Spark's output committer; a driver crash before the
    manifest write leaves an invisible orphan directory, never a torn
    snapshot. `metrics` is a `partition_metrics` accumulator that the
    write fills; its rows go into the manifest, so they commit with it.
    """
    snap_id = next_snapshot_id(root)
    data_dir = _snap_dir(root, snap_id)
    # A run that crashed mid-write leaves an orphan data dir with no
    # manifest. It is invisible to readers (manifest-last visibility rule),
    # but the retry recomputes the SAME snapshot id — clear the orphan so
    # the rewrite succeeds (this is exactly Iceberg's orphan-file story).
    if os.path.isdir(data_dir) and not os.path.exists(
            os.path.join(_manifest_dir(root), f"manifest-{snap_id}.json")):
        import shutil
        shutil.rmtree(data_dir)
    # Row count comes from an Observation piggybacked on the write itself —
    # no second scan of the snapshot we just wrote (at 10^12 rows a re-read
    # per commit doubles the output I/O).
    obs = Observation(f"commit-snap-{snap_id}")
    observed = documents.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    observed.write.mode("errorifexists").parquet(data_dir)
    n_rows = int(obs.get["n_rows"])
    manifest = {
        "snapshot_id": snap_id,
        "parent_id": snap_id - 1 if snap_id > 1 else None,
        "path": data_dir,
        "n_rows": n_rows,
        **(extra or {}),
    }
    if metrics is not None:
        manifest["metrics"] = [
            {"partition_id": pid, "n_docs": n, "n_ok": ok, "n_err": n - ok,
             "wall_ms": ms}
            for pid, (n, ok, ms) in sorted(metrics.value.items())]
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


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    """The per-partition metrics table (METRICS_SCHEMA) of every committed
    snapshot, from the manifests: no data file is read and no job runs.
    Manifests without metrics rows (compaction, stream batches) and
    uncommitted runs contribute none."""
    rows = [{**r, "snapshot_id": s["snapshot_id"]}
            for s in committed_snapshots(root) for r in s.get("metrics", ())]
    return spark.createDataFrame(rows, METRICS_SCHEMA)


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
