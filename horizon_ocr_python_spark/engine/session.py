"""SparkSession builder with the engine's tuned defaults."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import SparkSession


def build_session(master: str | None = None, app_name: str = "horizon-spark",
                  shuffle_partitions: int | None = None,
                  arrow_batch: int = 256) -> SparkSession:
    """Engine defaults, chosen for the heavy-UDF workload:

    - AQE on (runtime shuffle coalescing + skew-join splitting for the
      relational tail; it does NOT fix UDF-compute skew — that's the salted
      repartition's job, engine.partitioning)
    - arrow.maxRecordsPerBatch kept moderate: page payloads are KB-to-MB
      sized, so an Arrow batch of 256 rows stays well under worker memory
      (SURVEY §7.5 hard-part 3)
    - python worker reuse: the kernel's module import cost (and any future
      per-worker model cache) is paid once per executor, like the
      reference's lock-guarded lazy model init (orchestrator.py:115-161)
    - shuffle partitions default to 2x cores, scaled with master
    - generic bring-up is paid at session build (_warm_python_runner): a
      no-op mapInPandas spawns the worker daemon and loads Arrow, and a
      synthetic parquet round trip loads the reader/writer. Disable with
      HSP_WARM_PYTHON=0.
    - spark.local.dir is set only when SPARK_LOCAL_DIRS is not: Spark
      ignores the config (with a warning) when the variable is set.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() if master == "local[*]" else None
        if master.startswith("local[") and master != "local[*]":
            n = int(master[len("local["):-1])
        shuffle_partitions = 2 * (n or 8)

    # repo root on the worker PYTHONPATH so the custom daemon module (and
    # pickled-by-reference kernel functions) import regardless of cwd
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    worker_pythonpath = os.pathsep.join(
        p for p in [repo_root, os.environ.get("PYTHONPATH", "")] if p)

    builder = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        # workers fork from a daemon that preimports numpy/pandas/pyarrow +
        # the kernel (copy-on-write inheritance): the first Python-boundary
        # job stops paying `cores x cold-import` (guide §4.5, hoisted to
        # once per host)
        .config("spark.python.daemon.module",
                "horizon_ocr_python_spark.engine.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer shuffled hash join over sort-merge when the per-partition
        # build side fits (guide §3.1/§9): no sort of either side; AQE can
        # also rewrite SMJ->SHJ at runtime below the local-map threshold.
        # The threshold bounds the in-memory hash build per task, so it is
        # the scale-safety knob (HSP_SHJ_LOCALMAP_THRESHOLD; SMJ remains
        # the spill-safe fallback above it).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("HSP_SHJ_LOCALMAP_THRESHOLD", "64m"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    local_dir = _local_dir()
    if local_dir is not None:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    if os.environ.get("HSP_WARM_PYTHON", "1") != "0":
        _warm_python_runner(spark)
    return spark


def _warm_python_runner(spark: SparkSession) -> None:
    """Generic session bring-up, so a fresh session's first real job does
    not absorb it: a no-op mapInPandas (worker daemon spawn, Arrow/Netty
    class loading) and a parquet write/read round trip (vectorized reader,
    footer parsing, commit protocol). Touches no input data and mirrors no
    query's expressions: only synthetic longs, nothing any timed query
    computes is precomputed or cached."""

    def _noop(batches):
        for pdf in batches:
            yield pd.DataFrame({"i": pdf["i"][:0]})

    cores = spark.sparkContext.defaultParallelism
    try:
        spark.sparkContext.setJobDescription("session: python-runner warmup")
        (spark.range(0, cores, 1, cores).toDF("i")
         .mapInPandas(_noop, "i long").count())

        # parquet reader/writer first-use JIT (vectorized reader, footer
        # parsing, commit protocol): a 10k-row synthetic round trip in a
        # temp dir — measured ~3 s off the session's first real scan query
        # at local[32]
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="hsp-warm-")
        try:
            path = os.path.join(tmp, "w.parquet")
            (spark.range(0, 10_000, 1, 4).toDF("i")
             .write.mode("overwrite").parquet(path))
            (spark.read.parquet(path)
             .write.format("noop").mode("overwrite").save())
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    finally:
        spark.sparkContext.setJobDescription(None)


def _local_dir() -> str | None:
    """Shuffle/spill directory, or None when SPARK_LOCAL_DIRS is set (Spark
    then uses that and ignores spark.local.dir). On a single host the one
    data disk is a shared bottleneck that does not scale with task threads
    (a real cluster adds disks with executors), so prefer tmpfs when
    present."""
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return None
    shm = "/dev/shm/spark-local"
    if os.path.isdir("/dev/shm"):
        os.makedirs(shm, exist_ok=True)
        return shm
    return "/tmp"
