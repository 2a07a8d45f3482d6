"""Layered extraction benchmark: one workload, one fresh Spark session.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout. The session is `local[K]` with K = min(4,
nproc) and 2K shuffle partitions, driven by this single process in a
closed loop of one job at a time: a first (cold) job, then MIN_WARM_JOBS
warm jobs, and more while less than `--seconds` of job time is measured.
Every job's output is checked against the generator's ground truth outside
the timed region.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). The line before it labels the run: host core
count, K, /proc/loadavg before and after, outside load, error and mismatch
rates, and the output digest. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
# Warm jobs keep getting faster for several jobs (JIT, worker caches), so
# the median must cover the same job indices in every run: the count, not
# `--seconds`, ends the loop at the benchmark's run length.
MIN_WARM_JOBS = 5
REPLAY_DOCS = 300     # docs a traced run replays through the kernel

if str(ROOT) not in sys.path:
    sys.path.insert(1, str(ROOT))

# after the path set-up: jobs imports the engine, and fails here when the
# checkout has none
import corpus  # noqa: E402
import eventlog  # noqa: E402
import jobs  # noqa: E402
import probe  # noqa: E402
import procs  # noqa: E402
import tracing  # noqa: E402


def _launcher_env(run_dir: Path, eventlog_dir: Path | None) -> None:
    """Keep the files Spark and its Python workers write inside the
    checkout, and enable the event log for traced runs. Launcher settings
    only: the engine's session configuration is untouched."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # the engine's default driver heap is 8g; 2g holds these inputs and
    # keeps the benchmark small on a shared host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM the launch starts (spark-submit's launcher and the driver)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if eventlog_dir is not None:
        eventlog_dir.mkdir(parents=True)
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{eventlog_dir}",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _description(workload: str, n: int, traced: bool) -> str:
    return f"perfbench:{workload}:job{n}:{'traced' if traced else 'plain'}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    if args.workload not in jobs.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(jobs.WORKLOADS)}")
    w = jobs.WORKLOADS[args.workload]
    before = probe.host_label()
    k = min(4, before["nproc"])
    s = corpus.sample(ROOT, WORK / "cache", w.name, args.seed, w.n_pages,
                      w.scale, w.kinds)
    run_dir = WORK / "runs" / f"{w.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    _launcher_env(run_dir, run_dir / "eventlog" if args.trace else None)
    try:
        run = Run(args, w, s, k, run_dir)
        run.execute()
        label = run.label(before, probe.host_label())
        print("# perfbench " + json.dumps(label), flush=True)
        if run.tracer is not None:
            run.dump(label)
        print(json.dumps(run.result(label)), flush=True)
    finally:
        left = procs.stop_all()
        if left:
            print(f"# perfbench: signalled leftover pids {left}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


def _exit_on_sigterm(signum, frame):
    # through the `finally` blocks, which end the processes the run started
    sys.exit(128 + signum)


class Run:
    """One benchmark run: set-up, the timed loop, checks and, when traced,
    the layer measurements."""

    def __init__(self, args, w, s, k: int, run_dir: Path):
        self.args, self.w, self.s, self.k, self.run_dir = args, w, s, k, run_dir
        self.template = str(run_dir / "template")
        self.times: list[float] = []
        self.checks: list = []
        self.traced_jobs: list[bool] = []
        self.extract_ms: list[list[float]] = []
        self.layers: dict[str, float] = {}
        self.eventlog_jobs: list[dict[str, float]] = []
        self.last_root = ""
        self.tracer: tracing.Tracer | None = None
        self.setup_s = 0.0

    def execute(self) -> None:
        from horizon_ocr_python_spark.engine.session import build_session

        if self.args.trace:
            self.tracer = tracing.Tracer(f"{self.w.name}-{self.args.seed}")
            # build without the warmup, then time it on its own (session.warmup_s)
            os.environ["HSP_WARM_PYTHON"] = "0"
        with probe.RssSampler() as rss:
            t = time.perf_counter()
            spark = build_session(master=f"local[{self.k}]",
                                  shuffle_partitions=2 * self.k,
                                  app_name=f"perfbench-{self.w.name}")
            self.setup_s = time.perf_counter() - t
            try:
                spark.sparkContext.setLogLevel("ERROR")
                if self.tracer is not None:
                    warm = tracing.time_session_warmup(spark)
                    self.layers["session.warmup_s"] = warm
                    self.setup_s += warm
                self._loop(spark)
                self.layers["first_job_s"] = self.times[0]
                if self.tracer is not None:
                    self._spark_layers(spark)
            finally:
                try:
                    spark.stop()
                finally:
                    # the JVM and its workers end here, not after this process
                    left = procs.stop_all()
                    if left:
                        print(f"# perfbench: signalled pids {left}", file=sys.stderr)
        # varies by more than a tenth between runs, so it is a layer
        # metric, not an end-to-end one
        self.layers["process.peak_rss_mb"] = rss.peak_bytes / 2**20
        if self.tracer is not None:
            self._offline_layers()

    def _loop(self, spark) -> None:
        jobs.prepare_template(spark, self.w, self.s, self.template, self.k)
        n = 0
        while n < 1 + MIN_WARM_JOBS or sum(self.times) < self.args.seconds:
            root = str(self.run_dir / f"job{n}")
            jobs.fresh_root(self.template, root)
            # traced runs alternate span-wrapped and plain warm jobs, so the
            # tracing overhead is measured within one session
            traced = self.tracer is not None and n % 2 == 1
            spark.sparkContext.setJobDescription(_description(self.w.name, n, traced))
            spans = (self.tracer.engine_spans(f"job{n}") if traced
                     else contextlib.nullcontext())
            with spans:
                t = time.perf_counter()
                jobs.timed_job(spark, self.s, root, self.k)
                dt = time.perf_counter() - t
            spark.sparkContext.setJobDescription(None)
            self.times.append(dt)
            self.traced_jobs.append(traced)
            self.checks.append(jobs.check(spark, self.s, root))
            if self.tracer is not None:
                self.extract_ms.append(jobs.extract_ms(spark, root))
                self.last_root = root
            else:
                shutil.rmtree(root, ignore_errors=True)
            n += 1

    @property
    def job_s(self) -> float:
        return statistics.median(self.times[1:])

    def _spark_layers(self, spark) -> None:
        self.layers.update(jobs.checkpoint_layers(
            spark, self.w, self.s, self.template, self.last_root, self.k,
            self.job_s))

    def _offline_layers(self) -> None:
        """After the session stopped: the event log is complete, and the
        kernel replay has the host to itself."""
        import pyarrow.parquet as pq

        log = eventlog.read(self.run_dir / "eventlog")
        per_job = []
        for n in range(1, len(self.times)):
            d = eventlog.job_layers(
                log, _description(self.w.name, n, self.traced_jobs[n]), self.k)
            kernel_s = sum(self.extract_ms[n]) / 1e3
            d["extract.kernel_s"] = kernel_s
            d["extract.boundary_s"] = d["extract.python_s"] - kernel_s
            per_job.append(d)
        self.eventlog_jobs = per_job
        self.layers.update(tracing.median_layers(per_job))
        warm_ms = sorted(ms for job in self.extract_ms[1:] for ms in job)
        q = statistics.quantiles(warm_ms, n=100, method="inclusive")
        self.layers["extract.doc_ms_p50"] = q[49]
        self.layers["extract.doc_ms_p99"] = q[98]

        traced = [t for t, tr in zip(self.times[1:], self.traced_jobs[1:]) if tr]
        plain = [t for t, tr in zip(self.times[1:], self.traced_jobs[1:]) if not tr]
        self.layers["trace.job_overhead"] = (statistics.median(traced)
                                             / statistics.median(plain))

        idx = corpus.stratified(corpus.strata(self.s.kinds, self.s.sizes),
                                REPLAY_DOCS, random.Random(0))
        table = pq.read_table(self.s.path, columns=["url", "warc_ts", "html", "lang"])
        docs = table.take(idx).to_pylist()
        self.layers.update(tracing.replay_kernel(self.tracer, docs))

    def label(self, before: dict, after: dict) -> dict:
        checks = self.checks
        checked = sum(c.checked for c in checks)
        # pins are valid for the inputs they were recorded on; another
        # input key (a changed generator) reads as unpinned
        pins = json.loads((HERE / "pins.json").read_text())
        pin = (pins["digests"].get(self.w.name, {}).get(str(self.args.seed))
               if pins["input_key"] == self.s.key else None)
        last = checks[-1].digest
        return {
            "workload": self.w.name, "seed": self.args.seed,
            "trace": self.args.trace, "nproc": before["nproc"], "k": self.k,
            "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
            "outside_load": probe.under_load(before, after),
            "inputs": corpus.kind_counts(self.s), "input_key": self.s.key,
            "jobs": len(self.times),
            "job_times_s": [round(t, 4) for t in self.times],
            "error_rate": sum(c.errors for c in checks) / checked,
            "text_mismatch_rate": sum(c.mismatches for c in checks) / checked,
            "missing_or_duplicate_urls": sum(c.missing for c in checks),
            "digest": last,
            "digest_repeats": len({c.digest for c in checks}) == 1,
            "digest_pin": "unpinned" if pin is None else
                          ("match" if pin == last else "MISMATCH"),
        }

    def correct(self, label: dict) -> bool:
        ok = (label["error_rate"] == 0 and label["text_mismatch_rate"] == 0
              and label["missing_or_duplicate_urls"] == 0
              and label["digest_repeats"] and label["digest_pin"] != "MISMATCH")
        if self.tracer is not None:
            ok = ok and (self.layers["checkpoint.skip_ratio"]
                         == jobs.expected_skip_ratio(self.w, self.s))
        return ok

    def result(self, label: dict) -> dict:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        if self.tracer is None:
            values = {
                "setup_s": self.setup_s,
                "job_s": self.job_s,
                "docs_per_s": self.checks[-1].extracted / self.job_s,
            }
            wanted = spec["end_to_end"]
        else:
            values = self.layers
            wanted = spec["per_layer"]
        return {
            "correct": self.correct(label),
            "attempted": sum(c.checked for c in self.checks),
            "failed": sum(c.failed for c in self.checks),
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in wanted},
        }

    def dump(self, label: dict) -> None:
        """The traced run's record: spans, per-job event-log metrics,
        overheads and every layer value."""
        out = WORK / "traces" / f"{self.w.name}-{self.args.seed}-{os.getpid()}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps({
            "label": label,
            "job_times_s": self.times,
            "traced_jobs": self.traced_jobs,
            "layers": self.layers,
            "eventlog_jobs": self.eventlog_jobs,
            "unresolved_span_targets": self.tracer.unresolved,
            "spans": self.tracer.records(),
        }, indent=1))
        print(f"# perfbench trace written to {out.relative_to(ROOT)}", flush=True)


if __name__ == "__main__":
    sys.exit(main())
