"""Per-query timing harness (guide §1.4): noop-sink isolation of declared
queries, same session config as bench.py, host-state self-labeling
(VERDICT r5 ask: loadavg evidence next to every number).

Usage: python tools/qtime.py [--sf DIR] [--repeat N] name [name ...]
The session is build_session's default: local[$SPARK_GRAFT_CPUS] with 2x
shuffle partitions.
Prints one JSON line per query: {"name", "secs": [...], "min", "median",
"loadavg_before", "loadavg_after"}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    repeat = 3
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--repeat":
            repeat = int(args[i + 1]); i += 2
        else:
            names.append(args[i]); i += 1

    import __spark_entry__ as entry
    from horizon_ocr_python_spark.engine.session import build_session

    spark = build_session(app_name="qtime")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names:
        fn = qs[name]
        la0 = loadavg()
        secs = []
        for _ in range(repeat):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            secs.append(round(time.perf_counter() - t0, 3))
        print(json.dumps({"name": name, "secs": secs, "min": min(secs),
                          "median": statistics.median(secs),
                          "loadavg_before": la0,
                          "loadavg_after": loadavg()}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
