"""Dump .explain("formatted") for declared queries to files.

Usage: python tools/qplan.py OUTDIR SUFFIX [--sf DIR] name [name ...]
Writes OUTDIR/<name>_<SUFFIX>.txt for each query. The session is
build_session's default (local[$SPARK_GRAFT_CPUS]).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    args = sys.argv[3:]
    sf_dir = "/root/testdata/sf0.1"
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entry
    from horizon_ocr_python_spark.engine.session import build_session

    spark = build_session(app_name="qplan")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({plan.count('Exchange')} Exchange refs)",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
