"""Custom PySpark worker daemon: pyspark.daemon plus kernel preimports.

PySpark spawns ONE daemon process per executor (`python -m
spark.python.daemon.module`) and forks a worker per task from it. Modules
imported by the daemon BEFORE the fork are inherited by every worker via
copy-on-write, so the heavy imports (numpy, pandas, pyarrow, the extraction
kernel) are paid once per machine instead of once per worker — measured on
the bench box: the first Python-stage job over 32 fresh workers drops ~5 s
of wall (32 concurrent cold imports) to ~the cost of one.

Import failures are swallowed: a worker that later needs a dep it cannot
import will fail with the normal, diagnosable ImportError; the daemon
itself must never die on preimport (guide §4.5 — heavyweight init once per
task, here hoisted once per host).
"""

try:  # pragma: no cover - exercised only inside spark-spawned daemons
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
except Exception:  # noqa: BLE001
    pass

try:  # pragma: no cover
    from horizon_ocr_python_spark.kernel import document  # noqa: F401
    from horizon_ocr_python_spark.engine import extract  # noqa: F401
    from horizon_ocr_python_spark.kernel import jpeg as _jpeg

    _jpeg.warm_annex_k_luts()  # decode LUTs built once, shared COW
except Exception:  # noqa: BLE001
    pass


try:  # pragma: no cover
    # exercise the kernel once on a tiny synthetic page: numpy ufunc
    # dispatch caches, compiled regexes, html-parser tables and the glyph
    # templates are all resident before the fork
    from horizon_ocr_python_spark.kernel.document import extract_document

    extract_document("warm://d.html",
                     b"<html><title>w</title><p>warm page</p></html>")
except Exception:  # noqa: BLE001
    pass

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
