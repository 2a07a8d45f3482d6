"""Custom PySpark worker daemon: pyspark.daemon with a cleaned import path
and kernel preimports.

PySpark spawns ONE daemon process per executor (`python -m
spark.python.daemon.module`) and forks a worker per task from it. Modules
imported by the daemon BEFORE the fork are inherited by every worker via
copy-on-write, so the heavy imports (numpy, pandas, pyarrow, the extraction
kernel) are paid once per machine instead of once per worker — measured on
the bench box: the first Python-stage job over 32 fresh workers drops ~5 s
of wall (32 concurrent cold imports) to ~the cost of one.

Before importing anything, the daemon drops redundant archives from
`sys.path` and purges their `sys.path_importer_cache` entries; every
worker inherits the cleaned path. An archive is redundant when it carries
no Python module at all, or when every top-level package it carries is
found on the rest of the path with an identical `<pkg>/version.py`. Any
other archive stays (e.g. a `--py-files` zip, whose package exists nowhere
else), and so does every entry the rule cannot read. Without a
pip-installed pyspark on the executors, `pyspark.zip` and the py4j zip stay;
only Python-free archives such as the spark-core jar go.

Why: Spark puts `$SPARK_HOME/python/lib/pyspark.zip` (1,328 entries), the
py4j source zip and the spark-core jar (`SparkContext.jarOfObject`, 5,359
entries, no Python) first on the worker path. A daemon that imports
pyspark from the zip leaves 16 `zipimporter`s cached (one per pyspark
subpackage, plus the jar's), and PySpark's worker calls
`importlib.invalidate_caches()` once per task
(`pyspark/worker_util.py::setup_spark_files`). On CPython 3.11 that makes
every cached zipimporter re-read its whole archive directory in pure
Python: 10.9 ms per read of pyspark.zip, 45.8 ms per read of the jar,
148–281 ms per call inside a Spark task (4-core host, Spark 4.1.2). With
the path cleaned, no zipimporter remains, the call takes ~0.1 ms, and
pyspark imports from site-packages. Dropping pyspark.zip alone is not
enough: the jar's, py4j's and runpy's stale pyspark.zip importers keep the
call at 70–110 ms.

Import failures are swallowed: a worker that later needs a dep it cannot
import will fail with the normal, diagnosable ImportError; the daemon
itself must never die on preimport (guide §4.5 — heavyweight init once per
task, here hoisted once per host).
"""

import importlib.machinery
import os
import sys
import zipfile


def redundant_archives(path: list[str]) -> list[str]:
    """Archive entries on `path` that add nothing importable (the rule in
    the module docstring), in path order. Entries that are not readable
    archives, or that the rule fails on, are kept."""
    drop: list[str] = []
    for entry in path:
        try:
            if not zipfile.is_zipfile(entry):
                continue
            with zipfile.ZipFile(entry) as zf:
                py = [n for n in zf.namelist() if n.endswith((".py", ".pyc"))]
                if any("/" not in n for n in py):
                    continue  # a top-level module has no version.py to compare
                rest = [p for p in path if p != entry and p not in drop]
                if all(_same_package_on(rest, top, zf)
                       for top in {n.split("/")[0] for n in py}):
                    drop.append(entry)
        except (OSError, KeyError, ValueError, ImportError, RuntimeError,
                zipfile.BadZipFile):
            continue
    return drop


def _same_package_on(path: list[str], top: str, zf: zipfile.ZipFile) -> bool:
    """True when `path` imports package `top` from a directory whose
    version.py has the same bytes as the archive's."""
    spec = importlib.machinery.PathFinder.find_spec(top, path)
    if spec is None or not spec.submodule_search_locations:
        return False
    location = list(spec.submodule_search_locations)[0]
    with open(os.path.join(location, "version.py"), "rb") as fh:
        return fh.read() == zf.read(f"{top}/version.py")


if __name__ == "__main__":  # pragma: no cover - spark-spawned daemons only
    try:  # before any import that could load from a dropped archive
        _drop = redundant_archives(sys.path)
        sys.path[:] = [p for p in sys.path if p not in _drop]
        for _key in list(sys.path_importer_cache):
            if any(_key == a or _key.startswith(a + os.sep) for a in _drop):
                del sys.path_importer_cache[_key]
    except Exception:  # noqa: BLE001
        pass

try:  # pragma: no cover
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.parquet  # noqa: F401  (the commit tasks' writer)
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
    # dispatch caches, compiled regexes (the HTML scanner's token
    # patterns among them) and the glyph templates are all resident
    # before the fork
    from horizon_ocr_python_spark.kernel.document import extract_document

    extract_document("warm://d.html",
                     b"<html><title>w</title><p>warm page</p></html>")
except Exception:  # noqa: BLE001
    pass

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
