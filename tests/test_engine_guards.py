"""Engine guardrails: oversized-payload cap, the session's local-dir
choice and the worker daemon's import path."""

import ast
import os
import zipfile
from pathlib import Path

import pyspark
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from horizon_ocr_python_spark.engine import session
from horizon_ocr_python_spark.engine.extract import extract_stage
from horizon_ocr_python_spark.engine.partitioning import with_length_cap
from horizon_ocr_python_spark.engine.pydaemon import redundant_archives
from horizon_ocr_python_spark.engine.schema import PAGES_SCHEMA, map_rows


class TestLengthCap:
    def test_oversized_payload_truncated_not_dropped(self, spark):
        big = b"<html><body><p>" + b"x" * (1024 * 1024) + b"</p></body></html>"
        small = b"<html><body><p>small fine text</p></body></html>"
        df = spark.createDataFrame(
            [("u://big", None, big, "", "en"), ("u://small", None, small, "", "en")],
            PAGES_SCHEMA)
        capped = with_length_cap(df, max_bytes=1000)
        rows = {r.url: r for r in capped.collect()}
        assert len(rows["u://big"].html) == 1000
        assert len(rows["u://small"].html) == len(small)
        # the truncated row still flows through extraction as a row
        docs = extract_stage(capped).collect()
        assert {d.url for d in docs} == {"u://big", "u://small"}
        assert all(d.status in ("ok", "error") for d in docs)


class TestLocalDir:
    def test_spark_local_dirs_set_creates_nothing(self, monkeypatch):
        """With SPARK_LOCAL_DIRS set Spark ignores spark.local.dir, so the
        engine neither creates its tmpfs directory nor sets the config."""
        made = []
        monkeypatch.setattr(session.os, "makedirs",
                            lambda *a, **k: made.append(a))
        monkeypatch.setenv("SPARK_LOCAL_DIRS", "/elsewhere")
        assert session._local_dir() is None  # noqa: SLF001
        assert made == []

        monkeypatch.delenv("SPARK_LOCAL_DIRS")
        assert session._local_dir() is not None  # noqa: SLF001


def _zip(path, files: dict) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


class TestRedundantArchives:
    """The daemon's path rule on temp archives; `site` stands in for a
    site-packages directory."""

    @pytest.fixture()
    def site(self, tmp_path):
        pkg = tmp_path / "site" / "hsp_probe_pkg"
        pkg.mkdir(parents=True)
        (pkg / "__init__.py").write_text("")
        (pkg / "version.py").write_text('__version__ = "1.0"\n')
        return str(tmp_path / "site")

    def test_archive_without_python_dropped(self, tmp_path, site):
        jar = _zip(tmp_path / "core.jar", {"META-INF/MANIFEST.MF": "x",
                                           "org/a/B.class": b"\xca\xfe"})
        assert redundant_archives([jar, site]) == [jar]

    def test_identical_version_elsewhere_dropped(self, tmp_path, site):
        z = _zip(tmp_path / "pkg.zip", {
            "hsp_probe_pkg/__init__.py": "",
            "hsp_probe_pkg/version.py": '__version__ = "1.0"\n'})
        assert redundant_archives([z, site]) == [z]

    def test_different_version_kept(self, tmp_path, site):
        z = _zip(tmp_path / "pkg.zip", {
            "hsp_probe_pkg/__init__.py": "",
            "hsp_probe_pkg/version.py": '__version__ = "2.0"\n'})
        assert redundant_archives([z, site]) == []

    def test_package_found_nowhere_else_kept(self, tmp_path, site):
        """Like the --py-files engine zip (tools/make_pyfiles.py)."""
        z = _zip(tmp_path / "engine.zip", {
            "hsp_only_here/__init__.py": "",
            "hsp_only_here/version.py": '__version__ = "1.0"\n'})
        assert redundant_archives([z, site, str(tmp_path / "missing")]) == []


class TestWorkerImportPath:
    def test_no_zipimporter_for_spark_archives(self, spark):
        """Workers fork from a daemon that dropped pyspark.zip, py4j and the
        spark-core jar from sys.path: no zipimporter stays cached for them,
        so the per-task importlib.invalidate_caches() re-reads no archive."""
        spark_zip = os.path.join(os.environ.get("SPARK_HOME", ""),
                                 "python", "lib", "pyspark.zip")
        if not os.path.isfile(spark_zip):
            pytest.skip("no $SPARK_HOME/python/lib/pyspark.zip")
        with zipfile.ZipFile(spark_zip) as zf, open(os.path.join(
                os.path.dirname(pyspark.__file__), "version.py"), "rb") as fh:
            if zf.read("pyspark/version.py") != fh.read():
                pytest.skip("pyspark.zip is a different release")

        def worker_imports(row):  # nested: pickled by value, not by module
            import sys
            import zipimport

            import pyspark as worker_pyspark

            zips = sorted(k for k, v in sys.path_importer_cache.items()
                          if isinstance(v, zipimport.zipimporter))
            yield {"i": row["i"], "zips": zips,
                   "pyspark": worker_pyspark.__file__}

        schema = T.StructType([
            T.StructField("i", T.LongType()),
            T.StructField("zips", T.ArrayType(T.StringType())),
            T.StructField("pyspark", T.StringType())])
        ids = spark.range(0, 4, 1, 4).toDF("i")
        rows = map_rows(ids, worker_imports, schema).collect()
        assert len(rows) == 4
        for r in rows:
            assert not [z for z in r.zips
                        if "pyspark.zip" in z or "py4j" in z or ".jar" in z]
            assert "pyspark.zip" not in r.pyspark


PANDAS_APIS = {"pandas_udf", "PandasUDFType", "mapInPandas", "applyInPandas",
               "applyInPandasWithState", "toPandas"}


def _pandas_uses(path: Path) -> set[str]:
    """`import pandas` statements and pandas-backed Spark APIs in a file."""
    uses = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            uses |= {f"import {a.name}" for a in node.names
                     if a.name.split(".")[0] == "pandas"}
        elif isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[0] == "pandas":
                uses.add(f"from {node.module}")
        elif isinstance(node, ast.Attribute) and node.attr in PANDAS_APIS:
            uses.add(node.attr)
        elif isinstance(node, ast.Name) and node.id in PANDAS_APIS:
            uses.add(node.id)
    return uses


class TestNoPandas:
    def test_python_stages_cross_through_arrow_only(self):
        """Operators, engine and sources reach Python through Arrow only
        (`schema.map_rows`, `F.arrow_udf`). The worker daemon's preimport
        loads pandas for PySpark's own worker, and the stateful stream
        keeps applyInPandasWithState, the arbitrary-state API that does
        not need the RocksDB-only transformWithState."""
        package = Path(__file__).resolve().parents[1] / \
            "horizon_ocr_python_spark"
        users = {str(p.relative_to(package)): u
                 for p in sorted(package.rglob("*.py"))
                 if (u := _pandas_uses(p))}
        assert users == {
            "engine/pydaemon.py": {"import pandas"},
            "streaming/stateful.py": {"import pandas",
                                      "applyInPandasWithState"},
        }
