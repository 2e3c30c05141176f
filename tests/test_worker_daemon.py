"""Python workers import pyspark and py4j from directories and keep no
archive importer (``mini_html_parser_spark.worker_daemon``), and only
where ``pipeline.worker_daemon_module`` allows it."""

import fnmatch
import os
import subprocess
import sys

import py4j
import pyspark

from mini_html_parser_spark import pipeline
from mini_html_parser_spark.worker_daemon import is_spark_archive

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULE = "mini_html_parser_spark.worker_daemon"


def test_workers_import_the_directory_copy(spark):
    def where(batches):
        import sys
        import zipimport

        import py4j
        import pyarrow as pa
        import pyspark

        zipimporters = sorted(
            p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
        )
        archives = sorted(p for p in sys.path if p.endswith((".zip", ".jar")))
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "file": [pyspark.__file__] * b.num_rows,
                "version": [pyspark.__version__] * b.num_rows,
                "py4j_file": [py4j.__file__] * b.num_rows,
                "zipimporters": [zipimporters] * b.num_rows,
                "archives": [archives] * b.num_rows,
            })

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == MODULE
    schema = ("file string, version string, py4j_file string, "
              "zipimporters array<string>, archives array<string>")
    rows = spark.range(0, 8, 1, 4).mapInArrow(where, schema).collect()
    assert len(rows) == 8
    for r in rows:
        assert ".zip" not in r.file, r.file
        assert r.version == spark.version
        assert r.zipimporters == [], r.zipimporters
        # the stdlib's pythonXY.zip may stay; no Spark archive does
        spark_archives = [
            p for p in r.archives
            if any(fnmatch.fnmatch(os.path.basename(p), pattern)
                   for pattern in ("pyspark.zip", "py4j-*-src.zip", "*.jar"))
        ]
        assert spark_archives == [], r.archives
        assert ".zip" not in r.py4j_file, r.py4j_file


def test_spark_archives_are_named_not_every_zip():
    for path in (
        "/spark/python/lib/pyspark.zip",
        "/spark/python/lib/py4j-0.10.9.9-src.zip",
        "/spark/jars/spark-core_2.13-4.1.2.jar",
    ):
        assert is_spark_archive(path), path
    for path in (
        "/usr/lib/python311.zip",
        "/spark/python/lib",
        "/job/engine.zip",
        "/usr/lib/python3.11/site-packages",
    ):
        assert not is_spark_archive(path), path


def _spark_home(tmp_path, monkeypatch, version):
    jars = tmp_path / "jars"
    jars.mkdir(exist_ok=True)
    (jars / f"spark-core_2.13-{version}.jar").write_bytes(b"")
    monkeypatch.setenv("SPARK_HOME", str(tmp_path))


def test_gate_needs_a_local_master(tmp_path, monkeypatch):
    _spark_home(tmp_path, monkeypatch, pyspark.__version__)
    assert pipeline.worker_daemon_module("local[4]") == MODULE
    assert pipeline.worker_daemon_module("local") == MODULE
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert pipeline.worker_daemon_module(master) is None, master


def test_gate_needs_the_driver_pyspark_version(tmp_path, monkeypatch):
    _spark_home(tmp_path, monkeypatch, "0.0.1")
    assert pipeline.worker_daemon_module("local[4]") is None
    _spark_home(tmp_path, monkeypatch, pyspark.__version__)
    assert pipeline.worker_daemon_module("local[4]") == MODULE


def test_gate_refuses_a_zipped_driver_pyspark(tmp_path, monkeypatch):
    _spark_home(tmp_path, monkeypatch, pyspark.__version__)
    monkeypatch.setattr(pyspark, "__file__", "/spark/python/lib/pyspark.zip/pyspark/__init__.py")
    assert pipeline.worker_daemon_module("local[4]") is None


def test_gate_refuses_a_zipped_driver_py4j(tmp_path, monkeypatch):
    _spark_home(tmp_path, monkeypatch, pyspark.__version__)
    monkeypatch.setattr(
        py4j, "__file__", "/spark/python/lib/py4j-0.10.9.9-src.zip/py4j/__init__.py",
    )
    assert pipeline.worker_daemon_module("local[4]") is None


def test_import_is_inert_and_imports_no_pyspark():
    # -I: no PYTHONPATH and no user site, so only the checkout is added
    code = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        f"import {MODULE}\n"
        "assert not [m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')], "
        "sorted(sys.modules)\n"
        "print('inert')\n"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", code], capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "inert"
