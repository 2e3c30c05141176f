"""Python workers import pyspark from a directory, not ``pyspark.zip``
(``mini_html_parser_spark.worker_daemon``), and only where
``pipeline.worker_daemon_module`` allows it."""

import os
import subprocess
import sys

import pyspark

from mini_html_parser_spark import pipeline

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULE = "mini_html_parser_spark.worker_daemon"


def test_workers_import_the_directory_copy(spark):
    def where(batches):
        import pyarrow as pa
        import pyspark

        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "file": [pyspark.__file__] * b.num_rows,
                "version": [pyspark.__version__] * b.num_rows,
            })

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == MODULE
    rows = spark.range(0, 8, 1, 4).mapInArrow(where, "file string, version string").collect()
    assert len(rows) == 8
    for r in rows:
        assert ".zip" not in r.file, r.file
        assert r.version == spark.version


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


def test_import_is_inert_and_imports_no_pyspark():
    # -I: no PYTHONPATH and no user site, so only the checkout is added
    code = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        f"import {MODULE}\n"
        "assert not [m for m in sys.modules if m.split('.')[0] == 'pyspark'], "
        "sorted(sys.modules)\n"
        "print('inert')\n"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", code], capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "inert"
