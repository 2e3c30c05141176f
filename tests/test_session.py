"""``pipeline.build_session`` is the one session factory: a second call
returns the active session unchanged, and under spark-submit the
settings spark-submit was given win while the engine settings fill in
the rest — for a probe and for ``jobs/extract_job.py`` alike."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from mini_html_parser_spark.pipeline import (
    ARROW_MAX_RECORDS, DEFAULT_SHUFFLE_PARTITIONS, build_session,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json
from mini_html_parser_spark.pipeline import build_session

spark = build_session(master="local[3]")
sc = spark.sparkContext
print(json.dumps({
    "master": sc.master,
    "arrow_max_records": spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "skew_join": spark.conf.get("spark.sql.adaptive.skewJoin.enabled"),
    "daemon": sc.getConf().get("spark.python.daemon.module"),
}))
spark.stop()
"""


def test_a_second_call_returns_the_active_session_unchanged(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before == "8"
    assert build_session(app_name="other", shuffle_partitions=32) is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


@pytest.fixture(scope="module")
def spark_submit():
    path = os.path.join(_find_spark_home(), "bin", "spark-submit")
    if not os.path.exists(path):
        pytest.skip(f"spark-submit not found at {path}")
    return path


def _submit(spark_submit, *args):
    """Run ``spark-submit --master local[2] <args>`` from the repository
    root and return the last line it printed on stdout."""
    env = dict(os.environ, PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]", *args],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout.strip().splitlines()[-1]


def test_spark_submit_settings_win_and_engine_settings_fill_in(
    spark_submit, tmp_path
):
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    got = json.loads(_submit(
        spark_submit, "--conf", "spark.sql.adaptive.skewJoin.enabled=false",
        str(probe),
    ))
    assert got == {
        "master": "local[2]",  # spark-submit's, not the caller's local[3]
        "arrow_max_records": str(ARROW_MAX_RECORDS),
        "shuffle_partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        "skew_join": "false",  # spark-submit's --conf
        # the driver imports pyspark from pyspark.zip under spark-submit
        "daemon": None,
    }


def test_extract_job_under_spark_submit(spark, spark_submit, tmp_path):
    from mini_html_parser_spark.datagen import generate_documents
    from mini_html_parser_spark.plans.icelite import IceliteTable

    src = str(tmp_path / "docs")
    out = str(tmp_path / "table")
    generate_documents(spark, 12, partitions=2).write.parquet(src)
    report = json.loads(_submit(
        spark_submit, "jobs/extract_job.py", "--input", src, "--output", out,
    ))
    assert report["mode"] == "batch"
    assert report["committed_rows"] == 12
    assert report["session"] == {
        "master": "local[2]",
        "default_parallelism": 2,
        "arrow_max_records": ARROW_MAX_RECORDS,
        "shuffle_partitions": DEFAULT_SHUFFLE_PARTITIONS,
        # the driver imports pyspark from pyspark.zip under spark-submit,
        # so the job runs Spark's own worker daemon
        "daemon": None,
    }
    assert IceliteTable(out).read(spark).count() == 12
