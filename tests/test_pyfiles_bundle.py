"""The ``--py-files`` bundle from tools/package_pyfiles.py is the only
copy of the engine a cluster's executors see: a module that does not
import from the zip alone fails there, not here.  No Spark session."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import package_pyfiles  # noqa: E402

MODULES = [
    "mini_html_parser_spark.pipeline",
    "mini_html_parser_spark.operators.extract",
    "mini_html_parser_spark.sources.warc",
    "mini_html_parser_spark.streaming.extract_stream",
    "mini_html_parser_spark.worker_daemon",
]


def test_bundle_imports_from_the_zip_alone(tmp_path):
    bundle = package_pyfiles.build(str(tmp_path / "engine.zip"))
    assert os.path.isfile(bundle)
    # -I: no PYTHONPATH, no user site, no script directory on sys.path,
    # so the zip is the only copy of the package the child can find
    code = (
        "import importlib, json, sys\n"
        f"sys.path.insert(0, {bundle!r})\n"
        f"mods = {MODULES!r}\n"
        "print(json.dumps({m: importlib.import_module(m).__file__ "
        "for m in mods}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", code],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    files = json.loads(out.stdout.strip().splitlines()[-1])
    assert sorted(files) == sorted(MODULES)
    for mod, path in files.items():
        assert path.startswith(bundle + os.sep), (mod, path)
