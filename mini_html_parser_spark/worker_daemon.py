"""Spark's Python worker daemon, with no archive importer left.

Spark prepends three archives to a worker's ``sys.path``
(``PythonUtils.sparkPythonPath``): ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*-src.zip`` and the spark-core jar, which holds no ``.py`` file.
Interpreter start-up caches a zipimporter for each (and for their
``py4j``/``org`` sub-directories) in ``sys.path_importer_cache``, and
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task, which makes each cached
zipimporter re-read its archive's directory: ≈12k entries a task, most
of them the jar's.  Spark starts this module with ``python -m`` as
``spark.python.daemon.module`` (``pipeline.worker_daemon_module`` decides
when): before pyspark is first imported it drops those archives from
``sys.path`` — by name, never every ``.zip``, since an interpreter may
keep its stdlib in ``pythonXY.zip`` — and clears the importer cache, so
the finders of the paths that remain are rebuilt lazily and the workers
it forks import the installed pyspark and py4j.  Nothing may import
pyspark or py4j before that edit.
"""

import fnmatch
import os
import sys

SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")


def is_spark_archive(path: str) -> bool:
    name = os.path.basename(path)
    return any(fnmatch.fnmatchcase(name, pattern) for pattern in SPARK_ARCHIVES)


if __name__ == "__main__":
    sys.path[:] = [p for p in sys.path if not is_spark_archive(p)]
    sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()
