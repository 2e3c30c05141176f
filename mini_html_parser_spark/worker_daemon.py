"""Spark's Python worker daemon, importing pyspark from a directory.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on a worker's
``sys.path``, and ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task, which makes each cached
zipimporter re-read the zip's directory.  Spark starts this module with
``python -m`` as ``spark.python.daemon.module``
(``pipeline.worker_daemon_module`` decides when): it drops the zip from
``sys.path`` before pyspark is first imported, so the workers it forks
import the installed copy.  Nothing may import pyspark before that edit.
"""

import sys

if __name__ == "__main__":
    sys.path[:] = [p for p in sys.path if not p.endswith("pyspark.zip")]
    from pyspark import daemon

    daemon.manager()
