"""Corpus pipeline: session, partitioning/skew policy, metrics, job.

The reference's parallelism model is one-file-one-process
(parse_natural_questions.py:57-64), which stalls when one file holds
giant docs, and its resume skips finished files.  Here the two jobs
are separate (north_rule: skew handled explicitly):

* lineage: ``bucket = pmod(xxhash64(doc_id), n_buckets)``
  (:func:`with_salt_bucket`, the one definition) — deterministic,
  recorded per commit in the icelite manifest, the unit resume
  prunes on; ``n_buckets`` defaults to ``BUCKETS_PER_CORE`` (2) ×
  parallelism and a table's first commit fixes it,
* placement: round-robin over ``n_buckets`` partitions
  (:func:`repartition_for_extraction`), which never reads ``bucket``
  and balances documents by count, not by size,
* Arrow batches are kept small (``maxRecordsPerBatch``) so a 2 MB doc
  doesn't blow the Python worker when 64 of them land in one batch,
* AQE stays on for post-agg stages.
"""

from __future__ import annotations

import glob
import os

import py4j
import pyspark
from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS = 256


def await_idle(
    threshold: float = 2.0,
    timeout_sec: float = 600.0,
    poll_sec: float = 10.0,
) -> dict:
    """Block until the 1-min load average falls below ``threshold``
    (bounded by ``timeout_sec``) and return a gate record for the
    benchmark artifact — the single implementation shared by bench.py
    and tools/scaling_bench.py so the two artifacts' gate records stay
    field-compatible.  ``status: "timeout_proceeded"`` means the box
    never got quiet: the numbers that follow are suspect by the
    artifact's own say-so."""
    import time

    t0 = time.monotonic()
    load = os.getloadavg()[0]
    while load >= threshold and time.monotonic() - t0 < timeout_sec:
        time.sleep(min(poll_sec, 1 + timeout_sec / 60))
        load = os.getloadavg()[0]
    return {
        "threshold": threshold,
        "waited_sec": round(time.monotonic() - t0, 1),
        "loadavg_at_timed_start": round(load, 2),
        "status": "idle" if load < threshold else "timeout_proceeded",
    }


def build_session(
    app_name: str = "mini-html-parser-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    iceberg_catalog: str | None = None,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    """The session factory of every entry point: tests, benchmarks,
    tools and the spark-submit jobs.

    An already-active session is returned unchanged: its SparkConf is
    fixed, and re-applying SQL confs would rewrite its owner's session.

    Engine settings: Arrow with ``ARROW_MAX_RECORDS`` per batch, AQE
    with skew join, ``shuffle_partitions`` and, on clusters that ship
    the runtime jar, :func:`iceberg_configs`.  Under spark-submit
    (only there is ``PYSPARK_GATEWAY_PORT`` set before the gateway
    starts) the settings it was given win, ``--master`` and every
    ``--conf`` included; the engine settings fill in the keys it left
    unset.  Otherwise this function picks the master (``master``, else
    ``local[$SPARK_GRAFT_CPUS]``, else one core per CPU), the driver
    memory (``SPARK_DRIVER_MEMORY``, default 8g), no UI and
    :func:`worker_daemon_module`'s Python worker daemon.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS),
    }
    if iceberg_catalog:
        confs.update(iceberg_configs(iceberg_catalog, iceberg_warehouse))
    builder = SparkSession.builder.appName(app_name)
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
        given = SparkConf()
        confs = {k: v for k, v in confs.items() if not given.contains(k)}
    else:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
        master = master or f"local[{cpus}]"
        builder = builder.master(master)
        confs["spark.driver.memory"] = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
        confs["spark.ui.enabled"] = "false"
        daemon = worker_daemon_module(master)
        if daemon:
            confs["spark.python.daemon.module"] = daemon
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_report(spark: SparkSession) -> dict:
    """What a session runs with, for job and bench reports: master,
    default parallelism, Arrow batch cap, shuffle partitions and the
    Python worker daemon module (None: Spark's own daemon)."""
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "arrow_max_records": int(
            spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        ),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "daemon": sc.getConf().get("spark.python.daemon.module", None),
    }


def worker_daemon_module(master: str) -> str | None:
    """``spark.python.daemon.module`` for ``master``:
    :mod:`mini_html_parser_spark.worker_daemon` (workers import pyspark
    and py4j from directories instead of Spark's archives), or None to
    keep Spark's own daemon.

    Only for a ``local``/``local[…]`` master, whose workers use the
    driver's interpreter, cwd and ``PYTHONPATH`` (on a cluster the
    ``--py-files`` reach ``sys.path`` only per task, after the daemon
    started), and only when the driver's pyspark and py4j — what an
    archive-free worker imports — are directory copies, the pyspark one
    of SPARK_HOME's Spark version, so a worker never runs another
    version than the JVM.
    """
    if master != "local" and not master.startswith("local["):
        return None
    if ".zip" in pyspark.__file__ or ".zip" in py4j.__file__:
        return None
    core_jar = f"spark-core_*-{pyspark.__version__}.jar"
    if not glob.glob(os.path.join(_find_spark_home(), "jars", core_jar)):
        return None
    return "mini_html_parser_spark.worker_daemon"


def iceberg_configs(catalog: str, warehouse: str | None = None) -> dict[str, str]:
    """The Spark confs that wire an Iceberg Hadoop catalog named
    ``catalog`` — applied by :func:`build_session`, or spelled as
    ``--conf`` pairs on spark-submit (see jobs/submit_extract.sh).
    The runtime jar comes from ``--packages
    org.apache.iceberg:iceberg-spark-runtime-<spark version>_<scala
    version>:<iceberg version>``; offline, with no jar, the seam is
    config-only and icelite (plans/icelite.py) provides the
    snapshot/resume semantics over plain parquet."""
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse or "warehouse",
    }


BUCKETS_PER_CORE = 2


def with_salt_bucket(
    df: DataFrame, n_buckets: int, key_col: str = "doc_id"
) -> DataFrame:
    """The lineage ``bucket`` column, ``pmod(xxhash64(key), n_buckets)``
    — the one bucket formula every writer uses (the HTML, PDF and WARC
    jobs, the streaming icelite sink and ``IceliteTable.compact``'s
    re-bucket, whose ``key_col`` it takes; every other writer keys on
    ``doc_id``).  A pure function of ``(doc_id, n_buckets)``, so
    resume can prune on committed bucket ids.  Placement never reads
    it."""
    return df.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int"),
    )


def repartition_for_extraction(
    df: DataFrame, parallelism: int | None, n_buckets: int | None = None
) -> DataFrame:
    """Lineage bucket plus physical placement ahead of the extraction
    UDF (reference B6).

    The rows get :func:`with_salt_bucket`'s ``bucket`` over
    ``n_buckets`` (default ``parallelism × BUCKETS_PER_CORE``) and are
    then placed ROUND-ROBIN over ``n_buckets`` partitions.  Placement
    does not read ``bucket``: resume prunes on the bucket VALUE, and
    round-robin balances documents by count, not by size (cost-aware
    placement of giants would go here, not into the label).  Measured
    fastest on the skewed corpus at local[32] (giant/small split
    union: 48 s — the two filter branches scan the source twice;
    byte-balanced scan partitions, no shuffle: 35 s; round-robin:
    22 s).  Task counts stay at a few × parallelism on
    purpose: a Python task costs ≈0.065 s of fixed overhead on
    ``local[4]`` with the archive-free worker daemon (a trivial
    ``mapInArrow`` over 16 vs 4 partitions), so thousands of
    near-empty partitions would dominate wall-clock.
    """
    n_buckets = n_buckets or parallelism * BUCKETS_PER_CORE
    return with_salt_bucket(df, n_buckets).repartition(n_buckets)


def observed_extraction(extracted: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach extraction metrics (north_rule: docs parsed, spans
    emitted, malformed fallbacks) as a zero-cost Observation."""
    obs = Observation("extract_metrics")
    out = extracted.observe(
        obs,
        F.count(F.lit(1)).alias("docs_parsed"),
        F.sum("n_spans").alias("spans_emitted"),
        F.sum(F.col("malformed").cast("long")).alias("malformed_fallbacks"),
    )
    return out, obs


def resolve_layout(table, n_buckets: int) -> dict:
    """The bucket layout a commit to ``table`` records: the table's
    recorded layout verbatim (its ``n_buckets`` and the sticky
    ``rebucketed`` flag — see ``IceliteTable.requires_exact_resume``),
    or ``{"n_buckets": n_buckets}`` for its first commit.  Bucket ids
    are a function of ``n_buckets``, so every later commit must reuse
    the first one's."""
    return table.partitioning() or {"n_buckets": n_buckets}


def run_pdf_extraction_job(
    spark: SparkSession,
    pdfs: DataFrame,
    output_path: str,
    parallelism: int | None = None,
    auto_compact_every: int | None = None,
    mode: str = "resume",
) -> dict:
    """PDF-corpus variant of :func:`run_extraction_job`: input is
    ``(doc_id, content binary)``, the extractor is
    :func:`~.operators.pdf.parse_pdf_interleaved`, and everything else
    — bucket salting, committed-bucket resume, per-bucket lineage,
    observed metrics, auto-compaction — is the same machinery.  Output rows carry the
    interleaved span contract, so downstream consumers are shared with
    the HTML path."""
    from .operators.pdf import parse_pdf_interleaved

    return _run_job(
        spark, pdfs, output_path,
        lambda pending: parse_pdf_interleaved(
            pending, passthrough_cols=["bucket"]
        ).withColumn("n_spans", F.size("spans")),
        parallelism, auto_compact_every, mode,
    )


def run_extraction_job(
    spark: SparkSession,
    documents: DataFrame,
    output_path: str,
    config: str = "boilerplate_strip",
    parallelism: int | None = None,
    auto_compact_every: int | None = None,
    mode: str = "resume",
) -> dict:
    """End-to-end corpus parse (reference §3.2) with icelite commit +
    resume: read → salt/repartition → extract UDF → write committed
    snapshot with per-bucket lineage; already-committed buckets are
    skipped (reference B8's skip-if-done, done relationally).
    ``auto_compact_every=N`` folds the table to one snapshot whenever
    the active snapshot count reaches N (long incremental jobs) —
    committed buckets and the recorded layout survive compaction, so
    resume semantics are unchanged (pytest-pinned).

    Resume stability: the bucket id is a pure function of
    ``(doc_id, n_buckets)``, so the FIRST commit's layout is recorded
    in the manifest and reused verbatim on resume — a resume on a
    different cluster size keeps the committed bucket ids meaningful.
    An explicitly requested layout that conflicts with the recorded
    one raises instead of silently re-bucketing.
    """
    from .operators.extract import extract_documents

    return _run_job(
        spark, documents, output_path,
        lambda pending: extract_documents(
            pending, config, passthrough_cols=["bucket"]
        ),
        parallelism, auto_compact_every, mode,
    )


def _run_job(
    spark: SparkSession,
    df: DataFrame,
    output_path: str,
    extract_stage,
    parallelism: int | None,
    auto_compact_every: int | None,
    mode: str,
) -> dict:
    """Shared job tail: layout resolve → salt → committed-bucket prune
    → extract_stage → observed metrics → icelite commit.  The HTML,
    WARC and PDF jobs are thin wrappers, so commit/resume/metrics
    semantics cannot drift between the paths.

    ``mode``: ``"resume"`` (default) prunes already-committed buckets
    — re-running the SAME corpus is a no-op (skip-if-done).
    ``"append"`` commits everything — for ingesting a NEW corpus
    (e.g. the next day's crawl) into an existing table, where the new
    docs legitimately land in committed bucket ids and bucket-level
    pruning would silently drop them (exposed by the daily-ingest
    integration test).

    Append idempotence contract: the manifest IS the commit point, so
    a FAILED append leaves nothing behind and re-running is clean;
    re-running a SUCCEEDED append appends the batch a second time —
    crash-safety is per-run, and cross-run idempotence for appends
    belongs to the caller (check the returned snapshot, or
    ``dedup_against`` the increment downstream)."""
    if mode not in ("resume", "append"):
        raise ValueError(f"mode must be 'resume' or 'append', got {mode!r}")
    from .plans.icelite import IceliteTable

    table = IceliteTable(output_path)
    layout = resolve_layout(
        table,
        BUCKETS_PER_CORE * (parallelism or spark.sparkContext.defaultParallelism),
    )
    n_buckets = int(layout["n_buckets"])
    if parallelism is not None and parallelism * BUCKETS_PER_CORE != n_buckets:
        raise ValueError(
            f"resume layout mismatch: table {output_path} was committed with "
            f"n_buckets={n_buckets}; requested parallelism={parallelism} × "
            f"{BUCKETS_PER_CORE} buckets per core = "
            f"{parallelism * BUCKETS_PER_CORE}. "
            "Omit `parallelism` to reuse the recorded layout."
        )
    salted = repartition_for_extraction(df, parallelism, n_buckets=n_buckets)
    # prune committed buckets (resume) or take everything (append)
    pending = table.filter_pending(salted) if mode == "resume" else salted
    observed, obs = observed_extraction(extract_stage(pending))
    snapshot = table.commit_append(
        observed,
        metrics_provider=lambda: {k: int(v) for k, v in obs.get.items()},
        partitioning=layout,
        auto_compact_every=auto_compact_every,
    )
    metrics = snapshot["metrics"] if snapshot is not None else {}
    return {"snapshot": snapshot, "metrics": metrics}


def warc_documents(warc_rows: DataFrame) -> DataFrame:
    """:func:`sources.warc.read_warc`'s rows → ``(doc_id, html)``
    (doc_id = target URI, one row per response record) — the adapter
    between the WARC reader and
    :func:`~.operators.extract.extract_html`."""
    rows = warc_rows.filter(F.col("url").isNotNull())
    return rows.select(F.col("url").alias("doc_id"), "html")


def run_warc_extraction_job(
    spark: SparkSession,
    warc_path: str,
    output_path: str,
    config: str = "boilerplate_strip",
    parallelism: int | None = None,
    auto_compact_every: int | None = None,
    mode: str = "resume",
) -> dict:
    """Crawl-in, spans-out: WARC segments through the full salted +
    icelite-resumable extraction job — :func:`warc_documents`' pages go
    straight to :func:`~.operators.extract.extract_html`, with no span
    array in between.  Same metrics/lineage contract as
    :func:`run_extraction_job`, PLUS ``warc_malformed_records`` —
    the source-level damage count (bad gzip members, truncated or
    garbage records) that would otherwise vanish in the adapter.
    The segments are parsed ONCE, inside the commit's write job: an
    Observation ahead of the adapter's null-url filter collects each
    file's ``(warc_file, file_malformed)`` pair.  AQE drops it when
    nothing is extracted (resume no-op, no parseable page); only then
    is the count a second scan of the segments."""
    from .operators.extract import extract_html
    from .sources.warc import read_warc

    damage = Observation("warc_damage")
    warc_rows = read_warc(spark, warc_path).observe(
        damage,
        F.collect_set(F.struct("warc_file", "file_malformed")).alias("files"),
    )
    result = _run_job(
        spark, warc_documents(warc_rows), output_path,
        lambda pending: extract_html(pending, config, passthrough_cols=["bucket"]),
        parallelism, auto_compact_every, mode,
    )
    if result["snapshot"] is not None:
        warc_malformed = sum(f["file_malformed"] for f in damage.get["files"])
    else:  # per-file count rides on every row of its file
        warc_malformed = (
            read_warc(spark, warc_path)
            .groupBy("warc_file")
            .agg(F.max("file_malformed").alias("m"))
            .agg(F.sum("m").alias("s"))
            .first()["s"]
        ) or 0
    result["warc_malformed_records"] = int(warc_malformed)
    return result
