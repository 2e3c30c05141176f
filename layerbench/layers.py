"""Per-layer metrics: names, units, and how each is derived.

Layers are named after the modules of ``mini_html_parser_spark``.  A
metric of a layer that a workload does not run reads 0 on that workload
(e.g. ``sources.warc.*`` on ``skewed_corpus``).
"""

from __future__ import annotations

import statistics

from .sparkmetrics import first_below, walk

END_TO_END = {
    "docs_per_s": "docs/s",
    "html_mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "pipeline.salt_shuffle_mb": "MB",
    "pipeline.salt_shuffle_write_s": "s",
    "pipeline.extract_task_skew": "ratio",
    "pipeline.extract_stage_run_s": "s",
    "pipeline.core_busy_share": "ratio",
    "pipeline.failed_tasks": "count",
    "sources.warc.python_s": "s",
    "sources.warc.data_sent_mb": "MB",
    "sources.warc.data_received_mb": "MB",
    "sources.warc.files_shuffle_mb": "MB",
    "operators.extract.python_total_s": "s",
    "operators.extract.python_boot_s": "s",
    "operators.extract.python_init_s": "s",
    "operators.extract.data_sent_mb": "MB",
    "operators.extract.data_received_mb": "MB",
    "operators.extract.stage_jvm_cpu_s": "s",
    "operators.extract.stage_gc_s": "s",
    "operators.extract.assemble_s": "s",
    "operators.extract.non_kernel_s": "s",
    "kernel.fast_scan.scan_s": "s",
    "kernel.fast_scan.mb_per_s": "MB/s",
    "kernel.fast_scan.useful_ratio": "ratio",
    "kernel.dom.build_s": "s",
    "kernel.extract.rewrite_linearize_s": "s",
    "kernel.extract.mb_per_s": "MB/s",
    "kernel.extract.max_doc_s": "s",
    "kernel.extract.top1pct_share": "ratio",
    "kernel.extract.spans": "count",
    "kernel.extract.malformed": "count",
    "plans.icelite.write_mb": "MB",
    "plans.icelite.files": "count",
    "plans.icelite.driver_tail_s": "s",
    "plans.icelite.read_mb": "MB",
    "operators.stats.python_s": "s",
    "operators.stats.shuffle_mb": "MB",
    "operators.stats.stage_cpu_s": "s",
    "extract_stage.kernel_share": "ratio",
    "extract_stage.assemble_share": "ratio",
    "extract_stage.python_other_share": "ratio",
    "extract_stage.jvm_cpu_share": "ratio",
    "extract_stage.unattributed_share": "ratio",
    "trace.overhead_share": "ratio",
}

_MB = 1e6


def _python_node(m: dict, prefix: str, node: dict, total_key: str) -> None:
    nm = node["m"]
    m[total_key] += nm.get("pythonTotalTime", 0.0)
    m[prefix + "data_sent_mb"] += nm.get("pythonDataSent", 0) / _MB
    m[prefix + "data_received_mb"] += nm.get("pythonDataReceived", 0) / _MB


def spark_layers(layers: set, trees: list, stages: list, wall_s: float,
                 t_return_ms: float, nproc: int, task_runs) -> dict:
    """Spark-side per-layer metrics of one traced run.  ``task_runs(stage)``
    returns the run time of each task of a stage."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    nodes = [n for t in trees for n in walk(t)]

    def of(cls):
        return [n for n in nodes if n["cls"] == cls]

    m["pipeline.core_busy_share"] = sum(s["run_s"] for s in stages) / (wall_s * nproc)
    m["pipeline.failed_tasks"] = sum(s["failed_tasks"] + (s["attempt"] > 0) for s in stages)

    if "operators.extract" in layers:
        for x in of("MapInArrowExec"):
            _python_node(m, "operators.extract.", x, "operators.extract.python_total_s")
            m["operators.extract.python_boot_s"] += x["m"].get("pythonBootTime", 0.0)
            m["operators.extract.python_init_s"] += x["m"].get("pythonInitTime", 0.0)
            salt = first_below(x, ("ShuffleExchangeExec",))
            if salt is None:
                continue
            written = salt["m"]["shuffleBytesWritten"]
            m["pipeline.salt_shuffle_mb"] += written / _MB
            m["pipeline.salt_shuffle_write_s"] += salt["m"]["shuffleWriteTime"]
            # the extraction stage is the one that reads the salt exchange
            stage = next((s for s in stages if s["shuffle_read_bytes"] == written), None)
            if stage is None:
                continue
            m["pipeline.extract_stage_run_s"] += stage["run_s"]
            m["operators.extract.stage_jvm_cpu_s"] += stage["cpu_s"]
            m["operators.extract.stage_gc_s"] += stage["gc_s"]
            runs = task_runs(stage)
            if runs:
                m["pipeline.extract_task_skew"] = max(runs) / statistics.median(runs)

    if "sources.warc" in layers:
        for x in of("MapInPandasExec"):
            _python_node(m, "sources.warc.", x, "sources.warc.python_s")
        # an exchange fed straight by the segment scan: the raw file rows
        for e in of("ShuffleExchangeExec"):
            below = first_below(e, ("ShuffleExchangeExec", "FileSourceScanExec",
                                    "MapInPandasExec", "MapInArrowExec"))
            if below is not None and below["name"] == "Scan binaryFile":
                m["sources.warc.files_shuffle_mb"] += e["m"]["shuffleBytesWritten"] / _MB

    if "operators.stats" in layers:
        for x in of("MapInPandasExec"):
            m["operators.stats.python_s"] += x["m"].get("pythonTotalTime", 0.0)
        m["operators.stats.shuffle_mb"] = sum(
            e["m"]["shuffleBytesWritten"] for e in of("ShuffleExchangeExec")) / _MB
        m["operators.stats.stage_cpu_s"] = sum(s["cpu_s"] for s in stages)

    if "plans.icelite" in layers:
        for w in of("DataWritingCommandExec"):
            m["plans.icelite.write_mb"] += w["m"].get("numOutputBytes", 0) / _MB
            m["plans.icelite.files"] += w["m"].get("numFiles", 0)
        m["plans.icelite.read_mb"] = sum(
            s["m"].get("filesSize", 0) for s in of("FileSourceScanExec")
            if s["name"] == "Scan parquet") / _MB
        if of("DataWritingCommandExec"):
            last = max((s["completed_ms"] or 0) for s in stages)
            m["plans.icelite.driver_tail_s"] = (t_return_ms - last) / 1e3
    return m


def attribution(m: dict, kernel: dict | None, nproc: int) -> dict:
    """Split the extraction stage's executor run time into kernel,
    assembly, other Python work, JVM CPU and the unattributed rest (all
    task-seconds), fill the derived per-layer metrics in ``m`` and return
    the split."""
    if kernel is None:
        return {}
    for k in PER_LAYER:
        if k in kernel:
            m[k] = kernel[k]
    run = m["pipeline.extract_stage_run_s"]
    if run <= 0:
        return {}
    py = m["operators.extract.python_total_s"]
    k_s, a_s = kernel["kernel.extract.s"], kernel["operators.extract.assemble_s"]
    jvm = m["operators.extract.stage_jvm_cpu_s"]
    split = {
        "kernel": k_s,
        "assemble": a_s,
        "python_other": py - k_s - a_s,
        "jvm_cpu": jvm,
        "unattributed": run - py - jvm,
    }
    for name, secs in split.items():
        m[f"extract_stage.{name}_share"] = secs / run
    m["operators.extract.non_kernel_s"] = (py - k_s) / nproc
    return {"extract_stage_run_s": run, "task_seconds": split,
            "shares": {n: s / run for n, s in split.items()}}
