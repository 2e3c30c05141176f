"""One benchmark run: set-up, timed closed loop, output checks, trace.

A run starts one Spark session on ``local[nproc]``, prepares the
workload's inputs and reference ``SETUP_REPS`` times (set-up time counts
the median), warms the engine up with a few jobs on a plan of another
size, waits for the box to be idle, then runs the workload's job back to
back, one job at a time, checking every run's output.  It makes the
workload's fixed number of timed runs, more only if the requested
seconds have not passed: the engine is still warming up while it is
measured (run times fall run after run), so a median over a count that
varied with the box's speed would move with it.  Times are taken with
:class:`Stopwatch`, which leaves out the time the hypervisor of a shared
host took from the run.  With ``trace`` the loop's runs are traced and
untraced in turn: a traced run captures the queries it executes and
reads Spark's metrics after it returns, the untraced ones measure what
tracing costs.  A single-process pass of the scalar kernel over the
workload's documents follows the loop.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shlex
import shutil
import statistics
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager

from . import layers as L
from .stamp import make_stamp
from .workloads import SIZES, WORKLOADS, Context

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "layerbench", "work")

DRIVER_MEMORY = "1g"  # of 15 GB on the reference box, shared with other tenants
SETUP_REPS = 3
IDLE_TIMEOUT_S = 5.0  # the load left by set-up is this process's own
RSS_INTERVAL_S = 0.5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def stolen_ticks() -> list[int]:
    """Ticks each CPU of the box had a task ready to run but the
    hypervisor ran another guest instead ("steal"), so far, from
    /proc/stat."""
    with open("/proc/stat") as f:
        return [int(line.split()[8]) for line in f
                if line.startswith("cpu") and line[3].isdigit()]


class Stopwatch:
    """Times a block: ``s`` wall seconds, ``stolen_cpu_s`` the seconds the
    hypervisor gave each CPU of the box to other guests meanwhile
    ("steal"), and ``unstolen_s`` the wall time less the most stolen from
    any one CPU.  A shared host's steal varies from minute to minute, and
    one CPU's stolen time delays every stage that waits for its task, so
    the block took at least that much longer than on a host of its own.
    It is a lower bound: on a 4-vCPU guest, runs that lost 0.1-0.2 s per
    CPU were 0.3-0.6 s slower than the same runs without steal, since the
    other guests also compete for caches and memory bandwidth, which no
    counter shows."""

    TICK_S = 1 / os.sysconf("SC_CLK_TCK")

    def __enter__(self):
        self._ticks = stolen_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self._t0
        self.stolen_cpu_s = [(b - a) * self.TICK_S
                             for a, b in zip(self._ticks, stolen_ticks())]
        self.unstolen_s = max(0.0, self.s - max(self.stolen_cpu_s))


class Tracer:
    """In-memory spans ``{id, name, parent, start, end, ...}`` (seconds
    since the tracer started), written into the artifact at the end."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0


def tree_pss_bytes(root_pid: int) -> dict[str, int]:
    """Proportional resident bytes (pages shared between processes, as
    between forked Python workers, split among them) of the descendants of
    ``root_pid`` — the driver JVM and its Python workers — by command
    name, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(entry))
    by_comm: dict[str, int] = {}
    todo = list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
        by_comm[comm] = by_comm.get(comm, 0) + pss * 1024
    return by_comm


class RssSampler:
    """Peak of :func:`tree_pss_bytes`, sampled on a thread while a
    :meth:`measuring` block runs (the timed jobs, not their checks)."""

    def __init__(self):
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            if not self._on.wait(RSS_INTERVAL_S):
                continue
            by_comm = tree_pss_bytes(os.getpid())
            if sum(by_comm.values()) > self.peak:
                self.peak, self.at_peak = sum(by_comm.values()), by_comm
            self._stop.wait(RSS_INTERVAL_S)

    @contextmanager
    def measuring(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let the workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # the whole heap resident from the start: without it the JVM's
        # resident size follows G1's heap sizing, which put the same
        # workload anywhere between 1.06 and 1.43 GB of JVM PSS from one
        # invocation to the next
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "pyspark-shell",
    ])


def _stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit (a later session in
    this process starts a new one)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def _median(values):
    return statistics.median(values) if values else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: str = "full") -> tuple[dict, dict]:
    """Run one workload; return ``(result line, artifact)``."""
    sizes = SIZES[scale]
    n = nproc()
    work = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    tracer = Tracer()
    wl = WORKLOADS[workload]()
    artifact = {
        "stamp": make_stamp(ROOT, workload, seed, sizes, n, seconds, DRIVER_MEMORY),
        "trace": trace,
        "started_at": time.time(),
    }
    # forked before any thread or the JVM exists; unlike "spawn", "fork"
    # starts no resource-tracker process that would outlive the run
    pool = multiprocessing.get_context("fork").Pool(n)
    spark = None
    try:
        from mini_html_parser_spark.pipeline import await_idle, build_session

        with tracer.span("setup.session"), Stopwatch() as session:
            spark = build_session(app_name="layerbench", master=f"local[{n}]",
                                  shuffle_partitions=n)
            spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, n, seed, sizes, work, pool, tracer)
        reps = []
        for r in range(SETUP_REPS):
            with tracer.span("setup.prepare", rep=r), Stopwatch() as prep:
                wl.prepare(ctx)
            reps.append(prep)
        pool.close()
        pool.join()
        with tracer.span("setup.warmup"), Stopwatch() as warm:
            wl.warm_up(ctx)
        artifact["setup"] = {
            "session_s": session.s, "prepare_s": [p.s for p in reps], "warmup_s": warm.s,
            "stolen_cpu_s": [w.stolen_cpu_s for w in (session, *reps, warm)],
        }

        capture = None
        if trace:
            from .sparkmetrics import capture_queries

            capture = capture_queries(spark)
        artifact["idle_gate"] = await_idle(float(n), IDLE_TIMEOUT_S, 2.0)
        runs = _timed_loop(ctx, wl, seconds, tracer, capture)
        artifact["runs"] = runs["runs"]
        artifact["peak_rss_by_command"] = runs["peak_rss_by_command"]
        good = [r for r in runs["runs"] if r["error"] is None]
        plain = [r for r in good if not r["traced"]]
        docs, html_mb = wl.ref.docs, wl.ref.html_bytes / 1e6
        e2e = {
            "docs_per_s": _median([docs / r["unstolen_s"] for r in plain]),
            "html_mb_per_s": _median([html_mb / r["unstolen_s"] for r in plain]),
            "peak_rss_mb": runs["peak_rss"] / 1e6,
            "setup_s": (session.unstolen_s + statistics.median(p.unstolen_s for p in reps)
                        + warm.unstolen_s),
        }
        artifact["end_to_end"] = e2e
        # the same figures from wall time, steal included
        artifact["end_to_end_wall"] = {
            "docs_per_s": _median([docs / r["s"] for r in plain]),
            "html_mb_per_s": _median([html_mb / r["s"] for r in plain]),
            "setup_s": session.s + statistics.median(p.s for p in reps) + warm.s,
        }
        artifact["inputs"] = {"docs": docs, "html_mb": html_mb}
        if trace:
            metrics = _trace_metrics(ctx, wl, good, tracer, artifact)
            units = L.PER_LAYER
        else:
            metrics, units = e2e, L.END_TO_END
    finally:
        if spark is not None:
            _stop_session(spark)
        pool.terminate()
        pool.join()
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(r["error"] is not None for r in artifact["runs"])
    line = {
        "correct": failed == 0,
        "attempted": len(artifact["runs"]),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    artifact["result"] = line
    artifact["spans"] = tracer.spans
    return line, artifact


def _traced(i: int) -> bool:
    """Whether timed run ``i`` of a traced invocation captures metrics:
    traced and untraced runs alternate in the order T U U T, so that
    neither kind runs earlier on average while the engine still warms up."""
    return i % 4 in (0, 3)


def _timed_loop(ctx, wl, seconds, tracer, capture) -> dict:
    from .sparkmetrics import drain_listeners, job_stages, plan_tree

    sc = ctx.spark.sparkContext
    runs = []
    want = wl.timed_runs
    t_start = time.perf_counter()
    with RssSampler() as rss:
        while len(runs) < want or time.perf_counter() - t_start < seconds:
            i = len(runs)
            traced = capture is not None and _traced(i)
            group = f"layerbench-run-{i}"
            sc.setJobGroup(group, f"timed run {i}")
            if traced:
                capture.executions.clear()
                capture.attach()
            error = out = None
            with tracer.span("run", i=i, traced=traced), rss.measuring(), Stopwatch() as sw:
                try:
                    out = wl.run_once(ctx, i)
                except Exception:
                    error = traceback.format_exc(limit=3)
                t_return_ms = time.time() * 1e3
            rec = {"i": i, "s": sw.s, "unstolen_s": sw.unstolen_s,
                   "stolen_cpu_s": sw.stolen_cpu_s, "traced": traced, "error": error}
            if traced:
                with tracer.span("trace.readback", i=i):
                    t0 = time.perf_counter()
                    drain_listeners(ctx.spark)
                    capture.detach()
                    if error is None:
                        seen: set = set()
                        rec["trees"] = [t for qe in capture.executions
                                        if (t := plan_tree(qe.executedPlan(), seen))]
                        rec["stages"] = job_stages(ctx.spark, group)
                        rec["t_return_ms"] = t_return_ms
                    rec["readback_s"] = time.perf_counter() - t0
            sc.setJobGroup(f"layerbench-verify-{i}", f"output check {i}")
            if error is None:
                with tracer.span("verify", i=i):
                    try:
                        rec["error"] = wl.verify(ctx, out)
                    except Exception:
                        rec["error"] = traceback.format_exc(limit=3)
            runs.append(rec)
    return {"runs": runs, "peak_rss": rss.peak, "peak_rss_by_command": rss.at_peak}


def _trace_metrics(ctx, wl, good, tracer, artifact) -> dict:
    from .kerneltrace import kernel_pass
    from .reference import CONFIG
    from .sparkmetrics import task_run_seconds

    traced = [r for r in good if r["traced"]]
    plain = [r for r in good if not r["traced"]]
    if not traced or not plain:
        return dict.fromkeys(L.PER_LAYER, 0.0)
    per_run = []
    for r in traced:
        per_run.append(L.spark_layers(
            wl.layers, r.pop("trees"), r["stages"], r["s"], r.pop("t_return_ms"),
            ctx.nproc, lambda stage: task_run_seconds(ctx.spark, stage)))
    m = {k: _median([p[k] for p in per_run]) for k in L.PER_LAYER}
    # wall time of a traced run (job with the listener, then the metric
    # read-back) over that of an untraced run of the same invocation, - 1
    m["trace.overhead_share"] = (_median([r["s"] + r["readback_s"] for r in traced])
                                 / _median([r["s"] for r in plain]) - 1)
    kernel = None
    docs = wl.kernel_docs()
    if docs is not None:
        with tracer.span("trace.kernel_pass"):
            kernel = kernel_pass(docs, CONFIG)
        artifact["slowest_docs"] = kernel.pop("slowest")
        artifact["kernel_s"] = kernel["kernel.extract.s"]
    artifact["extract_stage_split"] = L.attribution(m, kernel, ctx.nproc)
    artifact["per_run_layers"] = per_run
    return m


def write_artifact(artifact: dict) -> str:
    out_dir = os.path.join(WORK, "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    s = artifact["stamp"]
    name = (f"{s['workload']}-seed{s['seed']}-trace{int(artifact['trace'])}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    path = os.path.join(out_dir, name)
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    return path
