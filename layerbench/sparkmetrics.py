"""Spark's own SQL and stage metrics for the jobs of one timed run.

Read from outside the program, after the run's actions return:

* SQL metrics: every query the run executed is captured by a
  ``QueryExecutionListener`` (through the py4j callback server), and its
  final AQE plan is walked, stepping into ``*QueryStage.plan()`` and into
  the plan that built a cached relation.  A node reached twice (a cached
  plan read by two queries) is counted once.
* stage metrics: ``statusStore().lastStageAttempt`` for every stage of the
  jobs tagged with the run's job group.
"""

from __future__ import annotations

# metric type -> factor to base units (seconds, bytes, counts)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class QueryCapture:
    """Keeps the QueryExecution of every successful action, in order,
    while attached to the session's listener manager."""

    def __init__(self, spark):
        self.executions = []
        self._manager = spark._jsparkSession.listenerManager()
        self._java = None  # the py4j proxy the manager holds

    def attach(self) -> None:
        if self._java is None:
            self._manager.register(self)
            # listeners are kept in registration order
            self._java = list(self._manager.listListeners())[-1]
        else:
            self._manager.register(self._java)

    def detach(self) -> None:
        self._manager.unregister(self._java)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.executions.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    # java.lang.Object methods the JVM calls on the proxy (unregister
    # looks the listener up with equals)
    def equals(self, other):
        return other is self

    def hashCode(self):  # noqa: N802
        return id(self) & 0x7FFFFFFF

    def toString(self):  # noqa: N802
        return "layerbench.QueryCapture"

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def capture_queries(spark) -> QueryCapture:
    """A detached :class:`QueryCapture` with the callback server running."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    return QueryCapture(spark)


def drain_listeners(spark) -> None:
    """Wait until the listener bus has delivered every event so far (the
    status store and the query listener are both fed from it)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _children(p, cls: str) -> list:
    if cls == "AdaptiveSparkPlanExec":
        return [p.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [p.plan()]
    kids = []
    it = p.children().iterator()
    while it.hasNext():
        kids.append(it.next())
    if cls == "InMemoryTableScanExec":
        kids.append(p.relation().cachedPlan())
    return kids


def plan_tree(plan, seen: set) -> dict | None:
    """``{"cls", "name", "m": {metric: value in s/bytes/count}, "children"}``
    for a physical plan; ``None`` for a node whose metrics (accumulator
    ids, unique per node instance) are already in ``seen``."""
    metrics = {}
    ids = set()
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        ids.add(m.id())
        metrics[kv._1()] = m.value() * _SCALE.get(m.metricType(), 1)
    if ids & seen:
        return None
    seen |= ids
    cls = plan.getClass().getSimpleName()
    children = [t for c in _children(plan, cls) if (t := plan_tree(c, seen)) is not None]
    return {"cls": cls, "name": plan.nodeName().strip(), "m": metrics, "children": children}


def walk(tree: dict):
    yield tree
    for c in tree["children"]:
        yield from walk(c)


def first_below(tree: dict, classes: tuple) -> dict | None:
    """The first descendant (depth first) whose class is in ``classes``."""
    for c in tree["children"]:
        for n in walk(c):
            if n["cls"] in classes:
                return n
    return None


def job_stages(spark, group: str) -> list[dict]:
    """Stage records of every stage that ran for the jobs of ``group``."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stages = {}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        for sid in info.stageIds if info is not None else ():
            if sid in stages:
                continue
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never submitted
            status = sd.status().toString()
            if status == "SKIPPED":
                continue
            done = sd.completionTime()
            stages[sid] = {
                "stage_id": sid,
                "attempt": sd.attemptId(),
                "status": status,
                "tasks": sd.numTasks(),
                "failed_tasks": sd.numFailedTasks() + sd.numKilledTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "input_bytes": sd.inputBytes(),
                "output_bytes": sd.outputBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "completed_ms": done.get().getTime() if done.isDefined() else None,
            }
    return sorted(stages.values(), key=lambda s: s["stage_id"])


def task_run_seconds(spark, stage: dict) -> list[float]:
    """Executor run time of each successful task of one stage attempt."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    seq = store.taskList(stage["stage_id"], stage["attempt"], stage["tasks"] + 64)
    tasks = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
    out = []
    for t in tasks:
        metrics = t.taskMetrics()
        if t.status() == "SUCCESS" and metrics.isDefined():
            out.append(metrics.get().executorRunTime() / 1e3)
    return out
