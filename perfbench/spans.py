"""Tracing for the benchmark: spans recorded around calls into the engine,
Spark's own status store per span, and SQL metrics of executed plans.

Nothing here changes the engine. A span is opened by the benchmark around
a call (``Tracer.span``) or by a wrapper it installs on a public function
for the traced run only (``Tracer.wrap``). Spark jobs are attributed to
the innermost span open at their submission time. Lazy calls (plan
construction) get their row and byte counts from the executed plan of the
action that runs them (``plan_nodes``).
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def jlist(jvm, seq) -> list:
    """A Scala Seq/Map keys as a Python list."""
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


class Tracer:
    """In-memory spans: name, start, end, parent. Disabled tracers record
    nothing and cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = {"id": len(self.spans), "name": name, "start": time.time(),
             "end": None,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "depth": len(self._stack)}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span;
        ``on_return(result)`` sees each result. Undone by ``unwrap``."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_return is not None:
                on_return(out)
            return out

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def subtree(self, root: dict) -> list[dict]:
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its children cover (children run on
    the same thread, one after another, so they never overlap)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


class SparkProbe:
    """Reads Spark's status store (live with the UI disabled)."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.last_job = self.max_job_id()

    def max_job_id(self) -> int:
        jobs = jlist(self.jvm, self.store.jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, each with its stage
        totals. Waits until every such job has finished."""
        jvm = self.jvm
        deadline = time.time() + 30
        while True:
            jobs = [j for j in jlist(jvm, self.store.jobsList(None))
                    if j.jobId() > self.last_job]
            if all(j.completionTime().isDefined() for j in jobs) \
                    or time.time() > deadline:
                break
            time.sleep(0.05)
        out = []
        for j in sorted(jobs, key=lambda j: j.jobId()):
            stages = []
            for sid in jlist(jvm, j.stageIds()):
                try:
                    sd = self.store.stageAttempt(
                        sid, 0, False, None, False,
                        self.spark.sparkContext._gateway.new_array(
                            jvm.double, 0))._1()
                except Py4JJavaError:
                    continue  # skipped stage: never ran, no attempt
                if str(sd.status()) == "SKIPPED":
                    continue
                stages.append({
                    "id": sid,
                    "tasks": sd.numCompleteTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.diskBytesSpilled(),
                })
            out.append({
                "id": j.jobId(),
                "submitted": j.submissionTime().get().getTime() / 1e3,
                "stages": stages,
            })
        self.last_job = max([self.last_job] + [j["id"] for j in out])
        return out

    def stage_task_skew(self, stage_id: int) -> float:
        """Max task run time over median task run time of one stage."""
        tasks = jlist(self.jvm, self.store.taskList(stage_id, 0, 100000))
        runs = [t.taskMetrics().get().executorRunTime() for t in tasks
                if t.taskMetrics().isDefined()]
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 1.0

    def stage_has_scope(self, stage_id: int, prefix: str) -> bool:
        """Whether the stage's RDD operation graph has a scope named by a
        plan node starting with ``prefix`` (e.g. "Window")."""
        try:
            g = self.store.operationGraphForStage(stage_id)
        except Py4JJavaError:  # stage evicted from the status store
            return False
        todo = [g.rootCluster()]
        while todo:
            c = todo.pop()
            if c.name().startswith(prefix):
                return True
            todo.extend(jlist(self.jvm, c.childClusters()))
        return False


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> dict[int, list]:
    """Span id -> jobs submitted while it was the innermost open span."""
    out: dict[int, list] = {s["id"]: [] for s in spans}
    for j in jobs:
        t = j["submitted"]
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (
                    best is None or s["depth"] > best["depth"]):
                best = s
        if best is None:  # submitted a hair outside every span: nearest
            best = min(spans, key=lambda s: min(abs(s["start"] - t),
                                                abs(s["end"] - t)))
        out[best["id"]].append(j)
    return out


def job_totals(jobs: list[dict]) -> dict[str, float]:
    tot = {"jobs": len(jobs), "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    for j in jobs:
        for st in j["stages"]:
            for k in ("tasks", "run_s", "cpu_s", "gc_s",
                      "shuffle_write_bytes", "spill_bytes"):
                tot[k] += st[k]
    return tot


# -- executed-plan SQL metrics ---------------------------------------------

def plan_nodes(jvm, df) -> list[dict]:
    """Every node of ``df``'s executed plan after its action ran, with the
    adaptive final plan walked through query stages. Each entry: name,
    join type (joins only), metric values, parent index."""
    out: list[dict] = []

    def walk(p, parent):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan(), parent)
        if cls.endswith("QueryStageExec"):
            return walk(p.plan(), parent)
        if cls == "ReusedExchangeExec":
            return walk(p.child(), parent)
        metrics = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            p.metrics())
        name = p.nodeName()
        out.append({"name": name, "parent": parent,
                    "join": str(p.joinType()) if "Join" in name else None,
                    "metrics": {k: metrics.get(k).value()
                                for k in metrics.keySet()}})
        me = len(out) - 1
        for c in jlist(jvm, p.children()):
            walk(c, me)

    walk(df._jdf.queryExecution().executedPlan(), None)
    return out


def ancestors(nodes: list[dict], i: int) -> list[int]:
    out = []
    p = nodes[i]["parent"]
    while p is not None:
        out.append(p)
        p = nodes[p]["parent"]
    return out
