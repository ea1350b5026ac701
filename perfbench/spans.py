"""Spans around the benchmark's calls into the package, with the Spark
work each span caused.

A span records (name, start, end, parent). Spans are kept in memory and
written out once, when the benchmark ends.

Most layer spans time a *noop-sink prefix*: the layer's output is
forced through ``write.format("noop")``, which recomputes every layer
under it. Such a span's children are the spans of its input prefixes,
and its self time is its duration minus its children's durations (the
phase decomposition of ``bench_extra.py``). A span that materializes
its output (a ``localCheckpoint``) has no children.

For every span the tracer also records the AppStatusStore delta of the
stages and jobs that ran inside it: executor CPU, GC, shuffle write,
spill, job and stage counts, and the task skew (max ÷ median task
duration) of its longest stage.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

# per-span suffixes, in report order
SUFFIXES = (
    "self_s", "exec_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_records",
    "spill_mb", "task_skew", "jobs", "stages",
)


class StatusStore:
    """Reads stage, task, job and SQL metrics from the driver's
    AppStatusStore through py4j."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def settle(self) -> None:
        # the store is fed by the listener bus; drain it so the stages of
        # an action that just returned are visible
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def stages(self) -> dict[tuple[int, int], object]:
        jvm = self._sc._jvm
        seq = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out = {}
        for i in range(seq.size()):
            st = seq.apply(i)
            out[(st.stageId(), st.attemptId())] = st
        return out

    def job_count(self) -> int:
        return self._store.jobsList(None).size()

    def task_skew(self, stage) -> float:
        tasks = self._store.taskList(stage.stageId(), stage.attemptId(), 1 << 20)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        med = statistics.median(durs) if durs else 0.0
        return max(durs) / med if med > 0 else 1.0

    def last_plan_metrics(self) -> list[tuple[str, dict[str, str]]]:
        """(node name, {metric name: value text}) for every node of the
        most recent SQL execution's plan, in plan-graph order."""
        jvm = self._sc._jvm
        ss = self.spark._jsparkSession.sharedState().statusStore()
        execs = ss.executionsList()
        ex = execs.apply(execs.size() - 1)
        values = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            ss.executionMetrics(ex.executionId()))
        nodes = ss.planGraph(ex.executionId()).allNodes()
        out = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            ms = node.metrics()
            vals = {}
            for j in range(ms.size()):
                v = values.get(ms.apply(j).accumulatorId())
                if v is not None:
                    vals[ms.apply(j).name()] = v
            out.append((node.name(), vals))
        return out


_UNITS = {"B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6}


def metric_value(text: str) -> float:
    """A SQL metric's display text → number: '12,345' → 12345.0, and
    sizes ('3.2 MiB', or a 'total (min, med, max ...)' block) → MB."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    first = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    parts = first.replace(",", "").split()
    if len(parts) > 1 and parts[1] in _UNITS:
        return float(parts[0]) * _UNITS[parts[1]]
    return float(parts[0])


class Tracer:
    """Span recorder for one session."""

    def __init__(self, spark):
        self.spans: list[dict] = []
        self.store = StatusStore(spark)

    @contextmanager
    def span(self, name: str, children: tuple[str, ...] = (), rep: int = 0):
        """Time the block. ``children`` name spans of this rep whose work
        this span's interval re-covers; they get this span as parent."""
        st = self.store
        t_in = time.perf_counter()
        st.settle()
        before = set(st.stages())
        jobs0 = st.job_count()
        rec = {"name": name, "rep": rep, "parent": None, "counters": {}}
        t0 = time.perf_counter()
        try:
            yield rec["counters"]
        finally:
            t1 = time.perf_counter()
            st.settle()
            new = [s for k, s in st.stages().items() if k not in before]
            rec.update(start=t0, end=t1, dur=t1 - t0, jobs=st.job_count() - jobs0)
            rec.update(_stage_delta(st, new))
            for s in self.spans:
                if s["rep"] == rep and s["name"] in children:
                    s["parent"] = name
            rec["child_s"] = sum(
                s["dur"] for s in self.spans if s["rep"] == rep and s["name"] in children
            )
            self.spans.append(rec)
            rec["book_s"] = (t0 - t_in) + (time.perf_counter() - t1)

    def metrics(self, rep: int) -> dict[str, float]:
        """Flat ``<span>.<suffix>`` and ``<span>.<counter>`` values of one
        traced rep, and ``trace.overhead_s``: the time the spans' own
        bookkeeping (listener-bus drains and status-store reads before
        and after each span) added to the rep. The recomputed prefixes
        of a layer chain are work of the chain, not of the tracing, and
        are not in it."""
        out: dict[str, float] = {
            "trace.overhead_s": sum(s["book_s"] for s in self.spans if s["rep"] == rep)}
        for s in self.spans:
            if s["rep"] != rep:
                continue
            n = s["name"]
            out[f"{n}.self_s"] = s["dur"] - s["child_s"]
            out[f"{n}.dur_s"] = s["dur"]
            for k in SUFFIXES[1:]:
                out[f"{n}.{k}"] = s[k]
            for k, v in s["counters"].items():
                out[f"{n}.{k}"] = v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=float) + "\n")


def _stage_delta(st: StatusStore, stages: list) -> dict[str, float]:
    done = [s for s in stages if str(s.status()) == "COMPLETE"]
    d = {
        "exec_cpu_s": sum(s.executorCpuTime() for s in done) / 1e9,
        "gc_s": sum(s.jvmGcTime() for s in done) / 1e3,
        "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in done) / 1e6,
        "shuffle_records": float(sum(s.shuffleWriteRecords() for s in done)),
        "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in done) / 1e6,
        "stages": float(len(done)),
        "task_skew": 1.0,
    }
    if done:
        longest = max(done, key=lambda s: s.executorRunTime())
        d["task_skew"] = st.task_skew(longest)
    return d
