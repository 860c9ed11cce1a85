"""Span collector for the traced run: Spark's own stage and SQL metrics
attached to the span that ran them.

Each span tags its Spark jobs with one job group (``setJobGroup``). When
the span ends the collector reads, through py4j with the UI disabled:

- per-stage executor run, CPU and GC time, shuffle, spill and task
  counts from the core status store (``statusStore().lastStageAttempt``),
  for the stages of the span's jobs;
- per-node SQL metrics from the plan graph of every SQL execution that
  started inside the span. The graph is the AQE final plan. Values are
  the raw accumulator values where the accumulator is still registered,
  else the status store's formatted total, parsed back to a number.

Spans stay in memory; ``write`` dumps them once, at the end of a run.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# display name (as in the SQL status store) -> metric key in Spark's plans
SQL_METRIC_KEYS = {
    "time to run Python workers": "pythonTotalTime",
    "time to start Python workers": "pythonBootTime",
    "time to initialize Python workers": "pythonInitTime",
    "data sent to Python workers": "pythonDataSent",
    "data returned from Python workers": "pythonDataReceived",
    "scan time": "scanTime",
    "size of files read": "filesSize",
    "number of output rows": "numOutputRows",
    "shuffle bytes written": "shuffleBytesWritten",
    "local bytes read": "localBytesRead",
    "remote bytes read": "remoteBytesRead",
    "number of written files": "numFiles",
    "task commit time": "taskCommitTime",
    "job commit time": "jobCommitTime",
}

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric_string(text: str, metric_type: str) -> float:
    """The total of a status-store metric string, in the unit the raw
    accumulator uses (ms for ``timing``, ns for ``nsTiming``, bytes for
    ``size``, a count otherwise). Multi-task values read
    ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    scale = _UNIT.get(unit, 1.0)
    if metric_type == "timing":
        return num * scale * 1e3
    if metric_type == "nsTiming":
        return num * scale * 1e9
    return num * scale


@dataclass
class Span:
    name: str
    request: str  # shared by the spans of one traced job run
    start_s: float
    wall_s: float = 0.0
    jobs: int = 0
    stages: list[dict] = field(default_factory=list)
    # one entry per plan-node metric: (node, node description, key, value)
    sql: list[tuple[str, str, str, float]] = field(default_factory=list)

    def sql_sum(self, key: str, node: str | None = None, desc: str | None = None) -> float:
        """Sum of ``key`` over nodes whose name starts with ``node`` and
        whose description contains ``desc`` (either filter optional)."""
        return sum(
            v
            for n, d, k, v in self.sql
            if k == key
            and (node is None or n.startswith(node))
            and (desc is None or desc in d)
        )

    def stage_sum(self, key: str) -> float:
        return sum(s[key] for s in self.stages)

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "request": self.request,
            "start_s": self.start_s,
            "wall_s": self.wall_s,
            "jobs": self.jobs,
            "stages": self.stages,
            "sql": [list(x) for x in self.sql],
        }


class Tracer:
    """Spans over one SparkSession. Not thread-safe: one span at a time,
    which is what a closed-loop single-client benchmark runs."""

    def __init__(self, spark, run_id: str = "trace"):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.request = "0"  # set by the caller before each traced job run
        self.spans: list[Span] = []
        self._open = False
        self._acc_seen: dict[int, float] = {}
        self._t0 = time.perf_counter()
        self._jvm = self.sc._jvm
        self._core = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def span(self, name: str):
        """Run the body under its own job group; attach the metrics of the
        Spark jobs it ran when it exits. Spans do not nest: a Spark job
        belongs to exactly one group."""
        if self._open:
            raise RuntimeError("spans do not nest: one job group at a time")
        sp = Span(name, self.request, time.perf_counter() - self._t0)
        group = f"{self.run_id}-{len(self.spans)}-{name}"
        first_exec = self._next_execution_id()
        self.sc.setJobGroup(group, name)
        self._open = True
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            self._open = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._attach(sp, group, first_exec)
            self.spans.append(sp)

    def _next_execution_id(self) -> int:
        ids = [e.executionId() for e in _iter(self._sql.executionsList())]
        return max(ids) + 1 if ids else 0

    def _attach(self, sp: Span, group: str, first_exec: int) -> None:
        stage_ids = []
        for job in _iter(self._core.jobsList(None)):
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                sp.jobs += 1
                stage_ids.extend(_iter(job.stageIds()))
        for sid in sorted(set(stage_ids)):
            try:
                st = self._core.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted (skipped)
                continue
            if st.numCompleteTasks() == 0:
                continue
            sp.stages.append(self._stage_record(st))
        for ex in _iter(self._sql.executionsList()):
            eid = ex.executionId()
            if eid >= first_exec:
                sp.sql.extend(self._sql_metrics(eid))

    def _stage_record(self, st) -> dict:
        rec = {
            "stage_id": st.stageId(),
            "tasks": st.numCompleteTasks(),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "input_bytes": st.inputBytes(),
            "output_bytes": st.outputBytes(),
            "task_median_s": 0.0,
            "task_max_s": 0.0,
        }
        q = self.sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self._core.taskSummary(st.stageId(), st.attemptId(), q)
        if dist.isDefined():
            rt = list(_iter(dist.get().executorRunTime()))
            rec["task_median_s"], rec["task_max_s"] = rt[0] / 1e3, rt[1] / 1e3
        return rec

    def _sql_metrics(self, eid: int) -> list[tuple[str, str, str, float]]:
        graph = self._sql.planGraph(eid)
        shown = self._sql.executionMetrics(eid)
        acc_ctx = self._jvm.org.apache.spark.util.AccumulatorContext
        out = []
        for node in _iter(graph.allNodes()):
            for m in _iter(node.metrics()):
                key = SQL_METRIC_KEYS.get(m.name())
                if key is None:
                    continue
                acc_id = m.accumulatorId()
                text = shown.get(acc_id)
                if not text.isDefined():
                    continue  # not updated by this execution's tasks
                acc = acc_ctx.get(acc_id)
                if acc.isDefined():
                    raw = max(0.0, float(acc.get().value()))
                    value = raw - self._acc_seen.get(acc_id, 0.0)
                    self._acc_seen[acc_id] = raw
                else:
                    value = parse_metric_string(text.get(), m.metricType())
                if m.metricType() == "timing":
                    value /= 1e3
                elif m.metricType() == "nsTiming":
                    value /= 1e9
                out.append((node.name(), node.desc()[:300], key, value))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": [s.to_json() for s in self.spans]}, f)


def _iter(seq):
    """Python iterator over a Scala/Java collection returned by py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()
