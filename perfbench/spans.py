"""Layer spans for the traced run, read back from Spark's status stores.

A span brackets one call from the benchmark into a layer's public function.
While it is open, every Spark job the driver submits carries the span's job
group, so the jobs, stages and tasks each layer caused can be read from the
core status store (``sc._jsc.sc().statusStore()``) and the SQL status store
(``spark._jsparkSession.sharedState().statusStore()``) afterwards. Both
stores fill with the UI disabled, and reading them runs no Spark job. Spans
stay in memory; the stores are read once, at the end.

Nested spans are attributed to the innermost open span, so each span's
numbers are its self numbers: ``s`` is its duration minus that of its
child spans, and its jobs are those submitted while it was innermost.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"
_STAGE_KEYS = (
    "jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_rows",
)


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    iteration: int
    end: float = 0.0
    child_s: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``enabled``; a disabled tracer is a no-op."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.iteration = 0
        self.spans: list[Span] = []
        self.cached_bytes_peak = 0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        sp = Span(name, f"perfbench-{idx}", self._stack[-1] if self._stack else None,
                  time.time(), self.iteration)
        self.spans.append(sp)
        self._stack.append(idx)
        sc.setLocalProperty(_GROUP, sp.group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            parent = self.spans[sp.parent] if sp.parent is not None else None
            if parent is not None:
                parent.child_s += sp.end - sp.start
            sc.setLocalProperty(_GROUP, parent.group if parent else None)
            self._sample_cache()

    def _sample_cache(self) -> None:
        """Track the largest persisted-RDD footprint seen at a span end."""
        rdds = self.spark.sparkContext._jsc.sc().statusStore().rddList(True)
        used = sum(
            rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.length())
        )
        self.cached_bytes_peak = max(self.cached_bytes_peak, used)

    def wait(self) -> None:
        """Block until every queued listener event reached the stores."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _jobs_by_group(self) -> dict[str, list]:
        """Job data of every job that ran under a job group, by group."""
        self.wait()
        jobs = self.spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        out: dict[str, list] = {}
        for i in range(jobs.length()):
            j = jobs.apply(i)
            if j.jobGroup().isDefined():
                out.setdefault(j.jobGroup().get(), []).append(j)
        return out

    def collect(self) -> dict[str, dict]:
        """``{span name: {iteration: {metric: value}}}``, summed over the
        span's calls in one iteration."""
        by_group = self._jobs_by_group()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out: dict[str, dict] = {}
        for sp in self.spans:
            m = _stage_metrics(store, by_group.get(sp.group, []), sp.start, sp.end)
            m["s"] = sp.end - sp.start - sp.child_s
            m["driver_idle_s"] = max(0.0, m["s"] - m.pop("busy_s"))
            m.update(sp.counts)
            acc = out.setdefault(sp.name, {}).setdefault(sp.iteration, {})
            for k, v in m.items():
                acc[k] = acc.get(k, 0) + v
        return out

    def sql_counts(self) -> dict[int, dict]:
        """Per iteration, from scan nodes of the SQL plans run under a span:
        files read in total, and partitions read per span name."""
        group_of = {
            j.jobId(): group for group, jobs in self._jobs_by_group().items() for j in jobs
        }
        span_of = {sp.group: sp for sp in self.spans}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        out: dict[int, dict] = {}
        for i in range(execs.length()):
            e = execs.apply(i)
            job_ids = e.jobs().keys().toList()
            sp = None
            for k in range(job_ids.length()):
                sp = span_of.get(group_of.get(job_ids.apply(k)))
                if sp is not None:
                    break
            if sp is None:
                continue
            acc = out.setdefault(sp.iteration, {})
            values = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            for n in range(nodes.length()):
                node = nodes.apply(n)
                if not node.name().startswith("Scan "):
                    continue
                ms = node.metrics()
                for k in range(ms.length()):
                    metric = ms.apply(k)
                    key = {"number of files read": "files_read",
                           "number of partitions read": f"partitions_read.{sp.name}"}.get(
                        metric.name())
                    val = values.get(metric.accumulatorId())
                    if key and val.isDefined():
                        acc[key] = acc.get(key, 0) + int(val.get().replace(",", ""))
        return out


def _stage_metrics(store, jobs: list, start: float, end: float) -> dict:
    """Jobs, stages, tasks, executor time, shuffle, spill and input of
    ``jobs``; ``busy_s`` is the union of their stage intervals clipped to
    the span."""
    m = dict.fromkeys(_STAGE_KEYS, 0)
    m["jobs"] = len(jobs)
    intervals = []
    seen = set()
    for j in jobs:
        ids = j.stageIds()
        for k in range(ids.length()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j error: stage never submitted
                continue
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its shuffle output was reused
            m["stages"] += 1
            m["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            m["exec_cpu_s"] += st.executorCpuTime() / 1e9
            m["exec_run_s"] += st.executorRunTime() / 1e3
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["input_bytes"] += st.inputBytes()
            m["input_rows"] += st.inputRecords()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                a = max(start, sub.get().getTime() / 1e3)
                b = min(end, done.get().getTime() / 1e3)
                if b > a:
                    intervals.append((a, b))
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    m["busy_s"] = busy
    return m
