"""Span tracing for the benchmark's traced runs.

A span is one call into an engine layer: name, start, end, parent span
and run id, held in memory and written out when the run ends. Each
span runs under its own Spark job group. Job ids are handed out in
submission order, so every job submitted between two span boundaries
is charged to the innermost open span by diffing the scheduler's next
job id; that also catches jobs that escape the caller's group (a
streaming micro-batch runs under its query's group, on its own
thread), and the in-group count read from the status tracker shows how
many did. Stage counters (tasks, shuffle bytes, spill, executor run
time, GC, rows written) come from the application status store.

Nothing here changes engine code: ``Tracer.wrap`` swaps a module
attribute for a recording wrapper, which also catches calls the module
makes to its own functions (``run_increment`` calling
``merge_results``).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = (
    "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "executor_run_s", "gc_s", "output_rows",
)


class Tracer:
    def __init__(self, spark: SparkSession, run_id: str):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._tracker = self._sc.statusTracker()
        self.run_id = run_id
        self.active = False  # wrappers record only while set
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_job = self._job_counter()

    # -- spans -----------------------------------------------------------

    def _job_counter(self) -> int:
        return self._jsc.dagScheduler().nextJobId()  # AtomicInteger, as int

    def _charge_jobs(self) -> None:
        """Charge jobs submitted since the last boundary to the innermost
        open span."""
        now = self._job_counter()
        if self._stack:
            self._stack[-1]["job_ids"].extend(range(self._next_job, now))
        self._next_job = now

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        self._charge_jobs()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run": self.run_id, "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}-{len(self.spans)}",
            "job_ids": [], **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._charge_jobs()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, module, name: str, layer: str, on_result=None) -> None:
        """Record a span around every call of ``module.name``. If
        ``on_result(span, out)`` returns something, the call returns
        that in place of ``out``."""
        fn = getattr(module, name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(f"{layer}.{name}") as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    seen = on_result(rec, out)
                    out = out if seen is None else seen
                return out

        setattr(module, name, traced)

    # -- job and stage counters -----------------------------------------

    def finish(self, spans: list[dict]) -> None:
        """Attach job/stage counters and self time to ``spans``."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jvm = self._sc._jvm
        no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        children: dict[int, float] = {}
        for rec in spans:
            if rec["parent"] is not None:
                d = rec["end"] - rec["start"]
                children[rec["parent"]] = children.get(rec["parent"], 0) + d
        for rec in spans:
            jobs = rec["job_ids"]
            in_group = self._tracker.getJobIdsForGroup(rec["group"])
            stats = dict.fromkeys(STAGE_FIELDS, 0)
            stages = 0
            for jid in jobs:
                info = self._tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        attempts = store.stageData(
                            sid, False, jvm.java.util.ArrayList(), False,
                            no_quantiles)
                    except Py4JJavaError:  # evicted or never submitted
                        continue
                    stages += 1
                    for i in range(attempts.size()):
                        s = attempts.apply(i)
                        stats["tasks"] += s.numTasks()
                        stats["shuffle_read_bytes"] += s.shuffleReadBytes()
                        stats["shuffle_write_bytes"] += s.shuffleWriteBytes()
                        stats["spill_bytes"] += (
                            s.memoryBytesSpilled() + s.diskBytesSpilled())
                        stats["executor_run_s"] += s.executorRunTime() / 1e3
                        stats["gc_s"] += s.jvmGcTime() / 1e3
                        stats["output_rows"] += s.outputRecords()
            dur = rec["end"] - rec["start"]
            rec.update(
                s=dur, self_s=dur - children.get(rec["id"], 0.0),
                jobs=len(jobs), jobs_in_group=len(in_group), stages=stages,
                **stats,
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=repr) + "\n")


def observed(obs, timeout_s: float = 10.0) -> dict | None:
    """An Observation's metrics once its first action has reported
    them, or None after ``timeout_s`` (``Observation.get`` would block
    forever on a plan that never ran)."""
    deadline = time.monotonic() + timeout_s
    while not obs._jo.future().isCompleted():
        if time.monotonic() > deadline:
            return None
        time.sleep(0.01)
    return obs.get


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span under it."""
    ids, out = {root["id"]}, [root]
    for rec in spans:
        if rec["parent"] in ids:
            ids.add(rec["id"])
            out.append(rec)
    return out


def totals(spans: list[dict]) -> dict[str, float]:
    """Own counters summed over ``spans`` (each job counted once)."""
    keys = ("jobs", "jobs_in_group", "stages") + STAGE_FIELDS
    return {k: sum(r.get(k, 0) for r in spans) for k in keys}


class StreamCounter(StreamingQueryListener):
    """Micro-batch and input-row counts of every streaming query."""

    def __init__(self):
        self.started = self.terminated = 0
        self.batches = self.input_rows = 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        self.batches += 1
        self.input_rows += event.progress.numInputRows

    def onQueryTerminated(self, event):
        self.terminated += 1

    def settle(self, timeout_s: float = 5.0) -> None:
        """Wait until every started query's termination has arrived."""
        deadline = time.monotonic() + timeout_s
        while self.terminated < self.started and time.monotonic() < deadline:
            time.sleep(0.02)
