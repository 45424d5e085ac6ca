"""Spans around the benchmark's calls into the library, with Spark job metrics.

A span is one call into a layer (``checksum``, ``diff``, ``scan``,
``scandump``) made on behalf of one request.  While a span is open its Spark
job group is ``<request id>/<layer>``, so afterwards the jobs it caused, and
their stages, can be read back from the application status store by group.
The status store is filled by Spark's listener bus, which lags behind the
jobs themselves, so reading waits until every job of the group has finished.

With tracing off, ``span`` only times the call: no job group is set and
nothing is read back, so the untraced run measures the program alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: stage fields summed per span, as (v1.StageData getter, record key, scale)
_STAGE_FIELDS = (
    ("executorRunTime", "run_s", 1e-3),
    ("inputRecords", "input_records", 1),
    ("shuffleWriteBytes", "shuffle_bytes", 1),
    ("shuffleWriteRecords", "shuffle_records", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("jvmGcTime", "gc_s", 1e-3),
    ("numFailedTasks", "failed_tasks", 1),
    ("numCompleteTasks", "tasks", 1),
)

_DONE_JOB = {"SUCCEEDED", "FAILED"}
_WAIT_S = 10.0


class Tracer:
    def __init__(self, spark, meter):
        self.sc = spark.sparkContext
        self.meter = meter
        self.enabled = False  # switched per request by the caller
        self.spans: list[dict] = []
        self._store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    @contextmanager
    def request(self, kind: str, request_id: str):
        """Span of one whole request; its layer spans name it as parent."""
        rec = {"name": kind, "request": request_id, "parent": None}
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)

    @contextmanager
    def span(self, layer: str, request_id: str):
        """Time one call into ``layer``; traced, also record its jobs' metrics.

        Yields a dict the caller may add counts to (``rows``,
        ``findings``); the finished span is appended to ``self.spans``."""
        rec = {"name": layer, "request": request_id, "parent": request_id}
        if self.enabled:
            group = f"{request_id}/{layer}"
            self.sc.setJobGroup(group, layer)
            cpu0 = self.meter.sample()
        t0 = time.time()
        try:
            yield rec
        finally:
            rec["start"], rec["end"] = t0, time.time()
            if self.enabled:
                rec["cpu_s"] = self.meter.sample() - cpu0
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self._group_metrics(group))
                rec["trace_s"] = time.time() - rec["end"]
            self.spans.append(rec)

    def _group_metrics(self, group: str) -> dict:
        jobs = [self._job(j) for j in self.sc.statusTracker().getJobIdsForGroup(group)]
        out = {k: 0 for _, k, _ in _STAGE_FIELDS}
        out.update(jobs=len(jobs), write_s=0.0, job_intervals=[j["interval"] for j in jobs])
        for job in jobs:
            for stage in job["stages"]:
                for _, k, _ in _STAGE_FIELDS:
                    out[k] += stage[k]
                if stage["outputRecords"] > 0 and stage["interval"]:
                    out["write_s"] += stage["interval"][1] - stage["interval"][0]
        return out

    def _job(self, job_id: int) -> dict:
        deadline = time.time() + _WAIT_S
        while True:
            jd = self._store.job(job_id)
            if jd.status().toString() in _DONE_JOB and jd.completionTime().isDefined():
                break
            if time.time() > deadline:
                raise RuntimeError(f"Spark job {job_id} did not finish in the status store")
            time.sleep(0.01)
        ids = jd.stageIds()
        stages = [self._stage(ids.apply(i)) for i in range(ids.size())]
        return {"interval": _interval(jd), "stages": [s for s in stages if s is not None]}

    def _stage(self, stage_id: int) -> dict | None:
        deadline = time.time() + _WAIT_S
        while True:
            attempts = self._store.stageData(
                stage_id, False, self._no_tasks, False, self._no_quantiles
            )
            states = [attempts.apply(i).status().toString() for i in range(attempts.size())]
            if "SKIPPED" in states:
                return None  # reused shuffle output: no tasks ran
            if "ACTIVE" not in states and "PENDING" not in states:
                break
            if time.time() > deadline:
                raise RuntimeError(f"Spark stage {stage_id} did not finish in the status store")
            time.sleep(0.01)
        rec = {k: 0 for _, k, _ in _STAGE_FIELDS}
        rec.update(outputRecords=0, interval=None)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            for getter, k, scale in _STAGE_FIELDS:
                rec[k] += getattr(sd, getter)() * scale
            rec["outputRecords"] += sd.outputRecords()
            rec["interval"] = _interval(sd)
        return rec

    def write(self, path: str) -> None:
        """Spans as JSON lines, one per span, in completion order."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _interval(data) -> tuple[float, float] | None:
    sub, end = data.submissionTime(), data.completionTime()
    if not (sub.isDefined() and end.isDefined()):
        return None
    return sub.get().getTime() / 1e3, end.get().getTime() / 1e3


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(i for i in intervals if i is not None):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total
