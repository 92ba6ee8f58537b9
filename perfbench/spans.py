"""Spans around the benchmark's calls into each layer, and what Spark did
inside each span.

Every span runs under a Spark job group of its own. When an operation's
root span ends, the jobs, stages and tasks of each of its spans are read at
once (the status store evicts old jobs past ``spark.ui.retainedJobs``, so
reading at the end of a run would lose them), from the status tracker and
the local UI REST API, which the traced run turns on with
``SPARK_UI=true``. Spans stay in memory and are written out at exit.

A failure to read that work is a tracing error, not a failed operation: it
is kept in ``Tracer.errors`` and the operation's spans carry no Spark work,
so the Spark metrics are taken over the operations whose work was read
(``Tracer.worked``).
"""

from __future__ import annotations

import calendar
import itertools
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager


def _rest_time(s: str) -> float:
    """'2026-10-17T05:55:00.571GMT' -> epoch seconds."""
    base, ms = s.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1e3


class Tracer:
    """Records spans when ``enabled`` and ``recording``; ``span`` is a no-op
    context otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.recording = False
        self.spans: list[dict] = []
        self.errors: list[str] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._sc = None
        self._api = None

    def attach(self, spark) -> None:
        """Bind to the session whose jobs the spans will read."""
        self._sc = spark.sparkContext
        if self.enabled:
            self._api = (
                f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"
            )

    @contextmanager
    def span(self, name: str, cls: str | None = None):
        if not (self.enabled and self.recording):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "op": parent["op"] if parent else sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "cls": cls or (parent["cls"] if parent else name),
            "group": f"perfbench-{sid}",
        }
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if parent:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                # read the Spark work of the whole operation only now, so
                # no span's duration includes the reading
                mine = list(itertools.takewhile(
                    lambda s: s["op"] == rec["op"], reversed(self.spans)
                ))
                try:
                    self._sc._jsc.sc().listenerBus().waitUntilEmpty()
                    work = [self._spark_work(s["group"]) for s in mine]
                except Exception as e:  # noqa: BLE001 - kept, not fatal
                    self.errors.append(f"op {rec['op']}: {type(e).__name__}: {e}"[:300])
                else:
                    for s, w in zip(mine, work):
                        s.update(w)

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=10) as r:
            return json.loads(r.read())

    def _spark_work(self, group: str) -> dict:
        """Jobs, stages, tasks, executor run time, shuffle and spill of the
        jobs that ran under ``group``. The caller has drained the listener
        bus that feeds the status store, so every job is visible with its end
        time, even one that ended microseconds ago."""
        jobs = [
            self._get(f"/jobs/{jid}")
            for jid in self._sc.statusTracker().getJobIdsForGroup(group)
        ]
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "task_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
               "job_intervals": []}
        seen: set = set()
        for j in jobs:
            if "completionTime" not in j:
                raise RuntimeError(f"job {j['jobId']} of {group} has not ended")
            out["job_intervals"].append(
                (_rest_time(j["submissionTime"]), _rest_time(j["completionTime"]))
            )
            for stage in set(j["stageIds"]) - seen:
                seen.add(stage)
                for att in self._get(f"/stages/{stage}?details=false"):
                    if att["status"] == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                    out["failed_tasks"] += att["numFailedTasks"]
                    out["task_ms"] += att["executorRunTime"]
                    out["shuffle_write_bytes"] += att["shuffleWriteBytes"]
                    out["spill_bytes"] += (
                        att["memoryBytesSpilled"] + att["diskBytesSpilled"]
                    )
        return out

    @property
    def worked(self) -> list[dict]:
        """The spans whose Spark work was read (all but tracing errors')."""
        return [s for s in self.spans if "jobs" in s]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


#: operation classes reported by the per-class Spark metrics
OP_CLASSES = ("pql_routed", "pql_scan", "sql", "ingest_step", "pipeline_pass")

SPARK_FIELDS = (
    ("jobs_per_op", "jobs"),
    ("stages_per_op", "stages"),
    ("tasks_per_op", "tasks"),
    ("task_ms_per_op", "task_ms"),
    ("shuffle_write_bytes_per_op", "shuffle_write_bytes"),
    ("spill_bytes_per_op", "spill_bytes"),
)


def _median_ms(values) -> float | None:
    return statistics.median(values) * 1e3 if values else None


def spark_layer(spans: list[dict]) -> dict[str, float]:
    """Per operation class the workload ran: Spark work per operation,
    action latency, and the share of operation wall time no Spark job
    covered. ``spans`` are spans whose Spark work was read."""
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out: dict[str, float] = {}
    for cls in OP_CLASSES:
        ops = [ss for ss in by_op.values() if ss[0]["cls"] == cls]
        n = len(ops)
        if not n:
            continue
        for metric, field in SPARK_FIELDS:
            total = sum(s[field] for ss in ops for s in ss)
            out[f"spark.{metric}.{cls}"] = total / n
        out[f"spark.failed_tasks.{cls}"] = float(
            sum(s["failed_tasks"] for ss in ops for s in ss)
        )
        out[f"spark.action_ms.{cls}"] = _median_ms(
            [s["end"] - s["start"] for ss in ops for s in ss
             if s["name"] == "spark.action"]
        )
        wall = uncovered = 0.0
        for ss in ops:
            root = next(s for s in ss if s["parent"] is None)
            iv = [i for s in ss for i in s["job_intervals"]]
            w = root["end"] - root["start"]
            wall += w
            uncovered += w - _covered(iv, root["start"], root["end"])
        out[f"driver.outside_jobs_share.{cls}"] = uncovered / wall
    return out


def median_self_ms(spans: list[dict], name: str) -> float | None:
    """Median self time of the spans called ``name``; None if there are none."""
    st = self_times(spans)
    return _median_ms([st[s["id"]] for s in spans if s["name"] == name])


def op_jobs(spans: list[dict]) -> dict[int, int]:
    """Operation id -> Spark jobs run by all its spans."""
    out: dict[int, int] = {}
    for s in spans:
        out[s["op"]] = out.get(s["op"], 0) + s["jobs"]
    return out
