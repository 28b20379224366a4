"""Spans around the benchmark's calls into the package, plus the Spark jobs
each call started.

A ``Tracer`` records one span (name, start, end, parent, run id) per
``call``. When ``spark_groups`` is on, each call runs under its own Spark
job group; ``harvest`` later reads those groups' jobs, stages, tasks and SQL
executions from the driver's status store and turns every job into a child
span of its call. Spans stay in memory until ``dump``.

With ``spark_groups`` off the tracer only takes two clock readings per call;
that is how untraced iterations run.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None, run_id: str = "r0", spark_groups: bool = False):
        self.spark = spark
        self.run_id = run_id
        self.spark_groups = spark_groups and spark is not None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[tuple[int, str]] = []

    @contextmanager
    def span(self, name: str):
        """A grouping span (no Spark job group of its own)."""
        rec = self._open(name)
        try:
            yield rec
        finally:
            self._close(rec)

    @contextmanager
    def call(self, name: str):
        """A span around one call into a package layer."""
        rec = self._open(name)
        group = None
        if self.spark_groups:
            group = f"pb-{self.run_id}-{rec['id']}"
            self.spark.sparkContext.setJobGroup(group, name)
        try:
            yield rec
        finally:
            if group is not None:
                sc = self.spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._groups.append((rec["id"], group))
            self._close(rec)

    def _open(self, name: str) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._stack.pop()

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    # ------------------------------------------------------ status store

    def harvest(self) -> None:
        """Turn every traced call's Spark jobs into child spans, with the
        stage, task and SQL metrics of each job as attributes."""
        if not self._groups:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        sql = _sql_executions(self.spark)
        tracker = sc.statusTracker()
        for sid, group in self._groups:
            parent = self.spans[sid]
            job_ids = sorted(tracker.getJobIdsForGroup(group))
            jobs = [_job_record(store, j) for j in job_ids]
            prev_end = parent["start"]
            for job in jobs:
                # clip to the call and trim overlap with the previous job,
                # so sibling spans never double-count a second
                start = min(max(job["start"], prev_end), parent["end"])
                end = max(min(job["end"], parent["end"]), start)
                prev_end = end
                self.spans.append(
                    {
                        "id": len(self.spans),
                        "name": f"spark.job[{job['job_id']}]",
                        "parent": sid,
                        "run": self.run_id,
                        "start": start,
                        "end": end,
                        "attrs": job,
                    }
                )
            ids = set(job_ids)
            parent["attrs"]["sql"] = [e for e in sql if ids & set(e["jobs"])]
        self._groups.clear()

    # ----------------------------------------------------------- queries

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def jobs_under(self, sid: int) -> list[dict]:
        return [s["attrs"] for s in self.children(sid) if s["name"].startswith("spark.job[")]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []))
        for s in spans
    }


def check_nesting(spans: list[dict]) -> list[str]:
    """Problems with the tree: a child outside its parent, or siblings
    that overlap. Empty when the spans nest."""
    by_id = {s["id"]: s for s in spans}
    errs = []
    sibs: dict[int, list[dict]] = {}
    for s in spans:
        if s["end"] < s["start"]:
            errs.append(f"{s['name']}: ends before it starts")
        p = s["parent"]
        if p is None:
            continue
        par = by_id[p]
        if s["start"] < par["start"] or s["end"] > par["end"]:
            errs.append(f"{s['name']} outside {par['name']}")
        sibs.setdefault(p, []).append(s)
    for group in sibs.values():
        group.sort(key=lambda s: s["start"])
        for a, b in zip(group, group[1:]):
            if b["start"] < a["end"]:
                errs.append(f"{a['name']} overlaps {b['name']}")
    return errs


# --------------------------------------------------------------- helpers


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


def _job_record(store, job_id: int) -> dict:
    j = store.job(job_id)
    start = _ms(j.submissionTime())
    end = _ms(j.completionTime())
    ids = j.stageIds()
    stages = []
    for k in range(ids.size()):
        st = _stage_record(store, ids.apply(k))
        if st is not None:
            stages.append(st)
    return {
        "job_id": job_id,
        "start": start,
        "end": end if end is not None else start,
        "stages": stages,
    }


def _stage_record(store, stage_id: int) -> dict | None:
    try:
        s = store.lastStageAttempt(stage_id)
    except Exception:  # noqa: BLE001 - a skipped stage has no attempt
        return None
    if s.status().toString() != "COMPLETE":
        return None
    tasks = store.taskList(stage_id, s.attemptId(), 1 << 20)
    durs = []
    for t in range(tasks.size()):
        d = _opt(tasks.apply(t).duration())
        if d is not None:
            durs.append(d / 1000.0)
    return {
        "stage_id": stage_id,
        "name": s.name(),
        "num_tasks": s.numTasks(),
        "run_s": s.executorRunTime() / 1000.0,
        "cpu_s": s.executorCpuTime() / 1e9,
        "gc_s": s.jvmGcTime() / 1000.0,
        "shuffle_read_bytes": s.shuffleReadBytes(),
        "shuffle_write_bytes": s.shuffleWriteBytes(),
        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        "task_max_s": max(durs) if durs else 0.0,
        "task_median_s": statistics.median(durs) if durs else 0.0,
    }


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_TOTAL = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A status-store SQL metric string as a number: bytes for size
    metrics, seconds for timing metrics, the count for sums. Aggregated
    metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2) or "", 1)


def _sql_executions(spark) -> list[dict]:
    """Per SQL execution: its id, its job ids, start and end."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        done = _opt(e.completionTime())
        rec = {
            "execution_id": e.executionId(),
            "jobs": _scala_keys(e.jobs()),
            "start": e.submissionTime() / 1000.0,
            "end": done.getTime() / 1000.0 if done is not None else None,
        }
        out.append(rec)
    return out


def node_metrics(spark, execution_id: int, prefixes: tuple[str, ...]) -> dict[str, float]:
    """Summed SQL metrics of one execution's plan nodes whose name starts
    with one of ``prefixes``, keyed by the metric's display name."""
    store = spark._jsparkSession.sharedState().statusStore()
    values = store.executionMetrics(execution_id)
    nodes = store.planGraph(execution_id).allNodes()
    out: dict[str, float] = {}
    for n in range(nodes.size()):
        node = nodes.apply(n)
        if not node.name().startswith(prefixes):
            continue
        ms = node.metrics()
        for q in range(ms.size()):
            m = ms.apply(q)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out[m.name()] = out.get(m.name(), 0.0) + parse_metric(v.get())
    return out


def _scala_keys(scala_map) -> list[int]:
    it = scala_map.keysIterator()
    keys = []
    while it.hasNext():
        keys.append(int(it.next()))
    return keys
