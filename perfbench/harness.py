"""Measurement plumbing shared by the workloads: span tracing, Spark
job-group accounting from Spark's status APIs, and process-tree memory.

Everything here observes the program from outside: spans wrap calls into
the package's public functions, and Spark counters are read from
``statusTracker`` and the status store around those calls.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession


class Tracer:
    """In-memory spans: (name, layer, start, end, parent index, op id).

    A disabled tracer records nothing and sets no job groups, so the same
    workload code runs traced and untraced.
    """

    def __init__(self, spark: SparkSession | None, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.groups: dict[str, list[tuple[str, str]]] = {}
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        """Time one call into ``layer``. With ``group``, Spark jobs the call
        launches run under that job group and are attributed to the span."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        if group is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            gid = f"{self.op}/{group}/{len(self.spans)}"
            self.groups.setdefault(self.op, []).append((group, gid))
            sc.setJobGroup(gid, name)
        idx = len(self.spans)
        self.spans.append({"name": name, "layer": layer, "op": self.op,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(prev_group, "")

    @contextlib.contextmanager
    def operation(self, op_id: str):
        """Root span of one unit of work: a refresh or a suite pass."""
        self.op = op_id
        with self.span(op_id, "op", group="op"):
            yield

    def self_times(self, op_id: str) -> dict[str, float]:
        """Per-layer self time of one op: each span's duration minus the
        part covered by its direct children. The values sum to the op's
        wall time because child spans nest inside their parent."""
        idx = [i for i, s in enumerate(self.spans) if s["op"] == op_id]
        out: dict[str, float] = {}
        for i in idx:
            s = self.spans[i]
            child = sum(c["end"] - c["start"] for c in self.spans
                        if c["op"] == op_id and c["parent"] == i)
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - child)
        return out

    def group_ids(self, op_id: str, label: str | None = None) -> list[str]:
        """Job groups the op's spans set, all or only those with ``label``."""
        return [g for lbl, g in self.groups.get(op_id, [])
                if label is None or lbl == label]

    def wall(self, op_id: str) -> float:
        """Duration of the op's root span."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["op"] == op_id and s["parent"] is None)


def spark_counters(spark: SparkSession, group_ids: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks and executor task metrics of every job launched
    under ``group_ids``, from ``statusTracker`` and the status store.
    Skipped stages (reused shuffle output) count as neither stages nor
    tasks."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    jobs: set[int] = set()
    for g in group_ids:
        jobs.update(st.getJobIdsForGroup(g))
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = {"spark.jobs": float(len(jobs)), "spark.stages": 0.0,
           "spark.tasks": 0.0, "spark.failed_tasks": 0.0,
           "spark.task_run_s": 0.0, "spark.task_cpu_s": 0.0, "spark.gc_s": 0.0,
           "spark.shuffle_write_bytes": 0.0, "spark.spill_bytes": 0.0}
    for s in stages:
        attempts = store.stageData(s, False, no_status, False, no_quantiles)
        for k in range(attempts.size()):
            d = attempts.apply(k)
            if d.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += d.numCompleteTasks() + d.numFailedTasks()
            out["spark.failed_tasks"] += d.numFailedTasks()
            out["spark.task_run_s"] += d.executorRunTime() / 1e3
            out["spark.task_cpu_s"] += d.executorCpuTime() / 1e9
            out["spark.gc_s"] += d.jvmGcTime() / 1e3
            out["spark.shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spark.spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
    return out


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def peak_rss_mb() -> float:
    """Summed peak resident set (VmHWM) of this process and every live
    descendant: the Spark driver JVM, the Python worker daemon and its
    workers."""
    tree = _children()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def write_trace(work: str, workload: str, seed: int, spans: list[dict]) -> str:
    d = os.path.join(work, "trace")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-s{seed}.json")
    with open(path, "w") as f:
        json.dump(spans, f)
    return path


def rollup(spans: list[dict]) -> str:
    """Per-layer self time over the traced ops: median seconds per op and
    share of the summed op wall, plus the largest gap between an op's
    wall and the sum of its layers' self times."""
    tracer = Tracer(None, False)
    tracer.spans = spans
    ops = [s["op"] for s in spans if s["parent"] is None]
    per_op = [tracer.self_times(op) for op in ops]
    walls = [tracer.wall(op) for op in ops]
    layers = sorted({k for t in per_op for k in t},
                    key=lambda k: -sum(t.get(k, 0.0) for t in per_op))
    total = sum(walls) or 1.0
    lines = [f"{'layer':<28}{'self s/op (median)':>20}{'share':>8}"]
    for k in layers:
        vals = [t.get(k, 0.0) for t in per_op]
        lines.append(f"{k:<28}{statistics.median(vals):>20.4f}"
                     f"{sum(vals) / total:>8.1%}")
    gap = max((abs(sum(t.values()) - w) for t, w in zip(per_op, walls)), default=0.0)
    lines.append(f"{len(ops)} traced ops; max |sum(self) - wall| = {gap:.2e} s")
    return "\n".join(lines)
