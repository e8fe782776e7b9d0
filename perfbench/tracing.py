"""Measurement helpers for the benchmark: spans, Spark task counters and
process-tree memory.

Nothing here imports curator_spark; the benchmark wraps its calls into
the library's public functions with these helpers, so the program under
test carries no instrumentation of its own.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    vals = sorted(values)
    return float(vals[max(0, math.ceil(q / 100.0 * len(vals)) - 1)])


def median(values) -> float:
    return float(statistics.median(values))


class Tracer:
    """In-memory span recorder: name, start, end, parent span and the id
    of the operation the span belongs to. Disabled tracers cost one
    attribute check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0
        self.bookkeeping_s = 0.0

    def new_op(self) -> None:
        self.op_id += 1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, dict]:
        """Per span path ('a/b/c'): count, total seconds and self seconds
        (duration minus the time its child spans cover; children run
        sequentially on one thread, so their durations simply add)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            path, p = [s["name"]], s["parent"]
            while p is not None:
                path.append(self.spans[p]["name"])
                p = self.spans[p]["parent"]
            key = "/".join(reversed(path))
            d = s["end"] - s["start"]
            agg = out.setdefault(key, {"count": 0, "total_s": 0.0,
                                       "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child_s[s["id"]]
        return out

    def tree_lines(self) -> list[str]:
        rows = self.self_times()
        lines = []
        for key in sorted(rows):
            r = rows[key]
            depth = key.count("/")
            lines.append(f"{'  ' * depth}{key.rsplit('/', 1)[-1]:<28} "
                         f"n={r['count']:<4d} total={r['total_s']:.3f}s "
                         f"self={r['self_s']:.3f}s")
        return lines


class SparkStages:
    """Task-metric deltas read from Spark's application status store (the
    data behind the Spark UI, kept with the UI disabled). `take()` returns
    the totals of every stage that started since the previous call."""

    FIELDS = ("stages", "tasks", "failed_tasks", "run_ms",
              "shuffle_read_b", "input_b", "input_records")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.last_stage = -1
        self.last_job = -1
        self.take()

    def _stage_list(self):
        # py4j cannot use Scala default arguments: pass all five
        jvm = self.sc._jvm
        return self.store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())

    def take(self) -> dict[str, int]:
        tot = dict.fromkeys(self.FIELDS, 0)
        top = self.last_stage
        it = self._stage_list().iterator()
        while it.hasNext():  # newest stage first
            s = it.next()
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            top = max(top, sid)
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks()
            tot["failed_tasks"] += s.numFailedTasks()
            tot["run_ms"] += s.executorRunTime()
            tot["shuffle_read_b"] += s.shuffleReadBytes()
            tot["input_b"] += s.inputBytes()
            tot["input_records"] += s.inputRecords()
        self.last_stage = top
        jobs = self.store.jobsList(None)
        newest = jobs.apply(0).jobId() if jobs.length() else -1
        tot["jobs"] = max(0, newest - self.last_job)
        self.last_job = max(self.last_job, newest)
        return tot


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """The pid and every live descendant (JVM, Python workers)."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Peak resident set (VmHWM) of every live process in the tree, summed
    per command name ('python3', 'java', ...). Their total bounds the
    tree's simultaneous peak from above and costs nothing while the
    workload runs."""
    out: dict[str, float] = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(
                fields["VmHWM"].split()[0]) / 1024.0
    return out
