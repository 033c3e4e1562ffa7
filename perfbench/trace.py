"""Spans around calls into the engine's layers, and the fold of Spark's
event log per span.

A span wraps one call from the benchmark into a layer's public function.
Spark is lazy, so a traced span also materializes the call's output: a
returned DataFrame is persisted and written to the ``noop`` sink inside
the span, and the next span reads the cached rows. Each span runs under
``setJobGroup(<span name>)``, which tags every Spark job it starts; the
event log then yields task, CPU, GC, shuffle, spill and Python-worker
time per span name. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PYTHON_RUN_METRIC = "time to run Python workers"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span, None at top level
    iteration: int

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            p = spans[sp.parent]
            kids[sp.parent].append((max(sp.start, p.start), min(sp.end, p.end)))
    return [sp.duration - _covered(kids.get(i, [])) for i, sp in enumerate(spans)]


class Tracer:
    """Span recorder. Disabled, ``call`` just runs the function: the
    untraced run executes exactly the calls a user would make."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = -1
        self._stack: list[int] = []
        self._persisted: list = []

    def _set_group(self, name: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.iteration))
        self._stack.append(idx)
        self._set_group(name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].name if self._stack else None)

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` inside span ``name``; a DataFrame
        result is persisted and materialized inside the span."""
        if not self.enabled:
            return fn(*args, **kwargs)
        from pyspark.sql import DataFrame

        with self.span(name):
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.persist()
                self._persisted.append(out)
                out.write.format("noop").mode("overwrite").save()
        return out

    def end_iteration(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        self.iteration += 1

    def by_name(self) -> dict[str, list[float]]:
        """Self times grouped by span name."""
        out: dict[str, list[float]] = defaultdict(list)
        for sp, st in zip(self.spans, self_times(self.spans)):
            out[sp.name].append(st)
        return out

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for sp, st in zip(self.spans, selfs):
                f.write(json.dumps(dict(vars(sp), self_s=st)) + "\n")


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """Event files of the one application logged under ``log_dir``, in
    order: a rolling log (``eventlog_v2_*/events_<n>_*``) or a single
    plain file."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )


def _join_accumulators(plan: dict) -> set[int]:
    """Accumulator ids of the "number of output rows" metric of every
    join node in a SparkPlanInfo tree."""
    out, todo = set(), [plan]
    while todo:
        node = todo.pop()
        if "Join" in node.get("nodeName", ""):
            out.update(
                m["accumulatorId"] for m in node.get("metrics", [])
                if m["name"] == "number of output rows"
            )
        todo.extend(node.get("children", []))
    return out


def _skew(stage_runs: list[list[int]]) -> float:
    """Max over median task run time of each stage with >= 2 tasks,
    averaged with the stages' total task time as weights, so the heavy
    stages set it. 1.0 when no stage has two tasks."""
    num = den = 0.0
    for runs in stage_runs:
        if len(runs) < 2:
            continue
        med = max(statistics.median(runs), 1.0)  # run times are whole ms
        w = float(sum(runs))
        num += w * (max(runs) / med)
        den += w
    return num / den if den else 1.0


def fold_event_log(paths: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: ``task_s``, ``cpu_s``, ``gc_s``, ``input_bytes``,
    ``shuffle_write_bytes``, ``spill_bytes``, ``python_s``, ``skew`` and
    ``join_rows`` (the largest output-row count of any join node, i.e.
    the candidate rows of a cell-bucketed join), summed over every job
    of the group. Jobs outside any group are ignored."""
    stage_group: dict[int, str] = {}
    group_execs: dict[str, set[int]] = defaultdict(set)
    exec_joins: dict[int, set[int]] = defaultdict(set)
    acc_sum: dict[int, int] = defaultdict(int)
    runs: dict[int, list[int]] = defaultdict(list)
    tot: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                    if props.get("spark.sql.execution.id") is not None:
                        group_execs[group].add(int(props["spark.sql.execution.id"]))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    exec_joins[ev["executionId"]] |= _join_accumulators(ev["sparkPlanInfo"])
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    t = tot[group]
                    t["task_s"] += tm["Executor Run Time"] / 1e3
                    t["cpu_s"] += tm["Executor CPU Time"] / 1e9
                    t["gc_s"] += tm["JVM GC Time"] / 1e3
                    t["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                    t["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    t["spill_bytes"] += tm["Disk Bytes Spilled"]
                    runs[ev["Stage ID"]].append(tm["Executor Run Time"])
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Metadata") != "sql":
                            continue
                        upd = int(acc["Update"])
                        acc_sum[acc["ID"]] += upd
                        if acc["Name"] == PYTHON_RUN_METRIC:
                            t["python_s"] += upd / 1e3

    out: dict[str, dict[str, float]] = {}
    for group in set(tot) | set(group_execs):
        row = dict(tot.get(group, {}))
        stages = [runs[s] for s, g in stage_group.items() if g == group]
        row["skew"] = _skew(stages)
        joins = set().union(*(exec_joins[e] for e in group_execs.get(group, ())))
        row["join_rows"] = float(max((acc_sum[a] for a in joins), default=0))
        out[group] = row
    return out
