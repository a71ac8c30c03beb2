"""Measurement from outside the engine: spans, job-group tags, Spark's own
task and SQL metrics, Python UDF time, and process memory.

Spans are kept in memory. Task and SQL metrics come from Spark's event
log, which the traced run turns on through ``get_spark(extra_conf=...)``;
each op runs under its own job group, so every task and SQL metric is
attributed to the op that caused it. Python time comes from Spark's UDF
profiler (``spark.sql.pyspark.udf.profiler=perf``), read and cleared
around each op.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("name", "start", "end", "parent", "iteration")

    def __init__(self, name, start, parent, iteration):
        self.name, self.start, self.end = name, start, None
        self.parent, self.iteration = parent, iteration

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans with parents, per iteration. While ``enabled`` is False a
    span records nothing, so untraced iterations pay no tracing cost."""

    def __init__(self):
        self.enabled = False
        # perf_counter -> wall clock, to line spans up with Spark's task times
        self.wall_offset = time.time() - time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, iteration: int):
        return _SpanCtx(self, name, iteration)

    def self_times(self, iteration: int) -> dict[str, float]:
        """{span name: self time} for one iteration: duration minus the
        part covered by child spans (children never overlap here: one
        client, one call at a time)."""
        child = defaultdict(float)
        mine = [s for s in self.spans if s.iteration == iteration]
        for s in mine:
            if s.parent is not None:
                child[id(s.parent)] += s.duration
        out = defaultdict(float)
        for s in mine:
            out[s.name] += s.duration - child[id(s)]
        return dict(out)


class _SpanCtx:
    def __init__(self, tracer, name, iteration):
        self.t, self.name, self.iteration = tracer, name, iteration

    def __enter__(self):
        if self.t.enabled:
            parent = self.t._stack[-1] if self.t._stack else None
            self.s = Span(self.name, time.perf_counter(), parent, self.iteration)
            self.t._stack.append(self.s)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.s.end = time.perf_counter()
            self.t._stack.pop()
            self.t.spans.append(self.s)
        return False


RSS_INTERVAL_S = 0.05


def descendants(root: int) -> list[int]:
    """Pids of every process under ``root``, from /proc."""
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak resident memory of every descendant process of this one (the
    driver JVM and its Python workers), sampled from /proc every
    RSS_INTERVAL_S."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _loop(self):
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def start(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


def python_profile(spark) -> tuple[float, dict[str, float]]:
    """Read and clear the UDF perf profiles -> (total Python time,
    {function name: cumulative time}). The total sums internal time over
    every profiled function; a UDF body's own name gives its share."""
    total, cum = 0.0, defaultdict(float)
    for st in spark.profile.profiler_collector._perf_profile_results.values():
        total += st.total_tt
        for (_file, _line, func), (_cc, _nc, _tt, ct, _callers) in st.stats.items():
            cum[func] += ct
    spark.profile.clear(type="perf")
    return total, dict(cum)


# ---------------------------------------------------------------- event log


class GroupMetrics:
    """Task and SQL metrics of every job run under one job group."""

    def __init__(self):
        self.tasks = []  # (stage, launch_ms, finish_ms, run_s, cpu_s, records_in)
        self.shuffle_bytes = 0
        self.spill_bytes = 0
        self.peak_exec_mem = 0
        self.jobs = 0
        self.executions: set[int] = set()

    @property
    def task_s(self) -> float:
        return sum(t[3] for t in self.tasks)

    @property
    def cpu_s(self) -> float:
        return sum(t[4] for t in self.tasks)

    def _main_stage(self):
        by_stage = defaultdict(float)
        for t in self.tasks:
            by_stage[t[0]] += t[3]
        return max(by_stage, key=by_stage.get) if by_stage else None

    def task_skew(self) -> float:
        """max / median task time in the group's costliest stage."""
        st = self._main_stage()
        times = [t[3] for t in self.tasks if t[0] == st]
        med = statistics.median(times) if times else 0.0
        return max(times) / med if med > 0 else 0.0

    def records_skew(self) -> float:
        """max / median records read per task, in the stage that read the
        most records (the join stage of a shuffle join)."""
        by_stage = defaultdict(list)
        for t in self.tasks:
            by_stage[t[0]].append(t[5])
        if not by_stage:
            return 0.0
        recs = max(by_stage.values(), key=sum)
        med = statistics.median(recs)
        return max(recs) / med if med > 0 else 0.0

    def busy_intervals(self):
        return sorted((t[1] / 1000.0, t[2] / 1000.0) for t in self.tasks)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def driver_and_idle(gm: GroupMetrics, span_lo: float, span_hi: float, cores: int):
    """(seconds of the span with no task running, 1 - task time / (span x cores)).
    Span bounds are wall-clock seconds (time.time())."""
    span = max(span_hi - span_lo, 1e-9)
    busy = _covered(gm.busy_intervals(), span_lo, span_hi)
    return span - busy, max(0.0, 1.0 - gm.task_s / (span * cores))


class EventLog:
    """Parse the Spark event logs in a directory into per-group metrics."""

    def __init__(self, log_dir: str):
        self.groups: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
        self.sql_values: dict[int, int] = defaultdict(int)  # accumulator id -> total
        self.plans: dict[int, dict] = {}  # execution id -> latest plan info
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            if os.path.isfile(path):
                self._parse(path)

    def _parse(self, path: str):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # the cut-off end of a killed JVM's log
                    break
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    gm = self.groups[group]
                    gm.jobs += 1
                    if "spark.sql.execution.id" in props:
                        gm.executions.add(int(props["spark.sql.execution.id"]))
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    for acc in info.get("Accumulables", []):
                        if isinstance(acc.get("Update"), (int, float)) or str(
                                acc.get("Update", "")).lstrip("-").isdigit():
                            self.sql_values[acc["ID"]] += int(acc["Update"])
                    if group is None:
                        continue
                    gm = self.groups[group]
                    sr = m.get("Shuffle Read Metrics", {})
                    records = (sr.get("Total Records Read", 0)
                               + m.get("Input Metrics", {}).get("Records Read", 0))
                    gm.tasks.append((ev["Stage ID"], info.get("Launch Time", 0),
                                     info.get("Finish Time", 0),
                                     m.get("Executor Run Time", 0) / 1000.0,
                                     m.get("Executor CPU Time", 0) / 1e9, records))
                    gm.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    gm.spill_bytes += m.get("Memory Bytes Spilled", 0)
                    gm.peak_exec_mem = max(gm.peak_exec_mem, m.get("Peak Execution Memory", 0))
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    self.plans[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind.endswith("DriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        self.sql_values[acc_id] += int(value)

    def _metric(self, node: dict, name: str) -> int:
        for m in node.get("metrics", []):
            if m["name"] == name:
                return self.sql_values.get(m["accumulatorId"], 0)
        return 0

    def _walk(self, node):
        yield node
        for c in node.get("children", []):
            yield from self._walk(c)

    def _rows_below(self, node) -> int:
        """Rows produced by the nearest node under the first child that
        counts its rows."""
        for d in self._walk(node["children"][0]) if node.get("children") else ():
            if any(m["name"] == "number of output rows" for m in d.get("metrics", [])):
                return self._metric(d, "number of output rows")
        return 0

    def python_rows(self, group: str, node_name: str) -> tuple[int, int]:
        """(rows into the group's ``node_name`` plan nodes, rows out of
        them); the node's first child is its data input. A node that
        appears in several plans of one execution counts once."""
        seen, rows_in, rows_out = set(), 0, 0
        for node in self._nodes(group):
            out_id = next((m["accumulatorId"] for m in node.get("metrics", [])
                           if m["name"] == "number of output rows"), None)
            if node.get("nodeName") == node_name and out_id not in seen:
                seen.add(out_id)
                rows_in += self._rows_below(node)
                rows_out += self._metric(node, "number of output rows")
        return rows_in, rows_out

    def _nodes(self, group: str):
        gm = self.groups.get(group)
        for ex in sorted(gm.executions) if gm else ():
            if ex in self.plans:
                yield from self._walk(self.plans[ex])

    def sql_metric(self, group: str, name: str) -> int:
        """Sum of a SQL metric over every plan node of a group."""
        ids = {m["accumulatorId"] for n in self._nodes(group)
               for m in n.get("metrics", []) if m["name"] == name}
        return sum(self.sql_values.get(i, 0) for i in ids)
