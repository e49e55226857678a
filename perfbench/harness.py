"""Timing, spans and Spark counters for the benchmark client.

A ``Recorder`` times every client operation from outside the engine:
one root span per operation, with child spans around the lazy call
(plan) and the action. With tracing on, each operation also runs under
its own Spark job group, and after the session stops the uncompressed
event log is parsed into per-group task counts, CPU time, shuffle and
spill bytes. Spans stay in memory until ``write_spans``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class Recorder:
    """Operation and span log for one benchmark run.

    ``op(kind)`` opens an operation span and, when tracing, a Spark job
    group named after the operation id; ``span(name)`` opens a child
    span of the innermost open span. Durations use ``perf_counter``."""

    def __init__(self, spark=None, traced: bool = False):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []  # name, start, end, parent, op
        self.ops: list[dict] = []  # id, kind, ms, plan_ms, ok, group
        self._stack: list[int] = []
        self._groups: list[tuple[str, str]] = []  # open (job group, kind)
        self._next_op = 0

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        op_id = self.spans[parent]["op"] if parent is not None else None
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None,
             "parent": parent, "op": op_id}
        )
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextmanager
    def op(self, kind: str):
        """Time one client operation. Yields the op record; the caller
        may set ``rec["result"]`` and other fields. Operations nest: an
        inner one is a child span of the outer one and has its own job
        group while it runs."""
        op_id = self._next_op
        self._next_op += 1
        group = f"op{op_id}"
        rec = {"id": op_id, "kind": kind, "ok": True, "group": group}
        sc = self.spark.sparkContext if self.traced else None
        outer = self._groups[-1] if self._groups else None
        if sc is not None:
            sc.setJobGroup(group, kind)
        self._groups.append((group, kind))
        idx = len(self.spans)
        self.spans.append(
            {"name": kind, "start": time.perf_counter(), "end": None,
             "parent": self._stack[-1] if self._stack else None, "op": op_id}
        )
        self._stack.append(idx)
        try:
            yield rec
        except Exception:
            # A failed call is a counted failure, not the end of the run.
            rec["ok"] = False
            print(f"perfbench: {kind} failed\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            del self._stack[self._stack.index(idx):]
            self._groups.pop()
            end = time.perf_counter()
            self.spans[idx]["end"] = end
            rec["ms"] = (end - self.spans[idx]["start"]) * 1e3
            rec["plan_ms"] = sum(
                (s["end"] - s["start"]) * 1e3
                for s in self.spans[idx + 1:]
                if s["parent"] == idx and s["name"] == "plan"
            )
            if sc is not None:
                if outer is not None:
                    sc.setJobGroup(*outer)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.ops.append(rec)

    def self_time_gap_ms(self) -> float:
        """Largest |sum of span self times - wall time| over top-level
        operations, all nested spans included: 0 up to float rounding
        when every span nests inside its parent."""
        root, child_sum = [], [0.0] * len(self.spans)
        for i, s in enumerate(self.spans):
            root.append(i if s["parent"] is None else root[s["parent"]])
            if s["parent"] is not None:
                child_sum[s["parent"]] += s["end"] - s["start"]
        selfs: dict[int, float] = {}
        for i, s in enumerate(self.spans):
            selfs[root[i]] = selfs.get(root[i], 0.0) + (s["end"] - s["start"]) - child_sum[i]
        return max(
            (abs(v - (self.spans[r]["end"] - self.spans[r]["start"])) * 1e3
             for r, v in selfs.items()),
            default=0.0,
        )

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def op_summary(ops: list[dict], kinds: list[str]) -> float:
    """Geometric mean over operation kinds of each kind's median wall
    time: weighs every kind equally whatever the seeded mix drew."""
    return geomean([median([o["ms"] for o in ops if o["kind"] == k]) for k in kinds])


def kind_layers(ops, groups, kinds, qtys) -> dict[str, float]:
    """``<kind>.<qty>`` medians over the traced ops of each kind. ms and
    plan_ms come from the spans; the other quantities from the event
    log, summed per op (job group) first."""
    out = {}
    for kind in kinds:
        mine = [o for o in ops if o["kind"] == kind]
        for q in qtys:
            if q in ("ms", "plan_ms"):
                vals = [o[q] for o in mine]
            else:
                vals = [groups.get(o["group"], {}).get(q, 0) for o in mine]
            out[f"{kind}.{q}"] = median(vals)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Plain-JSON event log: Spark 4.1 defaults to zstd and rolling
    directories, which a line-by-line parser cannot read."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, cpu_ms, shuffle_bytes (written),
    spill_bytes (memory + disk) and the task durations (ms)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(group):
        return out.setdefault(
            group,
            {"jobs": 0, "tasks": 0, "cpu_ms": 0.0, "shuffle_bytes": 0,
             "spill_bytes": 0, "task_ms": []},
        )

    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    b = bucket(group)
                    b["tasks"] += 1
                    info = ev.get("Task Info", {})
                    b["task_ms"].append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
                    m = ev.get("Task Metrics") or {}
                    b["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    b["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then close the JVM's stdin (PySpark's gateway
    exits on EOF) and wait for the JVM process to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)


# ---------------------------------------------------------------------------
# Process memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over this process and all its
    descendants: the Python client plus the JVM that runs Spark and any
    Python workers alive at the time of the call."""
    kids = _children()
    todo, total_kb = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
