"""What the benchmark measures from outside the package.

- Host and process counters read from ``/proc``: CPU seconds of this
  process and every descendant (the driver JVM and its Python workers),
  host steal share, and the JVM's peak resident set.
- ``Tracer``: spans around the benchmark's own calls into the package's
  layers. Each span sets a Spark job group, so ``statusTracker`` counts
  its jobs and the event log attributes stage and task metrics to it.
  Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        kids[int(fields[1])].append(int(entry))
    return kids


def descendants() -> list[int]:
    """This process and every process below it."""
    kids, out = _children(), []
    todo = [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU of this process tree, including reaped children."""
    total = 0
    for p in descendants():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def jvm_pid() -> int | None:
    for p in descendants():
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    return p
        except OSError:
            continue
    return None


def jvm_peak_rss_mb() -> float:
    pid = jvm_pid()
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Window:
    """Wall, tree CPU and host steal over one measured interval."""

    def __init__(self):
        self.t0, self.cpu0, self.host0 = time.perf_counter(), tree_cpu_s(), host_cpu_ticks()

    def close(self) -> dict[str, float]:
        return {
            "wall_s": time.perf_counter() - self.t0,
            "cpu_s": tree_cpu_s() - self.cpu0,
            "steal_frac": steal_frac(self.host0, host_cpu_ticks()),
        }


class Tracer:
    """Spans around calls into the package's layers.

    Disabled, ``span`` only yields: the untraced run sets no job group and
    records nothing. Enabled, every span gets its own job group; jobs of a
    nested span belong to the nested span alone.
    """

    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext if enabled else None
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans) + len(self._stack)  # spans started so far
        rec = {
            "id": sid,
            "group": f"{self.run_id}-{sid}",
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            **attrs,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def self_time(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part its direct children cover."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


TASK_FIELDS = {
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "shuffle_read_bytes": lambda m: sum(
        m.get("Shuffle Read Metrics", {}).get(k, 0)
        for k in ("Remote Bytes Read", "Local Bytes Read")
    ),
    "shuffle_write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    ),
    "spill_bytes": lambda m: m.get("Memory Bytes Spilled", 0)
    + m.get("Disk Bytes Spilled", 0),
    "input_bytes": lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0),
    "input_records": lambda m: m.get("Input Metrics", {}).get("Records Read", 0),
    "output_bytes": lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0),
}


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: stages and tasks run, and task metrics summed.

    Stages map to groups through the properties of their submission, so a
    stage counts for the span that was open when its job started.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                    out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                metrics = ev.get("Task Metrics")
                if group is None or metrics is None:
                    continue
                agg = out[group]
                agg["tasks"] += 1
                for name, read in TASK_FIELDS.items():
                    agg[name] += read(metrics)
    return {g: dict(v) for g, v in out.items()}
