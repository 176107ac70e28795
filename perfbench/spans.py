"""Spans around the calls into each layer, and process-tree resource counters.

A :class:`Tracer` runs every layer call the workloads make. Untraced, it
only calls through. Traced, it tags the Spark jobs a call submits with a job
group of its own, records the span's wall time and its parent, and after the
session stops reads the Spark event log to give each span its jobs, tasks,
shuffle bytes, spill, GC and executor time. Counters go to the innermost
span that was open when the job ran, so they are self counters.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql import DataFrame


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.phase = "setup"

    def call(self, name: str, fn, *args, keep: bool = False, **kwargs):
        """Run ``fn(*args, **kwargs)`` as layer ``name``. ``keep`` marks an
        output the workload reuses: it is checkpointed at once, in traced and
        untraced runs alike, as a user of the layer would cache it. Traced,
        every DataFrame a layer returns is checkpointed inside its span, so
        the layer's work is paid at its own boundary."""
        if not self.enabled:
            out = fn(*args, **kwargs)
            return out.localCheckpoint(eager=True) if keep else out
        sc = self.spark.sparkContext
        span = {"name": name, "group": f"span-{len(self.spans)}", "phase": self.phase,
                "child_s": 0.0}
        parent = self._stack[-1] if self._stack else None
        self.spans.append(span)
        self._stack.append(span)
        sc.setJobGroup(span["group"], name)
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
            return out
        finally:
            span["wall_s"] = time.perf_counter() - t0
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += span["wall_s"]
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a traced call-through, so calls the
        program makes internally (``solve_ratings`` inside
        ``ratings_per_date``) get spans of their own."""
        inner = getattr(module, attr)

        def traced(*args, **kwargs):
            return self.call(name, inner, *args, **kwargs)

        setattr(module, attr, traced)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write one uncompressed, unrolled event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def group_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, shuffle bytes written, disk spill, GC ms,
    executor run ms and output bytes written, read from the event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    c = out[group]
                    c["tasks"] += 1
                    c["executor_ms"] += m.get("Executor Run Time", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    c["bytes_written"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
    return out


def layer_metrics(spans: list[dict], counters: dict, layers: list[tuple[str, str]],
                  n_passes: int) -> dict[str, float]:
    """Per layer, each statistic summed over the warm passes' spans and
    divided by ``n_passes``. ``queries.solver`` is the sum over the solver
    queries, each of which also reports its own wall time and job count."""
    tot: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["phase"] != "warm":
            continue
        c = counters.get(s["group"], {})
        keys = [s["name"]]
        if s["name"].startswith("queries.solver."):
            keys.append("queries.solver")
        for key in keys:
            t = tot[key]
            t["wall_s"] += s["wall_s"]
            t["self_s"] += s["wall_s"] - s["child_s"]
            t["calls"] += 1
            for stat in ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_ms",
                         "executor_ms", "bytes_written"):
                t[stat] += c.get(stat, 0.0)
    n = max(n_passes, 1)
    return {f"{layer}.{stat}": tot[layer][stat] / n for layer, stat in layers}


class TreeSampler:
    """CPU seconds and peak resident memory of this process and every
    process below it (the JVM and the Python workers), read from ``/proc``.
    CPU is read on demand. Peak memory is sampled every ``interval`` seconds
    by a thread that runs only inside ``with``: ``peak_rss`` is the sum over
    every process seen of its own high-water mark (``VmHWM``), which the
    kernel keeps exactly, so it does not depend on when a sample falls."""

    def __init__(self, interval: float = 0.5):
        self._hwm: dict[int, int] = {}
        self._interval = interval
        self._stop = threading.Event()
        self._tick = os.sysconf("SC_CLK_TCK")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def pids(self) -> list[int]:
        return [pid for pid, _ in self._tree()]

    def _tree(self) -> list[tuple[int, list[str]]]:
        stats = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            # fields after the parenthesised command name
            stats[int(pid)] = raw[raw.rindex(")") + 2:].split()
        children = defaultdict(list)
        for pid, f in stats.items():
            children[int(f[1])].append(pid)
        todo, tree = [os.getpid()], []
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree.append((pid, stats[pid]))
            todo.extend(children.get(pid, ()))
        return tree

    def cpu_s(self) -> float:
        """User + system CPU of the tree, counting reaped children."""
        return sum(sum(int(x) for x in f[11:15]) for _, f in self._tree()) / self._tick

    @property
    def peak_rss(self) -> int:
        return sum(self._hwm.values())

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> None:
        for pid, _ in self._tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self._hwm[pid] = max(self._hwm.get(pid, 0), kb * 1024)
                            break
            except OSError:
                continue
