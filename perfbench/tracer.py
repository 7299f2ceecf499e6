"""Spans, /proc process-tree cpu and Spark event-log counts for the traced run.

A span is recorded around each call the benchmark makes into the engine:
name, start, end, parent span, and the id of the op it belongs to.  While a
span is open its id is the thread's Spark job group, so every job the engine
submits inside it can be attributed from the event log after the session
stops.  Spans stay in memory; :func:`fold_spans` adds durations, self times
and counts to them at exit.

With tracing off every method is a no-op, so the untraced run that produces
the end-to-end numbers pays nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: str) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own user s, reaped children's user s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm is parenthesised and may contain spaces: split after the last ')'
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    return comm, int(f[1]), int(f[11]) / CLK_TCK, int(f[13]) / CLK_TCK


def _proc_table() -> dict[int, tuple[str, int, float, float]]:
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st is not None:
                stats[int(pid)] = st
    return stats


def _subtree(root_pid: int, stats: dict) -> list[int]:
    """``root_pid`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    found, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def tree_cpu(root_pid: int) -> dict[str, float]:
    """User cpu seconds of ``root_pid`` and its descendants, split into the
    driver (``root_pid``), the JVM (``java``) and the Python workers (every
    other descendant).  A worker that exited is counted through its
    parent's children-time once reaped, so children-time of the JVM and of
    the workers is worker time."""
    stats = _proc_table()
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in _subtree(root_pid, stats):
        comm, _ppid, user, child_user = stats[pid]
        if pid == root_pid:
            out["driver"] += user
        elif comm == "java":
            out["jvm"] += user
            out["pyworker"] += child_user
        else:
            out["pyworker"] += user + child_user
    return out


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    return _subtree(root_pid, _proc_table())[1:]


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes it free."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | str | None = None
        self.sc = None  # SparkContext, set once the session exists
        #: seconds spent in the tracer's own bookkeeping, per op id
        self.cost: dict = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "cpu0": tree_cpu(os.getpid())}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu1"] = tree_cpu(os.getpid())
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.cost[self.op_id] = (self.cost.get(self.op_id, 0.0)
                                     + rec["start"] - t0
                                     + time.perf_counter() - rec["end"])

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                None if span_id is None else f"span-{span_id}")

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call (for bindings the engine
        calls internally, e.g. ``build_lens`` inside the cascade)."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, executor cpu, GC, shuffle-write
    and spill, folded from the Spark event log files in ``log_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = {}

    def g(name: str) -> dict[str, float]:
        return groups.setdefault(name, dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
             "shuffle_write_mb", "spill_mb"), 0.0))

    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "none"
                    g(grp)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g(stage_group.get(sid, "none"))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    rec = g(stage_group.get(ev.get("Stage ID"), "none"))
                    rec["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_mb"] += sw.get(
                        "Shuffle Bytes Written", 0) / 1e6
                    rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0)) / 1e6
    return groups


SPARK_KEYS = ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
              "shuffle_write_mb", "spill_mb")


def fold_spans(spans: list[dict], groups: dict[str, dict[str, float]]) -> None:
    """Add to each span its duration, self time (duration minus the time its
    children cover; children run sequentially on the one client thread),
    per-process cpu and inclusive Spark counts."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["dur"] = s["end"] - s["start"]
        s["self"] = s["dur"]
        for k in ("driver", "jvm", "pyworker"):
            s[f"{k}_cpu_s"] = s["cpu1"][k] - s["cpu0"][k]
        own = groups.get(f"span-{s['id']}", {})
        for k in SPARK_KEYS:
            s[k] = own.get(k, 0.0)
    # children have larger ids than their parents: fold bottom-up
    for s in sorted(spans, key=lambda s: -s["id"]):
        p = by_id.get(s["parent"])
        if p is not None:
            p["self"] -= s["dur"]
            for k in SPARK_KEYS:
                p[k] += s[k]
    for s in spans:
        del s["cpu0"], s["cpu1"]


def median_of(spans: list[dict], name: str) -> float:
    vals = [s["dur"] for s in spans if s["name"] == name]
    return statistics.median(vals) if vals else 0.0


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["self"]
    return out
