"""Spans, the Spark event-log parser and the process-tree RSS sampler.

Spans are recorded only around the benchmark's own calls into the
engine (workload -> pass -> op -> build/exec), kept in memory and
written out once at the end. The event log of a traced run is parsed
after the session stops; each Spark job is attributed to the op span
whose job group it carries, or, for jobs started on other threads
(streaming micro-batches), to the op span that was open when it was
submitted.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class Tracer:
    """In-memory span recorder; ``span`` is a context manager yielding
    the span dict. Untraced runs use it too: op latencies are span
    durations either way."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.rec: dict = {}

    def __enter__(self) -> dict:
        t = self.tracer
        self.rec = {
            "id": len(t.spans),
            "parent": t._stack[-1] if t._stack else None,
            "name": self.name,
            "kind": self.attrs.pop("kind", "op"),
            **self.attrs,
            "start": time.time(),
            "end": None,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        self.rec["_t0"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["dur"] = time.perf_counter() - self.rec.pop("_t0")
        self.rec["end"] = time.time()
        self.tracer._stack.pop()


# ---------------------------------------------------------------------------
# event log


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir`` (plain or
    rolling ``eventlog_v2_*`` layout, uncompressed)."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]

    def order(p: str):
        base = os.path.basename(p)
        part = base.split("_")[1] if base.startswith("events_") else "0"
        return (os.path.dirname(p), int(part) if part.isdigit() else 0, base)

    events = []
    for p in sorted(files, key=order):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _acc(task_info: dict, name: str) -> int:
    return sum(
        int(a.get("Update") or 0)
        for a in task_info.get("Accumulables", [])
        if a.get("Name") == name and str(a.get("Update", "")).lstrip("-").isdigit()
    )


def summarize_events(events: list[dict], op_spans: list[dict], cores: int) -> dict:
    """Attribute jobs, tasks and streaming progress to op spans.

    Returns ``{"ops": {span_id: counters}, "spark": {...}, "progress":
    [...]}`` where the per-op counters are jobs, tasks, shuffle, Python
    and input bytes and input records; ``progress`` lists the streaming
    micro-batches that started inside the spans' time range (query
    name, input rows, trigger duration, enclosing op); ``spark`` holds the task
    totals over those spans, the idle-core share of their wall time and
    the mean max/median task-time ratio of their multi-task stages.
    Jobs outside every given span are ignored."""
    by_id = {s["id"]: s for s in op_spans}
    ordered = sorted(op_spans, key=lambda s: s["start"])

    def at(t_ms: float) -> int | None:
        t = t_ms / 1000.0
        for s in ordered:
            if s["start"] <= t <= s["end"]:
                return s["id"]
        return None

    stage_op: dict[int, int | None] = {}
    ops: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    tot = defaultdict(float)
    progress: list[dict] = []
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
            sid = int(grp[5:]) if grp and grp.startswith("span-") else None
            if sid not in by_id:
                sid = at(e.get("Submission Time", 0))
            for st in e.get("Stage IDs", []):
                stage_op[st] = sid
            if sid is not None:
                ops[sid]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_op.get(e.get("Stage ID"))
            if sid is None:
                continue  # outside every op span passed in
            tm = e.get("Task Metrics") or {}
            ti = e.get("Task Info") or {}
            run_ms = tm.get("Executor Run Time", 0)
            stage_tasks[e.get("Stage ID")].append(run_ms)
            tot["tasks"] += 1
            tot["run_ms"] += run_ms
            tot["cpu_ns"] += tm.get("Executor CPU Time", 0)
            tot["gc_ms"] += tm.get("JVM GC Time", 0)
            tot["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            tot["result"] += tm.get("Result Size", 0)
            o = ops[sid]
            o["tasks"] += 1
            o["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            inp = tm.get("Input Metrics") or {}
            o["input_bytes"] += inp.get("Bytes Read", 0)
            o["input_records"] += inp.get("Records Read", 0)
            o["python_bytes"] += _acc(ti, PY_SENT) + _acc(ti, PY_RETURNED)
        elif kind.endswith("QueryProgressEvent"):
            p = e.get("progress") or {}
            t = datetime.fromisoformat(p["timestamp"]).timestamp()
            if ordered and ordered[0]["start"] <= t <= ordered[-1]["end"]:
                progress.append({
                    "op": at(t * 1000.0),
                    "query": p.get("name"),
                    "rows": sum(src.get("numInputRows", 0) for src in p.get("sources", [])),
                    "ms": (p.get("durationMs") or {}).get("triggerExecution", 0),
                })
    busy = sum(s["dur"] for s in op_spans)
    skews = [
        max(v) / statistics.median(v)
        for v in stage_tasks.values()
        if len(v) > 1 and statistics.median(v) > 0
    ]
    spark = {
        "tasks": tot["tasks"],
        "executor_cpu_s": tot["cpu_ns"] / 1e9,
        "gc_s": tot["gc_ms"] / 1000.0,
        "spill_bytes": tot["spill"],
        "result_bytes": tot["result"],
        "idle_core_share": max(0.0, 1.0 - tot["run_ms"] / 1000.0 / (busy * cores)) if busy else 0.0,
        "task_skew": statistics.mean(skews) if skews else 1.0,
    }
    return {"ops": {k: dict(v) for k, v in ops.items()}, "spark": spark, "progress": progress}


# ---------------------------------------------------------------------------
# peak RSS of the process tree


def children_map() -> dict[int, list[int]]:
    """Child pids of every live process, by parent pid."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set size summed over ``root_pid`` and its descendants
    (driver, JVM, Python workers), read from ``/proc``."""
    kids = children_map()
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread sampling the process tree's RSS every
    ``interval`` seconds; ``peak`` holds the largest sample."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
