"""The event-log parser on a small canned log, and the span recorder."""

import json
import os

from enginebench import trace

T0 = 1_700_000_000.0  # span clock, seconds


def _task(stage, run_ms, shuffle=0, py_sent=0, in_bytes=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": trace.PY_SENT, "Update": str(py_sent)},
            {"Name": "number of output rows", "Update": "5"},
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 10,
            "Result Size": 100,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": in_bytes, "Records Read": 7},
        },
    }


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.0"},
    # job of span 0, tagged with its job group
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": (T0 + 0.5) * 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-0"}},
    _task(0, 100, shuffle=64),
    _task(0, 300, shuffle=64),
    _task(1, 50, py_sent=1000),
    # a streaming job (foreign group) submitted while span 1 was open
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": (T0 + 2.5) * 1000,
     "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "some-stream-run-id"}},
    _task(2, 40, in_bytes=2048),
    # an untimed verification job: outside every span, ignored
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": (T0 + 9.0) * 1000,
     "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "bench-untimed"}},
    _task(3, 999),
    {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
     "progress": {"name": "tail", "timestamp": "2023-11-14T22:13:22.600Z",
                  "sources": [{"numInputRows": 12}], "durationMs": {"triggerExecution": 80}}},
]

SPANS = [
    {"id": 0, "name": "q", "kind": "op", "start": T0, "end": T0 + 2.0, "dur": 2.0},
    {"id": 1, "name": "r", "kind": "op", "start": T0 + 2.0, "end": T0 + 3.0, "dur": 1.0},
]


def test_read_rolling_layout(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = [json.dumps(e) for e in CANNED]
    (d / "events_2_local-1").write_text("\n".join(lines[5:]) + "\n")
    (d / "events_1_local-1").write_text("\n".join(lines[:5]) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert trace.read_event_log(str(tmp_path)) == CANNED


def test_summarize_attributes_jobs_to_spans():
    s = trace.summarize_events(CANNED, SPANS, cores=2)
    q, r = s["ops"][0], s["ops"][1]
    assert (q["jobs"], q["tasks"], q["shuffle_bytes"], q["python_bytes"]) == (1, 3, 128, 1000)
    assert (r["jobs"], r["tasks"], r["input_bytes"], r["input_records"]) == (1, 1, 2048, 7)
    sp = s["spark"]
    assert sp["tasks"] == 4  # the untimed job is not counted
    assert abs(sp["executor_cpu_s"] - 0.49) < 1e-9
    assert abs(sp["gc_s"] - 0.04) < 1e-9
    # 490 ms of task time over 3 s of spans on 2 cores
    assert abs(sp["idle_core_share"] - (1 - 0.49 / 6)) < 1e-9
    # stage 0: max 300 / median 200; stages 1 and 2 have one task
    assert abs(sp["task_skew"] - 1.5) < 1e-9
    assert s["progress"] == [{"op": 1, "query": "tail", "rows": 12, "ms": 80}]


def test_tracer_nesting():
    t = trace.Tracer()
    with t.span("pass", kind="pass"):
        with t.span("op", kind="op"):
            with t.span("build", kind="build"):
                pass
    kinds = [(s["name"], s["parent"]) for s in t.spans]
    assert kinds == [("pass", None), ("op", 0), ("build", 1)]
    assert all(s["end"] >= s["start"] and s["dur"] >= 0 for s in t.spans)


def test_rss_of_own_tree_is_positive():
    assert trace.tree_rss_bytes(os.getpid()) > 0
