"""Engine benchmark: one seeded, single-client, closed-loop workload
per invocation, run from the root of a checkout:

    python3 enginebench/run.py --workload etl_corpus --seed 1 --seconds 10 --trace 0

A run starts a local SparkSession (``local[<usable cores>]``), sets up
the workload's generated inputs three times (set-up time is the
median), runs one untimed warm-up pass that checks every op's output
(a workload without one has its first timed pass checked instead,
outside the op timings), then runs whole timed passes until
``--seconds`` have elapsed. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``;
with ``--trace 1`` the Spark event log is on, each op runs under its
own job group, and the per-layer metrics are reported instead.

Everything the run writes lives under ``.enginebench/`` in the
checkout; the per-run scratch root is removed at exit, and a traced
run leaves its spans in ``.enginebench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE = "apache_spark_irs_form_990_spark"
INPUT_SETUPS = 3

# modules whose registry functions the etl_corpus workload calls
MODULES = ["xml_ingest", "aggregates", "joins", "tpch_suite", "stream_queries", "dedup",
           "components", "similarity"]
MODULE_METRICS = [("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                  ("shuffle_bytes", "B"), ("python_bytes", "B")]
# exact plan counts per module, from plans.inspect.count_occurrences
PLAN_METRICS = ["exchanges", "python_evals", "bnlj"]
LAKE_OPS = {"merge": "merge_s", "append": "append_s", "mor_delete": "delete_s",
            "lookup": "lookup_s", "range_scan": "range_scan_s", "cdf_read": "cdf_read_s",
            "compact": "compact_s", "vacuum": "vacuum_s"}
LAKE_WRITES = ["merge", "append", "mor_delete", "compact"]


def end_to_end_metrics() -> list[tuple[str, str]]:
    return [("setup_s", "s"), ("pass_s", "s")]


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints (zero where the
    workload never calls the layer)."""
    out = []
    for m in MODULES:
        out += [(f"{m}.{k}", u) for k, u in MODULE_METRICS]
        out += [(f"{m}.{k}", "count") for k in PLAN_METRICS]
    out += [("xml_ingest.ingest_s", "s"), ("stream_queries.batch_ms", "ms")]
    out += [(f"lakehouse.{v}", "s") for v in LAKE_OPS.values()]
    for w in LAKE_WRITES:
        out += [(f"lakehouse.{w}.files_added", "count"), (f"lakehouse.{w}.files_removed", "count"),
                (f"lakehouse.{w}.bytes_written", "B")]
    out += [
        ("lakehouse.jobs", "count"), ("lakehouse.merge_replans", "count"),
        ("lakehouse.lookup_bytes_read", "B"), ("lakehouse.cdf_bytes_read", "B"),
        ("lakehouse.lookup_rows_per_row_read", "ratio"), ("lakehouse.write_amp", "ratio"),
        ("lakehouse.space_amp", "ratio"), ("lakehouse_stream.tail_lag_s", "s"),
        ("lakehouse_stream.batch_ms", "ms"), ("lakehouse_stream.jobs", "count"),
        ("spark.tasks", "count"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
        ("spark.spill_bytes", "B"), ("spark.result_bytes", "B"),
        ("spark.idle_core_share", "ratio"), ("spark.task_skew", "ratio"),
        ("session.start_s", "s"), ("session.peak_rss_mb", "MB"), ("tables.load_s", "s"),
        ("tables.prepare_s", "s"),
        ("run.fail_frac", "ratio"),
        ("trace.pass_s", "s"), ("trace.op_share", "ratio"),
    ]
    return out


def process_start_time() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["etl_corpus", "lakehouse_cdc"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--small", action="store_true", help="tiny inputs (the benchmark's own tests)")
    return p.parse_args(argv)


class Runner:
    """Runs ops inside spans, counts attempts and failures."""

    def __init__(self, spark, tracer, traced: bool) -> None:
        self.spark, self.tracer, self.traced = spark, tracer, traced
        self.attempted = self.failed = 0
        self.plan_counts: dict[str, dict[str, int]] = {}

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(what, file=sys.stderr)

    def run(self, op, phase: str, verify: bool) -> None:
        from pyspark.sql import DataFrame

        from apache_spark_irs_form_990_spark.plans import inspect

        self.attempted += 1
        sc = self.spark.sparkContext
        out = None
        with self.tracer.span(op.name, kind="op", module=op.module, phase=phase) as s:
            if self.traced:
                sc.setJobGroup(f"span-{s['id']}", op.name)
            try:
                with self.tracer.span("build", kind="build"):
                    out = op.build()
                # on the warm-up pass, the check executes the result instead
                if isinstance(out, DataFrame) and not (phase == "warmup" and op.verify):
                    with self.tracer.span("exec", kind="exec"):
                        out.write.format("noop").mode("overwrite").save()
            except Exception:
                s["failed"] = True
                self._fail(f"{op.name} raised:\n{traceback.format_exc()}")
            finally:
                if self.traced:
                    sc.setJobGroup("bench-untimed", "verification and bookkeeping")
        if s.get("failed"):
            return
        try:
            if op.after is not None:
                op.after(out)
            if verify and op.verify is not None:
                with self.tracer.span(f"verify {op.name}", kind="verify"):
                    op.verify(out)
            if verify and self.traced and isinstance(out, DataFrame):
                self.plan_counts[op.name] = {
                    "exchanges": inspect.count_occurrences(out, "Exchange"),
                    "python_evals": sum(
                        inspect.count_occurrences(out, t)
                        for t in ("EvalPython", "InPandas", "InArrow")
                    ),
                    "bnlj": inspect.count_occurrences(out, "BroadcastNestedLoopJoin"),
                }
        except Exception:
            s["failed"] = True
            self._fail(f"{op.name} failed verification:\n{traceback.format_exc()}")


def _median_by_op(spans: list[dict], key) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(key(s))
    return {k: statistics.median(v) for k, v in by.items()}


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it and every
    other child process (Python workers) to exit."""
    from pyspark import SparkContext

    from enginebench.trace import children_map

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while children_map().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def measure(args, run_root: str, t_proc: float) -> dict:
    from enginebench import trace, workloads

    traced = args.trace == 1
    log_dir = os.path.join(run_root, "eventlog")
    extra = {
        "spark.local.dir": os.path.join(run_root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_root}/tmp -XX:-UsePerfData",
    }
    if traced:
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
    tracer = trace.Tracer()
    # the sampler walks /proc five times a second, so only traced runs
    # pay for it
    with trace.RssSampler() if traced else contextlib.nullcontext() as rss:
        from apache_spark_irs_form_990_spark.session import get_session

        spark = get_session(app_name="enginebench", extra_conf=extra)
        session_s = time.time() - t_proc
        wl = workloads.make(args.workload, spark, args.seed, small=args.small)
        runner = Runner(spark, tracer, traced)
        try:
            input_s = []
            for k in range(INPUT_SETUPS):
                t0 = time.perf_counter()
                wl.setup_inputs(os.path.join(run_root, f"inputs{k}"))
                input_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.prepare()
            prepare_s = time.perf_counter() - t0
            with tracer.span("workload", kind="workload", workload=args.workload):
                if wl.warmup:
                    with tracer.span("warmup", kind="pass", index=0):
                        for op in wl.pass_ops():
                            runner.run(op, "warmup", verify=True)
                wl.start_timed()
                deadline = time.perf_counter() + args.seconds
                index = 1
                while index == 1 or time.perf_counter() < deadline:
                    with tracer.span(f"pass{index}", kind="pass", index=index):
                        for op in wl.pass_ops():
                            runner.run(op, "timed", verify=index == 1 and not wl.warmup)
                    index += 1
            try:
                finish = wl.finish()
            except Exception:
                runner._fail(f"final check failed:\n{traceback.format_exc()}")
                finish = {}
        finally:
            wl.close()
            stop_session(spark)

    ops = [s for s in tracer.spans if s.get("kind") == "op"]
    warm = [s for s in ops if s["phase"] == "warmup"]
    timed = [s for s in ops if s["phase"] == "timed" and not s.get("failed")]
    op_median = _median_by_op(timed, lambda s: s["dur"])
    pass_s = sum(op_median.values())
    setup_s = session_s + statistics.median(input_s) + prepare_s + sum(s["dur"] for s in warm)
    passes = [s for s in tracer.spans if s.get("kind") == "pass"]
    print(
        f"[enginebench] session {session_s:.2f}s, input set-ups "
        + "/".join(f"{t:.2f}" for t in input_s)
        + f"s, prepare {prepare_s:.2f}s, passes "
        + "/".join(f"{p['dur']:.2f}" for p in passes)
        + f"s, {runner.attempted} ops, {runner.failed} failed; "
        + "timed op medians: "
        + ", ".join(f"{k} {v:.3f}" for k, v in op_median.items()),
        file=sys.stderr,
    )
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
    }
    if not traced:
        values = {"setup_s": setup_s, "pass_s": pass_s}
        result["metrics"] = {n: {"value": values[n], "unit": u} for n, u in end_to_end_metrics()}
        return result

    values = per_layer_values(
        tracer, timed, trace.read_event_log(log_dir), wl, runner, finish, op_median
    )
    values.update({
        "session.start_s": session_s,
        "session.peak_rss_mb": rss.peak / 2**20,
        "tables.load_s": statistics.median(input_s),
        "tables.prepare_s": prepare_s,
        "run.fail_frac": runner.failed / runner.attempted,
        "trace.pass_s": pass_s,
        # share of the timed passes' wall time inside op spans; the rest
        # is the benchmark's own untimed bookkeeping and checks
        "trace.op_share": sum(s["dur"] for s in timed)
        / sum(p["dur"] for p in tracer.spans if p.get("kind") == "pass" and p["index"] >= 1),
    })
    tracer.dump(os.path.join(ROOT, ".enginebench", "traces", f"{args.workload}-{args.seed}.json"))
    result["metrics"] = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in per_layer_metrics()}
    return result


def per_layer_values(tracer, timed, events, wl, runner, finish, op_median) -> dict:
    from enginebench import trace

    n_pass = len({s["parent"] for s in timed})
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    summary = trace.summarize_events(events, timed, cores)
    values: dict[str, float] = {f"spark.{k}": v for k, v in summary["spark"].items()}

    def add(key: str, v: float) -> None:
        values[key] = values.get(key, 0.0) + v

    lookup_records = 0.0
    children = {}
    for s in tracer.spans:
        if s.get("kind") in ("build", "exec"):
            children.setdefault(s["parent"], {})[s["kind"]] = s["dur"]
    by_name = {}
    for s in timed:
        by_name.setdefault(s["name"], []).append(s)
    for name, spans in by_name.items():
        mod = spans[0]["module"]
        add(f"{mod}.build_s", statistics.median(children[s["id"]].get("build", 0.0) for s in spans))
        add(f"{mod}.exec_s", statistics.median(children[s["id"]].get("exec", 0.0) for s in spans))
        for s in spans:
            c = summary["ops"].get(s["id"], {})
            for k in ("jobs", "shuffle_bytes", "python_bytes"):
                add(f"{mod}.{k}", c.get(k, 0.0) / n_pass)
            if name == "lookup":
                add("lakehouse.lookup_bytes_read", c.get("input_bytes", 0.0) / n_pass)
                lookup_records += c.get("input_records", 0.0)
            if name == "cdf_read":
                add("lakehouse.cdf_bytes_read", c.get("input_bytes", 0.0) / n_pass)
        for k, v in runner.plan_counts.get(name, {}).items():
            add(f"{mod}.{k}", v)
    mods = {s["id"]: s["module"] for s in timed}
    batches = {"lakehouse_stream": [], "stream_queries": []}
    for p in summary["progress"]:
        if p["query"] == getattr(wl, "sink", None):
            if p["rows"]:
                batches["lakehouse_stream"].append(p["ms"])
        elif mods.get(p["op"]) == "stream_queries":
            batches["stream_queries"].append(p["ms"])
    for mod, ms in batches.items():
        if ms:
            values[f"{mod}.batch_ms"] = statistics.mean(ms)
    if "ingest_cities_count" in op_median:
        values["xml_ingest.ingest_s"] = op_median["ingest_cities_count"]
    if "tail_drain" in op_median:
        values["lakehouse_stream.tail_lag_s"] = op_median["tail_drain"]
    for op, metric in LAKE_OPS.items():
        if op in op_median:
            values[f"lakehouse.{metric}"] = op_median[op]
    counts = getattr(wl, "counts", {})
    for k, v in counts.items():
        if k != "lookup.rows":
            values[f"lakehouse.{k}"] = v / n_pass
    if lookup_records:
        values["lakehouse.lookup_rows_per_row_read"] = counts.get("lookup.rows", 0.0) / lookup_records
    for k, v in finish.items():
        values[f"lakehouse.{k}"] = v
    return values


def main(argv=None) -> int:
    t_proc = process_start_time()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "session.py")):
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    run_root = os.path.join(ROOT, ".enginebench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_root, "tmp"), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(run_root, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_root, "spark-local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    sys.path[:0] = [ROOT]
    try:
        result = measure(args, run_root, t_proc)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
