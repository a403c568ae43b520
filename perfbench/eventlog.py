"""Reduce a Spark event log plus the benchmark's spans to per-layer figures.

Pure functions: :func:`read_events` parses a log, :func:`reduce_ops`
attributes its jobs, stages and tasks to the spans, and :func:`layers`
sums the result into the benchmark's named per-layer metrics.

Spans are dicts ``{id, parent, op, name, label, t0, t1}`` (epoch
seconds). All spans of one operation share ``op``, the id of its root
span, which is named ``op`` and labelled with the operation's name.
While a span is open the benchmark sets the job group
(``spark.jobGroup.id``) to the span's id, so every job names the
innermost span that caused it; stages and tasks follow their job.

Python-boundary cost comes from the SQL metrics of the plan nodes that
run Python workers (MapInPandas, MapInArrow, FlatMapGroupsInPandas,
ArrowEvalPython, ...): every node carrying a ``time to run Python
workers`` metric is one, and its accumulator ids are summed over the
task-end updates.

Start-up time needs care. Spark 4.1 derives ``time to start Python
workers`` as (worker enters ``main``) - (task's runner starts) and
``time to initialize Python workers`` as (UDFs loaded) - (worker enters
``main``). A reused worker enters ``main`` as soon as its previous task
ends and then waits for the next one, so its start figure is negative
(a SQL metric drops negative updates: the task reports none) and its
initialize figure is the time it sat idle in the pool. A task's start-up
time is therefore start + initialize where the task reports a start
figure, and unknown, counted as 0, where it does not; either way it is
at most the task's ``time to run Python workers``.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

#: Spans that run a Spark action; planning time is measured from their start.
ACTION_SPANS = ("spark.action", "io.write")

#: Python-node SQL metric -> (row key, scale to seconds / bytes / rows)
_PY_METRICS = {
    "time to run Python workers": ("py_run_s", 1e-3),
    "time to start Python workers": ("boot", 1e-3),
    "time to initialize Python workers": ("init", 1e-3),
    "data sent to Python workers": ("py_sent", 1),
    "data returned from Python workers": ("py_returned", 1),
    "number of output rows": ("py_rows_out", 1),
}


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order, in Spark 4's default
    rolling layout (``eventlog_v2_<app>/events_<n>_<app>``), uncompressed."""
    return sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )


def read_events(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for path in event_files(log_dir):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> its duration minus the part its child spans cover."""
    kids: dict[str, list] = defaultdict(list)
    for s in spans:
        if s.get("parent"):
            kids[s["parent"]].append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - _union_s(kids[s["id"]]) for s in spans}


def self_by_name(spans: list[dict], passes: int) -> dict[str, float]:
    """Span name -> self time of the spans with that name, per pass
    (the set-up's spans: once)."""
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    totals: dict[str, float] = defaultdict(float)
    for s in spans:
        per = 1 if by_id[s["op"]]["name"] == "setup" else max(passes, 1)
        totals[s["name"]] += selfs[s["id"]] / per
    return dict(totals)


def reduce_ops(events: list[dict], spans: list[dict]) -> dict[str, dict]:
    """Root span id -> that operation's Spark figures.

    Each row holds: wall_s, jobs, construct_jobs, stages, tasks, run_s,
    cpu_s, gc_s, shuffle_write/read bytes, fetch_wait_s, spill bytes,
    input/output bytes, peak_mem (largest per-stage sum of task peak
    execution memory), python run/start seconds, python sent/returned
    bytes and rows out, plan_s, plan_nodes and driver_only_s."""
    by_id = {s["id"]: s for s in spans}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    stage_tasks: dict[int, list] = defaultdict(list)
    exec_plan: dict[int, dict] = {}
    py_acc: dict[int, tuple[int, str, float]] = {}
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": int(exec_id) if exec_id is not None else None,
                "submit": e["Submission Time"] / 1000,
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_span[info["Stage ID"]] = (
                    info["Submission Time"] / 1000,
                    info["Completion Time"] / 1000,
                )
        elif kind == "SparkListenerTaskEnd":
            stage_tasks[e["Stage ID"]].append(e)
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            # the adaptive update replaces the plan; its new nodes bring new ids
            exec_plan[e["executionId"]] = e["sparkPlanInfo"]
            for node in _walk(e["sparkPlanInfo"]):
                ids = {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}
                # a Python node; its run-time accumulator names the node
                key = ids.get("time to run Python workers")
                if key is not None:
                    for name, acc_id in ids.items():
                        if name in _PY_METRICS:
                            py_acc[acc_id] = (key, *_PY_METRICS[name])

    rows: dict[str, dict] = {}
    for s in spans:
        if s["name"] != "op":
            continue
        rows[s["id"]] = {
            "label": s.get("label"), "wall_s": s["t1"] - s["t0"], "jobs": 0,
            "construct_jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write": 0, "shuffle_read": 0,
            "fetch_wait_s": 0.0, "spill": 0, "input": 0, "output": 0,
            "peak_mem": 0, "py_run_s": 0.0, "py_start_s": 0.0, "py_sent": 0,
            "py_returned": 0, "py_rows_out": 0, "plan_s": 0.0, "plan_nodes": 0,
            "driver_only_s": 0.0,
        }
    op_stage_iv: dict[str, list] = defaultdict(list)
    first_job: dict[str, float] = {}
    action_execs: dict[str, set] = defaultdict(set)
    for jid, job in jobs.items():
        span = by_id.get(job["group"])
        if span is None or span["op"] not in rows:
            continue
        row = rows[span["op"]]
        row["jobs"] += 1
        if span["name"] == "queries.construct":
            row["construct_jobs"] += 1
        if span["name"] in ACTION_SPANS:
            first_job[span["id"]] = min(first_job.get(span["id"], job["submit"]), job["submit"])
            if job["exec"] is not None:
                action_execs[span["id"]].add(job["exec"])
    for sid, jid in stage_job.items():
        span = by_id.get(jobs[jid]["group"])
        if span is None or span["op"] not in rows or sid not in stage_span:
            continue
        row = rows[span["op"]]
        row["stages"] += 1
        op_stage_iv[span["op"]].append(stage_span[sid])
        stage_peak = 0
        for t in stage_tasks[sid]:
            m = t.get("Task Metrics") or {}
            row["tasks"] += 1
            row["run_s"] += m.get("Executor Run Time", 0) / 1000
            row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1000
            sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
            row["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            row["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            row["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000
            row["spill"] += m.get("Disk Bytes Spilled", 0)
            row["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            row["output"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            stage_peak += m.get("Peak Execution Memory", 0)
            startup: dict[int, dict[str, float]] = defaultdict(dict)
            for acc in t["Task Info"].get("Accumulables", ()):
                if acc["ID"] in py_acc:
                    node, key, scale = py_acc[acc["ID"]]
                    value = int(acc.get("Update") or 0) * scale
                    if key in ("boot", "init"):
                        startup[node][key] = value
                    else:
                        row[key] += value
            for times in startup.values():
                if "boot" in times:  # else the worker was reused: unknown
                    row["py_start_s"] += times["boot"] + times.get("init", 0.0)
        row["peak_mem"] = max(row["peak_mem"], stage_peak)
    for s in spans:
        if s["name"] not in ACTION_SPANS or s["op"] not in rows:
            continue
        row = rows[s["op"]]
        if s["id"] in first_job:
            row["plan_s"] += max(0.0, first_job[s["id"]] - s["t0"])
        for ex in action_execs[s["id"]]:
            if ex in exec_plan:
                row["plan_nodes"] += sum(1 for _ in _walk(exec_plan[ex]))
    for op, row in rows.items():
        s = by_id[op]
        clipped = [(max(a, s["t0"]), min(b, s["t1"])) for a, b in op_stage_iv[op]]
        row["driver_only_s"] = row["wall_s"] - _union_s([iv for iv in clipped if iv[1] > iv[0]])
    return rows


def setup_layers(spans: list[dict], spawned: float) -> dict[str, float]:
    """The layers of one set-up from process start: ``setup.import_s`` is
    the time from ``spawned`` (epoch seconds) to the ``setup`` span
    (interpreter and module imports), the others are its child spans."""
    setup = next(s for s in spans if s["name"] == "setup")
    dur = {s["name"]: s["t1"] - s["t0"] for s in spans if s["op"] == setup["id"]}
    return {
        "setup.import_s": setup["t0"] - spawned,
        "session.start_s": dur["session.start"],
        "catalog.load_s": dur["catalog.load"],
        "catalog.table_s": dur["catalog.table"],
    }


def layers(rows: dict[str, dict], spans: list[dict], passes: int, cores: int) -> dict[str, float]:
    """The per-layer metrics of the operations: totals over the traced
    region divided by ``passes``."""
    mb = 1 / (1024 * 1024)
    per = 1 / max(passes, 1)

    def total(key: str) -> float:
        return sum(r[key] for r in rows.values())

    def span_s(name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in spans if s["name"] == name)

    wall = total("wall_s")
    return {
        "queries.construct_s": span_s("queries.construct") * per,
        "queries.construct_jobs": total("construct_jobs") * per,
        "plan.s": total("plan_s") * per,
        "plan.nodes": total("plan_nodes") * per,
        "spark.jobs": total("jobs") * per,
        "spark.stages": total("stages") * per,
        "spark.tasks": total("tasks") * per,
        "spark.driver_only_s": total("driver_only_s") * per,
        "executor.run_s": total("run_s") * per,
        "executor.cpu_s": total("cpu_s") * per,
        "executor.gc_s": total("gc_s") * per,
        "executor.busy_frac": total("run_s") / (wall * cores) if wall else 0.0,
        "executor.peak_mem_mb": max((r["peak_mem"] for r in rows.values()), default=0) * mb,
        "shuffle.write_mb": total("shuffle_write") * mb * per,
        "shuffle.read_mb": total("shuffle_read") * mb * per,
        "shuffle.fetch_wait_s": total("fetch_wait_s") * per,
        "spill.disk_mb": total("spill") * mb * per,
        "python.run_s": total("py_run_s") * per,
        "python.start_s": total("py_start_s") * per,
        "python.sent_mb": total("py_sent") * mb * per,
        "python.returned_mb": total("py_returned") * mb * per,
        "python.rows_out": total("py_rows_out") * per,
        "io.input_mb": total("input") * mb * per,
        "io.output_mb": total("output") * mb * per,
        "io.write_s": span_s("io.write") * per,
    }
