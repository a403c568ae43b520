"""Benchmark of the virapipe_spark engine: three closed-loop workloads on
``local[nproc]``, one client, each operation sent after the previous one
finishes.

    python3 perfbench/run.py --workload {sql_interactive,ops_heavy,fastq_pipeline}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The seed fixes the order of the operations
in each pass and the synthetic FASTQ (``perfbench/fastq.py``). The
catalog tables (``perfbench/tables.py``) are drawn from the fixed
``TABLE_SEED``, like a benchmark dataset at one scale factor: their
values set the cost of the iterative and similarity entries (rounds to
converge, candidate pairs), so on the catalog mixes runs on different
seeds differ only in the order of the operations. Inputs, Spark temp files,
event logs and outputs live under ``.perfbench_work/`` in the current
directory.

``setup_s`` is the measuring process's set-up, timed from process start
(interpreter, imports, JVM, session, catalog load, table touch,
warm-up; see ``perfbench/worker.py``). Every operation's
output is checked before the timed region, which that check and untimed
passes warm up for as long as the timed region lasts; the FASTQ outputs
are checked again after it. A wrong output or a failed operation counts
in ``failed`` and makes the command exit non-zero.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics (from Spark's event log and the spans the worker
records) with ``--trace 1``. A human-readable summary line comes before
it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLE_SEED = 2024
#: The worker process must end within this many seconds.
WORKER_TIMEOUT_S = 160



def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them (``end_to_end``
    or ``per_layer``); the result line reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _wait_group_gone(pgid: int, timeout: float = 15.0) -> None:
    """Wait until no process of group ``pgid`` is left (the JVM and its
    Python workers are not our children, so ``wait`` cannot reap them)."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = False
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.05)
    raise SystemExit(f"processes of group {pgid} still running after SIGKILL")


def _worker(args, work: str, env: dict, out: str) -> dict:
    cmd = [
        sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", out,
        "--spawned", repr(time.time()),
    ]
    # own process group: the JVM and Python workers go down with it
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _wait_group_gone(proc.pid)
    if code != 0:
        raise SystemExit(f"worker failed (exit {code}): {' '.join(cmd)}")
    with open(out) as fh:
        return json.load(fh)


def _percentile(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("sql_interactive", "ops_heavy", "fastq_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "virapipe_spark")):
        print(f"no virapipe_spark package under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import fastq, tables

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    cores = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -XX:InitialRAMPercentage=12.5",
    )

    # inputs: not part of set-up
    tables.generate(os.path.join(work, "tables"), TABLE_SEED)
    if args.workload == "fastq_pipeline":
        gen = fastq.generate(os.path.join(work, "fastq"), args.seed)
        ref = fastq.reference(gen["pairs"])
        ref["input_bytes"] = gen["input_bytes"]
        with open(os.path.join(work, "fastq_reference.json"), "w") as fh:
            json.dump(ref, fh)

    result = os.path.join(work, "result.json")
    try:
        res = _worker(args, work, env, result)
    finally:
        # keep the worker's record (spans, per-operation rows), drop the rest
        if os.path.exists(result):
            shutil.copy(result, f"{work}-trace{args.trace}.json")
        shutil.rmtree(work, ignore_errors=True)

    lat = res["latencies"]
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(res["walls"]),
        "query_p50_s": statistics.median(lat),
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "passes": len(res["walls"]), **{k: round(v, 4) for k, v in e2e.items()},
        "query_samples": len(lat),
        "peak_rss_mb": round(res["peak_rss_mb"], 1),
        "error_rate": res["failed"] / max(res["attempted"], 1),
    }
    if len(lat) >= 100:
        summary["query_p90_s"] = round(_percentile(lat, 90), 4)
    if "reads" in res:
        summary["reads_per_s"] = round(res["reads"] / e2e["wall_s"], 1)
        summary["write_amp"] = round(res["write_amp"], 4)
        summary["stage_counts"] = res["stage_counts"]
    if res["problems"] or res["failures"]:
        summary["problems"] = res["problems"]
        summary["failures"] = res["failures"][:5]
    print(json.dumps(summary))

    values, kind = (res["layers"], "per_layer") if args.trace else (e2e, "end_to_end")
    metrics = {k: {"value": values[k], "unit": u} for k, u in _declared(kind).items()}
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
