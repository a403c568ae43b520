"""Run every workload untraced and traced on one seed, print each run's
summary and result lines, and write a record: the per-layer metrics, the
tracing overhead (traced pass wall minus untraced pass wall) and the layer
predictions of ``perfbench/layers.json`` checked against the trace.

    python3 perfbench/record.py [--seed N] [--seconds S]

``--seconds`` defaults to the ``run_seconds`` of ``BENCHMARK.json``.

Writes ``perfbench/record_c<cores>.json``; run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_interactive", "ops_heavy", "fastq_pipeline")


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True,
    )
    lines = proc.stdout.splitlines()[-2:]
    print("\n".join(lines), flush=True)
    summary, result = (json.loads(line) for line in lines)
    return summary, result


def predictions(layers: dict[str, dict[str, float]]) -> dict[str, bool]:
    sql, heavy, fq = (layers[w] for w in WORKLOADS)
    py = ("python.run_s", "python.start_s", "python.sent_mb", "python.returned_mb",
          "python.rows_out")
    return {
        "python.* read 0 on sql_interactive": all(sql[k] == 0 for k in py),
        "io.output_mb reads 0 on sql_interactive": sql["io.output_mb"] == 0,
        "io.output_mb reads 0 on ops_heavy": heavy["io.output_mb"] == 0,
        "python.rows_out > 0 on ops_heavy": heavy["python.rows_out"] > 0,
        "python.rows_out > 0 on fastq_pipeline": fq["python.rows_out"] > 0,
        "io.output_mb > 0 on fastq_pipeline": fq["io.output_mb"] > 0,
        "python.start_s <= python.run_s on every workload": all(
            w["python.start_s"] <= w["python.run_s"] for w in (sql, heavy, fq)
        ),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        run_seconds = json.load(fh)["run_seconds"]
    ap.add_argument("--seconds", type=int, default=run_seconds)
    args = ap.parse_args()

    record: dict = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    layers = {}
    for w in WORKLOADS:
        plain, plain_result = _run(w, args.seed, args.seconds, 0)
        traced, traced_result = _run(w, args.seed, args.seconds, 1)
        layers[w] = {k: m["value"] for k, m in traced_result["metrics"].items()}
        record["cores"] = plain["cores"]
        record["workloads"][w] = {
            "untraced": plain,
            "traced_summary": traced,
            "layers": layers[w],
            "tracing_overhead_s": layers[w]["trace.wall_s"] - plain["wall_s"],
            "correct": plain_result["correct"] and traced_result["correct"],
        }
    record["predictions"] = predictions(layers)
    path = os.path.join(HERE, f"record_c{record['cores']}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(record["predictions"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
