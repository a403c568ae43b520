"""One benchmark process: set up a warm session, run a workload closed-loop,
check every output, and write the figures as JSON.

Started by ``perfbench/run.py``, which owns the environment, the inputs
and the final report.

Set-up is timed from process start (interpreter, imports, JVM, session,
catalog load, table touch, warm-up), once per run: a second set-up in
the same process would find the JVM started and the modules imported.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
from contextlib import contextmanager

import duckdb
from pyspark.sql import functions as F

from perfbench import eventlog, fastq
from virapipe_spark import catalog, io, orf
from virapipe_spark.oracle_compare import compare_frames
from virapipe_spark.session import session

#: Headline entries bound by the driver: query construction, planning and
#: the per-query job floor dominate them. None crosses into Python.
SQL_INTERACTIVE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q9_product_profit", "q21_waiting_orders", "scan_project", "count_distinct",
    "join_inner_agg", "join_left_outer", "join_broadcast_dims",
    "group_having_band", "set_intersect", "orderby_limit",
    "window_topk_per_group", "window_tumbling", "window_sliding",
    "sessionize_events", "events_funnel", "events_retention_cohort",
    "events_asof_join", "events_range_join", "events_stream_interval_join",
    "lineitem_dq_audit", "docs_exact_dedup", "docs_text_stats",
    "filter_avg_quality",
]
#: The other headline entries: iterative graph, k-means and ANN loops,
#: set-similarity and dedup families, sketches, codecs and the composed
#: chains. Executor time, shuffle and the Python boundary live here.
OPS_HEAVY = [
    "graph_pagerank", "graph_bfs_hops", "embed_kmeans_lloyd", "embed_knn_lsh",
    "embed_knn_ivf", "embed_knn_multiprobe", "embed_knn_pq", "embed_knn_abtt",
    "docs_setsim_prefix", "docs_minhash_lsh", "docs_substring_dedup",
    "docs_cdc_chunk_dedup", "docs_boilerplate_coverage", "docs_decontaminate",
    "docs_bpe_pair_counts", "docs_phrase_search", "kmer_count_band",
    "normalize_digital", "join_bloom_prefilter", "events_tdigest_daily_merge",
    "multimodal_sobel_energy", "bam_split_scan_roundtrip", "virapipe_chain",
    "llm_corpus_chain",
]
CATALOG_MIXES = {"sql_interactive": SQL_INTERACTIVE, "ops_heavy": OPS_HEAVY}
WORKLOADS = (*CATALOG_MIXES, "fastq_pipeline")


class Tracer:
    """In-memory spans. With a SparkContext attached, each open span is
    also the job group, so the event log names the span behind every job."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.sc = None
        self._stack: list[dict] = []

    def _group(self, span: dict | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", span["id"] if span else None)

    @contextmanager
    def span(self, name: str, label: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = f"s{len(self.spans)}"
        rec = {
            "id": sid, "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else sid, "name": name, "label": label,
            "t0": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._group(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self._group(parent)


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb() -> float:
    """Peak resident memory of this driver process plus its JVM."""
    total = _hwm_mb("self")
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if fields[1] == me and comm == "java":
                total += _hwm_mb(pid)
        except (OSError, IndexError):
            continue  # the process ended while we looked
    return total


class Run:
    """One workload in one session: set-up, correctness checks, timed passes."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.tracer = Tracer()
        self.data = os.path.join(args.work, "tables")
        self.fastq_in = os.path.join(args.work, "fastq")
        self.out = os.path.join(args.work, "out")
        self.failures: list[tuple[str, str]] = []
        self.n_passes = 0

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        t = self.tracer
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.args.work, "warehouse"),
        }
        if self.args.trace:
            self.log_dir = os.path.splitext(self.args.out)[0] + "-eventlog"
            os.makedirs(self.log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
            })
        with t.span("setup", label=self.args.workload):
            with t.span("session.start"):
                self.spark = session(app_name="perfbench", extra_conf=conf)
            if self.args.trace:
                t.sc = self.spark.sparkContext
            with t.span("catalog.load"):
                catalog.load_all()
            with t.span("catalog.table"):
                for name in catalog.TABLES:
                    catalog.table(self.spark, self.data, name).limit(1).count()
            with t.span("warmup"):
                if self.args.workload == "fastq_pipeline":
                    reads = io.read_fastq(self.spark, os.path.join(self.fastq_in, "*"))
                    reads.write.mode("overwrite").format("noop").save()
                else:
                    first = CATALOG_MIXES[self.args.workload][0]
                    catalog.QUERIES[first](self.spark, self.data).write.mode(
                        "overwrite"
                    ).format("noop").save()

    # -- timed region -------------------------------------------------------
    def _catalog_op(self, name: str) -> None:
        t = self.tracer
        with t.span("op", label=name):
            with t.span("queries.construct"):
                df = catalog.QUERIES[name](self.spark, self.data)
            with t.span("spark.action"):
                df.write.mode("overwrite").format("noop").save()

    def _fastq_pass(self) -> None:
        t = self.tracer
        out = self.out
        normalized = None
        try:
            with t.span("op", label="fastq.write"):
                with t.span("queries.construct"):
                    normalized = fastq.stages(self.spark, self.fastq_in)["normalized"].persist()
                    grouped = fastq.grouped_reads(normalized)
                with t.span("io.write"):
                    io.write_fastq(grouped, os.path.join(out, "fastq"), mode="overwrite")
            with t.span("op", label="orf.parquet"):
                with t.span("queries.construct"):
                    orfs = orf.orf_expand(
                        normalized.select(F.col("pair").alias("id"), F.col("seq1").alias("sequence")),
                        min_length=fastq.ORF_MIN_LEN,
                    )
                with t.span("io.write"):
                    io.write_parquet(orfs, os.path.join(out, "orfs"), mode="overwrite")
            with t.span("op", label="orf.fasta"):
                with t.span("queries.construct"):
                    proteins = orf.protein_fasta(
                        self.spark.read.parquet(os.path.join(out, "orfs"))
                    )
                with t.span("io.write"):
                    io.write_text(proteins, os.path.join(out, "proteins"), mode="overwrite")
        finally:
            if normalized is not None:
                normalized.unpersist()

    def passes(self, seconds: float) -> list[float]:
        """Whole passes, closed loop, until ``seconds`` have elapsed (at
        least one). Returns each pass's wall time. Each pass of a catalog
        mix runs its entries in an order drawn from the seed and the
        pass's index in the run."""
        args = self.args
        walls: list[float] = []
        start = time.time()
        while not walls or time.time() - start < seconds:
            t0 = time.time()
            if args.workload == "fastq_pipeline":
                try:
                    self._fastq_pass()
                except Exception as e:  # noqa: BLE001 - counted, reported, run fails
                    self.failures.append(("fastq", repr(e)))
            else:
                order = list(CATALOG_MIXES[args.workload])
                random.Random(args.seed * 1000 + self.n_passes).shuffle(order)
                for name in order:
                    try:
                        self._catalog_op(name)
                    except Exception as e:  # noqa: BLE001 - counted, reported, run fails
                        self.failures.append((name, repr(e)))
            self.n_passes += 1
            walls.append(time.time() - t0)
        return walls

    # -- correctness ----------------------------------------------------------
    # Runs before the timed region (which it also warms up); the FASTQ
    # outputs are checked again after it, as the last timed pass left them.
    def check_catalog(self) -> dict[str, list[str]]:
        problems: dict[str, list[str]] = {}
        with duckdb.connect() as con:
            for name in catalog.TABLES:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(self.data, name)}.parquet'"
                )
            for name in CATALOG_MIXES[self.args.workload]:
                try:
                    sdf = catalog.QUERIES[name](self.spark, self.data).toPandas()
                    if name in catalog.ORACLES:
                        ddf = con.execute(catalog.ORACLES[name]).df()
                        found = compare_frames(sdf, ddf, strict=True)
                    else:
                        found = [] if len(sdf) else ["rows-only check: no rows"]
                except Exception as e:  # noqa: BLE001 - counted, reported, run fails
                    found = [repr(e)]
                if found:
                    problems[name] = found
        return problems

    def check_fastq(self, ref: dict) -> dict[str, list[str]]:
        """Stage counts, then one untimed pass and its outputs."""
        problems: dict[str, list[str]] = {}
        try:
            for stage, df in fastq.stages(self.spark, self.fastq_in).items():
                got, want = df.count(), ref["counts"][stage]
                if got != want:
                    problems[f"count.{stage}"] = [f"{got} != {want}"]
            self._fastq_pass()
        except Exception as e:  # noqa: BLE001 - counted, reported, run fails
            problems["fastq"] = [repr(e)]
            return problems
        return problems | self.check_fastq_outputs(ref)

    def check_fastq_outputs(self, ref: dict) -> dict[str, list[str]]:
        problems: dict[str, list[str]] = {}
        parts = fastq.read_written_fastq(os.path.join(self.out, "fastq"))
        grouping = fastq.grouping_problems(parts)
        if grouping:
            problems["fastq.grouping"] = grouping
        written: dict[str, list] = {}
        for reads in parts:
            for r in reads:
                written.setdefault(fastq.sample_of(r[0]), []).append(r)
        want = ref["per_sample"]
        bad = sorted(
            s for s in set(written) | set(want) if sorted(written.get(s, ())) != want.get(s)
        )
        if bad:
            problems["fastq.write"] = [
                f"sample {s}: {len(written.get(s, ()))} reads written, "
                f"{len(want.get(s, ()))} expected, or other reads"
                for s in bad
            ]
        n_orfs = self.spark.read.parquet(os.path.join(self.out, "orfs")).count()
        if n_orfs != ref["orfs"]:
            problems["orf.parquet"] = [f"{n_orfs} ORFs != {ref['orfs']}"]
        n_fasta = (
            self.spark.read.text(os.path.join(self.out, "proteins"))
            .filter(F.col("value").startswith(">"))
            .count()
        )
        if n_fasta != ref["orfs"]:
            problems["orf.fasta"] = [f"{n_fasta} FASTA records != {ref['orfs']}"]
        return problems


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    args = ap.parse_args()

    run = Run(args)
    run.setup()
    phases = {"setup_end": time.time()}
    result: dict = {"setup_s": phases["setup_end"] - args.spawned}

    fastq_ref = None
    if args.workload == "fastq_pipeline":
        with open(os.path.join(args.work, "fastq_reference.json")) as fh:
            fastq_ref = json.load(fh)
        fastq_ref["per_sample"] = {
            s: [tuple(r) for r in reads] for s, reads in fastq_ref["per_sample"].items()
        }
        problems = run.check_fastq(fastq_ref)
    else:
        problems = run.check_catalog()

    # warm-up: the check above plus untimed passes, as long as the timed
    # region, so that the timed passes start near steady state
    warmup = phases["setup_end"] + args.seconds - time.time()
    if warmup > 0:
        run.passes(warmup)
    t_timed = phases["timed_start"] = time.time()
    walls = run.passes(args.seconds)
    phases["timed_end"] = time.time()
    # the set-up spans and the timed region's spans; not the check's
    setup_ops = {s["id"] for s in run.tracer.spans if s["name"] == "setup"}
    spans = [s for s in run.tracer.spans if s["t0"] >= t_timed or s["op"] in setup_ops]
    ops = [s for s in spans if s["name"] == "op"]
    if fastq_ref is not None:
        problems |= run.check_fastq_outputs(fastq_ref)
        failed = len(ops) if problems or run.failures else 0
    else:
        bad = {name for name, _ in run.failures} | set(problems)
        failed = sum(1 for s in ops if s["label"] in bad)
    result.update(
        walls=walls,
        latencies=[s["t1"] - s["t0"] for s in ops],
        attempted=len(ops),
        failed=failed,
        problems=problems,
        failures=run.failures,
        peak_rss_mb=peak_rss_mb(),
    )
    if fastq_ref is not None:
        written = sum(_dir_bytes(os.path.join(run.out, d)) for d in ("fastq", "orfs", "proteins"))
        result.update(
            stage_counts=fastq_ref["counts"],
            reads=2 * fastq_ref["counts"]["pairs"],
            write_amp=written / fastq_ref["input_bytes"],
        )
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    run.spark.stop()
    phases["stopped"] = time.time()
    result["phases"] = phases
    if args.trace:
        rows = eventlog.reduce_ops(eventlog.read_events(run.log_dir), spans)
        result["layers"] = eventlog.layers(rows, spans, len(walls), cores)
        result["layers"].update(eventlog.setup_layers(spans, args.spawned))
        result["layers"]["trace.wall_s"] = statistics.median(walls)
        result["layers"]["driver.peak_rss_mb"] = result["peak_rss_mb"]
        result["ops"] = rows
        result["self_s"] = eventlog.self_by_name(spans, len(walls))
    result["spans"] = spans
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
