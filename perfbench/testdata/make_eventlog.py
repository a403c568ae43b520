"""Regenerate the small event log and spans that ``test_eventlog.py`` reads.

Three traced operations on ``local[2]``: ``count_then_write`` fires one
job while its frame is built and then writes to the noop sink;
``map_in_pandas`` crosses the Python boundary on freshly started Python
workers, and ``map_in_pandas_reused``, a second later, on the same
workers after they sat idle in the pool. The log keeps Spark's
rolling layout; events and fields the reducer never reads are dropped,
so the committed file stays small and names no local path.

    python3 perfbench/testdata/make_eventlog.py
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench.worker import Tracer  # noqa: E402

KEEP_PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")
DROP_EVENTS = {
    "SparkListenerEnvironmentUpdate", "SparkListenerTaskStart",
    "SparkListenerBlockManagerAdded", "SparkListenerResourceProfileAdded",
}


def _scrub(e: dict) -> dict | None:
    kind = e["Event"].rsplit(".", 1)[-1]
    if kind in DROP_EVENTS:
        return None
    e.pop("physicalPlanDescription", None)
    e.pop("details", None)
    e.pop("modifiedConfigs", None)
    if "Properties" in e:
        e["Properties"] = {k: v for k, v in e["Properties"].items() if k in KEEP_PROPS}
    for info in [e.get("Stage Info"), *e.get("Stage Infos", ())]:
        if info:
            info.pop("RDD Info", None)
            info.pop("Details", None)
    return e


def main() -> None:
    from pyspark.sql import SparkSession

    tmp = tempfile.mkdtemp()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + tmp)
        .getOrCreate()
    )
    tracer = Tracer()
    tracer.sc = spark.sparkContext
    df = spark.range(0, 1000, numPartitions=2)
    with tracer.span("op", label="count_then_write"):
        with tracer.span("queries.construct"):
            n = df.count()
            frame = df.selectExpr(f"id % {n // 10} AS g").groupBy("g").count()
        with tracer.span("spark.action"):
            frame.write.mode("overwrite").format("noop").save()

    def double(batches):
        for pdf in batches:
            yield pdf.assign(id=pdf.id * 2)

    for label in ("map_in_pandas", "map_in_pandas_reused"):
        with tracer.span("op", label=label):
            with tracer.span("queries.construct"):
                frame = df.mapInPandas(double, df.schema)
            with tracer.span("spark.action"):
                frame.write.mode("overwrite").format("noop").save()
        time.sleep(1.0)  # the workers idle in the pool
    spark.stop()

    (src,) = glob.glob(os.path.join(tmp, "eventlog_v2_*", "events_*"))
    app_dir = os.path.basename(os.path.dirname(src))
    out_dir = os.path.join(HERE, "eventlog", app_dir)
    shutil.rmtree(os.path.join(HERE, "eventlog"), ignore_errors=True)
    os.makedirs(out_dir)
    with open(src) as fh, open(os.path.join(out_dir, os.path.basename(src)), "w") as out:
        for line in fh:
            e = _scrub(json.loads(line))
            if e is not None:
                out.write(json.dumps(e) + "\n")
    with open(os.path.join(HERE, "spans.json"), "w") as fh:
        json.dump(tracer.spans, fh, indent=1)
        fh.write("\n")
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
