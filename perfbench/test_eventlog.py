"""Unit tests of the event-log reducer on the committed log in testdata/.

The log holds three traced operations (see testdata/make_eventlog.py):
``count_then_write`` fires a ``count()`` while its frame is built, then
a grouped noop write; ``map_in_pandas`` sends 1000 rows through
``mapInPandas`` on fresh Python workers, ``map_in_pandas_reused`` on the
same workers after they sat idle.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog

HERE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
LOG = os.path.join(HERE, "eventlog")


@pytest.fixture(scope="module")
def spans() -> list[dict]:
    with open(os.path.join(HERE, "spans.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def rows(spans) -> dict[str, dict]:
    by_label = {}
    for row in eventlog.reduce_ops(eventlog.read_events(LOG), spans).values():
        by_label[row["label"]] = row
    return by_label


def test_reads_the_rolling_layout():
    (path,) = eventlog.event_files(LOG)
    assert os.path.basename(os.path.dirname(path)).startswith("eventlog_v2_")
    assert os.path.basename(path).startswith("events_1_")


def test_jobs_are_attributed_to_the_span_that_caused_them(rows):
    cw, mp = rows["count_then_write"], rows["map_in_pandas"]
    # count() during construction; the write's jobs under the action span
    assert cw["construct_jobs"] >= 1
    assert cw["jobs"] > cw["construct_jobs"]
    assert mp["construct_jobs"] == 0 and mp["jobs"] >= 1
    for row in (cw, mp):
        assert row["stages"] >= row["jobs"] and row["tasks"] >= row["stages"]
        assert row["plan_nodes"] > 0
        assert 0 <= row["plan_s"] <= row["wall_s"]
        assert 0 <= row["driver_only_s"] <= row["wall_s"]
    assert cw["shuffle_write"] > 0 and cw["shuffle_read"] > 0


def test_python_boundary_metrics_come_from_python_plan_nodes(rows):
    cw = rows["count_then_write"]
    for mp in (rows["map_in_pandas"], rows["map_in_pandas_reused"]):
        assert mp["py_rows_out"] == 1000
        assert mp["py_sent"] > 0 and mp["py_returned"] > 0
        assert mp["py_run_s"] > 0
    # "number of output rows" of the JVM operators is not Python output
    assert (cw["py_rows_out"], cw["py_sent"], cw["py_run_s"]) == (0, 0, 0.0)


def _raw_init_s(label: str, spans: list[dict]) -> float:
    """Spark's 'time to initialize Python workers', summed as logged."""
    events = eventlog.read_events(LOG)
    ids = {
        m["accumulatorId"]
        for e in events if "sparkPlanInfo" in e
        for node in eventlog._walk(e["sparkPlanInfo"])
        for m in node.get("metrics", ()) if m["name"] == "time to initialize Python workers"
    }
    op = next(s for s in spans if s["label"] == label)
    groups = {s["id"] for s in spans if s["op"] == op["id"]}
    stages = {
        sid
        for e in events if e["Event"].endswith("SparkListenerJobStart")
        and e["Properties"].get("spark.jobGroup.id") in groups
        for sid in e["Stage IDs"]
    }
    return sum(
        int(a["Update"]) / 1000
        for e in events if e["Event"].endswith("SparkListenerTaskEnd") and e["Stage ID"] in stages
        for a in e["Task Info"]["Accumulables"] if a["ID"] in ids
    )


def test_python_start_up_is_bounded_by_run_time(rows):
    for row in rows.values():
        assert 0 <= row["py_start_s"] <= row["py_run_s"] <= row["run_s"]
    assert rows["map_in_pandas"]["py_start_s"] > 0  # fresh workers start up


def test_idle_time_of_reused_workers_is_not_start_up_time(rows, spans):
    reused = rows["map_in_pandas_reused"]
    # as logged, 'initialize' holds the second the workers sat idle
    assert _raw_init_s("map_in_pandas_reused", spans) > reused["run_s"]
    assert reused["py_start_s"] <= reused["py_run_s"]


def test_setup_layers_time_one_set_up_from_process_start():
    spans = [
        {"id": "s0", "parent": None, "op": "s0", "name": "setup", "t0": 12.0, "t1": 20.0},
        {"id": "s1", "parent": "s0", "op": "s0", "name": "session.start", "t0": 12.0, "t1": 15.0},
        {"id": "s2", "parent": "s0", "op": "s0", "name": "catalog.load", "t0": 15.0, "t1": 15.5},
        {"id": "s3", "parent": "s0", "op": "s0", "name": "catalog.table", "t0": 15.5, "t1": 18.0},
        {"id": "s4", "parent": None, "op": "s4", "name": "op", "t0": 20.0, "t1": 30.0},
    ]
    assert eventlog.setup_layers(spans, spawned=10.0) == {
        "setup.import_s": 2.0, "session.start_s": 3.0,
        "catalog.load_s": 0.5, "catalog.table_s": 2.5,
    }


def test_self_time_is_duration_minus_children(spans):
    selfs = eventlog.self_times(spans)
    for s in spans:
        kids = [k for k in spans if k["parent"] == s["id"]]
        covered = sum(k["t1"] - k["t0"] for k in kids)  # siblings never overlap here
        assert selfs[s["id"]] == pytest.approx(s["t1"] - s["t0"] - covered)
        assert selfs[s["id"]] >= 0


def test_self_times_by_name_add_up_to_the_operations(spans):
    by_name = eventlog.self_by_name(spans, passes=1)
    roots = sum(s["t1"] - s["t0"] for s in spans if s["name"] == "op")
    assert sum(by_name.values()) == pytest.approx(roots)
    assert set(by_name) == {"op", "queries.construct", "spark.action"}


def test_layers_are_per_pass_totals(rows, spans):
    reduced = eventlog.reduce_ops(eventlog.read_events(LOG), spans)
    one, two = eventlog.layers(reduced, spans, 1, 2), eventlog.layers(reduced, spans, 2, 2)
    assert one["spark.jobs"] == sum(r["jobs"] for r in rows.values())
    assert two["spark.jobs"] == one["spark.jobs"] / 2
    assert one["python.rows_out"] == 2000
    assert one["queries.construct_jobs"] == rows["count_then_write"]["construct_jobs"]
    assert 0 < one["executor.busy_frac"] <= 1
    assert one["io.output_mb"] == 0  # noop sink


def test_union_counts_overlaps_once():
    assert eventlog._union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog._union_s([]) == 0
