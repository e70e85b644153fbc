"""Event-log parser tests on a hand-built event stream (no Spark needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog


def _node(name, metrics=(), children=()):
    return {
        "nodeName": name,
        "metrics": [
            {"name": m, "accumulatorId": acc, "metricType": kind} for m, acc, kind in metrics
        ],
        "children": list(children),
    }


def _task(stage, accs, cpu_ns=0, gc_ms=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Accumulables": [
                {"ID": acc, "Name": "x", "Update": str(v), "Value": "0", "Metadata": "sql"}
                for acc, v in accs
            ]
            + [{"ID": 999, "Name": "internal.metrics.x", "Update": 5, "Value": 5}]
        },
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
        },
    }


PLAN = _node(
    "Execute InsertIntoHadoopFsRelationCommand",
    [("written output", 1, "size"), ("number of written files", 2, "sum")],
    [
        _node(
            "Exchange",
            [("shuffle bytes written", 3, "size"), ("fetch wait time", 4, "timing")],
            [
                _node(
                    "ArrowEvalPython",
                    [
                        ("time to run Python workers", 5, "timing"),
                        ("data sent to Python workers", 6, "size"),
                        ("number of output rows", 7, "sum"),
                    ],
                    [_node("Scan parquet ", [("size of files read", 8, "size")])],
                )
            ],
        )
    ],
)

# after AQE re-plans, the Python node gets fresh accumulator ids
AQE_PLAN = _node(
    "AdaptiveSparkPlan",
    children=[
        _node(
            "ArrowEvalPython",
            [("time to run Python workers", 15, "timing"), ("number of output rows", 17, "sum")],
        )
    ],
)

EVENTS = [
    {
        "Event": eventlog.SQL_START,
        "executionId": 0,
        "time": 1_000_000,
        "sparkPlanInfo": PLAN,
    },
    {"Event": eventlog.AQE_UPDATE, "executionId": 0, "sparkPlanInfo": AQE_PLAN},
    {
        "Event": "SparkListenerJobStart",
        "Stage IDs": [0, 1],
        "Properties": {"spark.sql.execution.id": "0"},
    },
    _task(0, [(3, 100), (4, 7), (6, 40), (7, 10), (15, 250), (17, 10)], cpu_ns=2e9, gc_ms=100),
    _task(0, [(3, 50), (15, 250), (17, 5)], cpu_ns=1e9, spill=64),
    _task(1, [(1, 4096)]),
    {"Event": eventlog.DRIVER_ACCUMS, "executionId": 0, "accumUpdates": [[2, 3], [8, 2048]]},
    # a job outside any SQL execution is ignored
    {"Event": "SparkListenerJobStart", "Stage IDs": [7], "Properties": {}},
    _task(7, [(3, 10_000)], cpu_ns=9e9),
]


def test_parse_sums_task_and_driver_updates():
    ex = eventlog.parse(EVENTS)[0]
    assert ex.tasks == 3
    assert ex.sql_metric("Exchange", "shuffle bytes written") == 150
    assert ex.sql_metric("Execute InsertIntoHadoopFsRelationCommand", "number of written files") == 3
    assert ex.sql_metric("Scan parquet", "size of files read") == 2048
    assert ex.cpu_s == pytest.approx(3.0)
    assert ex.gc_s == pytest.approx(0.1)
    assert ex.spill_bytes == 64


def test_adaptive_plan_ids_are_registered():
    ex = eventlog.parse(EVENTS)[0]
    # both plan versions: 10 rows on the initial node, 15 on the AQE node
    assert ex.sql_metric("ArrowEvalPython", "number of output rows") == 25
    assert ex.operator_runs("ArrowEvalPython", "number of output rows") == 2


def test_layer_counts_units():
    c = eventlog.layer_counts(list(eventlog.parse(EVENTS).values()))
    assert c["udf.run_s"] == pytest.approx(0.5)  # 500 ms summed over tasks
    assert c["udf.bytes_to_py"] == 40
    assert c["shuffle.fetch_wait_s"] == pytest.approx(0.007)
    assert c["write.bytes"] == 4096
    assert c["write.files"] == 3
    assert c["sql_executions"] == 1


def test_within_selects_by_start_time():
    execs = eventlog.parse(EVENTS)
    assert [e.exec_id for e in eventlog.within(execs, 999.0, 1001.0)] == [0]
    assert eventlog.within(execs, 1001.0, 1002.0) == []


def test_reads_rolling_directory_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) for e in EVENTS]
    # file 10 must come after file 2: numeric, not lexical, order
    (app / "events_2_local-1").write_text("\n".join(lines[:4]) + "\n")
    (app / "events_10_local-1").write_text("\n".join(lines[4:]) + "\n")
    (app / "appstatus_local-1").write_text("")
    execs = eventlog.parse_dir(str(tmp_path))
    assert execs[0].tasks == 3
    assert execs[0].sql_metric("Exchange", "shuffle bytes written") == 150


def test_reads_single_file(tmp_path):
    f = tmp_path / "local-1"
    f.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    assert eventlog.parse(eventlog.read_events(str(f)))[0].tasks == 3


def test_parse_dir_wants_exactly_one_log(tmp_path):
    with pytest.raises(ValueError):
        eventlog.parse_dir(str(tmp_path))


def test_flagship_counts_do_not_need_the_prefix_cuts():
    from perfbench import layers

    m = {name: 0.0 for name, _unit, _better in layers.PER_LAYER}
    op = {"name": "op", "kind": "job", "start": 999.0, "end": 1002.0}
    layers._flagship(m, [op], op, eventlog.parse(EVENTS), rows=10)
    assert m["job.python_passes"] == 2
    assert m["job.udf_rows_per_input_row"] == pytest.approx(2.5)
    assert m["job.sql_executions"] == 1
    assert m["annotate.s"] == 0.0  # no cuts ran: no self times
