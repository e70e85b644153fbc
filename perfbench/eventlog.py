"""Stdlib parser for Spark's uncompressed JSON event log.

Spark writes one JSON object per line (``spark.eventLog.compress=false``);
with rolling logs (the Spark 4 default) the log is a directory of
``events_<n>_<app>`` files. This module folds that stream into one record
per SQL execution: the plan's SQL metrics (summed over tasks, plus the
driver-side updates), and the task-level CPU, GC and spill totals of
every stage that ran for the execution.

Layers are then read off operator-specific metrics: ``ArrowEvalPython``
(the Python-UDF boundary), ``Exchange`` (shuffles), ``Sort``/``Window``
(spill), ``Scan parquet`` and ``InsertIntoHadoopFsRelationCommand``.
WholeStageCodegen durations are pipelined and overlap, so they are not
used.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
SQL_START = _SQL + "SparkListenerSQLExecutionStart"
AQE_UPDATE = _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUMS = _SQL + "SparkListenerDriverAccumUpdates"

# operator names as they appear in sparkPlanInfo.nodeName
SCAN = "Scan parquet"
PYTHON_UDF = "ArrowEvalPython"
EXCHANGE = "Exchange"
SORT = "Sort"
WINDOW = "Window"
WRITE = "Execute InsertIntoHadoopFsRelationCommand"


@dataclass
class Execution:
    """One SQL execution (one action) and what its tasks did."""

    exec_id: int
    start_ms: int
    # accumulator id -> (operator name, metric name, metric type)
    metric_defs: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    # accumulator id -> value summed over task updates and driver updates
    values: dict[int, float] = field(default_factory=dict)
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: float = 0.0

    def sql_metric(self, operator: str, metric: str) -> float:
        """Sum of ``metric`` over every instance of ``operator`` in the
        plan (initial and adaptive versions share accumulator ids)."""
        return sum(
            self.values.get(acc, 0.0)
            for acc, (node, name, _kind) in self.metric_defs.items()
            if node == operator and name == metric
        )

    def operator_runs(self, operator: str, metric: str) -> int:
        """How many instances of ``operator`` reported a non-zero
        ``metric``: e.g. Python passes that actually moved rows."""
        return sum(
            1
            for acc, (node, name, _kind) in self.metric_defs.items()
            if node == operator and name == metric and self.values.get(acc, 0.0) > 0
        )


def _file_order(name: str) -> tuple[int, str]:
    m = re.match(r"events_(\d+)_", name)
    return (int(m.group(1)) if m else 0, name)


def read_events(path: str) -> Iterator[dict]:
    """Yield the events of one application's log: a single file, or a
    rolling-log directory whose ``events_<n>_*`` files are read in order."""
    if os.path.isdir(path):
        names = sorted(
            (n for n in os.listdir(path) if n.startswith("events_")), key=_file_order
        )
        files = [os.path.join(path, n) for n in names]
    else:
        files = [path]
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def find_logs(log_dir: str) -> list[str]:
    """Every application log (file or rolling directory) under log_dir."""
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.startswith(".") and not n.endswith(".inprogress.crc")
    )


def _register_plan(ex: Execution, node: dict) -> None:
    name = node.get("nodeName", "").strip()
    for m in node.get("metrics", []):
        ex.metric_defs[int(m["accumulatorId"])] = (name, m["name"], m["metricType"])
    for child in node.get("children", []):
        _register_plan(ex, child)


def parse(events: Iterable[dict]) -> dict[int, Execution]:
    """Fold an event stream into executions keyed by execution id."""
    execs: dict[int, Execution] = {}
    stage_exec: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == SQL_START:
            ex = Execution(int(e["executionId"]), int(e["time"]))
            _register_plan(ex, e["sparkPlanInfo"])
            execs[ex.exec_id] = ex
        elif kind == AQE_UPDATE:
            ex = execs.get(int(e["executionId"]))
            if ex is not None:
                _register_plan(ex, e["sparkPlanInfo"])
        elif kind == DRIVER_ACCUMS:
            ex = execs.get(int(e["executionId"]))
            if ex is not None:
                for acc, value in e["accumUpdates"]:
                    ex.values[int(acc)] = ex.values.get(int(acc), 0.0) + float(value)
        elif kind == "SparkListenerJobStart":
            exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if exec_id is not None:
                for stage in e.get("Stage IDs", []):
                    stage_exec[int(stage)] = int(exec_id)
        elif kind == "SparkListenerTaskEnd":
            ex = execs.get(stage_exec.get(int(e["Stage ID"]), -1))
            if ex is None:
                continue
            ex.tasks += 1
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") != "sql" or acc.get("Update") is None:
                    continue
                acc_id = int(acc["ID"])
                ex.values[acc_id] = ex.values.get(acc_id, 0.0) + float(acc["Update"])
            tm = e.get("Task Metrics") or {}
            ex.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            ex.gc_s += tm.get("JVM GC Time", 0) / 1e3
            ex.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
    return execs


def parse_dir(log_dir: str) -> dict[int, Execution]:
    """Parse the single application log a traced run leaves in log_dir."""
    logs = find_logs(log_dir)
    if len(logs) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {len(logs)}")
    return parse(read_events(logs[0]))


def within(execs: dict[int, Execution], start_s: float, end_s: float) -> list[Execution]:
    """Executions that started inside the wall-clock window [start_s, end_s]
    (the window of a benchmark span; both clocks are the host's epoch)."""
    lo, hi = start_s * 1000 - 5, end_s * 1000 + 5
    return [ex for ex in execs.values() if lo <= ex.start_ms <= hi]


def total(execs: list[Execution], operator: str, metric: str) -> float:
    return sum(ex.sql_metric(operator, metric) for ex in execs)


def layer_counts(execs: list[Execution]) -> dict[str, float]:
    """The per-layer counts of a group of executions, in base units
    (seconds, bytes, rows)."""
    ms = 1e-3
    return {
        "scan.bytes": total(execs, SCAN, "size of files read"),
        "udf.start_s": total(execs, PYTHON_UDF, "time to start Python workers") * ms,
        "udf.init_s": total(execs, PYTHON_UDF, "time to initialize Python workers") * ms,
        "udf.run_s": total(execs, PYTHON_UDF, "time to run Python workers") * ms,
        "udf.bytes_to_py": total(execs, PYTHON_UDF, "data sent to Python workers"),
        "udf.bytes_from_py": total(execs, PYTHON_UDF, "data returned from Python workers"),
        "udf.rows": total(execs, PYTHON_UDF, "number of output rows"),
        "udf.passes": sum(
            ex.operator_runs(PYTHON_UDF, "number of output rows") for ex in execs
        ),
        "shuffle.bytes": total(execs, EXCHANGE, "shuffle bytes written"),
        "shuffle.fetch_wait_s": total(execs, EXCHANGE, "fetch wait time") * ms,
        "shuffle.partitions": total(execs, EXCHANGE, "number of partitions"),
        "sort_window.spill_bytes": total(execs, SORT, "spill size")
        + total(execs, WINDOW, "spill size"),
        "write.bytes": total(execs, WRITE, "written output"),
        "write.files": total(execs, WRITE, "number of written files"),
        "tasks.cpu_s": sum(ex.cpu_s for ex in execs),
        "tasks.gc_s": sum(ex.gc_s for ex in execs),
        "tasks.spill_bytes": sum(ex.spill_bytes for ex in execs),
        "sql_executions": float(len(execs)),
    }
