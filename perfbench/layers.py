"""Per-layer metrics of a traced run: benchmark spans + Spark event log.

Every workload reports every metric; a layer the workload does not run
reads 0. Times of the flagship layers are self times from noop prefix
cuts (cut N minus cut N-1); counts come from Spark's own SQL metrics of
the executions that started inside the matching benchmark span.
"""

from __future__ import annotations

import os
import statistics

from . import eventlog
from .stats import ratio
from .workloads import HEADLINE_QUERIES, N_PARTITIONS

S, BYTES, COUNT, RATIO = "s", "bytes", "count", "ratio"

PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("session.start_s", S, "lower"),
    ("scan.s", S, "lower"),
    ("scan.bytes", BYTES, "lower"),
    ("scoring.s", S, "lower"),
    ("scoring.py_start_s", S, "lower"),
    ("scoring.py_init_s", S, "lower"),
    ("scoring.py_run_s", S, "lower"),
    ("scoring.bytes_to_py", BYTES, "lower"),
    ("scoring.bytes_from_py", BYTES, "lower"),
    ("text_flags.s", S, "lower"),
    ("text_flags.share_of_annotate", RATIO, "lower"),
    ("annotate.s", S, "lower"),
    ("conversation.s", S, "lower"),
    ("conversation.shuffle_bytes", BYTES, "lower"),
    ("conversation.fetch_wait_s", S, "lower"),
    ("conversation.spill_bytes", BYTES, "lower"),
    ("conversation.partitions", COUNT, "lower"),
    ("decide_scrub.s", S, "lower"),
    ("write.s", S, "lower"),
    ("write.bytes", BYTES, "lower"),
    ("write.files", COUNT, "lower"),
    ("metrics.s", S, "lower"),
    ("job.python_passes", COUNT, "lower"),
    ("job.udf_rows_per_input_row", RATIO, "lower"),
    ("job.sql_executions", COUNT, "lower"),
    ("ingest.s", S, "lower"),
    ("ingest.shuffle_bytes", BYTES, "lower"),
    ("process.s", S, "lower"),
    ("process.sql_executions_per_partition", COUNT, "lower"),
    ("process.udf_rows_per_input_row", RATIO, "lower"),
    ("read_back.s", S, "lower"),
    *((f"query.{q}.s", S, "lower") for q in HEADLINE_QUERIES),
    ("queries.shuffle_bytes", BYTES, "lower"),
    ("queries.spill_bytes", BYTES, "lower"),
    ("cache.rdds_after_query", COUNT, "lower"),
    ("cache.resident_bytes_after_query", BYTES, "lower"),
    ("session.initial_partitions_after_query", COUNT, "lower"),
    ("job.executor_cpu_s", S, "lower"),
    ("job.gc_s", S, "lower"),
    ("job.cpu_busy_ratio", RATIO, "higher"),
    ("trace.wall_s", S, "lower"),
    ("trace.untraced_wall_s", S, "lower"),
    ("trace.overhead_s", S, "lower"),
)


# the flagship job's prefix cuts, in order (child.prefix_cuts)
CUTS = (
    "cut.scan", "cut.score", "cut.flags", "cut.annotate", "cut.conversation",
    "cut.pipeline", "cut.kept_write", "cut.metrics_write",
)


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def spans_of(result: dict, name: str) -> list[dict]:
    return [s for s in result["spans"] if s["name"] == name]


def _last(spans: list[dict], name: str, inside: dict | None = None) -> dict | None:
    """The last span called name, optionally within the interval of another."""
    found = [
        s for s in spans
        if s["name"] == name
        and (inside is None or (inside["start"] <= s["start"] and s["end"] <= inside["end"]))
    ]
    return found[-1] if found else None


def workload_wall(result: dict) -> float:
    """wall_s: the median over a run's repetitions of the measured work of
    one repetition (the job, or one pass of the ten queries one after
    another); 0 when any of it failed."""
    ops = [op for op in result["ops"] if op["kind"] in ("job", "query")]
    if not ops or not all(op.get("ok") for op in ops):
        return 0.0
    per_rep: dict[int, float] = {}
    for op in ops:
        per_rep[op["rep"]] = per_rep.get(op["rep"], 0.0) + op["wall_s"]
    return statistics.median(per_rep.values())


def per_layer(workload: str, traced: dict, plain_wall: float, data: dict) -> dict[str, tuple[float, str]]:
    m = {name: 0.0 for name, _unit, _better in PER_LAYER}
    spans = traced["spans"]
    execs = eventlog.parse_dir(traced["spec"]["eventlog_dir"])
    setup = _last(spans, "setup")
    if setup:
        m["session.start_s"] = _dur(setup)

    measured = [s for s in spans if s["name"] == "op" and s.get("ok")]
    jobs = [s for s in measured if s["kind"] == "job"]
    resumable = [s for s in measured if s["kind"] == "resumable"]
    queries = [s for s in measured if s["kind"] == "query"]
    if jobs:
        _flagship(m, spans, jobs[-1], execs, data["rows"])
    if resumable:
        _resumable(m, spans, resumable[-1], execs, data["rows"])
    if queries:
        _queries(m, traced, queries, execs)

    # whole job: the last repetition of the job, or the ten queries
    whole = jobs[-1:] or queries
    job = [ex for op in whole for ex in eventlog.within(execs, op["start"], op["end"])]
    counts = eventlog.layer_counts(job)
    busy = sum(_dur(op) for op in whole)
    m["job.executor_cpu_s"] = counts["tasks.cpu_s"]
    m["job.gc_s"] = counts["tasks.gc_s"]
    m["job.cpu_busy_ratio"] = ratio(counts["tasks.cpu_s"], busy * len(os.sched_getaffinity(0)))
    if queries:
        _udf(m, counts)

    m["trace.wall_s"] = workload_wall(traced)
    m["trace.untraced_wall_s"] = plain_wall
    m["trace.overhead_s"] = m["trace.wall_s"] - plain_wall
    units = {name: unit for name, unit, _better in PER_LAYER}
    return {name: (float(v), units[name]) for name, v in m.items()}


def _udf(m: dict, c: dict) -> None:
    m["scoring.py_start_s"] = c["udf.start_s"]
    m["scoring.py_init_s"] = c["udf.init_s"]
    m["scoring.py_run_s"] = c["udf.run_s"]
    m["scoring.bytes_to_py"] = c["udf.bytes_to_py"]
    m["scoring.bytes_from_py"] = c["udf.bytes_from_py"]


def _flagship(m: dict, spans: list[dict], op: dict, execs: dict, rows: int) -> None:
    """Counts of one measured job repetition, then self times from the
    prefix cuts when they ran (a skipped step fails the run)."""
    job = eventlog.layer_counts(eventlog.within(execs, op["start"], op["end"]))
    kept = _last(spans, "kept_write", inside=op)
    if kept is not None:
        k = eventlog.layer_counts(eventlog.within(execs, kept["start"], kept["end"]))
        m["scan.bytes"] = k["scan.bytes"]
        _conversation_and_write(m, k)
    _udf(m, job)
    m["job.python_passes"] = job["udf.passes"]
    m["job.udf_rows_per_input_row"] = ratio(job["udf.rows"], rows)
    m["job.sql_executions"] = job["sql_executions"]

    cut = {s["name"]: _dur(s) for s in spans if s["name"] in CUTS}
    if len(cut) < len(CUTS):
        return
    m["scan.s"] = cut["cut.scan"]
    m["scoring.s"] = cut["cut.score"] - cut["cut.scan"]
    m["text_flags.s"] = cut["cut.flags"] - cut["cut.score"]
    m["annotate.s"] = cut["cut.annotate"] - cut["cut.scan"]
    m["text_flags.share_of_annotate"] = ratio(m["text_flags.s"], m["annotate.s"])
    m["conversation.s"] = cut["cut.conversation"] - cut["cut.annotate"]
    m["decide_scrub.s"] = cut["cut.pipeline"] - cut["cut.conversation"]
    m["write.s"] = cut["cut.kept_write"] - cut["cut.pipeline"]
    m["metrics.s"] = cut["cut.metrics_write"]


def _conversation_and_write(m: dict, c: dict) -> None:
    m["conversation.shuffle_bytes"] = c["shuffle.bytes"]
    m["conversation.fetch_wait_s"] = c["shuffle.fetch_wait_s"]
    m["conversation.spill_bytes"] = c["sort_window.spill_bytes"]
    m["conversation.partitions"] = c["shuffle.partitions"]
    m["write.bytes"] = c["write.bytes"]
    m["write.files"] = c["write.files"]


def _resumable(m: dict, spans: list[dict], op: dict, execs: dict, rows: int) -> None:
    ing = _last(spans, "ingest", inside=op)
    proc = _last(spans, "process", inside=op)
    back = _last(spans, "read_back", inside=op)
    if ing is None or proc is None or back is None:
        return
    i = eventlog.layer_counts(eventlog.within(execs, ing["start"], ing["end"]))
    p = eventlog.layer_counts(eventlog.within(execs, proc["start"], proc["end"]))
    m["ingest.s"] = _dur(ing)
    m["ingest.shuffle_bytes"] = i["shuffle.bytes"]
    m["process.s"] = _dur(proc)
    m["process.sql_executions_per_partition"] = p["sql_executions"] / N_PARTITIONS
    m["process.udf_rows_per_input_row"] = ratio(p["udf.rows"], rows)
    m["read_back.s"] = _dur(back)


def _queries(m: dict, traced: dict, ops: list[dict], execs: dict) -> None:
    group = []
    for op in ops:
        m[f"query.{op['query']}.s"] = _dur(op)
        group.extend(eventlog.within(execs, op["start"], op["end"]))
    c = eventlog.layer_counts(group)
    m["queries.shuffle_bytes"] = c["shuffle.bytes"]
    m["queries.spill_bytes"] = c["tasks.spill_bytes"]
    m["job.python_passes"] = c["udf.passes"]
    m["job.sql_executions"] = c["sql_executions"]
    cache = traced.get("cache_after_pass") or {}
    m["cache.rdds_after_query"] = cache.get("rdds", 0)
    m["cache.resident_bytes_after_query"] = cache.get("resident_bytes", 0)
    m["session.initial_partitions_after_query"] = cache.get("initial_partitions", 0)
