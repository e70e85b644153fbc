"""One measured run of one workload, in a fresh Python process and JVM.

Started by run.py as ``python3 child.py <spec.json>`` with the per-run
directory as its working directory. It drives the engine only through
its public functions, times those calls from outside with in-memory
spans, and writes everything it measured so far to the spec's ``result``
path after each step and when it ends. Outputs are left on disk (or pickled) for run.py to check
after timing has stopped.
"""

from __future__ import annotations

import json
import os
import pickle
import random
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import HEADLINE_QUERIES, N_PARTITIONS  # noqa: E402


class Tracer:
    """Spans kept in memory: id, name, start, end, parent id and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, start: float | None = None, **attrs):
        rec = {
            "id": self._next_id,
            "name": name,
            "start": time.time() if start is None else start,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self._next_id += 1
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)


def record_op(out: dict, tr: Tracer, k: int, body, **attrs) -> None:
    """Run one timed operation; an exception marks it failed, not the run."""
    with tr.span("op", k=k, **attrs) as rec:
        try:
            body(rec)
            rec["ok"] = True
        except Exception:  # noqa: BLE001 - a failed op is a measured outcome
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=8)
    out["ops"].append(dict(rec, wall_s=rec["end"] - rec["start"]))


def skip_op(out: dict, kind: str, deadline: float) -> None:
    """A step the deadline left no room for: a failed op, so that its
    layers can never read as costing nothing."""
    left = deadline - time.time()
    out["ops"].append({"kind": kind, "ok": False,
                       "error": f"{kind} not started: {left:.0f} s left before the deadline"})


def save(spec: dict, out: dict, tr: Tracer) -> None:
    """Write what was measured so far, atomically, so that a child killed
    at the deadline still reports the steps it finished."""
    tmp = spec["result"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(dict(out, spans=tr.spans), f)
    os.replace(tmp, spec["result"])


# ----------------------------------------------------------------- transcripts


def _read(spark, corpus: str):
    from dataquality_box_spark.schema import TRANSCRIPT_SCHEMA

    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(corpus)


def filter_scrub_op(spark, tr: Tracer, corpus: str, out_dir: str) -> None:
    """scripts/run_pipeline.py's job: run_pipeline, write kept turns, then
    write drop_reason_metrics over the same result."""
    from dataquality_box_spark.plans.pipeline import (
        drop_reason_metrics,
        kept_turns,
        run_pipeline,
    )

    result = run_pipeline(_read(spark, corpus))
    with tr.span("kept_write"):
        kept_turns(result).write.mode("overwrite").parquet(os.path.join(out_dir, "kept"))
    with tr.span("metrics_write"):
        drop_reason_metrics(result).write.mode("overwrite").parquet(
            os.path.join(out_dir, "metrics")
        )


def resumable_op(spark, tr: Tracer, corpus: str, root: str) -> int:
    """What run_resumable(n_partitions=8) does, one public call per span
    (ingest, then process_partitions), then a read-back of the result
    table. Returns the rows read back."""
    from dataquality_box_spark.plans.partitioned import ingest, process_partitions
    from dataquality_box_spark.sources.tableio import TableIO, stage_compression

    io = TableIO(root, compression=stage_compression("RESULT"))
    with tr.span("ingest"):
        ingest(spark, _read(spark, corpus), io, N_PARTITIONS)
    with tr.span("process"):
        process_partitions(spark, io, n_partitions=N_PARTITIONS)
    with tr.span("read_back"):
        return len(io.read(spark, "result").toPandas())


def prefix_cuts(spark, tr: Tracer, corpus: str, out_dir: str) -> None:
    """Prefixes of the flagship job, each run once with a warm JVM: noop
    sinks from the scan up to run_pipeline, then the kept write and the
    metrics write themselves. A layer's self time is the difference
    between consecutive cuts."""
    from pyspark.sql import functions as F

    from dataquality_box_spark.config import DEFAULT_CONFIG as cfg
    from dataquality_box_spark.functions.scoring import score_udf
    from dataquality_box_spark.functions.text import text_flag_columns, tokens
    from dataquality_box_spark.operators.conversation import with_conversation_flags
    from dataquality_box_spark.plans.pipeline import (
        annotate_turns,
        drop_reason_metrics,
        kept_turns,
        run_pipeline,
    )

    def read():
        return _read(spark, corpus)

    def scored():
        return read().withColumn("__score", score_udf(F.col("text")))

    def flagged():
        df = scored().withColumn("__toks", tokens(F.col("text")))
        for name, col in text_flag_columns(F.col("text"), cfg, toks=F.col("__toks")).items():
            df = df.withColumn(name, col)
        return df

    def noop(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def parquet(df, name: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))

    cuts = (
        ("cut.scan", lambda: noop(read())),
        ("cut.score", lambda: noop(scored())),
        ("cut.flags", lambda: noop(flagged())),
        ("cut.annotate", lambda: noop(annotate_turns(read(), cfg))),
        ("cut.conversation",
         lambda: noop(with_conversation_flags(annotate_turns(read(), cfg), cfg))),
        ("cut.pipeline", lambda: noop(run_pipeline(read(), cfg))),
        ("cut.kept_write", lambda: parquet(kept_turns(run_pipeline(read(), cfg)), "kept")),
        ("cut.metrics_write",
         lambda: parquet(drop_reason_metrics(run_pipeline(read(), cfg)), "metrics")),
    )
    for name, cut in cuts:
        with tr.span(name):
            cut()


# time a traced step needs left before the deadline to be started
CUTS_NEED_S = 40.0
RESUMABLE_NEED_S = 30.0


def run_filter_scrub(spark, spec: dict, tr: Tracer, out: dict) -> None:
    """The flagship job ``reps`` times on the same corpus, each into its
    own output directory. The traced run then adds the prefix cuts and
    one resumable partitioned run over the same corpus, for the
    per-layer table; a step the deadline leaves no room for is recorded
    as a failed op."""
    for rep in range(spec["reps"]):
        out_dir = os.path.join(spec["out_dir"], f"job-{rep}")
        record_op(out, tr, rep, lambda rec, d=out_dir: filter_scrub_op(spark, tr, spec["corpus"], d),
                  kind="job", rep=rep, output=out_dir)
        save(spec, out, tr)
    if not spec["trace"]:
        return
    if spec["deadline"] - time.time() > CUTS_NEED_S:
        prefix_cuts(spark, tr, spec["corpus"], os.path.join(spec["out_dir"], "cuts"))
        save(spec, out, tr)
    else:
        skip_op(out, "prefix_cuts", spec["deadline"])
    if spec["deadline"] - time.time() > RESUMABLE_NEED_S:
        root = os.path.join(spec["out_dir"], "resumable")

        def body(rec: dict) -> None:
            rec["rows_read_back"] = resumable_op(spark, tr, spec["corpus"], root)

        record_op(out, tr, spec["reps"], body, kind="resumable", output=root)
    else:
        skip_op(out, "resumable", spec["deadline"])


# ------------------------------------------------------------------- queries


def _cache_state(spark) -> dict:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return {
        "rdds": int(jsc.getPersistentRDDs().size()),
        "resident_bytes": int(sum(i.memSize() + i.diskSize() for i in infos)),
        "initial_partitions": int(
            spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        ),
    }


def run_headline(spark, spec: dict, tr: Tracer, out: dict) -> None:
    """Each headline query once, in an order chosen by the seed, fully
    materialized with toPandas() and pickled for the checks."""
    from dataquality_box_spark.driver_queries import PAIRS

    order = random.Random(spec["seed"]).sample(HEADLINE_QUERIES, len(HEADLINE_QUERIES))
    for k, name in enumerate(order):
        path = os.path.join(spec["out_dir"], f"{name}.pkl")

        def body(rec: dict, name=name, path=path) -> None:
            with tr.span("query"):
                pdf = PAIRS[name][0](spark, spec["tables"]).toPandas()
            with open(path, "wb") as f:
                pickle.dump(pdf, f)

        record_op(out, tr, k, body, kind="query", query=name, rep=0, output=path)
    # persisted frames still resident after the pass
    out["cache_after_pass"] = _cache_state(spark)


RUNNERS = {"filter_scrub_job": run_filter_scrub, "headline_queries": run_headline}


# ------------------------------------------------------------------- session


def start_session(spec: dict, tr: Tracer):
    """Process start -> get_spark -> one trivial action -> the workload's
    work once on small warm-up inputs of another seed: the run's set-up."""
    with tr.span("setup", start=spec["launched_at"]):
        from dataquality_box_spark.session import get_spark

        conf = None
        if spec["trace"]:
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + spec["eventlog_dir"],
                "spark.eventLog.compress": "false",
            }
        spark = get_spark("perfbench-" + spec["workload"], extra_conf=conf)
        spark.range(1).count()
        if spec.get("warmup_corpus"):
            filter_scrub_op(spark, Tracer(spec["run_id"]), spec["warmup_corpus"],
                            os.path.join(spec["out_dir"], "warmup"))
        if spec.get("warmup_tables"):
            from dataquality_box_spark.driver_queries import PAIRS

            for name in HEADLINE_QUERIES:
                PAIRS[name][0](spark, spec["warmup_tables"]).toPandas()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit, so its resource usage is
    reported to this process and no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit: force it
            proc.kill()
            proc.wait()


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    tr = Tracer(spec["run_id"])
    out: dict = {"ops": [], "errors": []}
    spark = None
    try:
        spark = start_session(spec, tr)
        RUNNERS[spec["workload"]](spark, spec, tr, out)
    except Exception:  # noqa: BLE001 - reported to the parent as a failure
        out["errors"].append(traceback.format_exc())
    finally:
        save(spec, out, tr)
        if spark is not None:
            stop_session(spark)


if __name__ == "__main__":
    main()
