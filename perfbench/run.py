"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the seeded inputs and their
expected outputs (cached in ``.perfbench_cache/``), starts the workload in
a fresh child process (and so a fresh JVM) inside a per-run working
directory, checks every output against its oracle after timing has
stopped, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` it also runs a second,
traced child (Spark event log on, prefix cuts) and prints the per-layer
metrics, including the tracing overhead. Metric definitions are in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import pickle
import resource
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD = os.path.join(ROOT, "perfbench", "child.py")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170.0  # the whole run, verification included, ends before 180 s
VERIFY_S = 12.0  # kept back from the children for checks and clean-up
REQUIRED = ("dataquality_box_spark/plans/pipeline.py", "scripts/check_oracle.py")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def child_env(run_dir: str, run_id: str) -> dict[str, str]:
    """The child's environment: heap sized from host RAM, one Spark core per
    host core, the repository importable by Python workers, and scratch
    space inside the run directory."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    # a sixth of RAM, in 256 MiB steps, between 1 and 4 GiB
    heap_mb = min(4096, max(1024, ram // 6 // (256 << 20) * 256))
    env = dict(os.environ)
    env.update(
        DQX_DRIVER_MEM=f"{heap_mb}m",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PERFBENCH_RUN=run_id,
    )
    return env


def _marked_pids(run_id: str) -> list[int]:
    """Processes that inherited this run's PERFBENCH_RUN marker."""
    marker = f"PERFBENCH_RUN={run_id}".encode()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if marker in f.read().split(b"\0"):
                    pids.append(int(entry))
        except OSError:
            continue
    return pids


def reap(run_id: str) -> int:
    """Kill and wait out any process of this run still alive (a JVM or
    Python worker the child failed to stop). Returns how many there were."""
    pids = _marked_pids(run_id)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 15
    while _marked_pids(run_id) and time.time() < deadline:
        time.sleep(0.1)
    return len(pids)


def launch(spec: dict, run_dir: str, timeout: float) -> dict:
    """Run child.py on spec in run_dir; returns its result plus crash info."""
    os.makedirs(spec["out_dir"], exist_ok=True)
    os.makedirs(os.path.join(run_dir, "spark-local"), exist_ok=True)
    spec_path = os.path.join(run_dir, f"spec-{spec['run_id']}.json")
    log_path = os.path.join(run_dir, f"child-{spec['run_id']}.log")
    spec["launched_at"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, CHILD, spec_path],
            cwd=run_dir,
            env=child_env(run_dir, spec["run_id"]),
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    leftovers = reap(spec["run_id"])
    problems = []
    if proc.returncode != 0:
        problems.append(f"child exited with {proc.returncode}")
    if leftovers:
        problems.append(f"{leftovers} processes outlived the child and were killed")
    for dump in sorted(glob.glob(os.path.join(run_dir, "hs_err_pid*.log"))):
        with open(dump, errors="replace") as f:
            head = "".join(f.readlines()[:12])
        problems.append(f"JVM crash dump {os.path.basename(dump)}:\n{head}")
    result = {"ops": [], "errors": [], "spans": []}
    if os.path.exists(spec["result"]):
        with open(spec["result"]) as f:
            result = json.load(f)
    result["errors"] = result.get("errors", []) + problems
    if result["errors"]:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        result["errors"].append(f"child log tail:\n{tail}")
    return result


# -------------------------------------------------------------- verification


def verify(result: dict, inputs: dict) -> tuple[int, int, list[str]]:
    """Check every attempted op's output; returns (attempted, failed, problems)."""
    problems: list[str] = []
    failed = 0
    for op in result["ops"]:
        issues = [] if op.get("ok") else [op.get("error", "op failed")]
        if op.get("ok"):
            try:
                issues = check_op(op, inputs)
            except Exception as ex:  # noqa: BLE001 - an unreadable output is wrong
                issues = [f"output unreadable: {type(ex).__name__}: {ex}"]
        if issues:
            failed += 1
            label = op.get("query", op["kind"])
            problems.extend(f"{label}: {i}" for i in issues)
    attempted = len(result["ops"])
    if result["errors"] or attempted == 0:
        # a crash or a run that never reached its ops counts as one failure
        attempted = max(attempted, 1)
        failed = max(failed, 1)
        problems.extend(result["errors"])
    return attempted, failed, problems


def check_op(op: dict, inputs: dict) -> list[str]:
    import pandas as pd

    from perfbench import oracles

    if op["kind"] == "job":
        kept = pd.read_parquet(os.path.join(op["output"], "kept"))
        metrics = pd.read_parquet(os.path.join(op["output"], "metrics"))
        return oracles.check_kept(kept, inputs["kept"]) + oracles.check_metrics_table(
            metrics, inputs["reasons"]
        )
    if op["kind"] == "resumable":
        table = pd.read_parquet(os.path.join(op["output"], "result"))
        issues = oracles.check_kept(table, inputs["kept"])
        if op.get("rows_read_back") != len(inputs["kept"]):
            issues.append(f"read back {op.get('rows_read_back')} rows, expected {len(inputs['kept'])}")
        return issues + oracles.check_ledger(
            op["output"], inputs["rows"], len(inputs["kept"]), inputs["reasons"]
        )
    name = op["query"]
    with open(op["output"], "rb") as f:
        got = pickle.load(f)
    return oracles.check_query(name, got, inputs["expected"][name])


# ------------------------------------------------------------------- metrics


def end_to_end(result: dict, rows: int, rss_kb: int, attempted: int,
               failed: int) -> dict[str, tuple[float, str]]:
    from perfbench.layers import spans_of, workload_wall
    from perfbench.stats import ratio

    setup = spans_of(result, "setup")
    wall = workload_wall(result)
    return {
        "setup_s": (setup[0]["end"] - setup[0]["start"] if setup else 0.0, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (ratio(rows, wall), "1/s"),
        "peak_rss_mb": (rss_kb / 1024.0, "MB"),
        "ops_ok_ratio": (1.0 - ratio(failed, attempted), "ratio"),
    }


def prepare(wl, seed: int, reps: int) -> tuple[dict, dict]:
    """Seeded inputs for the child, which repeats the job ``reps`` times,
    and expected outputs for the checks. ``data["rows"]`` is the input
    rows of one repetition."""
    from perfbench import inputs as inp
    from perfbench import oracles
    from perfbench.tables import planted_matches
    from perfbench.workloads import HEADLINE_QUERIES, QUERY_TABLES, WARMUP_SEED_OFFSET

    spec: dict = {"workload": wl.name, "seed": seed, "reps": reps}
    data: dict = {}
    if wl.warmup_conversations:
        spec["warmup_corpus"] = inp.corpus(wl.warmup_conversations, seed + WARMUP_SEED_OFFSET)
    if wl.warmup_table_scale:
        spec["warmup_tables"] = inp.driver_tables(wl.warmup_table_scale, seed + WARMUP_SEED_OFFSET)
    if wl.conversations:
        spec["corpus"] = inp.corpus(wl.conversations, seed)
        data["kept"], data["reasons"] = oracles.reference(wl.conversations, seed)
        data["rows"] = data["reasons"][oracles.TOTAL]
    if wl.table_scale:
        import pyarrow.parquet as pq

        spec["tables"] = inp.driver_tables(wl.table_scale, seed)
        data["expected"] = oracles.query_expected(spec["tables"], list(HEADLINE_QUERIES))
        empty = [q for q, n in planted_matches(data["expected"]).items() if n == 0]
        if empty:
            fail(f"the seed {seed} tables plant no near-duplicate for {empty}")
        data["rows"] = sum(
            pq.ParquetFile(os.path.join(spec["tables"], f"{t}.parquet")).metadata.num_rows
            for tables in QUERY_TABLES.values() for t in tables
        )
    return spec, data


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for a uniform command line; a run measures fixed work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # the parent kills a child at this time and passes it on, so that a
    # child starts no step it cannot finish; checks and clean-up follow
    kill_at = t_start + DEADLINE_S - VERIFY_S

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a repository checkout (missing {', '.join(missing)})")
    sys.path.insert(0, ROOT)
    from perfbench import layers
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    # a traced invocation makes two runs (untraced, then traced) of one
    # job repetition each, to stay inside the deadline
    spec_base, data = prepare(wl, args.seed, 1 if args.trace else wl.reps)

    run_name = f"{wl.name}-s{args.seed}-{os.getpid()}"
    run_dir = os.path.join(WORK_DIR, run_name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = child_env(run_dir, run_name)
    print("perfbench child environment: " + json.dumps(
        {k: env[k] for k in ("DQX_DRIVER_MEM", "SPARK_GRAFT_CPUS", "PYTHONPATH",
                             "SPARK_LOCAL_DIRS", "PYSPARK_PYTHON")}, sort_keys=True))
    try:
        # a traced invocation first repeats the untraced run, in the same
        # minute, as the baseline of its tracing overhead
        tags = ["plain", "traced"] if args.trace else ["plain"]
        results = {}
        rss_kb = 0
        for tag in tags:
            spec = dict(
                spec_base,
                trace=tag == "traced",
                run_id=f"{run_name}-{tag}",
                out_dir=os.path.join(run_dir, f"out-{tag}"),
                eventlog_dir=os.path.join(run_dir, f"eventlog-{tag}"),
                result=os.path.join(run_dir, f"result-{tag}.json"),
                deadline=kill_at,
            )
            os.makedirs(spec["eventlog_dir"])
            results[tag] = launch(spec, run_dir, timeout=max(kill_at - time.time(), 5))
            results[tag]["spec"] = spec
            if tag == "plain":
                rss_kb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss

        # ---- timing is over: check outputs
        checked = {tag: verify(res, data) for tag, res in results.items()}
        attempted = sum(a for a, _f, _p in checked.values())
        failed = sum(f_ for _a, f_, _p in checked.values())
        for _a, _f, problems in checked.values():
            for p in problems:
                print(f"perfbench: {p}", file=sys.stderr)

        if args.trace:
            plain_wall = layers.workload_wall(results["plain"])
            metrics = layers.per_layer(wl.name, results["traced"], plain_wall, data)
        else:
            a, f_, _p = checked["plain"]
            metrics = end_to_end(results["plain"], data["rows"], rss_kb, a, f_)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
