"""Resumable partitioned pipeline: RAW -> RESULT with per-partition commits.

The Spark re-expression of the reference's staged lifecycle (SURVEY.md
§3.1: Loader -> Adapter -> rules -> Aggregator, one Airflow task process
per stage with parquet+XCom handoff) as TWO checkpointed stages:

  ingest   — bucket the input by conv_id into ``n_partitions`` hive
             partitions (one shuffle; this is the explicit repartition
             before the shuffle-heavy grouped stage the north rule asks
             for). Conversations never straddle partitions, so every
             later stage is embarrassingly parallel across partitions.
  process  — per partition: full filter+scrub pipeline (window flags are
             correct because the partition holds whole conversations),
             INSERT OVERWRITE of kept turns + ledger entry with
             drop-reason metrics.

Idempotency: re-running a partition overwrites its directory; the ledger
is appended only after the data commit. Resume = skip ledger-SUCCESS
partitions. Killing the job mid-run and re-invoking replays only
unfinished partitions and produces byte-identical output (tested).

At 100 TB: ``ingest`` is the only full shuffle; each ``process`` partition
is an independent Iceberg partition job, so a 1000-executor cluster runs
partitions concurrently and a lost executor costs one partition replay,
not the job.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, QualityConfig
from ..sources.tableio import TableIO
from .ledger import Ledger, LedgerEntry
from .pipeline import drop_counts, kept_turns, run_pipeline

PART_COL = "part_id"


def ingest(
    spark: SparkSession,
    transcripts: DataFrame,
    io: TableIO,
    n_partitions: int = 8,
    batch_id: str = "batch0",
) -> None:
    """Stage 0: bucket by conv_id into hive partitions (idempotent whole-stage).

    The bucket count is pinned in the raw ledger entry: a rerun that asks
    for a different ``n_partitions`` raises instead of silently reusing
    the old directory layout (downstream would then iterate the wrong
    ``range(n_partitions)`` and skip buckets). The row count rides the
    write action via CollectMetrics — no second read of the just-written
    parquet.
    """
    from pyspark.sql import Observation

    ledger = Ledger(f"{io.root}/_ledger.jsonl")
    _check_layout_pin(ledger, n_partitions)
    if "raw" in {e.stage for e in ledger.entries() if e.status == "SUCCESS"}:
        return
    t0 = time.time()
    obs = Observation("dqx_ingest_rows")
    bucketed = transcripts.observe(
        obs, F.count(F.lit(1)).alias("rows_in")
    ).withColumn(
        PART_COL, F.pmod(F.crc32(F.col("conv_id").cast("binary")), F.lit(n_partitions))
    )
    # one shuffle, partition-dir layout — every downstream stage prunes
    (
        bucketed.repartition(n_partitions, PART_COL)
        .write.mode("overwrite")
        .partitionBy(PART_COL)
        .options(**io.write_options())
        .parquet(f"{io.root}/raw")
    )
    n = int(obs.get["rows_in"] or 0)
    ledger.append(
        LedgerEntry("raw", "__all__", "SUCCESS", rows_in=n, duration_sec=time.time() - t0,
                    batch_id=batch_id, n_partitions=n_partitions)
    )


def _check_layout_pin(ledger: Ledger, n_partitions: int) -> None:
    """Raise if a SUCCESS raw entry pinned a different bucket count."""
    pins = [
        e.n_partitions
        for e in ledger.entries()
        if e.stage == "raw" and e.status == "SUCCESS" and e.n_partitions is not None
    ]
    if pins and pins[-1] != n_partitions:
        raise ValueError(
            f"partition-layout mismatch: raw stage was ingested with "
            f"n_partitions={pins[-1]} but this run asked for {n_partitions}; "
            f"re-ingest into a fresh root (or pass the pinned value)"
        )


def _process_one(
    spark: SparkSession,
    io: TableIO,
    cfg: QualityConfig,
    k: int,
    batch_id: str,
    write_lock=None,
) -> LedgerEntry:
    """Full filter+scrub of one partition; returns its ledger entry
    (the caller appends it AFTER this returns, preserving the
    data-commit-before-ledger ordering)."""
    t0 = time.time()
    part = spark.read.parquet(f"{io.root}/raw/{PART_COL}={k}")
    result = run_pipeline(part, cfg)
    # rows in/kept and the reason histogram ride the data-write action
    # (CollectMetrics via kept_turns): in path mode that write is the
    # partition's only action
    kept = kept_turns(result).withColumn(PART_COL, F.lit(k))
    if write_lock is None:
        io.overwrite_partition(kept, "result", PART_COL, k)
    else:
        # catalog mode: v1 catalog tables share ONE _temporary committer
        # dir per table location, so concurrent partition commits into
        # the same table corrupt each other (FileOutputCommitter has no
        # concurrent-job protocol). Fill a cache of the result in
        # PARALLEL (the expensive pipeline pass), then serialize only the
        # short cached-read commit. Iceberg's optimistic concurrent
        # commits remove this lock in production — it exists for the
        # session-catalog stand-in. A partition is sized to fit executor
        # storage (MEMORY_AND_DISK spills safely).
        result.persist()
        try:
            result.count()
            with write_lock:
                io.overwrite_partition(kept, "result", PART_COL, k)
        finally:
            result.unpersist()
    counts = drop_counts(result)
    n_in, n_kept = counts.pop("rows_in"), counts.pop("rows_kept")
    reason_counts = {r: n for r, n in counts.items() if n}
    return LedgerEntry(
        "process",
        str(k),
        "SUCCESS",
        rows_in=n_in,
        rows_kept=n_kept,
        rows_dropped=n_in - n_kept,
        drop_reason_counts=reason_counts,
        duration_sec=time.time() - t0,
        batch_id=batch_id,
    )


def process_partitions(
    spark: SparkSession,
    io: TableIO,
    cfg: QualityConfig = DEFAULT_CONFIG,
    n_partitions: int = 8,
    batch_id: str = "batch0",
    fail_after: int | None = None,
    max_concurrent: int = 4,
) -> list[str]:
    """Stage 1: filter+scrub each unprocessed partition; returns the
    partitions processed this invocation.

    ``max_concurrent`` partition jobs run at once from a bounded driver
    thread pool — Spark schedules actions from multiple threads within
    one context, so stragglers and fixed per-job costs overlap instead
    of serializing (at N=4096 partitions a sequential loop's fixed costs
    dominate; a handful in flight keeps the cluster saturated without
    unbounded memory for persisted partitions). Outputs are per-partition
    directories, so concurrency cannot change bytes; the ledger append is
    lock-serialized and still happens only after the partition's data
    commit.

    ``fail_after`` injects a crash after N completed partitions (resume
    tests); it forces sequential mode so the injection point is exact.
    """
    import threading
    from concurrent.futures import ThreadPoolExecutor

    ledger = Ledger(f"{io.root}/_ledger.jsonl")
    _check_layout_pin(ledger, n_partitions)
    done = ledger.done("process")
    pending = [k for k in range(n_partitions) if str(k) not in done]
    processed: list[str] = []
    if fail_after is not None:
        for k in pending:
            if len(processed) >= fail_after:
                raise RuntimeError(f"injected failure after {fail_after} partitions")
            entry = _process_one(spark, io, cfg, k, batch_id)
            ledger.append(entry)
            processed.append(str(k))
        return processed

    lock = threading.Lock()
    # see _process_one: v1 catalog tables cannot take concurrent commits
    write_lock = threading.Lock() if io.catalog else None

    def work(k: int) -> str:
        entry = _process_one(spark, io, cfg, k, batch_id, write_lock=write_lock)
        with lock:
            ledger.append(entry)
        return str(k)

    if not pending:
        return []
    with ThreadPoolExecutor(max_workers=max(1, max_concurrent)) as pool:
        processed = list(pool.map(work, pending))
    return processed


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    cfg: QualityConfig = DEFAULT_CONFIG,
    n_partitions: int = 8,
    fail_after: int | None = None,
    max_concurrent: int = 4,
    compression: str | None = None,
) -> DataFrame:
    """ingest + process all partitions; returns the kept-turns table.
    ``compression=None`` resolves through the per-stage env chain
    (PARQUET_COMPRESSION_RESULT > PARQUET_COMPRESSION > default zstd,
    sources/tableio.stage_compression)."""
    from ..sources.tableio import stage_compression

    io = TableIO(root, compression=compression or stage_compression("RESULT"))
    ingest(spark, transcripts, io, n_partitions)
    process_partitions(
        spark, io, cfg, n_partitions, fail_after=fail_after,
        max_concurrent=max_concurrent,
    )
    return io.read(spark, "result")
