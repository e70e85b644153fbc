"""SparkSession factory with scale-appropriate defaults.

Local-mode testing uses ``local[N]``; the same config block is what a
cluster deployment would pass to ``spark-submit --conf``. AQE is on so
skewed conv_id partitions are split at runtime; shuffle partitions default
to the core count (local) — on a real cluster this would be 2-3x total
cores or left to AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dataquality_box_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    parallelism=None -> local[*]. On a real cluster, drop .master and let
    spark-submit decide; every other conf carries over unchanged.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = shuffle_partitions or cpus or (os.cpu_count() or 8)
    heap = driver_memory()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size shuffles by BYTES, not by core count: AQE can only coalesce
        # DOWN from the initial partition number, so a fixed
        # shuffle.partitions=cores silently becomes rows/32 per task as the
        # corpus grows — at 143M turns (the 100x bench point) the conv_id
        # window stage put 4.5M text rows in each of 32 concurrent window
        # buffers + parquet writers and OOMed the 16g heap. Round 5 fixed
        # that by PINNING initialPartitionNum=256, but per-map
        # shuffle-bucket overhead is linear in the initial count (a
        # small-query-heavy suite ran 31s/43s/136s at 32/256/2048), so the
        # pin taxed every small/mid-scale run ~25-40%. Round 6 replaces the
        # constant with INPUT-SIZED tuning: the session starts at the
        # shuffle.partitions default (cores locally — right for small
        # inputs) and job entry points call ``tune_shuffle_for`` below,
        # which raises the knob to input_bytes-derived values before a
        # large plan executes (the 100x pipeline gets its ~256 back, sf0.1
        # queries keep ~cores). DQX_INITIAL_SHUFFLE_PARTITIONS still
        # force-pins a constant for cluster deployments that size it from
        # executor count.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "DQX_INITIAL_SHUFFLE_PARTITIONS", str(shuffle)
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite sort-merge joins to shuffled-hash at runtime
        # when EVERY post-shuffle partition of the build side is under
        # the advisory partition size (guide §3.1; default 0 = never).
        # Skips the per-partition sorts; the build map is bounded by the
        # same 64 MB the coalescer targets, so this is scale-safe by
        # construction (AQE declines the rewrite when any partition is
        # bigger). Measured best-of-3 at sf0.1: two_tier 1.56->1.27 s,
        # dedup_jaccard_lsh 2.47->2.09 s, transcript_keep_scrub
        # 1.85->1.53 s; no query slower.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("DQX_SHJ_LOCAL_MAP_THRESHOLD", "64m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: driver heap is the only memory pool. Keep it MODEST
        # and fully pre-touched: measured on a 32-core host (interleaved
        # reps, 1.43M-turn pipeline, local[32]) a 48g heap without Xms ran
        # 18-26s, Xms48g without pretouch 78-130s, while
        # Xms16g+AlwaysPreTouch ran 13.6-16s — heap growth/commit
        # page-zeroing lands in the kernel (70%+ sys time) and serializes
        # 32 task threads. Pre-touching at JVM start moves that cost into
        # startup, where it belongs. The size comes from the host
        # (driver_memory), so the pre-touched heap always fits in RAM.
        .config("spark.driver.memory", heap)
        .config("spark.driver.extraJavaOptions", f"-Xms{heap} -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Default driver heap: this share of physical RAM, capped where the
# pre-touch config was measured (a fixed 16g pre-touched heap cannot start
# on a 15 GB host; above 16g a growable heap measured slower).
_DRIVER_RAM_SHARE = 0.45
_MAX_DRIVER_MB = 16 * 1024


def driver_memory() -> str:
    """The driver heap ``get_spark`` asks for, as a JVM size (``"<n>m"``):
    ``DQX_DRIVER_MEM`` when set, else ~45% of physical RAM capped at 16 GiB."""
    pinned = os.environ.get("DQX_DRIVER_MEM")
    if pinned:
        return pinned
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(int(ram * _DRIVER_RAM_SHARE) >> 20, _MAX_DRIVER_MB)}m"


# AQE's partition-coalescing target (spark.sql.adaptive.
# advisoryPartitionSizeInBytes default): tuned partition counts aim here.
_ADVISORY_BYTES = 64 * 1024 * 1024

# Parquet-to-shuffle expansion for this engine's text-heavy frames:
# zstd-compressed transcript parquet re-expands ~7x once annotated rows
# hit the conv_id exchange (measured at the 143M-turn point: 2.44 GB
# parquet -> AQE coalesced the window shuffle to ~256 x 64 MB ≈ 16 GB).
# 8 keeps a margin without over-partitioning small inputs.
_SHUFFLE_EXPANSION = 8.0

# ceiling: far above any local corpus; a cluster deployment that needs
# more pins DQX_INITIAL_SHUFFLE_PARTITIONS explicitly.
_MAX_INITIAL_PARTITIONS = 4096


def input_bytes_of(df) -> int:
    """Total on-disk bytes behind a DataFrame's file scans (0 for
    in-memory/derived-only frames). Driver-side only: lists the leaf
    files Catalyst already resolved — no job runs."""
    total = 0
    for f in df.inputFiles():
        if f.startswith("file:"):
            # file:///x, file://x and file:/x all mean local /x
            path = f[5:]
            while path.startswith("//"):
                path = path[1:]
        else:
            path = f
        if not path.startswith("/"):
            continue  # non-local source; caller keeps the session default
        try:
            total += os.path.getsize(path)
        except OSError:
            pass
    return total


def tune_shuffle_for(spark, input_bytes: int) -> int:
    """Scale-adaptive shuffle sizing (optimization guide §2.2): set AQE's
    ``initialPartitionNum`` from the job's input bytes so shuffles start
    near ``input_bytes * expansion / 64MB`` partitions and AQE coalesces
    down — bytes-bounded tasks at 100x corpus, ~core-count tasks (and no
    per-map bucket tax) at sf0.1. Called by job entry points (pipeline,
    driver-query table registration, corpus-sized operators) BEFORE the
    action; the conf is session-level and read at each query's planning,
    so the last caller before an action wins.

    No-ops when DQX_INITIAL_SHUFFLE_PARTITIONS pins an explicit value
    (cluster deployments) or when input_bytes is unknown (<= 0).
    Returns the partition count now in effect."""
    pinned = os.environ.get("DQX_INITIAL_SHUFFLE_PARTITIONS")
    if pinned:
        return int(pinned)
    cores = spark.sparkContext.defaultParallelism
    current = int(
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None
        )
        or cores
    )
    if input_bytes <= 0:
        return current
    want = int(input_bytes * _SHUFFLE_EXPANSION) // _ADVISORY_BYTES
    n = max(cores, min(want, _MAX_INITIAL_PARTITIONS))
    if n != current:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(n)
        )
    return n
