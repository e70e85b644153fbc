"""One-rep probe of the flagship pipeline at the XXL (100x) corpus under
configurable shuffle-partition / heap settings — used to pick the XXL
stage config in bench.py with measurements instead of guesses.

Usage: [DQX_DRIVER_MEM=<heap>] python scripts/xxl_probe.py <shuffle_partitions>
Prints one JSON line {"shuffle": N, "mem": ..., "rows": N, "sec": s, "tps": t}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataquality_box_spark.config import DEFAULT_CONFIG
from dataquality_box_spark.plans.pipeline import kept_turns, run_pipeline
from dataquality_box_spark.schema import TRANSCRIPT_SCHEMA
from dataquality_box_spark.session import driver_memory, get_spark


def main() -> None:
    shuffle = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    corpus = sys.argv[2] if len(sys.argv) > 2 else (
        "/root/repo/.bench_cache/transcripts_50000_x100.parquet"
    )
    extra = {}
    if os.environ.get("DQX_GC_LOG"):
        mem = driver_memory()
        extra["spark.driver.extraJavaOptions"] = (
            f"-Xms{mem} -XX:+AlwaysPreTouch "
            f"-Xlog:gc:file={os.environ['DQX_GC_LOG']}"
        )
    spark = get_spark(
        "dqx-xxl-probe", parallelism=32, shuffle_partitions=shuffle, extra_conf=extra
    )
    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(corpus)
    n = df.count()
    out = "/tmp/dqx_xxl_probe_out"
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    kept_turns(run_pipeline(df, DEFAULT_CONFIG)).write.mode("overwrite").parquet(out)
    sec = time.time() - t0
    shutil.rmtree(out, ignore_errors=True)
    print(
        json.dumps(
            {
                "shuffle": shuffle,
                "mem": driver_memory(),
                "rows": n,
                "sec": round(sec, 1),
                "tps": round(n / sec, 0),
            }
        )
    )


if __name__ == "__main__":
    main()
