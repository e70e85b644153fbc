"""spark-submit entrypoint: filter+scrub a transcripts parquet end-to-end.

Usage:
  spark-submit --py-files dqx.zip scripts/run_pipeline.py \
      --input /path/transcripts.parquet --output /path/out [--gen-conversations N]

With --gen-conversations and no --input, generates the deterministic
synthetic corpus first (seed 42). Writes kept turns + drop-reason metrics
as parquet under --output and prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import SparkSession

from dataquality_box_spark.config import DEFAULT_CONFIG
from dataquality_box_spark.plans.pipeline import (
    drop_counts,
    drop_reason_metrics,
    kept_turns,
    run_pipeline,
)
from dataquality_box_spark.schema import TRANSCRIPT_SCHEMA


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--gen-conversations", type=int, default=0)
    ap.add_argument("--repartition", type=int, default=0)
    ap.add_argument(
        "--bucket-turns",
        type=int,
        default=0,
        help="secondary bucketing for extreme-length conversations "
        "(0 = plain per-conversation window)",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("dqx-filter-scrub").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    inp = args.input
    if inp is None:
        if not args.gen_conversations:
            raise SystemExit("need --input or --gen-conversations")
        from dataquality_box_spark.synth import write_transcripts_parquet

        inp = os.path.join(tempfile.mkdtemp(prefix="dqx_synth_"), "transcripts.parquet")
        write_transcripts_parquet(inp, args.gen_conversations)

    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(inp)
    cfg = DEFAULT_CONFIG
    if args.bucket_turns:
        import dataclasses

        cfg = dataclasses.replace(
            cfg, conversation_bucket_turns=args.bucket_turns
        )
    t0 = time.time()
    result = run_pipeline(df, cfg, repartition_to=args.repartition or None)
    kept_turns(result).write.mode("overwrite").parquet(os.path.join(args.output, "kept"))
    # the counts ride the kept write's action; this write re-runs nothing
    metrics = drop_reason_metrics(result)
    metrics.write.mode("overwrite").parquet(os.path.join(args.output, "metrics"))
    elapsed = time.time() - t0

    counts = drop_counts(result)
    rows_in, rows_kept = counts.pop("rows_in"), counts.pop("rows_kept")
    m = {r: n for r, n in counts.items() if n}
    m["__total__"] = rows_in
    print(
        json.dumps(
            {
                "rows_in": rows_in,
                "rows_kept": rows_kept,
                "keep_rate": round(rows_kept / max(rows_in, 1), 4),
                "elapsed_sec": round(elapsed, 2),
                "turns_per_sec": round(rows_in / elapsed, 1),
                "drop_reason_counts": m,
            }
        )
    )


if __name__ == "__main__":
    main()
