"""Workload definitions shared by the parent (run.py) and the child process.

Each run starts one fresh process (and JVM), warms it up on small inputs
of another seed inside its set-up, and then measures a fixed amount of
work: the flagship job ``reps`` times on one corpus (it persists
nothing, so no repetition reuses an earlier one's result), or the ten
headline queries once each (a repeat on the same tables would be served
from the frames the first pass persisted, and a pass on fresh tables
costs as much as a whole job run). ``wall_s`` is the median over the
repetitions. Sizes keep a whole run near a minute on a 4-core host, JVM
start included, so that the 4 + 22 x 2 runs of a benchmark round fit
its time budget.
"""

from __future__ import annotations

from dataclasses import dataclass

# the ten headline queries (mirrors HEADLINE_QUERIES in the root bench.py)
HEADLINE_QUERIES = (
    "pricing_summary",
    "window_lag_gaps",
    "two_tier_reconciliation",
    "transcript_keep_scrub",
    "dedup_jaccard_lsh",
    "embedding_cosine_topk",
    "neardup_ann",
    "lm_perplexity_report",
    "chunk_rewrite_dedup",
    "winnow_fingerprint_report",
)

# driver tables each headline query scans (the rows/s denominator)
QUERY_TABLES = {
    "pricing_summary": ("lineitem",),
    "window_lag_gaps": ("events",),
    "two_tier_reconciliation": ("events",),
    "transcript_keep_scrub": ("events", "documents"),
    "dedup_jaccard_lsh": ("documents",),
    "embedding_cosine_topk": ("embeddings",),
    "neardup_ann": ("embeddings",),
    "lm_perplexity_report": ("documents",),
    "chunk_rewrite_dedup": ("documents",),
    "winnow_fingerprint_report": ("documents",),
}

N_PARTITIONS = 8  # run_resumable(n_partitions=8)
WARMUP_SEED_OFFSET = 1_000_003  # warm-up inputs never share the measured seed


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    conversations: int = 0  # transcript corpus size (0: no corpus)
    table_scale: float = 0.0  # driver-table scale factor (0: no tables)
    # warm-up inputs (another seed), run once inside set-up
    warmup_conversations: int = 0
    warmup_table_scale: float = 0.0
    reps: int = 1  # repetitions of the job in one run


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "filter_scrub_job",
            "the flagship job users run (run_pipeline, kept write, drop-reason metrics write), "
            "4 times in a warmed-up session; the scoring UDF and text flags do most of its work",
            conversations=1500,
            warmup_conversations=300,
            reps=4,
        ),
        Workload(
            "headline_queries",
            "the ten headline driver queries once each in a warmed-up session, each result checked "
            "against its DuckDB twin; joins, LSH, persists; bypasses the Arrow scoring UDF",
            table_scale=0.01,
            warmup_table_scale=0.001,
        ),
    )
}
