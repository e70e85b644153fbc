"""The flagship filter+scrub pipeline: one declarative DataFrame plan.

Stage graph (reference lifecycle analog: Loader → Adapter → rules →
Aggregator, SURVEY.md §3.1), collapsed into a single Catalyst plan with
exactly ONE shuffle:

  annotate_turns   per-turn text features + langid/ppl pandas UDFs (narrow)
  conversation     window flags over (conv_id; turn_idx, ts)   (1 shuffle)
  decide + scrub   drop_reasons/keep + regexp PII scrub        (narrow)

At 100 TB the narrow stages run map-side on the scan; the only data
movement is the hash partition on conv_id for the window, which is also
reused by the per-conversation metrics aggregation (same key, no second
shuffle thanks to Catalyst's partitioning-reuse).

The job runs this plan once. ``kept_turns`` attaches one Observation
(Spark CollectMetrics) above its ``keep`` filter, so the kept write also
yields rows in, rows kept and the per-reason drop counts;
``drop_reason_metrics`` then reads them without touching the data. Only
a result that was never written through ``kept_turns`` pays one ``noop``
action for its counts.
"""

from __future__ import annotations

import weakref

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, QualityConfig
from ..functions.scoring import score_udf
from ..functions.scrub import scrub_text
from ..functions.text import text_flag_columns
from ..operators.conversation import with_conversation_flags
from ..operators.decide import high_perplexity_flag, with_decision, wrong_language_flag
from ..schema import DROP_REASONS


def annotate_turns(
    df: DataFrame, cfg: QualityConfig, udf_first: bool = True
) -> DataFrame:
    """Per-turn features: text rule flags + lang + ppl. Narrow (no shuffle).

    The tokenizer column is materialized once and shared by every flag,
    and both model scores ride one Arrow round trip (score_udf) — the two
    hot spots at 10^12-turn scale.

    By default the UDF runs FIRST, on the narrow input row (guide §4.1:
    every column present at the ArrowEvalPython node is buffered through
    the Python-eval queue while batches round-trip, even though only
    `text` crosses to Python). Scoring the 7-column input and adding the
    ~10 flag columns AFTER measured 3.27s -> 2.41s best-of-4 on the
    1.43M-turn annotate stage vs the old flags-then-UDF order; output
    columns, order and values are identical (flags are independent of
    scores).

    ``udf_first=False`` restores the flags-then-UDF order. The streaming
    twin needs it: there the input is an applyInPandasWithState output,
    whose rows are not UnsafeRow — ArrowEvalPython's pass-through queue
    requires UnsafeRow children and throws ClassCastException without a
    projection barrier below it; the flags Project is that barrier.
    """
    from ..functions.text import tokens

    out = df
    if udf_first:
        out = out.withColumn("__score", score_udf(F.col("text")))
    out = out.withColumn("__toks", tokens(F.col("text")))
    for name, col in text_flag_columns(F.col("text"), cfg, toks=F.col("__toks")).items():
        out = out.withColumn(name, col)
    if not udf_first:
        out = out.withColumn("__score", score_udf(F.col("text")))
    out = (
        out.withColumn("lang", F.col("__score.lang"))
        .withColumn("ppl", F.col("__score.ppl"))
        .drop("__score", "__toks")
    )
    out = out.withColumn("wrong_language", wrong_language_flag(F.col("lang"), cfg))
    out = out.withColumn("high_perplexity", high_perplexity_flag(F.col("ppl"), cfg))
    return out


def run_pipeline(
    df: DataFrame, cfg: QualityConfig = DEFAULT_CONFIG, repartition_to: int | None = None
) -> DataFrame:
    """Full annotated frame: input columns + flags + lang/ppl +
    drop_reasons + keep + scrubbed_text."""
    # scale-adaptive shuffle sizing (guide §2.2): start the conv_id
    # exchange at input_bytes-derived partitions so the window stage is
    # bytes-bounded at 100x corpus (no 16g-heap OOM) without taxing
    # small corpora with a fixed high partition count. In-memory frames
    # report 0 bytes and keep the session default.
    from ..session import input_bytes_of, tune_shuffle_for

    tune_shuffle_for(df.sparkSession, input_bytes_of(df))
    annotated = annotate_turns(df, cfg)
    if repartition_to:
        # explicit repartition before the shuffle-heavy window stage
        # (north rule; reference analog: fixed shard fan-out,
        # dags/reconciliation_worker_dag.py:56-63)
        annotated = annotated.repartition(repartition_to, "conv_id")
    conv = with_conversation_flags(annotated, cfg)
    flag_cols = {r: r for r in DROP_REASONS if r in conv.columns}
    decided = with_decision(conv, cfg, flag_cols)
    return decided.withColumn(
        "scrubbed_text", F.when(F.col("keep"), scrub_text(F.col("text")))
    )


# result frame -> the Observation the latest kept_turns() on it attached;
# weak keys, so an observation lives exactly as long as its result frame.
_DROP_COUNTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _observe_drop_counts(result: DataFrame) -> DataFrame:
    """``result`` with one Observation that counts rows in, rows kept and
    the rows each drop reason flagged (taxonomy order). The next action
    on a descendant fills it through Spark CollectMetrics, no second pass
    (reference analog: per-rule hit_count self-reporting,
    plugins/operators/report_writer.py:106-171)."""
    obs = Observation()
    observed = result.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(F.col("keep")).alias("rows_kept"),
        *[F.count_if(F.array_contains("drop_reasons", r)).alias(r) for r in DROP_REASONS],
    )
    _DROP_COUNTS[result] = obs
    return observed


def _fired(obs, spark) -> bool:
    """Whether an action filled ``obs`` (``obs.get`` blocks until one has).

    An action posts its end event before it returns, but a listener on
    that event completes the observation asynchronously, so the listener
    bus is drained before deciding that no action ran. If it does not
    drain within its timeout, the caller's fallback action answers."""
    done = obs._jo.future().isCompleted
    if not done():
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JJavaError:
            return False
    return bool(done())


def drop_counts(result: DataFrame) -> dict[str, int]:
    """``rows_in``, ``rows_kept`` and each reason's flagged-row count
    (taxonomy order, zeros included) for a ``run_pipeline`` result.

    Read from the observation that the kept write through
    ``kept_turns(result)`` filled. If no such action has run, one
    ``noop`` action over ``result`` fills a fresh observation."""
    obs = _DROP_COUNTS.get(result)
    if obs is None or not _fired(obs, result.sparkSession):
        _observe_drop_counts(result).write.mode("overwrite").format("noop").save()
        obs = _DROP_COUNTS[result]
    return {k: int(v) for k, v in obs.get.items()}


def kept_turns(result: DataFrame) -> DataFrame:
    """The sink-side projection: kept turns with scrubbed text only.

    The drop counts ride the action that writes this frame: an
    Observation sits above the ``keep`` filter, so ``drop_counts`` /
    ``drop_reason_metrics`` on the same ``result`` afterwards re-run
    nothing."""
    return _observe_drop_counts(result).filter(F.col("keep")).select(
        "conv_id", "turn_idx", "role", "scrubbed_text", "tool", "ts", "lang"
    )


def drop_reason_metrics(result: DataFrame, batch_id: str = "batch0") -> DataFrame:
    """Per-reason drop counts — the lineage/metrics emission (reference
    analog: governance_rule_results rows, plugins/operators/
    report_writer.py:116-171): one ``(drop_reason, rows_flagged,
    batch_id)`` row per reason that fired, in taxonomy order, then
    ``__total__`` = rows in.

    A small local frame built from ``drop_counts(result)``: after the
    kept write it costs no pass over the data; without one it costs one
    ``noop`` action. Built from pandas: with Arrow on, the rows reach the
    JVM as Arrow batches, and the metrics write measured 0.21 s against
    0.45 s from a list of tuples (4-core host, 1,500 conversations)."""
    counts = drop_counts(result)
    rows = [(r, counts[r]) for r in DROP_REASONS if counts[r]]
    rows.append(("__total__", counts["rows_in"]))
    return result.sparkSession.createDataFrame(
        pd.DataFrame(rows, columns=["drop_reason", "rows_flagged"]),
        "drop_reason string, rows_flagged long not null",
    ).withColumn("batch_id", F.lit(batch_id))


def conversation_metrics(result: DataFrame) -> DataFrame:
    """Per-conversation keep-rate metrics (reuses the conv_id partitioning)."""
    return result.groupBy("conv_id").agg(
        F.count("*").alias("rows_in"),
        F.sum(F.col("keep").cast("long")).alias("rows_kept"),
        (F.count("*") - F.sum(F.col("keep").cast("long"))).alias("rows_dropped"),
    )
