"""Physical-plan regression tests: the scale properties docs/SCALE.md claims.

If a refactor adds a shuffle or a second Arrow pass to the flagship
pipeline, or breaks scan pushdown, these fail — plan shape IS part of the
contract at 10^12 turns.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataquality_box_spark.config import DEFAULT_CONFIG
from dataquality_box_spark.plans.pipeline import conversation_metrics, run_pipeline
from dataquality_box_spark.schema import DROP_REASONS


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_has_single_shuffle_and_single_arrow_pass(spark, transcripts_df):
    result = run_pipeline(transcripts_df, DEFAULT_CONFIG)
    plan = _plan(result)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_metrics_reuse_conv_partitioning(spark, transcripts_df):
    result = run_pipeline(transcripts_df, DEFAULT_CONFIG)
    plan = _plan(conversation_metrics(result))
    # the groupBy(conv_id) must not introduce a second full shuffle on top
    # of the window's conv_id exchange
    assert plan.count("Exchange") <= 1, plan


def test_filter_and_projection_pushdown(spark, tmp_path):
    # pushdown is only visible on a file scan (not an in-memory frame)
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [("c1", 0, "user", "hello world text", None, None)],
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    q = df.filter(F.col("conv_id") == "c1").select("conv_id", "turn_idx")
    plan = _plan(q)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(conv_id,c1)" in m.group(1), plan
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and "text" not in rs.group(1), "projection not pruned: " + rs.group(1)


def _arrow_executions(spark, action) -> int:
    """How many SQL executions ``action()`` started whose physical plan
    holds an ArrowEvalPython, i.e. passes through the scoring UDF (read
    from Spark's SQL status store, which records every execution)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def plans() -> dict:
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return {
            e.executionId(): e.physicalPlanDescription()
            for e in (seq.apply(i) for i in range(seq.size()))
        }

    before = plans()
    action()
    return sum(
        "ArrowEvalPython" in plan
        for eid, plan in plans().items()
        if eid not in before
    )


def _exploded_metrics(result) -> dict:
    """The exploded-groupBy metrics route (one row per fired reason plus
    __total__ = rows in), kept here as the oracle for the observed counts."""
    per_reason = result.select(F.explode("drop_reasons").alias("r")).groupBy("r").count()
    got = {row["r"]: row["count"] for row in per_reason.collect()}
    got["__total__"] = result.count()
    return got


def _as_dict(metrics) -> dict:
    return {row["drop_reason"]: row["rows_flagged"] for row in metrics.collect()}


def test_drop_counts_ride_the_write_action(spark, transcripts_df, tmp_path):
    """CollectMetrics totals from the single kept-write action equal a
    direct aggregation — no second pass over the pipeline output."""
    from dataquality_box_spark.plans.pipeline import drop_counts, kept_turns

    result = run_pipeline(transcripts_df, DEFAULT_CONFIG)
    kept_turns(result).write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = drop_counts(result)
    expect = result.select(
        F.count("*").alias("rows_in"), F.sum(F.col("keep").cast("long")).alias("rows_kept")
    ).first()
    assert got["rows_in"] == int(expect["rows_in"])
    assert got["rows_kept"] == int(expect["rows_kept"])
    assert got["rows_kept"] < got["rows_in"]  # some turns dropped


def test_kept_write_and_metrics_make_one_python_pass(spark, transcripts_df, tmp_path):
    """The flagship job (kept write, then drop_reason_metrics written)
    runs exactly one SQL execution through the Arrow scoring UDF."""
    from dataquality_box_spark.plans.pipeline import drop_reason_metrics, kept_turns

    def job() -> None:
        result = run_pipeline(transcripts_df, DEFAULT_CONFIG)
        kept_turns(result).write.mode("overwrite").parquet(str(tmp_path / "kept"))
        drop_reason_metrics(result).write.mode("overwrite").parquet(str(tmp_path / "m"))

    assert _arrow_executions(spark, job) == 1


def test_partition_write_is_its_only_python_pass(spark, transcripts_df, tmp_path):
    """Path-mode partitioned processing: each partition's kept write is
    its one pass through the scoring UDF; the ledger counts ride it."""
    from dataquality_box_spark.plans.ledger import Ledger
    from dataquality_box_spark.plans.partitioned import ingest, process_partitions
    from dataquality_box_spark.sources.tableio import TableIO

    io = TableIO(str(tmp_path / "parts"))
    ingest(spark, transcripts_df, io, 4)
    n = _arrow_executions(spark, lambda: process_partitions(spark, io, n_partitions=4))
    assert n == 4
    entries = [e for e in Ledger(f"{io.root}/_ledger.jsonl").entries() if e.stage == "process"]
    summed: dict = {}
    for e in entries:
        for r, c in e.drop_reason_counts.items():
            summed[r] = summed.get(r, 0) + c
        assert list(e.drop_reason_counts) == [r for r in DROP_REASONS if r in e.drop_reason_counts]
    summed["__total__"] = sum(e.rows_in for e in entries)
    assert summed == _exploded_metrics(run_pipeline(transcripts_df, DEFAULT_CONFIG))


def test_drop_reason_metrics_match_the_exploded_groupby(spark, transcripts_df, tmp_path):
    """Same rows as the exploded groupBy + __total__ on the parity
    corpus, both after a kept write and standalone (the noop fallback)."""
    from dataquality_box_spark.plans.pipeline import drop_reason_metrics, kept_turns

    written = run_pipeline(transcripts_df, DEFAULT_CONFIG)
    kept_turns(written).write.mode("overwrite").parquet(str(tmp_path / "kept"))
    standalone = run_pipeline(transcripts_df, DEFAULT_CONFIG)
    expect = _exploded_metrics(standalone)
    assert _as_dict(drop_reason_metrics(written)) == expect
    assert _as_dict(drop_reason_metrics(standalone)) == expect
    # an unwritten kept projection does not satisfy the counts: the
    # fallback still runs and reads the same numbers
    unwritten = run_pipeline(transcripts_df, DEFAULT_CONFIG)
    kept_turns(unwritten)
    assert _as_dict(drop_reason_metrics(unwritten)) == expect


def test_drop_reason_metrics_omit_zero_reasons_and_keep_schema(spark, transcripts_df):
    from dataquality_box_spark.plans.pipeline import drop_reason_metrics

    first = sorted(r["conv_id"] for r in transcripts_df.select("conv_id").distinct().collect())[:3]
    result = run_pipeline(transcripts_df.filter(F.col("conv_id").isin(first)), DEFAULT_CONFIG)
    metrics = drop_reason_metrics(result, batch_id="b7")
    assert metrics.schema == T.StructType(
        [
            T.StructField("drop_reason", T.StringType(), True),
            T.StructField("rows_flagged", T.LongType(), False),
            T.StructField("batch_id", T.StringType(), False),
        ]
    )
    rows = metrics.collect()
    got = {r["drop_reason"]: r["rows_flagged"] for r in rows}
    assert got == _exploded_metrics(result)
    assert 0 not in got.values()
    assert len(got) - 1 < len(DROP_REASONS)  # some reason never fired here
    assert [r for r in got if r != "__total__"] == [r for r in DROP_REASONS if r in got]
    assert list(got)[-1] == "__total__"
    assert {r["batch_id"] for r in rows} == {"b7"}


def test_dedup_lsh_has_no_cartesian(spark, tmp_path):
    """The bucket-first dedup route must join candidates on (band_idx,
    band_key) equality — a cartesian anywhere means the scale argument is
    void. Also: the hot-token exemption must be a broadcast anti join."""
    import pandas as pd

    from dataquality_box_spark.operators.dedup import jaccard_pairs_lsh

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "a b d"]})
    )
    plan = _plan(jaccard_pairs_lsh(docs))
    assert "CartesianProduct" not in plan, plan
    # every nested-loop join must be the intentional 1-row scalar
    # broadcast of the doc count (the __nd/__df DF-cap predicate)
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "__df" in line and "__nd" in line, line
    assert "LeftAnti, BuildRight" in plan, plan  # broadcast hot-token anti join
    assert "band_idx" in plan and "band_key" in plan, plan  # bucket equi-join


def test_neardup_ann_joins_on_bucket_equality(spark, tmp_path):
    """Embedding near-dup pairs only within LSH buckets: the self-join
    must carry the bucket equi-condition, never a full cross join."""
    import pandas as pd

    from dataquality_box_spark.driver_queries import _lsh_bucket_col

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2], "embedding": [[0.1] * 64, [0.2] * 64]})
    ).withColumn("bucket", _lsh_bucket_col())
    q = emb.select("vec_id", "bucket", F.col("embedding").alias("qe"))
    c = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("bucket").alias("cb"),
        F.col("embedding").alias("ce"),
    )
    pairs = q.join(c, (F.col("bucket") == F.col("cb")) & (F.col("nid") != F.col("vec_id")))
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_assign_broadcasts_centroids(spark):
    """k-means assignment must broadcast the K centroid rows (narrow,
    map-side) — a shuffle join of N x K would be wrong at 10^9 vectors."""
    import pandas as pd

    from dataquality_box_spark.operators.ann import assign_to_centroids

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2, 3], "embedding": [[0.1] * 64] * 3})
    )
    cen = spark.createDataFrame(
        pd.DataFrame({"centroid_id": [0], "embedding": [[0.1] * 64]})
    )
    plan = _plan(assign_to_centroids(emb, cen))
    assert "Broadcast" in plan, plan
    assert plan.count("CartesianProduct") == 0, plan


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Two tables bucketed on the same key/count sort-merge-join with NO
    exchange: the shuffle was paid once at write time (the Spark
    equivalent of pre-partitioning the reference's recurring vehicle_id
    joins instead of re-sharding per run)."""
    import pandas as pd

    from dataquality_box_spark.sources.tableio import TableIO

    io = TableIO(str(tmp_path))
    left = spark.createDataFrame(
        pd.DataFrame({"k": [f"k{i % 7}" for i in range(100)], "a": range(100)})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [f"k{i % 7}" for i in range(50)], "b": range(50)})
    )
    spark.sql("DROP TABLE IF EXISTS bt_left")
    spark.sql("DROP TABLE IF EXISTS bt_right")
    io.write_bucketed(left, "bt_left", "k", 4, sort_cols=["k"])
    io.write_bucketed(right, "bt_right", "k", 4, sort_cols=["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = spark.table("bt_left").join(spark.table("bt_right"), "k")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # bucketing replaced the shuffle
        assert joined.count() == sum(
            (100 // 7 + (1 if i < 100 % 7 else 0)) * (50 // 7 + (1 if i < 50 % 7 else 0))
            for i in range(7)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")


def test_decontaminate_broadcasts_benchmark(spark):
    from dataquality_box_spark.operators.curation import decontaminate

    corpus = spark.createDataFrame(
        [(i, f"t{i % 7}") for i in range(100)], "doc_id long, tok string"
    )
    bench = spark.createDataFrame([(0, "t1"), (0, "t2")], "doc_id long, tok string")
    plan = _plan(decontaminate(corpus, bench))
    # the corpus side must never shuffle: benchmark is broadcast and the
    # only exchange is the final per-doc aggregation
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pack_contiguous_single_shuffle(spark):
    from dataquality_box_spark.operators.curation import pack_bins_contiguous

    df = spark.createDataFrame(
        [(i, 10 + i % 50) for i in range(200)], "doc_id long, n_tokens long"
    )
    out = pack_bins_contiguous(df, F.col("doc_id") % 8, "doc_id", "n_tokens", 256)
    plan = _plan(out)
    # window and groupBy both key on shard -> the partitioning is reused
    assert plan.count("Exchange") == 1, plan


def test_hash_sample_is_narrow(spark):
    from dataquality_box_spark.operators.curation import hash_sample

    df = spark.createDataFrame([(i, "en") for i in range(50)], "id long, lang string")
    plan = _plan(hash_sample(df, "id", 0.5, strata_rates={"en": 0.1}, strata_col="lang"))
    assert "Exchange" not in plan, plan


def test_incremental_stored_route_has_no_cartesian(spark, tmp_path):
    """The recrawl probe against the persisted index must stay
    bucket-equi-joined end to end — no cartesian, and the candidate join
    carries (band_idx, band_key)."""
    import pandas as pd

    from dataquality_box_spark.operators.dedup import (
        incremental_lsh_pairs_stored,
        persist_corpus_index,
        token_sets,
    )
    from dataquality_box_spark.sources.tableio import TableIO

    io = TableIO(str(tmp_path / "idx"))
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "a b d"]})
    )
    persist_corpus_index(spark, io, token_sets(corpus, df_cap_inv=None))
    new = spark.createDataFrame(pd.DataFrame({"doc_id": [9], "text": ["a b c"]}))
    plan = _plan(
        incremental_lsh_pairs_stored(
            spark, io, token_sets(new, df_cap_inv=None), threshold=0.5
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "band_idx" in plan and "band_key" in plan, plan


def test_bloom_probe_is_broadcast_join_no_cross(spark):
    """The bloom probe's bit set joins BROADCAST on pos (the map-side
    claim in its docstring) and the plan carries no cartesian product."""
    from dataquality_box_spark.operators.dedup import (
        bloom_bit_positions,
        bloom_probe,
    )

    keys = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    bits = bloom_bit_positions(keys.where(F.col("doc_id") % 2 == 0), 1024, 3)
    plan = _plan(bloom_probe(keys, bits, 1024, 3))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dsir_logratio_table_broadcasts(spark):
    """DSIR's per-bucket log-ratio table is n_buckets rows — it must
    reach the doc-side join as a broadcast, never a shuffle join."""
    from dataquality_box_spark.functions.text import ngram_array, tokens
    from dataquality_box_spark.operators.curation import dsir_logratio_weights

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{(i * 3) % 7} end") for i in range(40)],
        "doc_id long, text string",
    )
    grams = docs.select(
        "doc_id", F.explode(ngram_array(tokens(F.col("text")), 2)).alias("g")
    )
    plan = _plan(
        dsir_logratio_weights(
            grams.where(F.col("doc_id") % 4 != 0),
            grams.where(F.col("doc_id") % 4 == 0),
            n_buckets=16,
        )
    )
    # the lr-table join on b is a BroadcastHashJoin; no SortMergeJoin
    # should appear anywhere in the weight plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rewrite_and_pipeline_plans_are_lambda_free(spark, transcripts_df):
    """No interpreted higher-order lambdas (NamedLambdaVariable — they
    serialize across task threads) in the chunk-rewrite reassembly
    (sort_array + getField, not array_sort-default-comparator +
    transform) or the flagship decision stage (concat-of-arrays, not
    array_compact's hidden filter-lambda). The ANN dot/bucket folds
    deliberately STAY lambdas — the unrolled form measured slower
    (per-run codegen compile dominates; see driver_queries notes)."""
    import pandas as pd

    from dataquality_box_spark.operators.corpus import chunk_dedup_rewrite

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d", "a b c d e"]})
    )
    plan = _plan(chunk_dedup_rewrite(docs, chunk_tokens=2))
    assert "lambdafunction" not in plan, plan

    result = run_pipeline(transcripts_df, DEFAULT_CONFIG)
    plan = _plan(result)
    assert "lambdafunction" not in plan, plan
