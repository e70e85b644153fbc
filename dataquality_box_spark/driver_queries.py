"""Driver-contract queries: Spark implementations + DuckDB oracle twins.

Each entry exercises one operator family from SURVEY.md §2 on the
driver-provided tables (TESTDATA.md). The Spark side goes through the
library's operators; the oracle is an independent ANSI-SQL formulation
DuckDB executes on the same parquet files.

Cross-engine exactness rules (the driver hash-compares values):
  * Money/float sums go through DECIMAL(18,2) (exact, order-independent),
    then CAST back to DOUBLE — identical bits in both engines.
  * Integer-valued doubles (l_quantity) sum exactly as doubles already.
  * Timestamps are emitted as formatted strings (session tz pinned UTC).
  * No nondeterministic collect orders: sets are sorted before joining.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.conversation import compact_consecutive_runs, top1_per_group
from .sources.driver_tables import register_views

SparkQuery = Callable[[SparkSession, str], DataFrame]

PAIRS: dict[str, tuple[SparkQuery, str | None]] = {}


def _q(name: str, sql: str | None):
    def deco(fn: SparkQuery) -> SparkQuery:
        PAIRS[name] = (fn, sql)
        return fn

    return deco


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.table(name)


def _dsum(col, alias):  # exact money sum: decimal(18,2) -> double
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# A1/A2: group-by multi-aggregate (reference: cycle rollup,
# plugins/services/data_quality_runner.py:271-284)
@_q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           SUM(l_quantity) / COUNT(*) AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1997-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1997-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# P3/P6: filter rule + severity constant (reference: rule_engine.py:291-310)
@_q(
    "filter_rule_hits",
    """
    SELECT event_id, user_id, value, 'P0' AS severity
    FROM events WHERE event_type = 'error' AND value > 150
    """,
)
def filter_rule_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 150))
        .select("event_id", "user_id", "value")
        .withColumn("severity", F.lit("P0"))
    )


# J1: left join + hit marker (reference: data_quality_runner.py:463-487)
@_q(
    "join_hit_marker",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN c.__hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
    FROM orders o
    LEFT JOIN (SELECT c_custkey, 1 AS __hit FROM customer WHERE c_acctbal > 0) c
      ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderpriority
    """,
)
def join_hit_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _tbl(spark, sf_dir, "orders")
    c = (
        spark.table("customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", F.lit(1).alias("__hit"))
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("__hit").isNotNull().cast("long")).alias("n_matched"),
        )
    )


# J3: anti join (reference: dq_lib/completeness.py:18-20)
@_q(
    "anti_join_orphans",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def anti_join_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _tbl(spark, sf_dir, "customer")
    o = spark.table("orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# J4: semi join (reference: reconciliation.py:334)
@_q(
    "semi_join_parts",
    """
    SELECT p_partkey, p_name, p_size FROM part p
    WHERE p_size > 40 AND EXISTS (
      SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 45)
    """,
)
def semi_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _tbl(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    li = spark.table("lineitem").filter(F.col("l_quantity") >= 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name", "p_size"
    )


# W1: lag-per-group continuity check (reference: dq_lib/consistency.py:61-139)
@_q(
    "window_lag_gaps",
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS gap_us
      FROM events)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps_over_1h
    FROM g GROUP BY user_id
    """,
)
def window_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    return (
        ev.withColumn("gap_us", gap)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("gap_us") > 3_600_000_000).cast("long")).alias("n_gaps_over_1h"),
        )
    )


# W4: top-1 per group (reference: reconciliation.py:345)
@_q(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
            AS rn FROM events) t
    WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    best = top1_per_group(ev, "user_id", [F.col("ts").desc(), F.col("event_id").desc()])
    return best.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


# W3: group-broadcast aggregate (reference: cycle_adapter.yaml daily_total_*)
@_q(
    "group_broadcast_share",
    """
    SELECT l_orderkey, l_linenumber,
           l_quantity / SUM(l_quantity) OVER (PARTITION BY l_orderkey) AS qty_share,
           SUM(l_quantity) OVER (PARTITION BY l_orderkey) AS order_qty
    FROM lineitem
    """,
)
def group_broadcast_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.conversation import group_broadcast

    li = _tbl(spark, sf_dir, "lineitem")
    out = group_broadcast(li, "l_orderkey", {"order_qty": F.sum("l_quantity")})
    return out.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") / F.col("order_qty")).alias("qty_share"),
        "order_qty",
    )


# W5: gaps-and-islands run compaction (reference: archive
# DatalogLogicCheck_worker_dag.py:90-168 pandas loop -> pure window SQL)
@_q(
    "event_type_runs",
    """
    WITH t AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS island
      FROM events)
    SELECT user_id, event_type, CAST(COUNT(DISTINCT island) AS BIGINT) AS n_runs,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM t GROUP BY user_id, event_type
    """,
)
def event_type_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    island = F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id")) - (
        F.row_number().over(W.partitionBy("user_id", "event_type").orderBy("ts", "event_id"))
    )
    return (
        ev.withColumn("island", island)
        .groupBy("user_id", "event_type")
        .agg(
            F.countDistinct("island").alias("n_runs"),
            F.count("*").alias("n_events"),
        )
    )


# U1: union-by-name, schema relaxed (reference: pl.concat diagonal,
# reconciliation.py:338,424-427)
@_q(
    "union_by_name",
    """
    SELECT * FROM (
      SELECT event_id, user_id, value FROM events WHERE event_type = 'click'
      UNION ALL BY NAME
      SELECT event_id, event_type FROM events WHERE event_type = 'signup') t
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "value")
    signups = ev.filter(F.col("event_type") == "signup").select("event_id", "event_type")
    return clicks.unionByName(signups, allowMissingColumns=True)


# A5: 3-sigma outlier stats (reference: dq_lib/distribution.py:6-65)
@_q(
    "three_sigma_outliers",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mu,
             CAST(SUM(CAST(ROUND(l_extendedprice * l_extendedprice, 4)
                  AS DECIMAL(28,4))) AS DOUBLE) AS sumsq,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag),
    b AS (SELECT l_returnflag, mu, n,
                 sqrt((sumsq - mu * mu * n) / (n - 1)) AS sigma FROM s)
    SELECT b.l_returnflag, ROUND(b.mu, 2) AS mu, ROUND(b.sigma, 2) AS sigma,
           CAST(SUM(CASE WHEN abs(l.l_extendedprice - b.mu) > 3 * b.sigma
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
    GROUP BY b.l_returnflag, b.mu, b.sigma
    """,
)
def three_sigma_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / F.count("*")).alias(
            "mu"
        ),
        F.sum(
            F.round(F.col("l_extendedprice") * F.col("l_extendedprice"), 4).cast("decimal(28,4)")
        )
        .cast("double")
        .alias("sumsq"),
        F.count("*").alias("n"),
    )
    b = s.select(
        "l_returnflag",
        "mu",
        "n",
        F.sqrt((F.col("sumsq") - F.col("mu") * F.col("mu") * F.col("n")) / (F.col("n") - 1)).alias(
            "sigma"
        ),
    )
    j = li.join(F.broadcast(b), "l_returnflag")
    return j.groupBy("l_returnflag", "mu", "sigma").agg(
        F.sum(
            (F.abs(F.col("l_extendedprice") - F.col("mu")) > 3 * F.col("sigma")).cast("long")
        ).alias("n_outliers")
    ).select(
        "l_returnflag",
        F.round("mu", 2).alias("mu"),
        F.round("sigma", 2).alias("sigma"),
        "n_outliers",
    )


# A4/A6: value counts + distinct counts (reference: metrics.py:125-126,
# data_quality_runner.py:279)
@_q(
    "event_value_counts",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def event_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        _dsum("value", "total_value"),
    )


# A1 filtered/conditional set agg (reference: reconciliation.py:119-155)
@_q(
    "status_set_per_priority",
    """
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           CAST(COUNT(DISTINCT CASE WHEN o_totalprice > 200000 THEN o_custkey END) AS BIGINT)
             AS big_spenders
    FROM orders GROUP BY o_orderpriority
    """,
)
def status_set_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _tbl(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.countDistinct(
            F.when(F.col("o_totalprice") > 200000, F.col("o_custkey"))
        ).alias("big_spenders"),
    )


# §2.8 reshape: wide->long melt (reference: DatalogLogicCheck melt,
# archive/dags/DatalogLogicCheck_worker_dag.py:269-296)
@_q(
    "melt_measures",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    """,
)
def melt_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
        " 'discount', l_discount) AS (measure, val)",
    )


# A3/J8: pre-aggregate then cross-entity compare (reference:
# rule_engine.py:456-506, p0_RC02_mileage_cross_check.yaml)
@_q(
    "order_total_cross_check",
    """
    WITH li AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 4)
                  AS DECIMAL(28,4))) AS DOUBLE) AS computed_total
      FROM lineitem GROUP BY l_orderkey)
    SELECT o.o_orderkey, ROUND(li.computed_total, 0) AS computed_total_r,
           ROUND(o.o_totalprice, 0) AS declared_total_r
    FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
    WHERE abs(li.computed_total - o.o_totalprice) > 400000
    """,
)
def order_total_cross_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 4
            ).cast("decimal(28,4)")
        )
        .cast("double")
        .alias("computed_total")
    )
    o = spark.table("orders")
    return (
        o.join(agg, o.o_orderkey == agg.l_orderkey)
        .filter(F.abs(F.col("computed_total") - F.col("o_totalprice")) > 400000)
        .select(
            "o_orderkey",
            F.round("computed_total", 0).alias("computed_total_r"),
            F.round("o_totalprice", 0).alias("declared_total_r"),
        )
    )


# J5: as-of nearest join within tolerance (reference: join_asof
# strategy='nearest' tolerance='5m', plugins/dq_lib/reconciliation.py:234-249)
@_q(
    "asof_nearest_match",
    """
    WITH le AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         ri AS (SELECT event_id AS click_id, user_id, ts AS rts FROM events
                WHERE event_type = 'click'),
         cand AS (
           SELECT le.event_id, le.user_id, ri.click_id,
                  abs(epoch_us(le.ts) - epoch_us(ri.rts)) AS diff_us,
                  ROW_NUMBER() OVER (PARTITION BY le.event_id
                    ORDER BY abs(epoch_us(le.ts) - epoch_us(ri.rts)), ri.rts, ri.click_id)
                    AS rn
           FROM le JOIN ri ON le.user_id = ri.user_id
           WHERE abs(epoch_us(le.ts) - epoch_us(ri.rts)) <= 300000000)
    SELECT le.event_id, le.user_id, c.click_id, c.diff_us
    FROM le LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c ON le.event_id = c.event_id
    """,
)
def asof_nearest_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recon import asof_nearest_join

    ev = _tbl(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("rts")
    )
    m = asof_nearest_join(
        left, right, "user_id", "ts", "rts", 300_000_000, left_id="event_id",
        how="left", tiebreak=["click_id"],
    )
    return m.select(
        "event_id",
        "user_id",
        "click_id",
        F.abs(F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.col("rts").cast("timestamp"))).alias("diff_us"),
    )


# J6: loose range join + overlap predicate + best match (reference:
# plugins/dq_lib/reconciliation.py:280-345)
@_q(
    "range_join_best_match",
    """
    WITH le AS (SELECT event_id, user_id, ts, CAST(floor(value / 50) AS BIGINT) AS vb
                FROM events WHERE event_type = 'signup'),
         ri AS (SELECT event_id AS purchase_id, user_id, ts AS rts,
                       CAST(floor(value / 50) AS BIGINT) AS rvb
                FROM events WHERE event_type = 'purchase'),
         cand AS (
           SELECT le.event_id, le.user_id, ri.purchase_id,
                  abs(epoch_us(le.ts) - epoch_us(ri.rts)) AS diff_us,
                  ROW_NUMBER() OVER (PARTITION BY le.event_id
                    ORDER BY abs(epoch_us(le.ts) - epoch_us(ri.rts)), ri.rts, ri.purchase_id)
                    AS rn
           FROM le JOIN ri ON le.user_id = ri.user_id AND le.vb = ri.rvb
           WHERE abs(epoch_us(le.ts) - epoch_us(ri.rts)) <= 10800000000)
    SELECT event_id, user_id, purchase_id, diff_us FROM cand WHERE rn = 1
    """,
)
def range_join_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recon import range_join_best

    ev = _tbl(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts", F.floor(F.col("value") / 50).alias("vb")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("rts"),
        F.floor(F.col("value") / 50).alias("rvb"),
    )
    m = range_join_best(
        left,
        right,
        "user_id",
        "ts",
        "rts",
        10_800_000_000,
        extra_pred=F.col("vb") == F.col("rvb"),
        left_key_cols=["event_id"],
    )
    return m.select(
        "event_id",
        "user_id",
        "purchase_id",
        F.abs(F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.col("rts").cast("timestamp"))).alias("diff_us"),
    )


# J5+J6+J3: full two-tier reconciliation with matched_status (reference:
# plugins/dq_lib/reconciliation.py:176-434 match_data)
@_q(
    "two_tier_reconciliation",
    """
    WITH le AS (SELECT event_id, user_id, ts, CAST(floor(value / 50) AS BIGINT) AS vb
                FROM events WHERE event_type = 'error'),
         ri AS (SELECT event_id AS rid, user_id, ts AS rts,
                       CAST(floor(value / 50) AS BIGINT) AS rvb
                FROM events WHERE event_type = 'click'),
         c1 AS (
           SELECT le.event_id, ri.rid,
                  ROW_NUMBER() OVER (PARTITION BY le.event_id
                    ORDER BY abs(epoch_us(le.ts) - epoch_us(ri.rts)), ri.rts, ri.rid) AS rn
           FROM le JOIN ri ON le.user_id = ri.user_id
           WHERE abs(epoch_us(le.ts) - epoch_us(ri.rts)) <= 300000000),
         m1 AS (SELECT event_id, rid FROM c1 WHERE rn = 1),
         rest AS (SELECT * FROM le WHERE event_id NOT IN (SELECT event_id FROM m1)),
         c4 AS (
           SELECT rest.event_id, ri.rid,
                  ROW_NUMBER() OVER (PARTITION BY rest.event_id
                    ORDER BY abs(epoch_us(rest.ts) - epoch_us(ri.rts)), ri.rts, ri.rid) AS rn
           FROM rest JOIN ri ON rest.user_id = ri.user_id AND rest.vb = ri.rvb
           WHERE abs(epoch_us(rest.ts) - epoch_us(ri.rts)) <= 10800000000),
         m4 AS (SELECT event_id, rid FROM c4 WHERE rn = 1)
    SELECT event_id, rid, 1 AS matched_status FROM m1
    UNION ALL
    SELECT event_id, rid, 4 FROM m4
    UNION ALL
    SELECT event_id, CAST(NULL AS BIGINT), 3 FROM rest
    WHERE event_id NOT IN (SELECT event_id FROM m4)
    """,
)
def two_tier_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recon import two_tier_match

    ev = _tbl(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", F.floor(F.col("value") / 50).alias("vb")
    )
    right = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("rid"),
        "user_id",
        F.col("ts").alias("rts"),
        F.floor(F.col("value") / 50).alias("rvb"),
    )
    m = two_tier_match(
        left,
        right,
        "user_id",
        "ts",
        "rts",
        strict_us=300_000_000,
        loose_us=10_800_000_000,
        loose_pred=F.col("vb") == F.col("rvb"),
        left_id="event_id",
        right_id="rid",
    )
    return m.select("event_id", "rid", F.col("matched_status").cast("int").alias("matched_status"))


# ---------------------------------------------------------------------------
# Transcript-domain queries (the quality_filter core), oracle-checked on the
# deterministic transcripts derivation shared with DuckDB.

from .config import (  # noqa: E402
    BOILERPLATE_PREFIXES,
    HEURISTIC_CONFIG,
    TOXICITY_WORDS,
)
from .functions.scrub import scrub_sql, scrub_text  # noqa: E402
from .functions.text import _escape_re  # noqa: E402
from .sources.driver_tables import TRANSCRIPTS_SQL_DUCKDB, transcripts_view  # noqa: E402


def _sql_quote(pat: str) -> str:
    return pat.replace("'", "''")


_BOIL_PAT = "^(?:" + "|".join(_escape_re(p) for p in BOILERPLATE_PREFIXES) + ")"
_TOX_PAT = "(?i)\\b(?:" + "|".join(_escape_re(w) for w in TOXICITY_WORDS) + ")\\b"

# DuckDB fragments mirroring functions/text.py exactly (same thresholds
# from HEURISTIC_CONFIG; same explicit whitespace classes).
_TOKENS = "list_filter(string_split_regex(text, '[ \\t\\n\\r]+'), x -> x <> '')"
_FLAGS_SQL = f"""
  len({_TOKENS}) AS n_tokens,
  length(text) AS n_chars,
  len({_TOKENS}) < {HEURISTIC_CONFIG.min_tokens} AS too_short,
  length(text) > {HEURISTIC_CONFIG.max_chars} AS too_long,
  (len({_TOKENS}) >= {HEURISTIC_CONFIG.repetition_min_tokens}
   AND len(list_distinct({_TOKENS})) / len({_TOKENS})
       < {HEURISTIC_CONFIG.repetition_distinct_ratio}) AS high_repetition,
  (length(text) >= {HEURISTIC_CONFIG.symbol_min_chars}
   AND length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\r]', '', 'g')) / length(text)
       > {HEURISTIC_CONFIG.max_symbol_ratio}) AS high_symbol_ratio,
  regexp_matches(text, '{_sql_quote(_BOIL_PAT)}') AS boilerplate,
  regexp_matches(text, '{_sql_quote(_TOX_PAT)}') AS toxicity
"""

_CONV_FLAGS_SQL = """
  (role IN ('user','assistant')
   AND LAG(role) OVER w = role) AS bad_role_sequence,
  (role = 'tool' AND COALESCE(
     LAG(role) OVER w NOT IN ('assistant','tool'), TRUE)) AS broken_tool_chain,
  COALESCE(ts < LAG(ts) OVER w, FALSE) AS out_of_order_ts
"""


# §2.8 string/regex family: compiled-regex PII scrub (reference:
# container-number cleaning regexes, plugins/dq_lib/reconciliation.py:92-117)
@_q(
    "transcript_scrub_pii",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB})
    SELECT conv_id, turn_idx, {scrub_sql('text')} AS scrubbed_text FROM t
    """,
)
def transcript_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_view(spark, sf_dir)
    return t.select("conv_id", "turn_idx", scrub_text(F.col("text")).alias("scrubbed_text"))


# P4/P6: per-turn heuristic rule flags as named pre-compute columns
# (reference: rule_engine.py:246-310)
@_q(
    "transcript_text_flags",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB})
    SELECT conv_id, turn_idx,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(too_short AS INT) AS too_short,
           CAST(too_long AS INT) AS too_long,
           CAST(high_repetition AS INT) AS high_repetition,
           CAST(high_symbol_ratio AS INT) AS high_symbol_ratio,
           CAST(boilerplate AS INT) AS boilerplate,
           CAST(toxicity AS INT) AS toxicity
    FROM (SELECT conv_id, turn_idx, {_FLAGS_SQL} FROM t) f
    """,
)
def transcript_text_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import n_chars, n_tokens, text_flag_columns

    t = transcripts_view(spark, sf_dir)
    flags = text_flag_columns(F.col("text"), HEURISTIC_CONFIG)
    return t.select(
        "conv_id",
        "turn_idx",
        n_tokens(F.col("text")).cast("long").alias("n_tokens"),
        n_chars(F.col("text")).cast("long").alias("n_chars"),
        *[flags[k].cast("int").alias(k) for k in
          ("too_short", "too_long", "high_repetition", "high_symbol_ratio",
           "boilerplate", "toxicity")],
    )


# W1/W2: conversation-window checks (reference: dq_lib/consistency.py:96-118)
@_q(
    "transcript_conversation_flags",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB})
    SELECT conv_id, turn_idx,
           CAST(COALESCE(bad_role_sequence, FALSE) AS INT) AS bad_role_sequence,
           CAST(COALESCE(broken_tool_chain, FALSE) AS INT) AS broken_tool_chain,
           CAST(out_of_order_ts AS INT) AS out_of_order_ts
    FROM (SELECT conv_id, turn_idx, {_CONV_FLAGS_SQL}
          FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)) f
    """,
)
def transcript_conversation_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.conversation import with_conversation_flags

    t = transcripts_view(spark, sf_dir)
    out = with_conversation_flags(t, HEURISTIC_CONFIG)
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("bad_role_sequence").cast("int").alias("bad_role_sequence"),
        F.col("broken_tool_chain").cast("int").alias("broken_tool_chain"),
        F.col("out_of_order_ts").cast("int").alias("out_of_order_ts"),
    )


# THE flagship oracle: full keep/drop + drop-reason taxonomy + scrub,
# SQL-expressible subset (model scorers disabled) — per-turn parity with an
# independent engine (north rule analog of matched_status + scrubbed text,
# reference: reconciliation.py:349-434 + aggregator severity routing).
@_q(
    "transcript_keep_scrub",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    f AS (SELECT conv_id, turn_idx, text, {_FLAGS_SQL}, {_CONV_FLAGS_SQL}
          FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)),
    d AS (SELECT conv_id, turn_idx, text,
                 COALESCE(too_short, FALSE) AS r1,
                 COALESCE(too_long, FALSE) AS r2,
                 COALESCE(high_repetition, FALSE) AS r3,
                 COALESCE(high_symbol_ratio, FALSE) AS r4,
                 COALESCE(boilerplate, FALSE) AS r5,
                 COALESCE(bad_role_sequence, FALSE) AS r6,
                 COALESCE(broken_tool_chain, FALSE) AS r7,
                 COALESCE(out_of_order_ts, FALSE) AS r8,
                 COALESCE(toxicity, FALSE) AS r9
          FROM f)
    SELECT conv_id, turn_idx,
           NOT (r1 OR r2 OR r3 OR r4 OR r5 OR r6 OR r7 OR r8 OR r9) AS keep,
           COALESCE(array_to_string(list_filter([
             CASE WHEN r1 THEN 'too_short' END,
             CASE WHEN r2 THEN 'too_long' END,
             CASE WHEN r3 THEN 'high_repetition' END,
             CASE WHEN r4 THEN 'high_symbol_ratio' END,
             CASE WHEN r5 THEN 'boilerplate' END,
             CASE WHEN r6 THEN 'bad_role_sequence' END,
             CASE WHEN r7 THEN 'broken_tool_chain' END,
             CASE WHEN r8 THEN 'out_of_order_ts' END,
             CASE WHEN r9 THEN 'toxicity' END], x -> x IS NOT NULL), ','), '')
             AS drop_csv,
           CASE WHEN NOT (r1 OR r2 OR r3 OR r4 OR r5 OR r6 OR r7 OR r8 OR r9)
                THEN {scrub_sql('text')} END AS scrubbed_text
    FROM d
    """,
)
def transcript_keep_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.pipeline import run_pipeline

    t = transcripts_view(spark, sf_dir)
    result = run_pipeline(t, HEURISTIC_CONFIG)
    return result.select(
        "conv_id",
        "turn_idx",
        "keep",
        F.array_join("drop_reasons", ",").alias("drop_csv"),
        "scrubbed_text",
    )


# The SAME end-to-end pipeline as a continuous streaming query: the
# conversation window becomes a conv_id-keyed stateful operator
# (applyInPandasWithState), everything else identical. Oracle = the
# batch SQL twin above — per-turn keep/drop_csv/scrubbed_text must hash
# equal across streaming micro-batches, which is the strongest check a
# stateful stream can get.
@_q(
    "streaming_full_pipeline",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    f AS (SELECT conv_id, turn_idx, text, {_FLAGS_SQL}, {_CONV_FLAGS_SQL}
          FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)),
    d AS (SELECT conv_id, turn_idx, text,
                 COALESCE(too_short, FALSE) AS r1,
                 COALESCE(too_long, FALSE) AS r2,
                 COALESCE(high_repetition, FALSE) AS r3,
                 COALESCE(high_symbol_ratio, FALSE) AS r4,
                 COALESCE(boilerplate, FALSE) AS r5,
                 COALESCE(bad_role_sequence, FALSE) AS r6,
                 COALESCE(broken_tool_chain, FALSE) AS r7,
                 COALESCE(out_of_order_ts, FALSE) AS r8,
                 COALESCE(toxicity, FALSE) AS r9
          FROM f)
    SELECT conv_id, turn_idx,
           NOT (r1 OR r2 OR r3 OR r4 OR r5 OR r6 OR r7 OR r8 OR r9) AS keep,
           CASE WHEN NOT (r1 OR r2 OR r3 OR r4 OR r5 OR r6 OR r7 OR r8 OR r9)
                THEN {scrub_sql('text')} END AS scrubbed_text
    FROM d
    """,
)
def streaming_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from .streaming.stateful import write_time_ordered_buckets
    from .streaming.stream import (
        full_pipeline_stream,
        run_stream_to_memory,
        stream_transcripts,
    )

    import shutil

    t = transcripts_view(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dqx_stream_full_")
    try:
        # arrival contract: per-conversation turn order across files
        write_time_ordered_buckets(
            t, d, n_buckets=4, order_cols=("turn_idx", "conv_id")
        )
        out = run_stream_to_memory(
            spark,
            full_pipeline_stream(stream_transcripts(spark, d), HEURISTIC_CONFIG),
            f"stream_full_{uuid.uuid4().hex[:8]}",
        )
        return out.select("conv_id", "turn_idx", "keep", "scrubbed_text")
    finally:
        # the memory sink holds the results; the staged input can go
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Training-data pipeline operators: dedup / similarity / text analysis
# (beyond the reference's own inventory, per the build brief).

# Exact dedup: hash-groupBy (duplicate texts across the derived transcripts)
@_q(
    "dedup_exact",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB})
    SELECT md5(text) AS text_hash, CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM t GROUP BY md5(text) HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_view(spark, sf_dir)
    return (
        t.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


# Document fingerprint: whitespace-normalized content hash
@_q(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(text, '[ \\t\\n\\r]+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tbl(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(
            F.lower(F.regexp_replace(F.col("text"), "[ \\t\\n\\r]+", " ")).cast("binary")
        ).alias("fingerprint"),
    )


# Token-set Jaccard near-dup pairs — VERIFICATION BASELINE ONLY (all-pairs
# token self-join on a 10% doc_id sample; candidate count is quadratic in
# token document frequency). The default route at scale is
# dedup_jaccard_lsh below (bucket-first, DF-capped).
@_q(
    "dedup_jaccard_pairs",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents WHERE doc_id % 10 = 3) u),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b,
           ROUND(n_common / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.8
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens

    d = _tbl(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 3)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok")).distinct()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_common"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# MinHash signatures, production-parameterized: 64 permutations banded
# 16x4 (candidate probability 1-(1-s^4)^16 ~ 0.9998 at Jaccard 0.8).
# Portable hash: md5 string-min, so Spark and the SQL oracle agree
# bit-for-bit. Library route: operators/dedup.py.
from .operators.dedup import MINHASH_PRIME as _MH_P  # noqa: E402
from .operators.dedup import N_BANDS as _MH_BANDS  # noqa: E402
from .operators.dedup import ROWS_PER_BAND as _MH_ROWS  # noqa: E402
from .operators.dedup import perm_consts as _mh_consts  # noqa: E402


def _minhash_sig_sql(src: str = "toks") -> str:
    """sig CTE body: ONE md5 per token -> 32-bit int -> 64 universal-hash
    minima (a_k*x + b_k) mod p — same constants the Spark side embeds."""
    mins = []
    for k in range(_MH_BANDS * _MH_ROWS):
        a, b = _mh_consts(k)
        mins.append(f"MIN(({a} * x + {b}) % {_MH_P}) AS m{k}")
    return (
        "SELECT doc_id, " + ",\n           ".join(mins)
        + f" FROM (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS x"
        + f" FROM {src}) GROUP BY doc_id"
    )


def _mh_band_key(b: int) -> str:
    parts = " || '|' || ".join(
        f"CAST(m{b * _MH_ROWS + r} AS STRING)" for r in range(_MH_ROWS)
    )
    return f"md5({parts})"


def _minhash_band_arms() -> str:
    """bands CTE: UNION ALL of one arm per band key."""
    arms = [
        f"SELECT doc_id, {b} AS band_idx, {_mh_band_key(b)} AS band_key FROM sig"
        for b in range(_MH_BANDS)
    ]
    return "\n      UNION ALL\n      ".join(arms)


def _minhash_band_select() -> str:
    return ", ".join(f"{_mh_band_key(b)} AS band{b:02d}" for b in range(_MH_BANDS))


@_q(
    "minhash_signatures",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents) u),
    sig AS ({_minhash_sig_sql()})
    SELECT doc_id, {_minhash_band_select()} FROM sig
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_band_signatures, token_sets

    d = _tbl(spark, sf_dir, "documents")
    return minhash_band_signatures(token_sets(d, df_cap_inv=None))


# MinHash LSH candidate buckets: docs sharing any of the 16 band buckets
@_q(
    "minhash_lsh_buckets",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents) u),
    sig AS ({_minhash_sig_sql()}),
    bands AS ({_minhash_band_arms()})
    SELECT CAST(band_idx AS INT) AS band_idx, band_key,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM bands GROUP BY band_idx, band_key HAVING COUNT(*) > 1
    """,
)
def minhash_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import band_buckets, minhash_band_signatures, token_sets

    d = _tbl(spark, sf_dir, "documents")
    sig = minhash_band_signatures(token_sets(d, df_cap_inv=None))
    return (
        band_buckets(sig)
        .groupBy(F.col("band_idx").cast("int").alias("band_idx"), "band_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# The DEFAULT near-dup route (scale path): DF-capped token sets ->
# MinHash-LSH candidate buckets -> exact Jaccard verify within buckets.
# Candidate work is bounded by bucket sizes (actual duplication), never
# by token document frequency — the all-pairs dedup_jaccard_pairs below
# is kept only as a verification baseline on a 10% sample.
def _jaccard_lsh_sql(pair_pred: str = "a.doc_id < b.doc_id") -> str:
    return f"""
    WITH toks0 AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents) u),
    hot AS (
      SELECT tok FROM toks0 GROUP BY tok
      HAVING COUNT(*) * 5 > (SELECT COUNT(DISTINCT doc_id) FROM toks0)),
    toks AS (SELECT * FROM toks0 WHERE tok NOT IN (SELECT tok FROM hot)),
    sig AS ({_minhash_sig_sql()}),
    bands AS ({_minhash_band_arms()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND {pair_pred}),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.doc_a
      JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           ROUND(n_common / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.8
    """


@_q("dedup_jaccard_lsh", _jaccard_lsh_sql())
def dedup_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import jaccard_pairs_lsh

    d = _tbl(spark, sf_dir, "documents")
    return jaccard_pairs_lsh(d, threshold=0.8, df_cap_inv=5)


# Duplicate CLUSTERS + keep-one selection over the LSH pairs: transitive
# near-dups (A~B, B~C) collapse into one component with one kept
# representative — the step that turns pairs into an actual corpus dedup
# decision. Spark side: iterative min-label propagation
# (operators/dedup.duplicate_clusters); oracle: recursive-CTE reachability.
def _components_sql(pairs_cte: str) -> str:
    """Recursive min-label connected components over
    ``{pairs_cte}(doc_a, doc_b)`` — the ONE SQL twin of
    operators/dedup.duplicate_clusters, shared by every oracle that
    clusters near-dup pairs (dedup_clusters, the clustered funnel,
    dedup savings). Emits CTEs ``cedges``/``reach``/``lbl`` where lbl is
    (doc_id, cluster_id = MIN reachable id)."""
    return f"""cedges AS (SELECT doc_a AS src, doc_b AS dst FROM {pairs_cte}
               UNION SELECT doc_b, doc_a FROM {pairs_cte}),
    reach(src, r) AS (
      SELECT src, src FROM cedges
      UNION
      SELECT re.src, e.dst FROM reach re JOIN cedges e ON e.src = re.r),
    lbl AS (SELECT src AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY src)"""


@_q(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_jaccard_lsh_sql()}),
    {_components_sql("pairs")}
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           cluster_id = doc_id AS keep
    FROM lbl
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import duplicate_clusters, jaccard_pairs_lsh

    d = _tbl(spark, sf_dir, "documents")
    return duplicate_clusters(jaccard_pairs_lsh(d, threshold=0.8, df_cap_inv=5))


# SimHash (16-bit, portable: high bit of each md5 hex nibble)
_HI_NIBBLE = "('8','9','a','b','c','d','e','f')"


def _simhash_sql() -> str:
    bit_sums = ",\n      ".join(
        f"SUM(CASE WHEN substr(h, {k + 1}, 1) IN {_HI_NIBBLE} THEN 1 ELSE -1 END) AS s{k}"
        for k in range(16)
    )
    combine = " + ".join(f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(16))
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, md5(tok) AS h
      FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents) u),
    bits AS (SELECT doc_id, {bit_sums} FROM toks GROUP BY doc_id)
    SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM bits
    """


@_q("simhash16", _simhash_sql())
def simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens

    d = _tbl(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
        .select("doc_id", F.md5(F.col("tok").cast("binary")).alias("h"))
        .distinct()
    )
    hi = ["8", "9", "a", "b", "c", "d", "e", "f"]
    aggs = [
        F.sum(
            F.when(F.substring("h", k + 1, 1).isin(hi), 1).otherwise(-1)
        ).alias(f"s{k}")
        for k in range(16)
    ]
    bits = toks.groupBy("doc_id").agg(*aggs)
    combine = None
    for k in range(16):
        term = F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        combine = term if combine is None else combine + term
    return bits.select("doc_id", combine.cast("long").alias("simhash"))


# SimHash 64-bit (production width): two salted-md5 32-bit halves, plus
# Hamming-banded near-dup pairs (4x16-bit bands -> candidates, exact
# bit_count(xor) verify). Library route: operators/dedup.py.
def _simhash64_ctes() -> str:
    def half(col: str, base: int) -> str:
        return ",\n      ".join(
            f"SUM(CASE WHEN substr({col}, {k + 1}, 1) IN {_HI_NIBBLE} "
            f"THEN 1 ELSE -1 END) AS s{base + k}"
            for k in range(32)
        )

    def combine(base: int) -> str:
        return " + ".join(
            f"(CASE WHEN s{base + k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(32)
        )

    return f"""
    toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents) u),
    hashed AS (
      SELECT doc_id, md5(tok) AS h1, md5(tok || '#s1') AS h2 FROM toks),
    bits AS (
      SELECT doc_id,
      {half('h1', 0)},
      {half('h2', 32)}
      FROM hashed GROUP BY doc_id),
    sh AS (
      SELECT doc_id,
             CAST({combine(0)} AS BIGINT) AS simhash_hi,
             CAST({combine(32)} AS BIGINT) AS simhash_lo
      FROM bits)
    """


@_q("simhash64", f"WITH {_simhash64_ctes()} SELECT * FROM sh")
def simhash64_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash64, token_sets

    d = _tbl(spark, sf_dir, "documents")
    return simhash64(token_sets(d, df_cap_inv=None))


@_q(
    "simhash_hamming_pairs",
    f"""
    WITH {_simhash64_ctes()},
    stacked AS (
      SELECT doc_id, simhash_hi, simhash_lo, 0 AS band_idx,
             simhash_hi >> 16 AS band_val FROM sh
      UNION ALL
      SELECT doc_id, simhash_hi, simhash_lo, 1, simhash_hi & 65535 FROM sh
      UNION ALL
      SELECT doc_id, simhash_hi, simhash_lo, 2, simhash_lo >> 16 FROM sh
      UNION ALL
      SELECT doc_id, simhash_hi, simhash_lo, 3, simhash_lo & 65535 FROM sh),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash_hi, b.simhash_hi))
                  + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS BIGINT) AS hamming
      FROM stacked a JOIN stacked b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """,
)
def simhash_hamming_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming <= 3 with 4 bands of 16: recall is exact by pigeonhole
    (the Manku et al. 64-bit/k=3 parameterization)."""
    from .operators.dedup import simhash64, simhash_hamming_pairs, token_sets

    d = _tbl(spark, sf_dir, "documents")
    sh = simhash64(token_sets(d, df_cap_inv=None))
    return simhash_hamming_pairs(sh, max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("long")
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings + text analysis

# Brute-force cosine top-k: deterministic cross-engine floats via ordered
# fold of per-term rounded products (Spark aggregate == DuckDB list_reduce)
_DOT_DUCK = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE), 9)), "
    "(a, b) -> a + b)"
)
_NORM_DUCK = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "round(CAST({t}.embedding[i] AS DOUBLE) * CAST({t}.embedding[i] AS DOUBLE), 9)), "
    "(a, b) -> a + b)"
)


# deterministic rounded-fold dot product (shared with the ANN library).
# MEASURED AND KEPT AS THE LAMBDA FOLD: a dim-64 unrolled Add-chain
# (bit-identical float order) looked like the codegen win the n-gram
# rewrite was, but best-of-3 at sf0.1 on a 32-core host it REGRESSED
# every embedding query — neardup_ann 2.88s -> 6.32s with dot+bucket
# unrolled, 3.70s with dot alone — because each run re-compiles the
# enormous generated source (fresh expression ids per DataFrame defeat
# the codegen cache) and the per-run Janino cost swamps the interpreted
# fold, which at 64 floats x thousands of rows was never the bottleneck.
from .operators.ann import dot_rounded as _dot_spark  # noqa: E402


@_q(
    "embedding_cosine_topk",
    f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             {_DOT_DUCK} / (sqrt({_NORM_DUCK.format(t='q')}) * sqrt({_NORM_DUCK.format(t='c')}))
               AS cosine
      FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id, cand_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
      FROM pairs)
    SELECT query_id, CAST(rnk AS INT) AS rnk, cand_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rnk <= 3
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = _tbl(spark, sf_dir, "embeddings")
    norm = F.sqrt(_dot_spark(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        norm.alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
        norm.alias("cn"),
    )
    # broadcast the QUERY side (10 rows) and stream the corpus-sized
    # candidate side — the direction that survives a 100x corpus (the
    # reverse would broadcast the whole embedding table)
    pairs = c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
    cosine = _dot_spark(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("cosine", cosine)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", F.col("rnk").cast("int").alias("rnk"), "cand_id",
                F.round("cosine", 6).alias("cosine"))
    )


# Sign-LSH ANN buckets: 8 deterministic md5-derived hyperplane signs —
# the scale path for similarity search (bucket first, brute-force within)
def _lsh_proj_duck(j: int) -> str:
    return (
        "list_reduce(list_transform(range(1, 65), i -> "
        f"round(CAST(embedding[i] AS DOUBLE) * (CASE WHEN substr(md5('{j}#' || CAST(i AS STRING)), 1, 1) "
        "IN ('8','9','a','b','c','d','e','f') THEN 1.0 ELSE -1.0 END), 9)), (a, b) -> a + b)"
    )


def _lsh_signs(j: int) -> list[float]:
    """The j-th hyperplane's 64 signs, derived from md5 in PYTHON at plan
    time — identical values to the DuckDB twin's inline derivation, but
    embedded as literals so Spark doesn't evaluate 8x64 md5 calls per ROW
    (that per-row form made bucket assignment the dominant cost)."""
    import hashlib

    hi = set("89abcdef")
    return [
        1.0 if hashlib.md5(f"{j}#{i}".encode()).hexdigest()[0] in hi else -1.0
        for i in range(1, 65)
    ]


def _lsh_bucket_col(embedding=None, n_planes: int = 8):
    """Sign-LSH bucket id from md5-derived hyperplanes (the same
    deterministic planes the DuckDB twin derives). ``n_planes`` is the
    bucket-occupancy lever at scale: 2^n_planes buckets, so an N×-larger
    corpus adds ~log2(N) planes to keep per-bucket candidate work (and
    thus Σ bucket²/corpus) constant. Driver queries pin 8 (256 buckets
    for the sf0.01/sf0.1 tables); the scaling bench scales it."""
    embedding = embedding if embedding is not None else F.col("embedding")
    bucket = None
    for j in range(n_planes):
        # deliberately the compact zip_with/aggregate fold: an unrolled
        # 8x64-term Add-chain was measured SLOWER (neardup_ann
        # 2.88s -> 4.50s best-of-3 at sf0.1) — the giant generated
        # source recompiles on every run and per-run compile time
        # dominates this arithmetic at any realistic bucket volume
        signs = F.array(*[F.lit(s) for s in _lsh_signs(j)])
        prods = F.zip_with(
            F.transform(embedding, lambda x: x.cast("double")),
            signs,
            lambda x, s: F.round(x * s, 9),
        )
        proj = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        term = F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("long")


@_q(
    "ann_lsh_buckets",
    "SELECT vec_id, CAST("
    + " + ".join(
        f"(CASE WHEN {_lsh_proj_duck(j)} > 0 THEN {1 << j} ELSE 0 END)" for j in range(8)
    )
    + " AS BIGINT) AS bucket FROM embeddings",
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _tbl(spark, sf_dir, "embeddings")
    return e.select("vec_id", _lsh_bucket_col().alias("bucket"))


# The DEFAULT embedding near-dup route (scale path): sign-LSH bucket
# assignment is narrow/map-side; candidate pairs exist only within a
# bucket, so pair work is sum(bucket_size^2) over 256 buckets instead of
# corpus^2. The all-pairs dedup_embedding_neardup below stays as a
# verification baseline on a sample. Vectors alone in their bucket emit
# no row (inherent LSH approximation, same on both engines).
@_q(
    "neardup_ann",
    f"""
    WITH b AS (
      SELECT vec_id, CAST("""
    + " + ".join(
        f"(CASE WHEN {_lsh_proj_duck(j)} > 0 THEN {1 << j} ELSE 0 END)" for j in range(8)
    )
    + f""" AS BIGINT) AS bucket FROM embeddings),
    pairs AS (
      SELECT qa.vec_id, qb.vec_id AS neighbor_id,
             {_DOT_DUCK} / (sqrt({_NORM_DUCK.format(t='q')}) * sqrt({_NORM_DUCK.format(t='c')}))
               AS cosine
      FROM b qa
      JOIN b qb ON qb.bucket = qa.bucket AND qb.vec_id <> qa.vec_id
      JOIN embeddings q ON q.vec_id = qa.vec_id
      JOIN embeddings c ON c.vec_id = qb.vec_id),
    ranked AS (
      SELECT vec_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM pairs)
    SELECT vec_id, neighbor_id, ROUND(cosine, 6) AS cosine,
           cosine >= 0.95 AS near_dup
    FROM ranked WHERE rnk = 1
    """,
)
def neardup_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup_ann_over(_tbl(spark, sf_dir, "embeddings"))


def neardup_ann_over(emb: DataFrame, n_planes: int = 8) -> DataFrame:
    """The default embedding near-dup route over any (vec_id, embedding)
    frame — shared by the driver query above and bench.py's scaling
    evidence so both measure the same plan. ``n_planes`` is the
    bucket-occupancy lever at scale (2^planes buckets; +log2(N) planes
    at N× corpus)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window as W

    # norms folded once per VECTOR on each join side (identical values to
    # folding per pair — the oracle's inline form — but 1/3 the work).
    # The (bucket, norm)-annotated frame feeds BOTH sides of the pair
    # join; persisting it computes the scan + bucket assignment + norm
    # fold once instead of twice (measured 2.90s -> 2.18s best-of-3 at
    # sf0.1) — the same shared-consumer persist the jaccard route uses
    # for its token set (jaccard_pairs_lsh_from_tokens), with the same
    # lifetime note: the cache outlives this call because the returned
    # plan is lazy; MEMORY_AND_DISK spills rather than fails at scale.
    e = (
        emb.withColumn("bucket", _lsh_bucket_col(n_planes=n_planes))
        .withColumn(
            "__norm", F.sqrt(_dot_spark(F.col("embedding"), F.col("embedding")))
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    q = e.select(
        "vec_id", "bucket", F.col("embedding").alias("qe"), F.col("__norm").alias("qn")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("__cb"),
        F.col("embedding").alias("ce"),
        F.col("__norm").alias("cn"),
    )
    pairs = q.join(
        c, (F.col("bucket") == F.col("__cb")) & (F.col("neighbor_id") != F.col("vec_id"))
    )
    cosine = _dot_spark(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = W.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("cosine", cosine)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "vec_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            (F.col("cosine") >= 0.95).alias("near_dup"),
        )
    )


# Language-ID heuristic: the pandas-UDF scorer vs a pure-SQL reimplementation
# (verifies the vectorized-UDF path against an independent engine).
from .functions.langdata import CJK_RE, MARKERS  # noqa: E402
from .functions.scoring import _MIN_CHARS_FOR_LANGID, detect_lang_udf  # noqa: E402


def _langid_sql(text_expr: str) -> str:
    from .functions.scoring import LANGID_PREFIX

    head = f"substr({text_expr}, 1, {LANGID_PREFIX})"
    cnt = {
        lang: f"len(regexp_extract_all(lower({head}), '\\b(?:"
        + "|".join(words)
        + ")\\b'))"
        for lang, words in MARKERS.items()
    }
    cjk = f"len(regexp_extract_all({head}, '{CJK_RE}'))"
    return f"""
      CASE
        WHEN length({text_expr}) < {_MIN_CHARS_FOR_LANGID} THEN 'und'
        WHEN {cjk} / GREATEST(length({head}), 1) > 0.25 THEN 'zh'
        WHEN {cnt['en']} = 0 AND {cnt['fr']} = 0 AND {cnt['es']} = 0 AND {cnt['de']} = 0
          THEN 'und'
        WHEN {cnt['en']} >= GREATEST({cnt['fr']}, {cnt['es']}, {cnt['de']}) THEN 'en'
        WHEN {cnt['fr']} >= GREATEST({cnt['es']}, {cnt['de']}) THEN 'fr'
        WHEN {cnt['es']} >= {cnt['de']} THEN 'es'
        ELSE 'de'
      END
    """


@_q(
    "doc_langid_udf_vs_sql",
    f"SELECT doc_id, {_langid_sql('text')} AS lang_guess FROM documents",
)
def doc_langid_udf_vs_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tbl(spark, sf_dir, "documents")
    return d.select("doc_id", detect_lang_udf(F.col("text")).alias("lang_guess"))


# Token/char statistics per document source (text analysis rollup)
@_q(
    "doc_token_stats",
    f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_TOKENS})) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len({_TOKENS})) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents GROUP BY source
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens

    d = _tbl(spark, sf_dir, "documents")
    nt = F.size(tokens(F.col("text")))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(nt).cast("long").alias("total_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        (F.sum(nt).cast("double") / F.count("*")).alias("avg_tokens"),
    )


# Heuristic quality score (deterministic arithmetic, identical both engines)
@_q(
    "doc_quality_score",
    f"""
    WITH f AS (
      SELECT doc_id,
             len({_TOKENS}) AS nt,
             length(text) AS nc,
             length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\r]', '', 'g')) AS nsym,
             len(regexp_extract_all(lower(text),
                 '\\b(?:{"|".join(MARKERS["en"])})\\b')) AS nstop
      FROM documents)
    SELECT doc_id,
           ROUND(0.4 * LEAST(1.0, nt / 50.0)
                 + 0.3 * (1.0 - CASE WHEN nc > 0 THEN nsym / nc ELSE 0.0 END)
                 + 0.3 * CASE WHEN nt > 0 THEN LEAST(1.0, 5.0 * nstop / nt) ELSE 0.0 END,
                 6) AS quality_score
    FROM f
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same 6dp arithmetic as the funnels' stage-2 threshold — one Spark
    # definition (_quality_q_col) serves all three queries
    d = _tbl(spark, sf_dir, "documents")
    return d.select("doc_id", _quality_q_col().alias("quality_score"))


# ---------------------------------------------------------------------------
# Remaining scalar-function families + sort/limit + set ops

# O2: deterministic top-k by sort (reference: metrics.py:134-136 top-20
# worst errors; data_quality_runner.py:950 sample caps)
@_q(
    "topk_events_by_value",
    """
    SELECT event_id, user_id, value FROM events
    ORDER BY value DESC, event_id LIMIT 20
    """,
)
def topk_events_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    return ev.select("event_id", "user_id", "value").orderBy(
        F.col("value").desc(), F.col("event_id")
    ).limit(20)


# U2: EXCEPT ALL (full-row set difference; reference expresses it via anti
# joins, completeness.py:18-20 — here the column-wise variant)
@_q(
    "except_all_returns",
    """
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linestatus = 'F' AND l_quantity > 25
    """,
)
def except_all_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_partkey")
    b = li.filter((F.col("l_linestatus") == "F") & (F.col("l_quantity") > 25)).select(
        "l_orderkey", "l_partkey"
    )
    return a.exceptAll(b)


# §2.8 datetime family (reference: reconciliation.py:59-81 strptime/tz,
# consistency.py:36-39 total_seconds)
@_q(
    "event_time_features",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d') AS day_str,
           CAST(hour(ts) AS INT) AS hour_of_day,
           dayname(ts) AS dow_name,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_trunc,
           epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01') AS us_since_base
    FROM events
    """,
)
def event_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    return ev.select(
        "event_id",
        F.date_format(ts, "yyyy-MM-dd").alias("day_str"),
        F.hour(ts).cast("int").alias("hour_of_day"),
        F.date_format(ts, "EEEE").alias("dow_name"),
        F.date_format(F.date_trunc("hour", ts), "yyyy-MM-dd HH:mm:ss").alias("hour_trunc"),
        (
            F.unix_micros(ts)
            - F.unix_micros(F.to_timestamp(F.lit("2024-01-01")))
        ).alias("us_since_base"),
    )


# §2.8 JSON family (reference: profiling_json rows,
# data_quality_runner.py:119-120; extra_attributes JSON-in-string)
@_q(
    "json_extract_props",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                THEN 'high' ELSE 'low' END AS k_bucket
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select(
        "event_id",
        k.alias("k_val"),
        F.when(k > 50, F.lit("high")).otherwise(F.lit("low")).alias("k_bucket"),
    )


# A7: matched-subset conditional mean (reference: metrics.py:121-122)
@_q(
    "conditional_mean_value",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
                AS DOUBLE)
             / NULLIF(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END), 0)
             AS avg_purchase_value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases
    FROM events GROUP BY user_id
    """,
)
def conditional_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    psum = F.sum(
        F.when(is_p, F.col("value").cast("decimal(18,2)")).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )
    ).cast("double")
    pcnt = F.sum(is_p.cast("long"))
    return ev.groupBy("user_id").agg(
        (psum / F.nullif(pcnt, F.lit(0))).alias("avg_purchase_value"),
        pcnt.alias("n_purchases"),
    )


# F4: pandera-style declarative validation -> violation counts
# (reference: plugins/services/data_validator.py:8-51)
@_q(
    "schema_validation_summary",
    """
    SELECT
      CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id,
      CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
      CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_value,
      CAST(SUM(CASE WHEN event_type NOT IN ('click','view','purchase','signup','error')
               THEN 1 ELSE 0 END) AS BIGINT) AS bad_enum,
      CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-01'
                    OR ts > TIMESTAMP '2026-01-01' THEN 1 ELSE 0 END) AS BIGINT)
        AS ts_out_of_range,
      CAST(COUNT(*) AS BIGINT) AS rows_checked
    FROM events
    """,
)
def schema_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    def cnt(cond):
        return F.sum(cond.cast("long"))
    return ev.agg(
        cnt(F.col("event_id").isNull()).alias("null_event_id"),
        cnt(F.col("value").isNull()).alias("null_value"),
        cnt(F.col("value") < 0).alias("negative_value"),
        cnt(~F.col("event_type").isin("click", "view", "purchase", "signup", "error")).alias(
            "bad_enum"
        ),
        cnt(
            (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
            | (F.col("ts") > F.lit("2026-01-01").cast("timestamp"))
        ).alias("ts_out_of_range"),
        F.count("*").alias("rows_checked"),
    )


# §2.8 array family: per-row list ops (reference: metrics.py:61-106
# concat_list / set_intersection / list.len)
@_q(
    "array_ops_tokens",
    f"""
    WITH d AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents WHERE doc_id < 100)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_toks,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
           CAST(len(list_intersect(list_distinct(toks),
                ['the','data','spark','table','query'])) AS INT) AS n_keywords,
           array_to_string(list_sort(list_intersect(list_distinct(toks),
                ['the','data','spark','table','query'])), ',') AS keywords_csv,
           toks[1] AS first_tok
    FROM d
    """,
)
def array_ops_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens

    d = _tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    kw = F.array(*[F.lit(w) for w in ("the", "data", "spark", "table", "query")])
    toks = tokens(F.col("text"))
    inter = F.array_intersect(F.array_distinct(toks), kw)
    return d.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
        F.size(inter).cast("int").alias("n_keywords"),
        F.array_join(F.array_sort(inter), ",").alias("keywords_csv"),
        F.element_at(toks, 1).alias("first_tok"),
    )


# ---------------------------------------------------------------------------
# Profiling + pipeline metrics as oracle-checked queries

# Column profiling rows (reference: profiling_json upserts,
# plugins/services/data_quality_runner.py:119-120,747-782)
@_q(
    "profile_orders_columns",
    """
    SELECT 'o_totalprice' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
           CAST(MIN(o_totalprice) AS VARCHAR) AS min_str,
           CAST(MAX(o_totalprice) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _tbl(spark, sf_dir, "orders")

    def prof(col: str):
        return o.agg(
            F.lit(col).alias("col_name"),
            F.count("*").alias("n_rows"),
            F.sum(F.col(col).isNull().cast("long")).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_str"),
            F.max(col).cast("string").alias("max_str"),
        )

    return prof("o_totalprice").unionByName(prof("o_orderpriority")).unionByName(
        prof("o_custkey")
    )


# Per-conversation pipeline metrics (lineage emission, reference:
# governance_rule_results rows, plugins/operators/report_writer.py:116-171)
@_q(
    "transcript_conv_metrics",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    f AS (SELECT conv_id, turn_idx, {_FLAGS_SQL}, {_CONV_FLAGS_SQL}
          FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)),
    d AS (SELECT conv_id,
                 NOT (COALESCE(too_short, FALSE) OR COALESCE(too_long, FALSE)
                      OR COALESCE(high_repetition, FALSE)
                      OR COALESCE(high_symbol_ratio, FALSE)
                      OR COALESCE(boilerplate, FALSE)
                      OR COALESCE(bad_role_sequence, FALSE)
                      OR COALESCE(broken_tool_chain, FALSE)
                      OR COALESCE(out_of_order_ts, FALSE)
                      OR COALESCE(toxicity, FALSE)) AS keep
          FROM f)
    SELECT conv_id,
           CAST(COUNT(*) AS BIGINT) AS rows_in,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS rows_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS rows_dropped
    FROM d GROUP BY conv_id
    """,
)
def transcript_conv_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.pipeline import conversation_metrics, run_pipeline

    t = transcripts_view(spark, sf_dir)
    result = run_pipeline(t, HEURISTIC_CONFIG)
    return conversation_metrics(result)


# ---------------------------------------------------------------------------
# Weak (rows-only) queries: approximate + streaming operators whose outputs
# are not ANSI-SQL-reproducible by construction.

@_q(
    "approx_stats",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1 AS BIGINT) AS acd_ok,
           CAST(1 AS BIGINT) AS p50_ok,
           CAST(1 AS BIGINT) AS p90_ok,
           CAST(1 AS BIGINT) AS p99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct + percentile_approx (the at-scale variants of
    A4/A5). Sketch outputs have no bit-exact DuckDB twin, so the oracle
    contract is a tolerance check computed ON THE SPARK SIDE: each *_ok
    flag is 1 iff the sketch estimate is within its error envelope of the
    exact answer (HLL++ rsd=0.05 -> 2-sigma 10%; GK accuracy=10000 ->
    <=1% value drift on this distribution). DuckDB emits the exact values
    with literal-true flags — a sketch drifting out of tolerance flips a
    flag and fails the hash compare, so the sketches ARE verified."""
    li = _tbl(spark, sf_dir, "lineitem")
    q = F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000)
    eq = F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        q.alias("qa"),
        eq.alias("qe"),
        F.count("*").alias("n"),
    )

    def within(a, e, rel):
        return (F.abs(a - e) <= rel * F.abs(e)).cast("long")

    return agg.select(
        "l_returnflag",
        "exact_parts",
        "n",
        within(F.col("approx_parts"), F.col("exact_parts"), 0.10).alias("acd_ok"),
        within(F.col("qa")[0], F.col("qe")[0], 0.01).alias("p50_ok"),
        within(F.col("qa")[1], F.col("qe")[1], 0.01).alias("p90_ok"),
        within(F.col("qa")[2], F.col("qe")[2], 0.01).alias("p99_ok"),
    )


# Bounded-input determinism argument (same as stateful_conversation_totals):
# with availableNow + append mode, the engine runs a final no-data
# micro-batch that evicts and emits every window whose end is at or below
# the terminal watermark max(ts) - 2h — a pure batch expression DuckDB can
# reproduce. Late windows (within 2h of max ts) are deliberately withheld
# by both sides, which IS the T1/T2 late-data-clipping semantics.
@_q(
    "streaming_windowed_metrics",
    """
    WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events, wm
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    """,
)
def streaming_windowed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Structured Streaming run: watermarked 1-hour windows of
    event counts driven to completion with availableNow (T1/T2 semantics)."""
    import os
    import shutil
    import uuid

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    # FileStreamSource needs a DIRECTORY; the driver tables may be single
    # parquet files — stage a symlink into a temp dir.
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    stream_dir = None
    if os.path.isfile(src):
        stream_dir = f"/tmp/dqx_streamdir_{uuid.uuid4().hex[:8]}"
        os.makedirs(stream_dir)
        os.symlink(src, os.path.join(stream_dir, "events.parquet"))
        src = stream_dir
    try:
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
                "event_type",
                "n",
            )
        )
        name = "dqx_stream_" + uuid.uuid4().hex[:8]
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if stream_dir:
            shutil.rmtree(stream_dir, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name}")


_ROLE_CASE = """CASE event_type
    WHEN 'click' THEN 'user' WHEN 'view' THEN 'assistant'
    WHEN 'purchase' THEN 'assistant' WHEN 'signup' THEN 'system'
    ELSE 'tool' END"""


@_q(
    "stateful_conversation_totals",
    f"""
    WITH t AS (
      SELECT 'conv_' || CAST(user_id AS STRING) AS conv_id,
             {_ROLE_CASE} AS role, ts, event_id
      FROM events
    ), lagged AS (
      SELECT conv_id, role,
             LAG(role) OVER (PARTITION BY conv_id ORDER BY ts, event_id) AS prev_role
      FROM t
    )
    SELECT conv_id,
           COUNT(*) AS n_turns,
           CAST(COALESCE(SUM(CASE WHEN role IN ('user','assistant')
                                   AND prev_role = role THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_violations
    FROM lagged GROUP BY conv_id
    """,
)
def stateful_conversation_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): running
    per-conversation turn/violation totals carried across micro-batches,
    driven to completion with availableNow. Because arrival order is the
    event-time order (time-bucketed files, monotone mtimes), the stream-end
    totals equal the batch lag-window SQL — a strong oracle for a stateful
    operator (SURVEY.md §2.9; reference watermark-state analog:
    dags/scanner_cactus_monitor.py:44-109)."""
    import uuid

    from .streaming.stateful import (
        conversation_state_updates,
        final_totals,
        write_time_ordered_buckets,
    )

    ev = _tbl(spark, sf_dir, "events").selectExpr(
        "'conv_' || CAST(user_id AS STRING) AS conv_id",
        f"{_ROLE_CASE} AS role",
        "ts",
        "event_id",
    )
    stream_dir = f"/tmp/dqx_stateful_{uuid.uuid4().hex[:8]}"
    write_time_ordered_buckets(ev, stream_dir, n_buckets=4, order_cols=("ts", "event_id"))
    try:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        updates = conversation_state_updates(stream)
        name = "dqx_stateful_" + uuid.uuid4().hex[:8]
        q = (
            updates.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # materialize before removing the staged input (memory sink rows
        # are already collected, but final_totals re-reads the table)
        totals = final_totals(spark.table(name)).cache()
        totals.count()
        return totals
    finally:
        import shutil

        shutil.rmtree(stream_dir, ignore_errors=True)


# IVF-style ANN: K k-means centroids (deterministic hash-spread seed + 2
# Lloyd iterations, all DataFrame ops — operators/ann.py), assign every
# vector to its nearest centroid by cosine (the inverted-file coarse
# quantizer), then answer top-k probing ONLY the query's list — the
# at-scale similarity-search path next to sign-LSH (ann_lsh_buckets).
# At 100 TB: assignment is a broadcast join of K centroid rows against
# the embedding scan (narrow); each k-means update is one groupBy of
# K*64 cells; search shuffles only within-list candidate pairs.
_IVF_K = 4
_IVF_ITERS = 2


def _dotd(a: str, b: str) -> str:
    """Generic DuckDB rounded-fold dot product over two list exprs."""
    return (
        "list_reduce(list_transform(range(1, 65), i -> "
        f"round(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE), 9)), (x, y) -> x + y)"
    )


def _ivf_kmeans_sql() -> str:
    """WITH-chain: seed -> iters x (assign -> update) -> final assign."""
    ctes = [
        # hash-spread seed: the K vectors with smallest md5(id) — matches
        # operators/ann.seed_centroids (first-K ids are insertion-correlated)
        f"""cen0 AS (
      SELECT vec_id AS centroid_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE), 4)) AS cen_e
      FROM (SELECT * FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_K}))""",
        "pos AS (SELECT unnest(range(1, 65)) AS i)",
    ]
    for it in range(_IVF_ITERS + 1):
        ctes.append(
            f"""assign{it} AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {_dotd('v.embedding', 'c.cen_e')} / sqrt({_dotd('c.cen_e', 'c.cen_e')})
                 DESC, c.centroid_id) AS rn
        FROM embeddings v CROSS JOIN cen{it} c) WHERE rn = 1)"""
        )
        if it < _IVF_ITERS:
            ctes.append(
                f"""cen{it + 1} AS (
      SELECT centroid_id, list(val ORDER BY i) AS cen_e FROM (
        SELECT a.centroid_id, p.i,
               ROUND(AVG(CAST(v.embedding[p.i] AS DOUBLE)), 4) AS val
        FROM assign{it} a JOIN embeddings v ON v.vec_id = a.vec_id
        CROSS JOIN pos p
        GROUP BY a.centroid_id, p.i) GROUP BY centroid_id)"""
            )
    return ",\n    ".join(ctes)


@_q(
    "ivf_ann_topk",
    f"""
    WITH {_ivf_kmeans_sql()},
    lists AS (SELECT vec_id, centroid_id FROM assign{_IVF_ITERS}),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             {_DOT_DUCK} / (sqrt({_NORM_DUCK.format(t='q')}) * sqrt({_NORM_DUCK.format(t='c')}))
               AS cosine
      FROM embeddings q
      JOIN lists ql ON ql.vec_id = q.vec_id
      JOIN lists cl ON cl.centroid_id = ql.centroid_id
      JOIN embeddings c ON c.vec_id = cl.vec_id AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 5),
    ranked AS (
      SELECT query_id, cand_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
      FROM pairs)
    SELECT query_id, CAST(rnk AS INT) AS rnk, cand_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rnk <= 3
    """,
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with k-means coarse quantizer (2 Lloyd iterations from the
    hash-spread seed) then top-3 cosine search probing only the query's
    inverted list. Library: operators/ann.py."""
    from .operators.ann import ivf_kmeans_centroids, ivf_topk

    e = _tbl(spark, sf_dir, "embeddings")
    cen = ivf_kmeans_centroids(e, _IVF_K, iters=_IVF_ITERS)
    return ivf_topk(e, cen, F.col("vec_id") < 5, k=3)


# Product quantization (the m-byte-codes compression path next to IVF):
# per-subspace k-means codebooks trained jointly (operators/ann.py),
# vectors encoded to m codes, search by ASYMMETRIC DISTANCE — each query
# builds its m*ksub lookup table of exact subvector distances and a
# candidate costs m table lookups; raw vectors are never read at query
# time. Oracle: the same fixed-unroll SQL discipline as the IVF twin
# (seed -> 2 Lloyd rounds -> encode -> ADC), every float op mirrored
# (slice, per-term round-9 squared diffs, round-4 means, round-6 sums).
_PQ_M, _PQ_KSUB, _PQ_ITERS, _PQ_SUBLEN = 4, 8, 2, 16


def _pq_l2_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {_PQ_SUBLEN + 1}), i -> "
        f"round(({a}[i] - {b}[i]) * ({a}[i] - {b}[i]), 9)), (x, y) -> x + y)"
    )


def _pq_sql() -> str:
    ctes = [
        f"""subs AS (
      SELECT vec_id, s.j AS sub_id,
             list_transform(range(1, {_PQ_SUBLEN + 1}),
                            i -> CAST(embedding[s.j * {_PQ_SUBLEN} + i] AS DOUBLE)) AS sv
      FROM embeddings, (SELECT unnest(range(0, {_PQ_M})) AS j) s)""",
        f"""seed_ids AS (
      SELECT vec_id, ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
      FROM embeddings QUALIFY code < {_PQ_KSUB})""",
        """cb0 AS (
      SELECT s.sub_id, i.code,
             list_transform(s.sv, x -> round(x, 4)) AS cv
      FROM subs s JOIN seed_ids i USING (vec_id))""",
        f"pos AS (SELECT unnest(range(1, {_PQ_SUBLEN + 1})) AS i)",
    ]
    for it in range(_PQ_ITERS):
        ctes.append(
            f"""asg{it} AS (
      SELECT vec_id, sub_id, code, sv FROM (
        SELECT s.vec_id, s.sub_id, c.code, s.sv,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_id
                 ORDER BY {_pq_l2_duck('s.sv', 'c.cv')} ASC, c.code ASC) AS rn
        FROM subs s JOIN cb{it} c ON c.sub_id = s.sub_id) WHERE rn = 1)"""
        )
        ctes.append(
            f"""cb{it + 1} AS (
      SELECT sub_id, code, list(val ORDER BY i) AS cv FROM (
        SELECT a.sub_id, a.code, p.i, ROUND(AVG(a.sv[p.i]), 4) AS val
        FROM asg{it} a CROSS JOIN pos p
        GROUP BY a.sub_id, a.code, p.i) GROUP BY sub_id, code)"""
        )
    # encode with the final codebooks; ADC for queries vec_id < 10
    ctes.append(
        f"""enc AS (
      SELECT vec_id, sub_id, code FROM (
        SELECT s.vec_id, s.sub_id, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_id
                 ORDER BY {_pq_l2_duck('s.sv', 'c.cv')} ASC, c.code ASC) AS rn
        FROM subs s JOIN cb{_PQ_ITERS} c ON c.sub_id = s.sub_id) WHERE rn = 1)"""
    )
    ctes.append(
        f"""lut AS (
      SELECT s.vec_id AS query_id, s.sub_id, c.code,
             {_pq_l2_duck('s.sv', 'c.cv')} AS d2
      FROM subs s JOIN cb{_PQ_ITERS} c ON c.sub_id = s.sub_id
      WHERE s.vec_id < 10)"""
    )
    return ",\n    ".join(ctes)


@_q(
    "pq_adc_ann",
    f"""
    WITH {_pq_sql()},
    pairs AS (
      SELECT l.query_id, e.vec_id AS cand_id, ROUND(SUM(l.d2), 6) AS adc_d2
      FROM enc e JOIN lut l ON l.sub_id = e.sub_id AND l.code = e.code
      WHERE e.vec_id <> l.query_id
      GROUP BY l.query_id, e.vec_id),
    ranked AS (
      SELECT query_id, cand_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_d2 ASC, cand_id ASC) AS rnk
      FROM pairs)
    SELECT query_id, CAST(rnk AS INT) AS rnk, cand_id, adc_d2
    FROM ranked WHERE rnk <= 3
    """,
)
def pq_adc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebooks (m=4 subspaces x 8 codes, 2 Lloyd rounds) -> encode
    -> ADC top-3 for queries vec_id < 10. Library: operators/ann.py."""
    from .operators.ann import pq_adc_topk, pq_encode, pq_train_codebooks

    e = _tbl(spark, sf_dir, "embeddings")
    cb = pq_train_codebooks(e, m=_PQ_M, ksub=_PQ_KSUB, iters=_PQ_ITERS)
    codes = pq_encode(e, cb, m=_PQ_M)
    queries = e.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    return pq_adc_topk(queries, codes, cb, m=_PQ_M, k=3)


# BPE-ish tokenizer: GPT-2-style pre-tokenization regex restricted to the
# lookahead-free Java/RE2/Python common subset (contractions, letter runs,
# digit runs, punctuation runs, each with optional leading space) — the
# "token counting" training-data op next to the whitespace counter
# (doc_token_stats).
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+"
_BPE_SQL = _BPE_RE.replace("'", "''")  # escaped for SQL string literals


@_q(
    "doc_bpe_token_counts",
    f"""
    SELECT doc_id,
           CAST(len({_TOKENS}) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT) AS bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens

    d = _tbl(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0)))
        .cast("long")
        .alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


# Embedding-cosine near-duplicate detection — VERIFICATION BASELINE ONLY
# (all-pairs within a deterministic sample; quadratic in corpus size).
# The default route at scale is neardup_ann above (sign-LSH bucket-first).
@_q(
    "dedup_embedding_neardup",
    f"""
    WITH sample AS (SELECT * FROM embeddings WHERE vec_id % 13 = 0),
    pairs AS (
      SELECT q.vec_id, c.vec_id AS neighbor_id,
             {_DOT_DUCK} / (sqrt({_NORM_DUCK.format(t='q')}) * sqrt({_NORM_DUCK.format(t='c')}))
               AS cosine
      FROM sample q JOIN sample c ON c.vec_id <> q.vec_id),
    ranked AS (
      SELECT vec_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM pairs)
    SELECT vec_id, neighbor_id, ROUND(cosine, 6) AS cosine,
           cosine >= 0.95 AS near_dup
    FROM ranked WHERE rnk = 1
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = _tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 13 == 0)
    norm = F.sqrt(_dot_spark(F.col("embedding"), F.col("embedding")))
    q = e.select(F.col("vec_id"), F.col("embedding").alias("qe"), norm.alias("qn"))
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"),
        norm.alias("cn"),
    )
    pairs = q.join(F.broadcast(c), F.col("neighbor_id") != F.col("vec_id"))
    cosine = _dot_spark(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = W.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("cosine", cosine)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "vec_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            (F.col("cosine") >= 0.95).alias("near_dup"),
        )
    )


# Rolling-hash document fingerprint: polynomial hash (base 31, large prime
# modulus — exact in int64 in both engines) over the first 64 chars of the
# ASCII-normalized text. The incremental-hash flavor of fingerprinting next
# to the md5 content hash (doc_fingerprint).
_RH_MOD = 9_007_199_254_740_881  # largest prime < 2^53; 31*mod < int64 max


@_q(
    "doc_rolling_hash",
    f"""
    WITH n AS (
      SELECT doc_id,
             substr(trim(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g'))), 1, 64)
               AS norm
      FROM documents)
    SELECT doc_id,
           CASE WHEN length(norm) = 0 THEN CAST(0 AS BIGINT)
                ELSE list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(range(1, length(norm) + 1),
                                        i -> CAST(unicode(substr(norm, i, 1)) AS BIGINT))),
                       (a, c) -> (a * 31 + c) % {_RH_MOD})
           END AS rolling_hash
    FROM n
    """,
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tbl(spark, sf_dir, "documents")
    norm = F.expr(
        "substring(trim(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' '))), 1, 64)"
    )
    rolling = F.expr(
        "CASE WHEN length(__norm) = 0 THEN 0L ELSE "
        "aggregate(transform(sequence(1, length(__norm)), "
        "                    i -> CAST(ascii(substring(__norm, i, 1)) AS BIGINT)), "
        f"          0L, (a, c) -> (a * 31L + c) % {_RH_MOD}) END"
    )
    return (
        d.withColumn("__norm", norm)
        .select("doc_id", rolling.alias("rolling_hash"))
    )


# ---------------------------------------------------------------------------
# Severity-routed alert/asset emission (reference: aggregator.py:178-435 +
# dispatcher.py:46-81), exercised end-to-end through the rules engine and
# operators/alerts.py on the transcripts derivation. Three inline rules:
#   R_TOX   P0 filter on the toxicity flag       -> alert row
#   R_TOOL  P1 tool-use turns                    -> asset rows (field_mapping)
#   R_SHORT P2 too-short turns, exempt_field=conv_id vs the P1 whitelist
_EMIT_RULES = [
    {
        "meta": {
            "rule_id": "R_TOX",
            "severity": "P0",
            "alert": {"trigger_id_field": "turn_uid", "title": "toxic content"},
        },
        "logic": {"type": "filter", "filter_expr": "col('toxicity')"},
    },
    {
        "meta": {
            "rule_id": "R_TOOL",
            "severity": "P1",
            "asset": {
                "field_mapping": {"asset_id": "conv_id", "src_turn": "turn_idx"},
                "asset_type": "TOOL_DEMO",
                "tags": ["tool_use"],
                "target_path_template": "corner_case/{batch_id}/{rule_id}/{asset_id}/",
            },
        },
        # narrow predicate: the sf0.01 data has tool turns in EVERY
        # conversation, which would whitelist all P2 hits and make the
        # exemption vacuous — this leaves ~80% of hits unexempted
        "logic": {
            "type": "filter",
            "filter_expr": "(col('tool') == lit('tool_0')) & (col('turn_idx') < lit(5))",
        },
    },
    {
        "meta": {
            "rule_id": "R_SHORT",
            "severity": "P2",
            "alert": {"trigger_id_field": "turn_uid", "title": "too short"},
            "exemption": {"exempt_field": "conv_id"},
        },
        "logic": {"type": "filter", "filter_expr": "col('too_short')"},
    },
]


def _emission_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared rule-input frame for the emission/governance queries."""
    from .functions.text import text_flag_columns

    t = transcripts_view(spark, sf_dir)
    flags = text_flag_columns(F.col("text"), HEURISTIC_CONFIG)
    return t.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.concat(F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string")).alias(
            "turn_uid"
        ),
        flags["toxicity"].alias("toxicity"),
        flags["too_short"].alias("too_short"),
    )


def _emission_inputs(spark: SparkSession, sf_dir: str):
    from .operators.alerts import emit_from_results
    from .operators.rules import Rule, run_rules

    frame = _emission_frame(spark, sf_dir)
    rules = [Rule.from_dict(d) for d in _EMIT_RULES]
    results = run_rules(rules, frame)
    return emit_from_results(rules, results, batch_id="batch0")


_EMIT_FLAGS = f"""
      SELECT conv_id, turn_idx, tool,
             conv_id || '#' || CAST(turn_idx AS STRING) AS turn_uid,
             {_FLAGS_SQL}
      FROM t"""


@_q(
    "alert_routing",
    f"""
    WITH t AS ({{TRANSCRIPTS}}),
    u AS ({_EMIT_FLAGS}),
    p1 AS (SELECT DISTINCT CAST(conv_id AS STRING) AS wid FROM u
           WHERE tool = 'tool_0' AND turn_idx < 5),
    p0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS hit_count,
                  array_to_string(list_slice(list_sort(list(DISTINCT turn_uid)), 1, 50), ',')
                    AS trigger_ids
           FROM u WHERE toxicity),
    p2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS hit_count,
                  array_to_string(list_slice(list_sort(list(DISTINCT turn_uid)), 1, 50), ',')
                    AS trigger_ids
           FROM u WHERE too_short
             AND CAST(conv_id AS STRING) NOT IN (SELECT wid FROM p1))
    SELECT 'R_TOX' AS rule_id, 'P0' AS severity, 'toxic content' AS title,
           hit_count, 'turn_uid' AS trigger_id_field, trigger_ids
    FROM p0 WHERE hit_count > 0
    UNION ALL
    SELECT 'R_SHORT', 'P2', 'too short', hit_count, 'turn_uid', trigger_ids
    FROM p2 WHERE hit_count > 0
    """.replace("{TRANSCRIPTS}", TRANSCRIPTS_SQL_DUCKDB),
)
def alert_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    alerts, _assets = _emission_inputs(spark, sf_dir)
    return alerts


@_q(
    "asset_rows",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB})
    SELECT CAST(conv_id AS STRING) AS asset_id,
           CAST(turn_idx AS STRING) AS src_turn,
           'TOOL_DEMO' AS asset_type,
           'R_TOOL' AS rule_id,
           'tool_use' AS tags_csv,
           'corner_case/batch0/R_TOOL/' || conv_id || '/' AS target_path
    FROM t WHERE tool = 'tool_0' AND turn_idx < 5
    """,
)
def asset_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    _alerts, assets = _emission_inputs(spark, sf_dir)
    return assets.select(
        "asset_id",
        "src_turn",
        "asset_type",
        "rule_id",
        F.array_join("tags", ",").alias("tags_csv"),
        "target_path",
    )


# Dispatcher digest over the routed alerts (reference: dispatcher.py:46-81
# severity grouping; rendered lines sorted for determinism)
@_q(
    "dispatch_digest",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    u AS ({_EMIT_FLAGS}),
    p1 AS (SELECT DISTINCT CAST(conv_id AS STRING) AS wid FROM u
           WHERE tool = 'tool_0' AND turn_idx < 5),
    alerts AS (
      SELECT 'R_TOX' AS rule_id, 'P0' AS severity, 'toxic content' AS title,
             CAST(COUNT(*) AS BIGINT) AS hit_count
      FROM u WHERE toxicity HAVING COUNT(*) > 0
      UNION ALL
      SELECT 'R_SHORT', 'P2', 'too short', CAST(COUNT(*) AS BIGINT)
      FROM u WHERE too_short
        AND CAST(conv_id AS STRING) NOT IN (SELECT wid FROM p1)
      HAVING COUNT(*) > 0)
    SELECT severity,
           CAST(COUNT(*) AS BIGINT) AS n_alerts,
           CAST(SUM(hit_count) AS BIGINT) AS total_hits,
           array_to_string(
             list_sort(list(printf('[%s] %s: %d hits', rule_id, title, hit_count))),
             chr(10)) AS digest
    FROM alerts GROUP BY severity
    """,
)
def dispatch_digest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.alerts import dispatch_digest

    alerts, _assets = _emission_inputs(spark, sf_dir)
    return dispatch_digest(alerts)


# End-to-end governance lifecycle (reference: the full dag_factory DAG,
# SURVEY §3.1): rules -> alerts/assets -> report -> dispatch in ONE
# run_governance call against a throwaway TableIO root, then the
# persisted governance tables (rule_results / alerts / assets /
# run_summary) are joined back into one verifiable row-per-rule frame.
# This hash-checks the composed path, not just its pieces: rule hit
# counts (pre-exemption), alert hit counts (post-exemption), asset
# counts, and the run-level status classification all in one oracle.
@_q(
    "governance_lifecycle",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    u AS ({_EMIT_FLAGS}),
    p1 AS (SELECT DISTINCT CAST(conv_id AS STRING) AS wid FROM u
           WHERE tool = 'tool_0' AND turn_idx < 5),
    tox AS (SELECT COUNT(*) AS n FROM u WHERE toxicity),
    tool AS (SELECT COUNT(*) AS n FROM u WHERE tool = 'tool_0' AND turn_idx < 5),
    shrt AS (SELECT COUNT(*) AS n FROM u WHERE too_short),
    shrtx AS (SELECT COUNT(*) AS n FROM u WHERE too_short
              AND CAST(conv_id AS STRING) NOT IN (SELECT wid FROM p1))
    SELECT 'R_TOX' AS rule_id, 'P0' AS severity, 'SUCCESS' AS status,
           CAST(tox.n AS BIGINT) AS rule_hits,
           CAST(NULLIF(tox.n, 0) AS BIGINT) AS alert_hits,
           CAST(0 AS BIGINT) AS n_assets,
           'SUCCESS' AS run_status
    FROM tox
    UNION ALL
    SELECT 'R_TOOL', 'P1', 'SUCCESS', CAST(tool.n AS BIGINT),
           CAST(NULL AS BIGINT), CAST(tool.n AS BIGINT), 'SUCCESS'
    FROM tool
    UNION ALL
    SELECT 'R_SHORT', 'P2', 'SUCCESS', CAST(shrt.n AS BIGINT),
           CAST(NULLIF(shrtx.n, 0) AS BIGINT), CAST(0 AS BIGINT), 'SUCCESS'
    FROM shrt, shrtx
    """,
)
def governance_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .operators.rules import Rule

    frame = _emission_frame(spark, sf_dir)
    rules = [Rule.from_dict(d) for d in _EMIT_RULES]
    root = tempfile.mkdtemp(prefix="dqx_gov_lifecycle_")
    try:
        return _governance_lifecycle_frame(spark, frame, rules, root)
    finally:
        # the returned frame is re-materialized from collected rows (a
        # per-rule digest, 3 rows) so the temp table root can go
        import shutil

        shutil.rmtree(root, ignore_errors=True)


def _governance_lifecycle_frame(spark, frame, rules, root) -> DataFrame:
    from .plans.governance import run_governance
    from .sources.tableio import TableIO

    import os

    io = TableIO(root)
    run_governance(spark, frame, rules, io, batch_id="batch0")

    rr = io.read(spark, "rule_results").select(
        "rule_id", "severity", "status", F.col("hit_count").alias("rule_hits")
    )
    alert_hits = (
        io.read(spark, "alerts").select(
            "rule_id", F.col("hit_count").alias("alert_hits")
        )
        if os.path.isdir(f"{root}/alerts")
        else None
    )
    n_assets = (
        io.read(spark, "assets").groupBy("rule_id").agg(F.count("*").alias("n_assets"))
        if os.path.isdir(f"{root}/assets")
        else None
    )
    run_status = io.read(spark, "run_summary").select(
        F.col("status").alias("run_status")
    )
    out = rr
    if alert_hits is not None:
        out = out.join(alert_hits, "rule_id", "left")
    else:
        out = out.withColumn("alert_hits", F.lit(None).cast("long"))
    if n_assets is not None:
        out = out.join(n_assets, "rule_id", "left")
        out = out.withColumn("n_assets", F.coalesce("n_assets", F.lit(0)))
    else:
        out = out.withColumn("n_assets", F.lit(0).cast("long"))
    # run_summary is exactly one row per batch — the cross join broadcasts it
    out = out.crossJoin(F.broadcast(run_status))
    # materialize NOW (one digest row per rule): the caller deletes the
    # temp table root this plan reads from as soon as we return
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Round-2 additions: shingle near-dup, sessionization, rollup, exact quantiles.

# Shingle-based near-dup: 3-token shingles through the same MinHash-LSH
# machinery — unigram token sets conflate docs with similar VOCABULARY;
# shingles require similar SEQUENCES (the standard text-dedup unit).
_SHINGLES = (
    "list_transform(range(1, greatest(len(tk) - 2, 0) + 1), "
    "i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])"
)


def _shingle_lsh_sql() -> str:
    return f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, unnest({_SHINGLES}) AS tok FROM tt) u),
    sig AS ({_minhash_sig_sql()}),
    bands AS ({_minhash_band_arms()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.doc_a
      JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           ROUND(n_common / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.8
    """


@_q("dedup_shingle_lsh", _shingle_lsh_sql())
def dedup_shingle_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import jaccard_pairs_lsh_from_tokens, shingle_sets

    d = _tbl(spark, sf_dir, "documents")
    return jaccard_pairs_lsh_from_tokens(shingle_sets(d, n=3), threshold=0.8)


# Event-time sessionization in batch (gaps-and-islands; the batch
# counterpart of streaming session windows — SURVEY §2.9 notes the
# reference has no session windows, so this extends the inventory).
@_q(
    "event_sessions",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
      FROM o)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_no
    """,
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.conversation import session_bounds, sessionize

    ev = _tbl(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_sec=1800, order_extra=("event_id",))
    return session_bounds(s, "user_id", "ts").select(
        "user_id",
        "session_no",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


# ROLLUP grouping sets (beyond the reference inventory — SURVEY §2.4
# notes grouping sets are absent there; Spark/DuckDB both support them).
@_q(
    "pricing_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dsum("l_extendedprice", "sum_price"), F.count("*").alias("n")
    )


# Exact interpolated percentiles (the exact variant next to the sketch-
# based approx_stats; Spark percentile() and DuckDB quantile_cont share
# the linear-interpolation definition, verified bit-exact after round 6).
@_q(
    "exact_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99"),
        F.count("*").alias("n"),
    )


# Multi-probe IVF: the query probes its 2 nearest lists (candidates stay
# in exactly their rank-1 list) — the standard recall lever for queries
# near Voronoi boundaries; cost linear in nprobe.
@_q(
    "ivf_ann_nprobe2",
    f"""
    WITH {_ivf_kmeans_sql()},
    probes AS (
      SELECT vec_id, centroid_id, rn FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {_dotd('v.embedding', 'c.cen_e')} / sqrt({_dotd('c.cen_e', 'c.cen_e')})
                 DESC, c.centroid_id) AS rn
        FROM embeddings v CROSS JOIN cen{_IVF_ITERS} c) WHERE rn <= 2),
    lists AS (SELECT vec_id, centroid_id FROM probes WHERE rn = 1),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             {_DOT_DUCK} / (sqrt({_NORM_DUCK.format(t='q')}) * sqrt({_NORM_DUCK.format(t='c')}))
               AS cosine
      FROM embeddings q
      JOIN probes ql ON ql.vec_id = q.vec_id
      JOIN lists cl ON cl.centroid_id = ql.centroid_id
      JOIN embeddings c ON c.vec_id = cl.vec_id AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 5),
    ranked AS (
      SELECT query_id, cand_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
      FROM pairs)
    SELECT query_id, CAST(rnk AS INT) AS rnk, cand_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rnk <= 3
    """,
)
def ivf_ann_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import ivf_kmeans_centroids, ivf_topk

    e = _tbl(spark, sf_dir, "embeddings")
    cen = ivf_kmeans_centroids(e, _IVF_K, iters=_IVF_ITERS)
    return ivf_topk(e, cen, F.col("vec_id") < 5, k=3, nprobe=2)


# Binary media-column plumbing, oracle-checked: a deterministic BLOB
# payload derived from documents (unhex of md5s) exercised through
# byte-length, distinct-binary and hex/hash handling in both engines —
# the SQL-expressible slice of the multimodal family
# (operators/multimodal.py holds the mapInPandas decode plumbing).
@_q(
    "media_payload_stats",
    """
    SELECT CAST(doc_id % 3 AS BIGINT) AS kind_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT payload) AS BIGINT) AS distinct_payloads,
           MIN(md5(hex(payload))) AS min_payload_md5
    FROM (SELECT doc_id, from_hex(md5(text) || md5(text || '#2')) AS payload
          FROM documents)
    GROUP BY 1
    """,
)
def media_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tbl(spark, sf_dir, "documents")
    payload = F.unhex(
        F.concat(
            F.md5(F.col("text").cast("binary")),
            F.md5(F.concat(F.col("text"), F.lit("#2")).cast("binary")),
        )
    )
    return (
        d.select((F.col("doc_id") % 3).alias("kind_id"), payload.alias("payload"))
        .groupBy("kind_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.length("payload")).alias("total_bytes"),
            F.countDistinct("payload").alias("distinct_payloads"),
            F.min(F.md5(F.hex(F.col("payload")).cast("binary"))).alias(
                "min_payload_md5"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Training-data curation family (operators/curation.py): decontamination,
# deterministic stratified sampling, sequence packing. No reference
# counterpart (its scope ends at validation); these are the brief's
# corpus-preparation extensions.
@_q(
    "decontam_benchmark_overlap",
    f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, tok
           FROM (SELECT doc_id, unnest({_SHINGLES}) AS tok FROM tt) u),
    bench AS (SELECT DISTINCT tok FROM sh WHERE doc_id % 50 = 0)
    SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated,
           MIN(c.tok) AS sample_shingle
    FROM sh c JOIN bench b USING (tok)
    WHERE c.doc_id % 50 <> 0
    GROUP BY c.doc_id
    """,
)
def decontam_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-overlap decontamination: docs sharing any 3-token
    shingle with the (deterministic doc_id%50==0) benchmark slice. The
    benchmark shingle set broadcasts; the corpus side is map-only."""
    from .operators.curation import decontaminate
    from .operators.dedup import shingle_sets

    sh = shingle_sets(_tbl(spark, sf_dir, "documents"), n=3)
    bench = sh.where(F.col("doc_id") % 50 == 0)
    corpus = sh.where(F.col("doc_id") % 50 != 0)
    return decontaminate(corpus, bench)


_SAMPLE_BUCKET = "CAST('0x' || substr(md5('s0' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"

# integer keep-thresholds computed ONCE in Python (engine-side
# double->int casts diverge at the boundary: Spark truncates, DuckDB
# rounds — see operators/curation.sample_threshold)
from .operators.curation import sample_threshold as _thr  # noqa: E402

_THR_EN, _THR_DE, _THR_DEFAULT = _thr(0.2), _thr(0.8), _thr(0.5)


@_q(
    "stratified_hash_sample",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_SAMPLE_BUCKET} <
        CASE WHEN lang = 'en' THEN {_THR_EN} WHEN lang = 'de' THEN {_THR_DE}
             ELSE {_THR_DEFAULT} END
    """,
)
def stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-gated sampling with per-language rates
    (downsample the head language, keep the tail) — stable across
    reruns/engines, no RNG state, pure map-side filter."""
    from .operators.curation import hash_sample

    d = _tbl(spark, sf_dir, "documents")
    return hash_sample(
        d,
        "doc_id",
        rate=0.5,
        salt="s0",
        strata_rates={"en": 0.2, "de": 0.8},
        strata_col="lang",
    ).select("doc_id", "lang")


@_q(
    "pack_token_bins",
    f"""
    WITH t AS (SELECT doc_id, len({_TOKENS}) AS n_tokens, doc_id % 8 AS shard
               FROM documents),
    c AS (SELECT shard, doc_id, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tokens AS cb
          FROM t)
    SELECT shard, CAST(FLOOR(cb / 512) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY shard, bin_id
    """,
)
def pack_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing into 512-token bins per
    doc_id%8 shard (window cumsum; one shuffle on the shard key). The
    exact next-fit variant (hard budget cap) is pack_bins_nextfit,
    pytest-verified — the recurrence is not SQL-expressible."""
    from .functions.text import tokens
    from .operators.curation import pack_bins_contiguous

    d = _tbl(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    return pack_bins_contiguous(
        t, F.col("doc_id") % 8, "doc_id", "n_tokens", budget=512
    )


# Cross-table time consistency with the reference's year-alignment rule
# (consistency.py:6-58): the "right" table is a deterministic derivation
# of orders with a scrambled year (1990 + k%7) and a +/-5-minute drift —
# the year scramble must become invisible after alignment, leaving only
# the minute drift. Day-of-month is restricted to [2, 27] so the drift
# never crosses a month boundary (where a Feb-29 rebuild is
# engine-divergent: Spark NULL vs DuckDB error — the operator's NULL
# path is pytest-covered instead).
@_q(
    "time_consistency_violations",
    """
    WITH l AS (SELECT o_orderkey, o_orderdate FROM orders
               WHERE day(o_orderdate) BETWEEN 2 AND 27),
    r AS (SELECT o_orderkey AS rk,
                 make_timestamp(CAST(1990 + o_orderkey % 7 AS BIGINT),
                                CAST(month(o_orderdate) AS BIGINT),
                                CAST(day(o_orderdate) AS BIGINT),
                                CAST(hour(o_orderdate) AS BIGINT),
                                CAST(minute(o_orderdate) AS BIGINT),
                                CAST(second(o_orderdate) AS DOUBLE))
                 + (o_orderkey % 11 - 5) * INTERVAL 1 MINUTE AS remote_ts
          FROM orders WHERE day(o_orderdate) BETWEEN 2 AND 27),
    j AS (SELECT l.o_orderkey, l.o_orderdate, r.remote_ts,
                 make_timestamp(CAST(year(l.o_orderdate) AS BIGINT),
                                CAST(month(r.remote_ts) AS BIGINT),
                                CAST(day(r.remote_ts) AS BIGINT),
                                CAST(hour(r.remote_ts) AS BIGINT),
                                CAST(minute(r.remote_ts) AS BIGINT),
                                CAST(second(r.remote_ts) AS DOUBLE)) AS aligned
          FROM l JOIN r ON r.rk = l.o_orderkey)
    SELECT o_orderkey,
           CAST(ABS(epoch(o_orderdate) - epoch(aligned)) AS BIGINT) AS time_diff_sec
    FROM j
    WHERE ABS(epoch(o_orderdate) - epoch(aligned)) > 180
    """,
)
def time_consistency_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recon import time_consistency_check

    o = _tbl(spark, sf_dir, "orders").where(
        F.dayofmonth("o_orderdate").between(2, 27)
    )
    k = F.col("o_orderkey")
    d = F.col("o_orderdate")
    remote = o.select(
        k.alias("rk"),
        (
            F.make_timestamp(
                (F.lit(1990) + k % 7).cast("long"),
                F.month(d).cast("long"),
                F.dayofmonth(d).cast("long"),
                F.hour(d).cast("long"),
                F.minute(d).cast("long"),
                F.second(d).cast("double"),
            )
            + F.expr("make_interval(0, 0, 0, 0, 0, o_orderkey % 11 - 5, 0)")
        ).alias("remote_ts"),
    )
    joined = o.select("o_orderkey", "o_orderdate").join(
        remote, o["o_orderkey"] == remote["rk"]
    )
    checked = time_consistency_check(joined, "o_orderdate", "remote_ts", 180)
    return checked.where("is_violation").select("o_orderkey", "time_diff_sec")


# Incremental-scan planning (plans/incremental.py): watermark 20h behind
# the observed max, catch-up clamped to 8h, affected keys exclude
# settled statuses (event_id % 5 stands in for sync_status). The planner
# scalars are driver-side by design (two values); the key scan is the
# distributed part.
@_q(
    "incremental_affected_keys",
    """
    WITH s AS (SELECT MAX(ts) AS mx FROM events),
    w AS (SELECT mx - INTERVAL 20 HOUR AS ws,
                 mx - INTERVAL 20 HOUR + INTERVAL 8 HOUR AS we FROM s)
    SELECT DISTINCT user_id FROM events, w
    WHERE ts > w.ws AND ts <= w.we
      AND (event_id % 5) NOT IN (1, 3, 4)
    """,
)
def incremental_affected_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import timedelta

    from .plans.incremental import affected_keys, plan_scan_window

    ev = _tbl(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts")).collect()[0][0]
    win = plan_scan_window(mx - timedelta(hours=20), mx, batch_limit_hours=8)
    assert win.action == "process" and win.clamped
    return affected_keys(
        ev.withColumn("sync_status", F.col("event_id") % 5),
        "user_id",
        "ts",
        win,
        status_col="sync_status",
        settled=(1, 3, 4),
    )


# Declarative raw->entity adapter (operators/adapter.py): joins +
# sandboxed field mapping through the reference's config shape
# (adapter.py:30-233), exercised end-to-end against a plain-SQL twin.
@_q(
    "adapter_entity_mapping",
    """
    SELECT o.o_orderkey AS order_id,
           o.o_custkey AS customer_id,
           c.c_mktsegment AS segment,
           CAST(o.o_totalprice * 1.1 AS DOUBLE) AS gross_price,
           o.o_orderpriority = '1-URGENT' AS is_urgent,
           upper(c.c_name) AS customer_name
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def adapter_entity_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.adapter import adapt_entity

    config = {
        "target_entity": "OrderEntity",
        "output_key": "entity_orders",
        "input_schema": {
            "primary_source": "raw_orders",
            "joins": [
                {
                    "join_source": "raw_customer",
                    "type": "left",
                    "left_on": "o_custkey",
                    "right_on": "c_custkey",
                    "suffix": "_c",
                }
            ],
        },
        "fields": [
            {"target": "order_id", "source_expr": "col('o_orderkey')"},
            {"target": "customer_id", "source_expr": "col('o_custkey')"},
            {"target": "segment", "source_expr": "col('c_mktsegment')"},
            {
                "target": "gross_price",
                "source_expr": "(col('o_totalprice') * lit(1.1)).cast('double')",
            },
            {
                "target": "is_urgent",
                "source_expr": "col('o_orderpriority') == lit('1-URGENT')",
            },
            {"target": "customer_name", "source_expr": "upper(col('c_name'))"},
        ],
    }
    sources = {
        "raw_orders": _tbl(spark, sf_dir, "orders"),
        "raw_customer": _tbl(spark, sf_dir, "customer"),
    }
    return adapt_entity(config, sources)


# Post-reconciliation quality report (operators/recon_metrics.py,
# reference metrics.py:13-160). The matched frame is derived
# deterministically from lineitem: per order, the odd/even line halves
# contribute the two value sets, l_orderkey % 900 is the time diff and
# l_orderkey % 5 the matched_status.
_RECON_CLASSIFIED_SQL = """
    WITH g AS (
      SELECT l_orderkey,
             coalesce(list(DISTINCT l_returnflag) FILTER (l_linenumber % 2 = 1), []) AS set_a,
             coalesce(list(DISTINCT l_returnflag) FILTER (l_linenumber % 2 = 0), []) AS set_b
      FROM lineitem GROUP BY l_orderkey),
    m AS (SELECT l_orderkey,
                 CAST(l_orderkey % 900 AS DOUBLE) AS time_diff_sec,
                 CAST(l_orderkey % 5 AS INT) AS matched_status,
                 CASE WHEN len(set_a) = 0 THEN 'NULL_LEFT'
                      WHEN len(set_b) = 0 THEN 'NULL_RIGHT'
                      WHEN len(list_intersect(set_a, set_b)) > 0 THEN 'MATCH'
                      ELSE 'MISMATCH' END AS set_status
          FROM g),
    c AS (SELECT *,
                 set_status = 'MATCH' AND time_diff_sec <= 300 AS is_perfect
          FROM m)
"""


def _recon_classified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recon_metrics import classify

    li = _tbl(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.collect_set(
            F.when(F.col("l_linenumber") % 2 == 1, F.col("l_returnflag"))
        ).alias("set_a"),
        F.collect_set(
            F.when(F.col("l_linenumber") % 2 == 0, F.col("l_returnflag"))
        ).alias("set_b"),
    )
    m = g.select(
        "l_orderkey",
        "set_a",
        "set_b",
        (F.col("l_orderkey") % 900).cast("double").alias("time_diff_sec"),
        (F.col("l_orderkey") % 5).cast("int").alias("matched_status"),
    )
    return classify(m, "set_a", "set_b", "time_diff_sec")


@_q(
    "recon_error_details",
    _RECON_CLASSIFIED_SQL
    + """
    SELECT l_orderkey,
           concat_ws(', ',
             CASE WHEN set_status <> 'MATCH' THEN 'Cntr ' || set_status END,
             CASE WHEN time_diff_sec > 300
                  THEN 'TimeDiff ' || CAST(CAST(time_diff_sec AS BIGINT) AS VARCHAR) || 's' END
           ) AS issue,
           time_diff_sec
    FROM c WHERE NOT is_perfect AND matched_status <> 2
    ORDER BY time_diff_sec DESC, l_orderkey
    LIMIT 20
    """,
)
def recon_error_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recon_metrics import error_details

    c = _recon_classified(spark, sf_dir)
    return error_details(c, "l_orderkey", "time_diff_sec", "matched_status")


@_q(
    "recon_quality_summary",
    _RECON_CLASSIFIED_SQL
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS total_count,
           CAST(SUM(CAST(is_perfect AS BIGINT)) AS BIGINT) AS perfect_count,
           ROUND(AVG(CASE WHEN matched_status IN (1, 4) THEN time_diff_sec END), 2)
             AS avg_time_diff_sec
    FROM c
    """,
)
def recon_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recon_metrics import quality_summary

    c = _recon_classified(spark, sf_dir)
    return quality_summary(c, "time_diff_sec", "matched_status")


@_q(
    "recon_status_distribution",
    _RECON_CLASSIFIED_SQL
    + """
    SELECT set_status, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY set_status
    """,
)
def recon_status_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recon_metrics import status_distribution

    return status_distribution(_recon_classified(spark, sf_dir))


# Multimodal frame-sampling plan (operators/multimodal.frame_sample_plan)
# over a deterministic media derivation of documents: every 3rd doc is a
# "video" with duration (doc_id%10)*1000+500 ms. Verifies the JVM-side
# explode-on-sequence plumbing (one row per planned frame, sub-second
# videos still get frame 0) against a generate_series twin.
@_q(
    "media_frame_sample",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             'conv_' || CAST(doc_id % 97 AS VARCHAR) AS conv_id,
             CAST((doc_id % 10) * 1000 + 500 AS INT) AS duration_ms
      FROM documents WHERE doc_id % 3 = 0)
    SELECT media_id, conv_id, CAST(f AS INT) AS frame_idx,
           CAST(f * 1000 AS INT) AS frame_ms
    FROM m, unnest(generate_series(0,
           greatest(CAST(floor(duration_ms / 1000) AS INT) - 1, 0))) AS t(f)
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import frame_sample_plan

    d = _tbl(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("conv_"), (F.col("doc_id") % 97).cast("string")).alias(
            "conv_id"
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("video"))
        .otherwise(F.lit("image"))
        .alias("kind"),
        ((F.col("doc_id") % 10) * 1000 + 500).cast("int").alias("duration_ms"),
    )
    return frame_sample_plan(media, every_ms=1000)


# Distribution drift between two batches (operators/drift.py): events
# split deterministically into expected (even event_id) vs actual (odd),
# bucketed by event_type x value-band. ln/proportion arithmetic is
# rounded at 6 dp on both engines.
_DRIFT_BUCKET_SQL = "event_type || '#' || CAST(CAST(floor(value / 250) AS BIGINT) AS VARCHAR)"


@_q(
    "drift_psi_report",
    f"""
    WITH e AS (
      SELECT {_DRIFT_BUCKET_SQL} AS bucket,
             COUNT(*) / (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0) AS p
      FROM events WHERE event_id % 2 = 0 GROUP BY 1),
    a AS (
      SELECT {_DRIFT_BUCKET_SQL} AS bucket,
             COUNT(*) / (SELECT COUNT(*) FROM events WHERE event_id % 2 = 1) AS p
      FROM events WHERE event_id % 2 = 1 GROUP BY 1),
    j AS (
      SELECT coalesce(e.bucket, a.bucket) AS bucket,
             greatest(coalesce(e.p, 0), 0.000001) AS pe,
             greatest(coalesce(a.p, 0), 0.000001) AS pa
      FROM e FULL OUTER JOIN a ON a.bucket = e.bucket)
    SELECT bucket, ROUND(pe, 6) AS p_expected, ROUND(pa, 6) AS p_actual,
           ROUND((pa - pe) * ln(pa / pe), 6) AS psi_term
    FROM j
    """,
)
def drift_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.drift import psi_report

    ev = _tbl(spark, sf_dir, "events")
    bucket = F.concat_ws(
        "#",
        F.col("event_type"),
        F.floor(F.col("value") / 250).cast("long").cast("string"),
    )
    expected = ev.where(F.col("event_id") % 2 == 0)
    actual = ev.where(F.col("event_id") % 2 == 1)
    return psi_report(expected, actual, bucket)


# Incremental (recrawl) dedup: the doc_id%10==0 slice plays the "new
# batch", probed against the rest of the corpus through the same
# DF-capped MinHash-LSH machinery — only new-vs-corpus pairs are ever
# generated or verified.
@_q(
    "dedup_incremental_lsh",
    _jaccard_lsh_sql(pair_pred="a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0"),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import incremental_lsh_pairs, token_sets

    toks = token_sets(_tbl(spark, sf_dir, "documents"), df_cap_inv=5)
    new = toks.where(F.col("doc_id") % 10 == 0)
    corpus = toks.where(F.col("doc_id") % 10 != 0)
    return incremental_lsh_pairs(new, corpus, threshold=0.8)


# Boilerplate mining: the most frequent 3-token shingles corpus-wide are
# boilerplate candidates (the corpus-level companion of the per-doc
# boilerplate regex in functions/text.py). One shingle explode + one
# hash agg + top-k; deterministic tiebreak on the shingle itself.
@_q(
    "boilerplate_ngrams",
    f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS tok FROM tt)
    SELECT tok AS shingle,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM sh GROUP BY tok
    ORDER BY n_occurrences DESC, shingle
    LIMIT 25
    """,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import ngram_explode, tokens

    d = _tbl(spark, sf_dir, "documents")
    # occurrence counts here, so no distinct — unlike shingle_sets
    sh = ngram_explode(
        d, ["doc_id"], tokens(F.col("text")), 3, gram_col="shingle"
    )
    return (
        sh.groupBy("shingle")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "shingle")
        .limit(25)
    )


# Context-window assembly (the SFT-example shape): for each event, the
# ordered list of up to 3 preceding event_types in the same user stream —
# a bounded-preceding window aggregation under the stable ordering
# contract (O4). At scale this is the same single conv/user shuffle the
# flagship pipeline makes.
@_q(
    "context_window_assembly",
    """
    SELECT event_id,
           user_id,
           coalesce(list_aggregate(ctx, 'string_agg', ' > '), '') AS context
    FROM (
      SELECT event_id, user_id,
             list(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS ctx
      FROM events)
    """,
)
def context_window_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _tbl(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, -1)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.concat_ws(" > ", F.collect_list("event_type").over(w)).alias("context"),
    )


# Cross-source key canonicalization (functions/keys.py): dirty key
# variants ('AT7' / 'x-7-y' / '7') expand to sorted canonical
# zero-padded forms; pure narrow column work.
@_q(
    "key_variant_matching",
    """
    WITH k AS (SELECT DISTINCT CASE CAST(c_custkey % 3 AS INT)
        WHEN 0 THEN 'AT' || CAST(c_custkey % 120 AS VARCHAR)
        WHEN 1 THEN 'x-' || CAST(c_custkey % 120 AS VARCHAR) || '-y'
        ELSE CAST(c_custkey % 120 AS VARCHAR) END AS dirty_key FROM customer),
    v AS (SELECT dirty_key,
                 regexp_replace(upper(trim(dirty_key)), '[^0-9]', '', 'g') AS d
          FROM k)
    SELECT dirty_key,
           list_aggregate(list_sort(list_distinct([
             'AT' || CASE WHEN length(d) >= 2 THEN d ELSE lpad(d, 2, '0') END,
             'AT' || CASE WHEN length(d) >= 3 THEN d ELSE lpad(d, 3, '0') END
           ])), 'string_agg', ',') AS variants
    FROM v
    """,
)
def key_variant_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.keys import canonical_key_variants

    c = _tbl(spark, sf_dir, "customer")
    d = (F.col("c_custkey") % 120).cast("string")
    dirty = (
        F.when((F.col("c_custkey") % 3) == 0, F.concat(F.lit("AT"), d))
        .when((F.col("c_custkey") % 3) == 1, F.concat(F.lit("x-"), d, F.lit("-y")))
        .otherwise(d)
    )
    return (
        c.select(dirty.alias("dirty_key"))
        .distinct()
        .select(
            "dirty_key",
            F.array_join(
                canonical_key_variants(F.col("dirty_key")), ","
            ).alias("variants"),
        )
    )


# End-to-end curation funnel over the documents corpus: dedup ->
# quality filter -> decontamination -> stratified sample, reporting
# survivors per stage (the corpus-prep counterpart of the transcript
# pipeline's drop-reason accounting). Quality threshold compares the
# 6dp-rounded score both engines already agree on bit-exactly
# (doc_quality_score), so the boundary is engine-stable. Two variants
# share every stage except dedup (stage 1): exact-hash keep-min
# (curation_funnel) vs near-dup cluster representatives
# (curation_funnel_clustered) — the shared SQL/Spark pieces live in the
# helpers below so the quality formula, decontamination join and
# sampling strata exist ONCE per engine.


def _quality_q_sql() -> str:
    """The funnel's 6dp quality score as an inline SQL expression over a
    relation exposing ``text`` (same arithmetic as doc_quality_score)."""
    stop = "|".join(MARKERS["en"])
    return f"""ROUND(0.4 * LEAST(1.0, len({_TOKENS}) / 50.0)
                   + 0.3 * (1.0 - CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\r]', '', 'g')) / length(text)
                       ELSE 0.0 END)
                   + 0.3 * CASE WHEN len({_TOKENS}) > 0
                       THEN LEAST(1.0, 5.0 * len(regexp_extract_all(lower(text), '\\b(?:{stop})\\b')) / len({_TOKENS}))
                       ELSE 0.0 END, 6)"""


def _quality_q_col():
    """Spark twin of ``_quality_q_sql`` (column over ``text``)."""
    from .functions.text import tokens

    nt = F.size(tokens(F.col("text")))
    nc = F.length("text")
    # translate == the oracle's char-class delete on this pure-ASCII set
    # (see functions.text.symbol_ratio) — no regex engine on the hot path
    from .functions.text import _ALNUM_WS

    nsym = F.length(F.translate(F.col("text"), _ALNUM_WS, ""))
    nstop = F.regexp_count(
        F.lower(F.col("text")), F.lit("\\b(?:" + "|".join(MARKERS["en"]) + ")\\b")
    )
    return F.round(
        0.4 * F.least(F.lit(1.0), nt / F.lit(50.0))
        + 0.3 * (F.lit(1.0) - F.when(nc > 0, nsym / nc).otherwise(F.lit(0.0)))
        + 0.3
        * F.when(nt > 0, F.least(F.lit(1.0), F.lit(5.0) * nstop / nt)).otherwise(
            F.lit(0.0)
        ),
        6,
    )


def _funnel_tail_sql(stage1_label: str) -> str:
    """Funnel stages 2-4 + the stage/count output, shared by both funnel
    variants: expects CTEs ``corpus`` (doc_id, text, lang) and ``d1``
    (stage-1 survivors with a 6dp ``q`` score column) upstream."""
    return f"""
    d2 AS (SELECT doc_id, text, lang FROM d1 WHERE q >= 0.5),
    tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, tok
           FROM (SELECT doc_id, unnest({_SHINGLES}) AS tok FROM tt) u),
    bench AS (SELECT DISTINCT tok FROM sh WHERE doc_id % 50 = 0),
    dirty AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (tok)),
    d3 AS (SELECT d2.* FROM d2 LEFT JOIN dirty ON dirty.doc_id = d2.doc_id
           WHERE dirty.doc_id IS NULL),
    d4 AS (SELECT * FROM d3
           WHERE {_SAMPLE_BUCKET} <
             CASE WHEN lang = 'en' THEN {_THR_EN} WHEN lang = 'de' THEN {_THR_DE}
                  ELSE {_THR_DEFAULT} END)
    SELECT stage, n FROM (
      SELECT '0_corpus' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM corpus
      UNION ALL SELECT '{stage1_label}', CAST(COUNT(*) AS BIGINT) FROM d1
      UNION ALL SELECT '2_quality', CAST(COUNT(*) AS BIGINT) FROM d2
      UNION ALL SELECT '3_decontaminated', CAST(COUNT(*) AS BIGINT) FROM d3
      UNION ALL SELECT '4_sampled', CAST(COUNT(*) AS BIGINT) FROM d4)
    """


def _funnel_flags_spark(spark, sf_dir: str, scored_with_f1, stage1_label: str):
    """Funnel stages 2-4 + stacked stage counts, shared by both funnel
    variants: takes the corpus frame with columns (doc_id, lang, q, f1)
    and composes quality / decontamination / stratified-sample flags on
    the SAME frame, so the corpus scan and shingle join run once."""
    from .operators.curation import decontaminate, sample_flag
    from .operators.dedup import shingle_sets

    d = _tbl(spark, sf_dir, "documents")
    sh = shingle_sets(d, n=3)
    bench = sh.where(F.col("doc_id") % 50 == 0)
    dirty = (
        decontaminate(sh.where(F.col("doc_id") % 50 != 0), bench)
        .select("doc_id")
        .withColumn("__dirty", F.lit(True))
    )

    flags = (
        scored_with_f1.withColumn("f2", F.col("f1") & (F.col("q") >= 0.5))
        .join(dirty, "doc_id", "left")
        .withColumn("f3", F.col("f2") & F.col("__dirty").isNull())
        .withColumn(
            "f4",
            F.col("f3")
            & sample_flag(
                "doc_id", rate=0.5, salt="s0",
                strata_rates={"en": 0.2, "de": 0.8}, strata_col="lang",
            ),
        )
    )
    agg = flags.agg(
        F.count("*").alias("c0"),
        # coalesce: SUM over zero rows is null, but the SQL twin's
        # per-stage COUNT(*) yields 0 on an empty corpus
        *[F.coalesce(F.sum(F.col(f).cast("long")), F.lit(0)).alias(f"c{i}")
          for i, f in enumerate(["f1", "f2", "f3", "f4"], start=1)],
    )
    return agg.select(
        F.expr(
            f"stack(5, '0_corpus', c0, '{stage1_label}', c1, '2_quality', c2, "
            "'3_decontaminated', c3, '4_sampled', c4) AS (stage, n)"
        )
    )


def _funnel_sql() -> str:
    return f"""
    WITH corpus AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 <> 0),
    d1 AS (SELECT doc_id, text, lang, {_quality_q_sql()} AS q FROM (
             SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
             FROM corpus) WHERE doc_id = keeper),
    {_funnel_tail_sql("1_exact_dedup")}
    """


@_q("curation_funnel", _funnel_sql())
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass funnel: each stage is a boolean survivorship flag on
    one frame, so the corpus scan / dedup window / shingle join run
    exactly ONCE and one aggregation yields every stage count (a 5-way
    count union would re-derive the whole lineage per stage)."""
    from pyspark.sql import Window as W

    d = _tbl(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 50 != 0).select("doc_id", "text", "lang")
    keeper = F.min("doc_id").over(W.partitionBy(F.md5(F.col("text").cast("binary"))))
    scored = corpus.withColumn("q", _quality_q_col()).withColumn(
        "f1", F.col("doc_id") == keeper
    )
    return _funnel_flags_spark(spark, sf_dir, scored, "1_exact_dedup")


# Funnel with CLUSTER-based near-dup dedup: stage 1 keeps each near-dup
# cluster's QUALITY-RANKED representative (duplicate_clusters over the
# LSH pairs + pick_representatives) instead of exact-hash keep-min — the
# policy real corpus prep runs (drop the worse copies, not the later
# ones). Pairs come from the same DF-capped MinHash-LSH route (computed
# over ALL documents so both engines share one cap population, then
# restricted to corpus-corpus pairs); singleton docs survive stage 1 by
# the all_docs contract. Oracle: recursive-CTE reachability for the
# clusters + window argmax for representatives.
def _funnel_clustered_sql() -> str:
    return f"""
    WITH RECURSIVE pairs0 AS ({_jaccard_lsh_sql()}),
    cpairs AS (SELECT doc_a, doc_b FROM pairs0
               WHERE doc_a % 50 <> 0 AND doc_b % 50 <> 0),
    {_components_sql("cpairs")},
    corpus AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 <> 0),
    scored AS (SELECT doc_id, text, lang, {_quality_q_sql()} AS q FROM corpus),
    clustered AS (
      SELECT s.*, coalesce(l.cluster_id, s.doc_id) AS cluster_id
      FROM scored s LEFT JOIN lbl l USING (doc_id)),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
      FROM clustered),
    d1 AS (SELECT doc_id, text, lang, q FROM ranked WHERE rn = 1),
    {_funnel_tail_sql("1_cluster_dedup")}
    """


@_q("curation_funnel_clustered", _funnel_clustered_sql())
def curation_funnel_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered funnel, single corpus scan per stage family: near-dup
    clusters collapse to their best-quality representative (transitive
    A~B~C keeps ONE doc, argmax q), then quality / decontamination /
    stratified sampling flags ride the same frame. The LSH pair route
    and the shingle join each run once.

    CC runs the large-star/small-star form (O(log n) rounds): the
    min-label walk's O(diameter) cap would RAISE on a duplicate chain
    longer than 20 links, and a funnel must not fail on pathological
    chain shapes — same output contract, so the oracle is unchanged."""
    from .operators.dedup import (
        duplicate_clusters_star,
        jaccard_pairs_lsh,
        pick_representatives,
    )

    d = _tbl(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 50 != 0).select("doc_id", "text", "lang")
    scored = corpus.withColumn("q", _quality_q_col())

    pairs = jaccard_pairs_lsh(d, threshold=0.8, df_cap_inv=5).filter(
        (F.col("doc_a") % 50 != 0) & (F.col("doc_b") % 50 != 0)
    )
    reps = pick_representatives(
        duplicate_clusters_star(pairs, all_docs=corpus),
        scored.select("doc_id", F.col("q").alias("score")),
        score_col="score",
    )
    scored_f1 = scored.join(
        reps.select("doc_id", F.col("keep").alias("f1")), "doc_id", "left"
    ).withColumn("f1", F.coalesce("f1", F.lit(False)))
    return _funnel_flags_spark(spark, sf_dir, scored_f1, "1_cluster_dedup")


# Gopher-style repetition quality signals (Rae et al., published
# heuristics adapted to the token-soup corpus: duplicate-token fraction
# and top-bigram/top-trigram occupancy — high values mark degenerate /
# boilerplate text the quality filter should drop). One explode + hash
# agg per n-gram width, joined on doc_id; everything JVM-side.
@_q(
    "doc_repetition_signals",
    f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    base AS (SELECT doc_id, len(tk) AS nt,
                    len(list_distinct(tk)) AS nd FROM tt),
    bi AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS tot_c FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
          FROM tt, unnest(range(1, len(tk))) AS u(i)) GROUP BY doc_id, g)
      GROUP BY doc_id),
    tri AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS tot_c FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
          FROM tt, unnest(range(1, len(tk) - 1)) AS u(i)) GROUP BY doc_id, g)
      GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.nt AS BIGINT) AS n_tokens,
           ROUND(CASE WHEN b.nt > 0 THEN 1.0 - nd / CAST(b.nt AS DOUBLE) ELSE 0.0 END, 6)
             AS dup_token_frac,
           ROUND(coalesce(bi.top_c / CAST(bi.tot_c AS DOUBLE), 0.0), 6) AS top_bigram_frac,
           ROUND(coalesce(tri.top_c / CAST(tri.tot_c AS DOUBLE), 0.0), 6) AS top_trigram_frac
    FROM base b LEFT JOIN bi USING (doc_id) LEFT JOIN tri USING (doc_id)
    """,
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import ngram_explode, tokens

    d = _tbl(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    base = d.select(
        "doc_id",
        F.size(tk).alias("nt"),
        F.size(F.array_distinct(tk)).alias("nd"),
    )

    def top_frac(n: int, alias: str) -> DataFrame:
        per_gram = (
            ngram_explode(d, ["doc_id"], tk, n)
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
        )
        return per_gram.groupBy("doc_id").agg(
            F.round(
                F.max("c") / F.sum("c").cast("double"), 6
            ).alias(alias)
        )

    bi = top_frac(2, "top_bigram_frac")
    tri = top_frac(3, "top_trigram_frac")
    dup = F.when(
        F.col("nt") > 0, F.lit(1.0) - F.col("nd") / F.col("nt").cast("double")
    ).otherwise(F.lit(0.0))
    return (
        base.join(bi, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .select(
            "doc_id",
            F.col("nt").cast("long").alias("n_tokens"),
            F.round(dup, 6).alias("dup_token_frac"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            F.coalesce("top_trigram_frac", F.lit(0.0)).alias("top_trigram_frac"),
        )
    )


# int8 scalar-quantized embedding search: per-vector symmetric scale
# (max|x| / 127), floor(x/scale + 0.5) codes — floor keeps both engines
# bit-agreeing where ROUND's half-rule could differ. The integer dot /
# norms are EXACT in both engines; only the final normalize touches
# floats. 4x smaller vector storage at 100 TB embedding scale; PQ/ADC is
# the named next step past scalar quantization.
_Q8_SCALE_DUCK = "list_max(list_transform({t}.embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0"


def _q8_duck(t: str) -> str:
    return (
        f"list_transform({t}.embedding, x -> CAST(floor(CAST(x AS DOUBLE) / "
        f"nullif({_Q8_SCALE_DUCK.format(t=t)}, 0) + 0.5) AS BIGINT))"
    )


@_q(
    "embedding_int8_topk",
    f"""
    WITH q8 AS (
      SELECT e.vec_id, {_q8_duck('e')} AS qv
      FROM embeddings e),
    nrm AS (
      SELECT vec_id, qv,
             list_reduce(list_transform(qv, x -> x * x), (a, b) -> a + b) AS n2
      FROM q8),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             list_reduce(list_transform(range(1, 65), i -> q.qv[i] * c.qv[i]),
                         (a, b) -> a + b)
               / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS qcos
      FROM nrm q JOIN nrm c
        ON q.vec_id < 10 AND c.vec_id <> q.vec_id
       AND q.n2 > 0 AND c.n2 > 0),
    ranked AS (
      SELECT query_id, cand_id, qcos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, cand_id) AS rnk
      FROM pairs)
    SELECT query_id, CAST(rnk AS INT) AS rnk, cand_id, ROUND(qcos, 6) AS qcos
    FROM ranked WHERE rnk <= 3
    """,
)
def embedding_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = _tbl(spark, sf_dir, "embeddings")
    # DELIBERATELY kept as higher-order lambdas, unlike the dot/bucket
    # paths: scale/qv/n2 are chained DERIVED columns (__scale feeds qv
    # feeds n2), and an element-unrolled form references each derived
    # column 64 times — CollapseProject then inlines the 64-term parent
    # expression into every reference, a multiplicative expression-tree
    # blowup that stalls Catalyst for minutes (measured: planning never
    # finished at sf0.01). The lambda forms reference each parent exactly
    # once. The pair volume here is modest (10 query rows broadcast), so
    # the interpreted fold is not a measured bottleneck.
    scale = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    ) / F.lit(127.0)
    qv = F.transform(
        "embedding",
        lambda x: F.floor(
            x.cast("double") / F.nullif(F.col("__scale"), F.lit(0.0)) + F.lit(0.5)
        ).cast("long"),
    )
    n2 = F.aggregate(
        F.transform("qv", lambda x: x * x), F.lit(0).cast("long"), lambda a, b: a + b
    )
    q8 = (
        e.withColumn("__scale", scale)
        .withColumn("qv", qv)
        .withColumn("n2", n2)
        .filter(F.col("n2") > 0)
        .select("vec_id", "qv", "n2")
    )
    q = q8.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa"),
        F.col("n2").alias("na"),
    )
    c = q8.select(
        F.col("vec_id").alias("cand_id"), F.col("qv").alias("qb"),
        F.col("n2").alias("nb"),
    )
    idot = F.aggregate(
        F.zip_with("qa", "qb", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    qcos = idot / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("qcos").desc(), F.col("cand_id"))
    # query side broadcasts (tiny); candidate side streams
    return (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .withColumn("qcos", qcos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id", F.col("rnk").cast("int").alias("rnk"), "cand_id",
            F.round("qcos", 6).alias("qcos"),
        )
    )


# Temperature-based language sampling (the published multilingual
# up/down-sampling scheme: per-language mass p_l^alpha renormalized,
# mC4 / XLM-R style). alpha = 0.5 deliberately: sqrt is correctly
# rounded IEEE in BOTH engines, so every double here is bit-identical
# cross-engine (pow() implementations can differ in the last ulp).
# Inclusion is the same md5 hash gate the stratified sampler uses —
# deterministic, resume-stable, map-side.
_LT_TARGET = 300  # target sampled docs at any corpus size (rate caps at 1)


@_q(
    "language_temperature_sample",
    f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents
                    WHERE lang IS NOT NULL GROUP BY lang),
    mass AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS m FROM counts),
    tot AS (SELECT list_reduce(list(m ORDER BY lang), (a, b) -> a + b) AS tm
            FROM mass),
    rates AS (
      SELECT lang, n,
             LEAST(1.0, (m / (SELECT tm FROM tot)) * {_LT_TARGET} / n) AS rate
      FROM mass),
    gated AS (
      SELECT d.lang,
             CAST('0x' || substr(md5('lt0' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               < floor(r.rate * 4294967296.0) AS hit
      FROM documents d JOIN rates r USING (lang))
    SELECT r.lang, CAST(r.n AS BIGINT) AS n_docs, ROUND(r.rate, 6) AS sample_rate,
           CAST((SELECT COUNT(*) FROM gated g WHERE g.lang = r.lang AND g.hit) AS BIGINT)
             AS n_sampled
    FROM rates r
    """,
)
def language_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import _hash_bucket

    # NULL lang is excluded up front on BOTH engines: inner equi-joins
    # below never match NULL keys, while a SQL correlated subquery would
    # still emit the rates row — the filter makes the contract explicit.
    d = _tbl(spark, sf_dir, "documents").where(F.col("lang").isNotNull())
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    mass = counts.withColumn("m", F.sqrt(F.col("n").cast("double")))
    # Total mass folded in LANG ORDER, not SUM: floor(rate * 2^32) below
    # is discontinuous, so the total must be bit-identical cross-engine —
    # an aggregate SUM's addition order is partition-dependent. Both
    # engines left-fold the same lang-sorted double list (Spark's 0.0
    # init is IEEE-exact: 0.0 + m == m), so every double here really is
    # bit-identical. The language frame is a handful of rows; the fold
    # and broadcast cost nothing.
    tot = mass.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "m"))),
            F.lit(0.0),
            lambda a, x: a + x["m"],
        ).alias("__tm")
    )
    rates = mass.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        F.least(
            F.lit(1.0), (F.col("m") / F.col("__tm")) * F.lit(_LT_TARGET) / F.col("n")
        ).alias("rate"),
    )
    bucket = _hash_bucket(F.col("doc_id"), "lt0")
    gated = (
        d.join(F.broadcast(rates), "lang")
        .select(
            "lang",
            (bucket < F.floor(F.col("rate") * F.lit(4294967296.0))).alias("hit"),
        )
        .groupBy("lang")
        .agg(F.sum(F.col("hit").cast("long")).alias("n_sampled"))
    )
    return rates.join(gated, "lang").select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.round("rate", 6).alias("sample_rate"),
        F.col("n_sampled").cast("long").alias("n_sampled"),
    )


# Per-doc contamination SCORE (the graded companion of the binary
# decontaminate drop): fraction of a doc's distinct shingles found in
# the benchmark shingle set — thresholdable downstream, and the overlap
# join only carries benchmark-matching shingles (broadcast-sized).
@_q(
    "decontam_overlap_frac",
    f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, tok
           FROM (SELECT doc_id, unnest({_SHINGLES}) AS tok FROM tt) u),
    bench AS (SELECT DISTINCT tok FROM sh WHERE doc_id % 50 = 0),
    corpus AS (SELECT doc_id, tok FROM sh WHERE doc_id % 50 <> 0),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpus GROUP BY doc_id),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_hit
      FROM corpus c JOIN bench b USING (tok) GROUP BY c.doc_id)
    SELECT p.doc_id, CAST(p.n_sh AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
           ROUND(coalesce(h.n_hit, 0) / CAST(p.n_sh AS DOUBLE), 6) AS overlap_frac
    FROM per_doc p LEFT JOIN hits h USING (doc_id)
    """,
)
def decontam_overlap_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import decontaminate
    from .operators.dedup import shingle_sets

    d = _tbl(spark, sf_dir, "documents")
    sh = shingle_sets(d, n=3)
    bench = sh.where(F.col("doc_id") % 50 == 0)
    corpus = sh.where(F.col("doc_id") % 50 != 0)
    per_doc = corpus.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # the canonical broadcast-bench overlap join lives in the operator;
    # this query only grades its count into a fraction
    hits = decontaminate(corpus, bench).select(
        "doc_id", F.col("n_contaminated").alias("n_hit")
    )
    return per_doc.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_sh").cast("long").alias("n_shingles"),
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_contaminated"),
        F.round(
            F.coalesce("n_hit", F.lit(0)) / F.col("n_sh").cast("double"), 6
        ).alias("overlap_frac"),
    )


# Tokenizer fertility by language: chars-per-BPE-token and
# tokens-per-doc per lang — the standard multilingual tokenizer
# diagnostic (a language whose fertility spikes is being shredded into
# bytes and will eat the token budget). Rides the same lookahead-free
# BPE pre-tokenizer regex as doc_bpe_token_counts; one scan, one agg.
@_q(
    "tokenizer_fertility_by_lang",
    f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_SQL}'))) AS BIGINT) AS total_tokens,
           ROUND(SUM(length(text)) / CAST(SUM(len(regexp_extract_all(text, '{_BPE_SQL}'))) AS DOUBLE), 6)
             AS chars_per_token,
           ROUND(SUM(len(regexp_extract_all(text, '{_BPE_SQL}'))) / CAST(COUNT(*) AS DOUBLE), 6)
             AS tokens_per_doc
    FROM documents GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tbl(spark, sf_dir, "documents")
    ntok = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0)))
    return (
        d.select("lang", ntok.alias("__nt"), F.length("text").alias("__nc"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__nt").cast("long").alias("total_tokens"),
            F.round(F.sum("__nc") / F.sum("__nt").cast("double"), 6).alias(
                "chars_per_token"
            ),
            F.round(F.sum("__nt") / F.count("*").cast("double"), 6).alias(
                "tokens_per_doc"
            ),
        )
    )


# Turn-level dedup across conversations (the RefinedWeb/CCNet line-dedup
# idea at transcript granularity): a turn whose exact text appears in >= 2
# distinct conversations is template/greeting boilerplate, not content.
# Exact-match route, so the join key is md5(text) — the shuffle carries
# 16-byte hashes, never full turn text. Two shuffles (by hash, by conv).
@_q(
    "turn_dedup_across_convs",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    h AS (SELECT conv_id, md5(text) AS h FROM t),
    freq AS (SELECT h, COUNT(DISTINCT conv_id) AS n_convs FROM h GROUP BY h)
    SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(SUM(CASE WHEN f.n_convs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_turns,
           ROUND(SUM(CASE WHEN f.n_convs >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS shared_frac
    FROM h JOIN freq f USING (h)
    GROUP BY conv_id
    """,
)
def turn_dedup_across_convs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import shared_hash_fraction

    t = transcripts_view(spark, sf_dir)
    h = t.select("conv_id", F.md5(F.col("text").cast("binary")).alias("h"))
    return shared_hash_fraction(h, "conv_id").select(
        "conv_id",
        F.col("n_rows").alias("n_turns"),
        F.col("n_shared").alias("n_shared_turns"),
        "shared_frac",
    )


# Source-reputation filter (the C4/RefinedWeb URL/domain-filtering idea
# over the corpus's source column): per-source mean quality + exact-dup
# rate, with the keep verdict decided ENTIRELY in integer space — the
# 6dp quality score is exact in micro-units, so sums and both threshold
# comparisons (mean >= 0.5, dup_frac <= 0.1) are order-free integer
# arithmetic, immune to float-sum associativity across engines/partitions.
@_q(
    "source_reputation",
    f"""
    WITH q AS (SELECT doc_id, source, text, {_quality_q_sql()} AS q FROM documents),
    agg AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(CAST(ROUND(q * 1000000, 0) AS BIGINT)) AS sum_q6,
             COUNT(DISTINCT md5(text)) AS n_distinct
      FROM q GROUP BY source)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(sum_q6 / 1000000.0 / n_docs, 6) AS mean_quality,
           ROUND((n_docs - n_distinct) / CAST(n_docs AS DOUBLE), 6) AS dup_frac,
           (sum_q6 * 2 >= n_docs * 1000000
            AND (n_docs - n_distinct) * 10 <= n_docs) AS reputable
    FROM agg
    """,
)
def source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tbl(spark, sf_dir, "documents")
    q6 = F.round(_quality_q_col() * F.lit(1000000.0), 0).cast("long")
    agg = d.select(
        "source", q6.alias("q6"), F.md5(F.col("text").cast("binary")).alias("h")
    ).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("q6").alias("sum_q6"),
        F.countDistinct("h").alias("n_distinct"),
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("sum_q6") / F.lit(1000000.0) / F.col("n_docs"), 6).alias(
            "mean_quality"
        ),
        F.round(
            (F.col("n_docs") - F.col("n_distinct")) / F.col("n_docs").cast("double"), 6
        ).alias("dup_frac"),
        (
            (F.col("sum_q6") * 2 >= F.col("n_docs") * 1000000)
            & ((F.col("n_docs") - F.col("n_distinct")) * 10 <= F.col("n_docs"))
        ).alias("reputable"),
    )


# CCNet-style head/middle/tail buckets per language — rank-based (NTILE
# over a TOTAL order: score desc, doc_id), not threshold-based, so bucket
# assignment is pure integer rank arithmetic with zero float-boundary
# risk cross-engine. The production metric is the KenLM-style perplexity
# UDF (functions/scoring.py); the oracle-able 6dp heuristic score stands
# in here so the split logic itself is hash-verified. At 100 TB the
# per-language global sort becomes approx-percentile thresholds; the
# rank route is exact and right-sized for per-partition scoring batches.
@_q(
    "quality_tertile_buckets",
    f"""
    WITH q AS (SELECT doc_id, lang, {_quality_q_sql()} AS q FROM documents),
    b AS (SELECT lang, q,
                 NTILE(3) OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS tb
          FROM q)
    SELECT lang,
           CASE tb WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(MIN(q), 6) AS min_q, ROUND(MAX(q), 6) AS max_q
    FROM b GROUP BY lang, tb
    """,
)
def quality_tertile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = _tbl(spark, sf_dir, "documents")
    q = d.select("doc_id", "lang", _quality_q_col().alias("q"))
    w = W.partitionBy("lang").orderBy(F.col("q").desc(), "doc_id")
    b = q.withColumn("tb", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("tb") == 1, "head")
        .when(F.col("tb") == 2, "middle")
        .otherwise("tail")
    )
    return (
        b.groupBy("lang", "tb")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("q"), 6).alias("min_q"),
            F.round(F.max("q"), 6).alias("max_q"),
        )
        .select(
            "lang", bucket.alias("bucket"), "n_docs", "min_q", "max_q"
        )
    )


# DSIR importance weights (hashed-bigram log-ratio scoring; operator in
# operators/curation.py carries the scale + determinism contract). The
# target "in-domain" sample is doc_id % 41 = 0; weights are computed for
# the raw remainder.
@_q(
    "dsir_importance_weights",
    f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    g AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
          FROM tt, unnest(range(1, len(tk))) AS u(i)),
    hb AS (SELECT doc_id,
                  CAST('0x' || substr(md5('ds0' || g), 1, 8) AS BIGINT) % 64 AS b
           FROM g),
    tgt AS (SELECT b FROM hb WHERE doc_id % 41 = 0),
    cg AS (SELECT doc_id, b FROM hb WHERE doc_id % 41 <> 0),
    spine AS (SELECT CAST(range AS BIGINT) AS b FROM range(64)),
    counts AS (
      SELECT s.b, coalesce(r.nr, 0) AS nr, coalesce(t.ntg, 0) AS ntg
      FROM spine s
      LEFT JOIN (SELECT b, COUNT(*) AS nr FROM cg GROUP BY b) r USING (b)
      LEFT JOIN (SELECT b, COUNT(*) AS ntg FROM tgt GROUP BY b) t USING (b)),
    tot AS (SELECT SUM(nr) AS tr, SUM(ntg) AS tt FROM counts),
    lr AS (SELECT b,
                  ROUND(ln((ntg + 1) / CAST((SELECT tt FROM tot) + 64 AS DOUBLE))
                      - ln((nr + 1) / CAST((SELECT tr FROM tot) + 64 AS DOUBLE)), 9)
                    AS lr
           FROM counts),
    terms AS (
      SELECT doc_id, b, ROUND(COUNT(*) * lr, 9) AS term
      FROM cg JOIN lr USING (b) GROUP BY doc_id, b, lr)
    SELECT doc_id,
           ROUND(list_reduce(list(term ORDER BY b), (a, x) -> a + x), 6)
             AS dsir_weight
    FROM terms GROUP BY doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import ngram_explode, tokens
    from .operators.curation import dsir_logratio_weights

    d = _tbl(spark, sf_dir, "documents")
    grams = ngram_explode(d, ["doc_id"], tokens(F.col("text")), 2)
    tgt = grams.where(F.col("doc_id") % 41 == 0)
    cg = grams.where(F.col("doc_id") % 41 != 0)
    return dsir_logratio_weights(cg, tgt, n_buckets=64, salt="ds0")


# ExactSubstr-style duplicated spans (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): the published finding is
# that long VERBATIM SPANS shared across documents (licenses, headers,
# syndicated text) hurt more than whole-doc dups. Suffix arrays don't
# distribute; the standard Spark re-expression is fixed-width rolling
# windows — every 8-token window hashes (md5, 16 bytes on the shuffle,
# never the span text), windows in >= 2 distinct docs are duplicated
# spans, and each doc reports its duplicated-window fraction. Distinct
# within doc first, so a phrase repeated INSIDE one doc doesn't
# self-flag (that's doc_repetition_signals' job).
_SPAN_N = 8
_SPAN_EXPR = " || ' ' || ".join(f"tk[i + {k}]" for k in range(_SPAN_N))


def _span_windows_sql() -> str:
    """CTE fragment ``w``/``freq``: distinct per-doc {_SPAN_N}-token
    window hashes and their cross-doc frequency. Expects an upstream CTE
    ``tt(doc_id, tk)``; the ONE SQL definition of a duplicated span,
    shared by duplicated_span_stats and doc_feature_matrix."""
    return f"""w AS (SELECT DISTINCT doc_id, md5({_SPAN_EXPR}) AS h
          FROM tt, unnest(range(1, len(tk) - {_SPAN_N - 2})) AS u(i)),
    freq AS (SELECT h, COUNT(*) AS n_docs FROM w GROUP BY h)"""


@_q(
    "duplicated_span_stats",
    f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    {_span_windows_sql()}
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           ROUND(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_span_frac
    FROM w JOIN freq f USING (h)
    GROUP BY w.doc_id
    """,
)
def duplicated_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import ngram_explode, tokens
    from .operators.dedup import shared_hash_fraction

    d = _tbl(spark, sf_dir, "documents")
    w = (
        ngram_explode(d, ["doc_id"], tokens(F.col("text")), _SPAN_N)
        .select("doc_id", F.md5(F.col("g").cast("binary")).alias("h"))
        .distinct()
    )
    return shared_hash_fraction(w, "doc_id").select(
        "doc_id",
        F.col("n_rows").alias("n_windows"),
        F.col("n_shared").alias("n_dup_windows"),
        F.col("shared_frac").alias("dup_span_frac"),
    )


# Dedup savings estimate per source: what dropping near-dup cluster
# non-representatives (quality-ranked keep-one, the same policy the
# clustered funnel runs) saves in documents and TOKENS, per source —
# the number a 100 TB curation plan is actually costed on. Exact dups
# are subsumed (identical docs sit in one cluster at Jaccard 1).
@_q(
    "dedup_savings_by_source",
    f"""
    WITH RECURSIVE pairs0 AS ({_jaccard_lsh_sql()}),
    {_components_sql("pairs0")},
    scored AS (SELECT doc_id, source, len({_TOKENS}) AS nt,
                      {_quality_q_sql()} AS q
               FROM documents),
    clustered AS (
      SELECT s.*, coalesce(l.cluster_id, s.doc_id) AS cluster_id
      FROM scored s LEFT JOIN lbl l USING (doc_id)),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
      FROM clustered),
    dropped AS (
      SELECT source, COUNT(*) AS n_dropped, SUM(nt) AS tokens_saved
      FROM ranked WHERE rn > 1 GROUP BY source),
    tot AS (SELECT source, COUNT(*) AS n_docs, SUM(nt) AS total_tokens
            FROM scored GROUP BY source)
    SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(t.total_tokens AS BIGINT) AS total_tokens,
           CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(coalesce(d.tokens_saved, 0) AS BIGINT) AS tokens_saved,
           ROUND(coalesce(d.tokens_saved, 0)
                 / CAST(t.total_tokens AS DOUBLE), 6) AS saved_frac
    FROM tot t LEFT JOIN dropped d USING (source)
    """,
)
def dedup_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens
    from .operators.dedup import (
        duplicate_clusters,
        jaccard_pairs_lsh,
        pick_representatives,
    )

    d = _tbl(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).alias("nt"),
        _quality_q_col().alias("q"),
    )
    pairs = jaccard_pairs_lsh(d, threshold=0.8, df_cap_inv=5)
    reps = pick_representatives(
        duplicate_clusters(pairs, all_docs=d),
        scored.select("doc_id", F.col("q").alias("score")),
        score_col="score",
    )
    flagged = scored.join(reps.select("doc_id", "keep"), "doc_id")
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").cast("long").alias("total_tokens"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.sum(F.when(~F.col("keep"), F.col("nt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tokens_saved"),
        F.round(
            F.sum(F.when(~F.col("keep"), F.col("nt")).otherwise(F.lit(0)))
            / F.sum("nt").cast("double"),
            6,
        ).alias("saved_frac"),
    )


# Classifier feature matrix (the FineWeb-edu / DCLM quality-classifier
# prep stage): one wide per-doc frame assembling the engine's signals —
# token/char counts, 6dp quality score, repetition, heuristic langid,
# cross-doc duplicated-span fraction — ready for model training or
# threshold sweeps. Plan shape: ONE narrow pass computes every per-doc
# expression; the only join is the span-dup aggregate (left, md5-keyed).
@_q(
    "doc_feature_matrix",
    f"""
    WITH tt AS (SELECT doc_id, text, {_TOKENS} AS tk FROM documents),
    {_span_windows_sql()},
    span AS (
      SELECT w.doc_id,
             ROUND(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS dup_span_frac
      FROM w JOIN freq f USING (h) GROUP BY w.doc_id),
    base AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             {_quality_q_sql()} AS quality_score,
             ROUND(CASE WHEN len(tk) > 0
                   THEN 1.0 - len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE)
                   ELSE 0.0 END, 6) AS dup_token_frac,
             {_langid_sql('text')} AS lang_guess
      FROM tt)
    SELECT b.doc_id, b.n_tokens, b.n_chars, b.quality_score,
           b.dup_token_frac, b.lang_guess,
           ROUND(coalesce(s.dup_span_frac, 0.0), 6) AS dup_span_frac
    FROM base b LEFT JOIN span s USING (doc_id)
    """,
)
def doc_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.scoring import detect_lang_udf
    from .functions.text import ngram_explode, tokens
    from .operators.dedup import shared_hash_fraction

    d = _tbl(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    base = d.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        _quality_q_col().alias("quality_score"),
        F.round(
            F.when(
                F.size(tk) > 0,
                F.lit(1.0) - F.size(F.array_distinct(tk)) / F.size(tk).cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_token_frac"),
        detect_lang_udf(F.col("text")).alias("lang_guess"),
    )
    spans = (
        ngram_explode(d, ["doc_id"], tk, _SPAN_N)
        .select("doc_id", F.md5(F.col("g").cast("binary")).alias("h"))
        .distinct()
    )
    span = shared_hash_fraction(spans, "doc_id").select(
        "doc_id", F.col("shared_frac").alias("__dsf")
    )
    return base.join(span, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_chars",
        "quality_score",
        "dup_token_frac",
        "lang_guess",
        F.round(F.coalesce("__dsf", F.lit(0.0)), 6).alias("dup_span_frac"),
    )


# Per-label embedding purity: each label's centroid (the k-means
# update step keyed by label — operators/ann.update_centroids reused
# verbatim) and the spread of member-to-centroid cosines. A label whose
# mean cosine sags or whose min collapses is mislabeled/noisy — the
# standard embedding-space diagnostic before training on labeled pairs.
# Mean rides integer micro-units (order-free); min/max are order-free
# by definition.
@_q(
    "label_centroid_spread",
    f"""
    WITH pos AS (SELECT unnest(range(1, 65)) AS i),
    cen AS (SELECT label, list(val ORDER BY i) AS ce FROM (
      SELECT e.label, p.i, ROUND(AVG(CAST(e.embedding[p.i] AS DOUBLE)), 4) AS val
      FROM embeddings e CROSS JOIN pos p GROUP BY e.label, p.i) GROUP BY label),
    cc AS (
      SELECT e.label,
             ROUND(
               list_reduce(list_transform(range(1, 65), i ->
                 round(CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE), 9)),
                 (a, b) -> a + b)
               / (sqrt(list_reduce(list_transform(range(1, 65), i ->
                    round(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE), 9)),
                    (a, b) -> a + b))
                  * sqrt(list_reduce(list_transform(range(1, 65), i ->
                    round(CAST(c.ce[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE), 9)),
                    (a, b) -> a + b))), 6) AS cos
      FROM embeddings e JOIN cen c USING (label))
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(SUM(CAST(ROUND(cos * 1000000, 0) AS BIGINT)) / 1000000.0
                 / COUNT(*), 6) AS mean_cos,
           ROUND(MIN(cos), 6) AS min_cos,
           ROUND(MAX(cos), 6) AS max_cos
    FROM cc GROUP BY label
    """,
)
def label_centroid_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import dot_rounded, update_centroids

    e = _tbl(spark, sf_dir, "embeddings")
    cen = update_centroids(
        e.select(F.col("label").alias("centroid_id"), "embedding")
    ).select(F.col("centroid_id").alias("label"), F.col("embedding").alias("__ce"))
    cos = F.round(
        dot_rounded(F.col("embedding"), F.col("__ce"))
        / (
            F.sqrt(dot_rounded(F.col("embedding"), F.col("embedding")))
            * F.sqrt(dot_rounded(F.col("__ce"), F.col("__ce")))
        ),
        6,
    )
    cc = e.join(F.broadcast(cen), "label").select("label", cos.alias("cos"))
    c6 = F.round(F.col("cos") * F.lit(1000000.0), 0).cast("long")
    return cc.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(
            F.sum(c6) / F.lit(1000000.0) / F.count("*"), 6
        ).alias("mean_cos"),
        F.round(F.min("cos"), 6).alias("min_cos"),
        F.round(F.max("cos"), 6).alias("max_cos"),
    )


# TF-IDF distinctive terms per language (keyword extraction): score a
# (lang, term) by df_lang(term) * ln(N / df(term)) — how over-represented
# a term is in one language's documents vs the corpus — and keep the
# top-5 per language. idf is rounded to 9dp before the product (the
# accepted ln discipline); ordering is then on bit-identical doubles
# with term as tiebreak. Scale: one distinct (doc, lang, tok) explode,
# two hash aggs, one join on tok (vocabulary-sized, Zipf-bounded), one
# per-lang top-k window.
@_q(
    "tfidf_top_terms",
    f"""
    WITH tt AS (SELECT doc_id, lang, {_TOKENS} AS tk FROM documents),
    dt AS (SELECT DISTINCT doc_id, lang, tok
           FROM (SELECT doc_id, lang, unnest(tk) AS tok FROM tt) u),
    n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM dt),
    idf AS (SELECT tok,
                   ROUND(ln(CAST((SELECT nd FROM n) AS DOUBLE)
                            / COUNT(DISTINCT doc_id)), 9) AS idf
            FROM dt GROUP BY tok),
    sc AS (SELECT d.lang, d.tok, COUNT(*) * i.idf AS score
           FROM dt d JOIN idf i USING (tok) GROUP BY d.lang, d.tok, i.idf),
    r AS (SELECT lang, tok, score,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, tok)
                   AS rnk
          FROM sc)
    SELECT lang, CAST(rnk AS INT) AS rnk, tok AS term, ROUND(score, 6) AS tfidf
    FROM r WHERE rnk <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .functions.text import tokens

    d = _tbl(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    ).distinct()
    nd = dt.agg(F.countDistinct("doc_id").alias("nd"))
    idf = (
        dt.groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(nd))
        .select(
            "tok",
            F.round(F.log(F.col("nd").cast("double") / F.col("df")), 9).alias("idf"),
        )
    )
    sc = (
        dt.groupBy("lang", "tok")
        .agg(F.count("*").alias("dfl"))
        .join(idf, "tok")
        .select("lang", "tok", (F.col("dfl") * F.col("idf")).alias("score"))
    )
    w = W.partitionBy("lang").orderBy(F.col("score").desc(), "tok")
    return (
        sc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "lang",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("tok").alias("term"),
            F.round("score", 6).alias("tfidf"),
        )
    )


# PII-density report per conversation: counts per PII TYPE (the same
# compiled regexes the scrub stage applies, counted INDEPENDENTLY on the
# raw text) + the fraction of turns carrying any PII. These are
# per-pattern match counts, not post-scrub redaction counts — on
# overlapping matches (a phone-shaped local part inside an email) the
# sequential scrub replaces once where this report counts both patterns.
# Narrow until one conv_id agg.
from .config import SCRUB_STEPS as _SCRUB_STEPS  # noqa: E402

_PII_TYPES = tuple(
    (token.strip("<>").lower(), pattern) for pattern, token in _SCRUB_STEPS
)


def _pii_counts_sql() -> str:
    return ",\n             ".join(
        f"len(regexp_extract_all(text, '{pat.replace(chr(39), chr(39) * 2)}')) AS n_{name}"
        for name, pat in _PII_TYPES
    )


@_q(
    "pii_density_report",
    f"""
    WITH t AS ({{TSQL}}),
    c AS (SELECT conv_id,
             {{COUNTS}}
          FROM t)
    SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
           {{SUMS}},
           ROUND(SUM(CASE WHEN {{ANY}} > 0 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS pii_turn_frac
    FROM c GROUP BY conv_id
    """.format(
        TSQL=TRANSCRIPTS_SQL_DUCKDB,
        COUNTS=_pii_counts_sql(),
        SUMS=", ".join(
            f"CAST(SUM(n_{n}) AS BIGINT) AS n_{n}" for n, _ in _PII_TYPES
        ),
        ANY=" + ".join(f"n_{n}" for n, _ in _PII_TYPES),
    ),
)
def pii_density_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_view(spark, sf_dir)
    counts = [
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).alias(f"n_{name}")
        for name, pat in _PII_TYPES
    ]
    c = t.select("conv_id", *counts)
    any_pii = sum((F.col(f"n_{n}") for n, _ in _PII_TYPES), F.lit(0))
    return c.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        *[F.sum(f"n_{n}").cast("long").alias(f"n_{n}") for n, _ in _PII_TYPES],
        F.round(
            F.sum((any_pii > 0).cast("long")) / F.count("*").cast("double"), 6
        ).alias("pii_turn_frac"),
    )


# Bloom-filter seen-set probe (recrawl membership): the compact bitset a
# recrawl pipeline persists instead of the full key table — "definitely
# new" keys skip the exact route entirely; "maybe seen" falls through to
# the anti join / stored LSH index. Deterministic md5 k-hash variant so
# both engines compute identical bits; m sized small here (4096/500
# keys) so the false-positive accounting is exercised, not just asserted.
_BLOOM_M, _BLOOM_K = 4096, 3


@_q(
    "bloom_seen_probe",
    f"""
    WITH keys AS (SELECT DISTINCT doc_id FROM documents),
    ii AS (SELECT unnest(range(0, {_BLOOM_K})) AS i),
    bits AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5('bl' || i || '#' || CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % {_BLOOM_M} AS pos
      FROM (SELECT doc_id FROM keys WHERE doc_id % 3 <> 0), ii),
    probe AS (
      SELECT k.doc_id,
             CAST('0x' || substr(md5('bl' || i || '#' || CAST(k.doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % {_BLOOM_M} AS pos
      FROM keys k, ii),
    hit AS (SELECT doc_id, COUNT(*) AS nhit
            FROM probe p JOIN bits b USING (pos) GROUP BY doc_id)
    SELECT k.doc_id,
           coalesce(h.nhit, 0) = {_BLOOM_K} AS maybe_seen,
           (k.doc_id % 3 <> 0) AS truly_seen,
           (coalesce(h.nhit, 0) = {_BLOOM_K} AND k.doc_id % 3 = 0) AS false_positive
    FROM keys k LEFT JOIN hit h USING (doc_id)
    """,
)
def bloom_seen_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import bloom_bit_positions, bloom_probe

    keys = _tbl(spark, sf_dir, "documents").select("doc_id").distinct()
    seen = keys.where(F.col("doc_id") % 3 != 0)
    bits = bloom_bit_positions(seen, _BLOOM_M, _BLOOM_K)
    probed = bloom_probe(keys, bits, _BLOOM_M, _BLOOM_K)
    truly = (F.col("doc_id") % 3 != 0).alias("truly_seen")
    return probed.select(
        "doc_id",
        "maybe_seen",
        truly,
        (F.col("maybe_seen") & (F.col("doc_id") % 3 == 0)).alias("false_positive"),
    )


# SemDeDup (semantic dedup): k-means clusters (same fixed-unroll twin as
# the IVF oracle) then within-cluster pairwise cosine; drop when a
# lower-id cluster-mate sits at cosine >= 0.95. Catches paraphrases the
# lexical routes (MinHash/SimHash) cannot. Operator: operators/dedup.py.
@_q(
    "semantic_dedup",
    f"""
    WITH {_ivf_kmeans_sql()},
    lists AS (SELECT vec_id, centroid_id FROM assign{_IVF_ITERS}),
    pairs AS (
      SELECT q.vec_id AS vid,
             ROUND({_DOT_DUCK} / (sqrt({_NORM_DUCK.format(t='q')})
                                  * sqrt({_NORM_DUCK.format(t='c')})), 6) AS cos
      FROM embeddings q
      JOIN lists ql ON ql.vec_id = q.vec_id
      JOIN lists cl ON cl.centroid_id = ql.centroid_id AND cl.vec_id < q.vec_id
      JOIN embeddings c ON c.vec_id = cl.vec_id),
    dup AS (SELECT vid AS vec_id, MAX(cos) AS max_dup_cosine
            FROM pairs GROUP BY vid)
    SELECT l.vec_id, l.centroid_id, d.max_dup_cosine,
           (d.max_dup_cosine IS NULL OR d.max_dup_cosine < 0.95) AS keep
    FROM lists l LEFT JOIN dup d USING (vec_id)
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import ivf_kmeans_centroids
    from .operators.dedup import semdedup

    e = _tbl(spark, sf_dir, "embeddings")
    cen = ivf_kmeans_centroids(e, _IVF_K, iters=_IVF_ITERS)
    return semdedup(e, cen, tau=0.95)


# --- agent-trace analysis family (operators/agentic.py): loop detection,
# self-repetition, adjacent-turn artifacts, conversation-level near-dup.
# Agent transcripts fail in shapes web text doesn't — these four queries
# cover the retry-loop / restated-answer / partial-flush / template-
# conversation shapes, each one conv_id-keyed shuffle, each oracle-exact.


@_q(
    "agent_tool_loops",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    i AS (SELECT conv_id, role, COALESCE(tool, '') AS tool_sig, turn_idx,
                 turn_idx - ROW_NUMBER() OVER (
                   PARTITION BY conv_id, role, COALESCE(tool, '')
                   ORDER BY turn_idx) AS island
          FROM t)
    SELECT conv_id, role, tool_sig,
           CAST(MIN(turn_idx) AS INT) AS run_start,
           CAST(COUNT(*) AS INT) AS run_len
    FROM i GROUP BY conv_id, role, tool_sig, island
    HAVING COUNT(*) >= 2
    """,
)
def agent_tool_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.agentic import tool_loops

    return tool_loops(transcripts_view(spark, sf_dir), min_run=2)


@_q(
    "turn_self_repetition",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    x AS (SELECT conv_id, turn_idx, role, list_distinct({_TOKENS}) AS toks FROM t),
    l AS (SELECT conv_id, turn_idx, role, toks,
                 LAG(toks) OVER (PARTITION BY conv_id, role ORDER BY turn_idx)
                   AS prev
          FROM x),
    j AS (SELECT conv_id, turn_idx, role,
                 ROUND(CASE WHEN len(list_distinct(list_concat(toks, prev))) > 0
                       THEN len(list_intersect(toks, prev))
                            / CAST(len(list_distinct(list_concat(toks, prev))) AS DOUBLE)
                       ELSE 0.0 END, 6) AS jacc_prev
          FROM l WHERE prev IS NOT NULL)
    SELECT conv_id, turn_idx, role, jacc_prev,
           CAST(jacc_prev >= 0.5 AS INT) AS near_repeat
    FROM j WHERE jacc_prev > 0
    """,
)
def turn_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.agentic import self_repetition

    return self_repetition(transcripts_view(spark, sf_dir), threshold=0.5)


@_q(
    "adjacent_turn_artifacts",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    l AS (SELECT conv_id, turn_idx, role, text,
                 LEAD(text) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   AS next_text
          FROM t)
    SELECT conv_id, turn_idx, role,
           CASE WHEN next_text = text THEN 'exact_dup'
                WHEN length(next_text) > length(text)
                     AND substring(next_text, 1, length(text)) = text
                THEN 'prefix' END AS relation,
           CAST(length(text) AS INT) AS len_cur,
           CAST(length(next_text) AS INT) AS len_next
    FROM l
    WHERE next_text IS NOT NULL
      AND (next_text = text
           OR (length(next_text) > length(text)
               AND substring(next_text, 1, length(text)) = text))
    """,
)
def adjacent_turn_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.agentic import adjacent_artifacts

    return adjacent_artifacts(transcripts_view(spark, sf_dir))


@_q(
    "conv_pair_jaccard",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    h AS (SELECT DISTINCT conv_id, md5(text) AS h FROM t),
    sz AS (SELECT conv_id, CAST(COUNT(*) AS INT) AS sz FROM h GROUP BY conv_id),
    rare AS (SELECT h.conv_id, h.h FROM h
             JOIN (SELECT h, COUNT(DISTINCT conv_id) AS df FROM h
                   GROUP BY h HAVING COUNT(DISTINCT conv_id) <= 50) d
               USING (h)),
    p AS (SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
                 CAST(COUNT(*) AS INT) AS shared
          FROM rare a JOIN rare b ON a.h = b.h AND a.conv_id < b.conv_id
          GROUP BY a.conv_id, b.conv_id)
    SELECT conv_a, conv_b, shared, sa.sz AS size_a, sb.sz AS size_b,
           ROUND(shared / CAST(sa.sz + sb.sz - shared AS DOUBLE), 6) AS jaccard
    FROM p
    JOIN sz sa ON sa.conv_id = conv_a
    JOIN sz sb ON sb.conv_id = conv_b
    WHERE ROUND(shared / CAST(sa.sz + sb.sz - shared AS DOUBLE), 6) >= 0.1
    """,
)
def conv_pair_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.agentic import conversation_pair_jaccard

    return conversation_pair_jaccard(
        transcripts_view(spark, sf_dir), threshold=0.1, max_df=50
    )


# --- information-theoretic doc quality: unigram Shannon entropy + type-
# token ratio per document. Low entropy (mass concentrated on few types)
# catches repetitive/generated docs that length/stopword heuristics pass;
# the explode -> (doc_id, tok) count -> doc agg shape is two hash
# shuffles on bounded keys, JVM-side throughout.
@_q(
    "doc_unigram_entropy",
    f"""
    WITH d AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    c AS (SELECT doc_id, tok, COUNT(*) AS c FROM e GROUP BY doc_id, tok),
    c2 AS (SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM c)
    SELECT doc_id,
           CAST(MAX(n) AS INT) AS n_toks,
           CAST(COUNT(*) AS INT) AS n_distinct,
           ROUND(COUNT(*) / CAST(MAX(n) AS DOUBLE), 6) AS ttr,
           ROUND(-SUM((c / CAST(n AS DOUBLE))
                      * log2(c / CAST(n AS DOUBLE))), 6) AS entropy_bits
    FROM c2 GROUP BY doc_id
    """,
)
def doc_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .functions.text import tokens

    d = _tbl(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    c = d.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    c2 = c.withColumn("n", F.sum("c").over(W.partitionBy("doc_id")))
    p = F.col("c") / F.col("n").cast("double")
    return c2.groupBy("doc_id").agg(
        F.max("n").cast("int").alias("n_toks"),
        F.count("*").cast("int").alias("n_distinct"),
        F.round(F.count("*") / F.max("n").cast("double"), 6).alias("ttr"),
        F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
    )


# --- corpus-mix concentration: per-language Herfindahl-Hirschman index
# over sources. A training-mix report: hhi -> 1 means one source owns the
# language slice (contamination/monoculture risk); top_share names how
# bad. Two tiny aggs, output rows = |langs|.
@_q(
    "source_mix_hhi",
    """
    WITH s AS (SELECT lang, source, COUNT(*) AS n
               FROM documents GROUP BY lang, source),
    l AS (SELECT lang, SUM(n) AS tot FROM s GROUP BY lang)
    SELECT s.lang,
           CAST(COUNT(*) AS INT) AS n_sources,
           CAST(MAX(l.tot) AS INT) AS n_docs,
           ROUND(SUM(POWER(s.n / CAST(l.tot AS DOUBLE), 2)), 6) AS hhi,
           ROUND(MAX(s.n) / CAST(MAX(l.tot) AS DOUBLE), 6) AS top_share
    FROM s JOIN l ON s.lang = l.lang
    GROUP BY s.lang
    """,
)
def source_mix_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = _tbl(spark, sf_dir, "documents")
    s = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    s = s.withColumn("tot", F.sum("n").over(W.partitionBy("lang")))
    return s.groupBy("lang").agg(
        F.count("*").cast("int").alias("n_sources"),
        F.max("tot").cast("int").alias("n_docs"),
        F.round(F.sum(F.pow(F.col("n") / F.col("tot").cast("double"), 2)), 6).alias(
            "hhi"
        ),
        F.round(F.max("n") / F.max("tot").cast("double"), 6).alias("top_share"),
    )


# --- corpus-shape diagnostics (operators/corpus.py): Heaps vocabulary
# growth, Zipf head, CCNet-style paragraph(chunk)-dedup stats — the
# "is this corpus healthy?" reports run before committing training
# compute. Each is explode -> hash-agg shapes that held sublinear at
# 10x corpus; scale posture in the operator docstrings.
@_q(
    "heaps_vocab_growth",
    f"""
    WITH tk AS (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
    fo AS (SELECT tok, MIN(doc_id) AS first_doc FROM tk GROUP BY tok),
    sz AS (SELECT doc_id, len({_TOKENS}) AS n FROM documents),
    cuts AS (SELECT DISTINCT CAST(ceil(mx * i / 10.0) AS BIGINT) AS cutoff
             FROM (SELECT MAX(doc_id) AS mx FROM documents),
                  unnest(generate_series(1, 10)) AS t(i))
    SELECT cutoff,
           (SELECT CAST(SUM(n) AS BIGINT) FROM sz WHERE doc_id <= cutoff)
             AS corpus_tokens,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM fo WHERE first_doc <= cutoff)
             AS vocab
    FROM cuts
    """,
)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.corpus import heaps_curve

    return heaps_curve(_tbl(spark, sf_dir, "documents"), points=10)


@_q(
    "zipf_token_head",
    f"""
    WITH tk AS (SELECT unnest({_TOKENS}) AS tok FROM documents),
    c AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
    r AS (SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
          FROM c)
    SELECT CAST(rnk AS INT) AS rank, tok, CAST(cnt AS BIGINT) AS cnt,
           CAST(rnk * cnt AS BIGINT) AS zipf_product
    FROM r WHERE rnk <= 100
    """,
)
def zipf_token_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.corpus import zipf_topk

    return zipf_topk(_tbl(spark, sf_dir, "documents"), k=100)


@_q(
    "chunk_dedup_report",
    f"""
    WITH d AS (SELECT doc_id, {_TOKENS} AS toks FROM documents
               WHERE len({_TOKENS}) > 0),
    ch AS (SELECT doc_id,
                  md5(array_to_string(
                        list_slice(toks, ci * 16 + 1, (ci + 1) * 16), ' ')) AS h
           FROM d, unnest(generate_series(
                  0, CAST(ceil(len(toks) / 16.0) AS INT) - 1)) AS t(ci)),
    dup AS (SELECT h, CAST(COUNT(DISTINCT doc_id) >= 2 AS INT) AS is_dup
            FROM ch GROUP BY h)
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks,
           CAST(SUM(is_dup) AS INT) AS n_dup_chunks,
           ROUND(SUM(is_dup) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_chunk_frac
    FROM ch JOIN dup USING (h)
    GROUP BY doc_id
    """,
)
def chunk_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.corpus import chunk_dedup_stats

    return chunk_dedup_stats(_tbl(spark, sf_dir, "documents"), chunk_tokens=16)


# --- encoding QA (functions/text.encoding_flag_columns): U+FFFD
# replacement chars + 'Ã' mojibake lead bytes. The corpus is clean
# ASCII, so the oracle measures a deterministically PLANTED probe
# column (residue classes, same pattern as TRANSCRIPTS_SQL's planted
# PII) — the detector's nonzero path is exercised, the operator stays
# generic.
@_q(
    "encoding_qa_report",
    """
    WITH probe AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN replace(text, 'a', 'Ã¡')
                  WHEN doc_id % 11 = 0 THEN text || ' ' || chr(65533)
                  ELSE text END AS s
      FROM documents),
    m AS (SELECT doc_id,
                 CAST(length(s) - length(replace(s, chr(65533), '')) AS INT)
                   AS n_replacement,
                 CAST(length(s) - length(replace(s, chr(195), '')) AS INT)
                   AS n_mojibake
          FROM probe)
    SELECT doc_id, n_replacement, n_mojibake,
           CAST(n_replacement + n_mojibake > 0 AS INT) AS encoding_suspect
    FROM m
    """,
)
def encoding_qa_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import encoding_flag_columns

    d = _tbl(spark, sf_dir, "documents")
    probe = (
        F.when(F.col("doc_id") % 7 == 0, F.replace("text", F.lit("a"), F.lit("Ã¡")))
        .when(F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" �")))
        .otherwise(F.col("text"))
    )
    flags = encoding_flag_columns(F.col("s"))
    return d.select("doc_id", probe.alias("s")).select(
        "doc_id", *(c.alias(n) for n, c in flags.items())
    )


# --- conversation-shape QA over transcripts: role token balance (the
# "degenerate dialogue" tails) and inter-turn latency profile (the
# "scripted replay / clock skew" shapes). One conv_id shuffle each.
@_q(
    "conv_role_balance",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    p AS (SELECT conv_id, role, len({_TOKENS}) AS n_toks FROM t)
    SELECT conv_id, CAST(COUNT(*) AS INT) AS n_turns,
           CAST(SUM(n_toks) AS INT) AS total_toks,
           CAST(SUM(CASE WHEN role = 'assistant' THEN n_toks ELSE 0 END) AS INT)
             AS assistant_toks,
           CAST(SUM(CASE WHEN role = 'user' THEN n_toks ELSE 0 END) AS INT)
             AS user_toks,
           ROUND(SUM(CASE WHEN role = 'assistant' THEN n_toks ELSE 0 END)
                 / CAST(SUM(n_toks) AS DOUBLE), 6) AS assistant_share,
           CAST(ROUND(SUM(CASE WHEN role = 'assistant' THEN n_toks ELSE 0 END)
                      / CAST(SUM(n_toks) AS DOUBLE), 6) > 0.9
                OR ROUND(SUM(CASE WHEN role = 'assistant' THEN n_toks ELSE 0 END)
                         / CAST(SUM(n_toks) AS DOUBLE), 6) < 0.1 AS INT)
             AS degenerate
    FROM p GROUP BY conv_id
    """,
)
def conv_role_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.agentic import role_token_share

    return role_token_share(transcripts_view(spark, sf_dir), lo=0.1, hi=0.9)


@_q(
    "conv_turn_latency",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    g AS (SELECT conv_id,
                 epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY conv_id ORDER BY turn_idx) AS gap
          FROM t)
    SELECT conv_id, CAST(COUNT(*) AS INT) AS n_gaps,
           ROUND(CAST(SUM(gap) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
             AS mean_gap_s,
           CAST(MAX(gap) AS BIGINT) AS max_gap_us,
           CAST(SUM(CASE WHEN gap >= 0 AND gap < 1000000 THEN 1 ELSE 0 END)
                AS INT) AS n_bursts,
           CAST(SUM(CASE WHEN gap < 0 THEN 1 ELSE 0 END) AS INT) AS n_negative
    FROM g WHERE gap IS NOT NULL
    GROUP BY conv_id
    """,
)
def conv_turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.agentic import turn_latency

    return turn_latency(transcripts_view(spark, sf_dir), burst_s=1)


@_q(
    "ngram_novelty_per_doc",
    f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, md5(g) AS h
           FROM (SELECT doc_id, unnest({_SHINGLES}) AS g FROM tt) u),
    fo AS (SELECT h, MIN(doc_id) AS first_doc FROM sh GROUP BY h)
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_shingles,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS INT)
             AS n_novel,
           ROUND(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM sh JOIN fo USING (h)
    GROUP BY doc_id
    """,
)
def ngram_novelty_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.corpus import ngram_novelty

    return ngram_novelty(_tbl(spark, sf_dir, "documents"), n=3)


@_q(
    "template_prefix_report",
    f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    p AS (SELECT doc_id, array_to_string(list_slice(tk, 1, 8), ' ') AS prefix
          FROM tt WHERE len(tk) >= 8)
    SELECT md5(prefix) AS prefix_hash, CAST(COUNT(*) AS INT) AS n_docs,
           MIN(doc_id) AS min_doc_id, MIN(prefix) AS sample_prefix
    FROM p GROUP BY md5(prefix)
    HAVING COUNT(*) >= 2
    """,
)
def template_prefix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.corpus import template_prefix_groups

    return template_prefix_groups(
        _tbl(spark, sf_dir, "documents"), prefix_tokens=8, min_group=2
    )


# --- CCNet-style corpus-trained LM scoring (operators/lm.py): a word-
# bigram add-one LM trained by aggregation on the doc_id%10==0 reference
# slice, every doc scored by avg negative log-likelihood. Cross-engine
# exactness via integer micro-nat sums (each distinct bigram's logprob
# rounds once to 1e-6 before the order-dependent sum).
@_q(
    "lm_perplexity_report",
    f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    bg AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
           FROM tt, unnest(range(1, len(tk))) AS u(i)),
    tr AS (SELECT * FROM bg WHERE doc_id % 10 = 0),
    c2 AS (SELECT md5(w1 || chr(10) || w2) AS h2, COUNT(*) AS c2
           FROM tr GROUP BY 1),
    c1 AS (SELECT md5(w1) AS h1, COUNT(*) AS c1 FROM tr GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT tok) AS vs
          FROM (SELECT unnest(tk) AS tok FROM tt WHERE doc_id % 10 = 0) q),
    sc AS (SELECT doc_id,
                  CAST(ROUND(ln((COALESCE(c2.c2, 0) + 1)
                                / CAST(COALESCE(c1.c1, 0) + v.vs AS DOUBLE))
                             * 1000000) AS BIGINT) AS term
           FROM bg
           LEFT JOIN c2 ON md5(bg.w1 || chr(10) || bg.w2) = c2.h2
           LEFT JOIN c1 ON md5(bg.w1) = c1.h1
           CROSS JOIN v),
    a AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
                 CAST(-SUM(term) AS BIGINT) AS micro_nll
          FROM sc GROUP BY doc_id)
    SELECT doc_id, n_bigrams, micro_nll,
           ((2 * micro_nll + n_bigrams) // (2 * n_bigrams)) / 1000000.0
             AS avg_nll
    FROM a
    """,
)
def lm_perplexity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.lm import lm_perplexity

    return lm_perplexity(_tbl(spark, sf_dir, "documents"), train_mod=10)


# --- Naive-Bayes quality classifier (operators/classifier.py): train on
# doc_id%3!=0 with a deterministic integer-compare label (2*distinct >=
# total tokens), score the held-out third. Same micro-nat discipline.
_NB_SCORES_SQL = f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    lab AS (SELECT doc_id, tk,
                   CASE WHEN 2 * len(list_distinct(tk)) >= len(tk)
                        THEN 1 ELSE 0 END AS y
            FROM tt),
    tr AS (SELECT * FROM lab WHERE doc_id % 3 <> 0),
    sc AS (SELECT doc_id, tk FROM lab WHERE doc_id % 3 = 0),
    tok_tr AS (SELECT doc_id, y, unnest(tk) AS tok FROM tr),
    wc AS (SELECT md5(tok) AS ht, SUM(y) AS ck, SUM(1 - y) AS cd
           FROM tok_tr GROUP BY 1),
    tot AS (SELECT (SELECT SUM(y) FROM tr) AS docs_k,
                   (SELECT SUM(1 - y) FROM tr) AS docs_d,
                   (SELECT COUNT(*) FROM tr) AS docs,
                   (SELECT SUM(y) FROM tok_tr) AS nk,
                   (SELECT SUM(1 - y) FROM tok_tr) AS nd,
                   (SELECT COUNT(DISTINCT tok) FROM tok_tr) AS vs),
    ts AS (SELECT s.doc_id,
                  CAST(ROUND(ln((COALESCE(wc.ck, 0) + 1)
                                / CAST(tot.nk + tot.vs AS DOUBLE))
                             * 1000000) AS BIGINT)
                - CAST(ROUND(ln((COALESCE(wc.cd, 0) + 1)
                                / CAST(tot.nd + tot.vs AS DOUBLE))
                             * 1000000) AS BIGINT) AS term
           FROM (SELECT doc_id, unnest(tk) AS tok FROM sc) s
           LEFT JOIN wc ON md5(s.tok) = wc.ht
           CROSS JOIN tot),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_toks,
                   SUM(term) AS tok_odds
            FROM ts GROUP BY doc_id),
    pr AS (SELECT CAST(ROUND(ln((docs_k + 1) / CAST(docs + 2 AS DOUBLE))
                             * 1000000) AS BIGINT)
                - CAST(ROUND(ln((docs_d + 1) / CAST(docs + 2 AS DOUBLE))
                             * 1000000) AS BIGINT) AS prior
           FROM tot)
    SELECT sc.doc_id,
           COALESCE(agg.n_toks, 0) AS n_toks,
           CAST(pr.prior + COALESCE(agg.tok_odds, 0) AS BIGINT)
             AS micro_logodds,
           CAST(pr.prior + COALESCE(agg.tok_odds, 0) > 0 AS INT) AS pred_keep
    FROM sc LEFT JOIN agg USING (doc_id) CROSS JOIN pr
    """


@_q(
    "nb_classifier_scores",
    _NB_SCORES_SQL,
)
def nb_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.classifier import nb_train_score

    return nb_train_score(_tbl(spark, sf_dir, "documents"), holdout_mod=3)


# --- classifier evaluation (classifier.nb_eval): held-out confusion
# counts + precision/recall/F1 in integer ppm, the shipping decision for
# the trained filter. Oracle composes the shared NB scores fragment.
@_q(
    "nb_classifier_eval",
    f"""
    WITH sc AS ({_NB_SCORES_SQL}),
    tt2 AS (SELECT doc_id, {_TOKENS} AS tk FROM documents
            WHERE doc_id % 3 = 0),
    truth AS (SELECT doc_id,
                     CASE WHEN 2 * len(list_distinct(tk)) >= len(tk)
                          THEN 1 ELSE 0 END AS y
              FROM tt2),
    conf AS (SELECT
               SUM(CASE WHEN pred_keep = 1 AND y = 1 THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN pred_keep = 1 AND y = 0 THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN pred_keep = 0 AND y = 1 THEN 1 ELSE 0 END) AS fn,
               SUM(CASE WHEN pred_keep = 0 AND y = 0 THEN 1 ELSE 0 END) AS tn
             FROM sc JOIN truth USING (doc_id))
    SELECT CAST(tp + fp + fn + tn AS INT) AS n_eval,
           CAST(tp AS INT) AS tp, CAST(fp AS INT) AS fp,
           CAST(fn AS INT) AS fn, CAST(tn AS INT) AS tn,
           CAST(CASE WHEN tp + fp > 0
                THEN (tp * 1000000) // (tp + fp) ELSE 0 END AS BIGINT)
             AS precision_ppm,
           CAST(CASE WHEN tp + fn > 0
                THEN (tp * 1000000) // (tp + fn) ELSE 0 END AS BIGINT)
             AS recall_ppm,
           CAST(CASE WHEN 2 * tp + fp + fn > 0
                THEN (2 * tp * 1000000) // (2 * tp + fp + fn)
                ELSE 0 END AS BIGINT) AS f1_ppm
    FROM conf
    """,
)
def nb_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.classifier import nb_eval

    return nb_eval(_tbl(spark, sf_dir, "documents"), holdout_mod=3)


# --- conversation-atomic sequence packing: whole conversations packed
# into 2048-token context windows (SFT prep — a conversation must never
# split across training sequences; the doc-level form is
# pack_token_bins). Same contiguous window-cumsum route.
@_q(
    "conv_pack_bins",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    ct AS (SELECT conv_id,
                  CAST(SUM(len({_TOKENS})) AS BIGINT) AS n_tokens,
                  CAST(substr(conv_id, 6) AS BIGINT) % 4 AS shard
           FROM t GROUP BY conv_id),
    c AS (SELECT shard, conv_id, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY shard ORDER BY conv_id
                                     ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS cb
          FROM ct)
    SELECT shard, CAST(FLOOR(cb / 2048) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(conv_id) AS first_doc, MAX(conv_id) AS last_doc
    FROM c GROUP BY shard, bin_id
    """,
)
def conv_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens
    from .operators.curation import pack_bins_contiguous

    t = transcripts_view(spark, sf_dir)
    ct = t.groupBy("conv_id").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    return pack_bins_contiguous(
        ct,
        F.expr("CAST(substr(conv_id, 6) AS BIGINT) % 4"),
        "conv_id",
        "n_tokens",
        budget=2048,
    )


# --- conversation language consistency: per-conv langid mix (a conv
# flip-flopping between languages is a stitching/contamination artifact
# the per-turn wrong_language drop can miss when each turn individually
# clears the bar). Spark side scores through the SAME pandas UDF the
# pipeline uses; the oracle uses its proven SQL twin (_langid_sql).
@_q(
    "conv_lang_consistency",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    lg AS (SELECT conv_id, {_langid_sql('text')} AS lg FROM t),
    per AS (SELECT conv_id, lg, COUNT(*) AS c FROM lg GROUP BY conv_id, lg)
    SELECT conv_id,
           CAST(SUM(c) AS INT) AS n_turns,
           CAST(COUNT(*) AS INT) AS n_langs,
           CAST((MAX(c) * 1000000) // SUM(c) AS BIGINT) AS top_share_ppm,
           CAST(COUNT(*) >= 2 AS INT) AS mixed
    FROM per GROUP BY conv_id
    """,
)
def conv_lang_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_view(spark, sf_dir)
    per = (
        t.select("conv_id", detect_lang_udf(F.col("text")).alias("lg"))
        .groupBy("conv_id", "lg")
        .agg(F.count("*").alias("c"))
    )
    return per.groupBy("conv_id").agg(
        F.sum("c").cast("int").alias("n_turns"),
        F.count("*").cast("int").alias("n_langs"),
        F.expr("(MAX(c) * 1000000) div SUM(c)").alias("top_share_ppm"),
        (F.count("*") >= 2).cast("int").alias("mixed"),
    )


# --- C4-style stop-word density + terminal punctuation (Raffel et al.
# 2020 §2.2: keep pages with enough function-word coverage and lines
# ending in terminal punctuation — keyword soup scores near zero on
# both). STOPWORDS is the single source for Spark and the oracle.
def _stopword_in_list() -> str:
    from .config import STOPWORDS

    return "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


@_q(
    "doc_stopword_punct_report",
    f"""
    WITH tt AS (SELECT doc_id, text, {_TOKENS} AS tk FROM documents),
    e AS (SELECT doc_id, unnest(tk) AS tok FROM tt),
    a AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_toks,
                 CAST(SUM(CASE WHEN lower(tok) IN {_stopword_in_list()}
                          THEN 1 ELSE 0 END) AS INT) AS n_stop
          FROM e GROUP BY doc_id)
    SELECT a.doc_id, n_toks, n_stop,
           CAST((n_stop * 1000000) // n_toks AS BIGINT) AS stop_ppm,
           CAST(regexp_matches(rtrim(tt.text), '[.!?"]$') AS INT)
             AS ends_terminal
    FROM a JOIN tt ON a.doc_id = tt.doc_id
    """,
)
def doc_stopword_punct_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .config import STOPWORDS
    from .functions.text import tokens

    d = _tbl(spark, sf_dir, "documents")
    e = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    a = e.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_toks"),
        F.sum(F.lower(F.col("tok")).isin(*STOPWORDS).cast("int"))
        .cast("int")
        .alias("n_stop"),
    )
    # \z (end of INPUT), not $: Java's $ also matches before a final
    # trailing newline, while the oracle's RE2 $ matches only true end of
    # string — a doc ending '.\n' would flag 1 here and 0 there. \z
    # replicates RE2's anchor exactly; rtrim (spaces only) matches
    # DuckDB's rtrim. Identical on every current row, fixes the latent
    # newline-terminated divergence (ADVICE r5).
    ends = d.select(
        "doc_id",
        F.rtrim(F.col("text"))
        .rlike('[.!?"]\\z')
        .cast("int")
        .alias("ends_terminal"),
    )
    return a.join(ends, "doc_id").select(
        "doc_id",
        "n_toks",
        "n_stop",
        # BIGINT through the ppm product: n_stop is INT in the agg, and
        # INT*1000000 silently wraps under ANSI-off for any doc with
        # >2147 stop-word hits (routine in long web docs) — the oracle
        # (which errors loudly there) computes the BIGINT value on all
        # passing data, so this changes nothing on rows both engines
        # return (ADVICE r5).
        F.expr("(CAST(n_stop AS BIGINT) * 1000000) div n_toks").alias("stop_ppm"),
        "ends_terminal",
    )


# --- C4-style duplicate-chunk REMOVAL (operators/corpus.py): the
# transform companion to chunk_dedup_report — rebuild each doc keeping
# only first-occurrence 16-token chunks ((doc_id, ci) order).
@_q(
    "chunk_rewrite_dedup",
    f"""
    WITH d AS (SELECT doc_id, {_TOKENS} AS toks FROM documents
               WHERE len({_TOKENS}) > 0),
    ch AS (SELECT doc_id, ci,
                  array_to_string(
                    list_slice(toks, ci * 16 + 1, (ci + 1) * 16), ' ') AS chunk
           FROM d, unnest(generate_series(
                  0, CAST(ceil(len(toks) / 16.0) AS INT) - 1)) AS t(ci)),
    fo AS (SELECT doc_id, ci, chunk,
                  ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                     ORDER BY doc_id, ci) AS rn
           FROM ch)
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END,
                               ' ' ORDER BY ci), '') AS new_text
    FROM fo GROUP BY doc_id
    """,
)
def chunk_rewrite_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.corpus import chunk_dedup_rewrite

    return chunk_dedup_rewrite(_tbl(spark, sf_dir, "documents"), chunk_tokens=16)


# --- shuffle-skew diagnostic (operators/skew.key_skew_report) over the
# transcript conv_id key — the north rule's long-conversation skew
# lever decided by data, not guesswork. Integer-exact hot flag.
@_q(
    "conv_skew_report",
    f"""
    WITH t AS ({{transcripts}}),
    c AS (SELECT conv_id, COUNT(*) AS n_rows FROM t GROUP BY conv_id),
    tot AS (SELECT SUM(n_rows) AS total, COUNT(*) AS n_keys FROM c)
    SELECT conv_id, CAST(n_rows AS INT) AS n_rows,
           (n_rows * 1000000) // total AS share_ppm,
           CAST(n_rows * n_keys > 4 * total AS INT) AS hot
    FROM c CROSS JOIN tot
    """.format(transcripts=TRANSCRIPTS_SQL_DUCKDB),
)
def conv_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import key_skew_report

    return key_skew_report(transcripts_view(spark, sf_dir), "conv_id", factor=4)


# --- crawl-snapshot CDC diff (operators/snapshot.snapshot_diff): old
# snapshot = docs minus doc_id%17==3 with doc_id%13==0 texts perturbed;
# new snapshot = docs minus doc_id%19==5 — so all four statuses occur.
@_q(
    "snapshot_diff_report",
    """
    WITH old AS (SELECT doc_id,
                        CASE WHEN doc_id % 13 = 0 THEN text || ' legacy'
                             ELSE text END AS text
                 FROM documents WHERE doc_id % 17 <> 3),
    new AS (SELECT doc_id, text FROM documents WHERE doc_id % 19 <> 5),
    o AS (SELECT doc_id, md5(text) AS old_hash FROM old),
    n AS (SELECT doc_id, md5(text) AS new_hash FROM new)
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.old_hash IS NULL THEN 'added'
                WHEN n.new_hash IS NULL THEN 'deleted'
                WHEN o.old_hash <> n.new_hash THEN 'changed'
                ELSE 'same' END AS status,
           o.old_hash, n.new_hash
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """,
)
def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.snapshot import snapshot_diff

    docs = _tbl(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" legacy")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = docs.where(F.col("doc_id") % 19 != 5).select("doc_id", "text")
    return snapshot_diff(old, new, key="doc_id", payload="text")


# --- winnowing fingerprints (corpus.winnow_fingerprints, MOSS /
# Schleimer 2003): per-doc min-hash-per-window selection over 4-gram
# md5s, window w=3; output is the order-free set digest.
@_q(
    "winnow_fingerprint_report",
    f"""
    WITH tt AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    gr AS (SELECT doc_id, i,
                  md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                      || tk[i+3]) AS h,
                  len(tk) - 3 AS m
           FROM tt, unnest(range(1, greatest(len(tk) - 3, 0) + 1)) AS u(i)),
    sel AS (SELECT doc_id, m,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)
                     AS win_min,
                   i
            FROM gr),
    kept AS (SELECT DISTINCT doc_id, m, win_min
             FROM sel WHERE i <= m - 2)
    SELECT doc_id, CAST(MAX(m) AS INT) AS n_grams,
           CAST(COUNT(*) AS INT) AS n_fingerprints,
           md5(string_agg(win_min, '' ORDER BY win_min)) AS fp_digest
    FROM kept GROUP BY doc_id
    """,
)
def winnow_fingerprint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.corpus import winnow_fingerprints

    return winnow_fingerprints(_tbl(spark, sf_dir, "documents"), k=4, w=3)


def _winnow_set_sql(pred: str) -> str:
    """DuckDB twin of corpus.winnow_fingerprint_set over documents
    filtered by ``pred`` (k=4, w=3)."""
    return f"""
    SELECT DISTINCT doc_id, win_min AS fp FROM (
      SELECT doc_id, i, m,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)
               AS win_min
      FROM (SELECT doc_id, i,
                   md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                       || tk[i+3]) AS h,
                   len(tk) - 3 AS m
            FROM (SELECT doc_id, {_TOKENS} AS tk FROM documents
                  WHERE {pred}) t,
                 unnest(range(1, greatest(len(tk) - 3, 0) + 1)) AS u(i)) g
    ) s WHERE i <= m - 2
    """


# --- cross-corpus overlap at fingerprint granularity (the pairwise
# "query the overlap index" op the winnow set exists for): even-doc_id
# half vs odd half, pairs sharing >= 1 selected fingerprint.
@_q(
    "winnow_overlap_report",
    f"""
    WITH fa AS ({_winnow_set_sql("doc_id % 2 = 0")}),
    fb AS ({_winnow_set_sql("doc_id % 2 = 1")}),
    sa AS (SELECT doc_id AS doc_a, COUNT(*) AS n_fp_a FROM fa GROUP BY 1),
    sb AS (SELECT doc_id AS doc_b, COUNT(*) AS n_fp_b FROM fb GROUP BY 1),
    sh AS (SELECT fa.doc_id AS doc_a, fb.doc_id AS doc_b,
                  CAST(COUNT(*) AS INT) AS n_shared
           FROM fa JOIN fb USING (fp) GROUP BY 1, 2
           HAVING COUNT(*) >= 1)
    SELECT doc_a, doc_b, n_shared,
           CAST(n_fp_a AS INT) AS n_fp_a, CAST(n_fp_b AS INT) AS n_fp_b
    FROM sh JOIN sa USING (doc_a) JOIN sb USING (doc_b)
    """,
)
def winnow_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.corpus import winnow_overlap_pairs

    docs = _tbl(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        k=4,
        w=3,
        min_shared=1,
    )


# --- training-mixture planner (curation.mixture_plan): integer-exact
# per-source sampling rates / epoch counts for a 60/25/15(/5 absent)
# mixture spec at a 1M-token budget; the absent source reports
# deficit=1 so a misconfigured mix fails loudly in review.
@_q(
    "mixture_plan_report",
    f"""
    WITH w0(source, w0) AS (VALUES ('src0', 60), ('src1', 25), ('src2', 15),
                                   ('src_absent', 5)),
    w AS (SELECT source, CAST(w0 AS BIGINT) AS w FROM w0),
    av AS (SELECT source, CAST(COUNT(*) AS INT) AS n_docs,
                  CAST(SUM(len({_TOKENS})) AS BIGINT) AS toks
           FROM documents GROUP BY source),
    j AS (SELECT COALESCE(av.source, w.source) AS source,
                 COALESCE(n_docs, 0) AS n_docs,
                 COALESCE(toks, 0) AS tokens_available,
                 COALESCE(w.w, 0) AS w
          FROM av FULL OUTER JOIN w ON av.source = w.source)
    SELECT source, n_docs, tokens_available,
           CAST((1000000 * w) // 105 AS BIGINT) AS target_tokens,
           CAST(CASE WHEN tokens_available > 0
                THEN LEAST(1000000,
                           ((1000000 * w) // 105) * 1000000
                             // tokens_available)
                ELSE 0 END AS BIGINT) AS rate_ppm,
           CAST(CASE WHEN tokens_available > 0
                THEN ((1000000 * w) // 105) * 1000000 // tokens_available
                ELSE 0 END AS BIGINT) AS epochs_micro,
           CAST((1000000 * w) // 105 > tokens_available AS INT) AS deficit
    FROM j
    """,
)
def mixture_plan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import mixture_plan

    return mixture_plan(
        _tbl(spark, sf_dir, "documents"),
        weights={"src0": 60, "src1": 25, "src2": 15, "src_absent": 5},
        budget_tokens=1_000_000,
    )


# --- SFT example extraction (conversation.sft_examples): one training
# example per assistant turn — prior context assembled in stable
# turn_idx order on the pipeline's one conv_id window pass.
@_q(
    "sft_examples_report",
    f"""
    WITH t AS ({TRANSCRIPTS_SQL_DUCKDB}),
    c AS (SELECT conv_id, turn_idx, role, text,
                 COALESCE(string_agg(role || ': ' || COALESCE(text, ''),
                                     chr(10))
                          OVER (PARTITION BY conv_id ORDER BY turn_idx
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), '')
                   AS context_text,
                 COUNT(*) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS nct
          FROM t)
    SELECT conv_id, turn_idx, CAST(nct AS INT) AS n_context_turns,
           context_text, COALESCE(text, '') AS response_text
    FROM c WHERE role = 'assistant'
    """,
)
def sft_examples_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.conversation import sft_examples

    return sft_examples(transcripts_view(spark, sf_dir))


# --- context-window doc splitting (curation.split_long_docs): cut long
# docs into max-20-token chunks overlapping by 4 (stride 16).
@_q(
    "split_docs_report",
    f"""
    WITH d AS (SELECT doc_id, {_TOKENS} AS tk FROM documents
               WHERE len({_TOKENS}) > 0),
    n AS (SELECT doc_id, tk,
                 GREATEST(1, CAST(ceil((len(tk) - 4) / 16.0) AS INT))
                   AS n_chunks
          FROM d)
    SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           CAST(len(list_slice(tk, ci * 16 + 1, ci * 16 + 20)) AS INT)
             AS n_tokens,
           array_to_string(list_slice(tk, ci * 16 + 1, ci * 16 + 20), ' ')
             AS chunk_text
    FROM n, unnest(range(0, n_chunks)) AS u(ci)
    """,
)
def split_docs_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import split_long_docs

    return split_long_docs(
        _tbl(spark, sf_dir, "documents"), max_tokens=20, overlap=4
    )


# --- leakage-free train/eval split (curation.cluster_safe_split):
# whole near-dup clusters land on one side; the gate is the md5-bucket
# sample idiom keyed on CLUSTER id at eval_rate 0.1.
@_q(
    "cluster_safe_split_report",
    f"""
    WITH RECURSIVE pairs AS ({_jaccard_lsh_sql()}),
    {_components_sql("pairs")},
    full_l AS (SELECT doc_id, cluster_id FROM lbl
               UNION ALL
               SELECT doc_id, doc_id AS cluster_id FROM documents
               WHERE doc_id NOT IN (SELECT doc_id FROM lbl))
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CASE WHEN CAST('0x' || substr(md5('split0'
                          || CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT)
                     < {int(0.1 * 2**32)}
                THEN 'eval' ELSE 'train' END AS side
    FROM full_l
    """,
)
def cluster_safe_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import cluster_safe_split
    from .operators.dedup import jaccard_pairs_lsh

    d = _tbl(spark, sf_dir, "documents")
    return cluster_safe_split(
        jaccard_pairs_lsh(d, threshold=0.8, df_cap_inv=5),
        all_docs=d,
        eval_rate=0.1,
    )


# ---------------------------------------------------------------------------
# Registration-order curation: the driver's correctness gate checks the
# FIRST 50 entries of PAIRS, so the checked window must carry the whole
# load-bearing surface — at least one row per SURVEY §2 family and one per
# extension family (alerts, curation, drift, recon-metrics, incremental,
# sessionize, media, shingle, funnel, governance). Redundant variants of
# already-windowed routes (component stages, sampled all-pairs baselines,
# demo-sized forms) are rotated past position 50; they stay registered,
# oracle-paired, and pytest/judge-verified — just outside the 50-row
# driver artifact. Decorator order above is historical (round 1 -> 3);
# this block makes the window an explicit, asserted contract instead of
# an accident of file layout.
DRIVER_CHECK_WINDOW = 50

_CHECKED_FIRST: tuple[str, ...] = (
    # §2.4 aggregations
    "pricing_summary",
    "three_sigma_outliers",
    "approx_stats",
    "transcript_conv_metrics",
    "schema_validation_summary",
    # §2.2 filters / rules
    "filter_rule_hits",
    "transcript_text_flags",
    # §2.3 joins
    "join_hit_marker",
    "anti_join_orphans",
    "semi_join_parts",
    "order_total_cross_check",
    "two_tier_reconciliation",
    # §2.5 windows + sessionization
    "latest_event_per_user",
    "group_broadcast_share",
    "event_type_runs",
    "transcript_conversation_flags",
    "event_sessions",
    # §2.6 sorts / limits
    "topk_events_by_value",
    # §2.7 set ops
    "union_by_name",
    "except_all_returns",
    "array_ops_tokens",
    # §2.8 scalar families (string/date/json/reshape)
    "event_time_features",
    "json_extract_props",
    "melt_measures",
    "transcript_keep_scrub",
    # §2.9 streaming / incremental
    "streaming_windowed_metrics",
    "stateful_conversation_totals",
    "incremental_affected_keys",
    # §2.1 sources / adapter / governance lifecycle (round-4 rotation:
    # dispatch_digest is a component stage of governance_lifecycle and
    # rotates past the window in favor of the DSIR curation operator)
    "adapter_entity_mapping",
    "alert_routing",
    "asset_rows",
    "dsir_importance_weights",
    "governance_lifecycle",
    # reconciliation family (J5/J6 composites + metrics + consistency)
    "time_consistency_violations",
    "recon_quality_summary",
    # dedup family (default bucketed routes + fingerprints; round-4
    # rotation: shingle-LSH and the Hamming-pairs stage are the same
    # routes as dedup_jaccard_lsh / simhash64 and rotate past the window
    # in favor of the NEW dedup signals — semantic (SemDeDup) and
    # ExactSubstr-style duplicated spans)
    "dedup_exact",
    # round-5 rotation: doc_fingerprint (rolling hash) yields its seat
    # to its robust successor winnow_fingerprint_report (MOSS
    # winnowing); both stay registered + oracle-paired past the window
    "winnow_fingerprint_report",
    "dedup_jaccard_lsh",
    "semantic_dedup",
    "dedup_incremental_lsh",
    "simhash64",
    "duplicated_span_stats",
    # similarity search (exact baseline rotated out; scale routes in;
    # round-5 rotation: ivf_ann_topk — same ANN family as neardup_ann —
    # yields to the corpus-trained LM perplexity, the north rule's
    # KenLM-style signal in distributed-training form)
    "neardup_ann",
    "lm_perplexity_report",
    # scoring / curation / drift / media
    "doc_langid_udf_vs_sql",
    "doc_quality_score",
    "pack_token_bins",
    "drift_psi_report",
    "media_payload_stats",
    # clustered funnel subsumes the plain funnel's stages and adds the
    # cluster-representative dedup composition; the plain variant stays
    # registered + oracle-paired past the window
    "curation_funnel_clustered",
)


def _curate_registration_order() -> None:
    window = _CHECKED_FIRST
    assert len(window) == DRIVER_CHECK_WINDOW, (
        f"checked window must be exactly {DRIVER_CHECK_WINDOW} names, got {len(window)}"
    )
    assert len(set(window)) == len(window), "duplicate names in checked window"
    missing = [n for n in window if n not in PAIRS]
    assert not missing, f"checked-window names not registered: {missing}"
    ordered = {n: PAIRS[n] for n in window}
    for n, pair in PAIRS.items():
        if n not in ordered:
            ordered[n] = pair
    PAIRS.clear()
    PAIRS.update(ordered)


_curate_registration_order()
