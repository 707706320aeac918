"""§2.E — window functions.

Reference analog [R, SURVEY §0.1]: top-1-by-count preference tags and
RFM-style quantile scoring are window queries. Determinism: every ordering
that feeds row_number/ntile ends in a unique key (SURVEY §2.0 rule 2);
rank/dense_rank/percent_rank/cume_dist are exercised over a low-cardinality
key (p_size) where tie semantics actually matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..ranking import exact_prefix, ntile
from ..registry import op


@op(
    "win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (orderkey tie-break)."""
    o = load(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@op(
    "win_rank_family",
    oracle="""
    SELECT p_partkey, p_brand, p_size,
           CAST(rank()         OVER wt AS BIGINT) AS rnk,
           CAST(dense_rank()   OVER wt AS BIGINT) AS drnk,
           percent_rank()      OVER wt AS prank,
           cume_dist()         OVER wt AS cdist,
           CAST(ntile(4) OVER (PARTITION BY p_brand ORDER BY p_size, p_partkey) AS BIGINT) AS tile4
    FROM part
    WINDOW wt AS (PARTITION BY p_brand ORDER BY p_size)
    """,
)
def win_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/percent_rank/cume_dist over a tie-heavy key; ntile gets
    its own unique-suffixed ordering (it is row-order dependent under ties)."""
    p = load(spark, sf_dir).part
    wt = Window.partitionBy("p_brand").orderBy("p_size")
    wu = Window.partitionBy("p_brand").orderBy("p_size", "p_partkey")
    return p.select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.rank().over(wt).cast("bigint").alias("rnk"),
        F.dense_rank().over(wt).cast("bigint").alias("drnk"),
        F.percent_rank().over(wt).alias("prank"),
        F.cume_dist().over(wt).alias("cdist"),
        F.ntile(4).over(wu).cast("bigint").alias("tile4"),
    )


@op(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           CAST(date_diff('second',
                lag(CAST(ts AS TIMESTAMP)) OVER w, CAST(ts AS TIMESTAMP)) AS BIGINT) AS gap_s,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap seconds + next event type (sessionization)."""
    e = load(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).cast("bigint").alias("gap_s"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@op(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer (decimal-exact cumulative frame)."""
    o = load(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).over(w).cast("double").alias("running_spend"),
    )


@op(
    "win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER (PARTITION BY user_id
                               ORDER BY date_diff('second', TIMESTAMP '2024-01-01', CAST(ts AS TIMESTAMP))
                               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
    FROM events
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing event count per user — a true RANGE frame over epoch
    seconds (peers at equal ts counted identically in both engines)."""
    e = load(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.unix_timestamp("ts")).rangeBetween(-604800, 0)
    return e.select("event_id", "user_id", F.count(F.lit(1)).over(w).cast("bigint").alias("n_7d"))


@op(
    "win_first_last",
    oracle="""
    SELECT DISTINCT o_custkey,
           first_value(o_orderpriority) OVER w AS first_priority,
           last_value(o_orderpriority)  OVER w AS last_priority
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last order priority per customer (recency tags [R]) — note the
    full-frame spec; default last_value frame would be the running row."""
    o = load(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_orderpriority").over(w).alias("first_priority"),
        F.last("o_orderpriority").over(w).alias("last_priority"),
    ).distinct()


@op(
    "win_trailing_time",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
      FROM events
    )
    SELECT event_id, user_id, sec,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,4))) OVER w AS VARCHAR) AS DOUBLE) AS sum_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
)
def win_trailing_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing event-time window: per event, count + decimal-exact sum of
    the same user's activity in the preceding hour (RANGE frame over epoch
    seconds) — the rate-limit / fraud-velocity primitive. One shuffle on
    user_id; peers at the same second are included identically in both
    engines (RANGE, not ROWS, so no tie-break needed)."""
    e = load(spark, sf_dir).events.select(
        "event_id", "user_id", "value", (F.unix_micros("ts") / F.lit(1_000_000)).cast("bigint").alias("sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "sec",
        F.count("*").over(w).cast("bigint").alias("n_1h"),
        F.sum(F.col("value").cast("decimal(38,4)")).over(w).cast("double").alias("sum_1h"),
    )


@op(
    "win_rank_distributed",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice,
             CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk,
             CAST(ntile(5) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS bucket5
      FROM orders
    )
    SELECT o_orderkey, o_totalprice, rnk, bucket5 FROM ranked
    """,
)
def win_rank_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global rank + ntile WITHOUT the single-partition window.

    ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY plans as an
    Exchange SinglePartition: every row through one task, the classic
    100 TB scale cliff. This op computes the scalable equivalent, exact to
    the last tie, with ``ranking.exact_prefix`` (range buckets on the
    negated price, merged from one collect of exact grid-cell counts, and
    offset + row_number() per bucket); ntile(5) is then integral arithmetic on
    (rank, total). No row passes through a single reducer. Oracle: the
    ordinary window; bitwise-equal output proves the decomposition exact.
    """
    o = load(spark, sf_dir).orders.select("o_orderkey", "o_totalprice")
    order = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    ranked, total = exact_prefix(o, [(-F.col("o_totalprice"), order, "rnk")])
    return ranked.select("o_orderkey", "o_totalprice", "rnk", ntile("rnk", total, 5).alias("bucket5"))
