"""§2.F sorts/limits/sampling + §2.G set operations.

Determinism notes: the driver's value-hash is order-insensitive, so sort
correctness is made observable by emitting a global row_number over the same
ordering; top-k sets are made unique with key tie-breaks; sampling uses an
explicit multiplicative hash (both engines' builtin hash()/sample() differ,
SURVEY §2.F).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..ranking import exact_prefix
from ..registry import op


@op(
    "sort_multikey_nulls",
    oracle="""
    SELECT c_custkey, c_nationkey, bal, CAST(rn AS BIGINT) AS rn FROM (
      SELECT c_custkey, c_nationkey, bal,
             row_number() OVER (ORDER BY c_nationkey ASC, bal DESC NULLS LAST, c_custkey ASC) AS rn
      FROM (SELECT c_custkey, c_nationkey, CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
            FROM customer)
    )
    """,
)
def sort_multikey_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit NULLS LAST (Spark's ASC default is NULLS
    FIRST, DuckDB's is NULLS LAST — always spelled out, SURVEY §7-M2).
    Ordering made hashable via a global row_number, computed distributed
    by ``ranking.exact_prefix``: a no-partition window plans as Exchange
    SinglePartition and pushes the whole table through one task at
    100 TB. The lead is c_nationkey, so there are at most 25 range buckets.
    The decomposition is bitwise-equal to the window (the oracle still uses
    the plain window form to prove it)."""
    c = load(spark, sf_dir).customer
    bal = F.when(F.col("c_acctbal") < 0, F.lit(None).cast("double")).otherwise(F.col("c_acctbal"))
    keys = [F.asc("c_nationkey"), F.desc_nulls_last("bal"), F.asc("c_custkey")]
    cb = c.select("c_custkey", "c_nationkey", bal.alias("bal"))
    return exact_prefix(cb, [(F.col("c_nationkey"), keys, "rn")])[0].orderBy(*keys)


@op(
    "limit_topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def limit_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 by price — orderBy().limit() compiles to
    TakeOrderedAndProject: per-partition partial top-k, no full sort/shuffle
    (exactly what survives at 100 TB)."""
    o = load(spark, sf_dir).orders
    return o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@op(
    "sample_deterministic",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE (o_orderkey * 1103515245 + 12345) % 2147483648 < 214748365
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic pseudo-sample via an explicit LCG hash on the key.

    ``df.sample()`` and builtin ``hash()`` are engine-specific (SURVEY §2.F);
    this arithmetic form is reproducible everywhere, which is what a 100 TB
    pipeline needs for stable sampled fixtures."""
    o = load(spark, sf_dir).orders
    return o.filter((F.col("o_orderkey") * 1103515245 + 12345) % 2147483648 < 214748365).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_HIGH_VALUE = "SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 400000"
_RECENT = "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01'"


def _high_value(t) -> DataFrame:
    return t.orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey", "o_custkey")


def _recent(t) -> DataFrame:
    return t.orders.filter(F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp")).select(
        "o_orderkey", "o_custkey"
    )


@op("set_union_all", oracle=f"{_HIGH_VALUE} UNION ALL {_RECENT}")
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union of high-value and recent orders (overlap kept twice)."""
    t = load(spark, sf_dir)
    return _high_value(t).unionAll(_recent(t))


@op("set_union_distinct", oracle=f"{_HIGH_VALUE} UNION {_RECENT}")
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union (audience merge, the reference's segment-OR [R])."""
    t = load(spark, sf_dir)
    return _high_value(t).union(_recent(t)).distinct()


_BUYERS = "SELECT user_id FROM events WHERE event_type = 'purchase' GROUP BY user_id HAVING count(*) >= 17"
_CLICKERS = "SELECT user_id FROM events WHERE event_type = 'click' GROUP BY user_id HAVING count(*) >= 17"


def _heavy_users(t, etype: str) -> DataFrame:
    return (
        t.events.filter(F.col("event_type") == etype)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 17)
        .select("user_id")
    )


@op("set_intersect", oracle=f"{_BUYERS} INTERSECT {_CLICKERS}")
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy buyers ∩ heavy clickers (audience-AND segmentation [R])."""
    t = load(spark, sf_dir)
    return _heavy_users(t, "purchase").intersect(_heavy_users(t, "click"))


@op("set_except", oracle=f"{_BUYERS} EXCEPT {_CLICKERS}")
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy buyers − heavy clickers (audience-MINUS)."""
    t = load(spark, sf_dir)
    return _heavy_users(t, "purchase").distinct().exceptAll(_heavy_users(t, "click").distinct())


_F_CUST = "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'"
_O_CUST = "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'"


@op("set_intersect_all", oracle=f"{_F_CUST} INTERSECT ALL {_O_CUST}")
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection (multiplicity = min of the two sides)."""
    t = load(spark, sf_dir)
    f = t.orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = t.orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersectAll(o)


@op("set_except_all", oracle=f"{_F_CUST} EXCEPT ALL {_O_CUST}")
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (multiplicity-subtracting)."""
    t = load(spark, sf_dir)
    f = t.orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = t.orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.exceptAll(o)
