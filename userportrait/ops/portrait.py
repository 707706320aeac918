"""§2.I — user-portrait composite products: the reference's real workload
[R, SURVEY §0.1], ported from MySQL-rule-driven Scala tag subclasses to
composable DataFrame functions over the driver star schema.

Tag families: match/rule tags (broadcast join against an inline rules dim),
statistical tags (recency buckets, top-1 preference, RFM/RFE/PSM scoring),
and the profile assembly (the reference's HBase full-outer merge, here one
keyed left join of the customer row onto the scored RFM row, rendered to a
canonical sorted tag string — raw map columns hash unstably, SURVEY §2.0).
Each tag rule and the days-since-anchor aggregate is defined once here.

Scale note: the ntile(5) scoring is the distributed exact decomposition
(userportrait/ranking.py): range buckets merged from exact grid-cell
counts (one collect) for parallelism, prefix-sum offsets + per-bucket
row_number for bit-stable 1..5 scores — no ``Exchange SinglePartition`` in the scored plan,
while the oracle keeps the plain global ``ntile(5) OVER`` form, so the
equivalence is re-proven on every differential run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, pin
from ..ranking import exact_ntile_scores
from ..registry import op

ANCHOR = "2001-09-01"  # just past max(o_orderdate) (FIXTURES.md)
EVENT_ANCHOR = "2024-02-01"  # just past max(events.ts)

SEGMENT_RULES = [
    ("AUTOMOBILE", "car_owner"),
    ("BUILDING", "construction"),
    ("FURNITURE", "home_decor"),
    ("HOUSEHOLD", "family"),
    ("MACHINERY", "industrial"),
]

_SEGMENT_RULES_SQL = "(VALUES " + ", ".join(f"('{k}', '{v}')" for k, v in SEGMENT_RULES) + ") AS rules(seg, tag)"


def with_segment_tag(spark: SparkSession, customer: DataFrame) -> DataFrame:
    """``customer`` plus its ``segment_tag`` from SEGMENT_RULES (null when no
    rule matches), through a broadcast join against the inline rules frame."""
    rules = spark.createDataFrame(SEGMENT_RULES, "seg string, segment_tag string")
    return customer.join(F.broadcast(rules), customer.c_mktsegment == rules.seg, "left").drop("seg")


def balance_tier(acctbal: Column) -> Column:
    """The balance-tier rule over an account balance."""
    return (
        F.when(acctbal >= 8000, "tier_1_premium")
        .when(acctbal >= 5000, "tier_2_high")
        .when(acctbal >= 2000, "tier_3_mid")
        .when(acctbal >= 0, "tier_4_low")
        .otherwise("tier_5_negative")
    )


def days_since(anchor: str) -> Column:
    """Aggregate over orders: whole days from the last ``o_orderdate`` to
    the ``anchor`` date, as int."""
    return F.datediff(F.lit(anchor).cast("date"), F.max("o_orderdate").cast("date")).cast("int")


def consumption_cycle(days: Column) -> Column:
    """The consumption-cycle rule over days since the last order."""
    return (
        F.when(days <= 30, "active_30d")
        .when(days <= 90, "active_quarter")
        .when(days <= 180, "active_half_year")
        .when(days <= 365, "active_year")
        .otherwise("dormant")
    )


@op(
    "tag_match_rule",
    oracle=f"""
    SELECT c.c_custkey, c.c_mktsegment, rules.tag AS segment_tag
    FROM customer c JOIN {_SEGMENT_RULES_SQL} ON c.c_mktsegment = rules.seg
    """,
)
def tag_match_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match/rule tag: user attribute ⋈ broadcast rules dim.

    The reference parses `key=value##...` rule strings from MySQL per tag
    [R]; here the rules are an inline DataFrame — same join shape, and the
    broadcast keeps it shuffle-free at any fact size."""
    tagged = with_segment_tag(spark, load(spark, sf_dir).customer)
    return tagged.where(F.col("segment_tag").isNotNull()).select("c_custkey", "c_mktsegment", "segment_tag")


_AGE_BUCKET_CASE = """
    CASE WHEN c_acctbal >= 8000 THEN 'tier_1_premium'
         WHEN c_acctbal >= 5000 THEN 'tier_2_high'
         WHEN c_acctbal >= 2000 THEN 'tier_3_mid'
         WHEN c_acctbal >= 0    THEN 'tier_4_low'
         ELSE 'tier_5_negative' END
"""


@op(
    "tag_age_bucket",
    oracle=f"SELECT c_custkey, c_acctbal, {_AGE_BUCKET_CASE} AS balance_tier FROM customer",
)
def tag_age_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-bucket tag (the reference's age-bracket-from-birthday-ranges
    analog [R], over acctbal in the driver schema)."""
    c = load(spark, sf_dir).customer
    return c.select("c_custkey", "c_acctbal", balance_tier(F.col("c_acctbal")).alias("balance_tier"))


_CYCLE_SQL = f"""
    SELECT o_custkey AS c_custkey,
           CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '{ANCHOR}') AS INT) AS days_since,
           CASE WHEN date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '{ANCHOR}') <= 30  THEN 'active_30d'
                WHEN date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '{ANCHOR}') <= 90  THEN 'active_quarter'
                WHEN date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '{ANCHOR}') <= 180 THEN 'active_half_year'
                WHEN date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '{ANCHOR}') <= 365 THEN 'active_year'
                ELSE 'dormant' END AS cycle
    FROM orders GROUP BY o_custkey
"""


@op("tag_consumption_cycle", oracle=_CYCLE_SQL)
def tag_consumption_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumption-cycle tag: datediff(anchor, max(order_time)) bucketed [R],
    i.e. ``rfm_base``'s recency (Catalyst prunes its unread F and M)."""
    days = rfm_base(spark, sf_dir).select("c_custkey", F.col("recency_days").alias("days_since"))
    return days.select("*", consumption_cycle(F.col("days_since")).alias("cycle"))


@op(
    "tag_preference_top1",
    oracle="""
    SELECT user_id, event_type AS preferred_type, CAST(n AS BIGINT) AS n_events FROM (
      SELECT user_id, event_type, count(*) AS n,
             row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
)
def tag_preference_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-by-count preference tag (the reference's payment-preference [R]):
    groupBy + row_number()=1, tie-broken by type name."""
    e = load(spark, sf_dir).events
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("preferred_type"), F.col("n").alias("n_events"))
    )


_RFM_BASE_SQL = f"""
    SELECT o_custkey AS c_custkey,
           CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '{ANCHOR}') AS INT) AS recency_days,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS monetary
    FROM orders GROUP BY o_custkey
"""

_RFM_SQL = f"""
    SELECT c_custkey, recency_days, frequency, monetary,
           CAST(ntile(5) OVER (ORDER BY recency_days DESC, c_custkey) AS INT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency ASC, c_custkey) AS INT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary ASC, c_custkey) AS INT) AS m_score,
           CAST(ntile(5) OVER (ORDER BY recency_days DESC, c_custkey) * 100
              + ntile(5) OVER (ORDER BY frequency ASC, c_custkey) * 10
              + ntile(5) OVER (ORDER BY monetary ASC, c_custkey) AS INT) AS rfm_score
    FROM ({_RFM_BASE_SQL})
"""


def rfm_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one per-customer orders aggregate (R/F/M): feeds the scored RFM
    frame, the cycle tag, the profile, the flagship query and the ML ops."""
    o = load(spark, sf_dir).orders
    return o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        days_since(ANCHOR).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("monetary"),
    )


def rfm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quintile-scored RFM via the distributed exact-ntile decomposition
    (userportrait/ranking.py) — no ``Exchange SinglePartition`` anywhere in
    the scored plan (regression-guarded by tests/test_plans.py), yet
    bitwise-equal to the oracle's plain ``ntile(5) OVER (ORDER BY ...)``."""
    scored = exact_ntile_scores(
        rfm_base(spark, sf_dir),
        [
            (-F.col("recency_days"), "c_custkey", "r_score"),
            (F.col("frequency"), "c_custkey", "f_score"),
            (F.col("monetary"), "c_custkey", "m_score"),
        ],
        k=5,
    )
    rfm_score = F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
    return scored.withColumn("rfm_score", rfm_score.cast("int"))


@op("tag_rfm", oracle=_RFM_SQL)
def tag_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM mining-tag features + 1–5 quintile scores (custkey tie-break) [R]."""
    return rfm_scored(spark, sf_dir)


@op(
    "tag_rfe",
    oracle=f"""
    WITH base AS (
      SELECT user_id,
             CAST(date_diff('day', CAST(max(CAST(ts AS TIMESTAMP)) AS DATE), DATE '{EVENT_ANCHOR}') AS INT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(count(DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS BIGINT) AS engagement_days
      FROM events GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, engagement_days,
           CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS INT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id) AS INT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY engagement_days ASC, user_id) AS INT) AS e_score
    FROM base
    """,
)
def tag_rfe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFE over the click/event stream: recency, frequency, engagement
    (= distinct active days), quintile-scored [R]."""
    e = load(spark, sf_dir).events
    base = e.groupBy("user_id").agg(
        F.datediff(F.lit(EVENT_ANCHOR).cast("date"), F.max("ts").cast("date")).cast("int").alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.countDistinct(F.date_trunc("day", "ts").cast("date")).alias("engagement_days"),
    )
    scored = exact_ntile_scores(
        base,
        [
            (-F.col("recency_days"), "user_id", "r_score"),
            (F.col("frequency"), "user_id", "f_score"),
            (F.col("engagement_days"), "user_id", "e_score"),
        ],
        k=5,
    )
    return scored.select(
        "user_id", "recency_days", "frequency", "engagement_days",
        "r_score", "f_score", "e_score",
    )


_PSM_SQL = """
    SELECT o.o_custkey AS c_custkey,
           CAST(CAST(sum(CAST(l.l_discount AS DECIMAL(19,4)) * CAST(l.l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS discount_ratio,
           CASE WHEN CAST(CAST(sum(CAST(l.l_discount AS DECIMAL(19,4)) * CAST(l.l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) >= 0.07 THEN 'very_sensitive'
                WHEN CAST(CAST(sum(CAST(l.l_discount AS DECIMAL(19,4)) * CAST(l.l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) >= 0.05 THEN 'sensitive'
                WHEN CAST(CAST(sum(CAST(l.l_discount AS DECIMAL(19,4)) * CAST(l.l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) >= 0.03 THEN 'neutral'
                ELSE 'insensitive' END AS psm_tier
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_custkey
"""


@op("tag_psm", oracle=_PSM_SQL)
def tag_psm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-sensitivity (PSM) tag: discount-weighted spend ratio, bucketed
    [R]. Ratio = exact decimal sums cast to double -> bitwise cross-engine."""
    t = load(spark, sf_dir)
    j = t.orders.join(t.lineitem, t.orders.o_orderkey == t.lineitem.l_orderkey)
    disc = F.sum(F.col("l_discount").cast("decimal(19,4)") * F.col("l_extendedprice").cast("decimal(19,4)")).cast("double")
    base = F.sum(F.col("l_extendedprice").cast("decimal(38,4)")).cast("double")
    per = j.groupBy(F.col("o_custkey").alias("c_custkey")).agg((disc / base).alias("discount_ratio"))
    tier = (
        F.when(F.col("discount_ratio") >= 0.07, "very_sensitive")
        .when(F.col("discount_ratio") >= 0.05, "sensitive")
        .when(F.col("discount_ratio") >= 0.03, "neutral")
        .otherwise("insensitive")
    )
    return per.select("c_custkey", "discount_ratio", tier.alias("psm_tier"))


@op(
    "profile_assemble",
    oracle=f"""
    WITH seg AS (
      SELECT c.c_custkey, rules.tag AS segment_tag
      FROM customer c JOIN {_SEGMENT_RULES_SQL} ON c.c_mktsegment = rules.seg
    ),
    tier AS (SELECT c_custkey, {_AGE_BUCKET_CASE} AS balance_tier FROM customer),
    cyc AS ({_CYCLE_SQL}),
    rfm AS ({_RFM_SQL})
    SELECT c.c_custkey,
           concat('cycle=', coalesce(cyc.cycle, 'none'),
                  ';rfm=', coalesce(CAST(rfm.rfm_score AS VARCHAR), 'none'),
                  ';segment=', coalesce(seg.segment_tag, 'none'),
                  ';tier=', coalesce(tier.balance_tier, 'none')) AS profile
    FROM customer c
    LEFT JOIN seg ON c.c_custkey = seg.c_custkey
    LEFT JOIN tier ON c.c_custkey = tier.c_custkey
    LEFT JOIN cyc ON c.c_custkey = cyc.c_custkey
    LEFT JOIN rfm ON c.c_custkey = rfm.c_custkey
    """,
)
def profile_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide profile: one row per customer, all tags merged.

    The reference full-outer-joins each new tag into an HBase profile row via
    a string-merge UDF [R]. Here every tag comes from one of two keyed rows:
    the customer projection (segment tag through the broadcast rules join,
    balance tier) and the scored RFM row (``rfm_score``, and the cycle
    bucketed from ``recency_days``, which is the cycle tag's days since the
    last order). One left join on c_custkey merges them, rendered to a
    canonical sorted ``k=v;...`` string, because raw map columns hash
    unstably."""
    cust = with_segment_tag(spark, load(spark, sf_dir).customer).select(
        "c_custkey", "segment_tag", balance_tier(F.col("c_acctbal")).alias("balance_tier")
    )
    rfm = rfm_scored(spark, sf_dir).select(
        "c_custkey", "rfm_score", consumption_cycle(F.col("recency_days")).alias("cycle")
    )
    render = F.concat(
        F.lit("cycle="), F.coalesce(F.col("cycle"), F.lit("none")),
        F.lit(";rfm="), F.coalesce(F.col("rfm_score").cast("string"), F.lit("none")),
        F.lit(";segment="), F.coalesce(F.col("segment_tag"), F.lit("none")),
        F.lit(";tier="), F.coalesce(F.col("balance_tier"), F.lit("none")),
    )
    return cust.join(rfm, "c_custkey", "left").select("c_custkey", render.alias("profile"))


_US_PER_WEEK = 7 * 86_400 * 1_000_000


@op(
    "tag_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), v AS (
      SELECT user_id, min(us) AS v_us FROM e WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.us) AS c_us
      FROM e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.us > v.v_us GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.us) AS p_us
      FROM e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.us > c.c_us GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 'view' AS stage, CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
      UNION ALL SELECT 'view>click', CAST((SELECT count(*) FROM c) AS BIGINT)
      UNION ALL SELECT 'view>click>purchase', CAST((SELECT count(*) FROM p) AS BIGINT)
    )
    """,
)
def tag_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: each stage's
    timestamp must follow the previous stage's FIRST occurrence (the
    classic strictly-ordered funnel, not mere event presence). Each
    stage's per-user firsts table feeds TWO consumers (the next stage's
    join and its own count), so the stages are pin()-ed — without the
    barrier the whole chain re-evaluates per consumer (6 events scans /
    11 exchanges observed; 3 filter-pushed scans after). The pinned
    tables are one row per surviving user, shrinking stage over stage."""
    e = (
        load(spark, sf_dir)
        .events.select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    )
    v = pin(
        e.where(F.col("event_type") == "view").groupBy("user_id").agg(F.min("us").alias("v_us"))
    )
    c = pin(
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    rows = [
        v.agg(F.count("*").cast("bigint").alias("n_users")).select(F.lit("view").alias("stage"), "n_users"),
        c.agg(F.count("*").cast("bigint").alias("n_users")).select(F.lit("view>click").alias("stage"), "n_users"),
        p.agg(F.count("*").cast("bigint").alias("n_users")).select(
            F.lit("view>click>purchase").alias("stage"), "n_users"
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out


@op(
    "tag_retention",
    oracle=f"""
    WITH w AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // {_US_PER_WEEK} AS week FROM events
    ), cohort AS (
      SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id
    )
    SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
           CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM w JOIN cohort c ON c.user_id = w.user_id
    GROUP BY c.cohort_week, w.week - c.cohort_week
    """,
)
def tag_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by their first-activity
    week (absolute epoch-week index — pure integer arithmetic, no
    calendar-dialect drift), counted distinct per (cohort, weeks-since).
    Cohort assignment is a window MIN over user_id rather than a groupBy +
    self-join (the r6 events_ltv_cohort finding applies here identically):
    one events scan, one user_id exchange, then one aggregate onto the
    tiny (cohort, offset) grid."""
    e = load(spark, sf_dir).events.select(
        "user_id", F.expr(f"unix_micros(ts) div {_US_PER_WEEK}").alias("week")
    )
    uw = Window.partitionBy("user_id")
    return (
        e.withColumn("cohort_week", F.min("week").over(uw))
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


@op(
    "tag_audience_bitmap",
    oracle="""
    SELECT 'status_priority' AS grain, o_orderstatus, o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    UNION ALL
    SELECT 'status', o_orderstatus, NULL,
           CAST(count(DISTINCT o_custkey) AS BIGINT)
    FROM orders GROUP BY o_orderstatus
    """,
)
def tag_audience_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience sizing via bitmap indexes — the crowd-selection primitive
    of a portrait engine. Customer ids are bucketed
    (``bitmap_bucket_number``) and each (status, priority, bucket) group
    builds a roaring-style bitmap; exact distinct = Σ per-bucket
    ``bitmap_count``. The coarser per-status audience is derived by
    ``bitmap_or_agg`` of the SAME level-1 bitmaps — no second scan of the
    fact table, which is the whole point at 100 TB: distinct counts at
    every rollup grain from one pass over raw ids. Oracle: plain
    COUNT(DISTINCT) at both grains."""
    o = load(spark, sf_dir).orders
    lvl1 = o.groupBy(
        "o_orderstatus",
        "o_orderpriority",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias("bm"))
    fine = (
        lvl1.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_customers"))
        .select(
            F.lit("status_priority").alias("grain"),
            "o_orderstatus",
            "o_orderpriority",
            "n_customers",
        )
    )
    coarse = (
        lvl1.groupBy("o_orderstatus", "bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("o_orderstatus")
        .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_customers"))
        .select(
            F.lit("status").alias("grain"),
            "o_orderstatus",
            F.lit(None).cast("string").alias("o_orderpriority"),
            "n_customers",
        )
    )
    return fine.union(coarse)


@op(
    "tag_crowd_select",
    oracle=f"""
    WITH rfm AS ({_RFM_SQL}), asia AS (
      SELECT c.c_custkey, n.n_name
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
    ), noisy AS (
      SELECT user_id FROM events WHERE event_type = 'error'
      GROUP BY user_id HAVING count(*) >= 3
    )
    SELECT rfm.c_custkey, rfm.m_score, rfm.monetary, a.n_name
    FROM rfm JOIN asia a ON a.c_custkey = rfm.c_custkey
    WHERE rfm.m_score >= 4
      AND rfm.c_custkey NOT IN (SELECT user_id FROM noisy)
    """,
)
def tag_crowd_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crowd selection — the reference's end-product operation [R]: boolean
    algebra over tag outputs. Crowd = (monetary quintile ≥ 4) ∩ (ASIA
    customers) ∖ (users with ≥3 error events), composed as joins over the
    RFM aggregate. Only the monetary ordering is scored: the recency and
    frequency quintiles of ``rfm_scored`` are never read, and each scored
    ordering costs a bucket column and a window. Dim joins broadcast; the
    error-user exclusion list is DATA-DERIVED (it scales with how noisy the
    corpus is), so it carries no hard broadcast hint — AQE broadcasts it
    when the measured build side is small and falls back to a shuffled anti
    join when it isn't."""
    t = load(spark, sf_dir)
    rfm = exact_ntile_scores(
        rfm_base(spark, sf_dir), [(F.col("monetary"), "c_custkey", "m_score")]
    ).where(F.col("m_score") >= 4)
    asia = (
        t.customer.join(F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey)
        .join(
            F.broadcast(t.region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey", "n_name")
    )
    noisy = (
        t.events.where(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_err"))
        .where(F.col("n_err") >= 3)
        .select("user_id")
    )
    return (
        rfm.join(asia, "c_custkey")
        .join(noisy, rfm.c_custkey == noisy.user_id, "left_anti")
        .select("c_custkey", "m_score", "monetary", "n_name")
    )


@op(
    "tag_lookalike",
    oracle=f"""
    WITH rfm AS ({_RFM_SQL}), seed AS (
      SELECT c_custkey FROM rfm WHERE rfm_score >= 555
    ), centroid AS (
      SELECT CAST(CAST(sum(CAST(r.recency_days AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) / count(*) AS cr,
             CAST(CAST(sum(CAST(r.frequency AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) / count(*) AS cf,
             CAST(sum(r.monetary) AS DOUBLE) / count(*) AS cm
      FROM rfm r JOIN seed s ON s.c_custkey = r.c_custkey
    ), scored AS (
      SELECT r.c_custkey,
             round((r.recency_days - c.cr) * (r.recency_days - c.cr) / 10000.0
                 + (r.frequency - c.cf) * (r.frequency - c.cf)
                 + (CAST(r.monetary AS DOUBLE) - c.cm) * (CAST(r.monetary AS DOUBLE) - c.cm) / 1000000000.0,
                   6) AS dist2
      FROM rfm r CROSS JOIN centroid c
      WHERE r.c_custkey NOT IN (SELECT c_custkey FROM seed)
    )
    SELECT c_custkey, dist2 FROM scored ORDER BY dist2, c_custkey LIMIT 20
    """,
)
def tag_lookalike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Look-alike audience expansion: the RFM centroid of a seed crowd
    (rfm_score = 555, the best quintile triple) ranks all non-seed
    customers by scale-normalized squared distance; top-20 become the
    expansion audience. The marketing twin of ANN: find-me-more-like-these
    over behavioral features. Seed and candidates are the two sides of one
    filter on ``rfm_score``: ``c_custkey`` is unique in the RFM frame and
    ``rfm_score`` is never null, so this equals a join and an anti join
    against the seed, with one scored subtree per side. Centroid is a
    broadcast scalar (decimal-exact means cast to double); scoring is one
    narrow map over the RFM frame + a top-k — no pairwise joins anywhere."""
    rfm = rfm_scored(spark, sf_dir)
    is_seed = F.col("rfm_score") >= 555
    cen = (
        rfm.where(is_seed)
        .agg(
            (F.sum(F.col("recency_days").cast("decimal(38,4)")).cast("double") / F.count("*")).alias("cr"),
            (F.sum(F.col("frequency").cast("decimal(38,4)")).cast("double") / F.count("*")).alias("cf"),
            (F.sum("monetary").cast("double") / F.count("*")).alias("cm"),
        )
    )
    dist2 = F.round(
        (F.col("recency_days") - F.col("cr")) * (F.col("recency_days") - F.col("cr")) / 10000.0
        + (F.col("frequency") - F.col("cf")) * (F.col("frequency") - F.col("cf"))
        + (F.col("monetary").cast("double") - F.col("cm"))
        * (F.col("monetary").cast("double") - F.col("cm"))
        / 1000000000.0,
        6,
    )
    return (
        rfm.where(~is_seed)
        .crossJoin(F.broadcast(cen))
        .select("c_custkey", dist2.alias("dist2"))
        .orderBy(F.asc("dist2"), F.asc("c_custkey"))
        .limit(20)
    )


# The reference family's tag METADATA layer: each tag row carries a
# ``key=value##key=value`` rule string (stored in MySQL there; a literal
# frame here — SURVEY §1.1 maps the metadata DB to plain config) that the
# matcher parses at runtime to decide which entity rows earn the tag.
# (tag_id, level, tag_name, rule); level 4 = leaf tags of a 4-level
# taxonomy, ids prefixed by their level-3 parent (40x = consume level,
# 41x = market segment).
TAG_RULE_ROWS: tuple[tuple[str, int, str, str], ...] = (
    ("401", 4, "acct_negative", "attr=acctbal##op=between##min=-1000##max=0"),
    ("402", 4, "acct_low", "attr=acctbal##op=between##min=0##max=3000"),
    ("403", 4, "acct_high", "attr=acctbal##op=between##min=3000##max=10000"),
    ("411", 4, "seg_automobile", "attr=mktsegment##op=eq##value=AUTOMOBILE"),
    ("412", 4, "seg_building", "attr=mktsegment##op=eq##value=BUILDING"),
    ("413", 4, "seg_furniture", "attr=mktsegment##op=eq##value=FURNITURE"),
    ("414", 4, "seg_household", "attr=mktsegment##op=eq##value=HOUSEHOLD"),
    ("415", 4, "seg_machinery", "attr=mktsegment##op=eq##value=MACHINERY"),
)

_RULE_VALUES_SQL = ",\n      ".join(
    f"('{t}', {lv}, '{n}', '{r}')" for t, lv, n, r in TAG_RULE_ROWS
)


@op(
    "tag_rule_dsl",
    oracle=f"""
    WITH rules(tag_id, level, tag_name, rule) AS (
      VALUES
      {_RULE_VALUES_SQL}
    ), parsed AS (
      SELECT tag_id, level, tag_name,
             regexp_extract(rule, 'attr=([^#]+)', 1) AS attr,
             regexp_extract(rule, 'op=([^#]+)', 1) AS op,
             TRY_CAST(regexp_extract(rule, 'min=([^#]+)', 1) AS DOUBLE) AS mn,
             TRY_CAST(regexp_extract(rule, 'max=([^#]+)', 1) AS DOUBLE) AS mx,
             regexp_extract(rule, 'value=([^#]+)', 1) AS val
      FROM rules
    ), matched AS (
      SELECT p.tag_id, p.level, p.tag_name, c.c_acctbal
      FROM parsed p JOIN customer c
        ON p.op = 'between' AND p.attr = 'acctbal'
       AND c.c_acctbal >= p.mn AND c.c_acctbal < p.mx
      UNION ALL
      SELECT p.tag_id, p.level, p.tag_name, c.c_acctbal
      FROM parsed p JOIN customer c
        ON p.op = 'eq' AND p.attr = 'mktsegment' AND c.c_mktsegment = p.val
    )
    SELECT tag_id, CAST(level AS INT) AS level, tag_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS total_acctbal
    FROM matched GROUP BY tag_id, level, tag_name
    """,
)
def tag_rule_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's rule-string metadata layer, made executable (closes
    VERDICT r7 "What's missing" #1): tag definitions arrive as
    ``key=value##key=value`` DSL strings on (tag_id, level, tag_name)
    metadata rows — the 4-level-taxonomy MySQL shape of the reference's
    tag model — and the matcher PARSES them at runtime (attr / op /
    operands via regexp_extract, engine-identical in DuckDB) instead of
    hard-coding each tag's predicate. Two rule operators cover the
    reference's match/range tag split: ``op=eq`` (string attribute equi-
    match → hash join) and ``op=between`` (numeric half-open range →
    theta join against the 8-row rule frame, which AQE broadcasts at
    measured size — no hint needed on a by-construction-bounded literal).
    Report: per-tag customer count + decimal-exact balance mass.

    Scale: the rules side is metadata (10²–10⁴ rows in any deployment);
    matching is one scan of the entity table per operator class with the
    parsed rules as the build side; adding a tag is a metadata INSERT,
    not a code change — the property the reference's design is built
    around. tag_match_rule (portrait.py:49) keeps the inlined-DataFrame
    form for comparison; this op is the parsed-DSL superset."""
    rules = spark.createDataFrame(
        list(TAG_RULE_ROWS), "tag_id string, level int, tag_name string, rule string"
    )
    rx = lambda pat: F.regexp_extract(F.col("rule"), pat, 1)
    parsed = rules.select(
        "tag_id",
        "level",
        "tag_name",
        rx("attr=([^#]+)").alias("attr"),
        rx("op=([^#]+)").alias("op"),
        rx("min=([^#]+)").try_cast("double").alias("mn"),
        rx("max=([^#]+)").try_cast("double").alias("mx"),
        rx("value=([^#]+)").alias("val"),
    )
    c = load(spark, sf_dir).customer
    between = parsed.where(
        (F.col("op") == "between") & (F.col("attr") == "acctbal")
    ).join(c, (c["c_acctbal"] >= F.col("mn")) & (c["c_acctbal"] < F.col("mx")))
    eq = parsed.where((F.col("op") == "eq") & (F.col("attr") == "mktsegment")).join(
        c, c["c_mktsegment"] == F.col("val")
    )
    matched = between.select("tag_id", "level", "tag_name", "c_acctbal").unionByName(
        eq.select("tag_id", "level", "tag_name", "c_acctbal")
    )
    return matched.groupBy("tag_id", "level", "tag_name").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(38,4)")).cast("double").alias("total_acctbal"),
    )


@op(
    "feat_point_in_time",
    oracle="""
    WITH ck AS (
      SELECT o_custkey AS uid, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us,
             0 AS role, o_orderkey AS rid,
             CAST(NULL AS DECIMAL(38,4)) AS ev_val, CAST(NULL AS VARCHAR) AS ev_type,
             CAST(NULL AS BIGINT) AS ev_us, o_totalprice
      FROM orders
    ), ev AS (
      SELECT user_id AS uid, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             1 AS role, event_id AS rid,
             CAST(value AS DECIMAL(38,4)) AS ev_val, event_type AS ev_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ev_us, CAST(NULL AS DOUBLE) AS o_totalprice
      FROM events
    ), u AS (SELECT * FROM ck UNION ALL SELECT * FROM ev),
    f AS (
      SELECT uid, us, role, rid, o_totalprice,
             CAST(count(ev_us) OVER wrow AS BIGINT) AS n_events_before,
             CAST(CAST(sum(ev_val) OVER wrow AS VARCHAR) AS DOUBLE) AS total_value_before,
             last_value(ev_type IGNORE NULLS) OVER wrow AS last_event_type,
             last_value(ev_us IGNORE NULLS) OVER wrow AS last_us,
             CAST(count(ev_us) OVER wrange AS BIGINT) AS n_events_30d
      FROM u
      WINDOW wrow AS (PARTITION BY uid ORDER BY us, role, rid
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wrange AS (PARTITION BY uid ORDER BY us
                        RANGE BETWEEN 2592000000000 PRECEDING AND 1 PRECEDING)
    )
    SELECT rid AS o_orderkey, uid AS o_custkey,
           n_events_before, coalesce(total_value_before, 0.0) AS total_value_before,
           n_events_30d, last_event_type,
           (us - last_us) // 86400000000 AS days_since_last,
           o_totalprice AS label_totalprice
    FROM f WHERE role = 0
    """,
)
def feat_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-feature assembly — the feature-store
    discipline that keeps a training set leakage-free: for every order
    (the label event), per-user behavioral features computed ONLY from
    events STRICTLY before the order timestamp — lifetime event count,
    decimal-exact lifetime value, trailing-30-day event count, last event
    type, and integer days since last activity, next to the
    o_totalprice label.

    Spark shape is the SCALABLE form (the join_asof_latest union+window
    pattern, widened from one carried id to a whole feature block): label
    checkpoints and events union into ONE stream, one shuffle per user,
    one sort by (ts, role, id) — at equal timestamps the checkpoint sorts
    BEFORE the event (role 0 < 1), so same-instant events never leak in —
    and every feature is a window over that sort (running count/decimal
    sum/last-ignorenulls + a µs RANGE frame ending at -1 for the strict
    30-day window). The naive per-order range join is O(orders ×
    events-per-user) pairs; this is O(n log n) per user with no pairwise
    blowup — at 100 TB that is the difference between a feature backfill
    finishing and not. Day arithmetic is integer µs division (bit-exact
    cross-engine)."""
    t = load(spark, sf_dir)
    ck = t.orders.select(
        F.col("o_custkey").alias("uid"),
        F.unix_micros("o_orderdate").alias("us"),
        F.lit(0).alias("role"),
        F.col("o_orderkey").alias("rid"),
        F.lit(None).cast("decimal(38,4)").alias("ev_val"),
        F.lit(None).cast("string").alias("ev_type"),
        F.lit(None).cast("bigint").alias("ev_us"),
        "o_totalprice",
    )
    ev = t.events.select(
        F.col("user_id").alias("uid"),
        F.unix_micros("ts").alias("us"),
        F.lit(1).alias("role"),
        F.col("event_id").alias("rid"),
        F.col("value").cast("decimal(38,4)").alias("ev_val"),
        F.col("event_type").alias("ev_type"),
        F.unix_micros("ts").alias("ev_us"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    u = ck.unionAll(ev)
    wrow = (
        Window.partitionBy("uid")
        .orderBy("us", "role", "rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wrange = (
        Window.partitionBy("uid")
        .orderBy("us")
        .rangeBetween(-2_592_000_000_000, -1)
    )
    f = u.select(
        "uid",
        "us",
        "role",
        "rid",
        "o_totalprice",
        F.count("ev_us").over(wrow).cast("bigint").alias("n_events_before"),
        F.sum("ev_val").over(wrow).cast("double").alias("total_value_before"),
        F.last("ev_type", ignorenulls=True).over(wrow).alias("last_event_type"),
        F.last("ev_us", ignorenulls=True).over(wrow).alias("last_us"),
        F.count("ev_us").over(wrange).cast("bigint").alias("n_events_30d"),
    )
    return f.where(F.col("role") == 0).select(
        F.col("rid").alias("o_orderkey"),
        F.col("uid").alias("o_custkey"),
        "n_events_before",
        F.coalesce("total_value_before", F.lit(0.0)).alias("total_value_before"),
        "n_events_30d",
        "last_event_type",
        F.expr("(us - last_us) div 86400000000").alias("days_since_last"),
        F.col("o_totalprice").alias("label_totalprice"),
    )


@op(
    "tag_audience_overlap",
    oracle="""
    WITH s AS (SELECT DISTINCT o_orderstatus AS st FROM orders),
    p AS (SELECT a.st AS st_a, b.st AS st_b FROM s a JOIN s b ON a.st < b.st),
    au AS (SELECT DISTINCT o_orderstatus AS st, o_custkey AS c FROM orders),
    cnts AS (SELECT st, CAST(count(*) AS BIGINT) AS n FROM au GROUP BY st),
    inter AS (
      SELECT p.st_a, p.st_b, CAST(count(*) AS BIGINT) AS n_inter
      FROM p JOIN au x ON x.st = p.st_a JOIN au y ON y.st = p.st_b AND y.c = x.c
      GROUP BY p.st_a, p.st_b
    )
    SELECT p.st_a, p.st_b, ca.n AS n_a, cb.n AS n_b,
           coalesce(i.n_inter, 0) AS n_inter,
           round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                 / (ca.n + cb.n - coalesce(i.n_inter, 0)), 4) AS jaccard
    FROM p
    JOIN cnts ca ON ca.st = p.st_a
    JOIN cnts cb ON cb.st = p.st_b
    LEFT JOIN inter i ON i.st_a = p.st_a AND i.st_b = p.st_b
    """,
)
def tag_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience OVERLAP matrix — the second crowd-selection product
    surface after sizing (tag_audience_bitmap): for every pair of
    audiences (customers per order status), the exact intersection size
    and Jaccard, computed WITHOUT a per-pair fact re-scan. The campaign
    question behind it: "how much of audience A do I already reach with
    audience B?"

    The trick is pure bitmap set algebra over (status, bucket) bitmaps
    of the same construction as tag_audience_bitmap's level-1 (built here
    at the coarser status grain): |A∩B| = |A| + |B| − |A∪B| per id-bucket, where
    |A∪B| is ``bitmap_count(bitmap_or_agg(bm))`` over the pair's two
    bucket bitmaps — Spark ships no binary bitmap AND, and this identity
    never needs one. One fact scan builds the (status, bucket) bitmaps;
    each of the O(k²) audience pairs then touches only bitmap rows
    (#buckets × 2 per pair), never raw ids — at 100 TB audience algebra
    runs on kilobyte bitmaps, not the fact table. Pairs come from a
    broadcast self-join of the distinct statuses (k rows); the EXACT
    oracle recomputes every pair with COUNT(DISTINCT) set algebra."""
    o = load(spark, sf_dir).orders
    return audience_overlap_frame(
        o.select(F.col("o_orderstatus").alias("st"), F.col("o_custkey").alias("member"))
    )


def audience_overlap_frame(fact: DataFrame) -> DataFrame:
    """The bitmap overlap algebra over any (st, member) frame — factored
    so the hypothesis property test can check the |A|+|B|−|A∪B| identity
    against Python set intersection on arbitrary inputs."""
    lvl1 = fact.groupBy(
        "st",
        F.expr("bitmap_bucket_number(member)").alias("bkt"),
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(member))").alias("bm"))
    lvl1 = lvl1.withColumn("cnt", F.expr("bitmap_count(bm)"))

    s = lvl1.select("st").distinct()
    pairs = (
        s.alias("a")
        .join(s.alias("b"), F.col("a.st") < F.col("b.st"))
        .select(F.col("a.st").alias("st_a"), F.col("b.st").alias("st_b"))
    )
    tagged = pairs.join(
        lvl1, (F.col("st") == F.col("st_a")) | (F.col("st") == F.col("st_b"))
    )
    per_bucket = tagged.groupBy("st_a", "st_b", "bkt").agg(
        F.expr("bitmap_count(bitmap_or_agg(bm))").alias("or_cnt"),
        F.max(F.when(F.col("st") == F.col("st_a"), F.col("cnt"))).alias("cnt_a"),
        F.max(F.when(F.col("st") == F.col("st_b"), F.col("cnt"))).alias("cnt_b"),
    )
    out = per_bucket.groupBy("st_a", "st_b").agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt_b").cast("bigint").alias("n_b"),
        (F.sum("cnt_a") + F.sum("cnt_b") - F.sum("or_cnt")).cast("bigint").alias("n_inter"),
    )
    return out.select(
        "st_a",
        "st_b",
        "n_a",
        "n_b",
        "n_inter",
        F.round(
            F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            4,
        ).alias("jaccard"),
    )


@op(
    "tag_segment_migration",
    oracle="""
    WITH mid AS (
      SELECT CAST(to_timestamp((epoch(min(o_orderdate)) + epoch(max(o_orderdate))) // 2) AS TIMESTAMP) AS m
      FROM orders
    ), per AS (
      SELECT o_custkey AS c,
             CASE WHEN o_orderdate <= mid.m THEN 'pre' ELSE 'post' END AS period,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS spend
      FROM orders, mid GROUP BY c, period
    ), seg AS (
      SELECT c, period,
             CASE WHEN freq >= 3 AND spend >= 200000 THEN 'vip'
                  WHEN freq >= 3 THEN 'loyal'
                  WHEN spend >= 200000 THEN 'big_ticket'
                  ELSE 'casual' END AS segment
      FROM per
    ), pre AS (SELECT c, segment FROM seg WHERE period = 'pre'),
    post AS (SELECT c, segment FROM seg WHERE period = 'post')
    SELECT coalesce(pre.segment, 'absent') AS seg_pre,
           coalesce(post.segment, 'absent') AS seg_post,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM pre FULL JOIN post ON pre.c = post.c
    GROUP BY seg_pre, seg_post
    """,
)
def tag_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment MIGRATION matrix — the period-over-period report a portrait
    product ships next to the segment sizes themselves: each customer is
    assigned a rule segment (vip / loyal / big_ticket / casual, the
    tag_match_rule style thresholds on order frequency and decimal-exact
    spend) in the pre and post halves of the order history (epoch-midpoint
    split), and the output is the (seg_pre, seg_post) transition counts —
    including churn-in/churn-out via the 'absent' pseudo-segment for
    customers active in only one period. "How many VIPs did we lose to
    casual last quarter" is this one frame.

    Scale: per-(customer, period) rollup is one map-side-combinable
    shuffle; segmentation is a row-local CASE; the pre/post FULL join is
    key-co-partitioned; the output is a ≤ (k+1)² grid. Same topology as
    scan_cdc_changefeed — migration IS the CDC of segment labels."""
    o = load(spark, sf_dir).orders
    mid = o.agg(
        F.timestamp_seconds(
            ((F.unix_timestamp(F.min("o_orderdate")) + F.unix_timestamp(F.max("o_orderdate"))) / 2)
            .cast("bigint")
        ).alias("m")
    )
    per = (
        o.crossJoin(F.broadcast(mid))
        .withColumn("period", F.when(F.col("o_orderdate") <= F.col("m"), "pre").otherwise("post"))
        .groupBy(F.col("o_custkey").alias("c"), "period")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("spend"),
        )
    )
    seg = per.select(
        "c",
        "period",
        F.when((F.col("freq") >= 3) & (F.col("spend") >= 200000), "vip")
        .when(F.col("freq") >= 3, "loyal")
        .when(F.col("spend") >= 200000, "big_ticket")
        .otherwise("casual")
        .alias("segment"),
    )
    pre = seg.where(F.col("period") == "pre").select(F.col("c"), F.col("segment").alias("sp"))
    post = seg.where(F.col("period") == "post").select(
        F.col("c").alias("c2"), F.col("segment").alias("so")
    )
    j = pre.join(post, pre.c == post.c2, "full")
    return j.groupBy(
        F.coalesce(F.col("sp"), F.lit("absent")).alias("seg_pre"),
        F.coalesce(F.col("so"), F.lit("absent")).alias("seg_post"),
    ).agg(F.count("*").cast("bigint").alias("n_customers"))
