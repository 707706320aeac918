"""§2.A — scans, sources, sinks.

Reference analog [R, SURVEY §0.1]: the reference reads HBase rows through a
custom Spark-SQL ``BaseRelation`` (TableScan with a per-tag column set) and
Hive/file ingestion; we read columnar parquet with fixed StructTypes so
Catalyst's parquet source gives pushdown + pruning for free (SURVEY §4).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import SCHEMAS, TABLES, load, pin, read_table, register_views
from ..registry import op

# Scratch area for sink/roundtrip ops. Kept inside the repo (the driver
# sandbox forbids writes elsewhere); gitignored.
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "_scratch")


def _scratch(name: str) -> str:
    path = os.path.join(SCRATCH, name)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


@op(
    "scan_parquet",
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows FROM {t}" for t in TABLES
    ),
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read all ten tables (full projection) and count each."""
    t = load(spark, sf_dir)
    counts = None
    for name in TABLES:
        one = getattr(t, name).select(
            F.lit(name).alias("table_name")
        ).groupBy("table_name").agg(F.count(F.lit(1)).alias("n_rows"))
        counts = one if counts is None else counts.unionAll(one)
    return counts


@op(
    "scan_events_ns",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
    FROM events
    """,
)
def scan_events_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row check of the ns->us timestamp convention (SURVEY §1.2).

    The whole table passes through so any row where Spark's
    ``timestamp_micros(ts div 1000)`` disagrees with DuckDB's
    ``CAST(ts AS TIMESTAMP)`` fails the hash.
    """
    return read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


_CSV_SAMPLE = "l_orderkey % 50 = 0"

@op(
    "scan_csv_roundtrip",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag, l_shipdate
    FROM lineitem WHERE {_CSV_SAMPLE}
    """,
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a lineitem sample to CSV (header), read back with explicit schema.

    The oracle compares against the parquet source, proving the CSV writer ->
    reader path is lossless for ints, doubles, strings and timestamps.
    """
    path = _scratch("csv_roundtrip")
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    sample = read_table(spark, sf_dir, "lineitem").filter(F.expr(_CSV_SAMPLE)).select(*cols)
    sample.write.mode("overwrite").option("header", True).csv(path)
    schema = "l_orderkey bigint, l_linenumber int, l_quantity double, l_extendedprice double, l_returnflag string, l_shipdate timestamp"
    return spark.read.schema(schema).option("header", True).csv(path)


_JSON_SAMPLE = "o_orderkey % 50 = 0"

@op(
    "scan_json_roundtrip",
    oracle=f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders WHERE {_JSON_SAMPLE}",
)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same roundtrip via JSON-lines."""
    path = _scratch("json_roundtrip")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    sample = read_table(spark, sf_dir, "orders").filter(F.expr(_JSON_SAMPLE)).select(*cols)
    sample.write.mode("overwrite").json(path)
    schema = "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, o_orderdate timestamp"
    return spark.read.schema(schema).json(path)


@op(
    "sink_parquet_partitioned",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS total
    FROM orders GROUP BY yr
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink (100 TB layout, SURVEY §2.A).

    Writes orders partitioned by order year, reads the tree back and
    aggregates per partition — exercising partition discovery and (at scale)
    partition pruning.
    """
    path = _scratch("orders_by_year")
    orders = read_table(spark, sf_dir, "orders")
    orders.withColumn("yr", F.year("o_orderdate")).write.mode("overwrite").partitionBy("yr").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("yr").cast("int").alias("yr")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("total"),
    )


@op(
    "catalog_views",
    oracle="""
    SELECT r.r_name AS region_name, CAST(count(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY region_name
    """,
)
def catalog_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register all ten tables as temp views; query through spark.sql.

    Analog of the reference's Hive-metastore-backed SQL surface [R].
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r.r_name AS region_name, CAST(count(*) AS BIGINT) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY region_name
        """
    )


@op(
    "scan_orc_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write supplier to ORC, read back with explicit schema — the
    third columnar format of the source surface (parquet/CSV/JSON/ORC).
    Oracle compares against the parquet original: lossless roundtrip."""
    path = _scratch("orc_roundtrip")
    read_table(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    return spark.read.schema(SCHEMAS["supplier"]).orc(path)


@op(
    "sink_bucketed_join",
    oracle="""
    SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the 100 TB shuffle-elimination layout.

    Both fact tables are written bucketed (16 buckets) AND sorted by the
    join key via ``bucketBy().sortBy().saveAsTable``; reading them back,
    the join plans with NO Exchange and NO Sort on either side (asserted in
    tests/test_plans.py) — bucket-to-bucket merge join, and the groupBy on
    the same key needs no further shuffle. At warehouse scale this is how
    repeated fact-fact joins amortize their shuffle once at write time."""
    warehouse = _scratch("bucketed")
    for table, src, key in (
        ("orders_bucketed", "orders", "o_orderkey"),
        ("lineitem_bucketed", "lineitem", "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            read_table(spark, sf_dir, src)
            .write.mode("overwrite")
            .option("path", os.path.join(warehouse, table))
            .bucketBy(16, key)
            .sortBy(key)
            .saveAsTable(table)
        )
    o = spark.table("orders_bucketed")
    li = spark.table("lineitem_bucketed")
    # hint("merge"): at test scale AQE would broadcast the small side, hiding
    # the property under test; at warehouse scale SMJ is the natural choice.
    return (
        o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,4)")).cast("double").alias("revenue"),
        )
    )


@op(
    "sink_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_custkey AS k, round(max(o_totalprice), 2) AS new_bal
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
    ), inserts AS (
      SELECT s_suppkey + 10000000 AS k, s_name AS name, s_acctbal AS bal
      FROM supplier
    ), merged AS (
      SELECT coalesce(c.c_custkey, u.k) AS c_custkey,
             c.c_name,
             coalesce(u.new_bal, c.c_acctbal) AS c_acctbal,
             CASE WHEN u.k IS NULL THEN 'kept' ELSE 'updated' END AS action
      FROM customer c LEFT JOIN updates u ON u.k = c.c_custkey
      UNION ALL
      SELECT k, name, bal, 'inserted' FROM inserts
    )
    SELECT c_custkey, c_name, c_acctbal, action FROM merged
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation on plain parquet (no table format needed):
    matched keys update (acctbal refreshed from a deterministic change
    feed), unmatched source keys insert, untouched target rows carry over
    — SCD-1 upsert as one left join + union, rewritten atomically to the
    sink and read back. At 100 TB the join shuffles on the merge key; with
    a bucketed target (see sink_bucketed_join) the shuffle is one-sided.
    Oracle computes the identical merged state."""
    t = load(spark, sf_dir)
    updates = (
        t.orders.where(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.round(F.max("o_totalprice"), 2).alias("new_bal"))
    )
    inserts = t.supplier.select(
        (F.col("s_suppkey") + 10_000_000).alias("k"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"),
    )
    merged = (
        t.customer.join(updates, t.customer.c_custkey == updates.k, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("new_bal", "c_acctbal").alias("c_acctbal"),
            F.when(F.col("k").isNull(), "kept").otherwise("updated").alias("action"),
        )
        .unionByName(
            inserts.select(
                F.col("k").alias("c_custkey"),
                F.col("name").alias("c_name"),
                F.col("bal").alias("c_acctbal"),
                F.lit("inserted").alias("action"),
            )
        )
    )
    path = _scratch("merged_customer")
    merged.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@op(
    "scan_schema_evolution",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_channel
      FROM orders WHERE year(o_orderdate) < 1995
    ), new AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END AS o_channel
      FROM orders WHERE year(o_orderdate) >= 1995
    ), unioned AS (
      SELECT * FROM old UNION ALL SELECT * FROM new
    )
    SELECT coalesce(o_channel, 'unknown') AS channel,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS total
    FROM unioned GROUP BY 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet lake: 'old' files lack a column that
    'new' files carry; ``mergeSchema=true`` reconciles the footers and the
    missing column reads as NULL — the add-a-column migration every
    long-lived 100 TB table goes through (and why scans pin explicit
    schemas everywhere else: merge-on-read costs a footer pass per file).
    Old/new splits are derived deterministically from o_orderdate."""
    o = read_table(spark, sf_dir, "orders")
    path = _scratch("schema_evolution")
    old = o.where(F.year("o_orderdate") < 1995).select("o_orderkey", "o_totalprice")
    new = o.where(F.year("o_orderdate") >= 1995).select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 2 == 0, "web").otherwise("store").alias("o_channel"),
    )
    old.write.mode("overwrite").parquet(f"{path}/v1")
    new.write.mode("overwrite").parquet(f"{path}/v2")
    back = spark.read.option("mergeSchema", "true").parquet(f"{path}/v1", f"{path}/v2")
    return back.groupBy(F.coalesce("o_channel", F.lit("unknown")).alias("channel")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("total"),
    )


@op(
    "scan_partition_pruning",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS total
    FROM orders WHERE year(o_orderdate) IN (1994, 1995)
    """,
)
def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning on a hive-layout lake: orders written partitioned
    by year, read back with a partition-column filter — the scan must
    touch only the two matching yr= directories (PartitionFilters in the
    plan, asserted in tests/test_plans.py). At 100 TB this is the
    difference between reading 2 years and reading 30."""
    # Scratch path keyed by sf: a write-once cache shared with a different
    # scale factor would silently serve stale partitions.
    path = _scratch(f"orders_by_year_{os.path.basename(os.path.normpath(sf_dir))}")
    orders = read_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        orders.withColumn("yr", F.year("o_orderdate")).write.mode("overwrite").partitionBy(
            "yr"
        ).parquet(path)
    back = spark.read.parquet(path).where(F.col("yr").isin(1994, 1995))
    return back.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("total"),
    )


@op(
    "scan_corrupt_records",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 199)) AS i)
    SELECT CASE WHEN i % 10 = 3 THEN 'corrupt' ELSE 'good' END AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN i % 10 = 3 THEN 0 ELSE i END) AS BIGINT) AS id_sum
    FROM ids GROUP BY 1
    """,
)
def scan_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-input resilience: a JSONL feed where every 10th-ish line is
    malformed, read in PERMISSIVE mode with ``columnNameOfCorruptRecord``
    — bad lines land in the quarantine column instead of failing the job,
    and the op reports good/corrupt counts. The 100 TB reality: crawl and
    log feeds ALWAYS contain garbage, and a scan that dies on line 3
    billion is not an option. Input staged deterministically (ids 0..199,
    i%10==3 corrupted)."""
    import json as _json

    path = _scratch("corrupt_jsonl")
    os.makedirs(path, exist_ok=True)
    fpath = os.path.join(path, "feed.jsonl")
    if not os.path.exists(fpath):
        with open(fpath + ".tmp", "w") as f:
            for i in range(200):
                if i % 10 == 3:
                    f.write(f'{{"id": {i}, "broken": \n')
                else:
                    f.write(_json.dumps({"id": i, "val": i * 2}) + "\n")
        os.rename(fpath + ".tmp", fpath)
    df = (
        spark.read.schema("id bigint, val bigint, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(fpath)
    )
    return df.groupBy(
        F.when(F.col("_bad").isNotNull(), "corrupt").otherwise("good").alias("status")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.coalesce("id", F.lit(0))).cast("bigint").alias("id_sum"),
    )


@op(
    "sink_incremental_agg",
    oracle="""
    SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def sink_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the daily rollup is kept as parquet
    state; a new batch (here: the last ~20% of events by event_id) is
    aggregated alone and MERGED into the state by re-aggregating the
    union of partial aggregates — count and decimal-sum are decomposable,
    so the merge touches only (key × days-in-delta) rows, never the raw
    history. The incremental-ETL shape every 100 TB nightly pipeline uses;
    oracle = the full-history aggregate it must stay equal to."""
    e = load(spark, sf_dir).events
    cutoff = int(e.agg(F.expr("percentile(event_id, 0.8)")).collect()[0][0])

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
            F.count("*").cast("bigint").alias("cnt"),
            # partials stay DECIMAL so the merge re-aggregation is exact;
            # only the merged result is cast to double (driver-hashable)
            F.sum(F.col("value").cast("decimal(38,4)")).alias("sum_value"),
        )

    state_path = _scratch("incr_agg_state")
    rollup(e.where(F.col("event_id") <= cutoff)).write.mode("overwrite").parquet(state_path)
    delta = rollup(e.where(F.col("event_id") > cutoff))
    state = spark.read.parquet(state_path)
    return (
        state.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
    )


@op(
    "scan_custom_datasource",
    oracle="""
    SELECT i AS id, md5(CAST(i AS VARCHAR)) AS h,
           CAST(i % 4 AS INT) AS part
    FROM (SELECT unnest(generate_series(0, 3999)) AS i)
    """,
)
def scan_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python Data Source API (Spark ≥4): a
    deterministic generator source that plans 4 input partitions, each
    yielding its own id range — the extension point for sources Spark has
    no built-in reader for (internal APIs, exotic formats). Partition
    planning happens driver-side; each partition's read() runs distributed
    as an Arrow-fed Python task. Oracle regenerates the same rows
    arithmetically."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    N_PARTS, ROWS_PER_PART = 4, 1000

    class RangeMd5Reader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(N_PARTS)]

        def read(self, partition):
            import hashlib

            base = partition.value * ROWS_PER_PART
            for i in range(base, base + ROWS_PER_PART):
                yield (i, hashlib.md5(str(i).encode()).hexdigest(), i % N_PARTS)

    class RangeMd5Source(DataSource):
        @classmethod
        def name(cls):
            return "range_md5"

        def schema(self):
            return "id bigint, h string, part int"

        def reader(self, schema):
            return RangeMd5Reader()

    spark.dataSource.register(RangeMd5Source)
    return spark.read.format("range_md5").load()


@op(
    "scan_dpp_join",
    oracle="""
    WITH hot AS (
      SELECT DISTINCT year(o_orderdate) AS dyr FROM orders WHERE o_totalprice > 450000
    )
    SELECT CAST(year(o.o_orderdate) AS INT) AS yr, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS total
    FROM orders o JOIN hot h ON year(o.o_orderdate) = h.dyr
    GROUP BY 1
    """,
)
def scan_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the partitioned fact tree is joined to a
    dim whose qualifying years are only known at runtime — Spark injects a
    ``dynamicpruningexpression(yr IN <broadcast subquery>)`` into the
    fact scan's PartitionFilters (asserted in tests/test_plans.py), so
    only the matching yr= directories are read. THE feature that makes
    star joins over date-partitioned 100 TB facts read days, not decades;
    it composes with static pruning (scan_partition_pruning) and AQE."""
    path = _scratch(f"dpp_facts_{os.path.basename(os.path.normpath(sf_dir))}")
    o = read_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        o.withColumn("yr", F.year("o_orderdate")).write.mode("overwrite").partitionBy("yr").parquet(path)
    facts = spark.read.parquet(path)
    dim = (
        o.where(F.col("o_totalprice") > 450000)
        .select(F.year("o_orderdate").alias("dyr"))
        .distinct()
    )
    return (
        facts.join(dim, facts.yr == dim.dyr)
        .groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("total"),
        )
    )


_SCD2_HIST_CTE = """
    WITH chg AS (
      SELECT o_custkey AS k, round(max(o_totalprice), 2) AS new_bal
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
    ), base AS (
      SELECT c.c_custkey, c.c_acctbal, chg.new_bal,
             (chg.k IS NOT NULL AND chg.new_bal IS DISTINCT FROM c.c_acctbal) AS changed
      FROM customer c LEFT JOIN chg ON chg.k = c.c_custkey
    ), hist AS (
      SELECT c_custkey, c_acctbal, 1 AS version,
             TIMESTAMP '1995-01-01' AS valid_from,
             CASE WHEN changed THEN TIMESTAMP '2000-01-01' END AS valid_to,
             NOT changed AS is_current
      FROM base
      UNION ALL
      SELECT c_custkey, new_bal, 2, TIMESTAMP '2000-01-01', CAST(NULL AS TIMESTAMP), true
      FROM base WHERE changed
    )
"""


@op(
    "sink_scd2",
    oracle=_SCD2_HIST_CTE
    + """
    SELECT c_custkey, c_acctbal, CAST(version AS INT) AS version,
           valid_from, valid_to, is_current
    FROM hist
    """,
)
def sink_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 versioning on plain parquet (r8
    addition; the temporal complement of ``sink_merge_upsert``'s SCD-1
    overwrite): a deterministic change feed (each customer's max completed
    order price) closes the current version of every changed customer
    (valid_to = the effective date, is_current = false) and appends a new
    open version — unchanged customers keep their single open row. The
    versioned dimension is rewritten to the sink and read back, so history
    queries (``AS OF`` = ``valid_from <= d < coalesce(valid_to, 'inf')``)
    run against the lake copy.

    Scale: one shuffle each for the change-feed groupBy and the merge-key
    left join (one-sided with a bucketed target, see sink_bucketed_join);
    version rows are generated map-side from the joined frame — no window
    over history is needed because SCD-2 rewrites touch only the CURRENT
    version of each key, however long the history grows. Oracle computes
    the identical versioned state."""
    return spark.read.parquet(_write_scd2(spark, sf_dir))


def _write_scd2(spark: SparkSession, sf_dir: str) -> str:
    """Build + persist the versioned customer dimension; returns its path.
    Shared by sink_scd2 (full-history readback proof) and scan_scd2_asof
    (the AS OF snapshot read)."""
    t = load(spark, sf_dir)
    eff = F.lit("2000-01-01").cast("timestamp")
    chg = (
        t.orders.where(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.round(F.max("o_totalprice"), 2).alias("new_bal"))
    )
    base = t.customer.join(chg, t.customer.c_custkey == chg.k, "left").select(
        "c_custkey",
        "c_acctbal",
        "new_bal",
        (
            F.col("k").isNotNull() & ~F.col("new_bal").eqNullSafe(F.col("c_acctbal"))
        ).alias("changed"),
    )
    closed = base.select(
        "c_custkey",
        "c_acctbal",
        F.lit(1).cast("int").alias("version"),
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.when(F.col("changed"), eff).alias("valid_to"),
        (~F.col("changed")).alias("is_current"),
    )
    opened = base.where("changed").select(
        "c_custkey",
        F.col("new_bal").alias("c_acctbal"),
        F.lit(2).cast("int").alias("version"),
        eff.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    path = _scratch("scd2_customer")
    closed.unionByName(opened).write.mode("overwrite").parquet(path)
    return path


@op(
    "scan_scd2_asof",
    oracle=_SCD2_HIST_CTE
    + """
    , snaps AS (SELECT unnest([TIMESTAMP '1997-06-01', TIMESTAMP '2005-06-01']) AS asof)
    SELECT s.asof, h.c_custkey, h.c_acctbal, CAST(h.version AS INT) AS version
    FROM snaps s JOIN hist h
      ON h.valid_from <= s.asof AND (h.valid_to IS NULL OR s.asof < h.valid_to)
    """,
)
def scan_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD-2 lake table — the AS OF read sink_scd2's
    docstring promises: for a snapshot instant, each key's single version
    with ``valid_from <= asof < coalesce(valid_to, inf)``. Two snapshots
    are graded in one pass (1997-06-01: every key still on version 1;
    2005-06-01: changed keys on version 2) so both the closed-row and
    open-row predicate branches are exercised — the query shape behind
    "what did this customer profile look like when the model trained?",
    i.e. the dimension-side half of point-in-time correctness
    (feat_point_in_time is the fact-side half).

    Scale: each snapshot is a LITERAL data-column filter pushed to the
    parquet scan of the versioned table (PushedFilters on
    valid_from/valid_to — plan-tested; no join, no window: version
    validity is row-local by SCD-2 construction); a production table
    would also partition on a valid_from date bucket so old snapshots
    prune files. Snapshots are one union branch each, so k snapshots =
    k pruned scans, not a spine join that drags every version row."""
    path = _write_scd2(spark, sf_dir)
    branches = []
    for asof in ("1997-06-01", "2005-06-01"):
        ts = F.lit(asof).cast("timestamp")
        back = spark.read.parquet(path)
        branches.append(
            back.where(
                (F.col("valid_from") <= ts) & (F.col("valid_to").isNull() | (ts < F.col("valid_to")))
            ).select(
                ts.alias("asof"),
                "c_custkey",
                "c_acctbal",
                F.col("version").cast("int").alias("version"),
            )
        )
    return branches[0].unionByName(branches[1])


# Deep (4-version) SCD-2 history for the retention/vacuum surface: the
# sink_scd2 build (feed 1: max F-order price, eff 2000-01-01) plus two more
# change feeds applied through the SAME scd2_merge_frame the streaming merge
# uses (feed 2: max O-order price, eff 2003-01-01; feed 3: max P-order
# price, eff 2003-09-01). This spreads valid_to across {2000-01-01,
# 2003-01-01, 2003-09-01, NULL} so a 2003-06-01 retention watermark
# exercises every vacuum path: a wholly-expired year partition, a boundary
# partition that straddles the watermark, and untouched newer/open
# partitions.
_SCD2_DEEP_CTE = _SCD2_HIST_CTE + """
    , chg2 AS (
      SELECT o_custkey AS k, round(max(o_totalprice), 2) AS new_bal
      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
    ), hist2 AS (
      SELECT h.c_custkey, h.c_acctbal, h.version, h.valid_from,
             CASE WHEN c2.k IS NOT NULL AND h.is_current
                       AND c2.new_bal IS DISTINCT FROM h.c_acctbal
                  THEN TIMESTAMP '2003-01-01' ELSE h.valid_to END AS valid_to,
             CASE WHEN c2.k IS NOT NULL AND h.is_current
                       AND c2.new_bal IS DISTINCT FROM h.c_acctbal
                  THEN false ELSE h.is_current END AS is_current
      FROM hist h LEFT JOIN chg2 c2 ON c2.k = h.c_custkey
      UNION ALL
      SELECT h.c_custkey, c2.new_bal, h.version + 1, TIMESTAMP '2003-01-01',
             CAST(NULL AS TIMESTAMP), true
      FROM hist h JOIN chg2 c2 ON c2.k = h.c_custkey
      WHERE h.is_current AND c2.new_bal IS DISTINCT FROM h.c_acctbal
    ), chg3 AS (
      SELECT o_custkey AS k, round(max(o_totalprice), 2) AS new_bal
      FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey
    ), hist3 AS (
      SELECT h.c_custkey, h.c_acctbal, h.version, h.valid_from,
             CASE WHEN c3.k IS NOT NULL AND h.is_current
                       AND c3.new_bal IS DISTINCT FROM h.c_acctbal
                  THEN TIMESTAMP '2003-09-01' ELSE h.valid_to END AS valid_to,
             CASE WHEN c3.k IS NOT NULL AND h.is_current
                       AND c3.new_bal IS DISTINCT FROM h.c_acctbal
                  THEN false ELSE h.is_current END AS is_current
      FROM hist2 h LEFT JOIN chg3 c3 ON c3.k = h.c_custkey
      UNION ALL
      SELECT h.c_custkey, c3.new_bal, h.version + 1, TIMESTAMP '2003-09-01',
             CAST(NULL AS TIMESTAMP), true
      FROM hist2 h JOIN chg3 c3 ON c3.k = h.c_custkey
      WHERE h.is_current AND c3.new_bal IS DISTINCT FROM h.c_acctbal
    )
"""

SCD2_RETENTION_WATERMARK = "2003-06-01"


def _write_scd2_deep(spark: SparkSession, sf_dir: str) -> str:
    """Build + persist the 4-version customer dimension, PARTITIONED BY
    the year its version closed (``vt_year``; open versions land in the
    9999 partition) — the layout the vacuum prunes on. Feeds 2 and 3 go
    through streaming.scd2_merge_frame, so this history is row-for-row
    what the incremental merge loop would have produced."""
    from .streaming import scd2_merge_frame

    t = load(spark, sf_dir)
    hist = spark.read.parquet(_write_scd2(spark, sf_dir))
    for status, eff in (("O", "2003-01-01"), ("P", "2003-09-01")):
        feed = (
            t.orders.where(F.col("o_orderstatus") == status)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(F.round(F.max("o_totalprice"), 2).alias("new_bal"))
        )
        hist = scd2_merge_frame(hist, feed, F.lit(eff).cast("timestamp"))
    path = _scratch("scd2_customer_deep")
    (
        hist.withColumn("vt_year", F.coalesce(F.year("valid_to"), F.lit(9999)))
        .repartition("vt_year")
        .sortWithinPartitions("c_custkey", "version")
        .write.mode("overwrite")
        .partitionBy("vt_year")
        .parquet(path)
    )
    return path


def _scd2_vacuum(spark: SparkSession, path: str, watermark: str) -> None:
    """Expire every version closed before ``watermark`` from a
    vt_year-partitioned SCD-2 table, in the cheapest physical form each
    partition allows:

    1. a partition whose year is wholly below the watermark year is
       dropped by METADATA alone (rmtree, zero rows read) — at 100 TB
       this is where almost all expired mass lives, so vacuum cost is
       O(expired partitions), not O(table);
    2. the single BOUNDARY partition (vt_year == watermark year) is
       rewritten survivor-only via dynamic partition overwrite — the only
       row-level work, bounded by one year of closures — or removed
       outright when nothing in it survives;
    3. newer-closed and open (9999) partitions are never touched — the
       invariant test pins them byte-identical pre/post.

    Crash-recovery contract (the sink_ivf_delete discipline): re-running
    the vacuum from ANY intermediate state is safe and convergent — the
    wholly-expired drops are rmtree-idempotent, and the boundary rewrite
    recomputes survivors from the current on-disk state (already-purged
    partitions rewrite to themselves). As-of reads inside retention are
    correct in every intermediate state because vacuum only ever removes
    rows no inside-retention snapshot can match
    (valid_to < watermark <= asof < valid_to is unsatisfiable)."""
    import shutil as _sh

    wm_year = int(watermark[:4])
    years = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith("vt_year=")
    )
    for y in years:
        if y != 9999 and y < wm_year:
            _sh.rmtree(os.path.join(path, f"vt_year={y}"), ignore_errors=True)
    if wm_year in years:
        wm = F.lit(watermark).cast("timestamp")
        boundary = spark.read.parquet(path).where(F.col("vt_year") == wm_year)
        survivors = pin(boundary.where(F.col("valid_to") >= wm))  # breaks lineage from `path` so the overwrite below is legal
        if survivors.limit(1).count() > 0:
            (
                survivors.repartition("vt_year")
                .sortWithinPartitions("c_custkey", "version")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("vt_year")
                .parquet(path)
            )
        else:
            _sh.rmtree(os.path.join(path, f"vt_year={wm_year}"), ignore_errors=True)


@op(
    "sink_scd2_vacuum",
    oracle=_SCD2_DEEP_CTE
    + """
    SELECT c_custkey, c_acctbal, CAST(version AS INT) AS version,
           valid_from, valid_to, is_current
    FROM hist3
    WHERE valid_to IS NULL OR valid_to >= TIMESTAMP '2003-06-01'
    """,
)
def sink_scd2_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History RETENTION for the SCD-2 temporal surface (VERDICT r12
    missing item 4): without a vacuum verb the versioned dimension grows
    without bound — at 100 TB the history table is mostly versions no
    query inside the retention window can ever match. This op expires
    every version closed before the retention watermark
    (``valid_to < '2003-06-01'``) from a 4-version history built through
    the same merge frame the streaming SCD-2 loop uses, exercising all
    three vacuum paths: the 2000 partition is dropped by metadata alone,
    the 2003 boundary partition (holding both expired 2003-01-01 and
    surviving 2003-09-01 closures) is rewritten survivor-only, and the
    open partition is untouched.

    Retention correctness: an AS OF query at any instant inside retention
    (asof >= watermark) matches only rows with valid_to > asof >=
    watermark or open rows — exactly the rows vacuum keeps — so every
    inside-retention snapshot is identical pre/post (pinned by
    tests/test_invariants.py::test_scd2_vacuum_retention_contract,
    together with byte-identity of the untouched open partition and
    physical absence of out-of-retention history). Oracle recomputes the
    3-feed merge chain relationally and applies the retention predicate."""
    path = _write_scd2_deep(spark, sf_dir)
    _scd2_vacuum(spark, path, SCD2_RETENTION_WATERMARK)
    return spark.read.parquet(path).select(
        "c_custkey",
        "c_acctbal",
        F.col("version").cast("int").alias("version"),
        "valid_from",
        "valid_to",
        "is_current",
    )


@op(
    "catalog_analyze_cbo",
    oracle="""
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
)
def catalog_analyze_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stats-aware planning surface: fact + dim saved as managed
    tables, ``ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS``
    (row counts + per-column NDV/min/max/null histograms into the
    catalog), then a selective-filter join planned under
    ``spark.sql.cbo.enabled`` — the configuration where Catalyst's
    FilterEstimation can see that ``o_orderpriority = '1-URGENT'`` keeps
    ~1/5 of orders and size the join build side accordingly. The graded
    output is the query RESULT (plan-independent, decimal-exact — the
    correctness contract survives any strategy choice);
    tests/test_plans.py::test_cbo_stats_flip_join_strategy proves the
    PLAN consequence on a controlled fixture: the same selective join
    stays SortMergeJoin without column stats and becomes
    BroadcastHashJoin once ANALYZE runs. At 100 TB, stats collection is
    the cheap standing job (one scan per table per refresh) that buys
    every downstream query CBO join sizing + reordering for free.

    The query runs on a private ``spark.newSession()`` with the two CBO
    confs set (the joins._bloom_session pattern): the managed tables and
    their statistics live in the shared catalog, the confs stay out of the
    caller's session, and the returned frame is optimized under its own
    session's confs whenever it executes."""
    t = load(spark, sf_dir)
    base = _scratch("cbo_tables")
    for tbl, df in (("up_cbo_orders", t.orders), ("up_cbo_lineitem", t.lineitem)):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        # external table (option path) — the sink_bucketed_join convention:
        # the derby catalog is per-process but the warehouse dir persists,
        # so a MANAGED saveAsTable would hit LOCATION_ALREADY_EXISTS on the
        # next process. External + overwrite is restart-safe.
        df.write.mode("overwrite").option("path", os.path.join(base, tbl)).saveAsTable(tbl)
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
    cbo = spark.newSession()
    cbo.conf.set("spark.sql.cbo.enabled", "true")
    cbo.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    return cbo.sql(
        """
        SELECT l.l_returnflag,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(38,4))) AS STRING) AS DOUBLE) AS sum_qty
        FROM up_cbo_lineitem l JOIN up_cbo_orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY l.l_returnflag
        """
    )


@op(
    "scan_cdc_changefeed",
    oracle="""
    WITH mid AS (
      SELECT CAST(to_timestamp((epoch(min(o_orderdate)) + epoch(max(o_orderdate))) // 2) AS TIMESTAMP) AS m
      FROM orders
    ), v1 AS (
      SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS cnt,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS spend
      FROM orders, mid WHERE o_orderdate <= mid.m GROUP BY o_custkey
    ), v2 AS (
      SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS cnt,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS spend
      FROM orders GROUP BY o_custkey
    )
    SELECT coalesce(v2.k, v1.k) AS k,
           CASE WHEN v1.k IS NULL THEN 'I'
                WHEN v2.k IS NULL THEN 'D'
                ELSE 'U' END AS change_type,
           v1.cnt AS old_cnt, v2.cnt AS new_cnt,
           v1.spend AS old_spend, v2.spend AS new_spend
    FROM v1 FULL JOIN v2 ON v1.k = v2.k
    WHERE v1.k IS NULL OR v2.k IS NULL
       OR v1.cnt <> v2.cnt OR v1.spend <> v2.spend
    """,
)
def scan_cdc_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-diff CDC: the row-level change feed between two versions of a
    keyed state table — the artifact that feeds every MERGE/SCD consumer
    when the source system ships snapshots instead of a log. Version 1 is
    the per-customer order rollup as of the epoch midpoint (the
    dq_feature_psi time-split convention), version 2 the full-history
    rollup; the feed is a full outer join on the key emitting 'I'
    (key absent in v1) and 'U' (payload changed) rows with old/new
    payloads, suppressing unchanged keys; a key present only in v1 emits
    a 'D' row (the fixture's append-only feed never produces one, but the
    branch is implemented, not assumed — a deleting source hits it).

    Scale: both versions aggregate map-side onto the key before the join,
    so the diff shuffles key-cardinality rows, not fact rows; the full
    join is one co-partitioned sort-merge. The decimal-exact spend makes
    'payload changed' a bit-stable predicate — a float rollup would emit
    phantom updates."""
    o = load(spark, sf_dir).orders
    mid = o.agg(
        F.timestamp_seconds(
            ((F.unix_timestamp(F.min("o_orderdate")) + F.unix_timestamp(F.max("o_orderdate"))) / 2)
            .cast("bigint")
        ).alias("m")
    )
    def rollup(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("spend"),
        )
    v1 = rollup(o.crossJoin(F.broadcast(mid)).where(F.col("o_orderdate") <= F.col("m")))
    v2 = rollup(o)
    a, b = v1.alias("a"), v2.alias("b")
    j = a.join(b, F.col("a.k") == F.col("b.k"), "full")
    changed = (
        F.col("a.k").isNull()
        | F.col("b.k").isNull()
        | (F.col("a.cnt") != F.col("b.cnt"))
        | (F.col("a.spend") != F.col("b.spend"))
    )
    return j.where(changed).select(
        F.coalesce(F.col("b.k"), F.col("a.k")).alias("k"),
        F.when(F.col("a.k").isNull(), "I")
        .when(F.col("b.k").isNull(), "D")
        .otherwise("U")
        .alias("change_type"),
        F.col("a.cnt").alias("old_cnt"),
        F.col("b.cnt").alias("new_cnt"),
        F.col("a.spend").alias("old_spend"),
        F.col("b.spend").alias("new_spend"),
    )


# ---------------------------------------------------------------------------
# Versioned snapshot table (time travel). The lakehouse commit protocol
# re-expressed on plain parquet, public-design-only (the Iceberg/Delta idea:
# a table IS a sequence of manifests over immutable data files):
#
#   <root>/data/v{N}/part-*.parquet    immutable data files of a one-part table
#   <root>/data/<part>/v={N}/...       immutable files of one named part of a
#                                      multi-part table (an ANN index: cells +
#                                      centroids, codes + codebooks, ...)
#   <root>/manifests/v{N}.json         the snapshot: ordered file list + op
#
# A commit writes NEW files, then publishes the manifest by tmp-write +
# os.rename — the single atomic commit point. The latest version is the
# highest published manifest; there is no second pointer to fall out of
# step with it. A crash before the rename leaves orphan data files that no
# reader can see; the table stays on the parent snapshot, and expiry
# removes the orphans. Readers never list directories — they read exactly
# the manifest's file set, so concurrent commits can never tear a scan.
# A named part's version directory sits BELOW the part as ``v={N}`` so one
# scan with basePath ``data/<part>`` reads files carried from several
# versions and still discovers the part's own partition columns (``cell``).

import glob as _glob
import json as _json


def _snapshot_root() -> str:
    return _scratch("snapshot_table")


def _snapshot_data_dir(root: str, version: int, part: str | None = None) -> str:
    if part is None:
        return os.path.join(root, "data", f"v{version}")
    return os.path.join(root, "data", part, f"v={version}")


def _snapshot_in_parts(*parts: str):
    """Predicate over manifest (root-relative) paths: the file belongs to
    one of the named ``parts``."""
    prefixes = tuple(os.path.join("data", p, "") for p in parts)
    return lambda f: f.startswith(prefixes)


def _snapshot_commit(
    spark: SparkSession,
    root: str,
    version: int,
    new_data,
    carry_files: list[str],
    op_name: str,
    write_mode: str = "error",
) -> list[str]:
    """Run one commit: write ``new_data`` (if any) as the version's
    immutable file set, publish manifest = carry_files + new files via
    the atomic rename. Returns the committed file list (root-relative).
    ``new_data`` is a DataFrame (a one-part table) or a dict of part name
    to DataFrame or DataFrameWriter (a multi-part table; a writer carries
    its own layout, e.g. ``partitionBy("cell")``).
    ``write_mode="overwrite"`` is the re-run form: a retried commit
    rewrites ITS OWN data dirs and re-renames its manifest — both
    idempotent, which is what makes a foreachBatch commit exactly-once
    (stream_snapshot_commits) and a crashed index mutation re-runnable."""
    files = list(carry_files)
    if new_data is not None:
        parts = new_data if isinstance(new_data, dict) else {None: new_data}
        for part, data in parts.items():
            data_dir = _snapshot_data_dir(root, version, part)
            writer = data.write if isinstance(data, DataFrame) else data
            writer.mode(write_mode).parquet(data_dir)
            files += sorted(
                os.path.relpath(p, root)
                for p in _glob.glob(os.path.join(data_dir, "**", "part-*.parquet"), recursive=True)
            )
    man_dir = os.path.join(root, "manifests")
    os.makedirs(man_dir, exist_ok=True)
    tmp = os.path.join(man_dir, f".v{version}.json.tmp")
    with open(tmp, "w") as f:
        _json.dump({"version": version, "op": op_name, "files": files}, f)
    os.rename(tmp, os.path.join(man_dir, f"v{version}.json"))  # THE commit point
    return files


def _snapshot_latest(root: str) -> int:
    """The latest committed version: the highest published manifest (0 when
    the table has none)."""
    paths = _glob.glob(os.path.join(root, "manifests", "v*.json"))
    return max((int(os.path.basename(p)[1:-5]) for p in paths), default=0)


def _snapshot_manifest(root: str, version: int | None = None) -> dict:
    """One version's manifest; ``None`` is the latest committed version."""
    if version is None:
        version = _snapshot_latest(root)
    with open(os.path.join(root, "manifests", f"v{version}.json")) as f:
        return _json.load(f)


def _snapshot_read(
    spark: SparkSession, root: str, version: int | None = None, part: str | None = None
) -> DataFrame:
    """Time-travel read: exactly the manifest's file set, nothing listed.
    ``version=None`` reads the latest committed version; ``part`` reads one
    named part, with its partition columns (``cell``) discovered from the
    paths below ``data/<part>`` and the version column dropped."""
    files = _snapshot_manifest(root, version)["files"]
    if part is None:
        return spark.read.parquet(*[os.path.join(root, f) for f in files])
    in_part = _snapshot_in_parts(part)
    return (
        spark.read.option("basePath", os.path.join(root, "data", part))
        .parquet(*[os.path.join(root, f) for f in files if in_part(f)])
        .drop("v")
    )


_SNAPSHOT_COLS = ("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


def _build_snapshot_table(spark: SparkSession, sf_dir: str) -> str:
    """Build the four-version history the snapshot ops grade:

      v1 initial load:   the customer table                       (new F1)
      v2 append:         + supplier rows mapped into the schema    (new F2)
      v3 COW delete:     − the BUILDING segment — F1 is REWRITTEN
                         filtered (new F3); F2 carried over; F1
                         stays on disk, owned by v1/v2 only
      v4 file rollback:  − the whole v2 load (bad batch): manifest
                         drops F2, ZERO data I/O (new files: none)

    Three commit kinds on one table: append-only, copy-on-write
    rewrite, and metadata-only file drop — each version remains
    readable forever (data files are immutable)."""
    t = load(spark, sf_dir)
    root = _snapshot_root()
    cust = t.customer.select(*_SNAPSHOT_COLS)
    ins = t.supplier.select(
        (F.col("s_suppkey") + 10_000_000).alias("c_custkey"),
        F.col("s_name").alias("c_name"),
        F.col("s_acctbal").alias("c_acctbal"),
        F.lit("INSERTED").alias("c_mktsegment"),
    )
    f1 = _snapshot_commit(spark, root, 1, cust, [], "initial-load")
    f2 = _snapshot_commit(spark, root, 2, ins, f1, "append")
    f2_only = [f for f in f2 if f not in f1]
    f3 = _snapshot_commit(
        spark,
        root,
        3,
        _snapshot_read(spark, root, 1).where(F.col("c_mktsegment") != "BUILDING"),
        f2_only,
        "cow-delete",
    )
    _snapshot_commit(spark, root, 4, None, [f for f in f3 if f not in f2_only], "drop-files")
    return root


@op(
    "sink_snapshot_versioned",
    oracle="""
    WITH cust AS (SELECT c_acctbal AS bal, c_mktsegment AS seg FROM customer),
         ins AS (SELECT s_acctbal AS bal, 'INSERTED' AS seg FROM supplier),
         v1 AS (SELECT * FROM cust),
         v2 AS (SELECT * FROM cust UNION ALL SELECT * FROM ins),
         v3 AS (SELECT * FROM cust WHERE seg <> 'BUILDING' UNION ALL SELECT * FROM ins),
         v4 AS (SELECT * FROM cust WHERE seg <> 'BUILDING')
    SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(sum(CAST(bal AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS bal_sum FROM v1
    UNION ALL SELECT 2, CAST(count(*) AS BIGINT),
           CAST(CAST(sum(CAST(bal AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) FROM v2
    UNION ALL SELECT 3, CAST(count(*) AS BIGINT),
           CAST(CAST(sum(CAST(bal AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) FROM v3
    UNION ALL SELECT 4, CAST(count(*) AS BIGINT),
           CAST(CAST(sum(CAST(bal AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) FROM v4
    """,
)
def sink_snapshot_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned snapshot table with TIME TRAVEL — the lakehouse commit
    protocol on plain parquet (no table-format dependency): immutable
    data files + per-version manifests published by atomic rename, so
    every historical version stays readable after later commits and no
    reader can ever see a torn or in-flight state. Four commits exercise
    the three commit kinds (append-only / copy-on-write delete /
    metadata-only file rollback — the last rewrites ZERO bytes of data);
    the result reads EVERY version back through its manifest and rolls
    each up — four distinct states from one table, which is the whole
    point of the structure.

    At 100 TB: commits are O(changed files) + one manifest rename, never
    O(table); manifests are metadata (file lists), read driver-side like
    every table format's planning step; scans read exactly the
    manifest's file set, so version reads cost what that version's data
    costs. Orphan-file invisibility, historical immutability and the
    zero-I/O rollback claim are pinned by
    tests/test_invariants.py::test_snapshot_commit_protocol."""
    root = _build_snapshot_table(spark, sf_dir)
    parts = []
    for v in (1, 2, 3, 4):
        parts.append(
            _snapshot_read(spark, root, v).agg(
                F.lit(v).alias("version"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.col("c_acctbal").cast("decimal(38,4)")).cast("double").alias("bal_sum"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@op(
    "scan_time_travel",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
    UNION ALL
    SELECT s_suppkey + 10000000, s_name, s_acctbal, 'INSERTED' FROM supplier
    """,
)
def scan_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level time travel: serve version 2 — the full pre-delete,
    pre-rollback state — AFTER commits 3 and 4 landed. Because data
    files are immutable and the manifest pins v2's exact file set, the
    historical read is bit-faithful no matter what later commits did to
    the live table (audit reads, reproducible training snapshots,
    incident forensics — the queries a mutable table cannot answer).
    The oracle recomputes v2 relationally: customers ∪ the mapped
    supplier load."""
    root = _build_snapshot_table(spark, sf_dir)
    return _snapshot_read(spark, root, 2)


@op(
    "sink_snapshot_expire",
    oracle="""
    WITH cust AS (SELECT c_acctbal AS bal, c_mktsegment AS seg FROM customer),
         ins AS (SELECT s_acctbal AS bal, 'INSERTED' AS seg FROM supplier),
         v3 AS (SELECT * FROM cust WHERE seg <> 'BUILDING' UNION ALL SELECT * FROM ins),
         v4 AS (SELECT * FROM cust WHERE seg <> 'BUILDING')
    SELECT 3 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(sum(CAST(bal AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS bal_sum FROM v3
    UNION ALL SELECT 4, CAST(count(*) AS BIGINT),
           CAST(CAST(sum(CAST(bal AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) FROM v4
    """,
)
def sink_snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot EXPIRE / vacuum — the retention verb of the snapshot
    table (the sink_scd2_vacuum discipline applied to file-level
    history): retire manifests v1/v2, then delete every data file no
    SURVIVING manifest references. Order matters — manifests retire
    FIRST (tmp-rename into manifests_expired/, atomic each), so a crash
    mid-vacuum leaves only unreferenced-but-present files (re-run
    completes the sweep; readers of live versions never break). On the
    graded history the sweep reclaims F1 (only v1/v2 held it — the COW
    rewrite F3 superseded it) and F2 (the rolled-back bad load), i.e.
    every byte the rollback and the delete logically dropped is now
    physically gone — the GDPR-style end state. Live versions 3 and 4
    roll up unchanged (the oracle); file-level reclamation and
    post-expire readability are pinned by
    tests/test_invariants.py::test_snapshot_expire_reclaims_files."""
    root = _build_snapshot_table(spark, sf_dir)
    _snapshot_expire(root, keep_from=3)
    parts = []
    for v in (3, 4):
        parts.append(
            _snapshot_read(spark, root, v).agg(
                F.lit(v).alias("version"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.col("c_acctbal").cast("decimal(38,4)")).cast("double").alias("bal_sum"),
            )
        )
    return parts[0].unionAll(parts[1])


def _snapshot_expire(root: str, keep_from: int) -> list[str]:
    """Expire snapshots below ``keep_from``; delete every data file not
    referenced by a surviving manifest, then every data directory left
    with no data file. Returns the deleted (root-relative) files.

    The sweep is computed as DISK FILES − LIVE REFERENCES, not from the
    expired manifests' file lists: after a crash between manifest
    retirement and the file sweep, a re-run would otherwise miss any
    file referenced only by an already-retired manifest (the expired set
    would no longer mention it) and strand it forever. Disk-minus-live
    also reclaims orphans from commits that crashed before their
    manifest rename. Single-writer discipline assumed (the table's
    standing convention): no commit may be staging files while a vacuum
    runs, else its un-published files would be swept."""
    man_dir = os.path.join(root, "manifests")
    retired_dir = os.path.join(root, "manifests_expired")
    os.makedirs(retired_dir, exist_ok=True)
    for path in sorted(_glob.glob(os.path.join(man_dir, "v*.json"))):
        if int(os.path.basename(path)[1:-5]) < keep_from:
            os.rename(path, os.path.join(retired_dir, os.path.basename(path)))
    live: set[str] = set()
    for path in _glob.glob(os.path.join(man_dir, "v*.json")):
        with open(path) as f:
            live |= set(_json.load(f)["files"])
    data_root = os.path.join(root, "data")
    on_disk = {
        os.path.relpath(p, root)
        for p in _glob.glob(os.path.join(data_root, "**", "part-*.parquet"), recursive=True)
    }
    dropped = sorted(on_disk - live)
    for rel in dropped:
        os.remove(os.path.join(root, rel))
    for d, _, _ in os.walk(data_root, topdown=False):
        if d != data_root and not _glob.glob(os.path.join(d, "**", "part-*.parquet"), recursive=True):
            shutil.rmtree(d)
    return dropped


def _snapshot_diff_files(root: str, v_old: int, v_new: int) -> tuple[list, list, list]:
    """(only_old, only_new, shared): the manifest-level file partition of
    a version pair. Because data files are immutable, a file in BOTH
    manifests contributes identical rows to both sides and can never
    appear in the row diff — the diff only ever reads the symmetric
    difference. Pure metadata (two file lists)."""
    mo = set(_snapshot_manifest(root, v_old)["files"])
    mn = set(_snapshot_manifest(root, v_new)["files"])
    return sorted(mo - mn), sorted(mn - mo), sorted(mo & mn)


@op(
    "scan_snapshot_diff",
    oracle="""
    SELECT 'delete' AS change_type, c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def scan_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption from the snapshot table: the exact
    row-level change set between two versions (here v2 → v3, the COW
    delete), derived WITHOUT a changefeed — the consumer that missed the
    live stream reconstructs it from history (backfills, downstream lake
    syncs, audit diffs; the scan_cdc_changefeed story, answered from
    manifests instead of a log).

    The manifest-aware pruning is the scale story: immutable files
    present in BOTH manifests cancel exactly, so the diff reads ONLY the
    symmetric-difference file sets (_snapshot_diff_files — here F1 vs its
    filtered rewrite F3; the untouched append F2 is never opened) and
    EXCEPT ALLs the two sides. Diff cost is O(changed files), never
    O(table) — on a 100 TB table where a commit rewrote one partition,
    the diff reads one partition. Pinned by
    tests/test_invariants.py::test_snapshot_diff_prunes_shared_files."""
    root = _build_snapshot_table(spark, sf_dir)
    only_old, only_new, _ = _snapshot_diff_files(root, 2, 3)

    def _side(files: list) -> DataFrame:
        if not files:
            return spark.createDataFrame(
                [], "c_custkey bigint, c_name string, c_acctbal double, c_mktsegment string"
            )
        return spark.read.parquet(*[os.path.join(root, f) for f in files])

    old, new = _side(only_old), _side(only_new)
    removed = old.exceptAll(new).select(F.lit("delete").alias("change_type"), *_SNAPSHOT_COLS)
    added = new.exceptAll(old).select(F.lit("insert").alias("change_type"), *_SNAPSHOT_COLS)
    return removed.unionAll(added)


@op(
    "stream_snapshot_commits",
    oracle="""
    SELECT event_id, event_type, value FROM events
    """,
)
def stream_snapshot_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO the versioned snapshot table: each
    micro-batch lands as one atomic snapshot commit (data dir + manifest
    rename inside foreachBatch), so downstream readers always see a
    consistent version, can time-travel to any batch boundary, and the
    changefeed between consecutive versions IS the micro-batch — the
    lakehouse streaming-sink topology (a streaming writer committing
    table versions), built from the same _snapshot_commit protocol as
    the batch table.

    Exactly-once: version = batch_id + 1; a retried batch overwrites ITS
    OWN data dir and re-renames its own manifest — both idempotent (the
    per-batch-overwrite discipline of stream_ivf_append, here with the
    manifest rename as the visibility point). The shuffled staging
    yields 4 data batches + sentinel, so the committed history is ≥ 2
    real versions deep (pinned, with per-version monotone growth and
    batch-boundary time travel, by
    tests/test_invariants.py::test_stream_snapshot_commit_history); the
    final version's read-back equals the batch projection (the oracle)."""
    from .streaming import _stage, _stream_events

    stage_dir, delay_s = _stage(sf_dir, "shuffled")
    src = _stream_events(spark, stage_dir, delay_s)
    root = _scratch("snapshot_stream")

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        version = batch_id + 1
        carry = _snapshot_manifest(root, version - 1)["files"] if version > 1 else []
        _snapshot_commit(
            spark,
            root,
            version,
            batch_df.where(F.col("event_id") != -1).select("event_id", "event_type", "value"),
            carry,
            "stream-append",
            write_mode="overwrite",
        )

    q = (
        src.writeStream.outputMode("append")
        .foreachBatch(commit_batch)
        .option("checkpointLocation", os.path.join(root, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _snapshot_read(spark, root)
