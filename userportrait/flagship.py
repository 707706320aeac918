"""Flagship query: per-customer portrait slice over the star schema.

One declarative plan answering the reference's core question ("who is this
customer, by region/segment, and what are their RFM numbers" — the
match+statistical tag families, SURVEY §0.1): dims (nation, region) broadcast,
facts aggregate on one shuffle key (o_custkey) in ``rfm_base``, decimal-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load
from .ops.portrait import rfm_base


def flagship_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    geo = t.customer.join(
        F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey
    ).join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        geo.join(rfm_base(spark, sf_dir), "c_custkey", "left")
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "c_mktsegment",
            F.coalesce("frequency", F.lit(0)).alias("frequency"),
            F.coalesce("monetary", F.lit(0).cast("double")).alias("monetary"),
            "recency_days",
        )
    )
