"""Sort / limit / top-k operators (SURVEY.md §2.6).

Scale notes: ``orderBy().limit(k)`` plans as TakeOrderedAndProject — each
partition keeps only its local top-k and the driver merges k·partitions
rows; no global sort ever materializes. That is the shape to prefer for any
global top-k at 100 TB (vs. a full sort, which shuffles everything).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ._util import money, sql_q, t


@register(
    "sort_multikey",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ORDER BY o_orderstatus DESC, o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort + limit; o_orderkey suffix makes the cut deterministic."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(
            F.col("o_orderstatus").desc_nulls_last(),
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey"),
        )
        .limit(100)
    )


@register(
    "topk_global",
    oracle="""
    SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
    FROM orders GROUP BY o_custkey
    ORDER BY total_spend DESC, o_custkey
    LIMIT 10
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by spend. Ordering on the ROUNDED sum + key suffix so
    the cut can't flip on float summation order across engines. Bench
    headline op — one SQL text (see ``sql_q``); same hash-aggregate +
    TakeOrderedAndProject plan as the groupBy/orderBy/limit chain."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
        FROM orders GROUP BY o_custkey
        ORDER BY total_spend DESC, o_custkey
        LIMIT 10
        """,
    )
