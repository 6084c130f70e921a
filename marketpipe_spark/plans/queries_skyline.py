"""Skyline (Pareto-frontier) queries over the TPC-H-shaped driver tables.

MarketPipe's ``query`` command accepts arbitrary analytical SQL
(reference: src/marketpipe/cli/query.py:11-40); the skyline is the classic
multi-objective "best trade-off" operator layered on such a store. Two
entries: a GLOBAL frontier (exercises the two-phase bucket-pruned
algorithm — the local prune is what keeps the final window from becoming a
whole-input single reducer at 100 TB) and a GROUPED frontier (windows
partitioned by the group key — the fully parallel Spark-natural form).

All criteria are integer-quantized (cents / epoch days / counts) so
dominance comparisons are exact on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..execution import pin
from ..operators.skyline import skyline2d, skyline2d_sql
from .registry import register, t

_ORDER_SRC_SQL = """
SELECT o_orderkey,
       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
       CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS order_day
FROM orders
"""

SQL_ORDER_SKYLINE = f"""
WITH {skyline2d_sql(_ORDER_SRC_SQL, "price_cents", "order_day")}
SELECT o_orderkey, price_cents, order_day FROM sky
"""


@register(
    "order_skyline",
    SQL_ORDER_SKYLINE,
    doc="global Pareto frontier of orders maximizing (total price, recency) — two-phase bucket-pruned skyline, exact integer dominance",
    tags=("skyline", "window"),
)
def q_order_skyline(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_cents"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("order_day"),
    )
    return skyline2d(src, "price_cents", "order_day").select(
        "o_orderkey", "price_cents", "order_day"
    )


_CUST_SRC_SQL = """
SELECT c_nationkey, c_custkey,
       CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_nationkey, c_custkey, c_acctbal
"""

SQL_NATION_CUSTOMER_SKYLINE = f"""
WITH {skyline2d_sql(_CUST_SRC_SQL, "bal_cents", "n_orders", by=["c_nationkey"])}
SELECT c_nationkey, c_custkey, bal_cents, n_orders FROM sky
"""


@register(
    "nation_customer_skyline",
    SQL_NATION_CUSTOMER_SKYLINE,
    doc="per-nation Pareto frontier of customers maximizing (account balance, order count) — grouped skyline, windows partitioned by nation",
    tags=("skyline", "window", "joins"),
)
def q_nation_customer_skyline(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    # skyline2d consumes its input twice (distinct points + the semi join
    # back onto the source rows): unpinned, the customer⋈orders join + agg
    # runs once per consumer. One narrow row per customer — pin it.
    src = pin(
        c.select("c_nationkey", "c_custkey", "c_acctbal")
        .join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_nationkey", "c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .select(
            "c_nationkey",
            "c_custkey",
            F.expr("CAST(FLOOR(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
            F.col("n_orders").cast("long").alias("n_orders"),
        )
    )
    return skyline2d(src, "bal_cents", "n_orders", by=["c_nationkey"]).select(
        "c_nationkey", "c_custkey", "bal_cents", "n_orders"
    )
