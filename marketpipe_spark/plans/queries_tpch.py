"""Relational queries over the TPC-H-ish driver tables.

MarketPipe's ``query`` command passes arbitrary SQL to its engine
(reference: src/marketpipe/cli/query.py:11-40), so general relational
capability — scans, predicates, joins, aggregation, top-k — is part of the
supported surface. These queries exercise that surface plus the internal
join/window shapes (J1-J5, W2, A9) on driver data.

Scale notes: dimension joins go through ``registry.dim_join`` — the
broadcast hint is applied only when the dim side's Catalyst size estimate
is under a configurable gate (constant-cardinality nation/region are
always broadcast; linearly-growing customer/part/supplier and filtered
derivatives are gated, above the gate AQE picks the strategy at runtime).
Fact-side aggregations pre-aggregate before joining where it shrinks the
shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..execution import spread
from .registry import dim_join, register, t, ts_ns_expr, ts_range_pred


# ---------------------------------------------------------------------------
# Flagship — pricing summary (TPC-H Q1 shape): wide aggregate over the
# biggest fact table; the reference analog is the per-frame OHLCV rollup.

SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", SQL_PRICING_SUMMARY, doc="TPC-H Q1-shape wide aggregate (flagship)", tags=("agg", "core"))
def q_pricing_summary(spark, sf_dir):
    # Keyless (round-robin) spread of the partial-agg stage: all sums are
    # exact decimals, so the order-insensitive rule holds.
    l = spread(
        t(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz")
        )
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count(F.lit(1))
    sum_qty = F.sum(F.col("l_quantity").cast("decimal(38,2)")).cast("double")
    sum_price = F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        sum_price.alias("sum_base_price"),
        F.sum(disc_price.cast("decimal(38,6)")).cast("double").alias("sum_disc_price"),
        F.sum(charge.cast("decimal(38,6)")).cast("double").alias("sum_charge"),
        (sum_qty / n).alias("avg_qty"),
        (sum_price / n).alias("avg_price"),
        (F.sum(F.col("l_discount").cast("decimal(38,6)")).cast("double") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Joins + top-k: revenue per customer (J-shape; O4 display limit).
# Pre-aggregates lineitem per order BEFORE joining (shrinks the join input),
# then broadcasts the customer dimension at bench scale.

SQL_TOP_CUSTOMERS = """
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS r
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
)
SELECT c_custkey, c_name, CAST(r AS DOUBLE) AS revenue
FROM rev JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, c_custkey
LIMIT 10
"""


@register("top_customers", SQL_TOP_CUSTOMERS, doc="join + top-k revenue per customer", tags=("join", "topk"))
def q_top_customers(spark, sf_dir):
    # Spread the fact scan on the PRE-AGG key: a coarse scan (one parquet
    # row group = one task) otherwise fuses the per-order partial agg into
    # a single-core stage. Hash partitioning on l_orderkey is deterministic
    # (retry-safe, no sort-before-repartition) and is exactly the groupBy's
    # required distribution, so the agg's own exchange is absorbed — same
    # exchange count, parallel agg (measured 0.76-0.91x; no-op at scale
    # where the scan already splits).
    #
    # Middle-regime trade (ADVICE r10): because the exchange lands BELOW
    # the aggregate, raw fact rows cross it instead of per-order partial
    # sums. That is free here (the alternative was a single-task agg) and
    # a no-op at real scale (guarded), but the shape should NOT be
    # cargo-culted to wider/filtered fact scans: in the in-between regime
    # where the scan yields a few large splits just under parallelism,
    # shuffling unaggregated rows loses to partial-agg-before-exchange.
    l = spread(t(spark, sf_dir, "lineitem"), "l_orderkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer")
    # Two-level pre-agg: per-order subtotals before the orders join (the
    # join output shrinks to |orders|), re-summed per customer after —
    # decimal sums are associative, so the result is bit-identical.
    per_order = l.groupBy("l_orderkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")).alias("r0")
    )
    rev = (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("r0").alias("r"))
    )
    return (
        dim_join(rev, c, rev.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", F.col("r").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Multi-join star query: revenue by region/nation (broadcast dims).

SQL_REGIONAL_REVENUE = """
SELECT r_name AS region, n_name AS nation,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


@register("regional_revenue", SQL_REGIONAL_REVENUE, doc="star join over 5 tables, broadcast dims", tags=("join", "agg"))
def q_regional_revenue(spark, sf_dir):
    # Spread on the pre-agg key — see q_top_customers (measured 0.80x).
    l = spread(t(spark, sf_dir, "lineitem"), "l_orderkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    # Per-order pre-agg before the join (decimal sums re-sum exactly); see
    # q_revenue_rollup for the scale rationale.
    per_order = l.groupBy("l_orderkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)"))
        .alias("rev"),
        F.count(F.lit(1)).alias("cnt"),
    )
    j = dim_join(per_order.join(o, per_order.l_orderkey == o.o_orderkey), c, F.col("o_custkey") == c.c_custkey)
    j = dim_join(j, n, F.col("c_nationkey") == n.n_nationkey, always_broadcast=True)
    j = dim_join(j, r, F.col("n_regionkey") == r.r_regionkey, always_broadcast=True)
    return (
        j.groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.sum("cnt").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# J1 — semi-join (IN-subquery shape, reference: scd_writer.py:128-153)

SQL_SEMI_JOIN = """
SELECT o_orderstatus, COUNT(*) AS n
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
GROUP BY o_orderstatus
"""


@register("semi_join_rich_customers", SQL_SEMI_JOIN, doc="J1 semi-join via IN-subquery (scd_writer.py:128-153)", tags=("join",))
def q_semi_join(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return (
        dim_join(o, c, o.o_custkey == c.c_custkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# J3/O7 — gap detection: expected-day set minus observed-day set
# (reference: ingestion/services/gap_detector.py:33-44,62-104)

SQL_GAP_DAYS = """
WITH rng AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo, CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders
),
days AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM rng
),
present AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders WHERE o_orderstatus = 'P'
)
SELECT day FROM days
WHERE day NOT IN (SELECT day FROM present)
"""


@register("gap_days", SQL_GAP_DAYS, doc="J3 missing-day detection (gap_detector.py:33-44)", tags=("join", "antijoin"))
def q_gap_days(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    rng = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"), F.max(F.to_date("o_orderdate")).alias("hi")
    )
    days = rng.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    present = (
        o.filter(F.col("o_orderstatus") == "P").select(F.to_date("o_orderdate").alias("day")).distinct()
    )
    return days.join(present, "day", "left_anti")


# ---------------------------------------------------------------------------
# J2 — snapshot diff: classify insert/update/delete/unchanged via full outer
# join on the natural key (reference: symbol_pipeline.py:65-134). The
# "snapshot" is a deterministic mutation of customer: every 10th key changes
# acctbal, every 17th key is dropped.

SQL_SNAPSHOT_DIFF = """
WITH snapshot AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS acctbal
  FROM customer WHERE c_custkey % 17 <> 0
),
d AS (
  SELECT CASE
           WHEN m.c_custkey IS NULL THEN 'insert'
           WHEN s.c_custkey IS NULL THEN 'delete'
           WHEN s.acctbal <> m.c_acctbal THEN 'update'
           ELSE 'unchanged'
         END AS change_type
  FROM snapshot s
  FULL OUTER JOIN customer m ON s.c_custkey = m.c_custkey
)
SELECT change_type, COUNT(*) AS n FROM d GROUP BY change_type
"""


@register("snapshot_diff", SQL_SNAPSHOT_DIFF, doc="J2 SCD snapshot diff classification (symbol_pipeline.py:65-134)", tags=("join", "scd"))
def q_snapshot_diff(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    snap = c.filter(F.col("c_custkey") % 17 != 0).select(
        F.col("c_custkey").alias("s_key"),
        F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal"))
        .alias("acctbal"),
    )
    m = c.select(F.col("c_custkey").alias("m_key"), "c_acctbal")
    d = snap.join(m, snap.s_key == m.m_key, "full_outer").select(
        F.when(F.col("m_key").isNull(), "insert")
        .when(F.col("s_key").isNull(), "delete")
        .when(F.col("acctbal") != F.col("c_acctbal"), "update")
        .otherwise("unchanged")
        .alias("change_type")
    )
    return d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# W2 — global dense surrogate IDs (reference: symbol_normalizer.sql:47-53),
# computed scale-safely: range-partition + local rank + driver offsets
# (operators/scd.dense_ids) — exact ROW_NUMBER semantics, no global window.

SQL_SURROGATE_IDS = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_name) AS BIGINT) AS id, c_custkey, c_name
FROM customer
"""


@register("surrogate_ids", SQL_SURROGATE_IDS, doc="W2 dense surrogate IDs via partition-parallel global rank (symbol_normalizer.sql:47-53)", tags=("window",))
def q_surrogate_ids(spark, sf_dir):
    from ..operators.scd import dense_ids

    c = t(spark, sf_dir, "customer")
    return dense_ids(c, ["c_name"]).select("id", "c_custkey", "c_name")


# ---------------------------------------------------------------------------
# A9 — per-column null ratio in one pass (reference: symbol_pipeline.py:140-170)

SQL_NULL_RATIO = """
SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_custkey,
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_status,
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_price,
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_date,
       COUNT(*) AS n
FROM orders
"""


@register("null_ratio", SQL_NULL_RATIO, doc="A9 one-pass per-column null ratios (symbol_pipeline.py:140-170)", tags=("agg", "profiling"))
def q_null_ratio(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    n = F.count(F.lit(1))

    def ratio(c):
        return (F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("double") / n)

    return o.agg(
        ratio("o_custkey").alias("null_custkey"),
        ratio("o_orderstatus").alias("null_status"),
        ratio("o_totalprice").alias("null_price"),
        ratio("o_orderdate").alias("null_date"),
        n.alias("n"),
    )


# ---------------------------------------------------------------------------
# P1/P2/S2 — projection + range predicate + sort (reference: loader.py:184-192)

SQL_RANGE_SCAN = """
SELECT event_id, epoch_ns(ts) AS ts_ns, event_type, value
FROM events
WHERE epoch_ns(ts) BETWEEN 1704500000000000000 AND 1705000000000000000
  AND event_type = 'purchase'
"""


@register("range_scan", SQL_RANGE_SCAN, doc="S2/P2 pushdown scan: project + ts BETWEEN + symbol filter (loader.py:184-192)", tags=("scan", "filter"))
def q_range_scan(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    # range predicate on the RAW ts column (parquet-pushable row-group
    # pruning), projection of the derived ts_ns afterwards
    return ev.filter(
        ts_range_pred(ev, 1704500000000000000, 1705000000000000000)
        & (F.col("event_type") == "purchase")
    ).select(
        "event_id",
        ts_ns_expr(ev).alias("ts_ns"),
        "event_type",
        "value",
    )


# ---------------------------------------------------------------------------
# Grouping sets: revenue rollup over region → nation with subtotal rows.
# Spark `rollup()` ≡ ANSI ROLLUP; GROUPING() marks subtotal levels so NULL
# group keys are unambiguous. Decimal-exact sums as everywhere.

SQL_REVENUE_ROLLUP = """
SELECT r_name AS region, n_name AS nation,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@register("revenue_rollup", SQL_REVENUE_ROLLUP, doc="region→nation revenue ROLLUP with grouping markers (subtotals + grand total)", tags=("agg", "rollup"))
def q_revenue_rollup(spark, sf_dir):
    # Spread on the pre-agg key — see q_top_customers (measured 0.79x).
    l = spread(t(spark, sf_dir, "lineitem"), "l_orderkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    # Pre-aggregate lineitem by order key BEFORE the join: decimal sums are
    # associative, so per-order subtotals re-summed at the rollup are
    # bit-identical, while the orders join shrinks ~4x (lines per order)
    # and gets map-side partial aggregation (~45% faster at sf0.1; the
    # shuffle-volume saving grows with scale).
    per_order = l.groupBy("l_orderkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)"))
        .alias("rev"),
        F.count(F.lit(1)).alias("cnt"),
    )
    j = dim_join(per_order.join(o, per_order.l_orderkey == o.o_orderkey), c, F.col("o_custkey") == c.c_custkey)
    j = dim_join(j, n, F.col("c_nationkey") == n.n_nationkey, always_broadcast=True)
    j = dim_join(j, r, F.col("n_regionkey") == r.r_regionkey, always_broadcast=True)
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("long").alias("g_region"),
            F.grouping("n_name").cast("long").alias("g_nation"),
            F.sum("rev").cast("double").alias("revenue"),
            F.sum("cnt").alias("n_items"),
        )
        .select(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation"),
            "g_region", "g_nation", "revenue", "n_items",
        )
    )


# ---------------------------------------------------------------------------
# Pivot: order counts per (priority, status) — Spark's pivot() against the
# conditional-aggregation form any engine can run (identical values; the
# pivot column set is fixed and sorted so column names align).

_STATUSES = ["F", "O", "P"]

SQL_ORDERS_PIVOT = (
    "SELECT o_orderpriority AS priority,\n"
    + ",\n".join(
        f"       COUNT(CASE WHEN o_orderstatus = '{s}' THEN 1 END) AS status_{s}"
        for s in _STATUSES
    )
    + "\nFROM orders GROUP BY o_orderpriority"
)


@register("orders_pivot", SQL_ORDERS_PIVOT, doc="order counts pivoted by status (fixed column set)", tags=("agg", "pivot"))
def q_orders_pivot(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    out = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", _STATUSES)
        .count()
    )
    renamed = out.select(
        "priority", *[F.coalesce(F.col(s), F.lit(0)).alias(f"status_{s}") for s in _STATUSES]
    )
    return renamed


# ---------------------------------------------------------------------------
# Correlated EXISTS (J4's query shape as a driver-checked entry): customers
# with at least one urgent order but NO line item shipped late.

SQL_EXISTS_ANTI = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                  WHERE o.o_custkey = c.c_custkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
"""


@register("exists_anti_customers", SQL_EXISTS_ANTI, doc="correlated EXISTS + NOT EXISTS: urgent customers with no late lineitem (semi + anti join)", tags=("join", "exists"))
def q_exists_anti(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("o_custkey")
        .distinct()
    )
    out = dim_join(c, urgent, c.c_custkey == urgent.o_custkey, "left_semi")
    out = dim_join(out, late, F.col("c_custkey") == late.o_custkey, "left_anti")
    return out.select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# CUBE grouping sets — all 4 grouping combinations of (priority, status) in
# one pass (the ROLLUP entry covers the hierarchical form on a join star;
# this covers the full lattice on a single scan). Expand-based: one scan,
# one shuffle.

SQL_ORDERS_CUBE = """
SELECT o_orderpriority AS priority, o_orderstatus AS status,
       GROUPING(o_orderpriority) AS g_priority,
       GROUPING(o_orderstatus) AS g_status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


@register("orders_cube", SQL_ORDERS_CUBE, doc="CUBE over (priority, status): full grouping lattice in one pass", tags=("agg", "rollup"))
def q_orders_cube(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("total_price"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
            "g_priority", "g_status", "n_orders", "total_price",
        )
    )


# ---------------------------------------------------------------------------
# Round-3 relational breadth: the classic TPC-H shapes the `query` surface
# must handle (reference cli/query.py passes arbitrary SQL). Each is the
# canonical plan for its shape at scale: filters pushed to the scan, fact
# pre-aggregation before joins where it shrinks shuffles, broadcast dims.

# Q3 shape — shipping priority: top unshipped-revenue orders for a segment.
SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register("shipping_priority", SQL_SHIPPING_PRIORITY, doc="TPC-H Q3 shape: top unshipped revenue per order, segment-filtered (broadcast customer filter)", tags=("join", "topk"))
def q_shipping_priority(spark, sf_dir):
    cut = F.lit("1998-06-01 00:00:00").cast("timestamp_ntz")
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cut)
    return (
        dim_join(l.join(o, l.l_orderkey == o.o_orderkey), c, F.col("o_custkey") == c.c_custkey, "left_semi")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)"))
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# Q4 shape — order-priority checking: orders in a window having at least one
# late-shipped line (EXISTS → left_semi; duplicate-free by construction).
SQL_ORDER_PRIORITY_COUNT = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


@register("order_priority_count", SQL_ORDER_PRIORITY_COUNT, doc="TPC-H Q4 shape: EXISTS late-line semi-join then priority counts", tags=("join", "exists", "agg"))
def q_order_priority_count(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


# Q14 shape — promo revenue share per ship-month (conditional aggregation
# over a broadcast part join).
SQL_PROMO_REVENUE = """
SELECT EXTRACT(YEAR FROM l_shipdate) AS yr, EXTRACT(MONTH FROM l_shipdate) AS mo,
       CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                 ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
         AS DOUBLE) AS promo_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2
"""


@register("promo_revenue", SQL_PROMO_REVENUE, doc="TPC-H Q14 shape: promo revenue share per month, broadcast part dim", tags=("join", "agg"))
def q_promo_revenue(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    zero = F.lit(0).cast("decimal(38,6)")
    return (
        dim_join(l, p, l.l_partkey == p.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("long").alias("yr"),
            F.month("l_shipdate").cast("long").alias("mo"),
        )
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(zero)).cast("double")
                / F.sum(disc).cast("double")
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# Q15 shape — top supplier by shipped revenue in a window; fact pre-agg
# keyed by suppkey BEFORE the supplier join (shuffle shrinks to |suppliers|).
SQL_TOP_SUPPLIERS = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
ORDER BY revenue DESC, s_suppkey
LIMIT 10
"""


@register("top_suppliers", SQL_TOP_SUPPLIERS, doc="TPC-H Q15 shape: windowed supplier revenue top-k, pre-agg before broadcast join", tags=("join", "topk"))
def q_top_suppliers(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    s = t(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")).alias("r")
    )
    return (
        dim_join(rev, s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("r").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "s_suppkey")
        .limit(10)
    )


# Q18 shape — large-volume orders: HAVING on a fact pre-agg, then joins.
SQL_BIG_ORDERS = """
WITH q AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(38,2))) > 150
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
FROM q
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
"""


@register("big_orders", SQL_BIG_ORDERS, doc="TPC-H Q18 shape: HAVING pre-agg shrinks fact before order/customer joins", tags=("join", "agg", "topk"))
def q_big_orders(spark, sf_dir):
    # Spread on the pre-agg key — see q_top_customers (measured 0.84x).
    l = spread(t(spark, sf_dir, "lineitem"), "l_orderkey")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    q = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,2)")).alias("tq"))
        .filter(F.col("tq") > 150)
        .select("l_orderkey", F.col("tq").cast("double").alias("total_qty"))
    )
    return (
        dim_join(q.join(o, q.l_orderkey == o.o_orderkey), c, F.col("o_custkey") == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


# Q10 shape — returned-item reporting: revenue lost to returns per customer.
SQL_RETURNED_ITEMS = """
SELECT c_custkey, c_name, n_name AS nation,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS lost_revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


@register("returned_items", SQL_RETURNED_ITEMS, doc="TPC-H Q10 shape: per-customer returned-revenue ranking, broadcast customer/nation dims", tags=("join", "topk"))
def q_returned_items(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    j = dim_join(l.join(o, l.l_orderkey == o.o_orderkey), c, F.col("o_custkey") == c.c_custkey)
    j = dim_join(j, n, F.col("c_nationkey") == n.n_nationkey, always_broadcast=True)
    return (
        j.groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)"))
            .cast("double")
            .alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(20)
    )


# Q7 shape — volume shipping between nation pairs (supplier nation →
# customer nation), both dims broadcast; the fact side shuffles once for
# the group-by.
SQL_NATION_VOLUME = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       EXTRACT(YEAR FROM l_shipdate) AS yr,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS volume,
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name < cn.n_name
GROUP BY 1, 2, 3
"""


@register("nation_volume", SQL_NATION_VOLUME, doc="TPC-H Q7 shape: supplier-nation x customer-nation trade volume per year", tags=("join", "agg"))
def q_nation_volume(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    j = dim_join(l, s, l.l_suppkey == s.s_suppkey)
    j = dim_join(j, sn, F.col("s_nationkey") == F.col("sn_key"), always_broadcast=True)
    j = j.join(o, F.col("l_orderkey") == o.o_orderkey)
    j = dim_join(j, c, F.col("o_custkey") == c.c_custkey)
    j = dim_join(j, cn, F.col("c_nationkey") == F.col("cn_key"), always_broadcast=True)
    return (
        j.filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("yr"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)"))
            .cast("double")
            .alias("volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# Q19 shape — discounted revenue under disjunctive brand/size/quantity
# ranges: the whole OR-of-ANDs predicate is a single scan filter the
# optimizer can partially push (brand IN (...) and quantity bounds).
SQL_BRAND_REVENUE = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
"""


@register("brand_revenue", SQL_BRAND_REVENUE, doc="TPC-H Q19 shape: disjunctive brand/size/quantity predicate over a broadcast part join", tags=("join", "filter", "agg"))
def q_brand_revenue(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = dim_join(l, p, l.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    pred = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    return j.filter(pred).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# Q13 shape — customer distribution: orders per customer INCLUDING
# zero-order customers (left outer), then a histogram of those counts.
# Two aggregations, each keyed high-cardinality → low-cardinality.
SQL_CUSTOMER_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers
FROM per_cust
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
"""


@register("customer_distribution", SQL_CUSTOMER_DISTRIBUTION, doc="TPC-H Q13 shape: order-count histogram incl. zero-order customers (left outer + double agg)", tags=("join", "agg"))
def q_customer_distribution(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


# Q22 shape — global-acctbal-average scalar subquery + anti-join: customers
# richer than the positive-balance average with no URGENT order. The scalar
# attaches via registry.scalar_join (BroadcastHashJoin — no driver
# round-trip, no nested loop); orders side is an anti semi-join.
SQL_IDLE_RICH = """
WITH avg_bal AS (
  SELECT CAST(AVG(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS a
  FROM customer WHERE c_acctbal > 0
)
SELECT c_custkey, c_name, c_acctbal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY c_acctbal DESC, c_custkey
LIMIT 20
"""


@register("idle_rich_customers", SQL_IDLE_RICH, doc="TPC-H Q22 shape: scalar-subquery average via broadcast scalar_join + NOT EXISTS anti-join", tags=("join", "exists", "scalar"))
def q_idle_rich(spark, sf_dir):
    from .registry import scalar_join

    c = t(spark, sf_dir, "customer")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg((F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double")
              / F.count(F.lit(1))).alias("_avg_bal"))
    )
    return (
        scalar_join(c, "c_custkey", avg_bal)
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), "c_custkey")
        .limit(20)
    )


# Q6 shape — forecast revenue change: tight scan-level predicate trio on the
# fact table, single global aggregate. Canonical pushdown showcase: all
# three predicates reach the parquet scan.
SQL_FORECAST_REVENUE = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue_delta,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("forecast_revenue", SQL_FORECAST_REVENUE, doc="TPC-H Q6 shape: pushdown predicate trio + single aggregate", tags=("filter", "agg"))
def q_forecast_revenue(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    kept = l.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return kept.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(38,6)"))
        .cast("double")
        .alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_items"),
    )


# Q5 shape — local-supplier volume: revenue where the supplier and the
# customer share a nation, grouped by that nation. The same-nation equality
# is an extra join predicate, not a post-filter, so it participates in join
# key selection.
SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name AS nation,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@register("local_supplier_volume", SQL_LOCAL_SUPPLIER_VOLUME, doc="TPC-H Q5 shape: same-nation supplier/customer revenue per nation", tags=("join", "agg"))
def q_local_supplier_volume(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    j = dim_join(j, c, F.col("o_custkey") == c.c_custkey)
    j = dim_join(j, s, (F.col("l_suppkey") == s.s_suppkey) & (s.s_nationkey == F.col("c_nationkey")))
    j = dim_join(j, n, F.col("c_nationkey") == n.n_nationkey, always_broadcast=True)
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# Q8 shape — market share: one nation's share of revenue within a part-type
# market, per order year. Conditional aggregation over the joined star;
# decimal-exact numerator and denominator, the ratio cast once.
SQL_MARKET_SHARE = """
SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
       CAST(CAST(SUM(CASE WHEN n_name = 'NATION_1'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                 ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
         AS DOUBLE) AS mkt_share,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY 1
"""


@register("market_share", SQL_MARKET_SHARE, doc="TPC-H Q8 shape: one nation's revenue share in a part-type market per year", tags=("join", "agg"))
def q_market_share(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    zero = F.lit(0).cast("decimal(38,6)")
    j = dim_join(l, p, F.col("l_partkey") == p.p_partkey, "left_semi")
    j = j.join(o, F.col("l_orderkey") == o.o_orderkey)
    j = dim_join(j, s, F.col("l_suppkey") == s.s_suppkey)
    j = dim_join(j, n, F.col("s_nationkey") == n.n_nationkey, always_broadcast=True)
    return j.groupBy(F.year("o_orderdate").cast("long").alias("yr")).agg(
        (
            F.sum(F.when(F.col("n_name") == "NATION_1", disc).otherwise(zero)).cast("double")
            / F.sum(disc).cast("double")
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


# Q2 shape — minimum-cost supplier: for each part, the supplier in one
# region offering the lowest observed unit price. The testdata has no
# partsupp table, so unit cost is derived from lineitem
# (l_extendedprice / l_quantity, min per part-supplier pair); the
# correlated MIN subquery of the official query becomes a per-part window
# minimum — one extra shuffle on the part key instead of a rescan.
SQL_MIN_COST_SUPPLIER = """
WITH costs AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS cost
  FROM lineitem GROUP BY 1, 2
), eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), ranked AS (
  SELECT c.l_partkey, c.cost, s_name, s_acctbal, n_name,
         MIN(cost) OVER (PARTITION BY l_partkey) AS min_cost
  FROM costs c JOIN eu ON c.l_suppkey = eu.s_suppkey
)
SELECT s_acctbal, s_name, n_name AS nation, p_partkey, p_name, cost
FROM ranked JOIN part ON l_partkey = p_partkey
WHERE cost = min_cost
ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 20
"""


@register("min_cost_supplier", SQL_MIN_COST_SUPPLIER, doc="TPC-H Q2 shape: per-part minimum-cost supplier within a region (correlated MIN as window)", tags=("join", "window", "topk"))
def q_min_cost_supplier(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_name")
    costs = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost")
    )
    eu = dim_join(s, n, s.s_nationkey == n.n_nationkey, always_broadcast=True)
    eu = dim_join(eu, r, F.col("n_regionkey") == r.r_regionkey, "left_semi", always_broadcast=True)
    eu = eu.select("s_suppkey", "s_name", "s_acctbal", "n_name")
    je = dim_join(costs, eu, F.col("l_suppkey") == F.col("s_suppkey"))
    w = W.partitionBy("l_partkey")
    best = je.withColumn("min_cost", F.min("cost").over(w)).filter(F.col("cost") == F.col("min_cost"))
    return (
        dim_join(best, p, F.col("l_partkey") == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_name",
            "cost",
        )
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
        .limit(20)
    )


# Q9 shape — product-type profit per nation per year. No partsupp →
# supply cost proxied as 0.6 * p_retailprice per unit; the profit
# expression is evaluated per row in IEEE order identical to the oracle,
# then decimal-summed for order-independent parity.
SQL_PRODUCT_PROFIT = """
SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS yr,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity
                AS DECIMAL(38,6))) AS DOUBLE) AS profit,
       COUNT(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


@register("product_profit", SQL_PRODUCT_PROFIT, doc="TPC-H Q9 shape: profit by supplier nation and order year over a 5-table star", tags=("join", "agg"))
def q_product_profit(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = dim_join(l, p, F.col("l_partkey") == p.p_partkey)
    j = dim_join(j, s, F.col("l_suppkey") == s.s_suppkey)
    j = dim_join(j, n, F.col("s_nationkey") == n.n_nationkey, always_broadcast=True)
    j = j.join(o, F.col("l_orderkey") == o.o_orderkey)
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(38,6)")
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("yr")
    ).agg(
        F.sum(profit).cast("double").alias("profit"),
        F.count(F.lit(1)).alias("n_items"),
    )


# Q11 shape — important parts: per-part traded value restricted to three
# nations' suppliers, kept only above a fraction of the TOTAL value — the
# HAVING-over-scalar-subquery shape. The scalar total attaches via
# scalar_join (BroadcastHashJoin, no nested loop); both engines sum the
# per-part DECIMAL subtotals so the threshold is bit-identical.
SQL_IMPORTANT_PARTS = """
WITH vals AS (
  SELECT l_partkey AS p_partkey, SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS vald
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY 1
)
SELECT p_partkey, CAST(vald AS DOUBLE) AS value
FROM vals
WHERE CAST(vald AS DOUBLE) > 0.001 * (SELECT CAST(SUM(vald) AS DOUBLE) FROM vals)
ORDER BY value DESC, p_partkey
"""


@register("important_parts", SQL_IMPORTANT_PARTS, doc="TPC-H Q11 shape: per-part value with HAVING over a scalar-subquery total", tags=("join", "agg", "scalar"))
def q_important_parts(spark, sf_dir):
    from .registry import scalar_join

    l = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    ).select("n_nationkey")
    s_kept = dim_join(s, n, s.s_nationkey == n.n_nationkey, "left_semi", always_broadcast=True)
    li = dim_join(l, s_kept, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    # NOT pinned (measured): the per-part aggregate is exchange-terminated,
    # so the static plan's duplicate lineitem subtrees dedup at runtime via
    # ReuseExchange — an interleaved A/B at sf0.1 put a pin here at 1.11x.
    vals = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("vald")
    )
    total = vals.agg(F.sum("vald").cast("double").alias("_total"))
    return (
        scalar_join(vals, "p_partkey", total)
        .filter(F.col("vald").cast("double") > 0.001 * F.col("_total"))
        .select("p_partkey", F.col("vald").cast("double").alias("value"))
        .orderBy(F.desc("value"), "p_partkey")
    )


# Q12 shape — late-shipment priority counts: conditional CASE-sums of
# high/low order priorities, grouped by line status (the testdata has no
# l_shipmode), restricted to lines shipped >90 days after the order date.
SQL_LATE_PRIORITY_COUNTS = """
SELECT l_linestatus AS linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
ORDER BY 1
"""


@register("late_priority_counts", SQL_LATE_PRIORITY_COUNTS, doc="TPC-H Q12 shape: CASE-sum priority counts over late shipments", tags=("join", "agg"))
def q_late_priority_counts(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    j = l.join(o, F.col("l_orderkey") == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_count"),
        )
        .orderBy("linestatus")
    )


# Q16 shape — supplier counts per part attribute triple: distinct
# part-supplier relationships come from lineitem (no partsupp), suppliers
# with negative balance are excluded by anti-join (the NOT IN complaint
# filter of the official query), then COUNT(DISTINCT supplier).
SQL_SUPPLIER_PART_COUNTS = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("supplier_part_counts", SQL_SUPPLIER_PART_COUNTS, doc="TPC-H Q16 shape: COUNT(DISTINCT supplier) per part triple with NOT-IN anti-join", tags=("join", "agg", "distinct"))
def q_supplier_part_counts(spark, sf_dir):
    # No pre-distinct on (l_partkey, l_suppkey) (r10): COUNT(DISTINCT
    # l_suppkey) per triple is invariant to duplicate pairs (each part maps
    # to exactly one triple, and the countDistinct's own partial phase
    # dedups (triple, suppkey) map-side), and the left-anti supplier filter
    # is row-wise. Dropping the distinct removes a full-fact shuffle and
    # lets the selective broadcast part filter prune ~86% of rows BEFORE
    # the first exchange (measured 0.51x, rows ordered-identical).
    l = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    j = dim_join(l, p, F.col("l_partkey") == p.p_partkey)
    j = dim_join(j, bad, F.col("l_suppkey") == bad.s_suppkey, "left_anti")
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# Q17 shape — small-quantity-order revenue: lines under 20% of their
# part's average quantity, for one brand. The correlated per-part AVG is a
# window aggregate (decimal sum / count — order-independent), so the fact
# scans once instead of twice.
SQL_SMALL_QTY_REVENUE = """
WITH brand_items AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'
), enriched AS (
  SELECT *, CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) OVER (PARTITION BY l_partkey) AS DOUBLE)
            / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM brand_items
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_items
FROM enriched WHERE l_quantity < 0.2 * avg_qty
"""


@register("small_qty_revenue", SQL_SMALL_QTY_REVENUE, doc="TPC-H Q17 shape: correlated per-part AVG as a window aggregate", tags=("join", "window", "agg"))
def q_small_qty_revenue(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    li = dim_join(l, p, F.col("l_partkey") == p.p_partkey, "left_semi")
    w = W.partitionBy("l_partkey")
    avg_qty = (
        F.sum(F.col("l_quantity").cast("decimal(38,2)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        li.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double") / 7.0)
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# Q20 shape — excess-inventory suppliers: suppliers who shipped more than
# a threshold quantity of one part family in a year. A chain of
# semi-joins: part family → heavy part-supplier pairs → suppliers.
SQL_EXCESS_SUPPLIERS = """
WITH shipped AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(38,2))) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
), heavy AS (
  SELECT DISTINCT l_suppkey
  FROM shipped JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%' AND CAST(qty AS DOUBLE) > 50
)
SELECT s_name, s_acctbal, n_name AS nation
FROM supplier
JOIN heavy ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_name
"""


@register("excess_suppliers", SQL_EXCESS_SUPPLIERS, doc="TPC-H Q20 shape: semi-join chain part-family -> heavy pairs -> suppliers", tags=("join", "semi"))
def q_excess_suppliers(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    shipped = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(38,2)")).alias("qty")
    )
    heavy = (
        dim_join(shipped, p, F.col("l_partkey") == p.p_partkey, "left_semi")
        .filter(F.col("qty").cast("double") > 50)
        .select("l_suppkey")
        .distinct()
    )
    kept = dim_join(s, heavy, F.col("s_suppkey") == heavy.l_suppkey, "left_semi")
    return (
        dim_join(kept, n, F.col("s_nationkey") == n.n_nationkey, always_broadcast=True)
        .select("s_name", "s_acctbal", F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )


# Q21 shape — suppliers who kept orders waiting: finalized multi-supplier
# orders where EXACTLY ONE supplier shipped late (>60 days after the order
# date). The official EXISTS / NOT EXISTS self-joins on lineitem are
# reformulated as per-order window aggregates (distinct supplier count +
# distinct late-supplier count via collect_set over the order key) — ONE
# scan and ONE shuffle on the order key instead of two O(n^2)-prone
# self-joins or a two-branch agg⋈agg plan (measured ~40% faster than the
# branch+join form at sf0.1; per-order set state is bounded by lines per
# order, a data-model constant). The oracle keeps the two-CTE formulation —
# semantics, not plan.
SQL_WAITING_SUPPLIERS = """
WITH fo AS (
  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
), li AS (
  SELECT l_orderkey, l_suppkey, l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
  FROM lineitem JOIN fo ON l_orderkey = o_orderkey
), per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
  FROM li GROUP BY 1
), late AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE is_late
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late
JOIN per_order USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp >= 2 AND n_late = 1
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@register("waiting_suppliers", SQL_WAITING_SUPPLIERS, doc="TPC-H Q21 shape: EXISTS/NOT-EXISTS self-joins as a per-order distinct aggregate", tags=("join", "agg", "topk"))
def q_waiting_suppliers(spark, sf_dir):
    fo = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = l.join(fo, F.col("l_orderkey") == fo.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("is_late"),
    )
    w = W.partitionBy("l_orderkey")
    annotated = li.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        # collect_set drops nulls, so the when() keeps only late suppliers.
        F.size(F.collect_set(F.when(F.col("is_late"), F.col("l_suppkey"))).over(w)).alias("n_late"),
    )
    pairs = (
        annotated.filter(F.col("is_late") & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        dim_join(pairs, s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit — the data-quality pass a pipeline runs over
# every foreign-key relation before trusting a snapshot: per relation, the
# child row count, orphan children (FK with no parent — corruption), parent
# count, and childless parents (coverage holes — live numbers here:
# customers with no orders, parts never ordered). One FULL OUTER join per
# relation folds all four counts into a single aggregation (parent keys are
# primary keys, so an unmatched parent appears exactly once). The
# cross-modal embeddings->documents relation is included — the join a
# multimodal training pipeline must audit.

_FK_RELATIONS = [
    # (name, child_table, child_key, parent_table, parent_key)
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("embeddings->documents", "embeddings", "vec_id", "documents", "doc_id"),
    ("events->customer", "events", "user_id", "customer", "c_custkey"),
]


def _fk_audit_sql() -> str:
    # Presence MARKERS (not key-NULL tests) classify the full-outer rows: a
    # child row whose FK is legitimately NULL also surfaces as an unmatched
    # row with both keys NULL, so keying 'childless parent' on the child key
    # being NULL misclassified it (and dropped it from child_rows). NULL-FK
    # children are reported in their own column — neither orphans (no
    # parent was REFERENCED) nor childless parents.
    parts = []
    for name, ct, ck, pt, pk in _FK_RELATIONS:
        parts.append(f"""
SELECT '{name}' AS relation,
       CAST(COUNT(c_present) AS BIGINT) AS child_rows,
       CAST(COUNT(CASE WHEN c_present = 1 AND {ck} IS NOT NULL AND p_present IS NULL THEN 1 END) AS BIGINT) AS orphan_children,
       CAST(COUNT(CASE WHEN c_present = 1 AND {ck} IS NULL THEN 1 END) AS BIGINT) AS null_fk_children,
       CAST(COUNT(DISTINCT {pk}) AS BIGINT) AS parents,
       CAST(COUNT(CASE WHEN p_present = 1 AND c_present IS NULL THEN 1 END) AS BIGINT) AS childless_parents
FROM (SELECT {ck}, 1 AS c_present FROM {ct}) c
FULL OUTER JOIN (SELECT {pk}, 1 AS p_present FROM {pt}) p
ON c.{ck} = p.{pk}""")
    return "\nUNION ALL\n".join(parts)


@register(
    "fk_integrity_audit",
    _fk_audit_sql(),
    doc="referential-integrity audit over every FK relation incl. cross-modal embeddings->documents: orphan children, NULL-FK children, and childless parents from one full-outer aggregation per relation (presence-marker classification — NULL-safe)",
    tags=("joins", "validation"),
)
def q_fk_integrity_audit(spark, sf_dir):
    # The child side is pre-aggregated to (key, n) BEFORE the full-outer
    # join: the classification only needs per-key child counts, so the
    # join's child input shrinks from every child row to one row per
    # distinct FK value (map-side partial aggregation does the heavy
    # lifting — guide §2.3 "aggregate before you shuffle"). The parent
    # side stays row-level (parent keys are primary keys, so it is already
    # ~one row per key, and ``parents``/``childless_parents`` keep their
    # row-level definitions). Count equivalence: a NULL-FK child group
    # joins nothing (equi-join NULL semantics match the row-level form),
    # an orphan group carries its n, and sums of per-key counts replace
    # row counts — verified value-identical against the unchanged oracle.
    out = None
    for name, ct, ck, pt, pk in _FK_RELATIONS:
        cg = (
            t(spark, sf_dir, ct)
            .groupBy(F.col(ck).alias("_ck"))
            .agg(F.count(F.lit(1)).alias("_cn"))
        )
        p = t(spark, sf_dir, pt).select(
            F.col(pk).alias("_pk"), F.lit(1).alias("_pp")
        )
        j = cg.join(p, cg._ck == p._pk, "full_outer")
        row = j.agg(
            F.coalesce(F.sum("_cn"), F.lit(0)).cast("long").alias("child_rows"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_cn").isNotNull()
                        & F.col("_ck").isNotNull()
                        & F.col("_pp").isNull(),
                        F.col("_cn"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("orphan_children"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_cn").isNotNull() & F.col("_ck").isNull(),
                        F.col("_cn"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("null_fk_children"),
            F.countDistinct("_pk").cast("long").alias("parents"),
            F.count(
                F.when((F.col("_pp") == 1) & F.col("_cn").isNull(), 1)
            ).cast("long").alias("childless_parents"),
        ).select(F.lit(name).alias("relation"), "*")
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Benford first-digit audit — the classic fabricated-data detector over a
# monetary column: observed first-digit shares of o_totalprice vs Benford's
# (FLOOR before the BIGINT cast — Spark truncates a double->long cast while
# DuckDB rounds it, so the bare cast is engine-dependent at .5 boundaries).
# log10(1 + 1/d) expectation. Expectations are Python-precomputed ppm
# literals inlined into BOTH engines (no libm log on either side); shares
# and deviations are exact integer ppm.

_BENFORD_PPM = {
    d: int(__import__("math").log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
}
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
)

SQL_BENFORD = f"""
WITH fd AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM fd)
SELECT digit,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(COUNT(*) AS BIGINT) * 1000000 // (SELECT n FROM tot) AS share_ppm,
       CAST(CASE digit {_BENFORD_CASE} END AS BIGINT) AS benford_ppm,
       abs(CAST(COUNT(*) AS BIGINT) * 1000000 // (SELECT n FROM tot)
           - CASE digit {_BENFORD_CASE} END) AS abs_dev_ppm
FROM fd GROUP BY digit
"""


@register(
    "benford_order_totals",
    SQL_BENFORD,
    doc="Benford's-law first-digit audit of order totals (integer ppm shares vs inlined log10 expectations)",
    tags=("validation", "aggregation"),
)
def q_benford_order_totals(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    fd = o.where(F.col("o_totalprice") >= 1).select(
        F.expr(
            "CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    from .registry import scalar_join

    tot = fd.agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = fd.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    g = scalar_join(g, "digit", tot)
    bexp = "CASE digit " + _BENFORD_CASE + " END"
    return g.select(
        "digit",
        "cnt",
        F.expr("cnt * 1000000 DIV n").alias("share_ppm"),
        F.expr(f"CAST({bexp} AS BIGINT)").alias("benford_ppm"),
        F.expr(f"abs(cnt * 1000000 DIV n - {bexp})").alias("abs_dev_ppm"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit — the privacy pass a data-release pipeline runs before
# publishing: group sizes over the quasi-identifier combination
# (nation, market segment) with a violates-k flag per equivalence class.
# Output is QI-cardinality-bounded (a profile, not a row-level export);
# the row-level risk set is group_n itself. Completes the privacy family
# next to pii_scrub (detection) — this is the aggregate-disclosure check.

_KANON_K = 10

SQL_K_ANONYMITY = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS group_n,
       CAST(CASE WHEN COUNT(*) < {_KANON_K} THEN 1 ELSE 0 END AS BIGINT) AS violates_k
FROM customer GROUP BY c_nationkey, c_mktsegment
"""


@register(
    "k_anonymity_audit",
    SQL_K_ANONYMITY,
    doc=f"k-anonymity audit (k={_KANON_K}) over the (nation, segment) quasi-identifier: equivalence-class sizes + violation flags",
    tags=("validation", "aggregation"),
)
def q_k_anonymity_audit(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_n"),
        F.expr(
            f"CAST(CASE WHEN COUNT(*) < {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("violates_k"),
    )
