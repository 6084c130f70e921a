"""Market-basket analysis — capped baskets and association rules.

MarketPipe's ``query`` surface is arbitrary analytical SQL over the lake
(reference: src/marketpipe/cli/query.py:11-40); association-rule mining is
the classic retail-analytics workload layered on top of such a store. The
operators here follow the distributed market-basket recipe: deterministic
per-basket item caps (the transaction-length truncation every scalable
FP-growth implementation applies), pair co-occurrence counting, and
support/confidence/lift scoring.

Everything is integer fixed-point so results hash-match the DuckDB oracle
bit-for-bit: confidence and lift are micro-units produced by truncating
``DIV`` in a documented evaluation order. Lift is mathematically symmetric
but the two-step truncated form ``((cnt*1e6 DIV cnt_ant) * n) DIV cnt_cons``
is direction-dependent in its last few micro-units — deterministic on both
engines, and it keeps every intermediate well inside int64 at 100 TB counts
(cnt*1e6 <= 9.2e18 while cnt <= 9.2e12; the second factor is <= 1e6 * n).

Scale design: the basket cap bounds the per-basket pair fan-out at
C(cap, 2) (without it one mega-basket generates a quadratic pair blow-up —
the market-basket analogue of the LSH bucket skew cap); pair counting is
one shuffle hash aggregation; the final ranking is a bounded
TakeOrderedAndProject. The only driver scalar is the basket count (one
count, needed as a literal in the lift expression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import pin

MICRO = 1_000_000


def capped_basket_arrays(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int,
    salt_buckets: int | None = None,
) -> DataFrame:
    """``(bk, items)`` — each basket's ``max_basket`` lowest distinct item
    keys as a SORTED ARRAY.

    One hash aggregation (collect_set gets map-side partial aggregation)
    where the pair-row form needed a distinct plus a ranking window — and
    with the basket in-row, within-basket PAIR enumeration becomes a pure
    map expression (see :func:`basket_pairs`) instead of a self-join: the
    r6 rewrite that removed two shuffles and the join from every basket
    consumer.

    Item keys must be NON-NULL: ``collect_set`` silently drops NULLs, so a
    nullable item column loses its ``(bk, NULL)`` group — filter upstream
    if NULL is meaningful (ADVICE r6; every registry caller keys on
    ``l_partkey``-style non-null ids).

    Buffer contract: the default single-agg buffer holds one basket's full
    distinct item set before the ``slice`` — fine when basket width is
    domain-bounded, a blow-up risk on a corpus with one pathological
    mega-basket (VERDICT r6). ``salt_buckets=S`` switches to the two-stage
    cap for such domains: stage 1 groups by ``(bk, xxhash64(item) % S)``
    and caps each salt group at ``max_basket`` (buffer ÷S, output ≤
    ``max_basket`` per group); stage 2 merges ≤S pre-capped sorted arrays
    (buffer ≤ ``S * max_basket``, mega-basket-independent) and re-slices.
    Winner-preserving, hence result-IDENTICAL to the single-stage form:
    every globally-lowest-``max_basket`` item is also among its own salt
    group's lowest ``max_basket`` (removing other items never demotes a
    survivor), and an item's salt group is a pure function of the item, so
    no duplicates cross groups. Cost: one extra shuffle — the default
    stays single-stage for the registry's bounded baskets."""
    base = df.select(F.col(basket_col).alias("bk"), F.col(item_col).alias("item"))
    if salt_buckets:
        part = base.groupBy(
            "bk", F.pmod(F.xxhash64("item"), F.lit(salt_buckets)).alias("_salt")
        ).agg(
            F.slice(F.sort_array(F.collect_set("item")), 1, max_basket).alias("part")
        )
        return part.groupBy("bk").agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("part"))), 1, max_basket
            ).alias("items")
        )
    return base.groupBy("bk").agg(
        F.slice(F.sort_array(F.collect_set("item")), 1, max_basket).alias("items")
    )


#: Within-basket ordered pairs (u < v in item-key order) as a pure map
#: expression over the sorted ``items`` array — C(cap, 2)-bounded fan-out,
#: no join, no shuffle.
PAIRS_EXPR = (
    "flatten(transform(items, (x, i) -> "
    "transform(slice(items, i + 2, size(items)), y -> struct(x AS u, y AS v))))"
)


def basket_pairs(arrays: DataFrame) -> DataFrame:
    """Explode :data:`PAIRS_EXPR` over ``(bk, items)``: one (u, v) row per
    within-basket pair, enumerated map-side."""
    return arrays.select(F.explode(F.expr(PAIRS_EXPR)).alias("p")).select(
        "p.u", "p.v"
    )


#: Within-basket ordered TRIPLES (a < b < c in item-key order) as a pure map
#: expression over the sorted ``items`` array — C(cap, 3)-bounded fan-out,
#: no self-join. Index math (0-based lambda indices, 1-based slice starts):
#: the middle element y = items[i+1+j] sits at 1-based position i+j+2, so
#: the third element ranges over slice(items, i+j+3, ...).
TRIPLES_EXPR = (
    "flatten(flatten(transform(items, (x, i) -> "
    "transform(slice(items, i + 2, size(items)), (y, j) -> "
    "transform(slice(items, i + j + 3, size(items)), "
    "z -> struct(x AS a, y AS b, z AS c))))))"
)


def basket_triples(arrays: DataFrame) -> DataFrame:
    """Explode :data:`TRIPLES_EXPR` over ``(bk, items)``: one (a, b, c) row
    per within-basket ordered triple, enumerated map-side."""
    return arrays.select(F.explode(F.expr(TRIPLES_EXPR)).alias("t")).select(
        "t.a", "t.b", "t.c"
    )


def frequent_triples(
    arrays: DataFrame, min_support: int = 5, top_n: int = 50
) -> DataFrame:
    """Size-3 frequent itemsets over capped ``(bk, items)`` basket arrays:
    ``(a, b, c, support)`` for every ordered triple co-occurring in >=
    ``min_support`` baskets, ranked by (support desc, a, b, c) — a total
    order, so the ``top_n`` truncation is deterministic on any engine.

    Plan: map-side :data:`TRIPLES_EXPR` enumeration (the basket cap bounds
    fan-out at C(cap, 3) — the Apriori transaction-truncation trade), one
    shuffle hash aggregation, bounded TakeOrderedAndProject. The oracle
    spells the triples as a three-way self-join over the capped row form —
    an equivalence proof of the array enumeration, same as PAIRS_EXPR."""
    sup = basket_triples(arrays).groupBy("a", "b", "c").agg(
        F.count(F.lit(1)).alias("support")
    )
    return (
        sup.where(F.col("support") >= min_support)
        .orderBy(F.desc("support"), "a", "b", "c")
        .limit(top_n)
    )


def frequent_triples_sql(
    basket_sql: str, max_basket: int, min_support: int = 5, top_n: int = 50
) -> str:
    """Full oracle for :func:`frequent_triples` over
    :func:`capped_baskets_sql`'s row form (three-way self-join)."""
    return f"""
WITH {capped_baskets_sql(basket_sql, max_basket)},
t3 AS (
  SELECT x.item AS a, y.item AS b, z.item AS c
  FROM bcap x
  JOIN bcap y ON x.bk = y.bk AND x.item < y.item
  JOIN bcap z ON y.bk = z.bk AND y.item < z.item
)
SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS support
FROM t3 GROUP BY a, b, c HAVING COUNT(*) >= {min_support}
ORDER BY support DESC, a, b, c LIMIT {top_n}
"""


def capped_baskets(
    df: DataFrame, basket_col: str, item_col: str, max_basket: int
) -> DataFrame:
    """Distinct (bk, item) pairs keeping at most ``max_basket`` items per
    basket — deterministically the lowest item keys, so both engines and
    any partitioning agree on which items survive. (Row form of
    :func:`capped_basket_arrays`.)"""
    return capped_basket_arrays(df, basket_col, item_col, max_basket).select(
        "bk", F.explode("items").alias("item")
    )


def capped_baskets_sql(basket_sql: str, max_basket: int) -> str:
    """CTE list mirroring :func:`capped_baskets`: ``basket_sql`` must select
    ``bk, item``; exposes ``bcap(bk, item)``."""
    return (
        f"b AS (SELECT bk, item FROM ({basket_sql}) GROUP BY bk, item),\n"
        "bn AS (SELECT bk, item, ROW_NUMBER() OVER (PARTITION BY bk ORDER BY item) AS rn FROM b),\n"
        f"bcap AS (SELECT bk, item FROM bn WHERE rn <= {max_basket})"
    )


def association_rules(
    arrays: DataFrame,
    min_support: int = 2,
    top_n: int = 100,
) -> DataFrame:
    """Pairwise association rules over capped ``(bk, items)`` basket arrays
    (:func:`capped_basket_arrays`).

    Returns ``(antecedent, consequent, support_cnt, conf_micro, lift_micro)``
    for every ordered pair co-occurring in >= ``min_support`` baskets, both
    directions, ranked by (lift desc, confidence desc, antecedent,
    consequent) and truncated to ``top_n``.

    Plan: pair enumeration is the map-side :data:`PAIRS_EXPR` (the r5 plan
    self-joined the pair-row form on bk — two extra shuffles the oracle
    still spells out, so parity doubles as an equivalence proof of the
    rewrite); then one hash agg per statistic and a top-N TakeOrdered.
    """

    # `arrays` feeds three consumers (item counts, the basket count, the
    # pair enumeration): unpinned, the capped-basket window pass ran once
    # per consumer (4 scans in basket_rules' physical plan). The count()
    # below doubles as the pin's eager materialization, so the two lazy
    # consumers read the pinned blocks. Cap-bounded rows: the pin is small.
    arrays = pin(arrays)
    item_cnt = (
        arrays.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("icnt"))
    )
    n = arrays.count()  # one row per basket by construction

    pair_cnt = (
        basket_pairs(arrays)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_support)
    )

    both = pair_cnt.select("u", "v", "cnt").unionByName(
        pair_cnt.select(
            F.col("v").alias("u"), F.col("u").alias("v"), F.col("cnt")
        )
    )
    iu = item_cnt.select(F.col("item").alias("u"), F.col("icnt").alias("ucnt"))
    iv = item_cnt.select(F.col("item").alias("v"), F.col("icnt").alias("vcnt"))
    scored = (
        both.join(iu, "u")
        .join(iv, "v")
        .select(
            F.col("u").alias("antecedent"),
            F.col("v").alias("consequent"),
            F.col("cnt").alias("support_cnt"),
            F.expr(f"cnt * {MICRO} DIV ucnt").alias("conf_micro"),
            F.expr(f"(cnt * {MICRO} DIV ucnt) * {n} DIV vcnt").alias("lift_micro"),
        )
    )
    return scored.orderBy(
        F.col("lift_micro").desc(),
        F.col("conf_micro").desc(),
        "antecedent",
        "consequent",
    ).limit(top_n)


def association_rules_sql(
    basket_sql: str, max_basket: int, min_support: int = 2, top_n: int = 100
) -> str:
    """Full DuckDB query reproducing :func:`association_rules` literally
    (same capped baskets, same truncating integer evaluation order)."""
    return f"""
WITH {capped_baskets_sql(basket_sql, max_basket)},
ic AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS icnt FROM bcap GROUP BY item),
nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n FROM bcap),
pc AS (
  SELECT a.item AS u, c.item AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bcap a JOIN bcap c ON a.bk = c.bk AND a.item < c.item
  GROUP BY a.item, c.item HAVING COUNT(*) >= {min_support}
),
bi AS (
  SELECT u, v, cnt FROM pc
  UNION ALL SELECT v AS u, u AS v, cnt FROM pc
)
SELECT bi.u AS antecedent, bi.v AS consequent, bi.cnt AS support_cnt,
       bi.cnt * {MICRO} // iu.icnt AS conf_micro,
       (bi.cnt * {MICRO} // iu.icnt) * (SELECT n FROM nb) // iv.icnt AS lift_micro
FROM bi JOIN ic iu ON bi.u = iu.item JOIN ic iv ON bi.v = iv.item
ORDER BY lift_micro DESC, conf_micro DESC, antecedent, consequent
LIMIT {top_n}
"""
