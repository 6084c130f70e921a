"""Technical-analysis and customer-analytics queries (beyond-reference).

The reference's query surface is open SQL over its bar views
(reference: src/marketpipe/cli/query.py:11-40); these entries extend the
engine's window/aggregation coverage with the classic TA indicator set
(ATR, stochastic oscillator, OBV, candlestick patterns, windowed MACD)
and event-log customer analytics (RFM segmentation, winsorized stats).

All indicators run on the 5-minute OHLCV resample — the raw event-mapped
bars have open=high=low=close, so candle bodies/ranges are only
non-degenerate after aggregation.

Cross-engine bit parity follows the repo's established discipline:
inputs to any order-sensitive float reduction are µ-quantized to exact
longs first (see queries_bars.SQL_BOLLINGER), and the windowed-EMA
weights for MACD are precomputed ONCE in Python and inlined as the same
integer literals into both the Spark plan and the DuckDB oracle — no
libm pow() on either side.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..execution import pin
from ..functions import NS_PER_DAY, NS_PER_SEC
from ..operators.resample import resample_intraday
from .registry import SQL_BARS, bars, register, scalar_join, t, ts_ns_expr

_R5_NS = 300 * NS_PER_SEC

#: Shared oracle CTE: bars -> 5m OHLCV resample (same shape as resample_5m).
SQL_R5 = f"""{SQL_BARS},
rsb AS (SELECT symbol, ts_ns - (ts_ns % {_R5_NS}) AS bucket,
               ts_ns, open, high, low, close, volume FROM bars),
r5 AS (SELECT symbol, bucket AS ts_ns,
              min_by(open, ts_ns) AS open, max(high) AS high, min(low) AS low,
              max_by(close, ts_ns) AS close, CAST(SUM(volume) AS BIGINT) AS volume
       FROM rsb GROUP BY symbol, bucket)"""


def _r5(spark, sf_dir):
    b = bars(spark, sf_dir).select("symbol", "ts_ns", "open", "high", "low", "close", "volume")
    return resample_intraday(b, 300)


# ---------------------------------------------------------------------------
# ATR(14) — Wilder's true range averaged over a 14-bar frame. The TR is
# computed on identical doubles in both engines, then µ-quantized so the
# sliding-window sum is an exact integer (window sum order differs between
# engines for floats — DuckDB uses segment trees).

SQL_ATR = f"""
WITH {SQL_R5},
d AS (SELECT symbol, ts_ns, close, high, low,
             LAG(close) OVER (PARTITION BY symbol ORDER BY ts_ns) AS pc
      FROM r5),
tr AS (SELECT symbol, ts_ns, close,
              CAST(FLOOR(GREATEST(high - low, ABS(high - pc), ABS(low - pc)) * 1e6) AS BIGINT) AS tr_micro
       FROM d WHERE pc IS NOT NULL),
s AS (SELECT symbol, ts_ns, close,
             SUM(tr_micro) OVER (PARTITION BY symbol ORDER BY ts_ns
                                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS st,
             COUNT(*) OVER (PARTITION BY symbol ORDER BY ts_ns
                            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS c
      FROM tr)
SELECT symbol, ts_ns, close,
       CASE WHEN c >= 14 THEN CAST(st AS DOUBLE) / 1e6 / 14.0 END AS atr_14
FROM s
"""


@register("atr_14", SQL_ATR, doc="ATR(14): true range over the 5m resample, exact µ-quantized window sum", tags=("window", "ta"))
def q_atr_14(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    wo = W.partitionBy("symbol").orderBy("ts_ns")
    d = r5.select(
        "symbol", "ts_ns", "close", "high", "low", F.lag("close").over(wo).alias("pc")
    ).filter(F.col("pc").isNotNull())
    tr = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - F.col("pc")),
        F.abs(F.col("low") - F.col("pc")),
    )
    d = d.select(
        "symbol", "ts_ns", "close", F.floor(tr * F.lit(1e6)).cast("long").alias("tr_micro")
    )
    wf = wo.rowsBetween(-13, 0)
    st = F.sum("tr_micro").over(wf)
    c = F.count(F.lit(1)).over(wf)
    return d.select(
        "symbol",
        "ts_ns",
        "close",
        F.when(c >= 14, st.cast("double") / F.lit(1e6) / F.lit(14.0)).alias("atr_14"),
    )


# ---------------------------------------------------------------------------
# Stochastic oscillator — %K = 100·(close − min14 low)/(max14 high − min14
# low); %D = 3-bar average of µ-quantized %K. min/max are exact; %K is the
# identical IEEE expression in both engines; %D sums exact longs.

SQL_STOCHASTIC = f"""
WITH {SQL_R5},
s1 AS (SELECT symbol, ts_ns, close,
              MIN(low)  OVER (PARTITION BY symbol ORDER BY ts_ns
                              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS mn,
              MAX(high) OVER (PARTITION BY symbol ORDER BY ts_ns
                              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS mx,
              COUNT(*)  OVER (PARTITION BY symbol ORDER BY ts_ns
                              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS c
       FROM r5),
s2 AS (SELECT symbol, ts_ns,
              CASE WHEN mx > mn THEN 100.0 * (close - mn) / (mx - mn) ELSE 50.0 END AS pct_k
       FROM s1 WHERE c >= 14),
s3 AS (SELECT symbol, ts_ns, pct_k,
              SUM(CAST(FLOOR(pct_k * 1e6) AS BIGINT))
                OVER (PARTITION BY symbol ORDER BY ts_ns
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS sk,
              COUNT(*) OVER (PARTITION BY symbol ORDER BY ts_ns
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS c3
       FROM s2)
SELECT symbol, ts_ns, pct_k,
       CASE WHEN c3 >= 3 THEN CAST(sk AS DOUBLE) / 1e6 / 3.0 END AS pct_d
FROM s3
"""


@register("stochastic_14", SQL_STOCHASTIC, doc="stochastic oscillator %K(14)/%D(3) on the 5m resample", tags=("window", "ta"))
def q_stochastic_14(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    wo = W.partitionBy("symbol").orderBy("ts_ns")
    w14 = wo.rowsBetween(-13, 0)
    s1 = r5.select(
        "symbol",
        "ts_ns",
        "close",
        F.min("low").over(w14).alias("mn"),
        F.max("high").over(w14).alias("mx"),
        F.count(F.lit(1)).over(w14).alias("c"),
    )
    k = F.when(
        F.col("mx") > F.col("mn"),
        F.lit(100.0) * (F.col("close") - F.col("mn")) / (F.col("mx") - F.col("mn")),
    ).otherwise(F.lit(50.0))
    s2 = s1.filter(F.col("c") >= 14).select("symbol", "ts_ns", k.alias("pct_k"))
    w3 = wo.rowsBetween(-2, 0)
    sk = F.sum(F.floor(F.col("pct_k") * F.lit(1e6)).cast("long")).over(w3)
    c3 = F.count(F.lit(1)).over(w3)
    return s2.select(
        "symbol",
        "ts_ns",
        "pct_k",
        F.when(c3 >= 3, sk.cast("double") / F.lit(1e6) / F.lit(3.0)).alias("pct_d"),
    )


# ---------------------------------------------------------------------------
# On-balance volume — cumulative signed-volume running total. Pure integer
# arithmetic end to end (deltas on µ-quantized closes, volumes are longs).

SQL_OBV = f"""
WITH {SQL_R5},
d AS (SELECT symbol, ts_ns, close, volume,
             CAST(FLOOR(close * 1e6) AS BIGINT)
               - LAG(CAST(FLOOR(close * 1e6) AS BIGINT))
                 OVER (PARTITION BY symbol ORDER BY ts_ns) AS diff
      FROM r5)
SELECT symbol, ts_ns, close,
       CAST(SUM(CASE WHEN diff > 0 THEN volume
                     WHEN diff < 0 THEN -volume
                     ELSE 0 END)
              OVER (PARTITION BY symbol ORDER BY ts_ns
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
FROM d
"""


@register("obv", SQL_OBV, doc="on-balance volume: cumulative signed volume (exact integer running total)", tags=("window", "ta"))
def q_obv(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    wo = W.partitionBy("symbol").orderBy("ts_ns")
    cu = F.floor(F.col("close") * F.lit(1e6)).cast("long")
    d = r5.select(
        "symbol", "ts_ns", "close", "volume", (cu - F.lag(cu).over(wo)).alias("diff")
    )
    signed = (
        F.when(F.col("diff") > 0, F.col("volume"))
        .when(F.col("diff") < 0, -F.col("volume"))
        .otherwise(F.lit(0))
    )
    wc = wo.rowsBetween(W.unboundedPreceding, 0)
    return d.select(
        "symbol", "ts_ns", "close", F.sum(signed).over(wc).cast("long").alias("obv")
    )


# ---------------------------------------------------------------------------
# Candlestick pattern counts — doji / hammer / engulfing flags from pure
# comparisons on identical doubles (no float reductions at all), aggregated
# per symbol. The doji test is multiplicative (|body|·10 ≤ range) to avoid
# a division.

SQL_CANDLE_PATTERNS = f"""
WITH {SQL_R5},
d AS (SELECT symbol, ts_ns, open, high, low, close,
             close - open AS body, high - low AS rng,
             LAG(open)  OVER (PARTITION BY symbol ORDER BY ts_ns) AS po,
             LAG(close) OVER (PARTITION BY symbol ORDER BY ts_ns) AS pcl
      FROM r5),
fl AS (SELECT symbol,
              CASE WHEN rng > 0 AND ABS(body) * 10 <= rng THEN 1 ELSE 0 END AS is_doji,
              CASE WHEN rng > 0 AND LEAST(open, close) - low >= 2 * ABS(body)
                        AND high - GREATEST(open, close) <= ABS(body) THEN 1 ELSE 0 END AS is_hammer,
              CASE WHEN pcl IS NOT NULL AND pcl < po AND body > 0
                        AND open <= pcl AND close >= po THEN 1 ELSE 0 END AS is_bull_engulf,
              CASE WHEN pcl IS NOT NULL AND pcl > po AND body < 0
                        AND open >= pcl AND close <= po THEN 1 ELSE 0 END AS is_bear_engulf
       FROM d)
SELECT symbol, COUNT(*) AS n_bars,
       CAST(SUM(is_doji) AS BIGINT) AS n_doji,
       CAST(SUM(is_hammer) AS BIGINT) AS n_hammer,
       CAST(SUM(is_bull_engulf) AS BIGINT) AS n_bull_engulf,
       CAST(SUM(is_bear_engulf) AS BIGINT) AS n_bear_engulf
FROM fl GROUP BY symbol
"""


@register("candle_patterns", SQL_CANDLE_PATTERNS, doc="candlestick pattern counts (doji/hammer/engulfing) per symbol on the 5m resample", tags=("window", "ta", "agg"))
def q_candle_patterns(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    wo = W.partitionBy("symbol").orderBy("ts_ns")
    d = r5.select(
        "symbol",
        "ts_ns",
        "open",
        "high",
        "low",
        "close",
        (F.col("close") - F.col("open")).alias("body"),
        (F.col("high") - F.col("low")).alias("rng"),
        F.lag("open").over(wo).alias("po"),
        F.lag("close").over(wo).alias("pcl"),
    )
    body, rng = F.col("body"), F.col("rng")
    po, pcl = F.col("po"), F.col("pcl")
    one = lambda cond: F.when(cond, 1).otherwise(0)  # noqa: E731
    fl = d.select(
        "symbol",
        one((rng > 0) & (F.abs(body) * 10 <= rng)).alias("is_doji"),
        one(
            (rng > 0)
            & (F.least(F.col("open"), F.col("close")) - F.col("low") >= 2 * F.abs(body))
            & (F.col("high") - F.greatest(F.col("open"), F.col("close")) <= F.abs(body))
        ).alias("is_hammer"),
        one(
            pcl.isNotNull() & (pcl < po) & (body > 0) & (F.col("open") <= pcl) & (F.col("close") >= po)
        ).alias("is_bull_engulf"),
        one(
            pcl.isNotNull() & (pcl > po) & (body < 0) & (F.col("open") >= pcl) & (F.col("close") <= po)
        ).alias("is_bear_engulf"),
    )
    return fl.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.sum("is_doji").cast("long").alias("n_doji"),
        F.sum("is_hammer").cast("long").alias("n_hammer"),
        F.sum("is_bull_engulf").cast("long").alias("n_bull_engulf"),
        F.sum("is_bear_engulf").cast("long").alias("n_bear_engulf"),
    )


# ---------------------------------------------------------------------------
# MACD (windowed) — EMA(12) and EMA(26) as finite 40-term weighted windows.
# True EMA is recursive (unbounded state); this operator is DEFINED as the
# truncated-window weighted mean: the weights are renormalized by their own
# sum, so it is an exact weighted average over the last 40 bars (the
# truncated tail mass is ~0.1% for span 12 and ~4.6% for span 26 — a
# window-definition choice, not an error term, and identical in both
# engines). The α(1−α)^j weights are precomputed ONCE here in Python and
# inlined as the SAME integer literals into the Spark plan and the DuckDB
# oracle, so both engines run sum(w_j · close_micro_j) / sum(w_j) on
# identical integers — no pow() at query time, no cross-engine libm drift.

_MACD_TERMS = 40


def _ema_weights(span: int) -> list[int]:
    a = 2.0 / (span + 1)
    return [round(1_000_000 * a * (1 - a) ** j) for j in range(_MACD_TERMS)]


_W12 = _ema_weights(12)
_W26 = _ema_weights(26)


def _prefix(warr: list[int]) -> list[int]:
    out, acc = [], 0
    for w in warr:
        acc += w
        out.append(acc)
    return out


# Oracle cost note (r9): the original formulation rebuilt the 40-element
# weight-list literal inside a per-element lambda — four list constructions
# × 40 index ops per ROW, 24.8 s at sf0.1 (63% of the whole oracle sweep).
# This form evaluates the weights ONCE in a constant CTE, replaces both
# per-row transforms with a single list_dot_product against a slice of the
# constant weight list (list_resize over window-produced lists segfaults on
# DuckDB 1.0.0, hence the slice), and indexes a prefix-sum literal for the
# denominator. Every product/sum stays an exact integer < 2^53 before the
# one double division, so the value hash is unchanged.
SQL_MACD = f"""
WITH {SQL_R5},
a AS (SELECT symbol, ts_ns, close,
             list_reverse(list(CAST(FLOOR(close * 1e6) AS BIGINT))
               OVER (PARTITION BY symbol ORDER BY ts_ns
                     ROWS BETWEEN {_MACD_TERMS - 1} PRECEDING AND CURRENT ROW)) AS rev
      FROM r5),
cw AS (SELECT CAST({_W12} AS BIGINT[]) AS w12, CAST({_W26} AS BIGINT[]) AS w26,
              CAST({_prefix(_W12)} AS BIGINT[]) AS p12,
              CAST({_prefix(_W26)} AS BIGINT[]) AS p26),
e AS (SELECT symbol, ts_ns, close,
             CAST(list_dot_product(rev, w12[1:len(rev)]) AS DOUBLE)
               / CAST(p12[len(rev)] AS DOUBLE) AS e12_micro,
             CAST(list_dot_product(rev, w26[1:len(rev)]) AS DOUBLE)
               / CAST(p26[len(rev)] AS DOUBLE) AS e26_micro
      FROM a CROSS JOIN cw)
SELECT symbol, ts_ns, close,
       e12_micro / 1e6 AS ema_12,
       e26_micro / 1e6 AS ema_26,
       (e12_micro - e26_micro) / 1e6 AS macd
FROM e
"""


def _spark_wsum(rev, warr: list[int]):
    # Numerator: zip_with against the weight-literal prefix of matching
    # length — one fused elementwise pass, no index sequence and no per-
    # element element_at pair (r10: the sequence+element_at form allocated
    # two index arrays and did 2x40 catalyst array lookups per ROW). The
    # denominator is a pure function of len(rev): index the PRECOMPUTED
    # prefix-sum literal instead of re-summing 40 weights per row — the
    # exact trick the DuckDB oracle already uses (p12/p26 CTE literals).
    # Same integers by construction, one double division at the end.
    wlit = F.lit(warr)
    num = F.aggregate(
        F.zip_with(rev, F.slice(wlit, 1, F.size(rev)), lambda x, w: x * w),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    den = F.element_at(F.lit(_prefix(warr)), F.size(rev))
    return num.cast("double") / den.cast("double")


@register("macd_12_26", SQL_MACD, doc="windowed MACD: 40-term EMA(12)/EMA(26) with shared precomputed integer weights", tags=("window", "ta", "array"))
def q_macd_12_26(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    wf = W.partitionBy("symbol").orderBy("ts_ns").rowsBetween(-(_MACD_TERMS - 1), 0)
    cu = F.floor(F.col("close") * F.lit(1e6)).cast("long")
    a = r5.select(
        "symbol", "ts_ns", "close", F.reverse(F.collect_list(cu).over(wf)).alias("rev")
    )
    e12 = _spark_wsum(F.col("rev"), _W12)
    e26 = _spark_wsum(F.col("rev"), _W26)
    e = a.select("symbol", "ts_ns", "close", e12.alias("e12_micro"), e26.alias("e26_micro"))
    return e.select(
        "symbol",
        "ts_ns",
        "close",
        (F.col("e12_micro") / F.lit(1e6)).alias("ema_12"),
        (F.col("e26_micro") / F.lit(1e6)).alias("ema_26"),
        ((F.col("e12_micro") - F.col("e26_micro")) / F.lit(1e6)).alias("macd"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation over the raw event log — recency/frequency/monetary
# quartiles per user, aggregated to segment counts. Quartile membership is
# threshold-bucketed against interpolated percentiles attached via a
# broadcast scalar join: NO global-order NTILE window (which would funnel
# every user through one partition — the single-partition antipattern W2
# already removed). Monetary sums are µ-quantized longs.

SQL_RFM = """
WITH u AS (
  SELECT user_id, MAX(epoch_ns(ts)) AS last_ns,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS mon_micro
  FROM events GROUP BY user_id
),
th AS (
  SELECT quantile_cont(last_ns, 0.25) AS r25, quantile_cont(last_ns, 0.50) AS r50, quantile_cont(last_ns, 0.75) AS r75,
         quantile_cont(freq, 0.25) AS f25, quantile_cont(freq, 0.50) AS f50, quantile_cont(freq, 0.75) AS f75,
         quantile_cont(mon_micro, 0.25) AS m25, quantile_cont(mon_micro, 0.50) AS m50, quantile_cont(mon_micro, 0.75) AS m75
  FROM u
),
q AS (
  SELECT u.user_id, u.mon_micro,
         1 + CASE WHEN u.last_ns >= th.r25 THEN 1 ELSE 0 END
           + CASE WHEN u.last_ns >= th.r50 THEN 1 ELSE 0 END
           + CASE WHEN u.last_ns >= th.r75 THEN 1 ELSE 0 END AS r_q,
         1 + CASE WHEN u.freq >= th.f25 THEN 1 ELSE 0 END
           + CASE WHEN u.freq >= th.f50 THEN 1 ELSE 0 END
           + CASE WHEN u.freq >= th.f75 THEN 1 ELSE 0 END AS f_q,
         1 + CASE WHEN u.mon_micro >= th.m25 THEN 1 ELSE 0 END
           + CASE WHEN u.mon_micro >= th.m50 THEN 1 ELSE 0 END
           + CASE WHEN u.mon_micro >= th.m75 THEN 1 ELSE 0 END AS m_q
  FROM u CROSS JOIN th
)
SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(CAST(SUM(mon_micro) AS BIGINT) AS DOUBLE) / 1e6 AS total_value
FROM q GROUP BY r_q, f_q, m_q
"""


@register("rfm_segments", SQL_RFM, doc="RFM quartile segmentation (threshold-bucketed, no global-order window)", tags=("analytics", "agg"))
def q_rfm_segments(spark, sf_dir):
    from .registry import scalar_join

    ev = t(spark, sf_dir, "events")
    # The per-user RFM frame feeds the percentile-threshold aggregate AND
    # the bucketing join: unpinned, the full events scan + hash agg runs
    # twice. One narrow row per user — pin it.
    u = pin(
        ev.groupBy("user_id").agg(
            F.max(ts_ns_expr(ev)).alias("last_ns"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("long")).cast("long").alias("mon_micro"),
        )
    )
    th = u.agg(
        F.expr("percentile(last_ns, 0.25)").alias("r25"),
        F.expr("percentile(last_ns, 0.50)").alias("r50"),
        F.expr("percentile(last_ns, 0.75)").alias("r75"),
        F.expr("percentile(freq, 0.25)").alias("f25"),
        F.expr("percentile(freq, 0.50)").alias("f50"),
        F.expr("percentile(freq, 0.75)").alias("f75"),
        F.expr("percentile(mon_micro, 0.25)").alias("m25"),
        F.expr("percentile(mon_micro, 0.50)").alias("m50"),
        F.expr("percentile(mon_micro, 0.75)").alias("m75"),
    )
    q = scalar_join(u, "user_id", th)

    def bucket(v, lo, mid, hi):
        return (
            F.lit(1)
            + F.when(v >= F.col(lo), 1).otherwise(0)
            + F.when(v >= F.col(mid), 1).otherwise(0)
            + F.when(v >= F.col(hi), 1).otherwise(0)
        )

    q = q.select(
        "user_id",
        "mon_micro",
        bucket(F.col("last_ns"), "r25", "r50", "r75").alias("r_q"),
        bucket(F.col("freq"), "f25", "f50", "f75").alias("f_q"),
        bucket(F.col("mon_micro"), "m25", "m50", "m75").alias("m_q"),
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_users"),
        (F.sum("mon_micro").cast("long").cast("double") / F.lit(1e6)).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Winsorized per-type value stats — p05/p95 clamp then exact µ-quantized
# means. The per-type percentile aggregate is joined back to the fact rows
# (tiny by construction: one row per event_type); AQE broadcasts it at
# runtime. This is the robust-mean primitive for outlier-heavy telemetry.

SQL_WINSORIZED = """
WITH p AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type
),
c AS (
  SELECT e.event_type, e.value,
         LEAST(GREATEST(e.value, p.p05), p.p95) AS wv,
         p.p05, p.p95
  FROM events e JOIN p USING (event_type)
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ANY_VALUE(p05) AS p05, ANY_VALUE(p95) AS p95,
       CAST(CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*) AS mean_raw,
       CAST(CAST(SUM(CAST(FLOOR(wv * 1e6) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*) AS mean_winsorized
FROM c GROUP BY event_type
"""


@register("winsorized_value_stats", SQL_WINSORIZED, doc="per-type p05/p95 winsorized means (robust stats; exact µ-quantized sums)", tags=("analytics", "agg", "percentile"))
def q_winsorized_value_stats(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    p = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    c = ev.join(p, "event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("wv"),
        "p05",
        "p95",
    )
    n = F.count(F.lit(1))
    mean_of = lambda col: (  # noqa: E731
        F.sum(F.floor(F.col(col) * F.lit(1e6)).cast("long")).cast("long").cast("double")
        / F.lit(1e6)
        / n
    )
    return c.groupBy("event_type").agg(
        n.alias("n"),
        F.any_value(F.col("p05")).alias("p05"),
        F.any_value(F.col("p95")).alias("p95"),
        mean_of("value").alias("mean_raw"),
        mean_of("wv").alias("mean_winsorized"),
    )


# ---------------------------------------------------------------------------
# KLL quantile sketch over the event values — the sketch VALUES are
# partition-layout-dependent (compaction state is per-partition), so they
# can't be pinned in SQL. The entry is SELF-VALIDATING instead: each probed
# p emits the EXACT interpolated percentile (oracle: quantile_cont — the
# value_percentiles precedent, bit-identical) plus ``within_bound`` = the
# sketch estimate's TRUE rank (count(value ≤ est)/n, exact integer math)
# lies within 5% of p. The oracle pins both; a sketch regression flips the
# boolean and the driver row goes red — a green row asserts the error
# bound, not just a row count. tests/test_sketches.py keeps the tighter
# determinism/mergeability checks.

_KLL_PROBS = [0.25, 0.5, 0.75, 0.9, 0.99]

SQL_KLL_VALUE_QUANTILES = "\nUNION ALL\n".join(
    f"SELECT CAST({p} AS DOUBLE) AS p, quantile_cont(value, {p}) AS exact_value, "
    "TRUE AS within_bound FROM events"
    for p in _KLL_PROBS
)


@register(
    "kll_value_quantiles",
    SQL_KLL_VALUE_QUANTILES,
    doc="mergeable KLL quantile sketch: exact percentiles + sketch rank-error-within-5% flag, both oracle-pinned",
    tags=("sketch", "percentile"),
)
def q_kll_value_quantiles(spark, sf_dir):
    from ..operators.sketches import kll_rank_check

    # The single-column value frame feeds THREE consumers (sketch build,
    # true-rank count, exact percentile agg): unpinned, each re-scans the
    # events parquet. Pin the narrow column once; the pin keeps the scan's
    # partition layout, so the layout-dependent sketch state is unchanged.
    ev = pin(t(spark, sf_dir, "events").select("value"))
    check = kll_rank_check(ev, "value", _KLL_PROBS, k=256, bound=0.05)
    exact = ev.agg(
        *[F.expr(f"percentile(value, {p})").alias(f"e{i}") for i, p in enumerate(_KLL_PROBS)]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(float(p)).alias("p"),
                F.col(f"e{i}").alias("exact_value"),
            )
            for i, p in enumerate(_KLL_PROBS)
        ]
    )
    exact_rows = exact.select(F.explode(rows).alias("r")).select("r.p", "r.exact_value")
    # 5x5 equi-join on the probe literal (both sides carry the identical
    # F.lit(float(p)) doubles) — a broadcast hash join, never a nested loop.
    return exact_rows.join(check, "p").select("p", "exact_value", "within_bound")


# ---------------------------------------------------------------------------
# TWAP — time-weighted average price per symbol per day: each 5m bar's
# close weighted by its holding interval (next bar start, or end of day for
# the last bar). Weights are exact integer SECONDS (ns div 1e9) and closes
# µ-quantized longs, so Σ(close_µ·w) stays under 2^59 and both engines
# divide identical integers.

_DAY_NS = NS_PER_DAY

SQL_TWAP = f"""
WITH {SQL_R5},
d AS (SELECT symbol, ts_ns, close,
             ts_ns - (ts_ns % {_DAY_NS}) AS day_ns,
             LEAD(ts_ns) OVER (PARTITION BY symbol, ts_ns - (ts_ns % {_DAY_NS})
                               ORDER BY ts_ns) AS nxt
      FROM r5),
w AS (SELECT symbol, day_ns,
             CAST(FLOOR(close * 1e6) AS BIGINT) AS close_micro,
             (COALESCE(nxt, day_ns + {_DAY_NS}) - ts_ns) // 1000000000 AS w_s
      FROM d)
SELECT symbol, day_ns,
       CAST(SUM(close_micro * w_s) AS BIGINT) AS twap_num_micro,
       CAST(SUM(w_s) AS BIGINT) AS total_s,
       CAST(CAST(SUM(close_micro * w_s) AS BIGINT) AS DOUBLE)
         / CAST(SUM(w_s) AS BIGINT) / 1e6 AS twap
FROM w GROUP BY symbol, day_ns
"""


@register("twap", SQL_TWAP, doc="time-weighted average price per symbol-day (exact integer interval weights)", tags=("agg", "ta"))
def q_twap(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    day_ns = (F.col("ts_ns") - F.col("ts_ns") % F.lit(_DAY_NS)).alias("day_ns")
    wo = W.partitionBy("symbol", "day_ns").orderBy("ts_ns")
    d = r5.select("symbol", "ts_ns", "close", day_ns).withColumn(
        "nxt", F.lead("ts_ns").over(wo)
    )
    w = d.select(
        "symbol",
        "day_ns",
        F.floor(F.col("close") * F.lit(1e6)).cast("long").alias("close_micro"),
        F.expr(f"(coalesce(nxt, day_ns + {_DAY_NS}) - ts_ns) div 1000000000").alias("w_s"),
    )
    num = F.sum(F.col("close_micro") * F.col("w_s")).cast("long")
    den = F.sum("w_s").cast("long")
    return w.groupBy("symbol", "day_ns").agg(
        num.alias("twap_num_micro"),
        den.alias("total_s"),
        (num.cast("double") / den / F.lit(1e6)).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Beta per symbol vs the market — OLS slope of a symbol's 5m returns
# against the market return (sum of all symbols' returns in the bucket,
# window-summed per bucket: one shuffle on the high-cardinality bucket
# key, never a join). Returns are centi-quantized so every power sum
# (Σx, Σy, Σxy, Σyy) is an exact integer below 2^53; the closed form then
# runs on identical doubles in both engines.

SQL_SYMBOL_BETA = f"""
WITH {SQL_R5},
r AS (SELECT symbol, ts_ns,
             CAST(FLOOR(close * 100) AS BIGINT)
               - LAG(CAST(FLOOR(close * 100) AS BIGINT))
                 OVER (PARTITION BY symbol ORDER BY ts_ns) AS x
      FROM r5),
rx AS (SELECT symbol, ts_ns, x FROM r WHERE x IS NOT NULL),
m AS (SELECT symbol, ts_ns, x,
             SUM(x) OVER (PARTITION BY ts_ns) AS y
      FROM rx),
s AS (SELECT symbol,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(y * y) AS BIGINT) AS syy
      FROM m GROUP BY symbol)
SELECT symbol, n,
       CASE WHEN CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy <> 0.0 THEN
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
       END AS beta
FROM s
"""


@register("symbol_beta", SQL_SYMBOL_BETA, doc="OLS beta of each symbol's returns vs the per-bucket market return (exact power sums)", tags=("agg", "ta", "window"))
def q_symbol_beta(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    wo = W.partitionBy("symbol").orderBy("ts_ns")
    cc = F.floor(F.col("close") * F.lit(100)).cast("long")
    rx = r5.select("symbol", "ts_ns", (cc - F.lag(cc).over(wo)).alias("x")).filter(
        F.col("x").isNotNull()
    )
    m = rx.withColumn("y", F.sum("x").over(W.partitionBy("ts_ns")))
    s = m.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    den = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return s.select("symbol", "n", F.when(den != 0.0, num / den).alias("beta"))


# ---------------------------------------------------------------------------
# Pairwise return correlation matrix — 5m returns self-joined on the time
# bucket (equi-join on the high-cardinality bucket key; output pairs are
# symbol², tiny). Same exact centi-quantized power-sum discipline; Pearson
# runs on identical doubles.

SQL_RETURN_CORRELATIONS = f"""
WITH {SQL_R5},
r AS (SELECT symbol, ts_ns,
             CAST(FLOOR(close * 100) AS BIGINT)
               - LAG(CAST(FLOOR(close * 100) AS BIGINT))
                 OVER (PARTITION BY symbol ORDER BY ts_ns) AS x
      FROM r5),
rx AS (SELECT symbol, ts_ns, x FROM r WHERE x IS NOT NULL),
p AS (SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.x AS xa, b.x AS xb
      FROM rx a JOIN rx b ON a.ts_ns = b.ts_ns AND a.symbol < b.symbol),
s AS (SELECT sym_a, sym_b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xa) AS BIGINT) AS sa, CAST(SUM(xb) AS BIGINT) AS sb,
             CAST(SUM(xa * xb) AS BIGINT) AS sab,
             CAST(SUM(xa * xa) AS BIGINT) AS saa, CAST(SUM(xb * xb) AS BIGINT) AS sbb
      FROM p GROUP BY sym_a, sym_b)
SELECT sym_a, sym_b, n,
       CASE WHEN (CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa) > 0.0
             AND (CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb) > 0.0 THEN
         (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
           / (sqrt(CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
              * sqrt(CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb))
       END AS corr
FROM s
"""


@register("return_correlations", SQL_RETURN_CORRELATIONS, doc="pairwise Pearson correlation of 5m returns (bucket equi-join, exact power sums)", tags=("agg", "ta", "join"))
def q_return_correlations(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    wo = W.partitionBy("symbol").orderBy("ts_ns")
    cc = F.floor(F.col("close") * F.lit(100)).cast("long")
    # ``rx`` is BOTH sides of the pair self-join: unpinned, the scan + 5m
    # resample + return window runs once per side. Narrow (symbol, ts_ns,
    # x) rows at the 5m grain — pin so the upstream runs once.
    rx = pin(
        r5.select("symbol", "ts_ns", (cc - F.lag(cc).over(wo)).alias("x")).filter(
            F.col("x").isNotNull()
        )
    )
    a = rx.select(F.col("symbol").alias("sym_a"), "ts_ns", F.col("x").alias("xa"))
    b = rx.select(F.col("symbol").alias("sym_b"), "ts_ns", F.col("x").alias("xb"))
    p = a.join(b, "ts_ns").filter(F.col("sym_a") < F.col("sym_b"))
    s = p.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").cast("long").alias("sa"),
        F.sum("xb").cast("long").alias("sb"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sab"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("sbb"),
    )
    nd = F.col("n").cast("double")
    va = nd * F.col("saa") - F.col("sa").cast("double") * F.col("sa")
    vb = nd * F.col("sbb") - F.col("sb").cast("double") * F.col("sb")
    cov = nd * F.col("sab") - F.col("sa").cast("double") * F.col("sb")
    return s.select(
        "sym_a",
        "sym_b",
        "n",
        F.when((va > 0.0) & (vb > 0.0), cov / (F.sqrt(va) * F.sqrt(vb))).alias("corr"),
    )


# ---------------------------------------------------------------------------
# Gap-filled 5m resample with forward fill (LOCF). Market-data consumers
# expect a dense bar grid per symbol; empty buckets carry the last close
# forward (open=high=low=close=previous close, volume 0, is_gap=1). The
# grid is generated per symbol from its own [min, max] bucket span with
# sequence() — no driver loop, no cross join; the fill is a plain
# ignore-nulls window copy of stored doubles (no float arithmetic, so
# cross-engine parity is byte-exact).

SQL_FFILL = f"""
WITH {SQL_R5},
sp AS (SELECT symbol, MIN(ts_ns) AS mn, MAX(ts_ns) AS mx FROM r5 GROUP BY symbol),
grid AS (SELECT symbol, unnest(range(mn, mx + 1, {_R5_NS})) AS ts_ns FROM sp),
j AS (
  SELECT g.symbol, g.ts_ns, r5.open, r5.high, r5.low, r5.close, r5.volume
  FROM grid g LEFT JOIN r5 ON g.symbol = r5.symbol AND g.ts_ns = r5.ts_ns
),
f AS (
  SELECT symbol, ts_ns, open, high, low, close, volume,
         last_value(close IGNORE NULLS) OVER (
           PARTITION BY symbol ORDER BY ts_ns ROWS UNBOUNDED PRECEDING) AS fc
  FROM j
)
SELECT symbol, ts_ns,
       COALESCE(open, fc) AS open, COALESCE(high, fc) AS high,
       COALESCE(low, fc) AS low, COALESCE(close, fc) AS close,
       CAST(COALESCE(volume, 0) AS BIGINT) AS volume,
       CASE WHEN close IS NULL THEN 1 ELSE 0 END AS is_gap
FROM f
"""


@register(
    "resample_5m_ffill",
    SQL_FFILL,
    doc="dense per-symbol 5m grid (sequence-generated) with last-observation-carried-forward fill for empty buckets",
    tags=("window", "resample", "ta"),
)
def q_resample_5m_ffill(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    sp = r5.groupBy("symbol").agg(
        F.min("ts_ns").alias("mn"), F.max("ts_ns").alias("mx")
    )
    grid = sp.select(
        "symbol",
        F.explode(F.sequence("mn", "mx", F.lit(_R5_NS).cast("long"))).alias("ts_ns"),
    )
    j = grid.join(r5, ["symbol", "ts_ns"], "left_outer")
    wf = (
        W.partitionBy("symbol")
        .orderBy("ts_ns")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    f = j.withColumn("fc", F.last("close", ignorenulls=True).over(wf))
    return f.select(
        "symbol",
        "ts_ns",
        F.coalesce("open", "fc").alias("open"),
        F.coalesce("high", "fc").alias("high"),
        F.coalesce("low", "fc").alias("low"),
        F.coalesce("close", "fc").alias("close"),
        F.coalesce("volume", F.lit(0)).cast("long").alias("volume"),
        F.when(F.col("close").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Recursive EWMA over daily closes — the one indicator family that is a
# genuine SEQUENTIAL fold (infinite memory, unlike MACD's windowed-EMA
# approximation above). Per symbol: daily closes µ-quantized to longs,
# ordered into a calendar-bounded array (days per symbol, not corpus rows),
# then folded with the exact integer recurrence
#   s' = (alpha_ppm * x + (1e6 - alpha_ppm) * s) DIV 1e6,  s0 = first close.
# Spark's aggregate() higher-order fold and DuckDB's list_reduce have
# identical first-element-init/left-fold semantics, so the truncating
# integer states agree bit-for-bit at every step.

_EWMA_ALPHA_PPM = 200_000

SQL_EWMA = f"""
WITH {SQL_BARS},
dd AS (
  SELECT symbol, ts_ns - ts_ns % {NS_PER_DAY} AS day,
         CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT) AS cm
  FROM bars GROUP BY symbol, ts_ns - ts_ns % {NS_PER_DAY}
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       list_reduce(list(cm ORDER BY day),
                   (acc, v) -> ({_EWMA_ALPHA_PPM} * v + {1_000_000 - _EWMA_ALPHA_PPM} * acc) // 1000000) AS ewma_micro
FROM dd GROUP BY symbol
"""


@register(
    "ewma_close",
    SQL_EWMA,
    doc="recursive integer EWMA (alpha 0.2) over daily closes via higher-order fold — exact sequential state per symbol",
    tags=("ta", "aggregation"),
)
def q_ewma_close(spark, sf_dir):
    b = bars(spark, sf_dir)
    dd = (
        b.groupBy(
            "symbol",
            (F.col("ts_ns") - F.col("ts_ns") % F.lit(NS_PER_DAY)).alias("day"),
        )
        .agg(
            F.expr("CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT)").alias("cm")
        )
    )
    return (
        dd.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.array_sort(F.collect_list(F.struct("day", "cm"))).alias("a"),
        )
        .select(
            "symbol",
            "n_days",
            # NB: element_at is 1-based like slice(); bracket indexing a[1]
            # would be the SECOND element (0-based) and silently skip the
            # first close while double-counting the second.
            F.expr(
                f"aggregate(slice(a, 2, size(a) - 1), element_at(a, 1).cm, "
                f"(acc, x) -> ({_EWMA_ALPHA_PPM} * x.cm + {1_000_000 - _EWMA_ALPHA_PPM} * acc) div 1000000)"
            ).alias("ewma_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Holt double exponential smoothing (level + trend) — a sequential fold with
# a STRUCT accumulator, extending the single-state EWMA precedent above.
# Per symbol: daily closes mu-quantized to longs, ordered into a
# calendar-bounded array, folded with the exact integer recurrences
#   l' = (alpha*x + (1e6-alpha)*(l + b)) DIV 1e6
#   b' = (beta*(l' - l) + (1e6-beta)*b) DIV 1e6
# (l' is textually repeated inside b' — Spark's lambda dialect has no
# let-binding, and repeating the truncated expression keeps the states
# bit-identical). Init l = first close, b = 0; integer DIV truncates
# toward zero in BOTH Spark (`div`) and DuckDB (`//`) — checked on
# negatives, which matter here because the trend state CAN go negative.
#
# ORACLE NOTE: the DuckDB side deliberately does NOT use list_reduce with
# a struct accumulator. DuckDB 1.0 evaluates the lambda's struct fields
# SEQUENTIALLY against a mutating accumulator — acc.l inside the 'b'
# field expression resolves to the 'l' value just computed in the SAME
# invocation (reproduced: list_reduce over 3 elements with
# {'l': f(acc), 'b': acc.l} returns b == the new l, not the old). Spark's
# aggregate() has correct snapshot semantics and matches a reference
# Python fold exactly, so the oracle instead unrolls the recurrence as a
# recursive CTE stepping a per-symbol row index (the dedup_clusters
# precedent), which is plain deterministic SQL on both engines' terms.

_HOLT_ALPHA_PPM = 300_000
_HOLT_BETA_PPM = 100_000
_HOLT_H = 5  # forecast horizon, days

_HOLT_L = (
    f"({_HOLT_ALPHA_PPM} * x.cm + {1_000_000 - _HOLT_ALPHA_PPM}"
    " * (acc.l + acc.b)) div 1000000"
)
_HOLT_L_SQL = _HOLT_L.replace("div", "//")

_HOLT_NL_SQL = (
    f"({_HOLT_ALPHA_PPM} * h.cm + {1_000_000 - _HOLT_ALPHA_PPM}"
    " * (s.l + s.b)) // 1000000"
)

SQL_HOLT = f"""
WITH RECURSIVE {SQL_BARS},
hd AS (
  SELECT symbol, ts_ns - ts_ns % {NS_PER_DAY} AS day,
         CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT) AS cm
  FROM bars GROUP BY symbol, ts_ns - ts_ns % {NS_PER_DAY}
),
hi AS MATERIALIZED (
  SELECT symbol, cm,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) AS i
  FROM hd
),
hn AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days FROM hi GROUP BY symbol),
st AS (
  SELECT symbol, i, cm AS l, CAST(0 AS BIGINT) AS b FROM hi WHERE i = 1
  UNION ALL
  SELECT h.symbol, h.i,
         {_HOLT_NL_SQL} AS l,
         ({_HOLT_BETA_PPM} * ({_HOLT_NL_SQL} - s.l) + {1_000_000 - _HOLT_BETA_PPM} * s.b) // 1000000 AS b
  FROM st s JOIN hi h ON h.symbol = s.symbol AND h.i = s.i + 1
)
SELECT st.symbol, hn.n_days, st.l AS level_micro, st.b AS trend_micro,
       st.l + {_HOLT_H} * st.b AS forecast_{_HOLT_H}d_micro
FROM st JOIN hn ON st.symbol = hn.symbol AND st.i = hn.n_days
"""


@register(
    "holt_trend",
    SQL_HOLT,
    doc=f"Holt double exponential smoothing (integer level+trend struct fold, alpha 0.3 / beta 0.1) over daily closes with a {_HOLT_H}-day linear forecast",
    tags=("ta", "aggregation"),
)
def q_holt_trend(spark, sf_dir):
    b = bars(spark, sf_dir)
    hd = b.groupBy(
        "symbol",
        (F.col("ts_ns") - F.col("ts_ns") % F.lit(NS_PER_DAY)).alias("day"),
    ).agg(F.expr("CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT)").alias("cm"))
    fold = (
        "aggregate(slice(a, 2, size(a) - 1), "
        "named_struct('l', element_at(a, 1).cm, 'b', CAST(0 AS BIGINT)), "
        f"(acc, x) -> named_struct("
        f"'l', {_HOLT_L}, "
        f"'b', ({_HOLT_BETA_PPM} * (({_HOLT_L}) - acc.l) + {1_000_000 - _HOLT_BETA_PPM} * acc.b) div 1000000))"
    )
    return (
        hd.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.array_sort(F.collect_list(F.struct("day", "cm"))).alias("a"),
        )
        .select(
            "symbol",
            "n_days",
            F.expr(fold).alias("s"),
        )
        .select(
            "symbol",
            "n_days",
            F.col("s.l").alias("level_micro"),
            F.col("s.b").alias("trend_micro"),
            (F.col("s.l") + F.lit(_HOLT_H) * F.col("s.b")).alias(
                f"forecast_{_HOLT_H}d_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# One-sided CUSUM change-point statistic over daily closes — the classic
# drift/shift monitor (Page 1954): s_i = max(0, s_{i-1} + (x_i - mean)),
# reported as the running maximum (the detection statistic) plus the final
# state. A third sequential-fold family after EWMA (scalar) and Holt
# (struct): here the fold carries (s, smax) and the recurrence has a hard
# nonlinearity (the max-0 reset), so no window rewrite exists. The mean is
# the per-symbol INTEGER mean (SUM DIV COUNT, truncating — closes are
# positive so trunc == floor on both engines); all states are exact longs.
# The oracle is a per-symbol recursive CTE (the holt_trend precedent — the
# DuckDB list_reduce struct-mutation hazard documented there applies to
# any multi-field fold, so lambda folds are avoided for them on the oracle
# side entirely).

SQL_CUSUM = f"""
WITH RECURSIVE {SQL_BARS},
cd AS (
  SELECT symbol, ts_ns - ts_ns % {NS_PER_DAY} AS day,
         CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT) AS cm
  FROM bars GROUP BY symbol, ts_ns - ts_ns % {NS_PER_DAY}
),
cmn AS MATERIALIZED (
  SELECT symbol, CAST(SUM(cm) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM cd GROUP BY symbol
),
ci AS MATERIALIZED (
  SELECT symbol, cm,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) AS i
  FROM cd
),
cs AS (
  SELECT ci.symbol, ci.i,
         GREATEST(CAST(0 AS BIGINT), ci.cm - cmn.m) AS s,
         GREATEST(CAST(0 AS BIGINT), ci.cm - cmn.m) AS smax
  FROM ci JOIN cmn ON ci.symbol = cmn.symbol WHERE ci.i = 1
  UNION ALL
  SELECT h.symbol, h.i,
         GREATEST(CAST(0 AS BIGINT), p.s + h.cm - cmn.m) AS s,
         GREATEST(p.smax, GREATEST(CAST(0 AS BIGINT), p.s + h.cm - cmn.m)) AS smax
  FROM cs p
  JOIN ci h ON h.symbol = p.symbol AND h.i = p.i + 1
  JOIN cmn ON cmn.symbol = h.symbol
)
SELECT cs.symbol, cmn.n_days, cs.smax AS max_cusum_micro, cs.s AS final_cusum_micro
FROM cs JOIN cmn ON cs.symbol = cmn.symbol AND cs.i = cmn.n_days
"""


@register(
    "cusum_drift",
    SQL_CUSUM,
    doc="one-sided CUSUM change-point statistic (integer (s, smax) struct fold with max-0 reset) over daily closes per symbol",
    tags=("ta", "aggregation"),
)
def q_cusum_drift(spark, sf_dir):
    b = bars(spark, sf_dir)
    cd = b.groupBy(
        "symbol",
        (F.col("ts_ns") - F.col("ts_ns") % F.lit(NS_PER_DAY)).alias("day"),
    ).agg(F.expr("CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT)").alias("cm"))
    agg = cd.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("CAST(SUM(cm) AS BIGINT) DIV CAST(COUNT(*) AS BIGINT)").alias("m"),
        F.array_sort(F.collect_list(F.struct("day", "cm"))).alias("a"),
    )
    s1 = "greatest(CAST(0 AS BIGINT), element_at(a, 1).cm - m)"
    step = "greatest(CAST(0 AS BIGINT), acc.s + x.cm - m)"
    fold = (
        f"aggregate(slice(a, 2, size(a) - 1), "
        f"named_struct('s', {s1}, 'smax', {s1}), "
        f"(acc, x) -> named_struct('s', {step}, 'smax', greatest(acc.smax, {step})))"
    )
    return agg.select(
        "symbol",
        "n_days",
        F.expr(fold).alias("st"),
    ).select(
        "symbol",
        "n_days",
        F.col("st.smax").alias("max_cusum_micro"),
        F.col("st.s").alias("final_cusum_micro"),
    )


# ---------------------------------------------------------------------------
# Bootstrap confidence interval for the mean daily return — deterministic
# statistical resampling, the inference family (everything else in the TA
# suite is a point estimate). B=200 bootstrap resamples are drawn WITH
# replacement by hashing (symbol, replicate, position) through the md5_60
# family (the dedup oracle-parity hash: first 15 md5 hex chars as a 60-bit
# long, bit-identical in DuckDB) — the dsir_resample precedent of replacing
# RNG with deterministic cross-engine hashing. Per resample the mean is an
# integer DIV; the 2.5%/97.5% bounds are exact order statistics (5th and
# 196th of 200 sorted integer means), so the whole interval is engine- and
# partition-exact. Scale: B x returns rows per symbol (map-generated, one
# shuffle join + two hash aggs); per-symbol state is 200 longs.

_BOOT_B = 200

SQL_BOOTSTRAP = f"""
WITH {SQL_BARS},
bd AS (
  SELECT symbol, ts_ns - ts_ns % {NS_PER_DAY} AS day,
         CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT) AS cm
  FROM bars GROUP BY symbol, ts_ns - ts_ns % {NS_PER_DAY}
),
ri AS (
  SELECT symbol, i, rm FROM (
    SELECT symbol,
           ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) - 1 AS i,
           cm - LAG(cm) OVER (PARTITION BY symbol ORDER BY day) AS rm
    FROM bd
  ) WHERE rm IS NOT NULL
),
rcnt AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n FROM ri GROUP BY symbol),
bpos AS (SELECT symbol, n, unnest(range(1, n + 1)) AS pos FROM rcnt),
bdrw AS (
  SELECT symbol, n, pos, unnest(range(0, {_BOOT_B})) AS bno FROM bpos
),
bj AS (
  SELECT symbol, bno,
         (CAST(('0x' || substr(md5(symbol || ':' || bno || ':' || pos), 1, 15)) AS BIGINT) % n) + 1 AS j
  FROM bdrw
),
bm AS (
  SELECT d.symbol, d.bno,
         CAST(SUM(r.rm) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_micro
  FROM bj d JOIN ri r ON d.symbol = r.symbol AND d.j = r.i
  GROUP BY d.symbol, d.bno
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_resamples,
       list(mean_micro ORDER BY mean_micro)[5] AS lo_micro,
       list(mean_micro ORDER BY mean_micro)[{_BOOT_B - 4}] AS hi_micro
FROM bm GROUP BY symbol
"""


@register(
    "bootstrap_return_ci",
    SQL_BOOTSTRAP,
    doc=f"bootstrap 95% CI for the mean daily return ({_BOOT_B} deterministic md5-resampled replicates, exact integer order-statistic bounds)",
    tags=("ta", "aggregation", "sampling"),
)
def q_bootstrap_return_ci(spark, sf_dir):
    b = bars(spark, sf_dir)
    bd = b.groupBy(
        "symbol",
        (F.col("ts_ns") - F.col("ts_ns") % F.lit(NS_PER_DAY)).alias("day"),
    ).agg(F.expr("CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT)").alias("cm"))
    wo = W.partitionBy("symbol").orderBy("day")
    # NOT pinned (measured): an interleaved A/B at sf0.1 put a pin here at
    # 1.04x — the pin job on the per-symbol-day frame costs more than the
    # deduped recompute saves (the daily agg below it is exchange-
    # terminated and reused at runtime).
    ri = (
        bd.select(
            "symbol",
            (F.row_number().over(wo) - F.lit(1)).alias("i"),
            (F.col("cm") - F.lag("cm").over(wo)).alias("rm"),
        )
        .where(F.col("rm").isNotNull())
    )
    rcnt = ri.groupBy("symbol").agg(F.count(F.lit(1)).alias("n"))
    bdrw = (
        rcnt.select(
            "symbol", "n", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("pos")
        )
        .select(
            "symbol",
            "n",
            "pos",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("bno"),
        )
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("symbol"), F.col("bno"), F.col("pos"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    bj = bdrw.select(
        "symbol", "bno", (F.pmod(h, F.col("n")) + F.lit(1)).alias("j")
    )
    bm = (
        bj.join(ri, (bj.symbol == ri.symbol) & (bj.j == ri.i))
        .groupBy(bj.symbol.alias("symbol"), "bno")
        .agg(F.expr("CAST(SUM(rm) AS BIGINT) DIV CAST(COUNT(*) AS BIGINT)").alias("mean_micro"))
    )
    return (
        bm.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_resamples"),
            F.array_sort(F.collect_list("mean_micro")).alias("ms"),
        )
        .select(
            "symbol",
            "n_resamples",
            F.element_at("ms", 5).alias("lo_micro"),
            F.element_at("ms", _BOOT_B - 4).alias("hi_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney rank-sum statistic per symbol vs the pooled rest — the
# nonparametric two-sample location test, second member of the inference
# family. Average-ranks-with-ties are kept exact by DOUBLING: for a tie
# group starting at min-rank r with c members, 2*avgrank = 2r + c - 1 (all
# integers). Ranks are computed on the DISTINCT-VALUE histogram (one
# groupBy + a window over distinct return values — vocabulary-scale, not
# corpus-scale; the global ordered prefix-sum runs over that small
# histogram, the same bounded-global-pass argument as the skyline's final
# window), then joined back. Outputs 2x rank-sum, 2x U, and 2x E[U] =
# 2*n_i*(N-n_i)... /2 kept doubled so everything stays integer-exact.

SQL_RANKSUM = f"""
WITH {SQL_BARS},
rd AS (
  SELECT symbol, ts_ns - ts_ns % {NS_PER_DAY} AS day,
         CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT) AS cm
  FROM bars GROUP BY symbol, ts_ns - ts_ns % {NS_PER_DAY}
),
rr AS (
  SELECT symbol, rm FROM (
    SELECT symbol, cm - LAG(cm) OVER (PARTITION BY symbol ORDER BY day) AS rm
    FROM rd
  ) WHERE rm IS NOT NULL
),
hist AS (
  SELECT rm, CAST(COUNT(*) AS BIGINT) AS c FROM rr GROUP BY rm
),
rk AS (
  SELECT rm, c,
         CAST(COALESCE(SUM(c) OVER (ORDER BY rm
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before_cnt
  FROM hist
),
rx AS (
  SELECT rm, 2 * (before_cnt + 1) + c - 1 AS avgrank_x2 FROM rk
),
js AS (
  SELECT rr.symbol, rx.avgrank_x2 FROM rr JOIN rx ON rr.rm = rx.rm
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM rr)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_returns,
       CAST(SUM(avgrank_x2) AS BIGINT) AS rank_sum_x2,
       CAST(SUM(avgrank_x2) AS BIGINT)
         - CAST(COUNT(*) AS BIGINT) * (CAST(COUNT(*) AS BIGINT) + 1) AS u_x2,
       CAST(COUNT(*) AS BIGINT) * ((SELECT big_n FROM tot) - CAST(COUNT(*) AS BIGINT)) AS expected_u_x2
FROM js GROUP BY symbol
"""


@register(
    "ranksum_returns",
    SQL_RANKSUM,
    doc="Mann-Whitney rank-sum per symbol vs the pooled rest (integer doubled average-ranks over the distinct-value histogram; exact 2U and 2E[U])",
    tags=("ta", "aggregation", "window"),
)
def q_ranksum_returns(spark, sf_dir):
    b = bars(spark, sf_dir)
    rd = b.groupBy(
        "symbol",
        (F.col("ts_ns") - F.col("ts_ns") % F.lit(NS_PER_DAY)).alias("day"),
    ).agg(F.expr("CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT)").alias("cm"))
    wo = W.partitionBy("symbol").orderBy("day")

    # ``rr`` feeds the distinct-value histogram AND the rank join below:
    # unpinned, the daily-close scan + agg + return window runs once per
    # consumer. One narrow (symbol, rm) row per symbol-day — pin it.
    rr = pin(
        rd.select(
            "symbol", (F.col("cm") - F.lag("cm").over(wo)).alias("rm")
        ).where(F.col("rm").isNotNull())
    )
    hist = rr.groupBy("rm").agg(F.count(F.lit(1)).alias("c"))
    # Global cumulative window over the DISTINCT-value histogram, not the
    # data: rows ≤ min(#(symbol,day) pairs, observed µ-return range) — the
    # daily grain caps it at ~10⁷–10⁸ even for a 100 TB minute-bar lake
    # (10k symbols × decades), and the window's payload is two longs.
    # Allow-listed in tests/test_plan_hygiene.py global-window inventory;
    # if the grain ever drops below daily, replace with a two-phase
    # bucketed scan (fixed-width rm buckets: per-bucket cumsum + bucket
    # offsets) before loosening this allowance.
    wg = W.orderBy("rm").rowsBetween(W.unboundedPreceding, -1)
    rx = hist.select(
        "rm",
        (
            F.lit(2) * (F.coalesce(F.sum("c").over(wg), F.lit(0)) + F.lit(1))
            + F.col("c")
            - F.lit(1)
        ).cast("long").alias("avgrank_x2"),
    )
    js = rr.join(rx, "rm").select("symbol", "avgrank_x2")
    n = F.count(F.lit(1)).cast("long")
    g = js.groupBy("symbol").agg(
        n.alias("n_returns"),
        F.sum("avgrank_x2").cast("long").alias("rank_sum_x2"),
        (F.sum("avgrank_x2").cast("long") - n * (n + F.lit(1))).alias("u_x2"),
    )
    # Pooled total attaches as a broadcast 1-row scalar_join — one job for
    # the whole query, instead of an eager rr.count() that ran a separate
    # scan+aggregate per invocation just to fetch a literal.
    tot = rr.agg(F.count(F.lit(1)).cast("long").alias("_big_n"))
    return scalar_join(g, "symbol", tot).select(
        "symbol",
        "n_returns",
        "rank_sum_x2",
        "u_x2",
        (F.col("n_returns") * (F.col("_big_n") - F.col("n_returns"))).alias(
            "expected_u_x2"
        ),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of 5m returns at lags 1..3 — the serial-
# correlation diagnostic (is the series momentum-driven, mean-reverting,
# or white noise?). Same exact-parity recipe as return_correlations:
# centi-quantized integer returns, per-(symbol, lag) integer power sums
# over (x_t, x_{t-L}) lag pairs, and the Pearson ratio evaluated with the
# IDENTICAL IEEE double expression on both engines. The lag pairing is a
# window LAG per lag value unioned together — no self-join.

_ACF_LAGS = (1, 2, 3)

SQL_ACF = f"""
WITH {SQL_R5},
acr AS (SELECT symbol, ts_ns,
               CAST(FLOOR(close * 100) AS BIGINT)
                 - LAG(CAST(FLOOR(close * 100) AS BIGINT))
                   OVER (PARTITION BY symbol ORDER BY ts_ns) AS x
        FROM r5),
acx AS (SELECT symbol, ts_ns, x FROM acr WHERE x IS NOT NULL),
lp AS (
{" UNION ALL ".join(f'''
  SELECT symbol, {lag} AS lag, x AS y,
         LAG(x, {lag}) OVER (PARTITION BY symbol ORDER BY ts_ns) AS xl
  FROM acx QUALIFY xl IS NOT NULL''' for lag in _ACF_LAGS)}
),
acs AS (SELECT symbol, lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xl) AS BIGINT) AS sa, CAST(SUM(y) AS BIGINT) AS sb,
               CAST(SUM(xl * y) AS BIGINT) AS sab,
               CAST(SUM(xl * xl) AS BIGINT) AS saa, CAST(SUM(y * y) AS BIGINT) AS sbb
        FROM lp GROUP BY symbol, lag)
SELECT symbol, CAST(lag AS BIGINT) AS lag, n,
       CASE WHEN (CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa) > 0.0
             AND (CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb) > 0.0 THEN
         (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
           / (sqrt(CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
              * sqrt(CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb))
       END AS acf
FROM acs
"""


@register(
    "acf_returns",
    SQL_ACF,
    doc="autocorrelation of 5m returns at lags 1-3 (window lag pairs, exact integer power sums, identical-IEEE Pearson ratio)",
    tags=("ta", "window", "aggregation"),
)
def q_acf_returns(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    wo = W.partitionBy("symbol").orderBy("ts_ns")
    cc = F.floor(F.col("close") * F.lit(100)).cast("long")
    rx = r5.select("symbol", "ts_ns", (cc - F.lag(cc).over(wo)).alias("x")).filter(
        F.col("x").isNotNull()
    )
    # All lags come from ONE window pass: a per-lag union re-evaluated the
    # whole upstream (scan + 5m resample + return window) once per lag —
    # three source scans and three sort+window stages in the physical plan.
    # lag(x,1..3) over the same spec is a single Window node; stack() then
    # unpivots the row to (lag, xl) pairs, identical rows to the old
    # per-leg form (each leg kept (symbol, lag, y=x, xl) where xl was the
    # lag-L predecessor, null rows dropped).
    lagged = rx.select(
        "symbol",
        F.col("x").alias("y"),
        *[F.lag("x", lag).over(wo).alias(f"_xl{lag}") for lag in _ACF_LAGS],
    )
    stack_expr = "stack({}, {}) AS (lag, xl)".format(
        len(_ACF_LAGS),
        ", ".join(f"CAST({lag} AS BIGINT), _xl{lag}" for lag in _ACF_LAGS),
    )
    lp = lagged.select("symbol", "y", F.expr(stack_expr)).filter(
        F.col("xl").isNotNull()
    )
    s = lp.groupBy("symbol", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xl").cast("long").alias("sa"),
        F.sum("y").cast("long").alias("sb"),
        F.sum(F.col("xl") * F.col("y")).cast("long").alias("sab"),
        F.sum(F.col("xl") * F.col("xl")).cast("long").alias("saa"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sbb"),
    )
    nd = F.col("n").cast("double")
    va = nd * F.col("saa") - F.col("sa").cast("double") * F.col("sa")
    vb = nd * F.col("sbb") - F.col("sb").cast("double") * F.col("sb")
    cov = nd * F.col("sab") - F.col("sa").cast("double") * F.col("sb")
    return s.select(
        "symbol",
        "lag",
        "n",
        F.when((va > 0.0) & (vb > 0.0), cov / (F.sqrt(va) * F.sqrt(vb))).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend — the median of all pairwise slopes of the daily
# close series (plus the median-residual intercept), the estimator of choice
# when OLS would be wrecked by outlier days (up to ~29% contamination).
# All arithmetic is exact integer: slopes are micro-units per day with
# truncating DIV (toward zero on BOTH engines — the holt_trend check), and
# "median" is pinned to the LOWER order statistic (element (n+1) DIV 2,
# 1-based) so even-count medians need no averaging and stay integer.
#
# Scale: the per-symbol day series is calendar-bounded (the ewma_close
# argument), so the C(days, 2) slope array is bounded by calendar length
# squared per symbol — map-side array math after one hash agg, never a
# row-level self-join on Spark's side. (The oracle spells the pairs out as
# a self-join — plain SQL has no index-lambda — which doubles as an
# equivalence proof of the array form.)

SQL_THEIL_SEN = f"""
WITH {SQL_BARS},
tsd AS (
  SELECT symbol, ts_ns // {NS_PER_DAY} AS d,
         CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT) AS cm
  FROM bars GROUP BY symbol, ts_ns // {NS_PER_DAY}
),
tsp AS (
  SELECT a.symbol, (b.cm - a.cm) // (b.d - a.d) AS sl
  FROM tsd a JOIN tsd b ON a.symbol = b.symbol AND a.d < b.d
),
tsm AS (
  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         list_sort(list(sl))[(COUNT(*) + 1) // 2] AS slope_micro
  FROM tsp GROUP BY symbol
),
tsr AS (
  SELECT tsd.symbol, tsm.n_pairs, tsm.slope_micro,
         tsd.cm - tsm.slope_micro * tsd.d AS r
  FROM tsd JOIN tsm USING (symbol)
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days, n_pairs, slope_micro,
       list_sort(list(r))[(COUNT(*) + 1) // 2] AS intercept_micro
FROM tsr GROUP BY symbol, n_pairs, slope_micro
"""


@register(
    "theil_sen_trend",
    SQL_THEIL_SEN,
    doc="Theil-Sen robust trend per symbol: exact lower-median of all pairwise daily-close slopes (integer micro-units/day) + median-residual intercept",
    tags=("ta", "aggregation"),
)
def q_theil_sen_trend(spark, sf_dir):
    b = bars(spark, sf_dir)
    dd = b.groupBy(
        "symbol", F.expr(f"ts_ns DIV {NS_PER_DAY}").alias("d")
    ).agg(F.expr("CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT)").alias("cm"))
    arr = (
        dd.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.array_sort(F.collect_list(F.struct("d", "cm"))).alias("a"),
        )
        .where(F.col("n_days") >= 2)
    )
    sl = arr.select(
        "symbol",
        "n_days",
        "a",
        F.expr(
            "array_sort(flatten(transform(a, (x, i) -> "
            "transform(slice(a, i + 2, size(a) - i - 1), "
            "y -> (y.cm - x.cm) DIV (y.d - x.d)))))"
        ).alias("sls"),
    )
    m = sl.select(
        "symbol",
        "n_days",
        "a",
        F.expr("CAST(size(sls) AS BIGINT)").alias("n_pairs"),
        F.expr("element_at(sls, CAST((size(sls) + 1) DIV 2 AS INT))").alias("slope_micro"),
    )
    return m.select(
        "symbol",
        "n_days",
        "n_pairs",
        "slope_micro",
        F.expr(
            "element_at(array_sort(transform(a, p -> p.cm - slope_micro * p.d)), "
            "CAST((size(a) + 1) DIV 2 AS INT))"
        ).alias("intercept_micro"),
    )


# ---------------------------------------------------------------------------
# MAD outlier days — robust z-score flagging on daily closes: median and
# median-absolute-deviation per symbol (both LOWER order statistics, exact
# integers), flag days deviating more than 3 MADs. The robust counterpart
# of extreme_movement's lag rule and winsorized_value_stats' trimming; a
# constant series (mad = 0) flags any deviating day, which is the correct
# degenerate reading. Per-symbol stats come from ONE bounded array agg
# (median and MAD from the same sorted array — no second shuffle), then a
# broadcastable stats join back to the day rows.

_MAD_K = 3

SQL_MAD = f"""
WITH {SQL_BARS},
mdd AS (
  SELECT symbol, ts_ns // {NS_PER_DAY} AS d,
         CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT) AS cm
  FROM bars GROUP BY symbol, ts_ns // {NS_PER_DAY}
),
mst AS (SELECT symbol, list_sort(list(cm)) AS sc FROM mdd GROUP BY symbol),
mmm AS (
  SELECT symbol,
         sc[(len(sc) + 1) // 2] AS med,
         list_sort(list_transform(sc, x -> abs(x - sc[(len(sc) + 1) // 2])))[(len(sc) + 1) // 2] AS mad
  FROM mst
)
SELECT mdd.symbol, d AS day, cm AS close_micro, med AS med_micro,
       mad AS mad_micro, abs(cm - med) AS dev_micro
FROM mdd JOIN mmm USING (symbol)
WHERE abs(cm - med) > {_MAD_K} * mad
"""


@register(
    "mad_outliers",
    SQL_MAD,
    doc=f"robust outlier days per symbol: |close - median| > {_MAD_K} * MAD, exact integer lower-median order statistics",
    tags=("ta", "aggregation"),
)
def q_mad_outliers(spark, sf_dir):
    b = bars(spark, sf_dir)
    dd = b.groupBy(
        "symbol", F.expr(f"ts_ns DIV {NS_PER_DAY}").alias("d")
    ).agg(F.expr("CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT)").alias("cm"))
    st = dd.groupBy("symbol").agg(
        F.array_sort(F.collect_list("cm")).alias("sc")
    )
    mm = st.select(
        "symbol",
        F.expr("element_at(sc, CAST((size(sc) + 1) DIV 2 AS INT))").alias("med"),
        F.expr(
            "element_at(array_sort(transform(sc, "
            "x -> abs(x - element_at(sc, CAST((size(sc) + 1) DIV 2 AS INT))))), "
            "CAST((size(sc) + 1) DIV 2 AS INT))"
        ).alias("mad"),
    )
    return (
        dd.join(F.broadcast(mm), "symbol")
        .where(F.expr(f"abs(cm - med) > {_MAD_K} * mad"))
        .select(
            "symbol",
            F.col("d").alias("day"),
            F.col("cm").alias("close_micro"),
            F.col("med").alias("med_micro"),
            F.col("mad").alias("mad_micro"),
            F.expr("abs(cm - med)").alias("dev_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling-window OLS beta — symbol_beta's closed form over a trailing
# 20-bucket window per symbol (the shape a live risk dashboard runs: one
# beta per symbol per 5m bucket, not one per symbol per history). Same
# exact centi-quantized power-sum discipline: every windowed sum (Σx, Σy,
# Σxy, Σyy) is an exact integer, the closed form then runs on identical
# doubles in both engines. One shuffle for the per-bucket market return,
# one per-symbol window pass — no join, no self-join.
#
# Scale: ROWS BETWEEN 19 PRECEDING is a bounded-lookback frame, so the
# skew story is the same as sma_20's (hot symbol → chunked_trailing_frame
# applies if diagnosed); window state is 20 rows regardless of volume.

_RB_WIN = 20

SQL_ROLLING_BETA = f"""
WITH {SQL_R5},
r AS (SELECT symbol, ts_ns,
             CAST(FLOOR(close * 100) AS BIGINT)
               - LAG(CAST(FLOOR(close * 100) AS BIGINT))
                 OVER (PARTITION BY symbol ORDER BY ts_ns) AS x
      FROM r5),
rx AS (SELECT symbol, ts_ns, x FROM r WHERE x IS NOT NULL),
m AS (SELECT symbol, ts_ns, x,
             SUM(x) OVER (PARTITION BY ts_ns) AS y
      FROM rx),
w AS (SELECT symbol, ts_ns,
             CAST(COUNT(*) OVER wt AS BIGINT) AS n,
             CAST(SUM(x) OVER wt AS BIGINT) AS sx,
             CAST(SUM(y) OVER wt AS BIGINT) AS sy,
             CAST(SUM(x * y) OVER wt AS BIGINT) AS sxy,
             CAST(SUM(y * y) OVER wt AS BIGINT) AS syy
      FROM m
      WINDOW wt AS (PARTITION BY symbol ORDER BY ts_ns
                    ROWS BETWEEN {_RB_WIN - 1} PRECEDING AND CURRENT ROW))
SELECT symbol, ts_ns, sx, sy, sxy, syy,
       CASE WHEN CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy <> 0.0 THEN
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
       END AS beta
FROM w WHERE n = {_RB_WIN}
"""


@register(
    "rolling_beta",
    SQL_ROLLING_BETA,
    doc=f"trailing {_RB_WIN}-bucket OLS beta per symbol vs the per-bucket market return (exact windowed power sums)",
    tags=("ta", "window"),
)
def q_rolling_beta(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    wo = W.partitionBy("symbol").orderBy("ts_ns")
    cc = F.floor(F.col("close") * F.lit(100)).cast("long")
    rx = r5.select("symbol", "ts_ns", (cc - F.lag(cc).over(wo)).alias("x")).filter(
        F.col("x").isNotNull()
    )
    m = rx.withColumn("y", F.sum("x").over(W.partitionBy("ts_ns")))
    wt = W.partitionBy("symbol").orderBy("ts_ns").rowsBetween(-(_RB_WIN - 1), 0)
    w = m.select(
        "symbol",
        "ts_ns",
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("x").over(wt).cast("long").alias("sx"),
        F.sum("y").over(wt).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(wt).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).over(wt).cast("long").alias("syy"),
    ).where(F.col("n") == _RB_WIN)
    nd = F.lit(float(_RB_WIN))
    den = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return w.select(
        "symbol", "ts_ns", "sx", "sy", "sxy", "syy",
        F.when(den != 0.0, num / den).alias("beta"),
    )


# ---------------------------------------------------------------------------
# Seasonal volume anomalies — hour-of-week baseline + division-free flag.
# The classic seasonality-aware anomaly pass: each 5m bar's volume is
# compared against its (symbol, day-of-week, hour-of-day) slot's average.
# dow/hour come from pure integer ns arithmetic (epoch day + 4 mod 7 —
# 1970-01-01 was a Thursday — and in-day ns DIV hour), identical in both
# engines with no timezone/date-function dependence. The slot stats are
# window sums over the slot partition (one shuffle, no join), and the
# anomaly predicate is cross-multiplied (volume * n > k * total) so no
# division ever happens — exact at any magnitude.
#
# Scale: the slot partition key (symbol × 168 slots) fans the per-symbol
# hot key out 168-ways for free; state per window is two longs.

_SVA_K = 2  # flag when volume > _SVA_K × slot mean
_SVA_MIN_N = 4  # require this much slot history before flagging (live rows at every SF)
_NS_PER_HOUR = 3_600 * NS_PER_SEC

SQL_SEASONAL_VOLUME = f"""
WITH {SQL_R5},
s AS (SELECT symbol, ts_ns, volume,
             CAST((ts_ns // {NS_PER_DAY} + 4) % 7 AS BIGINT) AS dow,
             CAST((ts_ns % {NS_PER_DAY}) // {_NS_PER_HOUR} AS BIGINT) AS hod
      FROM r5),
w AS (SELECT symbol, ts_ns, volume, dow, hod,
             CAST(COUNT(*) OVER sl AS BIGINT) AS n,
             CAST(SUM(volume) OVER sl AS BIGINT) AS tot
      FROM s WINDOW sl AS (PARTITION BY symbol, dow, hod))
SELECT symbol, ts_ns, volume, dow, hod, n, tot
FROM w WHERE n >= {_SVA_MIN_N} AND volume * n > {_SVA_K} * tot
"""


@register(
    "seasonal_volume_anomaly",
    SQL_SEASONAL_VOLUME,
    doc=f"bars whose volume exceeds {_SVA_K}x their (symbol, dow, hour) seasonal slot mean (division-free integer predicate)",
    tags=("ta", "window"),
)
def q_seasonal_volume_anomaly(spark, sf_dir):
    r5 = _r5(spark, sf_dir)
    s = r5.select(
        "symbol",
        "ts_ns",
        "volume",
        F.expr(f"CAST((ts_ns DIV {NS_PER_DAY} + 4) % 7 AS BIGINT)").alias("dow"),
        F.expr(f"CAST((ts_ns % {NS_PER_DAY}) DIV {_NS_PER_HOUR} AS BIGINT)").alias("hod"),
    )
    sl = W.partitionBy("symbol", "dow", "hod")
    w = s.select(
        "symbol",
        "ts_ns",
        "volume",
        "dow",
        "hod",
        F.count(F.lit(1)).over(sl).cast("long").alias("n"),
        F.sum("volume").over(sl).cast("long").alias("tot"),
    )
    return w.where(
        (F.col("n") >= _SVA_MIN_N)
        & (F.col("volume") * F.col("n") > _SVA_K * F.col("tot"))
    )


# ---------------------------------------------------------------------------
# Bradley-Terry strength ranking — the pairwise-preference fitting pass
# (operators/ranking.py). Matches are derived from the bar data itself:
# within every 5m bucket, each symbol pair with differing centi-returns is
# one decided match (higher return wins) — the same bucket equi-join shape
# as return_correlations, so match volume is C(symbols, 2) per bucket and
# the games matrix the loop iterates over is |symbols|^2-bounded. Four MM
# rounds, integer micro fixed-point, verified against the fully unrolled
# DuckDB CTE chain (the pagerank oracle strategy).

_BT_ITERS = 4

_BT_MATCHES = """SELECT CASE WHEN a.x > b.x THEN a.symbol ELSE b.symbol END AS winner,
       CASE WHEN a.x > b.x THEN b.symbol ELSE a.symbol END AS loser
FROM btx a JOIN btx b ON a.ts_ns = b.ts_ns AND a.symbol < b.symbol
WHERE a.x <> b.x"""


def _bt_sql() -> str:
    from ..operators.ranking import bradley_terry_oracle_sql

    return f"""
WITH {SQL_R5},
btr AS (SELECT symbol, ts_ns,
               CAST(FLOOR(close * 100) AS BIGINT)
                 - LAG(CAST(FLOOR(close * 100) AS BIGINT))
                   OVER (PARTITION BY symbol ORDER BY ts_ns) AS x
        FROM r5),
btx AS (SELECT symbol, ts_ns, x FROM btr WHERE x IS NOT NULL),
{bradley_terry_oracle_sql(_BT_MATCHES, iterations=_BT_ITERS)}
"""


@register(
    "symbol_bt_strength",
    _bt_sql(),
    doc=f"Bradley-Terry strength per symbol from pairwise per-bucket return comparisons ({_BT_ITERS} MM rounds, integer fixed-point, unrolled-CTE oracle)",
    tags=("ta", "ranking", "joins"),
)
def q_symbol_bt_strength(spark, sf_dir):
    from ..operators.ranking import bradley_terry

    r5 = _r5(spark, sf_dir)
    wo = W.partitionBy("symbol").orderBy("ts_ns")
    cc = F.floor(F.col("close") * F.lit(100)).cast("long")
    rx = r5.select("symbol", "ts_ns", (cc - F.lag(cc).over(wo)).alias("x")).filter(
        F.col("x").isNotNull()
    )
    a = rx.select(F.col("symbol").alias("sym_a"), "ts_ns", F.col("x").alias("xa"))
    b = rx.select(F.col("symbol").alias("sym_b"), F.col("ts_ns").alias("ts_b"), F.col("x").alias("xb"))
    matches = (
        a.join(b, (a.ts_ns == b.ts_b) & (a.sym_a < b.sym_b) & (a.xa != b.xb))
        .select(
            F.when(F.col("xa") > F.col("xb"), F.col("sym_a")).otherwise(F.col("sym_b")).alias("winner"),
            F.when(F.col("xa") > F.col("xb"), F.col("sym_b")).otherwise(F.col("sym_a")).alias("loser"),
        )
    )
    return bradley_terry(matches, iterations=_BT_ITERS)


# ---------------------------------------------------------------------------
# Historical VaR / expected shortfall — tail order statistics of daily ppm
# returns per symbol. Returns are exact integers ((cm - prev) * 1e6 DIV
# prev, truncating DIV toward zero on both engines — the theil_sen/holt
# contract); the 95% VaR is the k-th LOWEST return with k = GREATEST(1,
# n*5 DIV 100) (a pinned order statistic, no interpolation), and ES is the
# mean of the k tail returns (exact integer sum + deterministic double).
# One bounded array agg per symbol (calendar-bounded, the mad_outliers
# pattern) — no window re-sort, no self-join.

SQL_VAR_ES = f"""
WITH {SQL_BARS},
ved AS (
  SELECT symbol, ts_ns // {NS_PER_DAY} AS d,
         CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT) AS cm
  FROM bars GROUP BY symbol, ts_ns // {NS_PER_DAY}
),
ver AS (
  SELECT symbol,
         (cm - LAG(cm) OVER (PARTITION BY symbol ORDER BY d)) * 1000000
           // LAG(cm) OVER (PARTITION BY symbol ORDER BY d) AS r
  FROM ved
),
vea AS (
  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         list_sort(list(r)) AS sr,
         GREATEST(1, CAST(COUNT(*) AS BIGINT) * 5 // 100) AS k
  FROM ver WHERE r IS NOT NULL GROUP BY symbol
)
SELECT symbol, n_days, k,
       sr[CAST(k AS INT)] AS var95_ppm,
       CAST(list_sum(list_slice(sr, 1, CAST(k AS INT))) AS BIGINT) AS tail_sum_ppm,
       CAST(CAST(list_sum(list_slice(sr, 1, CAST(k AS INT))) AS BIGINT) AS DOUBLE)
         / k AS es95_ppm
FROM vea
"""


@register(
    "historical_var_es",
    SQL_VAR_ES,
    doc="95% historical VaR (pinned order statistic) and expected shortfall of daily ppm returns per symbol (exact integer tail sums)",
    tags=("ta", "aggregation"),
)
def q_historical_var_es(spark, sf_dir):
    b = bars(spark, sf_dir)
    dd = b.groupBy(
        "symbol", F.expr(f"ts_ns DIV {NS_PER_DAY}").alias("d")
    ).agg(F.expr("CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT)").alias("cm"))
    wo = W.partitionBy("symbol").orderBy("d")
    r = dd.select(
        "symbol",
        F.expr("(cm - lag(cm) OVER (PARTITION BY symbol ORDER BY d)) * 1000000").alias("_num"),
        F.lag("cm").over(wo).alias("_prev"),
    ).select("symbol", F.expr("_num DIV _prev").alias("r")).where(F.col("r").isNotNull())
    a = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.array_sort(F.collect_list("r")).alias("sr"),
    ).withColumn("k", F.expr("GREATEST(1L, n_days * 5 DIV 100)"))
    return a.select(
        "symbol",
        "n_days",
        "k",
        F.expr("element_at(sr, CAST(k AS INT))").alias("var95_ppm"),
        F.expr(
            "aggregate(slice(sr, 1, CAST(k AS INT)), 0L, (acc, x) -> acc + x)"
        ).alias("tail_sum_ppm"),
        F.expr(
            "CAST(aggregate(slice(sr, 1, CAST(k AS INT)), 0L, (acc, x) -> acc + x) AS DOUBLE) / k"
        ).alias("es95_ppm"),
    )


# ---------------------------------------------------------------------------
# Amihud illiquidity — |daily ppm return| per unit of daily volume, averaged
# per symbol (Amihud 2002, the standard price-impact proxy). Per-day ratio
# is exact integer (abs(r) * 1e6 DIV GREATEST(1, volume)); the average is
# an exact integer sum + deterministic double.

SQL_AMIHUD = f"""
WITH {SQL_BARS},
amd AS (
  SELECT symbol, ts_ns // {NS_PER_DAY} AS d,
         CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT) AS cm,
         CAST(SUM(volume) AS BIGINT) AS vol
  FROM bars GROUP BY symbol, ts_ns // {NS_PER_DAY}
),
amr AS (
  SELECT symbol, vol,
         (cm - LAG(cm) OVER (PARTITION BY symbol ORDER BY d)) * 1000000
           // LAG(cm) OVER (PARTITION BY symbol ORDER BY d) AS r
  FROM amd
),
ami AS (
  SELECT symbol, abs(r) * 1000000 // GREATEST(1, vol) AS illiq
  FROM amr WHERE r IS NOT NULL
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(illiq) AS BIGINT) AS illiq_sum,
       CAST(CAST(SUM(illiq) AS BIGINT) AS DOUBLE) / COUNT(*) AS illiq_avg
FROM ami GROUP BY symbol
"""


@register(
    "amihud_illiquidity",
    SQL_AMIHUD,
    doc="Amihud illiquidity per symbol: mean of |daily ppm return| DIV daily volume (exact integer per-day ratios)",
    tags=("ta", "aggregation"),
)
def q_amihud_illiquidity(spark, sf_dir):
    b = bars(spark, sf_dir)
    dd = b.groupBy(
        "symbol", F.expr(f"ts_ns DIV {NS_PER_DAY}").alias("d")
    ).agg(
        F.expr("CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT)").alias("cm"),
        F.sum("volume").cast("long").alias("vol"),
    )
    wo = W.partitionBy("symbol").orderBy("d")
    r = dd.select(
        "symbol",
        "vol",
        ((F.col("cm") - F.lag("cm").over(wo)) * F.lit(1_000_000)).alias("_num"),
        F.lag("cm").over(wo).alias("_prev"),
    ).select(
        "symbol", "vol", F.expr("_num DIV _prev").alias("r")
    ).where(F.col("r").isNotNull())
    illiq = r.select(
        "symbol", F.expr("abs(r) * 1000000 DIV GREATEST(1L, vol)").alias("illiq")
    )
    return illiq.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("illiq").cast("long").alias("illiq_sum"),
        (F.sum("illiq").cast("long").cast("double") / F.count(F.lit(1))).alias("illiq_avg"),
    )


# ---------------------------------------------------------------------------
# Holt backtest — one-step-ahead forecast evaluation for the holt_trend
# model: at every day i >= 2 the PREVIOUS state's forecast (l + b) is
# scored against the day's actual close BEFORE the state updates, and the
# absolute errors accumulate in the fold (a 3-field struct: l, b, sae).
# The model-evaluation pass any forecasting pipeline needs — same exact
# integer recurrence as holt_trend (same alpha/beta ppm literals), same
# recursive-CTE oracle strategy (the DuckDB list_reduce struct-mutation
# hazard documented at holt_trend applies here too).

_HBT_L = _HOLT_L  # same smoothing recurrence and literals as holt_trend
_HBT_NL_SQL = _HOLT_NL_SQL

SQL_HOLT_BACKTEST = f"""
WITH RECURSIVE {SQL_BARS},
bd AS (
  SELECT symbol, ts_ns - ts_ns % {NS_PER_DAY} AS day,
         CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT) AS cm
  FROM bars GROUP BY symbol, ts_ns - ts_ns % {NS_PER_DAY}
),
bi AS MATERIALIZED (
  SELECT symbol, cm,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) AS i
  FROM bd
),
bn AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days FROM bi GROUP BY symbol),
bs AS (
  SELECT symbol, i, cm AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae
  FROM bi WHERE i = 1
  UNION ALL
  SELECT h.symbol, h.i,
         {_HBT_NL_SQL} AS l,
         ({_HOLT_BETA_PPM} * ({_HBT_NL_SQL} - s.l) + {1_000_000 - _HOLT_BETA_PPM} * s.b) // 1000000 AS b,
         s.sae + abs(h.cm - (s.l + s.b)) AS sae
  FROM bs s JOIN bi h ON h.symbol = s.symbol AND h.i = s.i + 1
)
SELECT bs.symbol, bn.n_days, bs.sae AS abs_err_sum_micro,
       bs.sae // (bn.n_days - 1) AS mae_micro
FROM bs JOIN bn ON bs.symbol = bn.symbol AND bs.i = bn.n_days
WHERE bn.n_days >= 2
"""


@register(
    "holt_backtest_mae",
    SQL_HOLT_BACKTEST,
    doc="one-step-ahead Holt forecast backtest per symbol: exact integer absolute-error fold (error scored against the pre-update state), MAE in micro",
    tags=("ta", "aggregation"),
)
def q_holt_backtest_mae(spark, sf_dir):
    b = bars(spark, sf_dir)
    hd = b.groupBy(
        "symbol",
        (F.col("ts_ns") - F.col("ts_ns") % F.lit(NS_PER_DAY)).alias("day"),
    ).agg(F.expr("CAST(FLOOR(max_by(close, ts_ns) * 1e6) AS BIGINT)").alias("cm"))
    fold = (
        "aggregate(slice(a, 2, size(a) - 1), "
        "named_struct('l', element_at(a, 1).cm, 'b', CAST(0 AS BIGINT), "
        "'sae', CAST(0 AS BIGINT)), "
        f"(acc, x) -> named_struct("
        f"'l', {_HBT_L}, "
        f"'b', ({_HOLT_BETA_PPM} * (({_HBT_L}) - acc.l) + {1_000_000 - _HOLT_BETA_PPM} * acc.b) div 1000000, "
        "'sae', acc.sae + abs(x.cm - (acc.l + acc.b))))"
    )
    return (
        hd.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.array_sort(F.collect_list(F.struct("day", "cm"))).alias("a"),
        )
        .where(F.col("n_days") >= 2)
        .select("symbol", "n_days", F.expr(fold).alias("s"))
        .select(
            "symbol",
            "n_days",
            F.col("s.sae").alias("abs_err_sum_micro"),
            F.expr("s.sae DIV (n_days - 1)").alias("mae_micro"),
        )
    )
