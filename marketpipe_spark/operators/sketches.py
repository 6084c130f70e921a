"""Count-min sketch: mergeable frequency estimation for heavy hitters.

The 100 TB frequent-items story, complementing the HLL distinct-count path
(tests/test_plan_hygiene.py::test_hll_sketch_error_bound): an exact
``groupBy(token).count()`` over a 100 TB corpus shuffles every distinct key;
a count-min sketch is a fixed ``depth x width`` grid of counters that each
executor fills locally and the reduce step merges by cell addition — the
whole aggregation is one map-side-combined shuffle of at most
``depth*width`` cells per partition, independent of key cardinality.
Point estimates only ever OVER-count (collisions add), so
``cm_est >= true_count`` always, with
``P[cm_est > true + e*N] <= (1/2)^depth`` at ``width = 2/e``.

Everything here is deterministic given the hash family, so the full
pipeline (sketch build -> point estimates -> ranking) is reproduced
value-for-value by the DuckDB oracle under the ``md5_60`` family
(see plans/queries_docs.py::cm_top_tokens). Production default stays
``xxhash64`` (JVM codegen, ~3x cheaper).

Reference parity: the reference has no sketch module; this extends its
aggregation surface (SURVEY §2.5) with the approximate path a
training-data pipeline needs at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..execution import pin
from .dedup import _hash64

__all__ = [
    "cm_bucket_cols",
    "cm_sketch",
    "cm_estimate",
    "kll_partial_sketch",
    "kll_quantiles",
    "kll_rank_check",
]


def cm_bucket_cols(col: Column, depth: int, width: int, hash_family: str = "xxhash64") -> Column:
    """Array of ``depth`` bucket indices for one key: ``h_i(key) % width``.

    Seeds are compile-time literals (``key || ':' || i`` under ``md5_60``),
    so the whole array is one codegen'd projection — no per-row Python and
    no shuffle. ``pmod`` keeps xxhash64's signed output non-negative.
    """
    return F.array(
        *[F.pmod(_hash64(col, i, hash_family), F.lit(width)) for i in range(depth)]
    )


def cm_sketch(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    hash_family: str = "xxhash64",
    weight: str | None = None,
) -> DataFrame:
    """Build a count-min sketch over ``df[col]`` → ``(d, bucket, cnt)`` rows.

    The posexplode inflates rows by ``depth`` (a small constant, default 4 —
    unlike a per-dimension explode this does not scale with data width), and
    the groupBy's map-side combine collapses each partition to at most
    ``depth*width`` cells before the shuffle, so the exchange moves
    O(partitions * depth * width) rows regardless of corpus size. Sketches
    built on disjoint slices merge by summing cell counts (mergeable), which
    is exactly what the partial aggregate already does.
    """
    w = F.col(weight).cast("long") if weight is not None else F.lit(1).cast("long")
    return (
        df.select(
            F.posexplode(cm_bucket_cols(F.col(col), depth, width, hash_family)).alias(
                "d", "bucket"
            ),
            w.alias("w"),
        )
        .groupBy("d", "bucket")
        .agg(F.sum("w").alias("cnt"))
    )


def cm_estimate(
    keys: DataFrame,
    col: str,
    sketch: DataFrame,
    depth: int,
    width: int,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Point-estimate each key's frequency: ``min_d sketch[d][h_d(key)]``.

    The sketch is at most ``depth*width`` rows → broadcast to every executor,
    so the estimate pass is a map-only broadcast join + one hash-agg on the
    key — no large-side shuffle beyond the final per-key min. Keys whose
    bucket row is absent (cell never touched) estimate to 0, which under CM
    semantics proves a true count of 0.
    """
    b = keys.select(
        F.col(col),
        F.posexplode(cm_bucket_cols(F.col(col), depth, width, hash_family)).alias(
            "d", "bucket"
        ),
    )
    return (
        b.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("cm_est"))
    )


# ---------------------------------------------------------------------------
# KLL-style quantile sketch — the mergeable-quantiles member of the sketch
# family (CMS: frequencies, HLL: distincts, KLL: ranks). An exact global
# quantile over 100 TB needs a full sort or an `interpolated percentile`
# shuffle of every value; the sketch path compacts each partition to
# O(k log(n/k)) weighted survivors locally (one mapInPandas pass, Arrow
# batches), and the reduce side only ever sees the bounded union of partial
# sketches — shuffle volume is independent of row count, exactly like
# cm_sketch's cell grid.
#
# Compaction is the DETERMINISTIC even-index variant: a full level is
# sorted and its even-indexed items promoted with doubled weight. Classic
# KLL randomizes the parity to make the estimate unbiased; determinism is
# worth more here (same input file -> same sketch -> reproducible
# pipeline), and the worst-case rank error stays O(levels/k), verified
# empirically in tests/test_sketches.py against exact percentiles.


def kll_partial_sketch(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """Per-partition KLL compaction → ``(value double, weight long)`` rows.

    Each input partition yields at most ``2k + k·levels`` rows where
    ``levels ≈ log2(partition_rows / k)`` — a few KiB regardless of
    partition size. Output rows are mergeable by simple union: weights are
    exact item multiplicities (2^level), odd-length compactions park their
    leftover item at the lower level, so ``sum(weight)`` over the sketch
    equals the true row count EXACTLY and any downstream weighted-rank
    computation over the union is a valid estimate for the whole dataset.
    """
    import numpy as np
    import pandas as pd

    cap = 2 * k

    def compact_partition(batches):
        levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]

        def compact(lvl: int) -> None:
            vals = np.sort(levels[lvl], kind="stable")
            if len(vals) % 2:
                # Odd level: promoting ceil(L/2) items at doubled weight
                # would inflate total mass by one item per compaction. Keep
                # the largest item at this level instead — the remaining
                # even-length prefix halves exactly, so sum(weight) over the
                # sketch always equals the true row count.
                levels[lvl] = vals[-1:]
                vals = vals[:-1]
            else:
                levels[lvl] = np.empty(0, dtype=np.float64)
            promoted = vals[0::2]
            if lvl + 1 >= len(levels):
                levels.append(np.empty(0, dtype=np.float64))
            levels[lvl + 1] = np.concatenate([levels[lvl + 1], promoted])
            if len(levels[lvl + 1]) >= cap:
                compact(lvl + 1)

        for pdf in batches:
            arr = pdf[col].to_numpy(dtype=np.float64)
            arr = arr[~np.isnan(arr)]
            levels[0] = np.concatenate([levels[0], arr])
            while len(levels[0]) >= cap:
                compact(0)
        out_v: list[np.ndarray] = []
        out_w: list[np.ndarray] = []
        for lvl, vals in enumerate(levels):
            if len(vals):
                out_v.append(vals)
                out_w.append(np.full(len(vals), 1 << lvl, dtype=np.int64))
        if not out_v:
            yield pd.DataFrame({"value": pd.Series(dtype="float64"), "weight": pd.Series(dtype="int64")})
            return
        yield pd.DataFrame(
            {"value": np.concatenate(out_v), "weight": np.concatenate(out_w)}
        )

    return df.select(F.col(col).cast("double").alias(col)).mapInPandas(
        compact_partition, schema="value double, weight long"
    )


def kll_quantiles(sketch: DataFrame, probs: list[float]) -> DataFrame:
    """Quantile estimates from a (unioned) partial sketch → ``(p, value)``.

    The sketch is bounded (O(partitions · k · log) rows), so the global
    ordered window here is NOT the single-partition antipattern — it sorts
    kilobytes, the same size class as cm_estimate's broadcast grid. Each
    row computes the half-open rank interval it covers and emits exactly
    the requested probabilities falling inside it (map-only after the
    window; no inequality join, no nested-loop plan).
    """
    from ..plans.registry import scalar_join

    total = sketch.agg(F.sum("weight").cast("long").alias("total_w"))
    wo = W.orderBy("value", "weight")
    s = scalar_join(sketch, "value", total).select(
        "value",
        (F.sum("weight").over(wo).cast("double") / F.col("total_w")).alias("frac"),
    )
    # Window expressions are not allowed inside higher-order-function
    # lambdas — materialize the previous cumulative fraction first.
    s = s.withColumn(
        "prev_frac", F.coalesce(F.lag("frac").over(W.orderBy("frac", "value")), F.lit(0.0))
    )
    parr = F.array(*[F.lit(float(p)) for p in sorted(probs)])
    covered = F.filter(parr, lambda p: (p > F.col("prev_frac")) & (p <= F.col("frac")))
    return (
        s.withColumn("p", F.explode(covered))
        .select("p", "value")
        .orderBy("p")
    )


def kll_rank_check(
    df: DataFrame, col: str, probs: list[float], k: int = 256, bound: float = 0.05
) -> DataFrame:
    """Self-validation of the sketch against the data it summarized:
    ``(p, within_bound)`` where ``within_bound`` ⇔ the TRUE rank of the
    sketch's p-quantile estimate (``count(value ≤ est)/n`` — exact integer
    counting) lies within ``bound`` of p.

    ONE distributed dataflow, zero driver collects: the (≤ len(probs))-row
    estimate table is packed into a single array row, attached to every data
    row via ``scalar_join`` (BroadcastHashJoin — never a nested loop, which
    an inequality join against the estimates would plan as), exploded, and
    counted per probe. The sketch VALUES are partition-layout-dependent and
    so not externally pinnable; this rank-error check is layout-independent
    because the error BOUND holds for any compaction order.
    """
    from ..plans.registry import scalar_join

    vals = df.select(F.col(col).cast("double").alias(col))
    sk = kll_partial_sketch(vals, col, k)
    est = kll_quantiles(sk, probs)
    packed = est.agg(
        F.sort_array(F.collect_list(F.struct(F.col("p"), F.col("value")))).alias("_ests")
    )
    ex = scalar_join(vals, col, packed).select(F.col(col), F.explode("_ests").alias("e"))
    ranks = ex.groupBy(F.col("e.p").alias("p")).agg(
        F.sum((F.col(col) <= F.col("e.value")).cast("long")).alias("n_le"),
        F.count(F.lit(1)).alias("n"),
    )
    return ranks.select(
        "p",
        (F.abs(F.col("n_le") / F.col("n") - F.col("p")) <= F.lit(bound)).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog: mergeable distinct-count estimation. Spark's builtin
# approx_count_distinct is the production path (test_plan_hygiene pins its
# error bound); THIS implementation exists so the sketch itself is
# externally verifiable — every step (md5_60 hash -> bucket/rho registers ->
# raw/linear-counting estimate) is reproduced value-for-value by the DuckDB
# oracle (plans/queries_bars.py::hll_distinct_users), the same bar the CMS
# and KLL sketches meet. Registers are the mergeable state: per-bucket MAX
# combines map-side, so the shuffle carries at most m rows per key per
# partition regardless of input cardinality.

HLL_P = 10  #: 2^10 = 1024 registers, sigma ~ 1.04/sqrt(m) ~ 3.3%
HLL_M = 1 << HLL_P
#: alpha_m = 0.7213/(1 + 1.079/m) at m=1024, fixed at ppm precision so both
#: engines share one integer constant (float alpha would be a parity risk).
HLL_ALPHA_PPM = 720541


def hll_partial_registers(
    df: DataFrame, key_cols: list[str], col: str, p: int = HLL_P,
    family: str = "md5_60",
) -> DataFrame:
    """Per-key HLL registers: ``bucket`` (low ``p`` hash bits) and
    ``reg`` = max over rows of rho (leading-zero count + 1 of the remaining
    ``60-p`` hash bits; the md5_60 family hashes into [0, 2^60)). Merge two
    register sets by unioning and re-taking the per-bucket MAX."""
    h = _hash64(F.col(col).cast("string"), None, family)
    m = 1 << p
    max_rho = 60 - p + 1
    w = F.shiftright(h, p)
    rho = F.when(w == F.lit(0).cast("long"), F.lit(max_rho)).otherwise(
        F.lit(max_rho) - F.length(F.bin(w))
    )
    return (
        df.select(*key_cols, h.bitwiseAND(F.lit(m - 1)).alias("bucket"), rho.alias("rho"))
        .groupBy(*key_cols, "bucket")
        .agg(F.max("rho").cast("long").alias("reg"))
    )


def hll_estimate(
    registers: DataFrame, key_cols: list[str], p: int = HLL_P,
    alpha_ppm: int = HLL_ALPHA_PPM,
) -> DataFrame:
    """Registers -> per-key estimate, Flajolet et al.'s estimator with the
    standard small-range rule: linear counting ``m*ln(m/V)`` (V = empty
    registers) when the raw estimate is <= 2.5m, else the raw harmonic-mean
    estimate ``alpha*m^2 / sum(2^-reg)``.

    Cross-engine determinism: the harmonic sum is EXACT integer arithmetic
    (``sum(2^(52-reg))`` — reg <= 51, m <= 4096 keeps it inside int64); the
    two float estimates are micro-floored to ``est_x1000`` BIGINTs in a
    fixed operation order (the lm_perplexity precedent), and the regime
    switch compares already-floored integers, so the CASE can never diverge
    between engines."""
    m = 1 << p
    per_key = registers.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(52 - reg AS INT))"))
        .cast("long")
        .alias("s_nonzero"),
    )
    v = F.lit(m).cast("long") - F.col("n_registers")
    s = F.col("s_nonzero") + v * F.lit(1 << 52).cast("long")
    num = (F.lit(alpha_ppm).cast("long") * F.lit(m * m).cast("long")).cast("double") * F.lit(
        float(1 << 52)
    )
    raw_x1000 = F.floor(num / s.cast("double") / F.lit(1000.0)).cast("long")
    lin_x1000 = F.floor(
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.greatest(v, F.lit(1).cast("long")).cast("double")) * F.lit(1000.0)
    ).cast("long")
    est = F.when((v > 0) & (raw_x1000 <= F.lit(2500 * m).cast("long")), lin_x1000).otherwise(
        raw_x1000
    )
    return per_key.select(
        *key_cols,
        F.col("n_registers"),
        est.alias("hll_est_x1000"),
    )


def hll_distinct(
    df: DataFrame, key_cols: list[str], col: str, p: int = HLL_P,
    family: str = "md5_60",
) -> DataFrame:
    """End-to-end per-key distinct estimate (registers + estimator)."""
    return hll_estimate(hll_partial_registers(df, key_cols, col, p, family), key_cols, p)


# ---------------------------------------------------------------------------
# Misra-Gries / Frequent: mergeable heavy-hitters summary. Completes the
# sketch family (KLL = quantiles, CMS = point frequency, HLL = distinct):
# "which items exceed an epsilon share of a 100 TB stream" with k counters
# per partition instead of a full groupBy of the tail. Each partition's
# summary merges by plain union + SUM (the Agarwal et al. "Mergeable
# Summaries" MG merge, SODA'12): counts only ever UNDER-estimate, the
# total undercount is bounded by (n - retained mass) / (k + 1), and every
# item with true count > n/(k+1) is guaranteed present in the union.

def mg_partial_counters(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """Per-partition Misra-Gries summary -> ``(item string, cnt long)``.

    Batched variant: each Arrow batch's exact ``value_counts`` (an error-0
    summary) merges into the running counter dict; when more than ``k``
    counters survive, the (k+1)-th largest value is subtracted from all
    and non-positives dropped — the mergeable-summaries COMPRESS step, so
    the MG invariant (cnt(item) <= true_partition_count(item), per-item
    undercount <= removed_mass/(k+1)) holds regardless of batch shape.
    Output is at most ``k`` rows per partition; union + SUM across
    partitions is the global summary.

    The compress threshold is a SELECTION, not a sort: ``heapq.nlargest``
    finds the (k+1)-th largest in O(U log k) per batch where the r6 full
    sort was O(U log U) — visible on ultra-wide-vocabulary partitions
    where U >> k (ADVICE r6).
    """
    import heapq

    import pandas as pd

    def summarize(batches):
        counts: dict = {}
        for pdf in batches:
            for item, c in pdf[col].dropna().value_counts().items():
                counts[item] = counts.get(item, 0) + int(c)
            if len(counts) > k:
                m = heapq.nlargest(k + 1, counts.values())[-1]  # (k+1)-th largest
                counts = {i: c - m for i, c in counts.items() if c > m}
        yield pd.DataFrame(
            {"item": pd.Series(list(counts), dtype="object"),
             "cnt": pd.Series(list(counts.values()), dtype="int64")}
        )

    return df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        summarize, schema="item string, cnt long"
    )


def mg_heavy_hitters_check(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """Self-validation of the merged MG summary against the exact counts
    (the kll_rank_check precedent — sketch STATE is partition-layout-
    dependent, its GUARANTEES are not). One row, all layout-independent:

    - ``n``: exact item count; ``n_true_heavy``: items with
      true count > n DIV (k+1) — the guaranteed-present set, pinnable in
      SQL;
    - ``all_heavy_present``: every guaranteed item is in the summary;
    - ``no_overcount``: every summary estimate <= its true count;
    - ``undercount_ok``: every estimate's deficit <= the mass bound
      (n - retained) DIV (k+1).

    One distributed dataflow: exact groupBy, summary groupBy-SUM, one
    left join, scalars attached via scalar_join (BroadcastHashJoin).
    """
    from ..plans.registry import scalar_join

    items = df.select(F.col(col).cast("string").alias("item")).where(
        F.col("item").isNotNull()
    )
    exact = items.groupBy("item").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = (
        mg_partial_counters(items, "item", k)
        .groupBy("item")
        .agg(F.sum("cnt").alias("est"))
    )

    # `joined` feeds the scalar aggregate AND the flag rollup: unpinned,
    # both upstream corpus passes (exact hash-agg + the MG mapInPandas
    # partial counters) ran once per consumer — 4 Python nodes in
    # heavy_hitter_tokens' plan. The pin is vocabulary-scale; the two
    # remaining corpus passes (exact, MG) are the inherent minimum.
    joined = pin(exact.join(est, "item", "left_outer"))
    scalars = joined.agg(
        F.sum("true_cnt").alias("_n"), F.sum(F.coalesce("est", F.lit(0))).alias("_mass")
    )
    j = scalar_join(joined, "item", scalars).withColumn(
        "_d", F.expr("(_n - _mass) DIV (" + str(k) + " + 1)")
    )
    heavy = F.col("true_cnt") > F.expr(f"_n DIV ({k} + 1)")
    return j.agg(
        F.lit(k).alias("k"),
        F.max("_n").alias("n"),
        F.sum(heavy.cast("long")).alias("n_true_heavy"),
        F.min(F.when(heavy, F.col("est").isNotNull()).otherwise(F.lit(True))).alias(
            "all_heavy_present"
        ),
        F.min(F.coalesce(F.col("est") <= F.col("true_cnt"), F.lit(True))).alias(
            "no_overcount"
        ),
        F.min(
            F.when(
                F.col("est").isNotNull(),
                (F.col("true_cnt") - F.col("est")) <= F.col("_d"),
            ).otherwise(F.lit(True))
        ).alias("undercount_ok"),
    )


# ---------------------------------------------------------------------------
# Bloom filter — bounded-memory set membership (Bloom 1970), completing the
# sketch family: KLL (quantiles), CMS (point frequency), HLL (distinct), MG
# (heavy hitters), Bloom (membership). The classic curation use is
# decontamination at scale: the eval/benchmark gram set is folded into an
# m-bit filter once, and the (much larger) train corpus probes it — no
# false NEGATIVES ever (a true member always finds all k bits set), false
# positives at a rate fixed by the m/k/n design point.


def bloom_positions(col: Column, m_bits: int, k: int, family: str = "md5_60") -> Column:
    """``array<long>`` of the ``k`` bit positions for one key. Positions are
    seeded hashes of the key's STRING form (``_hash64`` seed suffixing), so
    an external SQL engine reproduces them exactly under ``md5_60``:
    ``CAST(('0x' || substr(md5(CAST(x AS VARCHAR) || ':' || i), 1, 15)) AS
    BIGINT) % m``."""
    m = 1 << m_bits
    return F.array(
        *[F.pmod(_hash64(col.cast("string"), i, family), F.lit(m)) for i in range(k)]
    )


def bloom_bits(
    df: DataFrame, col: str = "gram_h", m_bits: int = 21, k: int = 3,
    family: str = "md5_60",
) -> DataFrame:
    """The filter itself, relationally: the DISTINCT set-bit positions of an
    m-bit / k-hash Bloom filter over ``df[col]`` — at most ``min(m, k*n)``
    rows of one long each, bounded by ``m`` BY CONSTRUCTION regardless of
    input size (the property that makes it broadcastable: 2^21 positions
    is ~16 MB worst case, vs broadcasting the member set itself, which is
    unbounded)."""
    return df.select(
        F.explode(bloom_positions(F.col(col), m_bits, k, family)).alias("pos")
    ).distinct()


def bloom_member(
    probe: DataFrame, bits: DataFrame, col: str = "gram_h",
    m_bits: int = 21, k: int = 3, family: str = "md5_60",
) -> DataFrame:
    """``probe`` + boolean ``bloom_hit``: true iff ALL ``k`` of the key's
    positions are set in ``bits``. Plan: map-side position explode (k rows
    per probe row), one broadcast join against the bounded bit table, one
    hash agg back to the probe key — the probe side never shuffles its
    payload. Guarantee: a key that was inserted can never miss (its k
    positions are set by construction); a miss is therefore PROOF of
    non-membership, which is what lets a decontamination pass skip the
    exact verify join for the overwhelming non-member majority."""
    keys = list(probe.columns)
    ex = probe.select(
        *keys, F.explode(bloom_positions(F.col(col), m_bits, k, family)).alias("pos")
    )
    hit = bits.withColumn("_set", F.lit(1))
    return (
        ex.join(F.broadcast(hit), "pos", "left_outer")
        .groupBy(*keys)
        .agg((F.min(F.coalesce(F.col("_set"), F.lit(0))) == 1).alias("bloom_hit"))
    )
