"""Skew mitigation for hot join keys, and the diagnostic that finds them.

At 100 TB a shuffle join hashes both sides on the join key; a key carrying
1% of a 10¹²-row fact table lands 10¹⁰ rows on one task. AQE's skew-join
split (`spark.sql.adaptive.skewJoin`, on in `session.tune`) handles most
cases at runtime by splitting oversized partitions, but it only triggers on
sort-merge joins and after a stage materializes; :func:`salted_join` is the
explicit, planner-independent fix — spread each hot left row over ``salt``
sub-keys and replicate the right side across them, turning one hot task
into ``salt`` even ones. :func:`hot_key_profile` is the one-pass diagnostic
that tells you whether (and where) you need either.

Reference parity note: the reference engine is single-node and has no
shuffle, so skew handling has no counterpart there (nearest concern:
per-symbol partition loops, e.g. /root/reference/src/marketpipe/aggregation
processing symbols independently); this module is beyond-reference scale
surface, like the dedup/similarity families.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..execution import pin


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Inner/left join two LARGE frames on equi-keys with salting: the left
    (skewed, fact) side gets a deterministic per-row salt in ``[0, salt)``,
    the right side is replicated once per salt value, and the join runs on
    ``keys + [salt]`` — so a hot key's rows spread over ``salt`` tasks
    instead of one. Result rows are EXACTLY the plain join's (the salt is
    dropped); only the physical distribution changes.

    The salt is ``xxhash64`` of the whole left row — deterministic (same
    input → same salt, partitioning-independent) and uniform even when one
    key dominates. Join correctness never depends on the salt VALUE (every
    ``(key, s)`` on the left finds the right row replicated at ``s``), so
    even a task retry that re-derives salts cannot change the result.

    Cost model: the right side shuffles ``salt×`` its size — use for
    LARGE⋈LARGE where the right side is far smaller than the left's hot-key
    volume but too big (or too mid-plan) to broadcast. For a genuinely
    small right side, ``F.broadcast`` is strictly better (no shuffle at
    all); for mild skew, AQE's runtime split is free. ``hot_key_profile``
    quantifies which regime you are in.

    ``how`` supports ``inner`` and ``left`` (right/full would need the
    salt on the preserved side instead).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if salt < 2:
        raise ValueError("salt must be >= 2 (1 would be a plain join)")
    keys = [on] if isinstance(on, str) else list(on)
    lsalt = F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in left.columns])), F.lit(salt))
    l = left.withColumn("_salt", lsalt)
    r = right.withColumn("_salt", F.explode(F.expr(f"sequence(0, {salt - 1})")))
    return l.join(r, keys + ["_salt"], how).drop("_salt")


def hot_key_profile(
    df: DataFrame,
    key: Column | str,
    top: int = 10,
) -> DataFrame:
    """Per-key skew diagnostic: the ``top`` heaviest join-key values with
    row counts, share of the table (micro-floored integer parts-per-million
    so the number is engine-exact), and rank. The decision input for
    broadcast vs AQE-split vs :func:`salted_join` — a key with share ≫
    1/shuffle-partitions is a hot task in waiting.

    One hash aggregation (map-side combined), then a distributed
    top-``top`` (per-partition top-N + merge — TakeOrderedAndProject, never
    a global sort or a one-task rank window over the distinct-key table);
    only the ≤ ``top`` surviving rows pass through the final rank window.
    Ties rank deterministically by key value.
    """
    from pyspark.sql.window import Window as W

    from ..plans.registry import scalar_join

    k = F.col(key) if isinstance(key, str) else key

    # ``counts`` feeds the scalar total AND the top-k: unpinned, the full
    # scan + key aggregation runs twice. One narrow row per distinct key —
    # pin it.
    counts = pin(df.groupBy(k.alias("key")).agg(F.count(F.lit(1)).alias("n")))
    total = counts.agg(F.sum("n").alias("_t"))
    topk = (
        scalar_join(counts, "key", total)
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(top)
    )
    return topk.withColumn(
        "share_ppm", F.floor((F.col("n") * F.lit(1_000_000)) / F.col("_t")).cast("long")
    ).withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.col("n").desc(), F.col("key").asc())).cast("long"),
    ).select("key", "n", "share_ppm", "rank")


def physical_sortedness(
    df: DataFrame,
    ts: str,
    rows_per_partition: int = 100_000,
    min_pairs: int = 1_000,
) -> float | None:
    """Fraction of ADJACENT same-partition row pairs with non-decreasing
    ``ts``, in physical (on-disk / in-plan) row order, probing at most
    ``rows_per_partition`` leading rows per partition — the cheap
    detector for "this data is already time-sorted".

    Why it matters: a per-key window's reduce-side sort over near-sorted
    input is a near-free TimSort merge of sorted runs, so the hot-key
    time-chunking mitigation buys little there while still paying its
    auxiliary tails/carry passes (SKEW_BENCH ×256: chunked as-of pays
    ~1.35× on BOTH uniform and skewed near-sorted cells). The probe runs
    one Arrow ``mapInPandas`` pass that stops consuming each partition's
    stream after the cap — cost bounded by cap × partitions, not table
    size. Returns ``None`` below ``min_pairs`` observed pairs (too little
    signal to veto anything). Timestamps are compared after a ``long``
    cast: ties (including coarser-granularity collisions) count as
    non-decreasing, which only ever biases TOWARD "sorted" — acceptable
    for a dispatch heuristic whose both branches are bit-identical.
    """
    import pandas as pd

    # NULLs are dropped JVM-side so the Arrow batches stay int64 end to
    # end — a float64 detour would quantize epoch-ns values (ulp ≈ 256 ns
    # at 1.7e18) and count sub-ulp inversions as ties, i.e. as sorted.
    src = df.select(F.col(ts).cast("long").alias("_t")).where(
        F.col(ts).isNotNull()
    )

    def probe(batches):
        import numpy as np

        seen = pairs = mono = 0
        prev = None
        for pdf in batches:
            a = pdf["_t"].to_numpy(dtype="int64")
            if a.size == 0:
                continue
            if prev is not None:
                pairs += 1
                mono += int(a[0] >= prev)
            if a.size > 1:
                d = a[1:] >= a[:-1]
                pairs += d.size
                mono += int(d.sum())
            prev = int(a[-1])
            seen += a.size
            if seen >= rows_per_partition:
                break  # stop pulling Arrow batches for this partition
        yield pd.DataFrame({"pairs": [pairs], "mono": [mono]})

    stats = src.mapInPandas(probe, "pairs long, mono long").collect()
    tp = sum(r["pairs"] for r in stats)
    tm = sum(r["mono"] for r in stats)
    if tp < min_pairs:
        return None
    return tm / tp


def plan_trailing_skew(
    df: DataFrame,
    key: str,
    ts: str,
    shuffle_partitions: int = 32,
    safety: float = 4.0,
    chunks_per_slot: int = 4,
    max_hot: int = 64,
    sorted_threshold: float | None = None,
    min_hot_rows: int = 8_000_000,
) -> tuple[int, list] | None:
    """Skew auto-dispatch: decide whether a trailing-window computation
    over ``key`` needs :func:`chunked_trailing_frame`, and for WHICH keys.

    Threshold: a key whose row share exceeds ``safety / shuffle_partitions``
    makes one window task carry ≥ ``safety``× an average slot's work — the
    measured regime where the straggler dominates (SKEW_BENCH: the plain
    plan pays 1.72× at ×64 and 2.41× at ×256 with a 50%-hot key, while at
    uniform shares chunking COSTS up to 2.5×). Below the threshold return
    ``None`` (keep the plain single-window plan); above it return
    ``(span, hot_keys)`` where ``span`` splits the global time range into
    ``shuffle_partitions * chunks_per_slot`` chunks and ``hot_keys`` is the
    bounded list (≤ ``max_hot``; at most ``shuffle_partitions/safety`` keys
    can exceed the share threshold, so the collect is tiny by construction)
    of keys that actually need chunking — cold keys keep their one-task
    window and skip the carry machinery entirely.

    Cost, staged so the COMMON case pays least (r10 — the r9 split of
    global agg + sampled groupBy + hot-row sortedness scan cost three
    full scans ≈ 12 s at ×256 before any query work):

    1. ONE all-JVM job: ``groupBy(key).agg(count, min/max ts)`` partials
       re-aggregated to (total, ts range, max per-key count). Codegen +
       map-side combine; shuffle = distinct keys, spill-safe at high
       cardinality. No key over the threshold → plain plan, done — the
       uniform/no-skew case costs exactly one column-pruned scan.
    2. Hot detected + guard enabled → the capped Arrow order probe
       (:func:`physical_sortedness`, cost ∝ cap × partitions, not table
       size). Near-sorted → plain plan, done — the top-k job is skipped.
    3. Only a genuinely hot, genuinely unordered table pays the third
       job (top-``max_hot`` hot keys) — the regime where chunking wins
       multiples, so the dispatch cost is noise there.

    ``sorted_threshold`` — the r10 sortedness guard, OFF by default and
    enabled per operator class: whether a sorted hot partition is fine
    depends on the per-row WINDOW cost, so the caller — who knows the
    workload class — decides:

    - As-of (one ``last()`` carry per row): on near-time-sorted input the
      hot partition's reduce-side sort is a near-free merge of sorted
      runs and the carry is trivial, so chunking's tails/carry passes
      cost MORE than the straggler they remove — SKEW_BENCH ×256 sorted:
      chunked 27.3 s vs plain 18.9 s on the skewed cell. ``asof_join``
      passes 0.95.
    - Heavy window stacks (13-rule validation, multi-window sessions):
      the straggler is per-row COMPUTE, not the sort — chunking wins even
      on fully sorted input (×256 sorted skewed: chunked 86 s vs plain
      102 s; sessions ×1024: chunked 50 s vs plain 118 s). Those callers
      leave the guard off.

    The probe measures GLOBAL physical order as a proxy for the hot
    key's own — a subset of a sorted stream is sorted, so globally-sorted
    always implies hot-sorted; the reverse miss only costs the known
    chunk overhead. On genuinely unordered data (fraction ≈ 0.5) the
    guard never fires regardless. Dispatch is a plan-BUILD cost amortized
    to zero by the serving plan cache; cold-build overhead is bounded by
    one 2-column scan (stage 1) for uncontended tables.

    ``min_hot_rows`` — the absolute-straggler floor (r10): share measures
    how UNEVEN the work is, but whether the hot task is a wall-clock
    straggler worth chunking depends on its absolute size. SKEW_BENCH
    unordered cells put the crossover between 3.2M hot rows (×64:
    chunking loses even at 4.2× plain skew tax) and 12.8M (×256: wins
    1.8–3×; ×1024: 2.4×), so the default floor sits at 8M. Set 0 to
    force share-only dispatch (the unit-test fixtures do).
    """
    counts = df.groupBy(F.col(key).alias("_k")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(ts).alias("_t0"),
        F.max(ts).alias("_t1"),
    )
    g = counts.agg(
        F.sum("n").alias("tot"),
        F.min("_t0").alias("t0"),
        F.max("_t1").alias("t1"),
        F.max("n").alias("max_n"),
    ).collect()[0]
    if not g["tot"]:
        return None
    # Share threshold, capped at 50%: a majority key is a straggler at ANY
    # cluster size (and without the cap, safety/partitions >= 1 on small
    # local sessions would disable dispatch entirely).
    thr_rows = g["tot"] * min(safety / shuffle_partitions, 0.5)
    if g["max_n"] <= thr_rows:
        return None
    # Absolute floor (r10): share says how UNEVEN the work is; whether the
    # hot task is a wall-clock straggler worth the chunk machinery depends
    # on its ABSOLUTE row count. Measured crossover on the ×F unordered
    # bench tables: at ×64 (hot key = 3.2M rows) chunking LOSES even at
    # 4.2× plain skew tax (asof auto 16.5 s vs plain 10.5 s), at ×256
    # (12.8M) it wins 1.8–3×, at ×1024 (51M) 2.4×. Below the floor the
    # plain plan's one task finishes before chunking's aux passes pay off.
    if g["max_n"] < min_hot_rows:
        return None
    if sorted_threshold is not None:
        mono = physical_sortedness(df.select(ts), ts)
        if mono is not None and mono >= sorted_threshold:
            return None
    hot = (
        counts.where(F.col("n") > thr_rows)
        .orderBy(F.col("n").desc(), F.col("_k").asc())
        .limit(max_hot)
        .collect()
    )
    if not hot:
        return None
    span = max(1, (g["t1"] - g["t0"] + 1) // (shuffle_partitions * chunks_per_slot))
    return span, [r["_k"] for r in hot]


def resolve_trailing_skew(
    df: DataFrame,
    key: str,
    ts: str,
    skew_span: int | str | None,
    sorted_threshold: float | None = None,
) -> tuple[int | None, list | None]:
    """Normalize the window operators' ``skew_span`` parameter:

    - ``None`` → ``(None, None)``: plain single-window plan;
    - ``"auto"`` → :func:`plan_trailing_skew` decides from the data —
      plain plan when no key crosses the straggler threshold, else the
      hot-key-targeted chunked plan. ``"auto:N"`` pins the partition
      count the threshold is computed against (``"auto"`` reads the live
      session's ``spark.sql.shuffle.partitions``) — use the pinned form
      where the chosen PLAN must be session-independent, e.g. plan-shape
      regression baselines;
    - an int → ``(span, None)``: chunk EVERY key at that span (the r7
      always-on behavior the registry skewsafe twins pin).

    ``sorted_threshold`` forwards to :func:`plan_trailing_skew`'s
    sortedness guard — set by operators whose per-row window cost is
    trivial (as-of), left ``None`` by heavy window stacks.
    """
    if skew_span is None:
        return None, None
    if isinstance(skew_span, str) and skew_span.startswith("auto"):
        if ":" in skew_span:
            sp = int(skew_span.split(":", 1)[1])
        else:
            sp = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        plan = plan_trailing_skew(
            df, key, ts, shuffle_partitions=sp, sorted_threshold=sorted_threshold
        )
        return (None, None) if plan is None else plan
    return skew_span, None


def chunked_trailing_frame(
    df: DataFrame,
    key: str,
    ts: str,
    lookback: int,
    span: int,
    hot_keys: list | None = None,
) -> DataFrame:
    """Skew-tolerant base frame for BOUNDED trailing-window computations.

    ``Window.partitionBy(key)`` puts a hot key's entire history in ONE task
    — the straggler SURVEY §7.4 flags for hot symbols (one symbol = 50% of
    rows ⇒ one task does half the work at any cluster size). But every
    window rule in this engine looks back at most ``lookback`` rows
    (lag-1, trailing-10, trailing-20): the state needed across any time
    boundary is bounded. This helper exploits that:

    1. chunk the time axis: ``_chunk = ts div span``;
    2. per (key, chunk), take the chunk's LAST ``lookback`` rows (tail);
    3. per key, one ordered pass over the CHUNK SUMMARIES (rows = chunks,
       not data — bounded by time-range/span regardless of volume)
       concatenates all previous tails and keeps the last ``lookback``:
       the exact carry-in context for each chunk;
    4. explode the carry-ins into their target chunk tagged ``_carry=1``
       and union with the original rows (``_carry=0``).

    Callers compute their window columns over
    ``Window.partitionBy(key, "_chunk").orderBy(ts)`` on the returned
    frame, then keep only ``_carry = 0`` rows and drop the helper columns.
    For any row, the rows preceding it in its chunk partition are EXACTLY
    the rows preceding it in the global per-key order (carried rows have
    strictly smaller ``ts`` than every chunk row, and the carry is the
    last ``lookback`` of everything earlier), so any frame reaching back
    ≤ ``lookback`` rows — ``lag(n)``, ``rowsBetween(-n, 0)``,
    ``rowsBetween(-n, -1)`` with n ≤ lookback — is bit-identical to the
    unchunked plan. The hot key's work now spreads over
    (time-range / span) tasks instead of one.

    Cost: one extra shuffle on (key, chunk) for the tails plus a
    control-plane-sized per-key pass; carried rows add ≤ lookback rows per
    (key, chunk) — a few percent for sane spans. Pick ``span`` ≫ the time
    covered by ``lookback`` rows (e.g. one day for minute bars and
    lookback 20).

    ``hot_keys`` (r8, the uniform-tax fix): when given, ONLY those keys are
    time-chunked — every other key keeps a single chunk (``_chunk = -1``),
    i.e. exactly the plain per-key window, and its rows never enter the
    tails/carry machinery. The chunk overhead then scales with the HOT
    subset instead of the whole table (measured: the all-keys plan cost
    2.57× on uniform data at ×256 — SKEW_BENCH). Requires ``ts >= 0`` for
    hot-key rows (epoch timestamps are). :func:`plan_trailing_skew`
    produces the list from a two-pass profile; ``hot_keys=None`` keeps the
    r7 chunk-everything behavior, ``hot_keys=[]`` degenerates to the plain
    frame (one chunk per key, no carries).
    """
    cols = list(df.columns)
    if hot_keys is not None:
        is_hot = F.col(key).isin(list(hot_keys)) if hot_keys else F.lit(False)
        b = df.withColumn(
            "_chunk", F.when(is_hot, F.expr(f"{ts} div {span}")).otherwise(F.lit(-1))
        )
        hot_rows = b.where(is_hot)
    else:
        b = df.withColumn("_chunk", F.expr(f"{ts} div {span}"))
        hot_rows = b

    from pyspark.sql.window import Window as W

    wdesc = W.partitionBy(key, "_chunk").orderBy(F.col(ts).desc())
    tails = (
        hot_rows.withColumn("_rn", F.row_number().over(wdesc))
        .where(F.col("_rn") <= lookback)
        .groupBy(key, "_chunk")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(ts).alias("_ts"), F.struct(*cols).alias("r"))
                )
            ).alias("_tail")
        )
    )
    wprev = (
        W.partitionBy(key)
        .orderBy("_chunk")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carried = (
        tails.withColumn("_prev", F.flatten(F.collect_list("_tail").over(wprev)))
        .select(
            "_chunk",
            F.explode(
                F.expr(
                    f"slice(_prev, greatest(1, size(_prev) - {lookback} + 1), {lookback})"
                )
            ).alias("_e"),
        )
        .select("_chunk", "_e.r.*")
        .withColumn("_carry", F.lit(1))
    )
    return b.withColumn("_carry", F.lit(0)).unionByName(
        carried.select(*cols, "_chunk", "_carry")
    )


def plan_join_skew(
    df: DataFrame,
    keys: list[str],
    shuffle_partitions: int = 32,
    safety: float = 4.0,
    sample_rows: int = 1_000_000,
    max_salt: int = 32,
) -> int | None:
    """Skew auto-dispatch for EQUI-JOINS: decide whether a join keyed on
    ``keys`` needs explicit salting, and at what factor.

    A join hashes ``df`` (the big, salt-receiving side) on ``keys``; the
    heaviest key's share of the rows is the fraction of the whole join one
    reducer would run. Above ``safety / shuffle_partitions`` (capped at
    50%, same reasoning as :func:`plan_trailing_skew`) return a salt
    factor ``ceil(share × shuffle_partitions)`` clamped to
    ``[2, max_salt]`` — enough sub-keys to spread the hot key's rows back
    to average-task size; below the threshold return ``None`` (plain join;
    AQE's runtime split covers mild skew for free, and salting uniform
    data taxes every key with the replicated-side shuffle).

    Detection cost mirrors :func:`plan_trailing_skew`: one count, then one
    grouped aggregate over the keys — SAMPLED past ``sample_rows`` (the
    threshold halves under sampling to absorb borderline error; a wrongly
    salted borderline key costs a few percent, a missed truly-hot key is
    ~impossible at 1M samples). The share estimate and therefore the salt
    factor come from the same pass.
    """
    tot = df.count()
    if not tot:
        return None
    thr_share = min(safety / shuffle_partitions, 0.5)
    frac = min(1.0, sample_rows / tot)
    src = df.select(*keys) if frac >= 1.0 else df.select(*keys).sample(
        fraction=frac, seed=42
    )
    g = (
        src.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .collect()[0]
    )
    if not g["tot"]:
        return None
    share = g["mx"] / g["tot"]
    eff_thr = thr_share * (0.5 if frac < 1.0 else 1.0)
    if share <= eff_thr:
        return None
    import math

    return min(max_salt, max(2, math.ceil(share * shuffle_partitions)))


def resolve_join_skew(
    df: DataFrame, keys: list[str], skew_salt: int | str | None
) -> int | None:
    """Normalize join operators' ``skew_salt`` parameter (the equi-join
    sibling of :func:`resolve_trailing_skew`):

    - ``None`` → plain join;
    - ``"auto"`` / ``"auto:N"`` → :func:`plan_join_skew` decides from the
      data (``:N`` pins the partition count for session-independent plan
      shape);
    - an int ≥ 2 → salt at that factor unconditionally.
    """
    if skew_salt is None:
        return None
    if isinstance(skew_salt, str) and skew_salt.startswith("auto"):
        if ":" in skew_salt:
            sp = int(skew_salt.split(":", 1)[1])
        else:
            sp = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        return plan_join_skew(df, keys, shuffle_partitions=sp)
    return int(skew_salt)
