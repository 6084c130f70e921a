"""Deterministic sampling and dataset splitting — the data-mixing operators
a training pipeline runs last: downsample over-represented strata, carve
reproducible train/val/test splits.

Everything is a map-only column expression on a content-stable hash
(``md5_60``, see ``dedup._hash64``): membership depends ONLY on the row id —
not on partitioning, cluster size, or execution order — so samples are
reproducible across runs AND engines (the oracle computes the identical
hash). ``df.sample()`` can't give any of that. No shuffle anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..execution import pin
from .dedup import _hash64

#: md5_60 yields uniform ints in [0, 2^60)
_HASH_SPACE = 1 << 60


def _threshold(fraction: float) -> int:
    """Integer acceptance threshold — computed once driver-side so Spark and
    any SQL oracle compare against the same literal (no float-division
    rounding in either engine)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    return int(fraction * _HASH_SPACE)


def _row_hash(id_col: str, salt: str) -> Column:
    return _hash64(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")), None, "md5_60")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Keep each row with its stratum's probability, decided by the row's
    content hash: h(salt|id) < fraction·2^60. Changing ``salt`` draws an
    independent sample; the same salt always reproduces the same rows."""
    h = _row_hash(id_col, salt)
    cond = None
    for stratum, frac in fractions.items():
        this = (F.col(strata_col) == stratum) & (h < F.lit(_threshold(frac)))
        cond = this if cond is None else cond | this
    # NULL strata take the default fraction: a bare ``isin`` yields NULL for
    # a NULL stratum, ``~NULL`` stays NULL, and filter() treats NULL as
    # false — which would silently drop every NULL-stratum row even at
    # default_fraction=1.0.
    known = F.coalesce(F.col(strata_col).isin(list(fractions)), F.lit(False))
    keep_default = ~known & (h < F.lit(_threshold(default_fraction)))
    return df.filter((cond | keep_default) if cond is not None else keep_default)


def take_n_per_stratum(
    df: DataFrame,
    strata_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "taken",
) -> DataFrame:
    """Fixed-SIZE deterministic sample: the ``n`` rows with the smallest
    content hash per stratum — a reservoir that is stable across runs,
    engines, partitionings, and insertion order (a true random reservoir is
    none of those). One shuffle: the per-stratum rank window."""
    h = _row_hash(id_col, salt)
    w = W.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= n).drop("_rk")


def with_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column ('train'/'val'/'test' by default) assigned by
    hash range — every row lands in exactly one split, stable under
    reprocessing, resharding, and engine choice. Weights must sum to 1."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1")
    h = _row_hash(id_col, salt)
    expr = None
    edge = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        edge += w
        cond = h < F.lit(_threshold(edge))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def source_mixture_weights(df: DataFrame, group_col: str = "source",
                           alpha: float = 0.5) -> DataFrame:
    """Temperature-based data-mixing weights per group: ``p_g ∝ n_g^alpha``
    (the multilingual/multi-source sampling rule — alpha<1 upsamples rare
    groups, alpha=1 is proportional). Returns per-group doc counts, the
    normalized sampling weight, and the expected docs per epoch.

    Bit-stability note: the normalizer sums ``n^alpha`` doubles inside an
    ORDERED full-frame window (rows sorted by group key), so Spark and any
    SQL oracle add the same values in the same sequence — a plain
    ``SUM() OVER ()`` would leave float summation order engine-defined.
    One tiny shuffle (|groups| rows) after the count agg.
    """
    full = W.orderBy(group_col).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    n = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    w = n.withColumn("w_raw", F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha))))
    return (
        w.withColumn("weight", F.col("w_raw") / F.sum("w_raw").over(full))
        .withColumn(
            "expected_docs", F.col("weight") * F.sum("n_docs").over(full).cast("double")
        )
        .select(group_col, "n_docs", "weight", "expected_docs")
        .orderBy(group_col)
    )


def length_outliers(df: DataFrame, group_col: str = "source",
                    length_col: str = "n_chars", id_col: str = "doc_id",
                    n_buckets: int = 20) -> DataFrame:
    """Per-group length-distribution outliers: rows landing in the first or
    last NTILE bucket of their group's length order (CCNet-style per-domain
    tail trimming). NTILE over (length, id) is a total order, so bucket
    assignment is deterministic and engine-independent — unlike
    interpolated percentiles, whose float math differs across engines.
    One shuffle keyed by the group column."""
    wnd = W.partitionBy(group_col).orderBy(F.col(length_col).asc(), F.col(id_col).asc())
    return (
        df.withColumn("bucket", F.ntile(n_buckets).over(wnd))
        .filter((F.col("bucket") == 1) | (F.col("bucket") == n_buckets))
        .select(id_col, group_col, length_col, "bucket")
    )


def training_order(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "shuffle-v1",
) -> DataFrame:
    """Deterministic global pseudorandom shuffle + shard assignment — the
    final stage before export: training jobs want documents in a fixed
    random-looking order, reproducible across runs, engines, and cluster
    layouts (``df.orderBy(rand())`` gives none of that).

    Each row's shard and position derive ONLY from its id: shard =
    ``md5_60(salt|id) mod n_shards``; position = rank of a second
    independent hash within the shard (id as the tie-break for the ~2⁻⁶⁰
    collision case, making the order a total order). Returns
    ``(id, shard, pos)`` to join back onto the payload or feed
    ``export_jsonl(partition_cols=["shard"])``.

    Scale shape (100 TB): one map-only hash pass, one exchange keyed by
    shard, one per-shard sort — the sort is the cost, so ``n_shards``
    scales with the corpus to keep shards task-sized (10⁹ docs / 10⁴
    shards ≈ 10⁵ rows per sort). Uniform hashing makes shard skew
    negligible by construction.
    """
    shard = F.pmod(_row_hash(id_col, salt), F.lit(n_shards)).cast("long")
    order = _row_hash(id_col, salt + ":order")
    w = W.partitionBy("shard").orderBy(order, F.col(id_col))
    return (
        df.select(F.col(id_col), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


def token_budget_sample(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    salt: str = "budget-v1",
) -> DataFrame:
    """Deterministic per-group token-budget sample: within each group, take
    documents in hash order until the cumulative token count reaches
    ``budget`` — how a training mixture is actually materialized once
    per-source token budgets are decided (the counterpart of
    :func:`source_mixture_weights`, which only computes the targets).

    Hash order (``md5_60(salt|id)``) makes the selection a pure function
    of row ids: reproducible across runs, engines, and partitionings, and
    REFRESHABLE — growing the corpus leaves previously-selected documents
    selected until the budget itself changes (the property a
    ``ORDER BY rand() LIMIT``-style sample lacks). The greedy prefix rule
    (keep while cumulative ≤ budget, first overflowing doc excluded) is
    integer-exact, so an external SQL oracle reproduces the exact set.

    Returns ``(id, group, tokens, cum_tokens)`` for the selected rows.

    Scale shape (100 TB): one map-only hash pass, one exchange keyed by
    group, one per-group sort for the running sum — the same shape as
    :func:`training_order`; groups (sources/domains) are natural shard
    keys. A pathologically large single group turns into one big sort
    task: pre-aggregate per (group, hash-bucket) if a group exceeds task
    size, or raise ``budget`` granularity — documented, not hidden.
    """
    h = _row_hash(id_col, salt)
    w = W.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    cum = F.sum(F.col(tokens_col)).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        df.select(F.col(id_col), F.col(group_col), F.col(tokens_col))
        .withColumn("cum_tokens", cum.cast("long"))
        .filter(F.col("cum_tokens") <= budget)
    )


def dsir_weights(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 65536,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance Resampling,
    Xie et al. 2023, arXiv:2302.03169): score every document by the
    log-likelihood ratio of a target-domain vs a raw-corpus hashed
    bag-of-unigrams model, the published recipe for selecting pretraining
    data that "looks like" a trusted target set.

    ``target`` is a boolean Column evaluated per document (e.g.
    ``F.col("lang") == "en"``); the raw model is the whole input. Tokens
    hash into ``buckets`` buckets (fixed model size regardless of corpus
    scale — the point of the hashed variant), both models are add-one
    smoothed, and the per-bucket log-ratio is micro-floored to a BIGINT so
    per-document sums are order-independent and cross-libm stable (the
    lm_perplexity fixed-point precedent).

    Returns ``(id, n_tokens, dsir_micro, avg_micro, keep)``: ``dsir_micro``
    is the summed per-token log-ratio in micro-nats, ``avg_micro`` its
    per-token (length-normalized) floor, and ``keep`` marks documents whose
    per-token score beats the corpus mean — an integer-exact comparison
    (``avg_micro * n_docs > Σ avg_micro``), so the boundary stays live even
    when add-one smoothing shifts every raw score negative (target ⊂ raw
    always biases ``ct ≤ cr``). For true DSIR *resampling*, feed
    ``dsir_micro`` to :func:`training_order`-style Gumbel ordering; the
    deterministic above-mean rule keeps the output oracle-exact.

    Scale shape (100 TB): one explode pass pre-aggregated per (doc, bucket)
    — the join input shrinks to distinct-buckets-per-doc; the model table
    is ≤ ``buckets`` rows BY CONSTRUCTION (broadcast-safe at any corpus
    size, hence ``always_broadcast``); totals attach via the keyed 1-row
    broadcast of :func:`..plans.registry.scalar_join`. Three shuffles total
    (doc-bucket pre-agg, bucket stats, per-doc sum), all map-side combined.
    """
    from ..plans.registry import dim_join, scalar_join

    if buckets > (1 << 20):
        raise ValueError("buckets must stay broadcast-safe (<= 2^20)")
    tok = docs.select(
        F.col(id_col),
        target.alias("tgt"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("token"),
    )
    tk = tok.select(
        id_col,
        "tgt",
        F.pmod(_hash64(F.col("token"), None, hash_family), F.lit(buckets)).alias("bucket"),
    )
    # `inst` feeds the bucket-model rollup AND the scoring probe; `per_doc`
    # (below) feeds the corpus-mean aggregate AND the final keep probe.
    # Unpinned, lazy evaluation re-runs the corpus explode once per branch
    # (measured: 6 Generate subtrees in this entry's physical plan). Pin
    # both shared pre-aggs — (doc,tgt,bucket,m) and the per-doc scores —
    # so the explode runs exactly once (the lm_perplexity precedent).
    inst = pin(tk.groupBy(id_col, "tgt", "bucket").agg(F.count(F.lit(1)).alias("m")))
    stats = inst.groupBy("bucket").agg(
        F.sum(F.when(F.col("tgt"), F.col("m")).otherwise(F.lit(0))).alias("ct"),
        F.sum("m").alias("cr"),
    )
    tot = stats.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    # Identical IEEE evaluation order to the SQL oracle:
    # ln(double(ct+1) * (nr+B) / bigint((cr+1) * (nt+B))) * 1e6, floored.
    lam_micro = F.floor(
        F.log(
            (F.col("ct") + 1).cast("double")
            * (F.col("nr") + F.lit(buckets))
            / ((F.col("cr") + 1) * (F.col("nt") + F.lit(buckets)))
        )
        * F.lit(1000000)
    ).cast("long")
    lam = scalar_join(stats, "bucket", tot).select("bucket", lam_micro.alias("lam_micro"))
    j = dim_join(inst, lam, "bucket", always_broadcast=True)
    per_doc = j.groupBy(id_col).agg(
        F.sum("m").alias("n_tokens"),
        F.sum(F.col("m") * F.col("lam_micro")).alias("dsir_micro"),
    )
    per_doc = pin(
        per_doc.withColumn(
            "avg_micro",
            F.floor(F.col("dsir_micro").cast("double") / F.col("n_tokens")).cast("long"),
        )
    )
    corpus = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("avg_micro").alias("tot_avg")
    )
    return scalar_join(per_doc, id_col, corpus).select(
        id_col,
        "n_tokens",
        "dsir_micro",
        "avg_micro",
        (F.col("avg_micro") * F.col("n_docs") > F.col("tot_avg")).alias("keep"),
    )


def gumbel_topk_sample(
    df: DataFrame,
    k: int,
    weight_micro_col: str = "dsir_micro",
    id_col: str = "doc_id",
    salt: str = "gumbel-v1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement via the Gumbel
    top-k trick (Efraimidis & Spirakis 2006 / Gumbel-max): rank rows by
    ``logit + Gumbel(noise)`` and keep the top ``k`` — exactly sampling k
    items with probability proportional to ``exp(logit)``. With
    ``weight_micro_col`` = DSIR's micro-nat log-ratio this IS the "R" in
    DSIR: importance *resampling*, not just weighting.

    The Gumbel noise is a pure function of the row id (``md5_60(salt|id)``
    mapped to u ∈ (0,1), g = −ln(−ln(u))) — reproducible across runs,
    engines, and partitionings, and micro-floored so the ranking key is an
    integer (ties broken by id: a total order, oracle-exact).

    Scale shape (100 TB): noise and key are map-only; the top-k is
    ``orderBy(...).limit(k)``, which Spark plans as TakeOrderedAndProject —
    per-partition partial top-k then a k-row driver merge, no global sort
    shuffle. k is the bound on driver traffic BY CONSTRUCTION.
    """
    h = _row_hash(id_col, salt)
    # u ∈ (0,1): (h+1)/(2^60+1); both engines evaluate BIGINT→DOUBLE casts
    # and the division identically (IEEE round-to-nearest).
    u = (h + F.lit(1)).cast("double") / F.lit(1152921504606846977).cast("double")
    gumbel_micro = F.floor(-F.log(-F.log(u)) * F.lit(1000000)).cast("long")
    key = (F.col(weight_micro_col) + gumbel_micro).alias("gumbel_key_micro")
    keyed = df.select("*", key)
    return keyed.orderBy(F.col("gumbel_key_micro").desc(), F.col(id_col).asc()).limit(k)
