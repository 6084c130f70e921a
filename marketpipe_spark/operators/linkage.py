"""Record linkage — blocked nearest-neighbor fuzzy field matching.

MarketPipe's ``query`` surface is arbitrary analytical SQL over the lake
(reference: src/marketpipe/cli/query.py:11-40); entity resolution — "which
records are probably the same real-world thing" — is the classic data-
cleaning workload layered on such a store, and the one the LLM-pipeline
near-dup family (MinHash/SimHash, token_edit_pairs) does not cover: those
match LONG text by set similarity, while linkage matches SHORT structured
fields (phones, names, codes) by edit distance.

The distributed recipe is the standard blocking strategy: records are
grouped by a cheap deterministic block key (here a domain prefix), pairs
are enumerated ONLY within a block, and each record reports its nearest
neighbor by exact Levenshtein distance (deterministic (dist, id)
tie-break). Blocking is what makes it scale — O(sum of block^2) instead
of O(n^2) — and the per-block cap bounds the quadratic term the way the
LSH paths cap bucket skew: blocks larger than ``max_block`` keep their
``max_block`` lowest-id members as match CANDIDATES (deterministic, so
both engines agree), and every record still gets a match row. A 100 TB
deployment with mega-blocks should refine the block key (more prefix
digits) rather than raise the cap; the cap turns a runaway block into a
bounded computation instead of a job-killing shuffle.

``levenshtein`` is the classic unweighted edit distance in BOTH Spark
(JVM codegen, no UDF) and DuckDB, so parity is exact.

Within a block the operator does NOT brute-force all pairs: a dist-0
equality prefilter (hash join) resolves every record that has an
identical-field candidate, and the remainder goes through a probe-derived
adaptive length-band (lev lower bound = length difference) before any
all-pairs edit distance. Both prunes are provably winner-preserving — see
the inline proof in :func:`nearest_field_match` — so the DuckDB oracle
keeps the naive all-pairs form and exact-hash parity doubles as an
equivalence proof of the optimization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..execution import pin, spread


def nearest_field_match(
    df: DataFrame,
    id_col: str,
    field_col: str,
    block_col: str,
    max_block: int = 2000,
) -> DataFrame:
    """For every row, the nearest other row in its block by Levenshtein
    distance on ``field_col``.

    Returns ``(id, match_id, dist)`` — one row per input record whose
    block has at least one other member. Candidates are the block's
    ``max_block`` lowest-id members (the deterministic quadratic-term
    cap); the winner is min by ``(dist, match_id)``, a total order.

    ``field_col`` must be NON-NULL: ``levenshtein(NULL, x)`` is NULL, and
    NULL ordering differs between engines (Spark windows sort NULLS FIRST
    ascending, DuckDB NULLS LAST), so a NULL field would make the winner
    engine-dependent. Filter or coalesce upstream.
    """

    # Multi-consumer pins (the lm_perplexity/dsir precedent): unpinned,
    # this plan re-ran the source scan + projection and the block-cap
    # window once per consumer — 11 scans of the source table in
    # part_name_match's physical plan. `base` feeds three branches (cand
    # derivation, the dist-0 join's left side, the remainder anti-join);
    # `cand` feeds three more (dist-0 candidates, the probe, the band
    # join). Both are three narrow columns per record, so the pins are
    # bounded while the avoided work is a full scan + window sort each.
    base = pin(
        df.select(
            F.col(id_col).alias("id"),
            F.col(field_col).alias("f"),
            F.col(block_col).alias("blk"),
        )
    )
    wcap = Window.partitionBy("blk").orderBy("id")
    cand = pin(
        base.withColumn("rn", F.row_number().over(wcap))
        .where(F.col("rn") <= max_block)
        .select("id", "f", "blk")
    )
    # The logical pair set is {(x, c): x IN base, c IN cand, x.id != c.id}
    # and the winner per x is min by (dist, match_id) — a total order. The
    # naive plan scores EVERY pair with Levenshtein; the two prefilters
    # below eliminate nearly all of that edit-distance work while keeping
    # the winner BIT-IDENTICAL (the oracle stays the naive full form, so
    # parity at 3 SFs proves the equivalence on every run):
    #
    # Phase 0 — dist-0 by equality (the q-gram prefilter in its exact
    # limit: the whole string is the gram). dist == 0 iff the strings are
    # EQUAL, and no nonzero pair can beat or tie a zero pair, so a record
    # with any identical-field candidate resolves with a hash join and
    # MIN(match_id) — no edit distance at all. On catalog-style data
    # (short names with heavy duplication) this retires almost the whole
    # quadratic term: at sf0.1 every one of the 20k parts has an
    # equal-name candidate, so phase 1 runs on an empty remainder.
    c = cand.alias("c")
    b = base.alias("b")
    # `zero` feeds the remainder anti-join AND the final union: pin the
    # (id, match_id, dist) result so the equality join runs once.
    zero = pin(
        b.join(
            c,
            (F.col("b.blk") == F.col("c.blk"))
            & (F.col("b.f") == F.col("c.f"))
            & (F.col("b.id") != F.col("c.id")),
        )
        .groupBy(F.col("b.id").alias("id"))
        .agg(F.min(F.col("c.id")).alias("match_id"))
        .withColumn("dist", F.lit(0).cast("long"))
    )
    rem = base.join(zero.select("id"), "id", "left_anti")

    # Phase 1 — adaptive length-band with a probe upper bound, for records
    # with NO equal-field candidate. Each remainder record first scores ONE
    # deterministic probe (the block's lowest-id candidate that isn't
    # itself), giving an upper bound U = lev(a, probe). Since
    # lev(x, y) >= |len(x) - len(y)|, any pair outside the band
    # |len diff| <= U has dist >= U + 1: it can neither beat nor tie the
    # probe pair, so pruning it is EXACT — no fallback pass needed, and the
    # band width self-tunes per record instead of being a global guess.
    wprobe = Window.partitionBy("blk").orderBy("id")
    probe2 = (
        cand.withColumn("pn", F.row_number().over(wprobe))
        .where(F.col("pn") <= 2)
        .select("id", "f", "blk")
        .alias("p")
    )
    r = rem.alias("r")
    # `probe_pair` feeds the band join's probe side AND the pair union:
    # pinned, the probe scoring (join + window + levenshtein) runs once.
    probe_pair = pin(
        r.join(
            probe2,
            (F.col("r.blk") == F.col("p.blk")) & (F.col("r.id") != F.col("p.id")),
        )
        .withColumn(
            "_pn",
            F.row_number().over(Window.partitionBy(F.col("r.id")).orderBy(F.col("p.id"))),
        )
        .where(F.col("_pn") == 1)
        .select(
            F.col("r.id").alias("id"),
            F.col("r.f").alias("f"),
            F.col("r.blk").alias("blk"),
            F.col("p.id").alias("match_id"),
            F.levenshtein(F.col("r.f"), F.col("p.f")).cast("long").alias("dist"),
        )
    )
    rp = probe_pair.alias("rp")
    band_pairs = rp.join(
        c,
        (F.col("rp.blk") == F.col("c.blk"))
        & (F.col("rp.id") != F.col("c.id"))
        & (
            F.abs(F.length(F.col("rp.f")) - F.length(F.col("c.f")))
            <= F.col("rp.dist")
        ),
    ).select(
        F.col("rp.id").alias("id"),
        F.col("c.id").alias("match_id"),
        F.levenshtein(F.col("rp.f"), F.col("c.f")).cast("long").alias("dist"),
    )
    # NOT threshold-lev (measured): a per-row-threshold form
    # (levenshtein(rp.f, c.f, U), drop the -1 sentinel) is winner-exact —
    # a band pair with dist > U can never beat the probe pair at
    # (U, probe_id) — but the column-threshold expression measured
    # part_name_match at 3.1 s warm vs 1.4 s plain on this data (the
    # remainder is tiny once phase 0 fires, so the early exit buys nothing
    # and the non-codegen threshold path taxes the stage). Revisit only if
    # a profile shows a large remainder with wide bands.
    rem_pairs = probe_pair.select("id", "match_id", "dist").unionByName(band_pairs)
    wbest = Window.partitionBy("id").orderBy("dist", "match_id")
    rem_winner = (
        rem_pairs.withColumn("_rn", F.row_number().over(wbest))
        .where(F.col("_rn") == 1)
        .select("id", "match_id", "dist")
    )
    return zero.select("id", "match_id", "dist").unionByName(rem_winner)


def nearest_field_match_sql(
    src_sql: str, max_block: int = 2000
) -> str:
    """CTE list reproducing :func:`nearest_field_match`. ``src_sql`` must
    select ``id``, ``f`` (the field) and ``blk``; exposes
    ``nearest(id, match_id, dist)``."""
    return f"""lbase AS MATERIALIZED ({src_sql}),
lcand AS MATERIALIZED (
  SELECT id, f, blk FROM (
    SELECT id, f, blk, ROW_NUMBER() OVER (PARTITION BY blk ORDER BY id) AS rn
    FROM lbase
  ) WHERE rn <= {max_block}
),
lpairs AS (
  SELECT a.id AS id, c.id AS match_id,
         CAST(levenshtein(a.f, c.f) AS BIGINT) AS dist
  FROM lbase a JOIN lcand c ON a.blk = c.blk AND a.id <> c.id
),
nearest AS (
  SELECT id, match_id, dist FROM (
    SELECT id, match_id, dist,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, match_id) AS rn
    FROM lpairs
  ) WHERE rn = 1
)"""


def blocked_similarity_pairs(
    df: DataFrame,
    id_col: str,
    field_col: str,
    block_cols: list[str],
    max_dist: int = 2,
    max_block: int = 2000,
) -> DataFrame:
    """Every within-block record pair at Levenshtein distance <=
    ``max_dist`` — the PAIR-GENERATION stage of entity resolution (the
    nearest-match operator keeps one winner per record; ER clustering
    needs the full epsilon-neighborhood edge list).

    Returns ``(id_a, id_b)`` with ``id_a < id_b``, ready for
    :func:`~marketpipe_spark.operators.dedup.dedup_clusters`.

    Exactness of the prefilter: ``lev(x, y) >= |len(x) - len(y)|``, so the
    length band ``|Δlen| <= max_dist`` cannot drop a qualifying pair — it
    only prunes edit-distance work (the same bound nearest_field_match's
    adaptive band uses). Blocking is the (documented, semantic) recall
    trade: pairs in different blocks are never compared.

    Scale: the block is the unit of quadratic work; ``max_block`` caps it
    by keeping each block's lowest-id members (deterministic, so both
    engines agree which records participate). ``field_col`` must be
    NON-NULL (levenshtein(NULL, x) is NULL — same contract as
    nearest_field_match).
    """

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(field_col).alias("f"),
        *[F.col(c) for c in block_cols],
    )
    wcap = Window.partitionBy(*block_cols).orderBy("id")
    # `cand` is BOTH sides of the pair self-join: unpinned, the source
    # scan + block-cap window runs twice. The pin is narrow (id, field,
    # block cols) and bounded by the input.
    cand = pin(
        base.withColumn("rn", F.row_number().over(wcap))
        .where(F.col("rn") <= max_block)
        .drop("rn")
    )
    # Length-band equi-key decomposition: the non-equi band
    # |len_a - len_b| <= max_dist becomes an exact equi-key — the b side is
    # replicated (2*max_dist + 1) ways keyed by len(b.f) + d, the a side
    # joins on len(a.f); each band pair matches exactly once (d = len_a -
    # len_b is unique), so the pair set is IDENTICAL (A/B'd: exceptAll both
    # ways = 0 rows). spread on the full (block, length) join key: the
    # levenshtein work is compute-dense but byte-tiny, so AQE would fold it
    # onto one task (architecture.md, "Execution policy").
    wl = cand.withColumn("__bsp_len", F.length("f"))
    a = spread(wl, *block_cols, "__bsp_len").alias("a")
    b = (
        wl.withColumn(
            "__bsp_d", F.explode(F.sequence(F.lit(-max_dist), F.lit(max_dist)))
        )
        .withColumn("__bsp_lj", F.col("__bsp_len") + F.col("__bsp_d"))
        .alias("b")
    )
    cond = (F.col("a.__bsp_len") == F.col("b.__bsp_lj")) & (
        F.col("a.id") < F.col("b.id")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # Threshold form (Spark 3.5+): banded DP that stops as soon as the
    # distance provably exceeds max_dist and returns the -1 sentinel, so
    # `>= 0` IS `lev <= max_dist` — and within the threshold the returned
    # value is the exact distance. Measured 2.5× on this join (the
    # repo's heaviest pin job: 6.9M banded pairs, 15-18 s -> 6-7 s at
    # sf0.1), zero predicate/value mismatches vs the naive form.
    return (
        a.join(b, cond)
        .where(F.levenshtein(F.col("a.f"), F.col("b.f"), max_dist) >= 0)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def blocked_similarity_pairs_sql(
    src_sql: str, block_cols: list[str], max_dist: int = 2, max_block: int = 2000
) -> str:
    """CTE list reproducing :func:`blocked_similarity_pairs`. ``src_sql``
    must select ``id``, ``f`` and the block columns; exposes
    ``simpairs(id_a, id_b)``."""
    blk_eq = " AND ".join(f"a.{c} = b.{c}" for c in block_cols)
    blk_part = ", ".join(block_cols)
    return f"""erbase AS MATERIALIZED ({src_sql}),
ercand AS MATERIALIZED (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY {blk_part} ORDER BY id) AS rn
    FROM erbase
  ) WHERE rn <= {max_block}
),
simpairs AS MATERIALIZED (
  SELECT a.id AS id_a, b.id AS id_b
  FROM ercand a JOIN ercand b
  ON {blk_eq} AND a.id < b.id
  AND abs(length(a.f) - length(b.f)) <= {max_dist}
  AND levenshtein(a.f, b.f) <= {max_dist}
)"""
