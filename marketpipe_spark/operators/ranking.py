"""Pairwise-preference ranking — Bradley-Terry strength scores.

The preference-data pass an LLM training pipeline runs over pairwise
comparison logs (RLHF preference pairs, A/B outcomes, match results):
estimate a per-player latent strength from who-beat-whom counts. The
reference's query surface is open analytical SQL over its lake
(reference: src/marketpipe/cli/query.py:11-40); iterative MLE fitting is
— like PageRank — the one family plain SQL cannot express without
unrolling, so it joins the repo's loop suite (graph.py) with the same
iterative-vs-unrolled-oracle verification strategy.

Algorithm: the Bradley-Terry MM update (Hunter 2004, "MM algorithms for
generalized Bradley-Terry models"):

    s'_i = W_i / sum_j n_ij / (s_i + s_j)

where ``W_i`` is player i's total wins and ``n_ij`` the games played
between i and j, followed by a mean-1 renormalization. Everything is
integer fixed-point (micro-units of ``scale``) with truncating division
in a documented evaluation order, so Spark and the unrolled DuckDB CTE
chain agree bit-for-bit:

- round denominator  ``d_i = SUM(n_ij * scale^2 DIV (s_i + s_j))``
- raw update         ``u_i = GREATEST(1, W_i * scale^2 DIV d_i)``
- renormalization    ``s_i = GREATEST(1, u_i * P * scale DIV SUM(u))``

The ``GREATEST(1, ·)`` floor keeps zero-win players at strength 1 micro
instead of 0, so no round ever divides by ``s_i + s_j = 0``.

Integer bounds (documented, not enforced): ``n_ij`` and ``W_i`` must stay
<= 9.2e6 when ``scale = 1e6`` (``x * scale^2`` < 2^63); the mean-1
renormalization pins ``SUM(s) ~ P * scale`` every round, so ``s_i + s_j``
stays far below ``scale^2`` and the round denominator never underflows to
zero. At 100 TB the games matrix is the SMALL side by construction — it
is a per-pair aggregate, |players|^2-bounded regardless of match volume —
so every round is one broadcast-sized join + one hash aggregation; the
only driver scalars are the player count and the loop's convergence
bookkeeping, both player-cardinality-bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..execution import pin, pin_state, pinned


def _zero_key(c: Column) -> Column:
    # Same non-foldable 0-key trick as plans.registry.scalar_join: a bare
    # crossJoin with the 1-row total plans as BroadcastNestedLoopJoin (a
    # banned antipattern); a derived-but-constant equality key keeps it a
    # single-key BroadcastHashJoin.
    return F.pmod(F.coalesce(F.length(c.cast("string")), F.lit(0)), F.lit(1))


#: floor(sqrt(2^63 - 1)): the largest M with M*M inside int64. Both the
#: HITS and Bradley-Terry mean-renormalizations compute ``value * N *
#: scale`` where ``value`` itself is bounded by the total mass ~``N *
#: scale`` (full concentration on one node/player), so int64 safety is
#: exactly ``N * scale <= _RENORM_MAX`` — NOT the looser single-factor
#: ``N * scale <= 9.2e18`` a first reading suggests.
_RENORM_MAX = 3_037_000_499


def _check_renorm_bound(n: int, scale: int, op: str) -> None:
    if n * scale > _RENORM_MAX:
        raise ValueError(
            f"{op}: N*scale = {n}*{scale} exceeds {_RENORM_MAX} "
            f"(the renormalization product (N*scale)^2 would overflow "
            f"int64 and silently wrap in non-ANSI Spark); lower scale"
        )


def bradley_terry(
    matches: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    iterations: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-iteration integer Bradley-Terry strengths from a match log.

    Input: one row per decided match (``winner``, ``loser``); ties are the
    caller's to exclude. Output: ``(player, games, wins, strength_micro)``
    for every player appearing in any match, ``strength_micro`` a
    fixed-point multiple of ``scale`` normalized to mean ~``scale``.

    Semantics are replicated literally by :func:`bradley_terry_oracle_sql`
    (see the module docstring for the per-round integer recurrence).

    Integer bound (ENFORCED): the mean renormalization computes
    ``u * P * scale`` where ``u`` can reach ~``P * scale`` (all strength
    on one player), so int64 requires ``(P * scale)^2 < 2^63`` ⇔
    ``P * scale <= 3_037_000_499`` — ~3000 players at the default
    ``scale`` 1e6; lower ``scale`` for bigger ladders. (The per-pair term
    ``n_ab * scale^2`` additionally needs ``n_ab <= 9.2e18 / scale^2``,
    ~9.2e6 games per pair at the default.)
    """

    sq = scale * scale
    mt = matches.select(F.col(winner).alias("w"), F.col(loser).alias("l"))
    # The match log is scanned EXACTLY ONCE, into the per-ordered-pair win
    # count (|players|^2-bounded). The pin truncates lineage so the MM
    # rounds and the final joins never re-execute the (arbitrarily
    # expensive) upstream match pipeline — the graph.py edge-list
    # discipline applied to the games matrix.
    with pinned() as pins:
        wab = pin(
            mt.groupBy(F.col("w").alias("a"), F.col("l").alias("b")).agg(
                F.count(F.lit(1)).alias("wl")
            ),
            scope=pins,
        )
        # Directed games table: n_ab = wins(a over b) + wins(b over a).
        g = (
            wab.select("a", "b", F.col("wl").alias("n"))
            .unionByName(
                wab.select(
                    F.col("b").alias("a"), F.col("a").alias("b"), F.col("wl").alias("n")
                )
            )
            .groupBy("a", "b")
            .agg(F.sum("n").alias("n"))
        )
        players = g.select(F.col("a").alias("p")).distinct()
        wins = players.join(
            wab.groupBy(F.col("a").alias("p")).agg(F.sum("wl").alias("wc")),
            "p",
            "left_outer",
        ).select("p", F.coalesce("wc", F.lit(0)).cast("long").alias("wins"))
        gcnt = g.groupBy(F.col("a").alias("p")).agg(F.sum("n").cast("long").alias("games"))
        n_players = players.count()
        _check_renorm_bound(n_players, scale, "bradley_terry")

        s = players.withColumn("s", F.lit(scale).cast("long"))
        one = F.lit(1).cast("long")
        for _ in range(iterations):
            sa = s.select(F.col("p").alias("pa"), F.col("s").alias("s_a"))
            sb = s.select(F.col("p").alias("pb"), F.col("s").alias("s_b"))
            d = (
                g.join(F.broadcast(sa), g.a == sa.pa)
                .join(F.broadcast(sb), g.b == sb.pb)
                .select("a", F.expr(f"n * {sq} DIV (s_a + s_b)").alias("c"))
                .groupBy("a")
                .agg(F.sum("c").alias("d"))
            )
            u = wins.join(d, wins.p == d.a).select(
                "p", F.greatest(one, F.expr(f"wins * {sq} DIV d")).alias("u")
            )
            tot = u.agg(F.sum("u").cast("long").alias("tot"))
            s = pin_state(
                u.withColumn("_k", _zero_key(F.col("p")))
                .join(F.broadcast(tot.withColumn("_k", _zero_key(F.col("tot")))), "_k")
                .select(
                    "p",
                    F.greatest(
                        one, F.expr(f"u * {n_players} * {scale} DIV tot")
                    ).alias("s"),
                )
            )
        out = pin_state(  # eager: materialize BEFORE releasing the wab pin,
            wins.join(gcnt, "p")  # since wins/gcnt still reference it
            .join(s, "p")
            .select(
                F.col("p").alias("player"),
                "games",
                "wins",
                F.col("s").alias("strength_micro"),
            )
        )
    return out


def bradley_terry_oracle_sql(
    matches_sql: str,
    iterations: int = 4,
    scale: int = 1_000_000,
) -> str:
    """DuckDB CTE chain reproducing :func:`bradley_terry` literally, one
    unrolled CTE per MM round (``s0`` .. ``s{iterations}``).

    ``matches_sql`` must select ``winner, loser``; the caller embeds the
    result after its own WITH clauses (the pagerank_oracle_sql pattern).
    """
    sq = scale * scale
    # ``mt`` is MATERIALIZED: every round references the previous state
    # twice (denominator join + normalization scalar subquery), and DuckDB
    # inlines plain CTEs, so without the fence the match-log expression
    # re-expands exponentially in the iteration count (measured: 93 s → <1 s
    # at sf0.01 for the symbol_bt_strength entry). The integer round CTEs
    # themselves are player-cardinality-sized and cheap to re-expand.
    parts = [
        f"mt AS MATERIALIZED (SELECT winner, loser FROM ({matches_sql}))",
        "gd AS (SELECT winner AS a, loser AS b FROM mt UNION ALL SELECT loser, winner FROM mt)",
        "g AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM gd GROUP BY a, b)",
        "pl AS (SELECT DISTINCT a AS p FROM g)",
        (
            "wn AS (SELECT pl.p, CAST(COALESCE(x.c, 0) AS BIGINT) AS wins FROM pl "
            "LEFT JOIN (SELECT winner AS p, COUNT(*) AS c FROM mt GROUP BY winner) x USING (p))"
        ),
        "gc AS (SELECT a AS p, CAST(SUM(n) AS BIGINT) AS games FROM g GROUP BY a)",
        "npl AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM pl)",
        f"s0 AS (SELECT p, CAST({scale} AS BIGINT) AS s FROM pl)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""d{i} AS (
  SELECT g.a AS p, CAST(SUM(g.n * {sq} // (sa.s + sb.s)) AS BIGINT) AS d
  FROM g JOIN s{i - 1} sa ON g.a = sa.p JOIN s{i - 1} sb ON g.b = sb.p
  GROUP BY g.a
)"""
        )
        # u{i} and s{i} are each referenced twice downstream (scalar-subquery
        # total + main select / next round's two state joins); materializing
        # them keeps the unrolled chain LINEAR in the iteration count.
        parts.append(
            f"""u{i} AS MATERIALIZED (
  SELECT wn.p, GREATEST(CAST(1 AS BIGINT), wn.wins * {sq} // d{i}.d) AS u
  FROM wn JOIN d{i} ON wn.p = d{i}.p
)"""
        )
        parts.append(
            f"""s{i} AS MATERIALIZED (
  SELECT p, CAST(GREATEST(CAST(1 AS BIGINT),
         u * (SELECT np FROM npl) * {scale}
           // (SELECT CAST(SUM(u) AS BIGINT) FROM u{i})) AS BIGINT) AS s
  FROM u{i}
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT wn.p AS player, gc.games, wn.wins, s{iterations}.s AS strength_micro
FROM wn JOIN gc ON wn.p = gc.p JOIN s{iterations} ON wn.p = s{iterations}.p
"""
    )
