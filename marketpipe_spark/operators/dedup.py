"""Deduplication operators: exact, keep-last, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

The reference's dedup surface is keep-last on (symbol, ts_ns)
(parquet_engine.py:156-173) and aggregate-level duplicate rejection
(aggregates.py:109-115); this module extends it with the document-level
near-dup family a large-scale training-data pipeline needs.

Scale design:
- All hashing is ``xxhash64`` (JVM-side, codegen).  No Python UDFs.
- MinHash signatures are one wide aggregation (num_perm ``min`` columns) over
  exploded shingles: shuffle keyed by doc_id only.
- LSH banding turns O(n²) pair generation into an equi-join on
  (band_id, band_hash) — the classic shuffle-friendly formulation; band
  buckets with pathological fan-out are capped (``max_bucket``) like any
  production LSH to bound skew.
- Verification joins candidate pairs back to shingle sets and computes true
  Jaccard — only on candidates, not all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..execution import broadcast_state, pin, pin_all, pin_keyed, pin_state, pinned, spread

TOKEN_SPLIT_RE = r"\s+"


def _hash64(col: Column, seed: int | None, family: str) -> Column:
    """64-bit-ish hash of a string column under a named hash family.

    - ``xxhash64`` (default everywhere): JVM-side, codegen, cheapest — the
      production/scale choice.
    - ``md5_60``: first 15 hex chars of md5 as a 60-bit non-negative long.
      ~3× the CPU of xxhash64, but computable BIT-IDENTICALLY by any engine
      with md5 (DuckDB: ``CAST(('0x' || substr(md5(s),1,15)) AS BIGINT)``) —
      used when a pipeline must be verified value-for-value against an
      external SQL oracle. Seeding is by suffixing ``:<seed>``.
    """
    if family == "xxhash64":
        return F.xxhash64(col) if seed is None else F.xxhash64(col, F.lit(seed))
    if family != "md5_60":
        raise ValueError(f"unknown hash family {family!r}")
    s = col if seed is None else F.concat_ws(":", col, F.lit(str(seed)))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _band_hash(sig_slice: Column, family: str) -> Column:
    """Hash one signature band (an array<long> slice) to a join key."""
    if family == "xxhash64":
        return F.xxhash64(sig_slice)
    return F.md5(F.concat_ws(",", F.transform(sig_slice, lambda x: x.cast("string"))))


# ---------------------------------------------------------------------------
# exact / keep-last

def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: canonical row id per distinct value of ``cols``.

    NULL inputs are skipped by Spark's hash expressions (the running hash
    is left untouched), so ``xxhash64(a, b)`` would collide ('x', NULL)
    with (NULL, 'x'). Interleaving each column with its null flag keeps
    positional information: the flag always contributes, so a skipped
    column still shifts the hash stream.
    """
    tagged: list = []
    for c in cols:
        tagged.append(F.col(c))
        tagged.append(F.isnull(c))
    key = F.xxhash64(*tagged).alias("dup_key")
    return (
        df.select(key, F.col(id_col))
        .groupBy("dup_key")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def keep_last(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """P7 — one row per key, newest by ``order_col`` wins
    (reference drop_duplicates keep='last', parquet_engine.py:162-164)."""
    w = W.partitionBy(*key_cols).orderBy(F.desc(order_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def keep_last_agg(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Keep-last as a plain AGGREGATION — the hot-key-proof form of
    :func:`keep_last`. ``max(struct(order_cols..., payload...))`` per key:
    partial aggregation combines map-side, so a key holding half the table
    costs one running max per partition instead of a single-task sort
    (the ``Window.partitionBy`` straggler needs no chunking machinery here
    — the aggregate form removes the problem outright). Also MORE
    deterministic than the window form: ties on ``order_cols`` break by
    the remaining payload columns (struct comparison is lexicographic),
    a total order, where ``row_number`` ties depend on partition layout.

    Column order is preserved; rows are whole original rows (the struct
    carries every non-key column)."""
    payload = [c for c in df.columns if c not in key_cols and c not in order_cols]
    m = df.groupBy(*key_cols).agg(
        F.max(F.struct(*order_cols, *payload)).alias("_m")
    )
    return m.select(
        *key_cols, *[F.col(f"_m.{c}").alias(c) for c in order_cols + payload]
    ).select(*df.columns)


# ---------------------------------------------------------------------------
# shingling

def with_shingles(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Add ``shingles``: distinct word k-grams of the whitespace-tokenized,
    lower-cased text. (Callers spread(docs) ONCE before multi-branch use.)"""
    toks = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE)
    grams = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(_toks) - {k - 1}, 0)), "
        f"i -> concat_ws(' ', slice(_toks, i, {k}))))"
    )
    return (
        docs.withColumn("_toks", toks)
        .filter(F.size("_toks") >= k)
        .withColumn("shingles", grams)
        .drop("_toks")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH

#: Universal-hash permutation space: p = 2^31 - 1 (Mersenne prime).  31-bit
#: products fit signed-64 arithmetic in BOTH engines (a*h31 + b < 2^63), so
#: the permutation is exact integer math everywhere — no overflow, no ANSI
#: trap, no HUGEINT needed on the oracle side.
MINHASH_PRIME = 2_147_483_647


def minhash_perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for the ``num_perm`` universal-hash
    permutations ``h_i = (a_i·h31 + b_i) mod p``. Derived from a fixed LCG so
    the oracle SQL (queries_sim.SQL_MINHASH) can inline the IDENTICAL
    literals — cross-engine parity is literal-for-literal, not seed-for-seed.
    """
    state = 0x5EEDC0FFEE
    out = []
    for _ in range(num_perm):
        # MMIX LCG (Knuth) — full 64-bit period, pure int math.
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = state % (MINHASH_PRIME - 1) + 1  # a in [1, p-1]
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % MINHASH_PRIME  # b in [0, p-1]
        out.append((a, b))
    return out


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    k: int = 3,
    hash_family: str = "xxhash64",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signature per document: ``sig`` = array of num_perm minima of
    permuted shingle hashes. One explode + one groupBy(doc).

    Each shingle is hashed ONCE with the base family, then run through
    ``num_perm`` universal-hash permutations ``(a_i·h31 + b_i) mod (2^31-1)``
    (the datasketch formulation).  The alternative — num_perm independent
    seeded string hashes — costs num_perm full hash evaluations per shingle
    row (64 md5/xxhash calls each) and was the slowest line in the scale
    bench; the permuted form is one hash plus 64 codegen'd multiply-add-mods,
    ~4-20× cheaper with the same collision behavior for MinHash purposes.

    Shingling is map CPU ahead of the group-by exchange — a
    coarsely-partitioned input is redistributed first (no-op once the scan
    yields enough splits).
    """

    docs = spread(docs, id_col)
    sh = with_shingles(docs, text_col, k=k).select(id_col, "shingles")
    return _signatures_from_shingles(sh, id_col, num_perm, hash_family)


def _signatures_from_shingles(
    sh: DataFrame, id_col: str, num_perm: int, hash_family: str
) -> DataFrame:
    """Signatures from an already-shingled ``(id, shingles array)`` frame —
    lets the full pipeline tokenize once and reuse the frame for both the
    signature and the verification branches."""
    ex = sh.select(id_col, F.explode("shingles").alias("shingle"))
    # Mask to 31 bits, then mod into [0, p-1]: a bare mask admits h31 == p
    # itself, for which every permutation degenerates to b (a·p+b ≡ b mod p)
    # and the shingle fully collides with h31 == 0. The oracle SQL applies
    # the IDENTICAL mask-then-mod (parity is literal-for-literal).
    h31 = _hash64(F.col("shingle"), None, hash_family).bitwiseAND(F.lit(0x7FFFFFFF)) % F.lit(
        MINHASH_PRIME
    )
    ex = ex.select(id_col, h31.alias("h31"))
    mins = [
        F.min((F.lit(a) * F.col("h31") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_perm_constants(num_perm))
    ]
    sig = ex.groupBy(id_col).agg(*mins)
    return sig.select(id_col, F.array(*[f"h{i}" for i in range(num_perm)]).alias("sig"))


def _banded_sigs(
    signatures: DataFrame, id_col: str, bands: int, rows_per_band: int, hash_family: str
) -> DataFrame:
    """``(id, band_id, band_hash)`` rows — one pass over the signatures
    (explode of a band-struct array). SHARED by the batch and incremental
    pipelines: band compatibility of persisted signature stores depends on
    both sides always hashing bands identically.
    """
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                _band_hash(F.slice("sig", b * rows_per_band + 1, rows_per_band), hash_family).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(F.col(id_col), F.explode(band_structs).alias("bd")).select(
        id_col, F.col("bd.band_id").alias("band_id"), F.col("bd.band_hash").alias("band_hash")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs from banded signatures: docs sharing any band hash.

    ``max_bucket`` drops degenerate buckets (skew guard): a bucket holding B
    docs yields B²/2 pairs; capping B bounds worst-case shuffle volume.

    All bands are emitted from ONE pass over the signatures — a per-band
    union would recompute the upstream signature aggregation once per band.

    The banded frame itself feeds THREE consumers (bucket sizes, join side
    a, join side b): without a pin, lazy evaluation re-runs the upstream
    signature aggregation — the explode + ``num_perm`` mins over the whole
    shingle stream, the dominant CPU of the pipeline — once per consumer
    (measured: 3 Generate subtrees in containment_dedup's physical plan).
    Pinning ``banded`` (narrow ``(id, band_id, band_hash)`` rows, n×bands of
    them) computes signatures once; executor-local disk bounds memory.
    """
    banded = pin(_banded_sigs(signatures, id_col, bands, rows_per_band, hash_family))

    sizes = banded.groupBy("band_id", "band_hash").agg(F.count(F.lit(1)).alias("_n"))
    # The CAPPED frame feeds both self-join sides: without its own pin the
    # bucket-size aggregation + cap join over the pinned rows re-runs once
    # per side (two agg+broadcast subtrees in the physical plan). Same
    # narrow rows minus the capped buckets — pin it too. Singleton buckets
    # (_n = 1, the bulk of an LSH bucket table at constant expected
    # occupancy) can never produce an id_a < id_b pair in a SELF-join, so
    # they are dropped before the pin: less pinned I/O and smaller join
    # sides, same pair set. (Bipartite cap sites must NOT do this — a
    # singleton train bucket still matches test rows.)
    banded = pin(
        banded.join(
            sizes.filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket)),
            ["band_id", "band_hash"],
        ).drop("_n")
    )

    a = banded.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → candidate
    join → verify true Jaccard ≥ threshold on candidates only.

    The shingled frame is materialized ONCE (``localCheckpoint``) and feeds
    all three consumers (signature aggregation, verify side a, verify side b)
    — without it, lazy evaluation re-tokenizes the whole corpus three times,
    and tokenization (regex split + k-gram assembly) is the dominant CPU of
    the pipeline. At cluster scale this is the standard "persist the shingle
    table between stages" design; executor-local disk bounds memory."""

    docs = spread(docs, id_col)
    rows_per_band = num_perm // bands
    sh_base = pin(
        with_shingles(docs, text_col, k).select(F.col(id_col), F.col("shingles"))
    )
    sigs = _signatures_from_shingles(sh_base, id_col, num_perm, hash_family)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band, hash_family=hash_family)
    sh = sh_base.select(
        F.col(id_col), F.col("shingles"), F.size("shingles").alias("n_sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"), F.col("n_sh").alias("n_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"), F.col("n_sh").alias("n_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return (
        joined.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Asymmetric near-dup detection: shingle-set CONTAINMENT
    |A∩B| / min(|A|, |B|) ≥ threshold — catches a short document that is
    mostly a quote/excerpt of a longer one, which symmetric Jaccard
    misses (a 50-shingle doc fully inside a 1000-shingle doc has
    containment 1.0 but Jaccard 0.05).

    Candidates come from the SAME MinHash-LSH banding as
    :func:`minhash_near_duplicates` (one shingle table, pinned once, feeds
    signature + both verify sides); only the verify formula differs.
    Caveat, stated not hidden: Jaccard-tuned LSH under-recalls pairs with
    HIGH containment but LOW Jaccard (very different sizes rarely
    collide in a band). For an exhaustive containment search, partition
    the corpus by size band and run per-band — this operator is the
    single-pass screen for comparably-sized excerpts.
    """

    docs = spread(docs, id_col)
    rows_per_band = num_perm // bands
    sh_base = pin(
        with_shingles(docs, text_col, k).select(F.col(id_col), F.col("shingles"))
    )
    sigs = _signatures_from_shingles(sh_base, id_col, num_perm, hash_family)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band, hash_family=hash_family)
    sh = sh_base.select(
        F.col(id_col), F.col("shingles"), F.size("shingles").alias("n_sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"), F.col("n_sh").alias("n_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"), F.col("n_sh").alias("n_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    cont = inter.cast("double") / F.least("n_a", "n_b")
    return (
        joined.select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def estimated_jaccard(sig_a: Column, sig_b: Column, num_perm: int) -> Column:
    """MinHash Jaccard estimate: fraction of equal signature components.
    Exact integer count / constant — bit-stable across engines."""
    eq = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return eq.cast("double") / F.lit(num_perm)


def minhash_incremental_pairs(
    new_docs: DataFrame,
    known_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup: score a NEW batch against an existing signature
    store without touching the old corpus text — the production shape of
    dedup at 100 TB ("dedup today's crawl against everything ingested so
    far"). Only the new batch is shingled; the store contributes
    ``(id, sig)`` rows (persist it as a small parquet table next to the
    lake, like the file manifest).

    Returns ``(pairs, updated_store)``:

    - ``pairs``: ``(id_a, id_b, jaccard_est)`` with MinHash-ESTIMATED
      Jaccard ≥ threshold, where at least one side is from the new batch
      (new×new and new×old; old×old pairs were reported when THEIR batch
      arrived). Estimation (fraction of equal signature components) is used
      because the store keeps signatures, not shingle sets — the standard
      accuracy/state trade; with 64 permutations the estimate's std-err is
      ≈ √(j(1-j)/64) ≤ 0.0625.
    - ``updated_store``: the union store to persist for the next batch.

    Candidate generation is the same banded equi-join as the batch pipeline
    (shared ``_banded_sigs`` helper — the store's band compatibility must
    never drift from the batch path), restricted so the a-side is new docs
    only: per-batch cost is driven by the new batch's band buckets, not the
    store size. The bucket-size skew cap counts the WHOLE bucket (store +
    batch), so a pathological bucket is capped identically to a full rerun.

    Ids present in BOTH the batch and the store (a retried batch, a
    re-crawled document) take the batch's signature: the store copy is
    anti-joined away before the union, so retries are idempotent — the
    store never accumulates duplicate rows and pairs are emitted once.
    """

    k = 3  # shingle length — must match minhash_signatures' default below
    new_docs = spread(new_docs, id_col)
    sigs_new_plan = minhash_signatures(
        new_docs, id_col, num_perm, k=k, hash_family=hash_family, text_col=text_col
    )
    # The two corpus passes here — signing the NEW batch, and the store
    # anti-join (which evaluates the whole known_sigs plan when the store
    # is live) — used to be two SEQUENTIAL pin jobs, the second consuming
    # the first: the anti-join keyed on sigs_new's ids. But the id set of
    # sigs_new is just "new docs with >= k tokens" (with_shingles' filter),
    # derivable without any shingling/hashing — so key the anti-join on
    # that cheap filter instead, which makes the two pins INDEPENDENT and
    # lets pin_all overlap their jobs (the small new-side
    # pass back-fills the store pass's straggler tail). all_sigs then needs
    # no pin of its own: it is a lazy UNION of two pinned frames, so each
    # of its five consumers (bucket sizes, b-side, both verify sides, the
    # returned store) re-runs only a map-side concat of materialized
    # blocks, never the store computation (the ADVICE r4 protection the old
    # all_sigs pin provided, now without its pin job). Measured at sf0.1:
    # entry build+exec median 6.5 -> 5.8 s, pairs and store row-identical.
    new_ids = with_shingles(new_docs, text_col, k).select(id_col)
    store_leg_plan = known_sigs.select(id_col, "sig").join(
        new_ids, id_col, "left_anti"
    )
    sigs_new, store_leg = pin_all(sigs_new_plan, store_leg_plan)
    all_sigs = store_leg.unionByName(sigs_new.select(id_col, "sig"))
    rows_per_band = num_perm // bands
    # NOT pinned (measured): the band explode and the bucket-size agg are
    # exchange-terminated on (band_id, band_hash), so runtime ReuseExchange
    # already dedups them across consumers — interleaved A/B at sf0.1 put
    # pins here at 1.03x (16.2 s vs 15.7 s), pure pin-job overhead.
    all_banded = _banded_sigs(all_sigs, id_col, bands, rows_per_band, hash_family)
    sizes = all_banded.groupBy("band_id", "band_hash").agg(F.count(F.lit(1)).alias("_n"))
    ok_buckets = sizes.filter(F.col("_n") <= max_bucket).select("band_id", "band_hash")
    a = (
        _banded_sigs(sigs_new, id_col, bands, rows_per_band, hash_family)
        .join(ok_buckets, ["band_id", "band_hash"])
        .select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
    )
    b = all_banded.join(ok_buckets, ["band_id", "band_hash"]).select(
        F.col(id_col).alias("id_b"), "band_id", "band_hash"
    )
    # a-side is new-only; order pairs (min, max) so a new×old pair keyed
    # either way and a new×new pair found from both sides dedupe to one row.
    cands = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    sa = all_sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = all_sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            estimated_jaccard(F.col("sig_a"), F.col("sig_b"), num_perm).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= threshold)
    )
    return pairs, all_sigs


# ---------------------------------------------------------------------------
# SimHash

def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash per document: per-token hash bits vote ±1; the sign of each
    bit-position sum forms the fingerprint. Wide aggregation, all JVM.
    (``md5_60`` family yields a 60-bit hash — pass bits=60 with it.)"""

    docs = spread(docs, id_col)
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE)).alias("tok"),
    ).withColumn("h", _hash64(F.col("tok"), None, hash_family))
    votes = [
        F.sum(
            (F.shiftright("h", i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else F.when(
            F.col(f"b{i}") > 0, F.lit(-(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return agg.select(id_col, fp.alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dups by Hamming distance ≤ max_hamming, blocked on bits/chunks-bit
    chunks (pigeonhole: distance ≤ 3 ⇒ at least one of 4 chunks identical)."""
    fps = simhash(docs, id_col, bits=bits, hash_family=hash_family)
    width = bits // chunks
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.shiftrightunsigned("simhash", c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk_val"),
            )
            for c in range(chunks)
        ]
    )
    # one pass (explode), not a per-chunk union that recomputes the simhash agg
    # `blocked` is BOTH sides of the chunk self-join: unpinned, the corpus
    # tokenize + per-bit vote aggregation behind the fingerprints ran twice
    # (4 scans in simhash_near_dup's physical plan). The pin is n_docs ×
    # chunks narrow rows — bounded, vs a full corpus pass per consumer.
    blocked = pin(
        fps.select(F.col(id_col), F.col("simhash"), F.explode(chunk_structs).alias("ck")).select(
            id_col, "simhash", F.col("ck.chunk_id").alias("chunk_id"), F.col("ck.chunk_val").alias("chunk_val")
        )
    )
    a = blocked.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"), "chunk_id", "chunk_val")
    b = blocked.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"), "chunk_id", "chunk_val")
    cand = (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index formulation — no LSH approximation)

def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.4,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold via inverted-index
    self-join on shingles. ``max_df`` drops shingles appearing in more than
    that many docs (stopword-shingle skew guard for web-scale corpora)."""

    docs = spread(docs, id_col)
    # Join on the 64-bit shingle hash, not the string: ~3× less shuffle and a
    # long-keyed hash join. xxhash64 collisions (~n²/2⁶⁴) are negligible
    # against shingle-count semantics.
    sh = with_shingles(docs, text_col, k).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    ).select(id_col, F.xxhash64("shingle").alias("shingle"))
    # Three consumers below (doc sizes, join side a, join side b) — pin the
    # 16-byte/row hashed-posting table once instead of re-running the regex
    # tokenizer + k-gram assembly three times over the corpus.
    sh = pin(sh)
    if max_df is not None:
        # Broadcast the SMALL side: the high-df (stopword) shingle set is
        # bounded by total_postings / max_df rows, while the surviving-df
        # table grows with corpus vocabulary (a broadcast OOM at 100 TB).
        # Dropping df > max_df via left_anti ≡ keeping df <= max_df.
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        stop = dfreq.filter(F.col("_df") > max_df).select("shingle")
        sh = sh.join(F.broadcast(stop), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("shared").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# connected-components clustering over near-dup pairs

def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Group transitive near-duplicate pairs into clusters: the dedup
    endgame (A~B and B~C ⇒ one cluster {A,B,C}; keep one canonical doc).

    Input: (id_a, id_b) pair rows from any pair generator
    (minhash/simhash/ngram/embedding). Output: (doc_id, cluster_id) for
    every id appearing in a pair, cluster_id = the smallest id reachable —
    the canonical document.

    Algorithm: iterative min-label propagation (the dataflow form of
    connected components): each round every node takes the min of its own
    and its neighbors' labels; converges in O(cluster diameter) rounds —
    near-dup clusters are shallow (cliques/stars from a shared source), so
    2-4 rounds in practice, hard-capped at ``max_iters``. Per round: one
    join + one groupBy on the edge list. The edge list is pinned via
    :func:`~marketpipe_spark.execution.pin_keyed` (mode-dependent: lazy localCheckpoint by default,
    ``dst``-co-partitioned DISK_ONLY persist under ``MP_PIN_MODE=persist``,
    reliable ``df.checkpoint()`` under ``reliable``); per-round labels are
    lineage-truncated with an eager ``pin_state`` so plans don't nest
    across iterations.
    """
    with pinned() as pins:
        edges = pin_keyed(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
            .distinct(),
            "dst",
            scope=pins,
        )
        labels = edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
        n = labels.count()
        for _ in range(max_iters):
            neighbor_min = (
                edges.join(broadcast_state(labels, n), edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("label").alias("nlabel"))
            )
            # The convergence check rides INSIDE the state pin: `chg` marks
            # rows whose label improved this round (labels are non-null and
            # only ever decrease, so `nlabel < label` IS the old
            # consecutive-frames compare `new != old`). The count is then a
            # map-only scan of the just-materialized pin blocks instead of a
            # second shuffle join of consecutive label frames every round.
            nxt = pin_state(
                labels.join(broadcast_state(neighbor_min, n), labels.id == neighbor_min.src, "left_outer")
                .select(
                    "id",
                    F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
                    (F.coalesce("nlabel", F.col("label")) < F.col("label")).alias("chg"),
                )
            )
            changed = nxt.filter("chg").count()
            labels = nxt.drop("chg")
            if changed == 0:
                break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# embedding cosine near-dup

def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int | None = None,
    n_rows: int | None = None,
    max_exact_rows: int = 2_000_000,
    on_exceed: str = "error",
) -> DataFrame:
    """All pairs with cosine ≥ threshold — exact, fully distributed.

    Block-pair formulation (the distributed all-pairs join): every vector is
    hashed into one of ``n_blocks`` blocks; each unordered block pair (i ≤ j)
    becomes one task that BLAS-matmuls block i against block j. Nothing is
    collected to the driver and no corpus-sized operand ships in a closure —
    shuffle volume is n_rows × n_blocks and compute is the unavoidable
    O(n²/2) dots spread over n_blocks·(n_blocks+1)/2 tasks. Growing
    ``n_blocks`` with the corpus keeps per-task memory flat, so the same plan
    runs on a 1000-executor cluster; for corpora where O(n²) itself is the
    binding constraint the sub-quadratic paths are
    :func:`minhash_near_duplicates` / :func:`simhash_near_duplicates` /
    :func:`embedding_near_duplicates_lsh`.

    **Scale guard** (mirrors ``similarity.cosine_topk``'s fail-over): the
    compute is quadratic BY DESIGN, so above ``max_exact_rows`` (checked from
    ``n_rows`` footer metadata / catalog stats — zero jobs) the call refuses
    to launch an accidental 100 TB all-pairs. ``on_exceed`` picks the policy:

    - ``"error"`` (default): raise, naming the sub-quadratic alternatives.
    - ``"lsh"``: fail over to :func:`embedding_near_duplicates_lsh` —
      hyperplane-bucketed candidates + the SAME exact rescore (reported
      pairs keep bit-exact cosines; pairs colliding in no table can be
      missed — recall<1, precision=1).
    - ``"exact"``: explicit opt-in to the quadratic plan.

    Two phases for oracle-bit parity:

    1. Candidate generation (above) emits pairs at threshold − 1e−9 — the
       margin covers BLAS-vs-fold summation-order wobble (~1e−15 relative).
    2. Exact sequential-fold rescore of candidates only — output values are
       bit-identical to the DuckDB oracle's ``list_dot_product``.
    """
    import math

    import numpy as np
    import pandas as pd

    from .similarity import exact_pair_cosine

    cut = threshold - 1e-9
    # The guard and the adaptive block count share one row-count estimate.
    # It should come from the caller's catalog stats / parquet footer
    # metadata (``n_rows`` — zero Spark jobs, see plans.parquet_num_rows);
    # ``count()`` is the fallback ONLY, since at 100 TB it is a full extra
    # pass over the table (VERDICT r3 item 5).
    n = emb.count() if n_rows is None else n_rows
    if n > max_exact_rows and on_exceed != "exact":
        if on_exceed == "lsh":
            return embedding_near_duplicates_lsh(
                emb, id_col=id_col, vec_col=vec_col, threshold=threshold, n_rows=n
            )
        raise ValueError(
            f"embedding_near_duplicates: {n} rows exceeds max_exact_rows="
            f"{max_exact_rows} and the plan is O(n²) by construction. Use "
            "on_exceed='lsh' (hyperplane-bucketed candidates, exact rescore), "
            "minhash_near_duplicates / simhash_near_duplicates for text, or "
            "opt in explicitly with on_exceed='exact'."
        )
    if n_blocks is None:
        # Adaptive block count ≈ √n/8 (block size ≈ 8√n rows): per-task
        # operand memory grows only as √n (≈4 MB of float64 at n=10⁸, d=64)
        # while the O(n²) total work spreads over nb(nb+1)/2 tasks.
        n_blocks = max(1, min(1024, math.ceil(math.sqrt(max(n, 1)) / 8)))
    nb = n_blocks

    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).alias("_b"),
    )
    # Fan each vector out to its nb block-pairs: pair (min(b,o), max(b,o)),
    # carrying which side of the pair this row is. The same-block pair (b,b)
    # is emitted once as side 0.
    assigns = F.expr(
        f"transform(sequence(0, {nb - 1}), o -> struct("
        f"CASE WHEN _b <= o THEN _b * {nb} + o ELSE o * {nb} + _b END AS pair_id, "
        f"CASE WHEN _b <= o THEN 0 ELSE 1 END AS side))"
    )
    fanned = v.select("id", "v", F.explode(assigns).alias("a")).select(
        "id", "v", F.col("a.pair_id").alias("pair_id"), F.col("a.side").alias("side")
    )

    def block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        side = pdf["side"].to_numpy()
        a = pdf[side == 0]
        b = pdf[side == 1]
        a_ids = a["id"].to_numpy()
        if len(a_ids) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        # Same-block vs cross-block must come from the PAIR ID, not from
        # "no side-1 rows": a cross-block pair whose partner block happens
        # to be empty would otherwise recompute this block's intra-block
        # triangle, duplicating those pairs once per empty partner.
        pair_id = int(pdf["pair_id"].iloc[0])
        is_diag = (pair_id // nb) == (pair_id % nb)
        if len(b) == 0 and not is_diag:  # cross-block with an empty partner
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        am = np.stack(a["v"].to_numpy())
        am = am / np.linalg.norm(am, axis=1, keepdims=True)
        if is_diag:  # same-block pair: upper triangle of A·Aᵀ
            sims = am @ am.T
            ii, jj = np.nonzero((sims >= cut) & (a_ids[:, None] < a_ids[None, :]))
            return pd.DataFrame({"id_a": a_ids[ii], "id_b": a_ids[jj]})
        b_ids = b["id"].to_numpy()
        bm = np.stack(b["v"].to_numpy())
        bm = bm / np.linalg.norm(bm, axis=1, keepdims=True)
        sims = am @ bm.T
        ii, jj = np.nonzero(sims >= cut)
        x, y = a_ids[ii], b_ids[jj]
        return pd.DataFrame({"id_a": np.minimum(x, y), "id_b": np.maximum(x, y)})

    cands = fanned.groupBy("pair_id").applyInPandas(block_pair, "id_a long, id_b long")
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("qv"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("nv"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", exact_pair_cosine().alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def auto_plane_count(n: int, lo: int = 8, hi: int = 30) -> int:
    """Hyperplane count keeping expected LSH bucket occupancy ~constant as
    the corpus grows: the smallest p with 2^p ≥ ⌈n/2⌉, clamped to
    [``lo``, ``hi``] — i.e. ceil(log2(n/2)) computed with integer
    arithmetic only. Integer math (``bit_length``) rather than
    ``ceil(log2(...))`` so an external SQL oracle can reproduce the same
    count without cross-libm float edge cases (the same reason dedup's
    hashes are integer-exact)."""
    nh = max(1, (max(n, 0) + 1) // 2)
    return min(hi, max(lo, (nh - 1).bit_length()))


def embedding_near_duplicates_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_tables: int = 16,
    max_bucket: int = 10_000,
    plane_family: str = "pcg64",
    n_rows: int | None = None,
) -> DataFrame:
    """Sub-quadratic embedding near-dup: hyperplane-LSH candidate buckets +
    exact rescore — the scale path :func:`embedding_near_duplicates` fails
    over to above its ``max_exact_rows`` guard.

    Candidates are pairs colliding in ≥1 of ``n_tables`` sign-bucket tables
    (``similarity.hyperplane_buckets`` — one map-only vectorized pass, no
    per-dimension explode); reported cosines come from the SAME sequential-
    fold rescore as the exact path, so precision is 1 and values are
    bit-identical — only recall is approximate. Per-table collision
    probability for angle θ is (1 − θ/π)^n_planes; at threshold 0.95
    (θ ≈ 18°) the 16-table OR reaches ≈ 0.997 recall. ``max_bucket`` drops
    degenerate buckets (B² pair blowup), the standard LSH skew cap.

    ``plane_family="md5"`` swaps the plane matrix for the md5-derived one
    (similarity.md5_plane_matrix) with ordered-in-d fold projections, making
    the WHOLE pipeline — buckets, candidates, rescore — reproducible
    value-for-value in external SQL (the lsh_topk oracle precedent).
    Production default stays ``pcg64`` + BLAS.

    **Plane count must grow with the corpus**: at fixed ``n_planes`` the
    per-bucket occupancy grows like n/2^n_planes, so candidate pairs grow
    ~quadratically (the r5 scale sweep measured ×13.8 time per ×4 rows at a
    pinned 12 planes). The default ``n_planes=None`` auto-tunes via
    :func:`auto_plane_count` — smallest p with 2^p ≥ ⌈n/2⌉, clamped to
    [8, 30] (integer-exact ceil(log2(n/2)); no libm, so any engine agrees
    on the count) — constant expected bucket occupancy, so candidate
    volume stays ~linear in n. ``n_rows`` supplies n from parquet footer
    metadata / catalog stats (zero jobs; plans.parquet_num_rows); without
    it a ``count()`` runs — fine interactively, an extra full pass at
    100 TB. Pin ``n_planes`` explicitly only when an external oracle must
    reproduce the buckets with a fixed count.
    """
    from .similarity import exact_pair_cosine, hyperplane_buckets

    if n_planes is None:
        n = emb.count() if n_rows is None else n_rows
        n_planes = auto_plane_count(n)
    # The bucket table feeds four consumers (skew-cap sizes, join sides a
    # and b — the size filter lands on both); without a pin the Arrow
    # mapInPandas projection pass over the WHOLE corpus re-runs once per
    # consumer (measured: 4 MapInPandas nodes, each above its own scan of
    # the input, in embedding_near_dup_lsh's physical plan). Pinning the
    # narrow (id, table_id, bucket) rows computes the projection once.
    bk = pin(
        hyperplane_buckets(
            emb, n_planes, id_col, vec_col, n_tables=n_tables, plane_family=plane_family
        )
    )
    sizes = bk.groupBy("table_id", "bucket").agg(F.count(F.lit(1)).alias("_n"))
    # The CAPPED bucket table feeds both self-join sides: without its own
    # pin the size agg + cap join over the pinned rows re-runs once per
    # side (two agg+broadcast subtrees in the physical plan). Pin it too.
    # Singleton buckets can never produce a self-join pair — drop them
    # before the pin (same pair set, less pinned I/O; see
    # lsh_candidate_pairs).
    bk = pin(
        bk.join(
            sizes.filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket)),
            ["table_id", "bucket"],
        ).drop("_n")
    )
    a = bk.select(F.col(id_col).alias("id_a"), "table_id", "bucket")
    b = bk.select(F.col(id_col).alias("id_b"), "table_id", "bucket")
    cands = (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("qv"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("nv"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", exact_pair_cosine().alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# SymSpell-style edit-distance-1 token pairs

def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every ``k``-token gram, slide a
    ``window``-gram window, and select each window's minimum hash with
    ties broken to the RIGHTMOST position. Winnowing guarantees any match
    of ``window + k - 1`` tokens or longer shares a selected fingerprint,
    at ~2/(window+1) sampling density — position-robust partial-overlap
    detection that whole-document hashing (``fingerprint``) cannot give.

    Variant note: windows slide from the first gram (prefix windows are
    allowed), so documents shorter than ``window`` grams still emit ≥ 1
    fingerprint; classic winnowing's full-window selections are a subset
    of ours, so the match guarantee is preserved.

    Returns one row per selected fingerprint ``(id, pos, gram_hash)``
    (pos = 1-based gram position). Join on ``gram_hash`` to find
    cross-document overlaps; ``duplicated_spans`` is the dense-span
    counterpart that keeps EVERY gram.

    Scale shape (100 TB): gram build is a map-only array-slice pass (no
    per-token explode before hashing — grams inflate rows ~n_tokens×,
    which is the operator's inherent output size); selection is ONE
    per-document window (rightmost-min via an ordered struct-min frame —
    lexicographic struct comparison, identical in external SQL engines)
    over a shuffle keyed by the unique doc id; the final dedup of selected
    positions is map-side combinable. ``hash_family="md5_60"`` makes every
    fingerprint value engine-portable for oracle verification; production
    default stays xxhash64 (JVM codegen).
    """
    from pyspark.sql.window import Window as W

    # Gram build + hashing is map CPU ahead of the per-doc window — spread
    # a coarsely-partitioned input first (measured: single-task stages at
    # sf0.1; no-op at scale). Window/min selection is per-document, so
    # partitioning cannot change the selected fingerprints.
    df = spread(df, id_col)
    t = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE)
    grams = (
        df.select(F.col(id_col), t.alias("t"))
        .filter(F.size("t") >= k)
        .select(
            id_col,
            F.explode(
                F.expr(f"sequence(1, size(t) - {k - 1})")
            ).alias("pos"),
            F.col("t"),
        )
        .select(
            id_col,
            "pos",
            _hash64(
                F.array_join(F.slice(F.col("t"), F.col("pos"), k), " "), None, hash_family
            ).alias("h"),
        )
    )
    wf = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(window - 1), W.currentRow)
    )
    sel = grams.select(
        id_col,
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("negpos"))).over(wf).alias("m"),
    )
    return sel.select(
        id_col,
        (-F.col("m.negpos")).cast("long").alias("pos"),
        F.col("m.h").alias("gram_hash"),
    ).distinct()


def edit1_token_pairs(
    tokens: DataFrame, col: str = "tok", min_len: int = 4, max_dist: int = 1
) -> DataFrame:
    """All distinct token pairs within Levenshtein distance ``max_dist``
    (1 or 2), WITHOUT a cross join: SymSpell's deletion-neighborhood
    blocking (max_dist=2 is SymSpell's canonical default).

    Every token emits its delete-variants up to ``max_dist`` deletions plus
    itself; two tokens within that distance share a variant, so an equi-join
    on the variant key finds the candidates and ``levenshtein`` verifies
    exactly. Work is O(n_tokens * avg_len^max_dist) variant rows through one
    shuffle — vs O(n²) for the naive pairwise scan — which is what makes
    typo-clustering a vocabulary-scale (not corpus-scale) job at 100 TB.
    ``min_len`` skips short tokens whose variant buckets degenerate into
    hot keys (every 2-char token shares 1-char variants).

    Deterministic and engine-portable: the same transform/substr formula
    runs in DuckDB SQL (see queries_docs.token_edit_pairs).
    """
    if max_dist not in (1, 2):
        raise ValueError("max_dist must be 1 or 2")
    tk = tokens.select(F.col(col).alias("tok")).filter(F.length("tok") >= min_len).distinct()

    def dels_of(c):
        return F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: F.concat(c.substr(F.lit(1), i - 1), c.substr(i + 1, F.length(c))),
        )

    variants = F.array_union(dels_of(F.col("tok")), F.array(F.col("tok")))
    if max_dist == 2:
        d2 = F.array_distinct(F.flatten(F.transform(dels_of(F.col("tok")), dels_of)))
        variants = F.array_union(variants, d2)
    # `vr` is BOTH sides of the candidate self-join: unpinned, the corpus
    # tokenize + variant explode + distinct ran twice (4 scans in
    # token_edit_pairs' physical plan). The pin is vocabulary-scale
    # (distinct tokens × delete-variants), bounded regardless of corpus.
    vr = pin(tk.select("tok", F.explode(variants).alias("var")).distinct())
    a = vr.alias("a")
    b = vr.alias("b")
    cand = (
        a.join(b, (F.col("a.var") == F.col("b.var")) & (F.col("a.tok") < F.col("b.tok")))
        .select(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .distinct()
    )
    # NOT threshold-lev (measured): tokens are short (~5-10 chars) and the
    # deletion-variant candidates are already near — the banded-DP early
    # exit has nothing to prune and its overhead measured 0.81 s warm vs
    # 0.54 s plain on this entry. The threshold form only pays off on long
    # strings where most candidate pairs are far (blocked_similarity_pairs).
    dist = F.levenshtein("tok_a", "tok_b")
    return cand.filter(dist <= max_dist).select(
        "tok_a", "tok_b", dist.cast("long").alias("dist")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (cluster, then prune within cluster)

def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 16,
    refine_iters: int = 3,
    max_cell: int = 100_000,
) -> DataFrame:
    """Semantic dedup over an embedding column (the SemDeDup recipe,
    Abbas et al. 2023): k-means-cluster the embedding space, then within
    each cluster drop every vector that has a smaller-id neighbor with
    cosine ≥ ``threshold``. Returns one row per vector:
    ``(id, cell_id, keep)``.

    Distinct from :func:`embedding_near_duplicates` (exact all-pairs) and
    :func:`embedding_near_duplicates_lsh` (bucketed candidates): here the
    blocking is LEARNED — near-identical vectors cluster together, so the
    quadratic term is confined to one cluster, and the keep decision is the
    dedup policy itself (first occurrence by id survives), not a pair list.

    Scale shape (100 TB): the coarse quantizer is
    :func:`similarity.kmeans_centroids` (deterministic, distributed,
    only centroid matrices move); assignment is one map-only vectorized
    pass; the prune is ``applyInPandas`` per cell — one shuffle keyed by
    cell_id. Size ``n_cells`` ≈ corpus_rows / target_cell_rows so each
    cell's O(|cell|²) sim matrix fits a task (~10⁴ rows/cell ⇒ 800 MB of
    float64 sims at the default cap); a cell larger than ``max_cell``
    fails fast inside its task rather than OOMing.

    Determinism: assignment depends only on vector values (identical
    vectors land in the same cell under any partitioning); the drop rule is
    evaluated against the id-sorted in-cell sim matrix, a total order.
    Cosines here come from BLAS matmul (≈1e-15 reordering wobble vs the
    sequential fold) — callers pinning a knife-edge threshold should
    rescore pairs with ``similarity.exact_pair_cosine``.
    """
    import numpy as np
    import pandas as pd

    from .similarity import kmeans_centroids

    c_mat = kmeans_centroids(emb, n_cells, refine_iters, id_col, vec_col)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy())
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            cells = np.argmax(mat @ c_mat.T, axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "cell_id": cells.astype("int64"), "v": pdf["v"]}
            )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_cell:
            raise ValueError(
                f"semantic_dedup: cell {int(pdf['cell_id'].iloc[0])} holds "
                f"{len(pdf)} vectors (> max_cell={max_cell}); raise n_cells "
                "so the per-cell sim matrix stays task-sized."
            )
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.stack(pdf["v"].to_numpy())[order]
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        drop = np.tril(sims >= threshold, k=-1).any(axis=1)
        return pd.DataFrame(
            {"id": ids, "cell_id": pdf["cell_id"].iloc[0], "keep": ~drop}
        )

    v = spread(emb, id_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    assigned = v.mapInPandas(assign, "id long, cell_id long, v array<double>")
    out = assigned.groupBy("cell_id").applyInPandas(prune, "id long, cell_id long, keep boolean")
    return out.select(F.col("id").alias(id_col), "cell_id", "keep")


def fuzzy_contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """BIPARTITE near-duplicate contamination: test-corpus documents whose
    shingle sets are Jaccard-similar to some train document — the paraphrase
    / light-edit leakage that exact n-gram overlap
    (:func:`..textclean.ngram_contamination`) and exact fingerprints
    (``contamination_check``) both miss.

    Same MinHash-LSH machinery as :func:`minhash_near_duplicates` (shared
    ``_signatures_from_shingles`` / ``_banded_sigs`` — band compatibility
    never drifts), but the candidate join is test-bands × train-bands
    instead of a self-join: per-run cost is driven by the test side's band
    buckets (benchmark suites are tiny against a multi-TB train corpus),
    with the skew cap applied to the TRAIN side — the side whose buckets
    grow with the corpus. Candidates are verified with EXACT Jaccard on the
    shingle sets, so reported pairs carry true similarity, not an estimate.

    Returns ``(test_id, train_id, jaccard)`` with ``jaccard >= threshold``.
    """

    rows_per_band = num_perm // bands
    # The two shingle pins are independent (train side vs test side):
    # overlap their AQE-finalization jobs so the test side's (small) pass
    # back-fills the train pass's straggler tail (guide §2.6).
    sh_tr, sh_te = pin_all(
        with_shingles(spread(train, id_col), text_col, k).select(F.col(id_col), F.col("shingles")),
        with_shingles(spread(test, id_col), text_col, k).select(F.col(id_col), F.col("shingles")),
    )
    sig_tr = _signatures_from_shingles(sh_tr, id_col, num_perm, hash_family)
    sig_te = _signatures_from_shingles(sh_te, id_col, num_perm, hash_family)
    # btr feeds two consumers (skew-cap sizes + the bipartite join); pin it
    # so the train-side signature aggregation — the corpus-scale explode +
    # num_perm mins — runs once, not once per consumer (the
    # lsh_candidate_pairs precedent). bte has a single consumer: no pin.
    btr = pin(_banded_sigs(sig_tr, id_col, bands, rows_per_band, hash_family))
    bte = _banded_sigs(sig_te, id_col, bands, rows_per_band, hash_family)
    sizes = btr.groupBy("band_id", "band_hash").agg(F.count(F.lit(1)).alias("_n"))
    btr = btr.join(sizes.filter(F.col("_n") <= max_bucket), ["band_id", "band_hash"]).drop("_n")
    cand = (
        bte.select(F.col(id_col).alias("test_id"), "band_id", "band_hash")
        .join(btr.select(F.col(id_col).alias("train_id"), "band_id", "band_hash"),
              ["band_id", "band_hash"])
        .select("test_id", "train_id")
        .distinct()
    )
    a = sh_te.select(
        F.col(id_col).alias("test_id"), F.col("shingles").alias("sh_a"),
        F.size("shingles").alias("n_a"),
    )
    b = sh_tr.select(
        F.col(id_col).alias("train_id"), F.col("shingles").alias("sh_b"),
        F.size("shingles").alias("n_b"),
    )
    joined = cand.join(a, "test_id").join(b, "train_id")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return joined.select("test_id", "train_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def setsim_join_exact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold_ppm: int = 600_000,
    family: str = "xxhash64",
) -> DataFrame:
    """EXACT all-pairs shingle-set Jaccard >= t via prefix filtering (the
    PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08): recall 1
    like :func:`ngram_jaccard_pairs` with ``max_df=None``, but the
    candidate self-join touches only each document's PREFIX — its
    ``n - floor(t*n) + 1`` globally-rarest shingles — instead of every
    posting. Any pair with Jaccard >= t must share a prefix shingle under
    one global shingle order (rarity-ascending here, which also keeps the
    hottest stopword shingles out of small documents' prefixes), so unlike
    the ``max_df`` stopword cap this prunes WITHOUT changing semantics.

    The threshold is integer ppm and every pruning/acceptance comparison is
    integer arithmetic (``shared * 1e6 >= t_ppm * union``); a float
    ``t * n`` could round across an integer boundary and silently shrink a
    prefix below the safe length. The reported ``jac`` double is a single
    IEEE division (cross-engine deterministic).

    Shuffles: postings build (doc), document frequency (shingle), per-doc
    rank window (doc), prefix candidate join (shingle), verify join
    (candidate pair) — all keyed by high-cardinality values. At 100 TB the
    verify stage is output-bound (it scans only candidate pairs' postings),
    and candidate volume is bounded by prefix postings², per shingle, on
    the rarest shingles — the PPJoin contract.
    """
    from pyspark.sql.window import Window as W

    docs = spread(docs, id_col)
    sh = (
        with_shingles(docs, text_col, k)
        .select(F.col(id_col), F.explode("shingles").alias("shingle"))
        .select(id_col, _hash64(F.col("shingle"), None, family).alias("h"))
    )
    sh = pin(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n"))
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("_df"))
    rk = F.row_number().over(W.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("h").asc()))
    ranked = sh.join(dfreq, "h").withColumn("rk", rk).join(sizes, id_col)
    prefix_len = F.col("n") - F.floor(F.lit(threshold_ppm) * F.col("n") / F.lit(1_000_000)).cast("long") + F.lit(1)
    # NOT pinned (measured): both self-join sides canonicalize to the same
    # exchange-terminated subtree over the pinned ``sh`` postings, which
    # runtime ReuseExchange dedups — an interleaved A/B at sf0.1 put a pin
    # here at 1.21x (12.6 s vs 10.4 s): materializing the prefix postings
    # costs more than the deduped recompute saves.
    prefix = ranked.filter(F.col("rk") <= prefix_len).select(id_col, "h", "n", "rk")
    a = prefix.select(
        F.col(id_col).alias("id_a"), "h", F.col("n").alias("n_a"), F.col("rk").alias("rk_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "h", F.col("n").alias("n_b"), F.col("rk").alias("rk_b")
    )
    # PPJoin positional filter (Xiao et al. WWW'08 §3.2), aggregated form.
    # The per-pair aggregation replaces the former ``.distinct()`` — same
    # shuffle (keyed by pair), two extra min columns — and prunes pairs
    # whose Jaccard provably cannot reach t, which at sf0.1 drops 2/3 of
    # the candidates BEFORE the verify join (201k -> 69k pairs), the
    # pipeline's dominant stage. Soundness of the aggregated bound: rk is
    # the same global (_df, h) total order in every document, so shared
    # tokens appear in the same relative order in both lists; the
    # minimum-rank token shared by both PREFIXES is therefore the
    # minimum-rank shared token overall (any earlier shared token would
    # precede it inside both prefixes too), and min(rk_a)/min(rk_b) refer
    # to that one token. Every other shared token sits strictly after it
    # in both lists, so overlap <= 1 + min(n_a - rk_a, n_b - rk_b).
    # Threshold: Jaccard >= t  <=>  overlap*(1e6 + t_ppm) >= t_ppm*(n_a+n_b)
    # — kept in integers (no float ceil) like every other comparison here.
    cand = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        # PPJoin length filter, integer-exact: t*max(n_a,n_b) <= min(n_a,n_b)
        .filter(F.col("n_a") * 1_000_000 >= F.lit(threshold_ppm) * F.col("n_b"))
        .filter(F.col("n_b") * 1_000_000 >= F.lit(threshold_ppm) * F.col("n_a"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.min("rk_a").alias("_ra"), F.min("rk_b").alias("_rb"))
        .filter(
            (F.lit(1) + F.least(F.col("n_a") - F.col("_ra"), F.col("n_b") - F.col("_rb")))
            * F.lit(1_000_000 + threshold_ppm)
            >= F.lit(threshold_ppm) * (F.col("n_a") + F.col("n_b"))
        )
        .select("id_a", "id_b", "n_a", "n_b")
    )
    pa = sh.select(F.col(id_col).alias("id_a"), "h")
    pb = sh.select(F.col(id_col).alias("id_b"), "h")
    shared = (
        cand.join(pa, "id_a")
        .join(pb, ["id_b", "h"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    union = F.col("n_a") + F.col("n_b") - F.col("shared")
    return shared.filter(F.col("shared") * 1_000_000 >= F.lit(threshold_ppm) * union).select(
        "id_a",
        "id_b",
        "shared",
        "n_a",
        "n_b",
        (F.col("shared").cast("double") / union.cast("double")).alias("jac"),
    )
