"""Text cleaning and corpus-quality signals for LLM training-data prep.

Extends the reference's data-quality surface (validation rules,
validation/domain/services.py:14-170) to the text domain: URL stripping,
PII masking, Gopher-style repetition signals, and n-gram decontamination.
Everything is JVM-side built-in expressions (regexp_replace / split /
explode / hash-agg) — no Python UDFs, so whole-stage codegen applies and
the same patterns run verbatim in the DuckDB oracle (both regex dialects
treat these patterns identically; Spark's regexp_replace is global by
default, the oracle passes the 'g' flag).

Scale notes (100 TB): cleaning and repetition signals are map-only or one
hash-agg shuffle keyed by (doc_id, token) — partial aggregation applies and
doc_id keys are unique, so no skew. N-gram decontamination is the standard
shuffle-hash-join-on-gram-hash formulation: grams are hashed to 64-bit
longs before the exchange (narrow rows), the train side is deduplicated
before the join, and nothing is collected or broadcast by requirement
(AQE may still choose broadcast when the train set is small).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..execution import pin, spread

TOKEN_SPLIT_RE = r"\s+"
#: Patterns shared verbatim with the DuckDB oracle (valid Java regex + RE2).
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"


def clean_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Strip URLs, mask emails, collapse whitespace; count what was removed.

    Adds ``n_urls``, ``n_emails``, ``clean_text`` (URL-stripped,
    email-masked, whitespace-collapsed, trimmed). Map-only — no shuffle.
    """
    txt = F.col(text_col)
    no_urls = F.regexp_replace(txt, URL_RE, "")
    cleaned = F.regexp_replace(no_urls, EMAIL_RE, "<EMAIL>")
    cleaned = F.trim(F.regexp_replace(cleaned, TOKEN_SPLIT_RE, " "))
    return (
        df.withColumn("n_urls", F.regexp_count(txt, F.lit(URL_RE)).cast("long"))
        # Counted on the URL-STRIPPED text, matching what masking actually
        # sees: an address embedded in a URL query string is removed with
        # the URL and never produces an <EMAIL> marker, so counting it
        # would overstate the masked total.
        .withColumn("n_emails", F.regexp_count(no_urls, F.lit(EMAIL_RE)).cast("long"))
        .withColumn("clean_text", cleaned)
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token-repetition signals (the Gopher/MassiveText family).

    Returns one row per document: ``n_tokens``, ``n_distinct_tokens``,
    ``dup_token_ratio`` (1 − distinct/total) and ``top_token_frac``
    (most-frequent token's share). High values flag boilerplate/spam docs.

    Plan: explode(lower-split) → hash-agg on (doc_id, token) → hash-agg on
    doc_id. Both aggregations get map-side partials; ratios are exact
    bigint/bigint divisions (order-independent).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE)).alias("token"),
    )
    per_tok = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("cnt"))
    return per_tok.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        (F.lit(1.0) - F.count(F.lit(1)).cast("double") / F.sum("cnt")).alias("dup_token_ratio"),
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top_token_frac"),
    )


def _gram_text(text: Column, n: int) -> Column:
    """Array of word ``n``-grams (space-joined) from whitespace tokens.

    Computed per-row with ``transform``/``slice`` higher-order functions —
    no explode until the caller chooses to, so the fan-out stays explicit.
    Spark's ``sequence(a, b)`` DESCENDS when b < a, so short docs are
    guarded to an empty array rather than relying on an empty sequence.
    """
    toks = F.split(F.trim(F.lower(text)), TOKEN_SPLIT_RE)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def ngram_hashes(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5,
    family: str = "md5_60",
) -> DataFrame:
    """Distinct n-gram hashes per document. ``family``:

    - ``md5_60`` (default): 60-bit md5-prefix int an external SQL oracle can
      reproduce exactly (dedup._hash64) — the verification configuration.
    - ``xxhash64``: JVM-codegen hash, ~3× cheaper per gram — the production
      configuration at corpus scale, where md5 CPU dominates the scan.

    One row per (doc, distinct gram hash); rows crossing the shuffle are
    two longs wide, not the gram text.
    """
    from .dedup import _hash64

    gh = _hash64(F.col("gram"), None, family)
    return (
        df.select(F.col(id_col), F.explode(_gram_text(F.col(text_col), n)).alias("gram"))
        .select(id_col, gh.alias("gram_h"))
        .distinct()
    )


def ngram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    family: str = "md5_60",
) -> DataFrame:
    """Per-document novelty: the share of a document's DISTINCT word
    n-grams whose first corpus occurrence (minimum ``id_col``) is this
    document — the memorization/curriculum signal (documents near 0 are
    retellings of earlier data; near 1e6 ppm are fresh content). Emits
    ``n_grams``, ``n_novel`` and ``novelty_ppm`` (exact integer parts per
    million, so cross-engine comparison needs no float tolerance).

    Two shuffles, both on high-cardinality keys: one window over ``gram_h``
    for the corpus-first tag (the rows crossing it are two longs, not gram
    text — ``ngram_hashes``), one hash-agg back to documents. Linear in
    corpus gram volume; ``family='xxhash64'`` is the cheap production
    hashing, ``md5_60`` the externally-reproducible verification family.
    """
    from pyspark.sql.window import Window as W

    # Gram hashing (md5 in the verification family) is map CPU ahead of
    # any exchange — a coarsely-partitioned input would run it on one
    # core (measured: every stage of this entry ran 1 task at sf0.1).
    # No-op once the scan yields splits; counts/min are partition-
    # independent, so results are unchanged.
    grams = ngram_hashes(spread(df, id_col), id_col, text_col, n, family)
    first = F.min(id_col).over(W.partitionBy("gram_h"))
    novel = (F.col("_first") == F.col(id_col)).cast("long")
    return (
        grams.withColumn("_first", first)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(novel).alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm",
            F.floor(F.col("n_novel") * 1_000_000 / F.col("n_grams")).cast("long"),
        )
    )


#: Curation thresholds (curate_corpus). Tuned so synthetic corpora keep a
#: non-trivial subset; real pipelines override per corpus.
MIN_TOKENS = 20
MAX_DUP_TOKEN_RATIO = 0.55
MAX_TOP_TOKEN_FRAC = 0.15


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = MIN_TOKENS,
    max_dup_token_ratio: float = MAX_DUP_TOKEN_RATIO,
    max_top_token_frac: float = MAX_TOP_TOKEN_FRAC,
    split_salt: str = "split",
) -> DataFrame:
    """The end-to-end corpus curation pipeline, composed from this module:

    clean (URL strip / email mask / whitespace collapse) → repetition +
    length filters on the CLEANED text → exact dedup on the cleaned-text
    fingerprint (keep the smallest ``doc_id``, so reruns are stable) →
    deterministic hash split. Returns the surviving documents with
    ``clean_text``, ``n_tokens``, ``dup_token_ratio``, ``top_token_frac``,
    ``fp`` and ``split`` attached.

    Every step is a built-in-expression DataFrame op: one explode +
    two hash-aggs for the signals, one window over the fingerprint for
    dedup, map-only everything else — three shuffles total, each keyed by
    high-cardinality columns (doc_id, fingerprint), so the pipeline scales
    linearly and skew-free to corpus size.
    """
    from .sampling import with_split

    # NOT spread (measured, r11): 0.86 -> 0.92 s warm median with an
    # id_col spread — the regex clean at this corpus size doesn't
    # amortize the exchange (see the textclean spread split: only the
    # md5-gram pipelines win).
    # ``cleaned`` feeds the repetition-signal pass AND the score join:
    # unpinned, the regex clean (URL strip / email mask / collapse — the
    # pipeline's priciest map pass) runs over the corpus once per
    # consumer. Pin the cleaned rows so it runs once.
    cleaned = pin(clean_documents(df, text_col).drop("n_urls", "n_emails"))
    sig = repetition_signals(
        cleaned.select(id_col, F.col("clean_text").alias("text")), id_col, "text"
    )
    scored = cleaned.join(sig, id_col)
    kept = scored.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("dup_token_ratio") <= max_dup_token_ratio)
        & (F.col("top_token_frac") <= max_top_token_frac)
    ).withColumn("fp", F.md5(F.encode(F.col("clean_text"), "UTF-8")))
    from pyspark.sql.window import Window as W

    first_id = F.min(id_col).over(W.partitionBy("fp"))
    deduped = kept.withColumn("_first", first_id).filter(F.col(id_col) == F.col("_first")).drop("_first")
    return with_split(deduped, {"train": 0.9, "val": 0.05, "test": 0.05}, id_col=id_col, salt=split_salt)


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    family: str = "md5_60",
    prefilter_bits: int | None = 20,
) -> DataFrame:
    """Per test-document n-gram overlap with the train corpus.

    The fuzzy counterpart of exact fingerprint contamination
    (sampling.with_split + md5 membership): a test doc sharing many word
    n-grams with ANY train doc leaks evaluation data even when no single
    document is an exact copy. Returns ``doc_id, n_grams, n_leaked,
    leak_frac`` for every test doc with at least one n-gram.

    Join is a shuffle hash join on the 60-bit gram hash; the train side is
    deduplicated to distinct hashes in ONE global distinct (no per-doc
    pre-distinct — the train side only needs set membership).

    ``prefilter_bits`` (r3 verdict item 4 — the bloom-filter cut): before
    the train side shuffles anything, its gram stream is semi-joined against
    a BROADCAST of the test side's distinct hash *buckets*
    (``gram_h mod 2^bits``) — a one-hash Bloom filter expressed entirely in
    JVM-side relational ops (Spark's runtime bloom injection can't reach
    this shape: the creation side sits above explode+distinct, and
    ``bloom_filter_agg`` isn't in the public registry). The bucket set is
    capped at 2^bits rows BY CONSTRUCTION (~8 MB of longs at the default 20
    bits) — a bounded broadcast, unlike broadcasting the train set itself.
    Train grams hashing to no test bucket — the overwhelming majority when
    the test side is small (the real decontamination case: benchmark suites
    are MBs vs a multi-TB train corpus) — are dropped map-side before the
    distinct's exchange and the join. Exactness is unaffected: pruned rows
    cannot equi-join (different bucket ⇒ different hash). Set ``None`` to
    disable when the test side is corpus-sized and the filter would
    saturate.
    """
    from .dedup import _hash64

    # Gram hashing is the CPU of this operator and runs BEFORE any exchange:
    # if the corpus arrives in fewer partitions than the cluster has cores
    # (one small parquet file), it would run single-threaded. spread is a
    # no-op once the scan yields enough splits (the 100 TB case). The train
    # side only contributes gram hashes — it need not carry id_col, so it
    # spreads on text_col (high-cardinality, always present).
    train, test = spread(train, text_col), spread(test, id_col)
    gh = _hash64(F.col("gram"), None, family)
    train_raw = train.select(
        F.explode(_gram_text(F.col(text_col), n)).alias("gram")
    ).select(gh.alias("gram_h"))
    # The test-side gram table feeds two consumers (the broadcast bucket
    # set and the probe side of the membership join); without a pin the
    # test corpus is re-tokenized, re-exploded and re-deduped once per
    # consumer. The test side is the small side by assumption, so the pin
    # is bounded (the minhash sh_base precedent).
    test_g = pin(ngram_hashes(test, id_col, text_col, n, family))
    if prefilter_bits is not None:
        m = 1 << prefilter_bits
        buckets = test_g.select(F.pmod(F.col("gram_h"), F.lit(m)).alias("_bkt")).distinct()
        train_raw = train_raw.join(
            F.broadcast(buckets),
            F.pmod(F.col("gram_h"), F.lit(m)) == F.col("_bkt"),
            "left_semi",
        )
    train_g = train_raw.distinct()
    hit = train_g.withColumn("_hit", F.lit(1))
    return (
        test_g.join(hit, "gram_h", "left_outer")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_leaked"),
            (
                F.coalesce(F.sum("_hit"), F.lit(0)).cast("double") / F.count(F.lit(1))
            ).alias("leak_frac"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Substring-level duplication profile: for every ``window``-token span
    of every document, detect spans that occur in >= 2 DISTINCT documents,
    and report per document how much of it is covered by such cross-corpus
    duplicated spans — the distributed analog of suffix-array substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"), where the suffix array is replaced by windowed span
    hashing: sublinear state per key, no global sort.

    Output: one row per document with >= ``window`` tokens —
    ``(id, n_windows, n_dup, dup_frac)`` where ``n_dup`` counts window
    POSITIONS whose span also appears in another document.

    Scale: the explode produces one row per token position (corpus token
    count); both shuffles are keyed high-cardinality (span hash, then doc
    id), rows crossing are two longs wide. The span-hash groupBy and the
    join back share an identical child exchange, which Spark's
    ReuseExchange dedupes.

    Span identity is hash-of-token-hashes: each token is hashed ONCE per
    document (``hash_family`` picks that hash), and every window position
    then hashes its 20-long slice with the JVM's native array xxhash64 —
    instead of materializing the joined span STRING and digesting ~all of
    its bytes per position, which re-copies and re-hashes every token
    ``window`` times (measured the dominant map CPU of this operator).
    The span-hash values are internal only — the output is COUNTS of
    equal spans, and two spans are hash-equal iff their token sequences
    are equal up to a 64-bit collision, the same contract the previous
    whole-string digest (and the oracle's own md5-based count) already
    had.
    """
    from .dedup import _hash64

    # Span hashing is map-side CPU ahead of any exchange — redistribute a
    # coarsely-partitioned input first (no-op when the scan gives splits).
    df = spread(df, id_col)
    toks = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE)
    tok_hashes = F.transform(toks, lambda c: _hash64(c, None, hash_family))
    eligible = df.select(F.col(id_col), tok_hashes.alias("ths")).filter(
        F.size("ths") >= window
    )
    starts = F.sequence(F.lit(1), F.size("ths") - F.lit(window - 1))
    win = eligible.select(
        id_col,
        F.explode(starts).alias("i"),
        F.col("ths"),
    ).select(
        id_col,
        F.xxhash64(F.slice(F.col("ths"), F.col("i"), window)).alias("wh"),
    )
    # Two consumers (span-frequency counts + the join back): pin the
    # two-longs-per-row span table instead of re-running the windowed
    # hashing, which costs more than everything downstream combined.
    win = pin(win)
    # "Held by >= 2 distinct documents" is a BINARY predicate, so
    # min(id) != max(id) answers it with plain partial-aggregating min/max
    # instead of countDistinct's expand machinery (r10: 0.87x, rows
    # identical; a full (wh, id) pre-agg before the join was also tried
    # and measured SLOWER — 1.4 -> 2.3 s exec — because the position
    # stream then crosses two keyed exchanges instead of one).
    counts = win.groupBy("wh").agg((F.min(id_col) != F.max(id_col)).alias("_dup"))
    j = win.join(counts, "wh")
    return (
        j.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0)).alias("n_dup"),
        )
        .withColumn("dup_frac", F.col("n_dup") / F.col("n_windows"))
    )


# ---------------------------------------------------------------------------
# PII scrubbing (beyond clean_documents' URL/email pass)

#: Patterns shared verbatim with the DuckDB oracle — no lookarounds, so the
#: same text compiles identically under Java regex (Spark) and RE2 (DuckDB).
IPV4_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"
CARD_RE = r"\b\d{4}-\d{4}-\d{4}-\d{4}\b"
PHONE_RE = r"\+\d{1,3}[ -]\d{3}[ -]\d{3}[ -]?\d{2,4}"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails, card-shaped numbers, IPv4 addresses, and international
    phone numbers; count each class of redaction.

    Extends :func:`clean_documents` (URL/email) with the remaining PII
    classes a training-data pipeline redacts before tokenization. Each count
    is taken on the text state that pattern actually sees (the
    ``clean_documents`` precedent: a card number inside an already-masked
    email local part must not double-count), and replacements are applied in
    a fixed order — email → card → IPv4 → phone — chosen so no earlier
    replacement token can be matched by a later pattern.

    Map-only (no shuffle): four ``regexp_count`` + four ``regexp_replace``
    JVM expressions inside one codegen stage. Adds ``n_emails``,
    ``n_cards``, ``n_ips``, ``n_phones``, ``scrubbed_text``.
    """
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, CARD_RE, "<CARD>")
    t3 = F.regexp_replace(t2, IPV4_RE, "<IP>")
    t4 = F.regexp_replace(t3, PHONE_RE, "<PHONE>")
    return (
        df.withColumn("n_emails", F.regexp_count(t0, F.lit(EMAIL_RE)).cast("long"))
        .withColumn("n_cards", F.regexp_count(t1, F.lit(CARD_RE)).cast("long"))
        .withColumn("n_ips", F.regexp_count(t2, F.lit(IPV4_RE)).cast("long"))
        .withColumn("n_phones", F.regexp_count(t3, F.lit(PHONE_RE)).cast("long"))
        .withColumn("scrubbed_text", t4)
    )


# ---------------------------------------------------------------------------
# Corpus-level exact segment dedup (the C4/RefinedWeb line-dedup family)

def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
) -> DataFrame:
    """Remove segments whose exact text already appeared earlier in the
    corpus, rebuilding each document from its surviving segments.

    The C4 pipeline deduplicates at *line* granularity across the whole
    corpus (keep the first occurrence, drop every later one). The testdata
    corpus has no line structure, so the segmentation unit here is a run of
    ``seg_tokens`` whitespace tokens — the same operator shape with a
    deterministic splitter. First occurrence is the (doc_id, seg_idx)
    lexicographic minimum, a total order, so the kept set is unique under
    any partitioning.

    Returns one row per document: ``n_segments``, ``n_kept``, and
    ``clean_text`` (surviving segments re-joined in document order; ``""``
    when every segment was a repeat).

    Scale shape (100 TB): tokenize + segment is map-only (array slice —
    no per-token explode; rows inflate only by segments-per-doc ≈
    n_tokens/seg_tokens); first-occurrence ranking is ONE hash shuffle
    keyed by segment text (high-cardinality, self-balancing — a degenerate
    corpus of one repeated segment is the only hot-key case, and that key
    carries two longs per row); reconstruction is one shuffle back on the
    unique doc id. Both aggregations take map-side partials.
    """
    from pyspark.sql.window import Window as W

    # NOT spread (measured, r11): 0.55 -> 0.82 s warm median with an
    # id_col spread — array-slice segmentation is map-cheap and the added
    # exchange dominates at sf0.1. Only md5-gram pipelines win (see
    # ngram_novelty).
    t = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE)
    segs = (
        df.select(F.col(id_col), t.alias("t"))
        .select(
            id_col,
            F.explode(
                F.expr(f"sequence(0, (size(t) + {seg_tokens - 1}) div {seg_tokens} - 1)")
            ).alias("seg_idx"),
            F.col("t"),
        )
        .select(
            id_col,
            "seg_idx",
            F.array_join(
                F.slice(F.col("t"), F.col("seg_idx") * seg_tokens + 1, seg_tokens), " "
            ).alias("seg"),
        )
    )
    w = W.partitionBy("seg").orderBy(id_col, "seg_idx")
    marked = segs.withColumn("keep", F.row_number().over(w) == 1)
    kept_struct = F.when(F.col("keep"), F.struct("seg_idx", "seg"))
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def boilerplate_strip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
    max_docs: int = 2,
) -> DataFrame:
    """Remove boilerplate segments — those appearing in more than
    ``max_docs`` DISTINCT documents — from every document that contains
    them (CCNet / RefinedWeb-style frequent-line stripping; reference has
    no text pipeline — this is beyond-reference LLM-curation surface).

    Differs from :func:`segment_dedup` in policy: segment_dedup keeps the
    FIRST occurrence of a repeated segment, this drops ALL occurrences of
    over-frequent ones ("© 2024 Example Corp — all rights reserved" should
    survive in no document, not in one). Both use the same deterministic
    ``seg_tokens``-token segmentation, so a corpus can be scrubbed with
    either policy over identical units.

    Returns one row per document: ``n_segments``, ``n_boiler`` (segments
    stripped), and ``clean_text`` (survivors re-joined in document order).

    Scale shape (100 TB): segmentation is the same map-only array-slice
    pass as segment_dedup; the document-frequency table is ONE hash
    aggregation keyed by segment text (countDistinct takes a two-level
    partial — (seg, doc) dedup then count — both map-side combined); the
    boilerplate set it filters to is tiny (segments crossing a
    document-frequency threshold are vocabulary-scale, the Zipf head), so
    the membership join back onto segments is a broadcast-able
    left-anti-shaped join keyed by high-cardinality text. Reconstruction
    is one shuffle on the unique doc id.
    """

    # NOT spread (measured, r11): 0.73 -> 0.97 s warm median with an
    # id_col spread — same cheap-segmentation argument as segment_dedup.
    t = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE)
    # ``segs`` feeds the document-frequency aggregation AND the membership
    # join back onto the segments: unpinned, the corpus scan + tokenize +
    # segment explode runs once per consumer. The pin holds the segmented
    # corpus (its rows ARE the operator's working set) on executor-local
    # disk and saves the second full segmentation pass.
    segs = pin(
        df.select(F.col(id_col), t.alias("t"))
        .select(
            id_col,
            F.explode(
                F.expr(f"sequence(0, (size(t) + {seg_tokens - 1}) div {seg_tokens} - 1)")
            ).alias("seg_idx"),
            F.col("t"),
        )
        .select(
            id_col,
            "seg_idx",
            F.array_join(
                F.slice(F.col("t"), F.col("seg_idx") * seg_tokens + 1, seg_tokens), " "
            ).alias("seg"),
        )
    )
    boiler = (
        segs.groupBy("seg")
        .agg(F.countDistinct(id_col).alias("_docs"))
        .filter(F.col("_docs") > max_docs)
        .select("seg", F.lit(True).alias("_boiler"))
    )
    marked = segs.join(boiler, "seg", "left").withColumn(
        "keep", F.col("_boiler").isNull()
    )
    kept_struct = F.when(F.col("keep"), F.struct("seg_idx", "seg"))
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((~F.col("keep")).cast("long")).alias("n_boiler"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def decontaminate_spans(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    family: str = "md5_60",
) -> DataFrame:
    """Span-level exact-substring decontamination (the GPT-3 appendix-C /
    FineWeb recipe): REMOVE from every train document each word n-gram that
    also appears anywhere in the test corpus, instead of merely flagging
    the document (:func:`ngram_contamination` is the flagging half).

    A train token is dropped iff it is covered by at least one contaminated
    n-gram start: token position ``i`` dies when some matched start ``s``
    satisfies ``s <= i < s + n``. The surviving tokens are rejoined in
    order, so the output is the scrubbed (whitespace-normalized, lowercased
    — the same normalization the gram hashes use) training text plus
    removal counts.

    Scale shape (100 TB): positioned train grams explode map-side; the test
    side shrinks to ONE distinct 60-bit hash set (benchmark suites are MBs
    against a multi-TB train corpus); the contamination join is a plain
    shuffle hash join on ``gram_h`` (never a broadcast of the train side —
    the contamination_check inversion lesson); matched starts fold back
    per document as a bounded array (≤ tokens-per-doc, i.e. task-sized by
    definition), and the span-erase + rejoin is a map-only higher-order
    expression. For an even cheaper first pass, the bounded bucket
    prefilter of :func:`ngram_contamination` composes in front unchanged.
    """
    from .dedup import _hash64

    toks_col = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE)
    # NOT pinned (measured): materializing the tokenized train corpus (one
    # token array per doc) to checkpoint blocks costs more than re-running
    # the map-only tokenize on the second consumer — interleaved A/B at
    # sf0.1 put a pin here at 1.05x.
    tr = spread(train, text_col).select(F.col(id_col), toks_col.alias("toks"))
    positioned = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1)),
            lambda i: F.struct(
                i.alias("i"), F.concat_ws(" ", F.slice("toks", i, n)).alias("gram")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:int,gram:string>>"))
    grams = tr.select(F.col(id_col), F.explode(positioned).alias("g")).select(
        id_col,
        F.col("g.i").alias("i"),
        _hash64(F.col("g.gram"), None, family).alias("gram_h"),
    )
    test_set = ngram_hashes(test, id_col, text_col, n, family).select("gram_h").distinct()
    hits = grams.join(test_set, "gram_h")
    starts = hits.groupBy(id_col).agg(F.collect_list("i").alias("starts"))
    joined = tr.join(starts, id_col, "left").withColumn(
        "starts", F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    )
    keep_idx = F.filter(
        F.sequence(F.lit(1), F.size("toks")),
        lambda i: ~F.exists("starts", lambda s: (i >= s) & (i < s + F.lit(n))),
    )
    with_idx = joined.withColumn("keep_idx", keep_idx)
    return with_idx.select(
        id_col,
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size("keep_idx")).cast("long").alias("n_removed"),
        F.concat_ws(
            " ", F.transform("keep_idx", lambda i: F.element_at("toks", i))
        ).alias("clean_text"),
    )


def token_psi(
    a: DataFrame, b: DataFrame, text_col: str = "text", top_k: int = 20,
    side_a: str = "n_a", side_b: str = "n_b",
) -> DataFrame:
    """Population stability index between two corpora's token
    distributions — the drift monitor a production pipeline runs between
    corpus snapshots (or train/serve splits) to catch composition shifts
    before they reach training. Buckets are the ``top_k`` tokens by
    combined count (ties: token ascending — a deterministic total order)
    plus ``__other__``; counts are add-one smoothed over the live bucket
    count so a token absent on one side cannot produce ln(0).

    Per-bucket PSI terms ``(p-q)*ln(p/q)`` are micro-floored to
    ``psi_x1e9`` BIGINTs in a fixed operation order (the lm_perplexity
    precedent), so totals are order-independent and cross-engine stable.

    Scale shape: one explode + hash-agg per side (vocabulary-sized
    output), a distributed sort-limit for the top-k (TakeOrdered — no
    full-vocabulary rank window), a broadcast membership join, and windows
    only over the final <= top_k+1-row aggregate.
    """
    one = F.lit(1).cast("long")

    def counts(df: DataFrame, name: str) -> DataFrame:
        tok = F.explode(F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE)).alias("token")
        return df.select(tok).groupBy("token").agg(F.count(F.lit(1)).cast("long").alias(name))

    # `comb` feeds the top-k probe AND the bucket rollup: unpinned, BOTH
    # sides' corpus explode + hash-agg ran twice (4 scans in
    # token_drift_psi's physical plan). The pin is the vocabulary-scale
    # joined count table — bounded while the avoided pass is corpus-scale.
    comb = pin(
        counts(a, side_a)
        .join(counts(b, side_b), "token", "full_outer")
        .select(
            "token",
            F.coalesce(F.col(side_a), F.lit(0).cast("long")).alias(side_a),
            F.coalesce(F.col(side_b), F.lit(0).cast("long")).alias(side_b),
        )
        .withColumn("_n_tot", F.col(side_a) + F.col(side_b))
    )
    top = (
        comb.orderBy(F.col("_n_tot").desc(), F.col("token").asc())
        .limit(top_k)
        .select("token", F.lit(True).alias("_top"))
    )
    bucketed = (
        comb.join(top, "token", "left")
        .withColumn(
            "bucket",
            F.when(F.col("_top").isNotNull(), F.col("token")).otherwise(F.lit("__other__")),
        )
        .groupBy("bucket")
        .agg(F.sum(side_a).alias(side_a), F.sum(side_b).alias(side_b))
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy()
    tot_a, tot_b = F.sum(side_a).over(w), F.sum(side_b).over(w)
    nb = F.count(F.lit(1)).over(w)
    p = (F.col(side_a) + one).cast("double") / (tot_a + nb).cast("double")
    q = (F.col(side_b) + one).cast("double") / (tot_b + nb).cast("double")
    term = F.floor(((p - q) * F.log(p / q)) * F.lit(1000000000.0)).cast("long")
    return bucketed.select(
        F.col("bucket").alias("token"), side_a, side_b, term.alias("psi_x1e9")
    )
