"""Training-data pipeline operators over the ``documents`` table: text
analysis, fingerprinting, exact dedup. (Near-dup/minhash and embedding
similarity live in queries_sim.py.)

These extend the reference's data-quality surface (SURVEY §2.7 validation,
K5 reports) to the document/text domain a large-scale pipeline needs. All
expressions are JVM-side built-ins — no Python UDFs on the hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..execution import pin, pin_all, spread
from .registry import register, t

#: Stopword alternation shared by Spark and the DuckDB oracle (both engines'
#: regex dialects treat this pattern identically).
STOPWORDS_RE = r"\b(the|a|of|and|to|in|is)\b"
PUNCT_RE = r"[.,!?;:]"
TOKEN_SPLIT_RE = r"\s+"


# ---------------------------------------------------------------------------
# Token counting (whitespace tokenizer)

SQL_TOKEN_COUNT = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       lang, source
FROM documents
"""


@register("token_count", SQL_TOKEN_COUNT, doc="whitespace token count per document", tags=("text",))
def q_token_count(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), TOKEN_SPLIT_RE)).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        "lang",
        "source",
    )


# BPE-style pretokenizer count: the GPT-2 pretokenizer family (contraction
# suffixes | space-prefixed letter runs | digit runs | punctuation runs |
# whitespace), with the lookahead clause dropped so the SAME pattern runs in
# Java regex (Spark) and RE2 (DuckDB) — RE2 has no lookahead. Counts the
# units a byte-BPE would start from; a real vocab merge step would run on
# top without changing this scan shape.
BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"

SQL_BPE_TOKEN_COUNT = (
    "SELECT doc_id,\n"
    "       CAST(len(regexp_extract_all(text, '" + BPE_RE.replace("'", "''") + "')) AS BIGINT) AS n_bpe_units,\n"
    r"       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens"
    "\nFROM documents"
)


@register("bpe_token_count", SQL_BPE_TOKEN_COUNT, doc="BPE-pretokenizer unit count vs whitespace tokens per document", tags=("text",))
def q_bpe_token_count(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_RE)).cast("long").alias("n_bpe_units"),
        F.size(F.split(F.trim(F.col("text")), TOKEN_SPLIT_RE)).cast("long").alias("n_ws_tokens"),
    )


# Trained BPE (operators/tokenizer.py): merges are learned from this
# corpus's own word frequencies (deterministic — exact integer counts +
# lexicographic tie-breaks, so any partitioning yields the same table) and
# applied distributed. Subword merging itself is not SQL-expressible, so
# the entry is SELF-VALIDATING: per document it emits the word count (the
# engine's established cross-engine split semantics — oracle pins it
# exactly) and the tokenizer's losslessness invariant ``roundtrip_ok``
# (re-joined tokens must reproduce every word); an encoder regression
# flips the flag and the row goes red. Token-count properties (fewer
# tokens with more merges, known tiny-corpus merges) are pinned in
# tests/test_tokenizer.py.

SQL_BPE_TRAINED_TOKENS = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_words,
       TRUE AS roundtrip_ok
FROM documents
"""


@register(
    "bpe_trained_tokens",
    SQL_BPE_TRAINED_TOKENS,
    doc="trained BPE tokenizer (200 merges learned from corpus word frequencies): per-doc word count + lossless-roundtrip flag, both oracle-pinned",
    tags=("text", "tokenizer"),
)
def q_bpe_trained_tokens(spark, sf_dir):
    from ..operators.tokenizer import bpe_token_summary

    d = t(spark, sf_dir, "documents")
    return bpe_token_summary(d, n_merges=200, max_words=20_000).select(
        "doc_id", "n_words", "roundtrip_ok"
    )


# ---------------------------------------------------------------------------
# Quality scoring: length/punctuation/stopword ratios, composite score

SQL_QUALITY_SCORE = r"""
WITH s AS (
  SELECT doc_id, lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(lower(text), '[.,!?;:]')) AS BIGINT) AS n_punct,
         CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS n_stop
  FROM documents
)
SELECT doc_id, lang, n_chars, n_tokens,
       CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
       CASE WHEN n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens > 0.05 THEN 1 ELSE 0 END AS quality_pass
FROM s
"""


@register("quality_score", SQL_QUALITY_SCORE, doc="doc quality heuristics: punct/stopword/length ratios", tags=("text",))
def q_quality_score(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.split(F.trim(F.col("text")), TOKEN_SPLIT_RE)).cast("long").alias("n_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(PUNCT_RE)).cast("long").alias("n_punct"),
        F.regexp_count(F.lower(F.col("text")), F.lit(STOPWORDS_RE)).cast("long").alias("n_stop"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return s.select(
        "doc_id",
        "lang",
        "n_chars",
        "n_tokens",
        (F.col("n_punct").cast("double") / F.col("n_chars")).alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        F.when((F.col("n_tokens") >= 20) & (stop_ratio > 0.05), 1).otherwise(0).alias("quality_pass"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (normalize → md5) + exact dedup on the fingerprint
# (the text-domain analog of the bars keep-last dedup, parquet_engine.py:156-173)

SQL_FINGERPRINT = """
SELECT doc_id, md5(lower(trim(text))) AS fingerprint
FROM documents
"""


@register("fingerprint", SQL_FINGERPRINT, doc="document fingerprint: md5 of normalized text", tags=("text", "dedup"))
def q_fingerprint(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(F.encode(F.lower(F.trim(F.col("text"))), "UTF-8")).alias("fingerprint"))


SQL_EXACT_DEDUP = """
SELECT md5(lower(trim(text))) AS fingerprint,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY fingerprint
"""


@register("exact_dedup", SQL_EXACT_DEDUP, doc="exact dedup: hash-groupBy canonical doc per fingerprint", tags=("dedup",))
def q_exact_dedup(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.encode(F.lower(F.trim(F.col("text"))), "UTF-8")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Language ID: character-bigram profile heuristic. Scores each language by
# counting occurrences of its signature character sequences; deterministic
# and SQL-expressible so both engines agree exactly.

_LANG_SIGS = {
    "en": ["th", "he", "in", "er", "an"],
    "de": ["ch", "ei", "en", "sch", "und"],
    "fr": ["le", "ou", "es", "que", "eau"],
    "es": ["os", "la", "el", "ción", "que"],
    "zh": ["de", "sh", "zh", "ng", "xi"],
}


def _sig_pattern(lang: str) -> str:
    return "(" + "|".join(_LANG_SIGS[lang]) + ")"


SQL_LANG_ID = (
    "WITH s AS (SELECT doc_id, lang AS lang_label, lower(text) AS lt FROM documents)\n"
    "SELECT doc_id, lang_label,\n"
    + ",\n".join(
        f"       CAST(len(regexp_extract_all(lt, '{_sig_pattern(lang)}')) AS BIGINT) AS score_{lang}"
        for lang in _LANG_SIGS
    )
    + "\nFROM s"
)


@register("lang_id_scores", SQL_LANG_ID, doc="language-ID n-gram signature scores per document", tags=("text",))
def q_lang_id(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    s = d.select("doc_id", F.col("lang").alias("lang_label"), F.lower(F.col("text")).alias("lt"))
    cols = ["doc_id", "lang_label"] + [
        F.regexp_count(F.col("lt"), F.lit(_sig_pattern(lang))).cast("long").alias(f"score_{lang}")
        for lang in _LANG_SIGS
    ]
    return s.select(*cols)


# ---------------------------------------------------------------------------
# Chunking + packing (operators/chunking.py): the shaping ops between
# cleaning and tokenization. Chunking is map-only (sequence+slice per doc);
# packing is one per-shard running-sum window.

SQL_CHUNK_DOCUMENTS = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
ch AS (
  SELECT doc_id,
         unnest([{'s': s, 'ct': list_slice(t, s, s + 99)} for s in range(1, len(t) + 1, 80)]) AS u
  FROM toks WHERE len(t) >= 1
)
SELECT doc_id,
       CAST((u.s - 1) // 80 + 1 AS BIGINT) AS chunk_seq,
       CAST(len(u.ct) AS BIGINT) AS n_tokens,
       array_to_string(u.ct, ' ') AS chunk
FROM ch
"""


@register("chunk_documents", SQL_CHUNK_DOCUMENTS, doc="overlapping 100-token chunks (stride 80) per document, map-only", tags=("text", "chunking"))
def q_chunk_documents(spark, sf_dir):
    from ..operators.chunking import chunk_documents

    return chunk_documents(t(spark, sf_dir, "documents"), chunk_tokens=100, overlap=20)


SQL_PACK_DOCUMENTS = r"""
WITH d AS (
  SELECT doc_id, doc_id % 8 AS shard,
         least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT), 512) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS c
  FROM d
)
SELECT shard, CAST((c - n_tokens) // 512 AS BIGINT) AS bin_seq,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM cum GROUP BY shard, bin_seq
"""


@register("pack_documents", SQL_PACK_DOCUMENTS, doc="token-budget sequence packing (512-token bins, 8 shards) with per-bin stats", tags=("text", "chunking"))
def q_pack_documents(spark, sf_dir):
    from ..operators.chunking import pack_documents

    return pack_documents(
        t(spark, sf_dir, "documents"), budget=512, n_shards=8, shard_mode="mod"
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / splitting (operators/sampling.py): membership is a
# pure function of the row id via the md5_60 hash, so the oracle reproduces
# the EXACT sample — the property df.sample() cannot give.

def _h60_sql(salt: str) -> str:
    return f"CAST(('0x' || substr(md5('{salt}|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"


def _thr(frac: float) -> int:
    from ..operators.sampling import _threshold

    return _threshold(frac)


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE (lang = 'en' AND {_h60_sql('sample')} < {_thr(0.25)})
   OR (lang = 'de' AND {_h60_sql('sample')} < {_thr(1.0)})
   OR ((lang IS NULL OR lang NOT IN ('en', 'de')) AND {_h60_sql('sample')} < {_thr(0.5)})
"""


@register("stratified_sample", SQL_STRATIFIED_SAMPLE, doc="deterministic stratified downsample by lang (en 25%, de 100%, rest 50%)", tags=("sampling",))
def q_stratified_sample(spark, sf_dir):
    from ..operators.sampling import stratified_sample

    d = t(spark, sf_dir, "documents")
    out = stratified_sample(
        d, "lang", {"en": 0.25, "de": 1.0}, default_fraction=0.5, salt="sample"
    )
    return out.select("doc_id", "lang")


SQL_SPLIT_COUNTS = f"""
WITH s AS (
  SELECT CASE WHEN {_h60_sql('split')} < {_thr(0.9)} THEN 'train'
              WHEN {_h60_sql('split')} < {_thr(0.95)} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs FROM s GROUP BY split
"""


@register("dataset_split", SQL_SPLIT_COUNTS, doc="hash-range train/val/test split (90/5/5), stable under resharding", tags=("sampling",))
def q_dataset_split(spark, sf_dir):
    from ..operators.sampling import with_split

    d = t(spark, sf_dir, "documents")
    out = with_split(d, {"train": 0.9, "val": 0.05, "test": 0.05}, salt="split")
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# Vocabulary building: corpus-wide token frequencies, top-N. One explode +
# one hash-agg shuffle with map-side partials; the orderBy+limit is a
# TakeOrdered, not a global sort.

SQL_VOCAB = r"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
)
SELECT token, count(*) AS freq
FROM tok GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT 100
"""


@register("vocab_top_tokens", SQL_VOCAB, doc="top-100 corpus token frequencies (vocabulary building)", tags=("text",))
def q_vocab_top_tokens(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(100)
    )


SQL_SAMPLE_N = f"""
WITH h AS (
  SELECT doc_id, lang, {_h60_sql('taken')} AS hv FROM documents
),
r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv ASC, doc_id ASC) AS rk
  FROM h
)
SELECT doc_id, lang FROM r WHERE rk <= 10
"""


@register("sample_n_per_stratum", SQL_SAMPLE_N, doc="deterministic fixed-size sample: 10 docs per lang by smallest content hash", tags=("sampling",))
def q_sample_n_per_stratum(spark, sf_dir):
    from ..operators.sampling import take_n_per_stratum

    d = t(spark, sf_dir, "documents")
    return take_n_per_stratum(d, "lang", 10).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Train/test contamination: test-split docs whose normalized-text
# fingerprint also appears in the train split — the leakage check every
# training pipeline runs before shipping a split.

SQL_CONTAMINATION = f"""
WITH s AS (
  SELECT doc_id, md5(lower(trim(text))) AS fp,
         CASE WHEN {_h60_sql('split')} < {_thr(0.9)} THEN 'train'
              WHEN {_h60_sql('split')} < {_thr(0.95)} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
tr AS (SELECT DISTINCT fp FROM s WHERE split = 'train'),
te AS (
  SELECT CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END AS c
  FROM s LEFT JOIN tr USING (fp) WHERE s.split = 'test'
)
SELECT COUNT(*) AS n_test, CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_contaminated FROM te
"""


@register("contamination_check", SQL_CONTAMINATION, doc="test-split docs whose fingerprint leaks from the train split", tags=("sampling", "dedup"))
def q_contamination_check(spark, sf_dir):
    from ..operators.sampling import with_split

    d = t(spark, sf_dir, "documents")
    s = with_split(d, {"train": 0.9, "val": 0.05, "test": 0.05}, salt="split").withColumn(
        "fp", F.md5(F.encode(F.lower(F.trim(F.col("text"))), "UTF-8"))
    )
    # Both sides only need (split, fp): pin that narrow projection so the
    # corpus scan + split-hash + fingerprint md5 runs ONCE instead of once
    # per side (the split predicate is hash-derived and cannot push down,
    # so each unpinned side paid a full scan + full split-hash pass).
    sf = pin(s.select("split", "fp"))
    train = sf.filter(F.col("split") == "train").select("fp").distinct().withColumn("_hit", F.lit(1))
    test = sf.filter(F.col("split") == "test")
    # The train side is the distinct fingerprints of ~90% of the corpus —
    # linear in corpus size, so it must NOT be broadcast (r3 verdict item 2:
    # at 100 TB this is billions of rows). A plain equi-join on fp (128-bit
    # md5 — high-cardinality, skew-free) is the scale-safe shuffle plan;
    # AQE still converts it to broadcast at runtime when the corpus is small.
    return (
        test.join(train, "fp", "left_outer")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Text cleaning: URL stripping, email masking, whitespace collapse — the
# map-only first pass of every corpus-prep pipeline. Same regexes run
# verbatim in both engines (Spark replaces globally by default; the oracle
# passes the 'g' flag).

from ..operators.textclean import EMAIL_RE, URL_RE  # noqa: E402

SQL_TEXT_CLEANING = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{URL_RE}')) AS BIGINT) AS n_urls,
       -- emails counted on the URL-stripped text (what masking sees)
       CAST(len(regexp_extract_all(regexp_replace(text, '{URL_RE}', '', 'g'), '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       trim(regexp_replace(regexp_replace(regexp_replace(
           text, '{URL_RE}', '', 'g'), '{EMAIL_RE}', '<EMAIL>', 'g'), '\s+', ' ', 'g')) AS clean_text
FROM documents
"""


@register("text_cleaning", SQL_TEXT_CLEANING, doc="URL strip + email masking + whitespace collapse (map-only)", tags=("text", "cleaning"))
def q_text_cleaning(spark, sf_dir):
    from ..operators.textclean import clean_documents

    d = t(spark, sf_dir, "documents")
    return clean_documents(d).select("doc_id", "n_urls", "n_emails", "clean_text")


# ---------------------------------------------------------------------------
# Gopher-style repetition signals: duplicate-token ratio and top-token share
# per document — the classic boilerplate/spam flags for corpus filtering.

SQL_REPETITION = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
pt AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct_tokens,
       CAST(1 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS dup_token_ratio,
       CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS top_token_frac
FROM pt GROUP BY doc_id
"""


@register("repetition_signals", SQL_REPETITION, doc="per-doc token repetition: dup-token ratio, top-token share (Gopher signals)", tags=("text", "cleaning"))
def q_repetition_signals(spark, sf_dir):
    from ..operators.textclean import repetition_signals

    d = t(spark, sf_dir, "documents")
    return repetition_signals(d)


# ---------------------------------------------------------------------------
# N-gram decontamination: word-5-gram overlap between the test split and the
# train corpus — the fuzzy counterpart of contamination_check (a test doc
# can leak eval data without any exact-duplicate document existing). Grams
# hash to 60-bit longs (md5_60 family) before the shuffle; the join is a
# hash join on those longs.

SQL_NGRAM_CONTAMINATION = f"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN {_h60_sql('split')} < {_thr(0.9)} THEN 'train'
              WHEN {_h60_sql('split')} < {_thr(0.95)} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
tokd AS (
  SELECT doc_id, split, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM s WHERE split IN ('train', 'test')
),
grams AS (
  SELECT doc_id, split,
         unnest(CASE WHEN len(toks) >= 5
                THEN list_transform(range(1, len(toks) - 3),
                                    i -> array_to_string(toks[i:i+4], ' '))
                ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM tokd
),
gh AS (
  SELECT DISTINCT doc_id, split,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
  FROM grams
),
tr AS (SELECT DISTINCT gram_h FROM gh WHERE split = 'train'),
te AS (SELECT doc_id, gram_h FROM gh WHERE split = 'test')
SELECT te.doc_id,
       COUNT(*) AS n_grams,
       CAST(COALESCE(SUM(CASE WHEN tr.gram_h IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_leaked,
       CAST(COALESCE(SUM(CASE WHEN tr.gram_h IS NOT NULL THEN 1 END), 0) AS DOUBLE) / COUNT(*) AS leak_frac
FROM te LEFT JOIN tr USING (gram_h)
GROUP BY te.doc_id
"""


@register("ngram_contamination", SQL_NGRAM_CONTAMINATION, doc="word-5-gram overlap of test docs vs train corpus (fuzzy decontamination)", tags=("sampling", "dedup", "text"))
def q_ngram_contamination(spark, sf_dir):
    from ..operators.sampling import with_split
    from ..operators.textclean import ngram_contamination

    d = t(spark, sf_dir, "documents")
    s = with_split(d, {"train": 0.9, "val": 0.05, "test": 0.05}, salt="split")
    train = s.filter(F.col("split") == "train")
    test = s.filter(F.col("split") == "test")
    return ngram_contamination(train, test, n=5)


# ---------------------------------------------------------------------------
# The flagship composition: full corpus curation (clean → repetition/length
# filters → exact dedup keep-first → deterministic split), aggregated to
# per-(split, lang) doc and token counts. Every stage is SQL-expressible,
# so the WHOLE pipeline is verified value-for-value — not just its pieces.

from ..operators.textclean import (  # noqa: E402
    MAX_DUP_TOKEN_RATIO,
    MAX_TOP_TOKEN_FRAC,
    MIN_TOKENS,
)

SQL_CURATED_CORPUS = rf"""
WITH cleaned AS (
  SELECT doc_id, lang,
         trim(regexp_replace(regexp_replace(regexp_replace(
             text, '{URL_RE}', '', 'g'), '{EMAIL_RE}', '<EMAIL>', 'g'), '\s+', ' ', 'g')) AS clean_text
  FROM documents
),
tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(clean_text)), '\s+')) AS token
  FROM cleaned
),
pt AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token),
sig AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(1 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS dup_token_ratio,
         CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS top_token_frac
  FROM pt GROUP BY doc_id
),
kept AS (
  SELECT c.doc_id, c.lang, s.n_tokens, md5(c.clean_text) AS fp
  FROM cleaned c JOIN sig s USING (doc_id)
  WHERE s.n_tokens >= {MIN_TOKENS}
    AND s.dup_token_ratio <= {MAX_DUP_TOKEN_RATIO}
    AND s.top_token_frac <= {MAX_TOP_TOKEN_FRAC}
),
dd AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS first_id FROM kept),
sp AS (
  SELECT lang, n_tokens,
         CASE WHEN {_h60_sql('split')} < {_thr(0.9)} THEN 'train'
              WHEN {_h60_sql('split')} < {_thr(0.95)} THEN 'val'
              ELSE 'test' END AS split
  FROM dd WHERE doc_id = first_id
)
SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM sp GROUP BY split, lang
"""


@register("curated_corpus", SQL_CURATED_CORPUS, doc="full curation pipeline (clean -> filter -> dedup -> split), per-split/lang stats", tags=("text", "cleaning", "dedup", "sampling"))
def q_curated_corpus(spark, sf_dir):
    from ..operators.textclean import curate_corpus

    d = t(spark, sf_dir, "documents")
    out = curate_corpus(d)
    return out.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (operators/sketches.py): the approximate
# frequent-items path for 100 TB corpora. The sketch build is one map-side-
# combined shuffle of <= depth*width cells per partition (cardinality-
# independent); estimates are a broadcast join of the tiny cell grid. The
# registry entry runs the FULL pipeline (tokenize -> sketch -> point
# estimate -> rank) under the md5_60 family so DuckDB reproduces every
# counter bit-for-bit; the exact counts ride along to expose the
# overestimate gap (cm_est >= true_cnt always).

_CM_DEPTH, _CM_WIDTH = 4, 1024


def _cm_h_sql(d: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(tok || ':{d}'), 1, 15)) AS BIGINT) % {_CM_WIDTH}"
    )


SQL_CM_TOP_TOKENS = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents
),
tk AS (SELECT tok FROM toks WHERE tok <> ''),
hb AS (
  SELECT tok, dd.d,
         CASE dd.d {' '.join(f"WHEN {d} THEN {_cm_h_sql(d)}" for d in range(_CM_DEPTH))} END AS bucket
  FROM tk, (SELECT unnest(range(0, {_CM_DEPTH})) AS d) dd
),
sketch AS (SELECT d, bucket, CAST(count(*) AS BIGINT) AS cnt FROM hb GROUP BY d, bucket),
truth AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt FROM tk GROUP BY tok),
kb AS (SELECT DISTINCT tok, d, bucket FROM hb),
est AS (
  SELECT kb.tok, MIN(s.cnt) AS cm_est
  FROM kb JOIN sketch s USING (d, bucket) GROUP BY kb.tok
)
SELECT truth.tok, truth.true_cnt, est.cm_est
FROM truth JOIN est USING (tok)
ORDER BY est.cm_est DESC, truth.tok ASC
LIMIT 20
"""


@register("cm_top_tokens", SQL_CM_TOP_TOKENS, doc="count-min sketch heavy hitters: top-20 tokens by CM estimate, exact count alongside", tags=("text", "sketch"))
def q_cm_top_tokens(spark, sf_dir):
    from ..operators.sketches import cm_estimate, cm_sketch

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE)).alias("tok")
    ).filter(F.col("tok") != "")
    # One corpus pass instead of three: the exact per-token counts are
    # pinned (vocabulary-scale), and the sketch is built FROM them with
    # true_cnt as the cell weight — sum of per-token counts per (d, bucket)
    # is identical to counting raw token instances per bucket, so every
    # sketch cell is bit-equal while the sketch input shrinks from
    # corpus-scale to vocabulary-scale. truth's other consumers (estimate
    # keys + final join) read the pin too (was 5 scans / 3 explodes).
    truth = pin(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt")))
    sk = cm_sketch(
        truth, "tok", depth=_CM_DEPTH, width=_CM_WIDTH, hash_family="md5_60",
        weight="true_cnt",
    )
    est = cm_estimate(truth, "tok", sk, _CM_DEPTH, _CM_WIDTH, hash_family="md5_60")
    return (
        truth.join(est, "tok")
        .select("tok", "true_cnt", "cm_est")
        .orderBy(F.desc("cm_est"), F.asc("tok"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Typo clustering (operators/dedup.edit1_token_pairs): SymSpell deletion-
# neighborhood blocking at its canonical max_edit_distance=2 — tokens within
# Levenshtein 2 share a delete-(<=2) variant, so one equi-join on the variant
# key replaces the O(n²) pairwise scan; exact levenshtein verifies
# candidates. Both engines run the identical transform/substr variant
# generator and char-based levenshtein.

SQL_TOKEN_EDIT_PAIRS = r"""
WITH toks AS (
  SELECT DISTINCT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents
),
tk AS (SELECT tok FROM toks WHERE length(tok) >= 4),
d1 AS (
  SELECT tok, list_transform(range(1, length(tok) + 1),
                i -> substr(tok, 1, i - 1) || substr(tok, i + 1, length(tok))) AS dels
  FROM tk
),
vr AS (
  SELECT DISTINCT tok,
         unnest(list_concat(
           list_append(dels, tok),
           flatten(list_transform(dels,
             v -> list_transform(range(1, length(v) + 1),
                    i -> substr(v, 1, i - 1) || substr(v, i + 1, length(v))))))) AS var
  FROM d1
),
cand AS (
  SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
  FROM vr a JOIN vr b ON a.var = b.var AND a.tok < b.tok
)
SELECT tok_a, tok_b, CAST(levenshtein(tok_a, tok_b) AS BIGINT) AS dist
FROM cand WHERE levenshtein(tok_a, tok_b) <= 2
"""


@register("token_edit_pairs", SQL_TOKEN_EDIT_PAIRS, doc="edit-distance<=2 vocabulary pairs via SymSpell delete-neighborhood blocking (no cross join)", tags=("text", "dedup"))
def q_token_edit_pairs(spark, sf_dir):
    from ..operators.dedup import edit1_token_pairs

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE)).alias("tok")
    )
    return edit1_token_pairs(toks, "tok", max_dist=2)


# ---------------------------------------------------------------------------
# Round-3 data-mixing additions (operators/sampling.py): temperature-based
# source weights and per-source length-tail outliers.

SQL_SOURCE_MIXTURE = """
WITH n AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
w AS (SELECT source, n_docs, POW(CAST(n_docs AS DOUBLE), 0.5) AS w_raw FROM n)
SELECT source, n_docs,
       w_raw / SUM(w_raw) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS weight,
       w_raw / SUM(w_raw) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         * CAST(SUM(n_docs) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE) AS expected_docs
FROM w
ORDER BY source
"""


@register("source_mixture_weights", SQL_SOURCE_MIXTURE, doc="temperature-based (n^0.5) per-source sampling weights — data-mixing plan for training epochs", tags=("sampling",))
def q_source_mixture(spark, sf_dir):
    from ..operators.sampling import source_mixture_weights

    return source_mixture_weights(t(spark, sf_dir, "documents"), "source", alpha=0.5)


SQL_LENGTH_OUTLIERS = """
WITH b AS (
  SELECT doc_id, source, n_chars,
         CAST(NTILE(20) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id, source, n_chars, bucket FROM b WHERE bucket = 1 OR bucket = 20
"""


@register("length_outliers", SQL_LENGTH_OUTLIERS, doc="per-source NTILE length-tail outliers (CCNet-style per-domain trimming, deterministic vs interpolated percentiles)", tags=("sampling", "window"))
def q_length_outliers(spark, sf_dir):
    from ..operators.sampling import length_outliers

    return length_outliers(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Ranking / retrieval: inverted-index shapes (explode -> tf/df -> join) a
# training-data pipeline needs for relevance scoring and corpus search.
# Scale notes: every shuffle is keyed (doc_id) or (token) — both
# high-cardinality; the tiny term-side dims are left ungated for AQE to
# broadcast at runtime; the corpus-level scalars attach via scalar_join
# (BroadcastHashJoin, never a nested loop).

SQL_TFIDF_TOP_TERMS = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
), df AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), n AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         CAST(FLOOR(tf.tf * ln(n_docs / df.df) * 1000000) AS BIGINT) AS score_micro
  FROM tf JOIN df USING (token) CROSS JOIN n
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, token) AS BIGINT) AS rk
  FROM scored
)
SELECT doc_id, rk, token, tf, score_micro FROM ranked WHERE rk <= 5
"""


@register("tfidf_top_terms", SQL_TFIDF_TOP_TERMS, doc="per-document top-5 terms by TF-IDF (inverted-index tf/df join)", tags=("text", "ranking"))
def q_tfidf_top_terms(spark, sf_dir):
    from pyspark.sql.window import Window as W

    from .registry import dim_join, scalar_join

    d = t(spark, sf_dir, "documents")
    # NOT spread (measured, r11): plain-tokenize map work is too cheap to
    # amortize the added exchange at sf0.1 — warm median 0.78 -> 0.94 s
    # with spread(d, doc_id). Only the md5-gram entries (bloom/
    # source_overlap/novelty/winnow) win from pre-exchange spreading.
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE)).alias("token"),
    )

    # `tf` feeds two consumers (the df rollup and the scored probe side);
    # unpinned, each re-runs the corpus-wide token explode + pre-agg from
    # the parquet text. Pin the (doc,token,tf) inverted index — it is the
    # shared intermediate of the whole query (lm_perplexity precedent).
    tf = pin(tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # Fixed-point micro-score: ln() is libm-dependent (JVM vs DuckDB differ
    # by 1 ulp on some inputs), so the raw double is NOT cross-engine
    # bit-stable. floor(score * 1e6) as BIGINT is — and ranking by it keeps
    # the ordering identical too.
    scored = scalar_join(dim_join(tf, df_, "token"), "doc_id", n).withColumn(
        "score_micro",
        F.floor(F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1000000).cast("long"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_micro"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "rk", "token", "tf", "score_micro")
    )


#: BM25 query terms and parameters (k1=1.2, b=0.75) shared by the Spark
#: plan and the oracle; k1+1 is written as the folded literal 2.2 in both
#: so the IEEE evaluation order is identical.
BM25_TERMS = ("spark", "join", "stream")

#: The IN-list and pivot arms are GENERATED from BM25_TERMS so the constant
#: stays the single source of truth for both engines (hand-inlined literals
#: would silently desynchronize the oracle on any term change).
_BM25_IN = ", ".join(f"'{term}'" for term in BM25_TERMS)
_BM25_ARMS = "\n         + ".join(
    f"COALESCE(MAX(CASE WHEN token = '{term}' THEN s END), 0)" for term in BM25_TERMS
)

SQL_BM25_SEARCH = rf"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
), dl AS (
  SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS dl
  FROM documents
), stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, CAST(COUNT(*) AS DOUBLE) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE token IN ({_BM25_IN}) GROUP BY 1, 2
), df AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), part_scores AS (
  SELECT tf.doc_id, tf.token,
         ln(1 + (n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
), pivoted AS (
  SELECT doc_id,
         CAST(FLOOR((
           {_BM25_ARMS}) * 1000000) AS BIGINT) AS score_micro
  FROM part_scores GROUP BY 1
)
SELECT doc_id, score_micro FROM pivoted ORDER BY score_micro DESC, doc_id LIMIT 20
"""


@register("bm25_search", SQL_BM25_SEARCH, doc="BM25 top-20 corpus search for a fixed term set", tags=("text", "ranking", "topk"))
def q_bm25_search(spark, sf_dir):
    from .registry import dim_join, scalar_join

    d = t(spark, sf_dir, "documents")
    # NOT spread (measured, r11): 0.70 -> 0.76 s warm median with a
    # doc_id spread — tokenize-only map work doesn't amortize the
    # exchange at sf0.1 (see tfidf note).
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE)).alias("token"),
    )
    # Per-doc length is map-only — size(split(...)) counts the identical
    # token list without a corpus-wide explode + shuffle (the explode branch
    # below only feeds the term-filtered tf, which DuckDB and Catalyst both
    # prune to the IN-list before grouping).
    # `dl` feeds two consumers (the avgdl/n_docs stats and the per-doc
    # length join): pinned, the parquet text column — the expensive column
    # at scale — is read and tokenized for lengths once, and the pin is two
    # narrow columns per doc. `tf` feeds two consumers (df rollup + probe);
    # unpinned, each re-runs the corpus-wide explode; the term-filtered pin
    # is at most |terms| rows per doc, so it is bounded. The two pins are
    # independent corpus passes — overlap their jobs (guide §2.6) so the
    # second pass back-fills the first one's straggler tail.
    dl, tf = pin_all(
        d.select(
            "doc_id",
            F.size(F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE)).cast("long").alias("dl"),
        ),
        tok.filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf")),
    )
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    j = dim_join(tf, df_, "token").join(dl, "doc_id")
    j = scalar_join(j, "doc_id", stats)
    # Per-(doc, term) BM25 partial, IEEE evaluation order mirrored in the
    # oracle text exactly (2.2 is the folded k1+1).
    s = (
        F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    part = j.select("doc_id", "token", s.alias("s"))
    # Fixed-order sum of the per-term partials (a float SUM across shuffle
    # partitions would be order-dependent; three MAX-pivoted columns added
    # left-to-right are bit-stable in both engines).
    pivoted = part.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("token") == term, F.col("s"))).alias(f"_s_{i}")
            for i, term in enumerate(BM25_TERMS)
        ]
    )
    score = None
    for i in range(len(BM25_TERMS)):
        piece = F.coalesce(F.col(f"_s_{i}"), F.lit(0).cast("double"))
        score = piece if score is None else score + piece
    # Fixed-point micro-score for cross-engine bit-stability (ln is
    # libm-dependent); ordering by it keeps the top-20 cut identical.
    return (
        pivoted.select("doc_id", F.floor(score * 1000000).cast("long").alias("score_micro"))
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Substring-level dedup: windowed span hashing as the distributed analog of
# suffix-array substring dedup. md5_60 span hashes so the oracle reproduces
# the exact same dup set.

SQL_DUPLICATED_SPANS = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
), eligible AS (
  SELECT doc_id, toks FROM tok WHERE len(toks) >= 20
), win AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(array_to_string(toks[g:g+19], ' ')), 1, 15)) AS BIGINT) AS wh
  FROM eligible, unnest(generate_series(1, len(toks) - 19)) AS u(g)
), counts AS (
  SELECT wh, COUNT(DISTINCT doc_id) AS nd FROM win GROUP BY wh
)
SELECT doc_id,
       COUNT(*) AS n_windows,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*) AS dup_frac
FROM win JOIN counts USING (wh)
GROUP BY doc_id
"""


@register("duplicated_spans", SQL_DUPLICATED_SPANS, doc="cross-document duplicated 20-token spans per doc (suffix-array-style substring dedup)", tags=("text", "dedup"))
def q_duplicated_spans(spark, sf_dir):
    from ..operators.textclean import duplicated_spans

    d = t(spark, sf_dir, "documents")
    return duplicated_spans(d, window=20, hash_family="md5_60")


# ---------------------------------------------------------------------------
# Data profiling: one scan computes null/distinct/min/max per column (the
# "describe my table" primitive every pipeline needs before trusting a new
# source). The unpivot keeps it a single pass; values compare as strings so
# one output schema covers heterogeneous columns, and counts are exact so
# the oracle hash-matches.

_PROFILE_COLS = ("doc_id", "lang", "source", "n_chars")

SQL_PROFILE_DOCUMENTS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, COUNT(*) AS n_rows, COUNT({c}) AS n_notnull,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       MIN(CAST({c} AS VARCHAR)) AS min_str, MAX(CAST({c} AS VARCHAR)) AS max_str
FROM documents"""
    for c in _PROFILE_COLS
)


@register("profile_documents", SQL_PROFILE_DOCUMENTS, doc="one-pass per-column profile: null/distinct/min/max", tags=("profiling", "agg"))
def q_profile_documents(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(c).cast("string").alias("val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    unpivoted = d.select(F.explode(structs).alias("s")).select("s.column_name", "s.val")
    return unpivoted.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("val").alias("n_notnull"),
        F.countDistinct("val").alias("n_distinct"),
        F.min("val").alias("min_str"),
        F.max("val").alias("max_str"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing. The driver corpus contains no PII (word-soup text, no
# digits), so the entry PLANTS deterministic PII into a third of the
# documents — identical string construction on both engines — and verifies
# the scrub counts and the masked text value-for-value. The operator itself
# (textclean.scrub_pii) is pattern-for-pattern the production path.

from ..operators.textclean import CARD_RE, EMAIL_RE, IPV4_RE, PHONE_RE  # noqa: E402

_PII_PLANT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com "
    "via +1 555 123 4567 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
    "'.1 card 4111-1111-1111-1111'"
)

SQL_PII_SCRUB = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN {_PII_PLANT_SQL} ELSE text END AS text
  FROM documents
), s AS (
  SELECT doc_id, text,
         regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS t1
  FROM planted
), s2 AS (
  SELECT *, regexp_replace(t1, '{CARD_RE}', '<CARD>', 'g') AS t2 FROM s
), s3 AS (
  SELECT *, regexp_replace(t2, '{IPV4_RE}', '<IP>', 'g') AS t3 FROM s2
), s4 AS (
  SELECT *, regexp_replace(t3, '{PHONE_RE}', '<PHONE>', 'g') AS t4 FROM s3
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t1, '{CARD_RE}')) AS BIGINT) AS n_cards,
       CAST(len(regexp_extract_all(t2, '{IPV4_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t3, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(length(t4) AS BIGINT) AS clean_len,
       t4 AS scrubbed_text
FROM s4
"""


@register(
    "pii_scrub",
    SQL_PII_SCRUB,
    doc="PII redaction (email/card/IPv4/phone) with per-class counts; deterministic planted PII since the driver corpus has none",
    tags=("text", "cleaning"),
)
def q_pii_scrub(spark, sf_dir):
    from ..operators.textclean import scrub_pii

    d = t(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via +1 555 123 4567 from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 card 4111-1111-1111-1111"),
        ),
    ).otherwise(F.col("text"))
    out = scrub_pii(d.select("doc_id", planted.alias("text")))
    return out.select(
        "doc_id",
        "n_emails",
        "n_cards",
        "n_ips",
        "n_phones",
        F.length("scrubbed_text").cast("long").alias("clean_len"),
        "scrubbed_text",
    )


# ---------------------------------------------------------------------------
# Corpus-level exact segment dedup (C4's line-dedup shape). seg_tokens=3 on
# this corpus: the testdata vocabulary is ~30 words, so 3-token segments
# actually collide across documents and the keep/drop logic is exercised;
# the production default (10) would make every segment unique here.

SQL_SEGMENT_DEDUP = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
), segs AS (
  SELECT doc_id, unnest(range((len(t) + 2) // 3)) AS seg_idx, t FROM tok
), seg AS (
  SELECT doc_id, seg_idx,
         array_to_string(list_slice(t, seg_idx * 3 + 1, (seg_idx + 1) * 3), ' ') AS seg
  FROM segs
), marked AS (
  SELECT doc_id, seg_idx, seg,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS keep
  FROM seg
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE keep), '') AS clean_text
FROM marked GROUP BY doc_id
"""


@register(
    "segment_dedup",
    SQL_SEGMENT_DEDUP,
    doc="corpus-level exact segment dedup (C4 line-dedup shape): keep first occurrence, rebuild documents",
    tags=("dedup", "cleaning"),
)
def q_segment_dedup(spark, sf_dir):
    from ..operators.textclean import segment_dedup

    return segment_dedup(t(spark, sf_dir, "documents"), seg_tokens=3)


# ---------------------------------------------------------------------------
# Bigram language model + per-document surprisal (the CCNet/KenLM quality
# family): train add-one-smoothed bigram counts on the corpus itself, score
# every document's average negative log-probability. High xent = unusual
# word sequences (spam/garbled); low = boilerplate. Everything before the
# final ln() is exact integer arithmetic; the per-(doc,bigram) float terms
# are micro-floored to BIGINT before summation (the tfidf/bm25 precedent),
# so per-doc totals are order-independent and cross-engine bit-stable.

SQL_LM_PERPLEXITY = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
), big AS (
  SELECT doc_id, unnest(range(1, len(t))) AS i, t FROM tok WHERE len(t) >= 2
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM big
), inst AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS m FROM bg GROUP BY 1, 2, 3
), c12 AS (
  SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS c12 FROM inst GROUP BY 1, 2
), c1 AS (
  SELECT w1, CAST(SUM(m) AS BIGINT) AS c1 FROM inst GROUP BY 1
), vocab AS (
  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token FROM documents)
), scored AS (
  SELECT inst.doc_id, inst.m,
         CAST(FLOOR(inst.m * ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + vocab.v)) * 1000000) AS BIGINT) AS term_micro
  FROM inst JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
)
SELECT doc_id,
       CAST(SUM(m) AS BIGINT) AS n_bigrams,
       CAST(-SUM(term_micro) AS BIGINT) AS nll_micro,
       CAST(FLOOR(CAST(-SUM(term_micro) AS DOUBLE) / SUM(m)) AS BIGINT) AS xent_micro
FROM scored GROUP BY doc_id
"""


@register(
    "lm_perplexity",
    SQL_LM_PERPLEXITY,
    doc="add-one-smoothed bigram LM trained on the corpus; per-document surprisal (micro-nats, order-independent fixed-point)",
    tags=("text", "quality", "lm"),
)
def q_lm_perplexity(spark, sf_dir):
    from .registry import dim_join, scalar_join

    d = t(spark, sf_dir, "documents")
    # NOT spread (measured, r11): 1.37 -> 1.73 s warm median with a
    # doc_id spread — the bigram struct explode is cheap enough that the
    # added exchange dominates at sf0.1 (see tfidf note).
    toks = d.select("doc_id", F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE).alias("t"))
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))")
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )

    # `inst` feeds THREE consumers (the scored probe side, c12, c1); without
    # a pin each consumer re-runs the corpus-scale bigram explode + pre-agg
    # from the parquet text (measured: three Generate subtrees in the
    # physical plan — the explode is the dominant cost at scale and ran 3x).
    # Pinning the (doc,w1,w2,m) pre-agg — already shrunk to bigram-type
    # cardinality — computes it once (the duplicated_spans precedent).
    inst = pin(bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("m")))
    # Model counts are vocabulary-scale (V and V² bounded), not corpus-scale:
    # both roll up from `inst`, which the (doc,w1,w2) pre-agg has already
    # shrunk, and both get map-side partials.
    c12 = inst.groupBy("w1", "w2").agg(F.sum("m").alias("c12"))
    c1 = inst.groupBy("w1").agg(F.sum("m").alias("c1"))
    vocab = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE)).alias("token")
    ).agg(F.countDistinct("token").alias("v"))
    j = dim_join(dim_join(inst, c12, ["w1", "w2"]), c1, "w1")
    j = scalar_join(j, "doc_id", vocab)
    # Identical IEEE evaluation order to the oracle: m * ln((c12+1)/(c1+v)) * 1e6.
    term_micro = F.floor(
        F.col("m")
        * F.log((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")))
        * F.lit(1000000)
    ).cast("long")
    per_doc = j.select("doc_id", "m", term_micro.alias("term_micro")).groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"), (-F.sum("term_micro")).alias("nll_micro")
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "nll_micro",
        F.floor(F.col("nll_micro").cast("double") / F.col("n_bigrams")).cast("long").alias("xent_micro"),
    )


# ---------------------------------------------------------------------------
# Linear quality classifier — the fasttext-shaped stage that sits after the
# heuristic quality_score rules in a real pipeline: hand-crafted features
# through a FIXED logistic model (published-weights pattern; the sandbox has
# no fasttext, and the point is the plan shape, not the weights). Every
# feature is map-only (no shuffle anywhere), and the sigmoid is
# micro-floored for cross-libm stability (exp/ln precedent).

#: Fixed logistic weights: bias, stopword_ratio, avg_word_len, dup_ratio,
#: ln(n_tokens). Shared literal-for-literal with the oracle SQL.
QC_WEIGHTS = (-2.0, 3.0, 0.4, -2.5, 0.2)

SQL_QUALITY_CLASSIFIER = rf"""
WITH f AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS n_distinct,
         CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS n_stop,
         CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_word_chars
  FROM documents
), s AS (
  SELECT doc_id, n_tokens,
         {QC_WEIGHTS[0]} + {QC_WEIGHTS[1]} * (CAST(n_stop AS DOUBLE) / n_tokens)
                         + {QC_WEIGHTS[2]} * (CAST(n_word_chars AS DOUBLE) / n_tokens)
                         + ({QC_WEIGHTS[3]}) * (1.0 - CAST(n_distinct AS DOUBLE) / n_tokens)
                         + {QC_WEIGHTS[4]} * ln(CAST(n_tokens AS DOUBLE)) AS z
  FROM f
)
SELECT doc_id, n_tokens,
       CAST(FLOOR(1000000 / (1 + exp(-z))) AS BIGINT) AS prob_micro,
       CAST(FLOOR(1000000 / (1 + exp(-z))) AS BIGINT) >= 500000 AS keep
FROM s
"""


@register(
    "quality_classifier",
    SQL_QUALITY_CLASSIFIER,
    doc="fixed-weight logistic quality classifier over map-only features (stopword/word-len/dup ratios, log length); micro-floored sigmoid",
    tags=("text", "quality"),
)
def q_quality_classifier(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE)
    f = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.regexp_count(F.lower(F.col("text")), F.lit(STOPWORDS_RE)).cast("long").alias("n_stop"),
        F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast("long").alias("n_word_chars"),
    )
    w0, w1, w2, w3, w4 = QC_WEIGHTS
    # Identical IEEE evaluation order to the oracle: left-to-right sum of
    # the four weighted terms onto the bias.
    z = (
        F.lit(w0)
        + F.lit(w1) * (F.col("n_stop").cast("double") / F.col("n_tokens"))
        + F.lit(w2) * (F.col("n_word_chars").cast("double") / F.col("n_tokens"))
        + F.lit(w3) * (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"))
        + F.lit(w4) * F.log(F.col("n_tokens").cast("double"))
    )
    prob_micro = F.floor(F.lit(1000000) / (F.lit(1) + F.exp(-z))).cast("long")
    return f.select(
        "doc_id",
        "n_tokens",
        prob_micro.alias("prob_micro"),
        (prob_micro >= 500000).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle + shard assignment — the stage that
# feeds export_jsonl(partition_cols=["shard"]). Shard and position are pure
# functions of the row id (two independent md5_60 hashes), so the "random"
# order is reproducible across runs, engines, and cluster layouts.

SQL_SHUFFLE_SHARD = f"""
WITH h AS (
  SELECT doc_id,
         {_h60_sql('shuffle-v1')} % 16 AS shard,
         {_h60_sql('shuffle-v1:order')} AS ord
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
FROM h
"""


@register(
    "shuffle_shard",
    SQL_SHUFFLE_SHARD,
    doc="deterministic global pseudorandom training order: hash-derived shard (16) + in-shard position, reproducible across engines",
    tags=("sampling", "export"),
)
def q_shuffle_shard(spark, sf_dir):
    from ..operators.sampling import training_order

    return training_order(t(spark, sf_dir, "documents"), n_shards=16, salt="shuffle-v1")


# ---------------------------------------------------------------------------
# Boilerplate stripping (CCNet/RefinedWeb frequent-line removal). Policy
# complement of segment_dedup: segments in > max_docs DISTINCT documents are
# dropped from EVERY document (segment_dedup keeps the first occurrence).
# seg_tokens=3 / max_docs=2 on this corpus: 248 of 7.6k distinct segments at
# sf0.001 cross the threshold, so the strip path is genuinely exercised.

SQL_BOILERPLATE_STRIP = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
), segs AS (
  SELECT doc_id, unnest(range((len(t) + 2) // 3)) AS seg_idx, t FROM tok
), seg AS (
  SELECT doc_id, seg_idx,
         array_to_string(list_slice(t, seg_idx * 3 + 1, (seg_idx + 1) * 3), ' ') AS seg
  FROM segs
), freq AS (
  SELECT seg FROM (
    SELECT seg, COUNT(DISTINCT doc_id) AS d FROM seg GROUP BY seg
  ) WHERE d > 2
), marked AS (
  SELECT s.doc_id, s.seg_idx, s.seg, f.seg IS NULL AS keep
  FROM seg s LEFT JOIN freq f USING (seg)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_boiler,
       COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE keep), '') AS clean_text
FROM marked GROUP BY doc_id
"""


@register(
    "boilerplate_strip",
    SQL_BOILERPLATE_STRIP,
    doc="CCNet-style boilerplate removal: segments in >2 distinct documents dropped from every document",
    tags=("text", "cleaning"),
)
def q_boilerplate_strip(spark, sf_dir):
    from ..operators.textclean import boilerplate_strip

    return boilerplate_strip(t(spark, sf_dir, "documents"), seg_tokens=3, max_docs=2)


# ---------------------------------------------------------------------------
# Per-source token-budget sampling — materializing a training mixture once
# per-source budgets are decided (source_mixture_weights computes targets;
# this selects the documents). Selection = hash-ordered greedy prefix with
# integer cumulative sums, so the oracle reproduces the exact set. budget=700
# keeps roughly half of each ~1.3k-token source at sf0.01 and ~5% at sf0.1.

SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         {_h60_sql('budget-v1')} AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_tokens
  FROM d
)
SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= 700
"""


@register(
    "token_budget_sample",
    SQL_TOKEN_BUDGET_SAMPLE,
    doc="deterministic per-source token-budget sample: hash-ordered greedy prefix until 700 tokens per source",
    tags=("sampling",),
)
def q_token_budget_sample(spark, sf_dir):
    from ..operators.sampling import token_budget_sample

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), TOKEN_SPLIT_RE)).cast("long").alias("n_tokens"),
    )
    return token_budget_sample(d, budget=700, salt="budget-v1")


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS): k-gram hashes,
# rightmost-min per sliding window — the selection rule is an ordered
# struct-min, which DuckDB evaluates with identical lexicographic semantics,
# and md5_60 gram hashes make the VALUES engine-portable. k=3/window=4 on
# the ~30-word testdata vocabulary yields dense cross-document matches.

SQL_WINNOW_FINGERPRINTS = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
), grams AS (
  SELECT doc_id, unnest(range(1, len(t) - 1)) AS pos, t
  FROM tok WHERE len(t) >= 3
), hashed AS (
  SELECT doc_id, pos,
         CAST(('0x' || substr(md5(array_to_string(list_slice(t, pos, pos + 2), ' ')), 1, 15)) AS BIGINT) AS h
  FROM grams
), sel AS (
  SELECT doc_id,
         min(struct_pack(h := h, negpos := -pos)) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
         ) AS m
  FROM hashed
)
SELECT DISTINCT doc_id,
       CAST(-struct_extract(m, 'negpos') AS BIGINT) AS pos,
       struct_extract(m, 'h') AS gram_hash
FROM sel
"""


@register(
    "winnow_fingerprints",
    SQL_WINNOW_FINGERPRINTS,
    doc="winnowing (MOSS) fingerprints: rightmost-min 3-gram hash per 4-gram window, guaranteed to catch >=6-token overlaps",
    tags=("text", "dedup"),
)
def q_winnow_fingerprints(spark, sf_dir):
    from ..operators.dedup import winnow_fingerprints

    return winnow_fingerprints(
        t(spark, sf_dir, "documents"), k=3, window=4, hash_family="md5_60"
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023) — hashed-unigram target/raw
# log-likelihood ratio per document. md5_60 bucket hashing so the whole
# model (bucket counts -> smoothed log-ratio -> per-doc sum) is reproduced
# bit-for-bit by the oracle; per-bucket terms micro-floored to BIGINT
# before summation (lm_perplexity precedent).

_DSIR_B = 65536

SQL_DSIR_WEIGHTS = rf"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS tgt,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
), tk AS (
  SELECT doc_id, tgt,
         CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) % {_DSIR_B} AS bucket
  FROM tok
), inst AS (
  SELECT doc_id, tgt, bucket, CAST(COUNT(*) AS BIGINT) AS m FROM tk GROUP BY 1, 2, 3
), stats AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN tgt THEN m ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(m) AS BIGINT) AS cr
  FROM inst GROUP BY bucket
), tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr FROM stats
), lam AS (
  SELECT bucket,
         CAST(FLOOR(ln(CAST(ct + 1 AS DOUBLE) * (nr + {_DSIR_B})
                       / ((cr + 1) * (nt + {_DSIR_B}))) * 1000000) AS BIGINT) AS lam_micro
  FROM stats CROSS JOIN tot
)
, per_doc AS (
  SELECT doc_id,
         CAST(SUM(m) AS BIGINT) AS n_tokens,
         CAST(SUM(m * lam_micro) AS BIGINT) AS dsir_micro,
         CAST(FLOOR(CAST(SUM(m * lam_micro) AS DOUBLE) / SUM(m)) AS BIGINT) AS avg_micro
  FROM inst JOIN lam USING (bucket)
  GROUP BY doc_id
), corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(avg_micro) AS BIGINT) AS tot_avg
  FROM per_doc
)
SELECT doc_id, n_tokens, dsir_micro, avg_micro,
       avg_micro * n_docs > tot_avg AS keep
FROM per_doc CROSS JOIN corpus
"""


@register(
    "dsir_weights",
    SQL_DSIR_WEIGHTS,
    doc="DSIR importance weights: hashed-unigram target(lang=en)/raw log-ratio per doc, micro-floored (arXiv:2302.03169)",
    tags=("sampling", "quality", "text"),
)
def q_dsir_weights(spark, sf_dir):
    from ..operators.sampling import dsir_weights

    return dsir_weights(
        t(spark, sf_dir, "documents"),
        target=F.col("lang") == "en",
        buckets=_DSIR_B,
        hash_family="md5_60",
    )


# ---------------------------------------------------------------------------
# DSIR resampling — the "R": Gumbel top-k over the importance weights picks
# k documents with probability proportional to exp(log-ratio). Noise is a
# pure function of doc_id (md5_60), so the selected SET is deterministic
# and the oracle reproduces key derivation, ranking, and cutoff exactly.

_DSIR_K = 100

SQL_DSIR_RESAMPLE = rf"""
WITH dsir AS (
  {SQL_DSIR_WEIGHTS.replace(chr(10), chr(10) + '  ')}
), keyed AS (
  SELECT doc_id, dsir_micro,
         dsir_micro + CAST(FLOOR(-ln(-ln(
             CAST(CAST(('0x' || substr(md5('gumbel-v1|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS DOUBLE)
             / CAST(1152921504606846977 AS DOUBLE)
         )) * 1000000) AS BIGINT) AS gumbel_key_micro
  FROM dsir
)
SELECT doc_id, dsir_micro, gumbel_key_micro
FROM keyed
QUALIFY ROW_NUMBER() OVER (ORDER BY gumbel_key_micro DESC, doc_id ASC) <= {_DSIR_K}
"""


@register(
    "dsir_resample",
    SQL_DSIR_RESAMPLE,
    doc="DSIR importance resampling: Gumbel top-k (deterministic md5 noise) over the hashed-unigram log-ratio weights",
    tags=("sampling", "quality"),
)
def q_dsir_resample(spark, sf_dir):
    from ..operators.sampling import dsir_weights, gumbel_topk_sample

    w = dsir_weights(
        t(spark, sf_dir, "documents"),
        target=F.col("lang") == "en",
        buckets=_DSIR_B,
        hash_family="md5_60",
    ).select("doc_id", "dsir_micro")
    return gumbel_topk_sample(w, k=_DSIR_K, salt="gumbel-v1")


# ---------------------------------------------------------------------------
# Span-level decontamination — the removal half of ngram_contamination:
# scrub every test-corpus word n-gram out of the train documents (GPT-3
# appendix-C / FineWeb recipe). n=4 on this corpus: the synthetic 31-token
# vocabulary makes 4 the gram size where removal is genuinely exercised
# (real pipelines run 13-grams; the plan is gram-size-independent).

_DC_N = 4

SQL_DECONTAMINATE_SPANS = f"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN {_h60_sql('split')} < {_thr(0.9)} THEN 'train'
              WHEN {_h60_sql('split')} < {_thr(0.95)} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
tokd AS (
  SELECT doc_id, split, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM s WHERE split IN ('train', 'test')
),
te_set AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
  FROM (
    SELECT unnest(CASE WHEN len(toks) >= {_DC_N}
                  THEN list_transform(range(1, len(toks) - {_DC_N} + 2),
                                      i -> array_to_string(toks[i:i+{_DC_N}-1], ' '))
                  ELSE CAST([] AS VARCHAR[]) END) AS gram
    FROM tokd WHERE split = 'test'
  )
),
tr_grams AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(md5(array_to_string(toks[i:i+{_DC_N}-1], ' ')), 1, 15)) AS BIGINT) AS gram_h
  FROM (
    SELECT doc_id, toks, unnest(range(1, len(toks) - {_DC_N} + 2)) AS i
    FROM tokd WHERE split = 'train' AND len(toks) >= {_DC_N}
  )
),
hits AS (
  SELECT doc_id, i FROM tr_grams JOIN te_set USING (gram_h)
),
st AS (
  SELECT doc_id, list(i) AS starts FROM hits GROUP BY doc_id
),
joined AS (
  SELECT t.doc_id, t.toks, COALESCE(st.starts, CAST([] AS BIGINT[])) AS starts
  FROM tokd t LEFT JOIN st USING (doc_id)
  WHERE t.split = 'train'
),
kept AS (
  SELECT doc_id, toks,
         list_filter(range(1, len(toks) + 1),
                     i -> len(list_filter(starts, s -> i >= s AND i < s + {_DC_N})) = 0) AS keep_idx
  FROM joined
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(toks) - len(keep_idx) AS BIGINT) AS n_removed,
       COALESCE(array_to_string(list_transform(keep_idx, i -> toks[i]), ' '), '') AS clean_text
FROM kept
"""


@register(
    "decontaminate_spans",
    SQL_DECONTAMINATE_SPANS,
    doc="span-level test-set decontamination: remove every test-corpus word n-gram from train docs (GPT-3/FineWeb recipe)",
    tags=("text", "dedup", "cleaning", "sampling"),
)
def q_decontaminate_spans(spark, sf_dir):
    from ..operators.sampling import with_split
    from ..operators.textclean import decontaminate_spans

    d = t(spark, sf_dir, "documents")
    s = with_split(d, {"train": 0.9, "val": 0.05, "test": 0.05}, salt="split")
    return decontaminate_spans(
        s.filter(F.col("split") == "train"),
        s.filter(F.col("split") == "test"),
        n=_DC_N,
        family="md5_60",
    )


# ---------------------------------------------------------------------------
# URL-level dedup — the curation stage BEFORE any text dedup in a web-scale
# pipeline: mirrors / refetches / tracking-tagged shares of one page collapse
# by canonical URL (operators/urls.py). The driver corpus has no URL column,
# so the entry PLANTS deterministic messy URLs — identical string
# construction on both engines (the pii_scrub precedent): scheme/host case,
# www., default :443 port, trailing slash, utm_* params, fragments all vary
# while only (host mirror d%4, article d%7, ref d%2) decide the canonical →
# 28 canonical classes, so keep/drop is genuinely exercised at every SF.

_URL_PLANT_SQL = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) || "
    "(CASE WHEN doc_id % 4 < 2 THEN 'WWW.' ELSE '' END) || "
    "'Mirror' || CAST(doc_id % 4 AS VARCHAR) || '.Example.COM' || "
    "(CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) || "
    "'/Articles/' || CAST(doc_id % 7 AS VARCHAR) || "
    "(CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) || "
    "'?utm_source=feed&ref=' || CAST(doc_id % 2 AS VARCHAR) || "
    "(CASE WHEN doc_id % 2 = 0 THEN '&utm_campaign=x' ELSE '' END) || "
    "(CASE WHEN doc_id % 11 = 0 THEN '#Section' ELSE '' END)"
)

SQL_URL_DEDUP = f"""
WITH planted AS (
  SELECT doc_id, {_URL_PLANT_SQL} AS url FROM documents
), parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
         regexp_extract(url, '\\?([^#]*)', 1) AS rawq
  FROM planted
), canon AS (
  SELECT doc_id, url, scheme,
         CASE WHEN scheme = 'http' THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':443$', '')
              ELSE regexp_replace(hostport, '^www\\.', '') END AS host,
         CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
              ELSE regexp_replace(rawpath, '/+$', '') END AS path,
         array_to_string(list_sort(list_filter(string_split(rawq, '&'),
             p -> p <> '' AND NOT regexp_matches(p, '^(utm_|fbclid|gclid)'))), '&') AS q
  FROM parts
), tagged AS (
  SELECT doc_id, url,
         scheme || '://' || host || path ||
           (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canonical_url,
         regexp_replace(regexp_replace(lower(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', ''),
             ':[0-9]+$', '') AS host
  FROM canon
)
SELECT doc_id, url, canonical_url, host,
       doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url) AS keep
FROM tagged
"""


@register(
    "url_dedup",
    SQL_URL_DEDUP,
    doc="canonical-URL dedup (lowercase scheme/host, strip www/default port/fragment/trailing slash/utm params, sort query): keep first doc per canonical URL",
    tags=("dedup", "cleaning", "text"),
)
def q_url_dedup(spark, sf_dir):
    from ..operators.urls import url_dedup

    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(did % 4 < 2, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Mirror"),
        (did % 4).cast("string"),
        F.lit(".Example.COM"),
        F.when(did % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Articles/"),
        (did % 7).cast("string"),
        F.when(did % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&ref="),
        (did % 2).cast("string"),
        F.when(did % 2 == 0, F.lit("&utm_campaign=x")).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit("#Section")).otherwise(F.lit("")),
    )
    return url_dedup(d.select("doc_id", planted.alias("url"))).select(
        "doc_id", "url", "canonical_url", "host", "keep"
    )


# ---------------------------------------------------------------------------
# Per-document n-gram novelty: share of a document's distinct word 3-grams
# whose first corpus occurrence (min doc_id) is this document — the
# curriculum / memorization-analysis signal. Grams hash to md5_60 longs
# before the shuffle (ngram_contamination precedent); ppm is exact integer.

SQL_NGRAM_NOVELTY = r"""
WITH tokd AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
), grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM tokd
), gh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
  FROM grams
), f AS (
  SELECT gram_h, MIN(doc_id) AS first_doc FROM gh GROUP BY gram_h
)
SELECT gh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = gh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(FLOOR(SUM(CASE WHEN f.first_doc = gh.doc_id THEN 1 ELSE 0 END) * 1000000
                  / COUNT(*)) AS BIGINT) AS novelty_ppm
FROM gh JOIN f USING (gram_h)
GROUP BY gh.doc_id
"""


@register(
    "ngram_novelty",
    SQL_NGRAM_NOVELTY,
    doc="per-document novelty: ppm of distinct word 3-grams first seen in this document (curriculum/memorization signal)",
    tags=("text", "dedup", "profiling"),
)
def q_ngram_novelty(spark, sf_dir):
    from ..operators.textclean import ngram_novelty

    return ngram_novelty(t(spark, sf_dir, "documents"), n=3, family="md5_60")


# ---------------------------------------------------------------------------
# Token-distribution drift (PSI) between the train and test splits — the
# snapshot-over-snapshot data-quality monitor. Buckets: top-20 tokens by
# combined count (ties: token asc) + __other__; add-one smoothing over the
# live bucket count; per-bucket terms micro-floored to x1e9 BIGINTs in a
# fixed operation order (lm_perplexity precedent).

SQL_TOKEN_DRIFT_PSI = f"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN {_h60_sql('split')} < {_thr(0.9)} THEN 'train'
              WHEN {_h60_sql('split')} < {_thr(0.95)} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
tok AS (
  SELECT split, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM s WHERE split IN ('train', 'test')
),
c AS (
  SELECT token,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
  FROM tok GROUP BY token
),
top AS (
  SELECT token FROM c ORDER BY n_train + n_test DESC, token ASC LIMIT 20
),
bucketed AS (
  SELECT CASE WHEN c.token IN (SELECT token FROM top) THEN c.token
              ELSE '__other__' END AS bucket,
         CAST(SUM(n_train) AS BIGINT) AS n_train,
         CAST(SUM(n_test) AS BIGINT) AS n_test
  FROM c GROUP BY 1
),
calc AS (
  SELECT bucket, n_train, n_test,
         CAST(n_train + 1 AS DOUBLE) / CAST(SUM(n_train) OVER () + COUNT(*) OVER () AS DOUBLE) AS p,
         CAST(n_test + 1 AS DOUBLE) / CAST(SUM(n_test) OVER () + COUNT(*) OVER () AS DOUBLE) AS q
  FROM bucketed
)
SELECT bucket AS token, n_train, n_test,
       CAST(FLOOR(((p - q) * ln(p / q)) * 1000000000.0) AS BIGINT) AS psi_x1e9
FROM calc
"""


@register(
    "token_drift_psi",
    SQL_TOKEN_DRIFT_PSI,
    doc="population stability index of token distributions between train and test splits (top-20 buckets + __other__, add-one smoothed)",
    tags=("text", "profiling", "sampling"),
)
def q_token_drift_psi(spark, sf_dir):
    from ..operators.sampling import with_split
    from ..operators.textclean import token_psi

    d = t(spark, sf_dir, "documents")
    s = with_split(d, {"train": 0.9, "val": 0.05, "test": 0.05}, salt="split")
    return token_psi(
        s.filter(F.col("split") == "train"),
        s.filter(F.col("split") == "test"),
        top_k=20,
        side_a="n_train",
        side_b="n_test",
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters over corpus tokens — the sketch-family entry
# for "which tokens exceed an eps share of the stream" (k counters per
# partition, union+SUM merge; see operators/sketches.py). Sketch STATE is
# partition-layout-dependent, so the entry is SELF-VALIDATING (the
# kll_value_quantiles precedent): the oracle pins n, the exact count of
# guaranteed-present items (true > n DIV (k+1)), and TRUE for the three
# guarantee flags; any regression in the summary flips a boolean and the
# driver row goes red.

_MG_K = 64

SQL_HEAVY_HITTER_TOKENS = rf"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS item
  FROM documents
),
tc AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY item),
nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tc)
SELECT CAST({_MG_K} AS BIGINT) AS k, (SELECT n FROM nn) AS n,
       CAST((SELECT COUNT(*) FROM tc WHERE c > (SELECT n FROM nn) // ({_MG_K} + 1)) AS BIGINT) AS n_true_heavy,
       TRUE AS all_heavy_present, TRUE AS no_overcount, TRUE AS undercount_ok
"""


@register(
    "heavy_hitter_tokens",
    SQL_HEAVY_HITTER_TOKENS,
    doc=f"mergeable Misra-Gries heavy-hitters summary (k={_MG_K}) over corpus tokens: guaranteed-present set + no-overcount + undercount-bound flags, oracle-pinned",
    tags=("sketch", "text"),
)
def q_heavy_hitter_tokens(spark, sf_dir):
    from ..operators.sketches import mg_heavy_hitters_check

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE)).alias("item")
    )
    out = mg_heavy_hitters_check(toks, "item", k=_MG_K)
    return out.select(
        F.col("k").cast("long").alias("k"),
        "n",
        "n_true_heavy",
        "all_heavy_present",
        "no_overcount",
        "undercount_ok",
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the sketch-backed variant of
# ngram_contamination: the train corpus's word-5-gram set is folded into an
# m-bit / k-hash Bloom filter (operators/sketches.py), and every test
# document reports its gram count, Bloom-flagged count, exact-leaked count,
# and the false-positive residue (n_bloom - n_true >= 0 ALWAYS — the
# no-false-negative guarantee, live in both engines because positions are
# md5_60 seeded hashes both can compute). The design point (m=2^21, k=3)
# keeps the filter ~3% full at sf0.01 (measured: 0 false positives) and
# ~26% at sf0.1 (measured: 171 false positives across 237 test docs), so
# the FP accounting is exercised, not vacuous, at the bench SF. At 100 TB
# the bit table stays <= 2^21 rows BY CONSTRUCTION
# (broadcastable ~16 MB) while the member set it replaces is unbounded.

_BLOOM_M_BITS = 21
_BLOOM_K = 3


def _bloom_pos_sql(expr: str) -> str:
    m = 1 << _BLOOM_M_BITS
    return (
        f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % {m}"
    )


SQL_BLOOM_DECONTAMINATE = f"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN {_h60_sql('split')} < {_thr(0.9)} THEN 'train'
              WHEN {_h60_sql('split')} < {_thr(0.95)} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
tokd AS (
  SELECT doc_id, split, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM s WHERE split IN ('train', 'test')
),
grams AS (
  SELECT doc_id, split,
         unnest(CASE WHEN len(toks) >= 5
                THEN list_transform(range(1, len(toks) - 3),
                                    i -> array_to_string(toks[i:i+4], ' '))
                ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM tokd
),
gh AS (
  SELECT DISTINCT doc_id, split,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
  FROM grams
),
tr AS (SELECT DISTINCT gram_h FROM gh WHERE split = 'train'),
te AS (SELECT doc_id, gram_h FROM gh WHERE split = 'test'),
sd AS (SELECT unnest([{", ".join(str(i) for i in range(_BLOOM_K))}]) AS i),
bits AS (
  SELECT DISTINCT {_bloom_pos_sql('gram_h')} AS pos FROM tr CROSS JOIN sd
),
tep AS (
  SELECT doc_id, gram_h, {_bloom_pos_sql('gram_h')} AS pos FROM te CROSS JOIN sd
),
bh AS (
  SELECT tep.doc_id, tep.gram_h,
         MIN(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS hit
  FROM tep LEFT JOIN bits USING (pos)
  GROUP BY tep.doc_id, tep.gram_h
),
th AS (
  SELECT te.doc_id, te.gram_h,
         CASE WHEN tr.gram_h IS NOT NULL THEN 1 ELSE 0 END AS thit
  FROM te LEFT JOIN tr USING (gram_h)
)
SELECT bh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(bh.hit) AS BIGINT) AS n_bloom,
       CAST(SUM(th.thit) AS BIGINT) AS n_true,
       CAST(SUM(bh.hit) - SUM(th.thit) AS BIGINT) AS fp_grams
FROM bh JOIN th ON bh.doc_id = th.doc_id AND bh.gram_h = th.gram_h
GROUP BY bh.doc_id
"""


@register(
    "bloom_decontaminate",
    SQL_BLOOM_DECONTAMINATE,
    doc=f"Bloom-filter (m=2^{_BLOOM_M_BITS}, k={_BLOOM_K}) decontamination of test docs vs the train 5-gram set: Bloom-flagged vs exact-leaked gram counts + false-positive residue per doc",
    tags=("sketch", "sampling", "dedup", "text"),
)
def q_bloom_decontaminate(spark, sf_dir):
    from ..operators.sampling import with_split
    from ..operators.sketches import bloom_bits, bloom_member
    from ..operators.textclean import ngram_hashes

    d = t(spark, sf_dir, "documents")

    # 5-gram build + md5 hashing is map CPU ahead of any exchange; the
    # single-row-group scan ran the whole train-side pass on one core
    # (r11 census: every stage 1 task, 7.0 s). Spread once before the
    # split filters so both pin jobs inherit the parallelism. No-op at
    # scale; the split and gram hashes are row-deterministic.
    d = spread(d, "doc_id")
    s = with_split(d, {"train": 0.9, "val": 0.05, "test": 0.05}, salt="split")
    # Both gram tables feed two consumers each (train: Bloom bits + exact
    # truth; test: Bloom probe + truth join) — unpinned, each side's
    # corpus tokenize + 5-gram explode ran twice (6 scans in the physical
    # plan). The pins are bounded: train_g is the DISTINCT gram-hash set
    # (vocabulary-scale), test_g is (doc_id, gram_h) for the 5% test split.
    # The two sides are independent passes over disjoint splits — overlap
    # their pin jobs (guide §2.6): the small test pass back-fills the
    # train pass's straggler tail instead of waiting for it.
    train_g, test_g = pin_all(
        ngram_hashes(s.filter(F.col("split") == "train"), "doc_id", "text", 5, "md5_60")
        .select("gram_h")
        .distinct(),
        ngram_hashes(s.filter(F.col("split") == "test"), "doc_id", "text", 5, "md5_60"),
    )
    bits = bloom_bits(train_g, "gram_h", m_bits=_BLOOM_M_BITS, k=_BLOOM_K)
    flags = bloom_member(test_g, bits, "gram_h", m_bits=_BLOOM_M_BITS, k=_BLOOM_K)
    truth = test_g.join(
        train_g.withColumn("_t", F.lit(1)), "gram_h", "left_outer"
    ).select("doc_id", "gram_h", F.coalesce("_t", F.lit(0)).alias("thit"))
    return (
        flags.join(truth, ["doc_id", "gram_h"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom"),
            F.sum("thit").cast("long").alias("n_true"),
            (
                F.sum(F.col("bloom_hit").cast("long")) - F.sum("thit")
            ).cast("long").alias("fp_grams"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift — the CDF-distance complement of
# token_drift_psi (bucketed divergence): per language, the maximum gap
# between the train and test splits' document-length CDFs. Each side's CDF
# is exact integer ppm of ITS OWN count (cum * 1e6 DIV n — truncating but
# deterministic, and scale-safe: no n_train * n_test product, which would
# overflow int64 at ~3e6 rows/side). The cumulative windows run over the
# DISTINCT length values per language (vocabulary-scale, not corpus-scale
# — the ranksum_returns bounded-global-pass argument).

SQL_KS_DRIFT = f"""
WITH s AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN {_h60_sql('split')} < {_thr(0.9)} THEN 'train'
              WHEN {_h60_sql('split')} < {_thr(0.95)} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
cnt AS (
  SELECT lang, n_chars,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS c_tr,
         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS c_te
  FROM s WHERE split IN ('train', 'test') AND lang IS NOT NULL
  GROUP BY lang, n_chars
),
tot AS (
  SELECT lang, CAST(SUM(c_tr) AS BIGINT) AS n_tr, CAST(SUM(c_te) AS BIGINT) AS n_te
  FROM cnt GROUP BY lang
),
cdf AS (
  SELECT cnt.lang,
         SUM(c_tr) OVER (PARTITION BY cnt.lang ORDER BY n_chars) * 1000000 // tot.n_tr AS f_tr_ppm,
         SUM(c_te) OVER (PARTITION BY cnt.lang ORDER BY n_chars) * 1000000 // tot.n_te AS f_te_ppm
  FROM cnt JOIN tot USING (lang)
  WHERE tot.n_tr > 0 AND tot.n_te > 0
)
SELECT cdf.lang, tot.n_tr AS n_train, tot.n_te AS n_test,
       CAST(MAX(ABS(f_tr_ppm - f_te_ppm)) AS BIGINT) AS ks_ppm
FROM cdf JOIN tot USING (lang)
GROUP BY cdf.lang, tot.n_tr, tot.n_te
"""


@register(
    "ks_drift",
    SQL_KS_DRIFT,
    doc="two-sample Kolmogorov-Smirnov distance (exact integer ppm CDFs) between train and test doc-length distributions per language",
    tags=("text", "sampling", "window", "aggregation"),
)
def q_ks_drift(spark, sf_dir):
    from ..operators.sampling import with_split

    d = t(spark, sf_dir, "documents")
    s = with_split(d, {"train": 0.9, "val": 0.05, "test": 0.05}, salt="split")
    cnt = (
        s.where(F.col("split").isin("train", "test") & F.col("lang").isNotNull())
        .groupBy("lang", "n_chars")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("long")
            .alias("c_tr"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("long")
            .alias("c_te"),
        )
    )
    tot = cnt.groupBy("lang").agg(
        F.sum("c_tr").cast("long").alias("n_tr"),
        F.sum("c_te").cast("long").alias("n_te"),
    )
    wo = W.partitionBy("lang").orderBy("n_chars")
    cdf = (
        cnt.join(F.broadcast(tot.where((F.col("n_tr") > 0) & (F.col("n_te") > 0))), "lang")
        .select(
            "lang",
            "n_tr",
            "n_te",
            F.expr("1").alias("_one"),
            (F.sum("c_tr").over(wo) * 1_000_000).alias("_cum_tr"),
            (F.sum("c_te").over(wo) * 1_000_000).alias("_cum_te"),
        )
        .select(
            "lang",
            "n_tr",
            "n_te",
            F.expr("_cum_tr DIV n_tr").alias("f_tr_ppm"),
            F.expr("_cum_te DIV n_te").alias("f_te_ppm"),
        )
    )
    return cdf.groupBy("lang").agg(
        F.max("n_tr").alias("n_train"),
        F.max("n_te").alias("n_test"),
        F.max(F.abs(F.col("f_tr_ppm") - F.col("f_te_ppm"))).cast("long").alias("ks_ppm"),
    )


# ---------------------------------------------------------------------------
# Token-frequency Gini — vocabulary concentration (how Zipf-skewed is the
# corpus?), the single-number companion of vocab_top_tokens. Exact integer:
# with counts sorted ascending under the total order (freq, token) and
# ranked 1..V, G_micro = (2*sum(i*c_i) - (V+1)*S) * 1e6 DIV (V*S). The
# global sort ranks the VOCABULARY (distinct tokens), not the corpus —
# the skyline/ranksum bounded-global-pass argument.

SQL_TOKEN_GINI = r"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token),
rk AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c, token) AS i FROM tf
)
SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(c) AS BIGINT) AS total_tokens,
       CAST((2 * SUM(i * c) - (COUNT(*) + 1) * SUM(c)) * 1000000
            // (COUNT(*) * SUM(c)) AS BIGINT) AS gini_micro
FROM rk
"""


@register(
    "token_gini",
    SQL_TOKEN_GINI,
    doc="exact integer Gini coefficient of the corpus token-frequency distribution (vocabulary concentration / Zipf skew)",
    tags=("text", "aggregation", "window"),
)
def q_token_gini(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT_RE)).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # ROW_NUMBER over the (c, token) total order WITHOUT the one-partition
    # global window: dense_ids range-partitions + offsets (the W2
    # surrogate-id machinery), so the vocabulary rank pass stays parallel.
    from ..operators.scd import dense_ids

    rk = dense_ids(tf, ["c", "token"], id_name="i").select("c", "i")
    return rk.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("c").cast("long").alias("total_tokens"),
        F.expr(
            "CAST((2 * SUM(i * c) - (COUNT(1) + 1) * SUM(c)) * 1000000"
            " DIV (COUNT(1) * SUM(c)) AS BIGINT)"
        ).alias("gini_micro"),
    )


# ---------------------------------------------------------------------------
# Cross-source n-gram overlap matrix — which corpus sources duplicate each
# other (mirror sites, re-crawls, syndication): pairwise Jaccard of the
# sources' distinct word-3-gram sets. Spark side groups each gram's source
# list (bounded by |sources|) and enumerates pairs MAP-SIDE from the sorted
# array (the basket PAIRS_EXPR pattern) — the oracle is the naive
# source×source self-join, so parity doubles as an equivalence proof of
# the array rewrite. Output is |sources| choose 2 rows regardless of
# corpus size; the only corpus-scale shuffle is the (source, gram_h)
# distinct.

SQL_SOURCE_OVERLAP = r"""
WITH tokd AS (
  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE source IS NOT NULL
),
grams AS (
  SELECT source,
         unnest(CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM tokd
),
sg AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
  FROM grams
),
sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sg GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sg a JOIN sg b ON a.gram_h = b.gram_h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, n_common,
       za.n AS n_a, zb.n AS n_b,
       CAST(n_common * 1000000 // (za.n + zb.n - n_common) AS BIGINT) AS jaccard_ppm
FROM inter JOIN sz za ON za.source = inter.source_a
           JOIN sz zb ON zb.source = inter.source_b
"""


@register(
    "source_overlap",
    SQL_SOURCE_OVERLAP,
    doc="pairwise word-3-gram Jaccard between corpus sources (mirror/re-crawl detection); map-side pair enumeration vs a self-join oracle",
    tags=("text", "dedup", "aggregation"),
)
def q_source_overlap(spark, sf_dir):
    from ..operators.dedup import _hash64

    d = t(spark, sf_dir, "documents").where(F.col("source").isNotNull())

    # 3-gram explode + md5 is map CPU ahead of the distinct's exchange;
    # the single-row-group scan ran it on one core (r11 census: every
    # stage 1 task, 5.0 s). Spread on the high-cardinality doc id (source
    # has only a handful of values). No-op at scale.
    d = spread(d, "doc_id")
    from ..operators.textclean import _gram_text

    # `sg` feeds the per-source sizes AND the pair enumeration: unpinned,
    # the corpus 3-gram explode + distinct ran twice. The pin is the
    # distinct (source, gram_h) set — far smaller than the gram stream.
    sg = pin(
        d.select(
            "source", F.explode(_gram_text(F.col("text"), 3)).alias("gram")
        )
        .select("source", _hash64(F.col("gram"), None, "md5_60").alias("gram_h"))
        .distinct()
    )
    sz = sg.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pairs = (
        sg.groupBy("gram_h")
        .agg(F.sort_array(F.collect_set("source")).alias("items"))
        .where(F.size("items") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items)), "
                    "y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.source_a", "p.source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    za = sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    zb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr("CAST(n_common * 1000000 DIV (n_a + n_b - n_common) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# LIX readability — the classic language-agnostic readability index
# (Björnsson 1968): words/sentences + 100 * longwords/words, here in exact
# integer micro-units with truncating DIV so both engines agree to the
# last digit. Word counting reuses the engine's established whitespace
# split; sentences are [.!?] separator counts (floored at 1); long words
# (> 6 chars) are counted with a map-side array lambda — no UDF, no
# explode. The quality-classifier family's readability axis.

SQL_LIX = r"""
SELECT doc_id, lang, n_words, n_sentences, n_long,
       n_words * 1000000 // n_sentences
         + n_long * 100000000 // n_words AS lix_micro
FROM (
  SELECT doc_id, lang,
         GREATEST(1, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)) AS n_words,
         GREATEST(1, CAST(len(regexp_split_to_array(text, '[.!?]')) AS BIGINT) - 1) AS n_sentences,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              w -> length(w) > 6)) AS BIGINT) AS n_long
  FROM documents
)
"""


@register(
    "lix_readability",
    SQL_LIX,
    doc="LIX readability per document (integer micro-units: words/sentence + 100*longword ratio, map-side array lambdas)",
    tags=("text",),
)
def q_lix_readability(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        F.greatest(
            F.lit(1).cast("long"),
            F.size(F.split(F.trim(F.col("text")), TOKEN_SPLIT_RE)).cast("long"),
        ).alias("n_words"),
        F.greatest(
            F.lit(1).cast("long"),
            F.size(F.split(F.col("text"), r"[.!?]")).cast("long") - 1,
        ).alias("n_sentences"),
        F.expr(
            r"CAST(size(filter(split(trim(text), '\\s+'), w -> length(w) > 6)) AS BIGINT)"
        ).alias("n_long"),
    )
    return base.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_long",
        F.expr(
            "n_words * 1000000 DIV n_sentences + n_long * 100000000 DIV n_words"
        ).alias("lix_micro"),
    )
