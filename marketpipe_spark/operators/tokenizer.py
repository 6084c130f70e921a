"""Trained BPE tokenizer: the tokenizer-training step of a training-data
pipeline (the reference has no tokenizer surface; this extends the text
family the way sketches extend aggregation — public method: Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword Units";
encoding follows the merge-rank greedy loop popularized by GPT-2's public
encoder).

Scale design — the standard industrial split:

- **Counting is distributed**: the word-frequency table is one
  explode + groupBy over the corpus (map-side combined; vocabulary-sized
  output, not corpus-sized).
- **Training is driver-side on a BOUNDED sample**: classic BPE learns
  merges from the word-frequency DICTIONARY, whose size is vocabulary-,
  not corpus-, bound; we cap it at ``max_words`` (top by frequency,
  deterministic tie-break) exactly like PQ trains codebooks on a bounded
  sample (similarity.pq_codebooks). Merge learning uses incremental
  pair-count maintenance (only words containing the merged pair are
  touched per step), so cost is O(merges x affected-words), not
  O(merges x vocabulary).
- **Encoding is distributed**: merges (a few hundred string pairs) ship in
  the task closure; ``mapInPandas`` applies the ranked-merge greedy loop
  with per-batch word memoization — each DISTINCT word is encoded once per
  batch regardless of corpus size.

Everything is deterministic and partition-independent: word counts are
exact integers, ties break lexicographically, so the same corpus yields
the same merge table under any layout — pinned by tests.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import spread
from .dedup import TOKEN_SPLIT_RE

#: End-of-word sentinel (Sennrich's '</w>'): keeps merges from crossing
#: word boundaries and makes decoding unambiguous.
EOW = "</w>"

#: ASCII-\s split, mirroring Java's (Spark) and RE2's (DuckDB oracle)
#: default `\s` class — Python's unicode-aware \s would disagree on exotic
#: whitespace.
_WS_RE = re.compile(r"\s+", re.ASCII)


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, freq)`` over the lower-cased, whitespace-split corpus — one
    explode + map-side-combined groupBy; output is vocabulary-sized."""

    docs = spread(docs, text_col)
    w = F.explode(F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE)).alias("word")
    return (
        docs.select(w)
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_symbols(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """Replace every non-overlapping left-to-right occurrence of ``pair``."""
    a, b = pair
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def bpe_train(
    word_freq: DataFrame, n_merges: int = 200, max_words: int = 20_000
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a word-frequency table.

    The collect is bounded by construction (``limit(max_words)`` on the
    deterministic (freq DESC, word ASC) order). Each step merges the
    highest-frequency adjacent symbol pair, ties broken by the
    lexicographically greatest pair — fully deterministic, so retrained
    tables are reproducible across runs and cluster layouts. Incremental
    bookkeeping: a pair→word-ids index restricts each step's rewrite and
    count adjustment to the words that actually contain the winning pair.
    """
    rows = word_freq.orderBy(F.desc("freq"), F.asc("word")).limit(max_words).collect()
    words: list[tuple[tuple[str, ...], int]] = [
        (tuple(r["word"]) + (EOW,), int(r["freq"])) for r in rows
    ]
    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, (syms, f) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += f
            pair_words[p].add(wi)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        best = max(pair_counts.items(), key=lambda kv: (kv[1], kv[0]))[0]
        if pair_counts[best] <= 0:
            break
        merges.append(best)
        for wi in list(pair_words[best]):
            syms, f = words[wi]
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= f
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                s = pair_words.get(p)
                if s is not None:
                    s.discard(wi)
                    if not s:
                        del pair_words[p]
            syms = _merge_symbols(syms, best)
            words[wi] = (syms, f)
            for p in zip(syms, syms[1:]):
                pair_counts[p] += f
                pair_words[p].add(wi)
    return merges


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> tuple[str, ...]:
    """Greedy ranked-merge encoding of one word (the public GPT-2 loop):
    repeatedly merge the present pair with the LOWEST merge rank until no
    learned pair remains. Characters never seen in training pass through as
    single symbols, so encoding is total and lossless."""
    syms: tuple[str, ...] = tuple(word) + (EOW,)
    while len(syms) > 1:
        ranked = [
            (ranks[p], p) for p in set(zip(syms, syms[1:])) if p in ranks
        ]
        if not ranked:
            break
        _, best = min(ranked)
        syms = _merge_symbols(syms, best)
    return syms


def bpe_token_stats(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distributed encode → per-document ``(doc_id, n_words, n_tokens,
    roundtrip_ok)``.

    ``roundtrip_ok`` asserts the tokenizer's losslessness invariant on real
    data: re-joining a word's tokens (EOW stripped) must reproduce the word
    exactly, for every word of every document. ``n_words`` uses the same
    ASCII-\\s trim/lower/split semantics as the engine's SQL token counts,
    so an external oracle can pin it exactly; ``n_tokens`` is deterministic
    (exact counts + lexicographic tie-breaks) but only this engine can
    compute it — tests pin its properties instead.
    """
    import pandas as pd

    ranks = {p: i for i, p in enumerate(merges)}

    def encode(batches):
        cache: dict[str, tuple[str, ...]] = {}
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                trimmed = (text or "").strip().lower()
                ws = _WS_RE.split(trimmed)
                n_tokens = 0
                ok = True
                for w in ws:
                    if w == "":
                        continue
                    enc = cache.get(w)
                    if enc is None:
                        enc = bpe_encode_word(w, ranks)
                        cache[w] = enc
                    n_tokens += len(enc)
                    if "".join(enc)[: -len(EOW)] != w:
                        ok = False
                out.append((doc_id, len(ws), n_tokens, ok))
            yield pd.DataFrame(
                out, columns=[id_col, "n_words", "n_tokens", "roundtrip_ok"]
            )

    d = spread(docs.select(id_col, text_col), id_col)
    return d.mapInPandas(
        encode, schema=f"{id_col} long, n_words long, n_tokens long, roundtrip_ok boolean"
    )


def bpe_token_summary(
    docs: DataFrame,
    n_merges: int = 200,
    max_words: int = 20_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train-on-this-corpus convenience: learn merges from the corpus's own
    word frequencies, encode every document, return the per-document stats
    frame (see :func:`bpe_token_stats`)."""
    merges = bpe_train(word_frequencies(docs, text_col), n_merges, max_words)
    return bpe_token_stats(docs, merges, id_col, text_col)
