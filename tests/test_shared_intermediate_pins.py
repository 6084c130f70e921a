"""Shared-intermediate pins: multi-consumer subtrees must evaluate ONCE.

Round-10 optimization (guide §2.4 "remove shuffles/passes outright"): a
frame feeding several plan branches is materialized (``execution.pin``) so lazy
evaluation cannot re-run its corpus-scale upstream (explode / signature
aggregation / Arrow projection) once per consumer. These tests pin the
PLAN SHAPE: after the fix, the expensive upstream lives inside the pinned
RDD's lineage, so the visible physical plan of the query must NOT contain
a re-evaluated copy (no Generate / MapInPandas above each consumer).

Value parity of every touched entry is separately covered by the registry
oracle sweeps; this file guards against the recompute quietly coming back.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    ("name", "banned", "why"),
    [
        # tf (inverted index) pinned: both consumers (df rollup + probe)
        # read the pin, so no token explode is visible in the final plan.
        ("tfidf_top_terms", "Generate", "token explode must run once"),
        ("bm25_search", "Generate", "token explode must run once"),
        # banded signatures pinned inside lsh_candidate_pairs: the
        # signature aggregation (shingle explode + num_perm mins) must not
        # re-run per consumer (sizes / join side a / join side b).
        ("containment_dedup", "Generate", "shingle explode + signature agg must run once"),
        ("minhash_lsh_near_dup", "Generate", "shingle explode + signature agg must run once"),
        # hyperplane bucket table pinned: the Arrow projection pass over
        # the corpus must not appear once per consumer (was 4 MapInPandas).
        ("embedding_near_dup_lsh", "MapInPandas", "bucket projection must run once"),
    ],
)
def test_no_recomputed_shared_subtree(spark, name, banned, why):
    plan = _plan(spark, name)
    assert "Scan ExistingRDD" in plan, f"{name}: shared intermediate no longer pinned"
    assert banned not in plan, f"{name}: {why}; found re-evaluated {banned} in:\n{plan[:2000]}"


@pytest.mark.parametrize(
    "name",
    [
        # Every corpus/table pass of these entries feeds >= 2 consumers and
        # is pinned, so the visible plan must read ONLY pinned RDDs — a
        # parquet scan reappearing means a shared subtree is recomputed.
        "part_name_match",
        "bloom_decontaminate",
        "source_overlap",
        "cm_top_tokens",
        "token_edit_pairs",
        "token_drift_psi",
        "heavy_hitter_tokens",
        "basket_rules",
        "simhash_near_dup",
    ],
)
def test_all_source_passes_pinned(spark, name):
    plan = _plan(spark, name)
    assert "Scan ExistingRDD" in plan, f"{name}: shared intermediate no longer pinned"
    assert "Scan parquet" not in plan, (
        f"{name}: a source scan re-appeared above a pin:\n{plan[:2000]}"
    )


def test_heavy_hitter_tokens_no_visible_python_pass(spark):
    """exact+MG both live below the pinned `joined`: the MG mapInPandas
    partial counters must not re-run per consumer (was 4 Python nodes)."""
    plan = _plan(spark, "heavy_hitter_tokens")
    assert "MapInPandas" not in plan, plan[:2000]


@pytest.mark.parametrize("name", ["dsir_weights", "dsir_resample"])
def test_dsir_single_corpus_explode(spark, name):
    """inst (doc,tgt,bucket,m) and per_doc are both pinned: their five
    downstream consumers (bucket-model rollup, scoring probe, corpus mean,
    keep probe, resample keying) all read pins, so the corpus token explode
    must not appear in the final plan at all."""
    plan = _plan(spark, name)
    assert "Scan ExistingRDD" in plan
    assert "Generate" not in plan, plan[:2000]


def test_lm_perplexity_single_bigram_explode(spark):
    """inst (bigram pre-agg) pinned: its three consumers (probe, c12, c1)
    read the pin, so only the vocab branch's token explode may remain."""
    plan = _plan(spark, "lm_perplexity")
    assert "Scan ExistingRDD" in plan
    assert plan.count("Generate") <= 1, plan[:2000]


def test_fuzzy_contamination_single_train_banding(spark):
    """btr (train-side banded signatures) is pinned: only the UNPINNED
    single-consumer test side may still Generate (shingle explode + band
    explode = 2); the train side's two consumers read the pin."""
    plan = _plan(spark, "fuzzy_contamination")
    assert "Scan ExistingRDD" in plan
    assert plan.count("Generate") <= 2, plan[:2000]


def test_ngram_contamination_single_test_tokenization(spark):
    """test_g pinned: only the train side may still Generate (one explode);
    the two test-side consumers (bucket set + probe) read the pin."""
    plan = _plan(spark, "ngram_contamination")
    assert "Scan ExistingRDD" in plan
    assert plan.count("Generate") <= 1, plan[:2000]


def test_pin_parallel_same_results_and_pinned(spark):
    """pin_all must return PINNED frames (Scan ExistingRDD) with
    row-identical contents to the inputs, in input order — overlapping the
    pin jobs (guide §2.6) may not change what is pinned."""
    from marketpipe_spark.execution import pin_all

    a = spark.range(100).selectExpr("id", "id * 2 AS x")
    b = spark.range(50).selectExpr("id", "id + 7 AS y")
    pa, pb = pin_all(a, b)
    for pinned in (pa, pb):
        plan = pinned._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan, plan
    assert sorted(r.x for r in pa.collect()) == sorted(r.x for r in a.collect())
    assert sorted(r.y for r in pb.collect()) == sorted(r.y for r in b.collect())


def test_pin_parallel_off_mode_is_identity(spark, monkeypatch):
    """Under MP_PIN_MODE=off the helper must be the identity map — no pin,
    no threads, no jobs — so the zero-jobs-at-build hygiene gate stays
    sharp for builders that use it."""
    monkeypatch.setenv("MP_PIN_MODE", "off")
    from marketpipe_spark.execution import pin_all

    a = spark.range(10)
    b = spark.range(20)
    out = pin_all(a, b)
    assert out[0] is a and out[1] is b
