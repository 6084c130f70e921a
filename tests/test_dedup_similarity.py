"""Dedup/similarity operators against the corpus's planted near-duplicates
(sf0.01 documents contain ~25 pairs with word-3-gram Jaccard ≈ 0.99)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE

from marketpipe_spark.operators.dedup import (
    exact_dedup,
    keep_last,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from marketpipe_spark.operators.multimodal import attach_payload, frame_sample
from marketpipe_spark.operators.similarity import cosine_topk, ivf_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def true_pairs(docs):
    """Ground truth: exact n-gram Jaccard ≥ 0.8 (the planted near-dups)."""
    return {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }


def test_planted_dups_exist(true_pairs):
    assert len(true_pairs) >= 10


def test_minhash_recovers_planted(docs, true_pairs):
    found = {(r.id_a, r.id_b) for r in minhash_near_duplicates(docs, threshold=0.5).collect()}
    # MinHash-LSH with 16 bands of 4 rows has >99.9% recall at jaccard 0.99
    recall = len(true_pairs & found) / len(true_pairs)
    assert recall >= 0.95, f"recall {recall}: missed {true_pairs - found}"


def test_simhash_finds_planted(docs, true_pairs):
    found = {(r.id_a, r.id_b) for r in simhash_near_duplicates(docs, max_hamming=3).collect()}
    recall = len(true_pairs & found) / len(true_pairs)
    # SimHash on bag-of-words is weaker than MinHash on shingles; the planted
    # dups differ by only a few tokens so most should land within hamming 3
    assert recall >= 0.6, f"recall {recall}"


def test_exact_dedup_counts(docs):
    out = exact_dedup(docs, ["text"], "doc_id")
    total = out.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()


def test_keep_last(spark):
    df = spark.createDataFrame(
        [("A", 1, 10), ("A", 1, 20), ("A", 2, 5), ("B", 1, 7)], "k string, ts long, v long"
    )
    out = {(r.k, r.ts): r.v for r in keep_last(df, ["k", "ts"], "v").collect()}
    assert out == {("A", 1): 20, ("A", 2): 5, ("B", 1): 7}


def test_lsh_topk_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, queries, k=3, n_planes=4, n_tables=8).collect()
    }
    # 8 tables × 4 planes: per-table collision (1-θ/π)^4, OR-amplified over
    # 8 tables — comfortably above 0.4 recall even for moderate-cosine
    # neighbors over 500 random vectors
    assert len(exact) == 30
    assert len(approx & exact) / len(exact) >= 0.4


def test_ivf_topk_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=3, n_cells=16, n_probe=6).collect()
    }
    # probing 6/16 cells scans ~38% of the corpus but near-centroid locality
    # concentrates true neighbors into probed cells — recall well above that
    assert len(exact) == 30
    assert len(approx & exact) / len(exact) >= 0.4


def test_frame_sample_fanout(docs):
    sampled = frame_sample(attach_payload(docs.limit(5)), every_n_bytes=64)
    rows = sampled.collect()
    assert len(rows) > 5  # one input row fans out to multiple frames
    assert all(len(r.frame_sha) == 64 for r in rows)
    # offsets are multiples of the stride
    assert all(r.offset % 64 == 0 for r in rows)


def test_ivf_kmeans_refinement(emb):
    from marketpipe_spark.operators.similarity import kmeans_centroids

    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    refined = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=3, n_cells=16, n_probe=6, refine_iters=3).collect()
    }
    assert len(refined & exact) / len(exact) >= 0.4  # refined quantizer still recalls

    # deterministic: identical centroid matrices across runs
    import numpy as np

    c1 = kmeans_centroids(emb, n_cells=8, n_iter=2)
    c2 = kmeans_centroids(emb, n_cells=8, n_iter=2)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 64)


def test_cosine_topk_blocked_equals_bruteforce(emb):
    from marketpipe_spark.operators.similarity import cosine_topk_blocked

    queries = emb.filter(F.col("vec_id") < 25)
    brute = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    blocked = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk_blocked(emb, queries, k=3, n_corpus_blocks=4, n_query_blocks=3).collect()
    }
    assert blocked == brute  # exact, rank-for-rank and value-for-value


def test_pca_projection(emb, spark):
    import numpy as np

    from marketpipe_spark.operators.projection import pca_fit, pca_project

    mean, comps = pca_fit(emb, k=8)
    assert mean.shape == (64,) and comps.shape == (64, 8)
    # components are orthonormal
    assert np.allclose(comps.T @ comps, np.eye(8), atol=1e-9)

    out = pca_project(emb, k=8).collect()
    assert len(out) == emb.count()
    assert all(len(r.projected) == 8 for r in out)
    # projected variance decreases across components (top-k by eigenvalue)
    proj = np.stack([r.projected for r in out])
    var = proj.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(7))
    # deterministic across runs (incl. eigenvector sign convention)
    m2, c2 = pca_fit(emb, k=8)
    assert np.array_equal(mean, m2) and np.array_equal(comps, c2)
    # fit-on-subset / apply-everywhere path
    sub_mean, sub_comps = pca_fit(emb.limit(200), k=4)
    applied = pca_project(emb, k=4, mean=sub_mean, components=sub_comps)
    assert applied.count() == emb.count()


def test_dedup_clusters_transitive(spark):
    from marketpipe_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], "id_a long, id_b long"
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_clusters_deep_chain_and_no_internal_columns(spark):
    """A path graph of diameter 7 needs several min-label rounds, so the
    fused in-pin convergence flag (`chg` lives inside the state pin, the
    count is a map-only scan) must keep iterating until labels stop
    improving — a broken flag would either exit early (wrong labels) or
    never exit (max_iters labels still wrong). The output schema must not
    leak the internal flag column."""
    from marketpipe_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    res = dedup_clusters(pairs)
    assert res.columns == ["doc_id", "cluster_id"]
    out = {r.doc_id: r.cluster_id for r in res.collect()}
    assert out == {i: 1 for i in range(1, 9)}


# ---------------------------------------------------------------------------
# Group centroids (operators/projection.group_centroids)

def test_group_centroids_partition_invariant(spark):
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE
    from marketpipe_spark.operators.projection import group_centroids

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a = group_centroids(e, "label")
    b = group_centroids(e.repartition(7), "label")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # centroid of each label must lie inside the per-dim min/max envelope
    env = (
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )
    bad = (
        a.join(env, ["label", "dim"])
        .filter((F.col("centroid") < F.col("lo") - 1e-6) | (F.col("centroid") > F.col("hi") + 1e-6))
        .count()
    )
    assert bad == 0


# ---------------------------------------------------------------------------
# round-3 additions: max_df anti-join direction + cosine_topk collect guard


def test_ngram_max_df_equivalence(spark):
    """max_df must drop stopword shingles (df > max_df) and nothing else —
    the anti-join-on-small-side formulation equals filtering by df."""
    # every doc shares the "a b c" shingle (df=4 > max_df=3); each pair
    # shares one more unique-ish shingle
    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e g"),
        (3, "a b c x y z"),
        (4, "a b c x y w"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with_stop = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.0).collect()
    }
    without_stop = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.0, max_df=3).collect()
    }
    # "a b c" (df=4) is gone under max_df=3, so the (1,3)-style cross pairs
    # lose their only shared shingle and disappear
    assert (1, 2) in with_stop and (1, 2) in without_stop
    assert (1, 3) in with_stop and (1, 3) not in without_stop
    # doc1: shingles {abc,bcd,cde,def}; doc2: {abc,bcd,cde,deg}.
    # with stop: shared 3 of union 5 = 0.6; without abc: 2 of 4 = 0.5
    assert with_stop[(1, 2)] == 0.6
    assert without_stop[(1, 2)] == 0.5


def test_ngram_max_df_broadcasts_small_side(spark):
    rows = [(i, f"w{i} w{i+1} w{i+2} common stop words") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plan = ngram_jaccard_pairs(docs, k=3, threshold=0.0, max_df=3)._jdf.queryExecution().toString()
    # the anti join (stopword set) must be the broadcast; no broadcast of a
    # vocabulary-sized inner-join table
    assert "LeftAnti" in plan


def test_cosine_topk_guard_routes_to_blocked(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    direct = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    routed = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=3, max_collect_queries=4).collect()
    }
    assert routed == direct


def test_pq_topk_recall_and_determinism(spark):
    """PQ-ADC with exact refine: high recall vs brute force on real testdata,
    bit-identical across runs (deterministic sample, init, and tie-breaks)."""
    from pyspark.sql import functions as F

    from marketpipe_spark.operators.similarity import cosine_topk, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=5).collect()}
    got1 = pq_topk(emb, queries, k=5, m=8, nbits=6, refine_factor=8).collect()
    approx = {(r.query_id, r.neighbor_id) for r in got1}
    assert len(exact & approx) / len(exact) >= 0.6
    got2 = pq_topk(emb, queries, k=5, m=8, nbits=6, refine_factor=8).collect()
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got2))
    # every query returns exactly k ranked neighbors, never itself
    per_q = {}
    for r in got1:
        per_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
    assert all(sorted(x.rank for x in v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_pq_encode_shapes_and_code_range(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from marketpipe_spark.operators.similarity import pq_codebooks, pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_codebooks(emb, m=4, nbits=4)
    assert books.shape == (4, 16, 16)  # dim 64 -> 4 subspaces of 16
    codes = pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes[:20]:
        assert len(r.codes) == 4 and all(0 <= c < 16 for c in r.codes)


def test_exact_dedup_null_column_shift_not_collided(spark):
    """('x', NULL) and (NULL, 'x') are different rows — Spark's hash
    skips NULL inputs, so naive xxhash64(a, b) collides them (regression:
    interleaved null flags keep positional information)."""
    df = spark.createDataFrame(
        [(1, "x", None), (2, None, "x")], "doc_id long, a string, b string"
    )
    out = exact_dedup(df, ["a", "b"], "doc_id").collect()
    assert len(out) == 2  # two distinct groups, not one collided pair


def test_minhash_text_col_forwarded(spark):
    """minhash_near_duplicates(text_col=...) must shingle THAT column
    (regression: the signature stage hard-coded 'text')."""
    from marketpipe_spark.operators.dedup import minhash_near_duplicates

    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely here now")]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    pairs = {(r.id_a, r.id_b) for r in minhash_near_duplicates(df, text_col="body").collect()}
    assert (1, 2) in pairs


def test_embedding_near_dup_empty_partner_blocks_no_duplicates(spark):
    """With far more blocks than vectors, most cross-block pairs have an
    empty partner; those groups must emit NOTHING (regression: they
    recomputed the non-empty block's triangle, duplicating pairs)."""
    import random

    from marketpipe_spark.operators.dedup import embedding_near_duplicates

    rng = random.Random(3)
    base = [rng.gauss(0, 1) for _ in range(8)]
    rows = [(i, [x + rng.gauss(0, 0.01) for x in base]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = [(r.id_a, r.id_b) for r in
           embedding_near_duplicates(df, threshold=0.9, n_blocks=16).collect()]
    assert len(out) == len(set(out)), "duplicate pairs emitted"
    assert len(set(out)) == 45  # all 10-choose-2 pairs of near-identical vectors


def test_minhash_incremental_matches_full_run_restricted(docs, spark):
    """Incremental dedup (new batch vs signature store) must report EXACTLY
    the full-run pairs that touch the new batch: signatures don't depend on
    the batch split, and the bucket cap counts whole buckets either way."""
    from marketpipe_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    store = minhash_signatures(old)
    inc, updated = minhash_incremental_pairs(new, store, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in inc.collect()}

    empty = docs.sparkSession.createDataFrame([], "doc_id long, sig array<bigint>")
    full, _ = minhash_incremental_pairs(docs, empty, threshold=0.5)
    want = {
        (r.id_a, r.id_b)
        for r in full.collect()
        if r.id_a % 5 == 0 or r.id_b % 5 == 0
    }
    assert got == want and len(want) > 0
    # old×old pairs never appear in the incremental result
    assert all(a % 5 == 0 or b % 5 == 0 for a, b in got)
    # the updated store covers every signable doc for the next batch
    assert updated.count() == store.count() + minhash_signatures(new).count()


def test_minhash_incremental_finds_cross_batch_dup(spark):
    """A new doc near-duplicating a STORED doc is caught without ever
    re-reading the old corpus text."""
    from marketpipe_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    old = spark.createDataFrame(
        [(1, base), (2, "completely unrelated corpus text with other words entirely here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame([(10, base + " extra")], "doc_id long, text string")
    pairs, _ = minhash_incremental_pairs(new, minhash_signatures(old), threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 10) in got
    assert all(10 in p for p in got)


def test_minhash_incremental_retry_is_idempotent(spark):
    """Reprocessing a batch whose ids are already in the store (failed-run
    retry / re-crawl) must not duplicate store rows or pair rows; the
    batch's signature wins for overlapping ids."""
    from marketpipe_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    old = spark.createDataFrame(
        [(1, base), (2, "completely unrelated corpus text with other words entirely here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame([(10, base + " extra")], "doc_id long, text string")
    store0 = minhash_signatures(old)
    pairs1, store1 = minhash_incremental_pairs(new, store0, threshold=0.5)
    got1 = sorted(map(tuple, pairs1.collect()))
    # retry: the SAME batch against the updated store
    pairs2, store2 = minhash_incremental_pairs(new, store1, threshold=0.5)
    got2 = sorted(map(tuple, pairs2.collect()))
    assert got1 == got2 and (1, 10) in {(a, b) for a, b, _ in got1}
    assert store1.count() == 3 and store2.count() == 3  # no duplicate ids
    assert store2.select("doc_id").distinct().count() == 3


def test_ngram_contamination_train_without_id_column(spark):
    """The train side only contributes gram hashes; a text-only train frame
    must work regardless of input partitioning."""
    from marketpipe_spark.operators.textclean import ngram_contamination

    train = spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta",)], "text string"
    ).coalesce(1)
    test = spark.createDataFrame(
        [(1, "xx beta gamma delta epsilon zeta yy")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in ngram_contamination(train, test, n=5).collect()}
    assert out[1].n_leaked >= 1


def test_pin_mode_persist_matches_local(docs, monkeypatch):
    """MP_PIN_MODE=persist swaps localCheckpoint for persist(DISK_ONLY)
    (recoverable lineage for long cluster runs) — results must be identical."""
    from marketpipe_spark.operators.dedup import minhash_near_duplicates

    base = sorted(map(tuple, minhash_near_duplicates(docs, threshold=0.5).collect()))
    monkeypatch.setenv("MP_PIN_MODE", "persist")
    got = sorted(map(tuple, minhash_near_duplicates(docs, threshold=0.5).collect()))
    assert got == base


def test_embedding_near_dup_scale_guard(emb):
    """Above max_exact_rows the quadratic plan must refuse (default) or fail
    over to the LSH candidate path; below it, exact and LSH agree on this
    corpus (precision 1 — every LSH pair carries the bit-exact cosine)."""
    from marketpipe_spark.operators.dedup import (
        embedding_near_duplicates,
        embedding_near_duplicates_lsh,
    )

    with pytest.raises(ValueError, match="max_exact_rows"):
        embedding_near_duplicates(emb, threshold=0.9, n_rows=10_000_000)

    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_duplicates(emb, threshold=0.9, n_rows=500).collect()
    }
    # Opt-in past the guard still runs the exact plan.
    optin = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_duplicates(
            emb, threshold=0.9, n_rows=500, max_exact_rows=10, on_exceed="exact"
        ).collect()
    }
    assert optin == exact
    # Fail-over route (n_rows above the bound, on_exceed='lsh').
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_duplicates(
            emb, threshold=0.9, n_rows=500, max_exact_rows=10, on_exceed="lsh"
        ).collect()
    }
    assert set(lsh) <= set(exact)  # precision 1
    for k, v in lsh.items():
        assert v == exact[k]  # rescore is bit-identical
    assert len(lsh) >= 0.9 * len(exact)  # recall at threshold 0.9, 16 tables
    direct = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_duplicates_lsh(emb, threshold=0.9).collect()
    }
    assert direct == lsh


def test_auto_plane_count_is_integer_exact_ceil_log2_half():
    import math

    from marketpipe_spark.operators.dedup import auto_plane_count

    # Clamp floor/ceiling.
    assert auto_plane_count(0) == 8
    assert auto_plane_count(2) == 8
    assert auto_plane_count(10**12) == 30
    # Agreement with the float formula across sizes incl. power-of-two
    # boundaries (where libm log2 could round either way — ours cannot).
    for n in [500, 512, 513, 1024, 1025, 2021, 4096, 4097, 32330, 10**6]:
        want = min(30, max(8, math.ceil(math.log2(n / 2))))
        assert auto_plane_count(n) == want, n
    # The DuckDB oracle's np CTE uses the same integer comparison.
    import duckdb

    for n in [500, 512, 513, 2021, 32330]:
        got = duckdb.sql(
            f"""SELECT LEAST(30, GREATEST(8, (
                 SELECT MIN(p) FROM (SELECT unnest(range(31)) AS p)
                 WHERE (CAST(1 AS BIGINT) << CAST(p AS INT)) >= ({n} + 1) // 2)))"""
        ).fetchone()[0]
        assert got == auto_plane_count(n), n


def test_embedding_lsh_plane_families_find_all_exact_duplicates(spark):
    from pyspark.sql import functions as F

    from marketpipe_spark.operators.dedup import embedding_near_duplicates_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") % 97 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding", "label"
    )
    allv = emb.unionByName(planted)
    expected = {(r.vec_id - 10_000_000, r.vec_id) for r in planted.collect()}
    # An exact duplicate projects to identical sign buckets in EVERY table,
    # so recall on the planted set is 1 under any plane family.
    for fam in ("pcg64", "md5"):
        out = embedding_near_duplicates_lsh(
            allv, threshold=0.99, n_planes=12, n_tables=8, plane_family=fam
        )
        pairs = {(r.id_a, r.id_b) for r in out.collect()}
        assert pairs == expected, fam


def test_semantic_dedup_drops_in_cell_near_duplicates(spark):
    from pyspark.sql import functions as F

    from marketpipe_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    planted = emb.filter(F.col("vec_id") % 97 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    out = semantic_dedup(emb.unionByName(planted), threshold=0.95, n_cells=8)
    rows = {r.vec_id: r for r in out.collect()}
    n_base = emb.count()
    assert len(rows) == n_base + planted.count()
    for r in rows.values():
        if r.vec_id >= 10_000_000:
            assert not r.keep                                  # the copy is dropped...
            assert r.cell_id == rows[r.vec_id - 10_000_000].cell_id  # ...from its original's cell
        else:
            assert r.keep                                      # originals survive


def test_semantic_dedup_cell_guard_fails_fast(spark):
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    from marketpipe_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # n_cells=1 puts every vector in one cell, which must trip max_cell.
    with pytest.raises(PythonException, match="max_cell"):
        semantic_dedup(emb, n_cells=1, refine_iters=0, max_cell=10).collect()


def test_containment_pairs_catch_excerpts_jaccard_misses(spark):
    from pyspark.sql import functions as F

    from marketpipe_spark.operators.dedup import containment_pairs, minhash_near_duplicates

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega "
            "one two three four five six seven eight nine ten")
    excerpt = " ".join(base.split()[:12])  # ~1/3 of the tokens
    rows = [(1, base), (2, excerpt), (3, "entirely different words " * 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # Low bands/rows so the low-Jaccard pair still band-collides in-test.
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, threshold=0.8, num_perm=16, bands=16).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0  # excerpt fully contained
    assert all(3 not in pair for pair in cont)
    jac = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(df, threshold=0.5, num_perm=16, bands=16).collect()
    }
    assert (1, 2) not in jac  # symmetric Jaccard (~0.3) misses the excerpt


def test_fuzzy_contamination_catches_paraphrase_leakage(spark):
    """Bipartite MinHash contamination: a lightly-edited train copy of a test
    document is reported (Jaccard >= 0.5 but below 1.0 — exact fingerprints
    miss it), unrelated docs are not, and sides stay labeled."""
    from pyspark.sql import functions as F

    from marketpipe_spark.operators.dedup import fuzzy_contamination

    base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    edited = base.replace("today", "tonight") + " extra trailing words"
    train = spark.createDataFrame(
        [(1, edited), (2, "completely different content about spark physical plans and shuffles")],
        "doc_id long, text string",
    )
    test = spark.createDataFrame([(100, base)], "doc_id long, text string")

    rows = fuzzy_contamination(train, test, threshold=0.5).collect()
    assert [(r.test_id, r.train_id) for r in rows] == [(100, 1)]
    assert 0.5 <= rows[0].jaccard < 1.0

    # the exact whole-text fingerprint cannot see this pair
    fp = lambda s_: s_.lower().strip()
    assert fp(base) != fp(edited)


def test_setsim_join_exact_equals_brute_force_at_multiple_thresholds(spark):
    import random

    from marketpipe_spark.operators.dedup import ngram_jaccard_pairs, setsim_join_exact

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    base = [rng.choice(vocab) for _ in range(40)]
    rows = []
    for i in range(60):
        if i % 3 == 0:
            # perturbed copy of the base doc: high-Jaccard cluster
            toks = list(base)
            for _ in range(rng.randrange(0, 6)):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            rows.append((i, " ".join(toks)))
        else:
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 30)))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for t_ppm in (300_000, 600_000, 900_000):
        got = {
            (r["id_a"], r["id_b"], r["shared"], r["n_a"], r["n_b"])
            for r in setsim_join_exact(df, threshold_ppm=t_ppm).collect()
        }
        # brute force: the full inverted-index join (recall-1 reference)
        brute = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(df, k=3, threshold=t_ppm / 1e6).collect()
        }
        assert {(a, b) for a, b, *_ in got} == brute, t_ppm
        assert got, t_ppm  # thresholds chosen so pairs actually exist


def test_setsim_prefix_filter_prunes_candidate_volume(spark):
    """The point of PPJoin: the prefix self-join must touch far fewer
    postings than the full inverted index on a clustered corpus."""
    from pyspark.sql import functions as F

    from marketpipe_spark.operators.dedup import _hash64, with_shingles

    rows = [(i, " ".join(f"tok{(i * 7 + j) % 40}" for j in range(30))) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = (
        with_shingles(df, "text", 3)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .select("doc_id", _hash64(F.col("shingle"), None, "xxhash64").alias("h"))
    )
    full_postings = sh.count()
    # t = 0.8 -> prefix keeps n - floor(0.8 n) + 1 ~ 20% + 1 of each doc
    from pyspark.sql.window import Window as W

    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    rk = F.row_number().over(W.partitionBy("doc_id").orderBy(F.col("_df").asc(), F.col("h").asc()))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = sh.join(dfreq, "h").withColumn("rk", rk).join(sizes, "doc_id")
    plen = F.col("n") - F.floor(F.lit(800_000) * F.col("n") / F.lit(1_000_000)) + F.lit(1)
    prefix_postings = ranked.filter(F.col("rk") <= plen).count()
    assert prefix_postings < 0.35 * full_postings


def test_setsim_positional_filter_keeps_exact_threshold_boundary_pair(spark):
    """A pair engineered so the positional filter's overlap upper bound
    EQUALS the minimum overlap — the case an off-by-one (strict > instead
    of >=) or a float ceil in the bound arithmetic would wrongly prune.

    k=1 word shingles, |A| = |B| = 8, 6 shared words: Jaccard = 6/10 = 0.6
    exactly at t_ppm=600000. Each doc's 2 unique words have df=1 so they
    outrank (rarity-ascending) every shared word (df=2): prefix length is
    8 - floor(0.6*8) + 1 = 5, so the first shared-in-both-prefix token
    sits at rank 3 in both lists and the bound is 1 + min(8-3, 8-3) = 6 ==
    minoverlap ceil(0.6*16/1.6) = 6.
    """
    from marketpipe_spark.operators.dedup import setsim_join_exact

    shared = [f"s{i}" for i in range(6)]
    rows = [
        (1, " ".join(["a1", "a2"] + shared)),
        (2, " ".join(["b1", "b2"] + shared)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = setsim_join_exact(df, k=1, threshold_ppm=600_000, family="xxhash64").collect()
    assert [(r["id_a"], r["id_b"], r["shared"], r["n_a"], r["n_b"]) for r in got] == [
        (1, 2, 6, 8, 8)
    ]
    assert abs(got[0]["jac"] - 0.6) < 1e-12


def test_keep_last_agg_matches_window_and_breaks_ties_deterministically(spark):
    from marketpipe_spark.operators.dedup import keep_last, keep_last_agg

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 3, 30.0), ("a", 2, 20.0), ("b", 5, 50.0)],
        "k string, ord long, v double",
    )
    win = sorted(tuple(r) for r in keep_last(df, ["k"], "ord").collect())
    agg = sorted(tuple(r) for r in keep_last_agg(df, ["k"], ["ord"]).collect())
    assert win == agg == [("a", 3, 30.0), ("b", 5, 50.0)]
    # Ties on the order column: struct comparison breaks by payload —
    # a total order, stable under any partitioning.
    ties = spark.createDataFrame(
        [("a", 1, 2.0), ("a", 1, 9.0), ("a", 1, 5.0)], "k string, ord long, v double"
    )
    out = [tuple(r) for r in keep_last_agg(ties, ["k"], ["ord"]).collect()]
    assert out == [("a", 1, 9.0)]
    again = [
        tuple(r)
        for r in keep_last_agg(ties.repartition(7), ["k"], ["ord"]).collect()
    ]
    assert again == out
