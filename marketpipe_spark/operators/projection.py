"""Embedding dimensionality reduction: distributed, deterministic PCA.

The standard pre-ANN step (project 768-dim embeddings to 64 before
clustering/LSH). Dataflow mirrors :func:`similarity.kmeans_centroids`:

1. ONE vectorized ``mapInPandas`` pass emits per-task partial sums — the
   d-vector sum and the d×d Gram matrix, flattened. n_partitions tiny rows.
2. The driver reduces partials IN SORTED ORDER (float sums deterministic),
   forms the covariance, and eigendecomposes d×d — control-plane work for
   any sane d (d ≤ a few thousand).
3. Projection is a second map-only pass; only the (d×k) component matrix
   ships to tasks.

Sign convention: each component is flipped so its largest-|coefficient|
entry is positive — eigenvector sign is otherwise arbitrary and would
differ across LAPACK builds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pca_fit(corpus: DataFrame, k: int, vec_col: str = "embedding"):
    """Fit top-``k`` principal components. Returns (mean, components) numpy
    arrays of shape (d,), (d, k)."""
    import numpy as np
    import pandas as pd

    v = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))

    def partials(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        s = g = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy())
            if s is None:
                d = mat.shape[1]
                s, g = np.zeros(d), np.zeros((d, d))
            s += mat.sum(axis=0)
            g += mat.T @ mat
            n += len(mat)
        if n:
            yield pd.DataFrame([(pid, n, s.tolist(), g.ravel().tolist())],
                               columns=["pid", "n", "s", "g"])

    rows = sorted(
        v.mapInPandas(partials, "pid int, n long, s array<double>, g array<double>").collect(),
        key=lambda r: r.pid,
    )
    if not rows:
        raise ValueError("pca_fit: empty corpus")
    d = len(rows[0].s)
    n = 0
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in rows:
        n += r.n
        s += np.asarray(r.s)
        g += np.asarray(r.g).reshape(d, d)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / max(n - 1, 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    comps = vecs[:, ::-1][:, :k]  # top-k by variance
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(k)])
    return mean, comps * flip


def pca_project(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mean=None,
    components=None,
) -> DataFrame:
    """Project every vector onto the top-``k`` components (fit on the same
    corpus unless a (mean, components) pair from :func:`pca_fit` is given —
    fit-on-train / apply-everywhere). Map-only; output column ``projected``
    is array<double> of length k."""
    import numpy as np
    import pandas as pd

    if mean is None or components is None:
        mean, components = pca_fit(corpus, k, vec_col)
    mean = np.asarray(mean)
    components = np.asarray(components)

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy())
            proj = (mat - mean) @ components
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "projected": list(map(list, proj))})

    v = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    out = v.mapInPandas(project, "id long, projected array<double>")
    return out.select(F.col("id").alias(id_col), "projected")


def group_centroids(
    corpus: DataFrame, group_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Per-group embedding centroids → (group, dim, n, centroid) rows.

    The mean-pooling reduction every embedding pipeline needs (class
    prototypes, cluster summaries, per-source drift monitors), built on the
    same two-phase shape as :func:`pca_fit`:

    1. ONE vectorized ``mapInPandas`` pass computes per-task partial sums —
       a (groups x dims) int64 matrix per task, NOT a per-dimension explode
       of the corpus (the row-inflation anti-pattern: 64-768x rows through
       a shuffle). Components are µ-quantized (``floor(x * 1e6)`` as int64)
       so partial sums are EXACT integers — associative, commutative, and
       therefore identical under any partitioning or shuffle order.
    2. The tiny partials (tasks x groups x dims rows) posexplode and reduce
       in one hash-agg; the final centroid is two IEEE divisions
       (sum/n/1e6), bit-identical in any engine — the registry entry
       ``label_centroids`` is value-hash-checked against DuckDB.

    At 100 TB: the corpus streams through stage 1 map-only; the shuffle
    carries only ``tasks * groups * dims`` rows (KBs, cardinality-
    independent). int64 headroom: |q| <= 1e6 per component allows ~9e12
    rows per (group, task) partial before overflow — beyond that, cast to
    decimal(38,0) in the final agg.
    """
    import numpy as np
    import pandas as pd

    v = corpus.select(
        F.col(group_col).cast("long").alias("g"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def partials(batches):
        acc: dict[int, tuple[int, object]] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for g, grp in pdf.groupby("g"):
                mat = np.stack(grp["v"].to_numpy())
                q = np.floor(mat * 1e6).astype(np.int64)
                n0, s0 = acc.get(g, (0, 0))
                acc[g] = (n0 + len(q), s0 + q.sum(axis=0))
        if acc:
            yield pd.DataFrame(
                [(int(g), n, s.tolist()) for g, (n, s) in acc.items()],
                columns=["g", "n", "s"],
            )

    p = v.mapInPandas(partials, "g long, n long, s array<long>")
    return (
        p.select("g", "n", F.posexplode("s").alias("dim", "qsum"))
        .groupBy("g", "dim")
        .agg(F.sum("n").alias("n"), F.sum("qsum").alias("qsum"))
        .select(
            F.col("g").alias(group_col),
            "dim",
            "n",
            (F.col("qsum").cast("double") / F.col("n") / F.lit(1_000_000.0)).alias(
                "centroid"
            ),
        )
    )


def nearest_centroid_label(
    corpus: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    max_labels: int = 1000,
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification over an embedding column:
    assign each vector the label of its highest-cosine class centroid —
    the standard cheap auto-labeler / quality probe for curation pipelines
    (and the per-class drift monitor when run against FROZEN centroids via
    ``centroids=``).

    Deterministic end-to-end: centroids come from
    :func:`group_centroids`'s µ-quantized exact integer sums (identical
    under any partitioning), cosines use the sequential-fold dot
    (``similarity._dot``) with the norm factoring every oracle-verified
    path shares, and argmax is an ordered struct-least (ties → smallest
    label) — so an external SQL engine reproduces every prediction
    bit-for-bit.

    Returns ``(id, true_label, pred_label, cosine, correct)``.

    Scale shape (100 TB): centroid fit is the group_centroids partial-sum
    pass (shuffle carries tasks × labels × dims rows, KBs). The fitted
    centroids are a MODEL ARTIFACT, not data — labels × dims doubles,
    bounded by ``max_labels`` (fail-fast beyond it) — so they ship to
    tasks as plan literals (the PQ-codebook precedent) and scoring is a
    single map-only projection over the corpus: one fold per label plus a
    struct-least argmax, no join, no shuffle, no corpus row inflation. A
    labels-×-corpus cross join — even broadcast — would plan as a
    nested-loop join and inflate rows L×; shipping the model avoids the
    join operator entirely.
    """
    from .similarity import _dot

    cent = centroids if centroids is not None else group_centroids(corpus, group_col, vec_col)
    carr = (
        cent.groupBy(group_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s["centroid"],
            ).alias("cv")
        )
        .select(F.col(group_col).cast("long").alias("cand_label"), "cv")
        .limit(max_labels + 1)
        .collect()
    )
    if len(carr) > max_labels:
        raise ValueError(
            f"nearest_centroid_label: > {max_labels} distinct labels; raise "
            "max_labels only if the per-row scoring expression (labels x dims "
            "literals) is genuinely intended"
        )
    import math

    v = corpus.select(
        F.col(id_col),
        F.col(group_col).cast("long").alias("true_label"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # Plan-size discipline (r10): each centroid's own norm is a CONSTANT —
    # fold it here with the identical sequential order _dot uses
    # (acc = 0.0; acc += x*x left-to-right, then a correctly-rounded sqrt),
    # so the value is bit-equal to the old in-plan
    # sqrt(aggregate(zip_with(cv, cv, *))) over literals — and name each
    # label's cosine ONCE as a projected column instead of inlining its
    # 64-element fold tree twice (negcos + cos) inside every struct. The
    # struct-least argmax and every per-row value are unchanged; only the
    # expression tree shrinks (~4x fewer fold subtrees), which is
    # driver-side plan-construction and codegen cost at high label counts.
    srt = sorted(carr, key=lambda r: r.cand_label)
    vn = F.sqrt(_dot(F.col("v"), F.col("v")))
    scored = v.select("*", vn.alias("__ncl_vn"))
    cos_cols = []
    for i, r in enumerate(srt):
        cv = F.array(*[F.lit(float(x)) for x in r.cv])
        acc = 0.0
        for x in r.cv:
            acc += float(x) * float(x)
        cn = math.sqrt(acc)
        cos_cols.append(
            (_dot(F.col("v"), cv) / (F.col("__ncl_vn") * F.lit(cn))).alias(f"__ncl_c{i}")
        )
    scored = scored.select("*", *cos_cols)
    cands = [
        F.struct(
            (-F.col(f"__ncl_c{i}")).alias("negcos"),
            F.lit(int(r.cand_label)).cast("long").alias("cand_label"),
            F.col(f"__ncl_c{i}").alias("cos"),
        )
        for i, r in enumerate(srt)
    ]
    m = cands[0] if len(cands) == 1 else F.least(*cands)
    return scored.select(
        id_col,
        "true_label",
        m["cand_label"].alias("pred_label"),
        m["cos"].alias("cosine"),
        (m["cand_label"] == F.col("true_label")).alias("correct"),
    )
