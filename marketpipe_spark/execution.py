"""Execution policy: how plans pin shared frames and spread coarse inputs.

This module is the package's only home for pins, their release, and the
coarse-input guard; operators and query plans import from here and never
touch ``.rdd`` themselves (``tests/test_plan_hygiene.py`` enforces both).
The measured history behind each rule lives in
docs/developer_guide/architecture.md, section "Execution policy".

``MP_PIN_MODE`` selects the pin trade: ``local`` (default) | ``persist`` |
``reliable`` | ``off``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Iterative loops join a big pinned frame against NODE-sized per-round
#: state that comes out of a checkpoint with unknown statistics — the
#: planner would SortMergeJoin the big side every round. At or below this
#: many nodes the state is broadcast-hinted instead; above it the loops
#: fall back to plain shuffle joins. Results are identical either way.
#: Probes set it to 0 to force the shuffle path without a 5M-node graph.
BROADCAST_STATE_MAX_NODES = 5_000_000


def _mode() -> str:
    """``off`` makes every pin the identity — used by the zero-jobs-at-build
    hygiene test: under AQE even a LAZY ``localCheckpoint`` executes the
    pin's upstream shuffle stages at build time, so with pins off plan
    construction must run ZERO jobs. NOT a bench knob: pin work is part of
    the query."""
    return os.environ.get("MP_PIN_MODE", "local")


def _ensure_checkpoint_dir(spark) -> None:
    """Set a RELIABLE checkpoint dir before ``df.checkpoint()``:
    ``MP_CHECKPOINT_DIR`` (on a real cluster an HDFS / object-store path),
    else a local temp dir — still reliable against executor JVM loss,
    the failure domain the fault experiment kills."""
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        d = os.environ.get("MP_CHECKPOINT_DIR")
        if not d:
            import tempfile

            d = tempfile.mkdtemp(prefix="mp-reliable-ckpt-")
        sc.setCheckpointDir(d)


def _persist(df: DataFrame, scope: list | None) -> DataFrame:
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.DISK_ONLY)
    if scope is not None:
        scope.append(out)
    return out


def pin(df: DataFrame, scope: list | None = None) -> DataFrame:
    """Materialize a frame that feeds several plan branches.

    - ``local``: ``localCheckpoint(eager=False)`` — cheapest; truncates
      lineage, blocks are lost with their executor.
    - ``persist``: ``persist(DISK_ONLY)`` — lineage kept, a lost block
      recomputes. Registered in ``scope`` (a :func:`pinned` scope) so it is
      freed when the caller is done.
    - ``reliable``: ``df.checkpoint()`` to ``MP_CHECKPOINT_DIR`` — lineage
      truncated AND blocks survive executor loss.
    - ``off``: identity.
    """
    mode = _mode()
    if mode == "off":
        return df
    if mode == "persist":
        return _persist(df, scope)
    if mode == "reliable":
        _ensure_checkpoint_dir(df.sparkSession)
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def pin_all(*dfs: DataFrame, scope: list | None = None) -> list[DataFrame]:
    """Pin several INDEPENDENT frames with their jobs overlapped.

    Under AQE a pin finalizes its adaptive plan by executing the subtree's
    shuffle stages inside the call, so sequential pins serialize their jobs;
    a small thread pool lets one pin's tasks fill the slots the other's
    straggler tail leaves idle. Same frames, same order as sequential
    :func:`pin` calls; under ``off`` the identity map, with no threads."""
    if _mode() == "off" or len(dfs) <= 1:
        return [pin(df, scope=scope) for df in dfs]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(len(dfs), 4)) as ex:
        return list(ex.map(lambda d: pin(d, scope=scope), dfs))


def pin_keyed(df: DataFrame, *keys: str, scope: list | None = None) -> DataFrame:
    """Pin a loop-invariant frame, co-partitioned on its per-round join key.

    Only ``persist`` keeps a pinned plan's outputPartitioning, so only there
    is the frame repartitioned on ``keys`` first: every round's shuffle join
    then finds the big side already distributed. A checkpoint (``local`` /
    ``reliable``) surfaces with unknown partitioning, so there this is
    exactly :func:`pin` and the repartition is skipped."""
    if _mode() == "persist":
        return _persist(df.repartition(*[F.col(k) for k in keys]), scope)
    return pin(df)


def pin_state(df: DataFrame, eager: bool = True) -> DataFrame:
    """Pin per-round loop STATE (scores / labels / frontiers / distances).

    State truncates lineage every round in every mode — a lineage-keeping
    pin would nest each round's plan into the next. ``local``/``persist``
    (and ``off``) use ``localCheckpoint``, which leaves a window where a
    kill on a round's only state replica is unrecoverable; ``reliable``
    checkpoints to reliable storage and has no such window."""
    if _mode() == "reliable":
        _ensure_checkpoint_dir(df.sparkSession)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


@contextmanager
def pinned() -> Iterator[list]:
    """Release scope for persist-mode pins: pass the yielded list as
    ``scope=`` and every DISK_ONLY frame registered in it is unpersisted
    when the block exits, on the error path too. Leave the block only once
    the result no longer needs the pins (an eager :func:`pin_state` of it),
    or repeated calls in a long session accumulate cached blocks. Safe
    because persist keeps lineage: a released frame referenced again
    merely recomputes. Pins of other modes never enter the scope."""
    scope: list[DataFrame] = []
    try:
        yield scope
    finally:
        for df in scope:
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release


def broadcast_state(df: DataFrame, n_nodes: int) -> DataFrame:
    """Broadcast-hint a node-sized per-round state frame when
    ``n_nodes <= BROADCAST_STATE_MAX_NODES``."""
    return F.broadcast(df) if n_nodes <= BROADCAST_STATE_MAX_NODES else df


def coarse(df: DataFrame) -> bool:
    """True when ``df`` arrives in fewer partitions than the cluster's
    ``defaultParallelism`` (e.g. one small parquet file). The package's
    only partition probe."""
    return df.rdd.getNumPartitions() < df.sparkSession.sparkContext.defaultParallelism


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a :func:`coarse` input to cluster parallelism; a no-op
    otherwise (any real lake scan at scale).

    With ``keys`` the repartition hashes on them: deterministic, so one
    exchange is planned and reused across branches, and on join keys it is
    absorbed as the join's required distribution; the explicit count is
    exempt from AQE's byte-based coalescing. Without keys it round-robins,
    which is only valid for order-insensitive consumers (exact decimal /
    integer aggregates, never float sums). Call ONCE at the operator entry,
    never in a helper referenced from several plan branches."""
    if not coarse(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target, *[F.col(k) for k in keys])
