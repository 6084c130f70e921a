"""Execution probe: per-round stage/shuffle cost of the iterative graph
loops under the two pin modes.

The loops pin their loop-invariant edge frames (`pin` / `pin_keyed`):
- default (`MP_PIN_MODE=local`): localCheckpoint — cheapest, but the
  checkpoint surfaces with UNKNOWN outputPartitioning, so when the
  node-state side is above the broadcast gate every round's join
  re-exchanges the BIG edge side too;
- `MP_PIN_MODE=persist`: `pin_keyed` repartitions on the per-round join
  key before a DISK_ONLY persist, which KEEPS outputPartitioning — the
  per-round exchange on the edge side disappears.

Because every round ends in a localCheckpoint (the plan string is
truncated to `Scan ExistingRDD`), exchanges can't be counted from the
final explain. Instead this counts EXECUTED STAGES per additional round:
each shuffle exchange terminates a stage, so (stages at R+2 rounds −
stages at R+1 rounds) is the per-round stage cost, measured from the
scheduler, not the plan string. The broadcast gate is forced OFF
(`execution.BROADCAST_STATE_MAX_NODES = 0`) — the above-gate shuffle regime is
where a 100 TB graph lives and where the pin mode matters.

Run each mode in a separate process:

    MP_PIN_MODE=local   python scripts/graph_plan_probe.py
    MP_PIN_MODE=persist python scripts/graph_plan_probe.py

Prints one JSON line: {"mode": ..., "stages_per_round": {loop: N}}.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def executed_stages(spark, group: str, fn) -> int:
    """Run fn() under a job group; return the number of distinct NON-SKIPPED
    stages its jobs executed (skipped stages reuse a prior shuffle's map
    output — they cost nothing per round and must not count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn().count()
    finally:
        sc.setJobGroup("", "")
    t = sc.statusTracker()
    stage_ids = set()
    for jid in t.getJobIdsForGroup(group):
        info = t.getJobInfo(jid)
        if info:
            stage_ids.update(info.stageIds)
    n = 0
    for sid in stage_ids:
        si = t.getStageInfo(sid)
        if si is not None and si.numTasks > 0 and si.numCompletedTasks > 0:
            n += 1
    return n


def main() -> None:
    from pyspark.sql import functions as F

    from marketpipe_spark import execution
    from marketpipe_spark.operators import graph
    from marketpipe_spark.session import get_spark

    execution.BROADCAST_STATE_MAX_NODES = 0  # force the shuffle path
    mode = os.environ.get("MP_PIN_MODE", "local")
    spark = get_spark(f"graph-plan-probe-{mode}")
    spark.sparkContext.setLogLevel("ERROR")

    # small deterministic graph: ring + chords
    n = 2000
    base = spark.range(n)
    edges = base.select(
        F.col("id").alias("u"), ((F.col("id") + 1) % n).alias("v")
    ).unionByName(
        base.select(F.col("id").alias("u"), ((F.col("id") + 7) % n).alias("v"))
    )
    dedges = edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    wedges = edges.withColumn("w", F.lit(1).cast("long"))
    seeds = spark.range(5).select(F.col("id"))

    probes = {
        "pagerank": lambda r: graph.pagerank(dedges, iterations=r),
        "kcore_peel": lambda r: graph.kcore_peel(edges, rounds=r, k=1),
        "label_propagation": lambda r: graph.label_propagation(edges, iterations=r),
        "khop_reach": lambda r: graph.khop_reach(edges, seeds, hops=r),
        "bounded_sssp": lambda r: graph.bounded_sssp(wedges, seeds, rounds=r),
    }
    out = {}
    for name, fn in probes.items():
        # clearCache between measurements: persist() registers frames in the
        # CacheManager by canonicalized LOGICAL PLAN, so the 3-round run's
        # identical subplans would silently reuse the 2-round run's cached
        # blocks and the delta would be garbage (measured: negative).
        spark.catalog.clearCache()
        lo = executed_stages(spark, f"{name}-lo-{mode}", lambda: fn(2))
        spark.catalog.clearCache()
        hi = executed_stages(spark, f"{name}-hi-{mode}", lambda: fn(3))
        out[name] = hi - lo
    print(json.dumps({"mode": mode, "stages_per_round": out}))
    spark.stop()


if __name__ == "__main__":
    main()
