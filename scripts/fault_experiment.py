"""Executor-loss fault experiment: the reliability axis of MP_PIN_MODE.

The `execution.pin`/`pin_state` docstrings make three claims:

- ``local``: localCheckpoint blocks die with their executor (lineage
  truncated — nothing to recompute from), so a mid-loop kill can fail the
  job outright;
- ``persist``: lineage is kept for the loop-INVARIANT frames, so their lost
  DISK_ONLY blocks recompute — but per-round loop STATE is still
  localCheckpointed (plan truncation requires it), leaving a timing window
  where a kill that lands while a round's state blocks live only on the
  victim is unrecoverable (VERDICT r6 #1);
- ``reliable``: loop state goes through real ``df.checkpoint()`` to
  driver-side storage (MP_CHECKPOINT_DIR), so there is NO timing window —
  reliable mode must never fail, at any kill delay.

This script tests those claims for real: it runs PageRank on a
``local-cluster[2,4,2048]`` (two executor JVMs), SIGKILLs one executor at a
configurable delay mid-loop, and reports whether the job completed and
whether the scores match an undisturbed run.

One cell:   MP_PIN_MODE=reliable MP_FAULT_DELAY=2.0 python scripts/fault_experiment.py
Full sweep: python scripts/fault_experiment.py --sweep   (delays x all 3 modes,
            one subprocess per cell — each cell gets a fresh pair of executor
            JVMs; writes FAULT_MATRIX.json at the repo root)

Per-cell JSON: {"mode", "delay", "killed_pid", "completed", "correct", ...}.
Expected: reliable -> completed+correct at EVERY delay; persist -> survives
the delays where only invariant blocks are lost, may fail in the state
window; local -> fails whenever the kill lands while pinned blocks are
resident only on the victim.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SWEEP_DELAYS = (1.0, 2.0, 3.5, 5.0, 7.0)
SWEEP_MODES = ("local", "persist", "reliable")


def executor_pids() -> list[int]:
    """Pids of CoarseGrainedExecutorBackend JVMs (the executor processes)."""
    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True, text=True,
    ).stdout.split()
    return [int(p) for p in out]


def run_cell() -> None:
    mode = os.environ.get("MP_PIN_MODE", "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from pyspark.sql import functions as F

    from marketpipe_spark.operators import graph
    from marketpipe_spark.session import get_spark

    spark = get_spark(
        f"fault-{mode}",
        master="local-cluster[2,4,2048]",
        extra_conf={
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.executor.memory": "1536m",
            # generous task retries: surviving a lost executor is the point
            "spark.task.maxFailures": "8",
            "spark.stage.maxConsecutiveAttempts": "8",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    n = 200_000
    base = spark.range(n)
    edges = base.select(
        F.col("id").alias("src"), ((F.col("id") * 48271 + 1) % n).alias("dst")
    ).unionByName(
        base.select(F.col("id").alias("src"), ((F.col("id") + 13) % n).alias("dst"))
    )

    # undisturbed reference (also warms the cluster so executor pids exist)
    ref = {r.id: r.score for r in graph.pagerank(edges, iterations=3).collect()}

    state: dict = {"killed_pid": None, "kill_error": None}

    delay = float(os.environ.get("MP_FAULT_DELAY", "2.0"))

    def killer():
        if delay < 0:  # no-kill baseline arm (recovery-COST comparisons)
            return
        time.sleep(delay)  # land mid-iteration of the 3-round loop
        pids = executor_pids()
        if not pids:
            state["kill_error"] = "no executor pids found"
            return
        victim = pids[0]
        state["killed_pid"] = victim
        os.kill(victim, signal.SIGKILL)

    th = threading.Thread(target=killer)
    completed = correct = False
    err = None
    t0 = time.time()
    th.start()
    try:
        got = {r.id: r.score for r in graph.pagerank(edges, iterations=3).collect()}
        completed = True
        correct = got == ref
    except Exception as e:  # noqa: BLE001 — the failure IS the measurement
        err = f"{type(e).__name__}: {str(e)[:300]}"
    th.join()

    print(json.dumps({
        "mode": mode, "delay": delay,
        "killed_pid": state["killed_pid"],
        "kill_error": state["kill_error"],
        "completed": completed,
        "correct": correct,
        "wall_sec": round(time.time() - t0, 2),
        "error": err,
    }))
    spark.stop()


def run_sweep() -> int:
    """Every (mode, delay) cell in its own subprocess; matrix to stdout +
    FAULT_MATRIX.json. Exit nonzero iff reliable mode ever failed."""
    cells = []
    for mode in SWEEP_MODES:
        for delay in SWEEP_DELAYS:
            env = {
                **os.environ,
                "MP_PIN_MODE": mode,
                "MP_FAULT_DELAY": str(delay),
            }
            print(f"--- cell mode={mode} delay={delay}", flush=True)
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env, cwd=REPO, capture_output=True, text=True, timeout=900,
            )
            rec = None
            for line in reversed(p.stdout.strip().splitlines()):
                try:
                    rec = json.loads(line)
                    break
                except json.JSONDecodeError:
                    continue
            if rec is None:
                rec = {"mode": mode, "delay": delay, "completed": False,
                       "correct": False, "error": f"no JSON (rc={p.returncode}); "
                       f"stderr tail: {p.stderr[-300:]}"}
            print(json.dumps(rec), flush=True)
            cells.append(rec)
    path = os.path.join(REPO, "FAULT_MATRIX.json")
    with open(path, "w") as f:
        json.dump(cells, f, indent=2)
    bad_reliable = [
        c for c in cells
        if c["mode"] == "reliable" and not (c["completed"] and c["correct"])
    ]
    ok = {m: sum(1 for c in cells if c["mode"] == m and c["completed"] and c["correct"])
          for m in SWEEP_MODES}
    print(f"\nsurvived/correct per mode (of {len(SWEEP_DELAYS)}): {ok} -> {path}")
    return 1 if bad_reliable else 0


if __name__ == "__main__":
    if "--sweep" in sys.argv:
        raise SystemExit(run_sweep())
    run_cell()
