#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload {ingest_daily,query_serving} \\
        --seed N --seconds S --trace {0,1} [--size {full,smoke}]

Run from the root of a checkout. The run starts one Spark session (the
program's ``get_spark``, local[nproc]), stages every input from the seed,
warms up, measures a fixed number of operations sized to ``--seconds``,
checks every answer against DuckDB with the clock stopped, and prints, as
its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the ``end_to_end`` metrics of BENCHMARK.json (``--trace 0``) or its
``per_layer`` metrics (``--trace 1``). The line before it lists the
workload's own end-to-end figures by name and unit. A result file (and with
``--trace 1`` a span file) goes to ``.perfbench/out/`` in the checkout; all
scratch data lives under ``.perfbench/run-<nonce>/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Driver heap for every run: fits a 4-core/15 GB host next to other
#: tenants (``get_spark`` would otherwise ask for 16g).
DRIVER_MEM = "3g"

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}


def _die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _identity(args, nonce: str, spark) -> dict:
    digest = hashlib.sha256()
    for base in ("marketpipe_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        digest.update(f.encode() + fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        res = subprocess.run(
            ["git", "--git-dir", os.path.join(ROOT, ".git"), "rev-parse", "HEAD"],
            capture_output=True, text=True, check=False,
        )
        commit = res.stdout.strip() or None
    sc = spark.sparkContext
    return {
        "nonce": nonce,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "commit": commit,
        "source_sha256": digest.hexdigest(),
        "parallelism": sc.defaultParallelism,
        "master": sc.master,
        "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "python": sys.version.split()[0],
    }


def _layer_metrics(spans: list[dict], out) -> dict[str, float]:
    meas = [s for s in spans if s["phase"] == "measure"]

    def dur(ss):
        return float(sum(s["end"] - s["start"] for s in ss))

    def named(name, pool=meas):
        return [s for s in pool if s["name"] == name]

    m: dict[str, float] = {}
    for key, name in (("lake.upsert", "lake.upsert"), ("control.jobs", "control.jobs"),
                      ("control.metrics", "control.metrics"), ("pin", "pin")):
        m[f"{key}.calls"] = float(len(named(name)))
        m[f"{key}.s"] = dur(named(name))
    for key in ("lake.compact", "lake.prune", "lake.list"):
        m[f"{key}.s"] = dur(named(key))
    for key in ("validation.report", "incremental.checkpoint.load", "incremental.checkpoint.save"):
        m[f"{key}_s"] = dur(named(key))
    m["incremental.job_s"] = dur(named("incremental.job"))
    for layer in ("resample", "validation"):
        m[f"{layer}.s"] = dur(named(layer)) + dur(s for s in meas if s.get("origin") == layer)
    execs = named("plans.exec")
    m["plans.exec_s"] = dur(execs)
    m["plans.cache_hit_ratio"] = (
        sum(1 for s in execs if s.get("hit")) / len(execs) if execs else 0.0
    )
    m["views.ensure_s"] = dur(named("views.ensure", spans))
    m["views.query_s"] = dur(named("views.query"))
    m["loader.load_s"] = dur(named("loader.load"))
    m["loader.rows"] = float(sum(s.get("rows", 0) for s in named("loader.load")))
    m["sources.stage_s"] = dur(named("sources.stage", spans))
    for k in ("jobs", "stages", "tasks", "tasks_failed", "single_task_stages"):
        m[f"spark.{k}"] = float(sum(s.get(k, 0) for s in meas))
    m.update(out.layer)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_daily", "query_serving"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    args = ap.parse_args()

    for need in ("marketpipe_spark/__init__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _die(f"{need} not found under {ROOT}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]

    nonce = uuid.uuid4().hex[:12]
    tmp = os.path.join(ROOT, ".perfbench", f"run-{nonce}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    for d in ("in", "tmp", "spark-local", "lake"):
        os.makedirs(os.path.join(tmp, d))
    os.makedirs(out_dir, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=os.path.join(tmp, "tmp"),
        # the launcher JVM that spark-submit starts first: no /tmp/hsperfdata
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/tmp",
    )
    try:
        return _run(args, spec, nonce, tmp, out_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, spec: dict, nonce: str, tmp: str, out_dir: str) -> int:
    import oracle
    import workloads
    from spans import Tracer, self_times

    from marketpipe_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData",
    }
    if args.workload == "query_serving":
        conf["spark.scheduler.mode"] = "FAIR"  # as the serve CLI runs it
    if args.trace:  # keep every job's stage/task counts until the harvest
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    con = oracle.connect(os.path.join(tmp, "tmp"))
    tracer = Tracer(spark if args.trace else None, nonce)
    try:
        tracer.install()
        ctx = workloads.Ctx(
            spark, tracer, con, tmp, args.seed, args.seconds,
            workloads.SIZES[args.workload][args.size],
        )
        out = workloads.WORKLOADS[args.workload](ctx)
        tracer.harvest()
        identity = _identity(args, nonce, spark)
        identity["inputs"] = out.inputs
        rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(gateway.proc.pid)) / 1024.0
    finally:
        tracer.uninstall()
        con.close()
        gc.collect()  # free the workload's Java objects while the gateway still answers
        spark.stop()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    lat = out.latencies
    e2e = {
        "setup_s": session_s + out.setup_s,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "ops_per_s": len(lat) / out.window_s if out.window_s else 0.0,
        "peak_rss_mb": rss_mb,
    }
    spans = tracer.records(t0)
    layer = _layer_metrics(spans, out) if args.trace else {}
    named = dict(out.named)
    named.update({
        "setup_s": {"value": e2e["setup_s"], "unit": "s"},
        "error_rate": {"value": out.failed / max(out.attempted, 1), "unit": "ratio"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    })

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        name = m["name"]
        if args.trace:
            value = layer.get(name, 0.0)  # a layer this workload never calls did no work
        else:
            if E2E_UNITS.get(name) != m["unit"]:
                raise ValueError(f"BENCHMARK.json declares {name} in {m['unit']!r}")
            value = e2e[name]
        metrics[name] = {"value": value, "unit": m["unit"]}
    correct = out.failed == 0 and out.attempted > 0
    result = {"correct": correct, "attempted": out.attempted, "failed": out.failed,
              "metrics": metrics}

    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{nonce}")
    record = {"identity": identity, "result": result, "named": named, "end_to_end": e2e,
              "per_layer": layer, "latencies": lat, "samples": out.samples,
              "errors": out.errors, "session_s": session_s, "window_s": out.window_s}
    with open(f"{stem}.result.json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        self_s = self_times(spans)
        for s in spans:
            s["self_s"] = round(self_s[s["id"]], 6)
        with open(f"{stem}.trace.json", "w") as f:
            json.dump({"identity": identity, "spans": spans}, f)
    for e in out.errors:
        print(f"error: {e}", file=sys.stderr)
    print(f"result file: {stem}.result.json", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "named": named}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
