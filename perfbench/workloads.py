"""The workloads. Each one stages its inputs from the seed (set-up),
runs its measured operations, then checks every answer against DuckDB with
the clock stopped.

A workload returns an :class:`Outcome`; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import glob
import itertools
import random
import statistics
import threading
import time

import pyarrow.parquet as pq

import inputs
import oracle

FRAMES = ["5m", "15m", "1h", "4h", "1d"]
FIRST_DAY = dt.date(2024, 1, 2)
#: Wall time of one query_serving request cycle on a 4-core host; sets how
#: many whole cycles fill the measuring window.
SERVE_CYCLE_S = 5.0
#: Wall time of one ingest_daily day from a cold start on a 4-core host: a
#: run measures ``round(seconds / INGEST_DAY_S)`` days (at least one), a fixed
#: count so that every run measures the same work.
INGEST_DAY_S = 35.0

#: Workload sizes. ``full`` is what the benchmark measures; ``smoke`` is the
#: smallest input on which every code path still runs (the smoke tests).
SIZES = {
    "ingest_daily": {
        "full": {"symbols": 10, "history": 2, "revised": 30, "stale": 60},
        "smoke": {"symbols": 2, "history": 2, "revised": 5, "stale": 5},
    },
    "query_serving": {
        "full": {"sf": 0.05, "symbols": 10, "sessions": 3, "clients": 4, "sql": 5, "loads": 5},
        "smoke": {"sf": 0.001, "symbols": 2, "sessions": 2, "clients": 4, "sql": 2, "loads": 2},
    },
}


@dataclasses.dataclass
class Ctx:
    spark: object
    tracer: object
    con: object  # DuckDB connection for staging and checks
    tmp: str
    seed: int
    seconds: float
    size: dict


@dataclasses.dataclass
class Outcome:
    setup_s: float  # staging + any warm-up, after the session is up
    latencies: list[float]  # one per completed measured operation
    window_s: float  # wall time of the measured window
    attempted: int
    failed: int
    named: dict[str, dict]  # the workload's own end-to-end metrics: value, unit, ...
    layer: dict[str, float]  # per-layer figures only the workload can compute
    inputs: dict[str, int]
    errors: list[str] = dataclasses.field(default_factory=list)
    samples: dict[str, list[float]] = dataclasses.field(default_factory=dict)


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _lake_stats(*roots: str) -> dict[str, float]:
    parts: dict[str, int] = {}
    for r in roots:
        parts.update(oracle.lake_partitions(r))
    return {
        "lake.files": float(sum(parts.values())),
        "lake.partitions": float(len(parts)),
        "lake.files_per_partition_max": float(max(parts.values(), default=0)),
        "lake.bytes": float(oracle.tree_bytes(*roots)),
    }


def _stage_lake(con, bars_parquet: str, raw_root: str, agg_root: str) -> None:
    """Land staged bars as a ready-made lake (raw 1m + all five frames) in
    the program's layout, with DuckDB: this is input, not program work."""
    src = oracle.staged_relation(bars_parquet)
    part = "CAST(make_timestamp(ts_ns // 1000) AS DATE) AS date"
    con.execute(
        f"COPY (SELECT '1m' AS frame, {part}, * FROM {src}) TO '{raw_root}' "
        "(FORMAT parquet, PARTITION_BY (frame, symbol, date))"
    )
    frames = " UNION ALL ".join(
        f"SELECT '{f}' AS frame, {part}, * FROM ({oracle.resample_sql(src, f)})" for f in FRAMES
    )
    con.execute(f"COPY ({frames}) TO '{agg_root}' (FORMAT parquet, PARTITION_BY (frame, symbol, date))")


def _check_aggs(con, raw_sql: str, agg_root: str) -> list[str]:
    bad = []
    for f in FRAMES:
        want = con.execute(oracle.resample_sql(raw_sql, f)).arrow()
        got = con.execute(f"SELECT * FROM {oracle.lake_relation(agg_root, f)}").arrow()
        if not oracle.same(got, want):
            bad.append(f"agg {f}: {got.num_rows} rows != expected {want.num_rows}")
    return bad


# ---------------------------------------------------------------------------
# ingest_daily


def ingest_daily(ctx: Ctx) -> Outcome:
    from marketpipe_spark import lake
    from marketpipe_spark.control import JobsStore, MetricsStore
    from marketpipe_spark.operators.validation import write_validation_report
    from marketpipe_spark.streaming.incremental import CheckpointStore, incremental_job

    spark, tr, con, z = ctx.spark, ctx.tracer, ctx.con, ctx.size
    n_days = max(1, round(ctx.seconds / INGEST_DAY_S))
    syms = inputs.symbols(z["symbols"])
    days = inputs.trading_days(FIRST_DAY, z["history"] + n_days)
    hist_days, inc_days = days[: z["history"]], days[z["history"]:]
    raw, agg = f"{ctx.tmp}/lake/raw", f"{ctx.tmp}/lake/agg"
    t0 = time.perf_counter()
    with tr.span("sources.stage"):
        hist_pq = f"{ctx.tmp}/in/history.parquet"
        hist = inputs.sessions(syms, hist_days, ctx.seed)
        pq.write_table(hist, hist_pq)
        incs = []
        for k, day in enumerate(inc_days):
            bars, lo, hi = inputs.increment(
                syms, day, days[z["history"] + k - 1], ctx.seed, z["revised"], z["stale"]
            )
            path = f"{ctx.tmp}/in/inc{k}.parquet"
            pq.write_table(bars, path)
            incs.append((day, path, lo, hi))
    _stage_lake(con, hist_pq, raw, agg)
    ctl = f"{raw}_ctl"  # beside the lake, as the ingest-ohlcv CLI lays it out
    cps = CheckpointStore(spark, f"{ctl}/checkpoints")
    jobs, metrics = JobsStore(spark, f"{ctl}/jobs"), MetricsStore(spark, f"{ctl}/metrics")

    setup_s = time.perf_counter() - t0

    # No warm-up: the ingest-ohlcv CLI runs each day in a fresh process, so
    # its users pay the JVM's cold start (JIT, code generation) every day, as
    # the first measured day does here. A day is the increment through
    # incremental_job, then the day's maintenance: its validation report,
    # compaction and a dry-run prune.
    tr.phase = "measure"
    lat, inc_lat, done, errors, bad_ops = [], [], [], [], set()
    t_start = time.perf_counter()
    for k, (day, path, lo, hi) in enumerate(incs):
        try:
            with tr.span("ingest.day", rid=f"day{k}") as op:
                with tr.span("incremental.job") as job:
                    out = incremental_job(
                        spark, f"ingest-{day.isoformat()}", spark.read.parquet(path), raw, agg,
                        cps, frames=FRAMES, market_hours=False, jobs=jobs, metrics=metrics,
                        provider="fake", feed="iex", window_start_ns=lo, window_end_ns=hi,
                    )
                report = f"{ctl}/reports/{day.isoformat()}"
                write_validation_report(out["errors"], report)
                compacted = lake.compact_partitions(spark, raw, "1m")
                pruned = lake.prune_bars(spark, raw, "30d", dry_run=True)
            lat.append(op["end"] - op["start"])
            inc_lat.append(job["end"] - job["start"])
            done.append((k, out, report, compacted, pruned))
        except Exception as e:  # a failed day counts; the run goes on
            errors.append(f"day{k}: {type(e).__name__}: {str(e)[:200]}")
            bad_ops.add(k)
    window_s = time.perf_counter() - t_start
    attempted = len(incs)

    tr.phase = "check"
    offered = fresh = landed = n_err = rows_out = 0
    con.execute(f"CREATE TABLE exp_raw AS SELECT * FROM {oracle.staged_relation(hist_pq)}")
    for k, out, report, compacted, pruned in done:
        _, path, lo, hi = incs[k]
        batch = f"(SELECT * FROM {oracle.staged_relation(path)} WHERE ts_ns >= {lo} AND ts_ns < {hi})"
        want_err = con.execute(oracle.validation_sql(batch, market_hours=False)).arrow()
        bad = []
        got_err = out["errors"].toArrow()
        if not oracle.same(got_err, want_err):
            bad.append(f"{got_err.num_rows} validation errors != {want_err.num_rows}")
        if not oracle.same(_read_report(con, report, want_err), want_err):
            bad.append("validation report differs from the recomputed errors")
        if compacted:  # keep-last merges rewrite whole partitions: one file each
            bad.append(f"compaction rewrote {len(compacted)} partitions")
        if len(pruned) != len(syms) * (z["history"] + k + 1):  # every day so far
            bad.append(f"prune dry run listed {len(pruned)} partitions")
        if bad:
            errors += [f"day{k}: {b}" for b in bad]
            bad_ops.add(k)
        con.register("errs", want_err)
        con.execute(
            f"CREATE OR REPLACE TABLE valid AS SELECT * FROM {batch} b WHERE NOT EXISTS "
            "(SELECT 1 FROM errs e WHERE e.symbol = b.symbol AND e.ts_ns = b.ts_ns)"
        )
        con.execute(
            "DELETE FROM exp_raw USING valid WHERE exp_raw.symbol = valid.symbol "
            "AND exp_raw.ts_ns = valid.ts_ns"
        )
        con.execute("INSERT INTO exp_raw SELECT * FROM valid")
        offered += con.execute(f"SELECT count(*) FROM {oracle.staged_relation(path)}").fetchone()[0]
        fresh += con.execute(f"SELECT count(*) FROM {batch}").fetchone()[0]
        landed += con.execute("SELECT count(*) FROM valid").fetchone()[0]
        n_err += want_err.num_rows
        if tr.traced:
            rows_out += sum(out[f].count() for f in FRAMES)
    got_raw = con.execute(f"SELECT * FROM {oracle.lake_relation(raw, '1m')}").arrow()
    want_raw = con.execute("SELECT * FROM exp_raw").arrow()
    bad = [] if oracle.same(got_raw, want_raw) else [
        f"raw lake: {got_raw.num_rows} rows != keep-last expectation {want_raw.num_rows}"
    ]
    bad += _check_aggs(con, "exp_raw", agg)
    if bad:  # the final lake carries every day's writes
        errors += bad
        bad_ops.update(range(attempted))
    stats = _lake_stats(raw, agg)
    layer = dict(stats)
    layer.update({
        "incremental.fresh_ratio": fresh / offered if offered else 0.0,
        "lake.compact.partitions": float(sum(len(d[3]) for d in done)),
        "resample.rows_out": float(rows_out),
        "validation.errors": float(n_err),
        "validation.valid_ratio": landed / fresh if fresh else 0.0,
    })
    total = sum(inc_lat)
    named = {
        "ingest_day_p50_s": {"value": _p50(lat), "unit": "s"},
        "ingest_increment_p50_s": {"value": _p50(inc_lat), "unit": "s"},
        "ingest_bars_per_s": {"value": landed / total if total else 0.0, "unit": "bars/s"},
        "lake_bytes_per_bar": {"value": stats["lake.bytes"] / max(got_raw.num_rows, 1),
                               "unit": "B/bar"},
    }
    return Outcome(
        setup_s, lat, window_s, attempted, len(bad_ops), named, layer,
        {"symbols": len(syms), "history_bars": hist.num_rows, "offered_bars": offered,
         "days": len(incs)},
        errors,
    )


def _read_report(con, report: str, empty):
    """The CSV validation report under ``report`` (symbol-partitioned), or
    ``empty`` with no rows when the report holds no error."""
    if not glob.glob(f"{report}/*/*.csv"):
        return empty.slice(0, 0)
    return con.execute(
        f"SELECT symbol, ts_ns, reason FROM read_csv('{report}/*/*.csv', "
        "hive_partitioning = true, header = true, "
        "columns = {'ts_ns': 'BIGINT', 'reason': 'VARCHAR'})"
    ).arrow()


# ---------------------------------------------------------------------------
# query_serving


def _serve_requests(z: dict, names: list[str], syms: list[str], days: list[dt.date], seed: int):
    """The request mix: every HEADLINE registry entry, ``sql`` bars_* SQL
    queries and ``loads`` load_ohlcv range reads per cycle, in a seeded
    order. Returns (cycle of requests, DuckDB/Spark SQL per sql request)."""
    rng = random.Random(seed)
    reqs = [("registry", n) for n in names]
    for i in range(z["sql"]):
        f = FRAMES[i % len(FRAMES)]
        pick = ", ".join(f"'{s}'" for s in rng.sample(syms, max(1, len(syms) // 4)))
        if i % 2:
            sql = (f"SELECT symbol, count(*) AS n, max(high) AS hi, min(low) AS lo, "
                   f"sum(volume) AS v FROM bars_{f} GROUP BY symbol")
        else:
            sql = (f"SELECT date, count(DISTINCT symbol) AS syms, sum(volume) AS v "
                   f"FROM bars_{f} WHERE symbol IN ({pick}) GROUP BY date")
        reqs.append(("sql", sql))
    for _ in range(z["loads"]):
        frame = rng.choice(["1m", "5m", "15m", "1h", "1d"])
        a, b = sorted(rng.sample(range(len(days)), 2)) if len(days) > 1 else (0, 0)
        lo = inputs.day_ns(days[a])
        hi = inputs.day_ns(days[b]) + inputs.NS_DAY - 1
        reqs.append(("load", (frame, tuple(rng.sample(syms, min(3, len(syms)))), lo, hi)))
    return reqs


def query_serving(ctx: Ctx) -> Outcome:
    from concurrent.futures import ThreadPoolExecutor

    from bench import HEADLINE
    from marketpipe_spark.loader import load_ohlcv
    from marketpipe_spark.plans import registry, views

    spark, tr, con, z = ctx.spark, ctx.tracer, ctx.con, ctx.size
    sf_dir, raw, agg = f"{ctx.tmp}/sf", f"{ctx.tmp}/lake/raw", f"{ctx.tmp}/lake/agg"
    syms = inputs.symbols(z["symbols"])
    days = inputs.trading_days(FIRST_DAY, z["sessions"])
    bars_pq = f"{ctx.tmp}/in/bars.parquet"
    t0 = time.perf_counter()
    with tr.span("sources.stage"):
        sizes = inputs.write_registry_tables(sf_dir, z["sf"], ctx.seed)
        pq.write_table(inputs.sessions(syms, days, ctx.seed), bars_pq)
    _stage_lake(con, bars_pq, raw, agg)
    setup_s = time.perf_counter() - t0

    # Expected answers, from DuckDB over the same files (not set-up time).
    oracle.register_tables(con, sf_dir, registry.TABLES)
    oracles = registry.oracle_sqls()
    names = [n for n in HEADLINE if n in oracles]
    want = {n: con.execute(oracles[n]).arrow() for n in names}
    for f in FRAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW bars_{f} AS SELECT symbol, ts_ns, open, high, low, close, "
            f"volume, CAST(date AS VARCHAR) AS date FROM read_parquet("
            f"'{agg}/frame={f}/*/*/*.parquet', hive_partitioning = true)"
        )
    cycle = _serve_requests(z, names, syms, days, ctx.seed)
    expect: dict = {}
    for kind, arg in cycle:
        if kind == "registry":
            expect[(kind, arg)] = want[arg].num_rows
        elif kind == "sql":
            expect[(kind, arg)] = con.execute(f"SELECT count(*) FROM ({arg})").fetchone()[0]
        else:
            frame, pick, lo, hi = arg
            rel = oracle.lake_relation(raw if frame == "1m" else agg, frame)
            expect[(kind, arg)] = con.execute(
                f"SELECT count(*) FROM {rel} WHERE symbol IN ({', '.join(repr(s) for s in pick)}) "
                f"AND ts_ns BETWEEN {lo} AND {hi}"
            ).fetchone()[0]

    def execute(kind, arg, full=False):
        """One request as the serve tier runs it; returns its row count (or
        the full answer for the value check)."""
        if kind == "registry":
            df = registry.prebuilt(spark, arg, sf_dir)
            tr_hit = df is warm.get(arg)
            with tr.span("plans.exec", entry=arg, hit=tr_hit):
                return df.toArrow() if full else df.count()
        if kind == "sql":
            with tr.span("views.query"):
                rows = views.query(spark, arg).collect()
            return len(rows)
        frame, pick, lo, hi = arg
        with tr.span("loader.load") as sp:
            pdf = load_ohlcv(spark, raw if frame == "1m" else agg, list(pick), frame, lo, hi,
                             to_pandas=True)
            sp["rows"] = len(pdf)
        return len(pdf)

    # Warm-up: build every plan once, register the views, then run every
    # request once on the client threads. The registry answers of this pass
    # are checked value for value against DuckDB: the concurrent value check.
    t1 = time.perf_counter()
    with tr.span("plans.warm") as sp:
        builds = registry.warm_plans(spark, names, sf_dir)
    warm = {n: registry.prebuilt(spark, n, sf_dir) for n in names}
    with tr.span("views.ensure"):
        views.ensure_views(spark, agg)
    with ThreadPoolExecutor(z["clients"]) as ex:
        futs = [(k, a, ex.submit(execute, k, a, True)) for k, a in cycle]
        first = [(k, a, f.exception() or f.result()) for k, a, f in futs]
    setup_s += time.perf_counter() - t1
    errors, failed = [], 0
    for kind, arg, got in first:
        if isinstance(got, Exception):
            ok, why = False, f"{type(got).__name__}: {str(got)[:200]}"
        elif kind == "registry":
            ok, why = oracle.same(got, want[arg]), "value hash differs from DuckDB"
        else:
            ok, why = got == expect[(kind, arg)], f"{got} rows != {expect[(kind, arg)]}"
        if not ok:
            failed += 1
            errors.append(f"check {kind} {arg}: {why}")

    tr.phase = "measure"
    # Whole cycles of the mix (every request once, in a seeded order), as
    # many as fill the window at SERVE_CYCLE_S per cycle: every run measures
    # the same requests. Stopping at a deadline instead made the cycle count
    # (and with it the share of warmer requests) differ from run to run.
    rng = random.Random(ctx.seed + 1)
    order = [r for _ in range(max(1, round(ctx.seconds / SERVE_CYCLE_S)))
             for r in rng.sample(cycle, len(cycle))][::-1]
    ids = itertools.count()
    lock = threading.Lock()
    results: list[tuple[str, object, float, bool]] = []
    t_start = time.perf_counter()

    def client() -> None:
        while True:
            with lock:
                if not order:
                    return
                kind, arg = order.pop()
                rid = f"req{next(ids)}"
            ok = False
            with tr.span(f"serve.{kind}", rid=rid, entry=arg if kind == "registry" else None) as sp:
                try:
                    ok = execute(kind, arg) == expect[(kind, arg)]
                except Exception as e:  # a failed request counts; the client goes on
                    sp["error"] = type(e).__name__
            with lock:
                results.append((kind, arg, sp["end"] - sp["start"], ok))

    with ThreadPoolExecutor(z["clients"]) as ex:
        for f in [ex.submit(client) for _ in range(z["clients"])]:
            f.result()
    window_s = max((time.perf_counter() - t_start), 1e-9)

    tr.phase = "check"
    lat = [r[2] for r in results]
    for kind, arg, _, ok in results:
        if not ok:
            failed += 1
            errors.append(f"request {kind} {arg if kind != 'sql' else arg[:60]}: wrong or failed")
    by_kind = {k: [r[2] for r in results if r[0] == k] for k in ("registry", "sql", "load")}
    samples = {f"serve.entry.{n}": [r[2] for r in results if r[0] == "registry" and r[1] == n]
               for n in names}
    tail_p, tail_v, tail_n = _tail(lat)
    named = {
        "serve_p50_s": {"value": _p50(lat), "unit": "s"},
        "serve_tail_s": {"value": tail_v, "unit": "s", "percentile": tail_p, "samples": tail_n},
        "serve_qps": {"value": len(results) / window_s, "unit": "req/s"},
    }
    layer = {
        "plans.build_s": float(sum(builds.values())),
        "plans.build_max_s": float(max(builds.values(), default=0.0)),
        "serve.registry.p50_s": _p50(by_kind["registry"]),
        "serve.sql.p50_s": _p50(by_kind["sql"]),
        "serve.load.p50_s": _p50(by_kind["load"]),
    }
    layer.update({f"{k}.p50_s": _p50(v) for k, v in samples.items()})
    samples.update({f"serve.{k}": v for k, v in by_kind.items()})
    return Outcome(
        setup_s, lat, window_s, len(results) + len(first), failed, named, layer,
        {**{f"rows.{t}": n for t, n in sizes.items()}, "lake_symbols": len(syms),
         "lake_sessions": len(days), "clients": z["clients"]},
        errors, samples,
    )


def _tail(xs: list[float]) -> tuple[float, float, int]:
    """(percentile, value, sample count) for the highest of a fixed ladder of
    percentiles that still has at least ten samples above it."""
    xs = sorted(xs)
    n = len(xs)
    best = (50.0, _p50(xs), n)
    for p in (75.0, 90.0, 95.0, 99.0, 99.9):
        if n * (1 - p / 100) >= 10:
            best = (p, xs[min(n - 1, int(p / 100 * n))], n)
    return best


WORKLOADS = {
    "ingest_daily": ingest_daily,
    "query_serving": query_serving,
}
