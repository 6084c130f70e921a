"""Spans around the benchmark's calls into each layer of the program.

A :class:`Tracer` records one span per layer call: name, start, end, parent
span and request id, kept in memory and written out when the run ends. In a
traced run every span also runs under its own Spark job group, so the jobs,
stages and tasks it started can be read back from ``sc.statusTracker()``.

Layers the benchmark does not call directly (the lake writes, pins and
control-plane writes made inside ``incremental_job``) are reached by
:meth:`Tracer.install`, which wraps the program's public functions for the
length of the run and restores them afterwards. Nothing here edits the
program; an untraced run installs nothing and its spans cost one
``perf_counter`` pair each.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

#: (module path, attribute, span name) of the program functions wrapped in a
#: traced run. Producers return lazy DataFrames; the span that later executes
#: such a frame (a pin, an upsert, a report write) is tagged with the
#: producer's layer as its ``origin``.
WRAPPED_FUNCTIONS = (
    ("marketpipe_spark.lake", "upsert_bars", "lake.upsert"),
    ("marketpipe_spark.lake", "compact_partitions", "lake.compact"),
    ("marketpipe_spark.lake", "prune_bars", "lake.prune"),
    ("marketpipe_spark.lake", "list_lake_files", "lake.list"),
    ("marketpipe_spark.operators.validation", "write_validation_report", "validation.report"),
)
PRODUCERS = (
    ("marketpipe_spark.operators.resample", "resample", "resample"),
    ("marketpipe_spark.operators.validation", "validate_bars", "validation"),
    ("marketpipe_spark.operators.validation", "split_valid", "validation"),
)
WRAPPED_METHODS = (
    ("marketpipe_spark.streaming.incremental", "CheckpointStore", "load", "incremental.checkpoint.load"),
    ("marketpipe_spark.streaming.incremental", "CheckpointStore", "save", "incremental.checkpoint.save"),
    ("marketpipe_spark.control", "JobsStore", "create", "control.jobs"),
    ("marketpipe_spark.control", "JobsStore", "start", "control.jobs"),
    ("marketpipe_spark.control", "JobsStore", "complete", "control.jobs"),
    ("marketpipe_spark.control", "JobsStore", "fail", "control.jobs"),
    ("marketpipe_spark.control", "MetricsStore", "record", "control.metrics"),
)
PIN_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")


class Tracer:
    """Collects spans. ``spark=None`` makes an untraced tracer: spans are
    still timed (the workloads read their own latencies from them) but no
    job group is set and nothing is wrapped."""

    def __init__(self, spark=None, run_id: str = "run"):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self._origin: dict[int, tuple[object, str]] = {}
        self.phase = "setup"

    @property
    def traced(self) -> bool:
        return self.spark is not None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else None),
            "phase": self.phase,
            **attrs,
        }
        if self.traced:
            rec["group"] = f"{self.run_id}-{rec['id']}"
            self.spark.sparkContext.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.traced:
                sc = self.spark.sparkContext
                if parent is not None:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)

    # -- wrapping the program's layers (traced runs only) -----------------

    def install(self) -> None:
        import importlib

        if not self.traced:
            return
        for mod, attr, name in WRAPPED_FUNCTIONS:
            self._wrap(importlib.import_module(mod), attr, name)
        for mod, attr, name in PRODUCERS:
            self._wrap(importlib.import_module(mod), attr, name, produces=True)
        for mod, cls, attr, name in WRAPPED_METHODS:
            self._wrap(getattr(importlib.import_module(mod), cls), attr, name)
        df_cls = type(self.spark.range(1))
        for attr in PIN_METHODS:
            self._wrap(df_cls, attr, "pin", method=True)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        self._origin.clear()

    def _wrap(self, owner, attr, name, *, produces=False, method=False):
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            frames = args if not method else args[:1]
            origin = next(
                (tracer._origin[id(a)][1] for a in frames if id(a) in tracer._origin), None
            )
            extra = {"origin": origin} if origin and not produces else {}
            with tracer.span(name, **extra):
                out = orig(*args, **kwargs)
            if produces:
                for o in out if isinstance(out, tuple) else (out,):
                    # keep the frame alive so its id cannot be reused
                    tracer._origin[id(o)] = (o, name)
            return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    # -- reading Spark's job/stage/task counts ---------------------------

    def harvest(self) -> None:
        """Attach each span's OWN jobs/stages/tasks (jobs started under its
        job group, not its children's) from the status tracker."""
        if not self.traced:
            return
        sc = self.spark.sparkContext
        try:  # let the listener bus deliver the last task-end events
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)
        st = sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"]) or []
            stages = tasks = failed = single = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped (reused) stage
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
                    single += si.numTasks == 1
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks,
                       tasks_failed=failed, single_task_stages=single)

    def records(self, t0: float) -> list[dict]:
        """Spans with times relative to ``t0``, ordered by start."""
        out = []
        for rec in sorted(self.spans, key=lambda r: r["start"]):
            r = {k: v for k, v in rec.items() if k != "group"}
            r["start"] = round(rec["start"] - t0, 6)
            r["end"] = round(rec["end"] - t0, 6)
            out.append(r)
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = s["end"] - s["start"] - covered
    return out
