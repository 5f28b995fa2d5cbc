"""Tracing for the benchmark's traced run.

Spans are recorded from outside the engine, by wrapping the public
functions of each layer (the package code is not touched):

- ``operators.*``: every public function of every operator module;
- ``sources.load_table``, including the name bound inside
  ``plans.catalog``;
- ``streaming.*`` and ``sinks.writers``.

The benchmark itself opens the outer spans (workload -> entry ->
build/action).  Spans stay in memory; ``Tracer.dump`` writes them out
at the end.  ``spark_metrics`` parses Spark's uncompressed event log
and attributes jobs, stages and tasks to the entry whose time window
contains them (entries run one at a time).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import threading
import time
from collections import defaultdict

PKG = "forest_open_data_pipelines_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, layer: str, name: str, **attrs):
        return _Span(self, layer, name, attrs)

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name) as rec:
                out = fn(*args, **kwargs)
                # Identity of the result: a memo hit hands back an
                # object seen before.
                rec["result"] = id(out)
                return out

        return traced

    def children_s(self) -> dict[int, float]:
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] += s["end"] - s["start"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str, attrs: dict) -> None:
        self.t, self.layer, self.name, self.attrs = tracer, layer, name, attrs

    def __enter__(self):
        stack = self.t._stack()
        # Spans opened on threads the benchmark did not start (the
        # thread-pooled operator arms, streaming sink callbacks) hang
        # off the innermost span of the main thread.
        parent = stack[-1] if stack else (self.t._main[-1] if self.t._main else None)
        self.id = len(self.t.spans)
        self.rec = {
            "id": self.id,
            "parent": parent,
            "layer": self.layer,
            "name": self.name,
            "start": time.time(),
            "end": None,
            **self.attrs,
        }
        self.t.spans.append(self.rec)
        stack.append(self.id)
        return self.rec

    def __exit__(self, exc_type, exc, tb) -> None:
        self.rec["end"] = time.time()
        if exc_type is not None:
            self.rec["error"] = exc_type.__name__
        self.t._stack().pop()


def _public_functions(module) -> list:
    return [
        (name, obj)
        for name, obj in vars(module).items()
        if not name.startswith("_")
        and inspect.isfunction(obj)
        and obj.__module__ == module.__name__
    ]


def instrument(tracer: Tracer) -> list[str]:
    """Wrap every traced layer's public functions; returns the operator
    module names (``ops.<module>`` metric keys)."""
    ops = []
    for sub, layer in (("operators", "ops"), ("streaming", "stream_fn")):
        pkg = importlib.import_module(f"{PKG}.{sub}")
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{PKG}.{sub}.{info.name}")
            if layer == "ops":
                ops.append(info.name)
            for name, fn in _public_functions(mod):
                setattr(mod, name, tracer.wrap(layer, f"{info.name}.{name}", fn))
    writers = importlib.import_module(f"{PKG}.sinks.writers")
    for name, fn in _public_functions(writers):
        setattr(writers, name, tracer.wrap("sinks", name, fn))
    tables = importlib.import_module(f"{PKG}.sources.tables")
    load_table = tracer.wrap("sources", "load_table", tables.load_table)
    for modname in ("sources.tables", "sources", "plans.catalog"):
        importlib.import_module(f"{PKG}.{modname}").load_table = load_table
    return sorted(ops)


def read_event_log(path: str) -> dict:
    """Jobs, stages and tasks from an uncompressed Spark event log."""
    jobs, stages, tasks = {}, {}, []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"],
                    "group": props.get("spark.jobGroup.id"),
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = info.get(
                    "Submission Time", 0
                )
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                run = m.get("Executor Run Time", 0)
                took = info["Finish Time"] - info["Launch Time"]
                tasks.append(
                    {
                        "launch": info["Launch Time"],
                        "run_ms": run,
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "delay_ms": max(
                            0,
                            took
                            - run
                            - m.get("Executor Deserialize Time", 0)
                            - m.get("Result Serialization Time", 0),
                        ),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    }
                )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def spark_metrics(
    log: dict, windows: list[tuple[str, float, float]], span_ms: tuple[float, float], cores: int
) -> tuple[dict, dict]:
    """Aggregate the event log over the traced pass ``span_ms`` (epoch
    ms) and per entry window; returns (totals, per-entry)."""
    lo, hi = span_ms

    def owner(t: float) -> str | None:
        for name, a, b in windows:
            if a <= t <= b:
                return name
        return None

    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    tot: dict[str, float] = defaultdict(float)
    for job in log["jobs"].values():
        if not lo <= job["submit"] <= hi:
            continue
        tot["jobs"] += 1
        tot["ungrouped_jobs"] += job["group"] is None
        who = owner(job["submit"])
        if who is None:
            tot["unmatched_jobs"] += 1
        else:
            per[who]["jobs"] += 1
    for submit in log["stages"].values():
        if lo <= submit <= hi:
            tot["stages"] += 1
            who = owner(submit)
            if who is not None:
                per[who]["stages"] += 1
    for t in log["tasks"]:
        if not lo <= t["launch"] <= hi:
            continue
        who = owner(t["launch"])
        for key in ("run_ms", "cpu_ms", "gc_ms", "delay_ms", "shuffle_write", "spill"):
            tot[key] += t[key]
            if who is not None:
                per[who][key] += t[key]
        tot["tasks"] += 1
        if who is not None:
            per[who]["tasks"] += 1
    tot["core_busy_frac"] = tot["run_ms"] / max(1.0, (hi - lo) * cores)
    return dict(tot), {k: dict(v) for k, v in per.items()}
