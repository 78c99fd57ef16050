"""Tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files, around the calls it
makes into each layer's public functions; the program is not
instrumented. Each span has an id, a name, a start, an end, its parent
span and the op it belongs to. Spans stay in memory and are written out
when the run ends. A span's self time is its duration minus the time its
child spans cover.

Job, stage and task counts come from the Spark event log, which only the
traced run enables: each op phase runs under its own job group, so every
job is attributed to the op and phase that started it.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

PKG = "zio_kinesis_example_spark"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._epoch_offset = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "t0": time.perf_counter(), "epoch0": time.time()}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()

    def add(self, name: str, epoch0: float, dur: float,
            parent: int | None, **attrs) -> int:
        """Record a span reported by Spark rather than timed here."""
        t0 = epoch0 - self._epoch_offset
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": self.op, "t0": t0, "t1": t0 + dur, "epoch0": epoch0}
        rec.update(attrs)
        self.spans.append(rec)
        return rec["id"]

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def self_times(self) -> dict[int, float]:
        """span id -> self time (duration minus the children's)."""
        own = {s["id"]: s["t1"] - s["t0"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["t1"] - s["t0"]
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


#: (module, function, span name) of every traced layer entry point
LAYERS = [
    ("session", "get_spark", "session.start"),
    ("registry", "all_specs", "registry.import"),
    ("catalog", "load", "catalog.load"),
    ("api", "clear_shared_cache", "persist.clear_shared_cache"),
    ("streaming.source", "shard_source", "source.shard_source"),
    ("streaming.serde", "decode_json", "serde.decode_json"),
    ("streaming.consume", "consume_observed", "consume.consume_observed"),
]


def install(tracer: Tracer, modules: tuple[str, ...]) -> None:
    """Replace the public layer functions of ``modules`` with traced
    wrappers, in every loaded module of the package that bound them.
    Call it after the modules that import those functions are loaded."""
    import importlib
    for mod, attr, name in LAYERS:
        if mod not in modules:
            continue
        m = importlib.import_module(f"{PKG}.{mod}")
        orig = getattr(m, attr)
        wrapped = tracer.wrap(orig, name)
        for other in list(sys.modules.values()):
            if getattr(other, "__name__", "").startswith(PKG) \
               and getattr(other, attr, None) is orig:
                setattr(other, attr, wrapped)
    if "streaming.observe" in modules:
        tap = importlib.import_module(f"{PKG}.streaming.observe").MetricsTap
        orig_wait = tap.wait_terminated

        def wait_terminated(self, *a, **kw):
            with tracer.span("tap.settle"):
                return orig_wait(self, *a, **kw)
        tap.wait_terminated = wait_terminated


# -- event log ---------------------------------------------------------------

_ACC = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle.write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle.read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle.read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
}


def read_event_log(log_dir: str) -> dict:
    """Jobs and completed stages from the run's event log:
    {"jobs": {job_id: {group, batch, t0, t1, stages}},
     "stages": {stage_id: {tasks, shuffle.write_bytes, ...}}}"""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True) if os.path.isfile(p)]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": None, "stages": ev.get("Stage IDs", [])}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = defaultdict(float)
                    m["tasks"] = info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            m[key] += float(acc.get("Value") or 0)
                    stages[info["Stage ID"]] = dict(m)
    return {"jobs": jobs, "stages": stages}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
