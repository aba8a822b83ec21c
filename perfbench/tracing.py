"""Tracing from outside the program.

:class:`Tracer` keeps spans (name, start, end, parent, operation id) in
memory and writes them out once, at the end of a run.  :meth:`Tracer.install`
wraps public functions of ``tropology_spark`` by rebinding every global
name in every ``tropology_spark.*`` module that points at the original
function object, so calls the operators make through their module
globals (``iter_materialize``, ``cache_get_or_build``,
``upsert_parquet`` …) reach the wrapper without any edit to the package.

:func:`fold_event_log` folds Spark's own event log (enabled at launch
for traced runs only) into per-job-group task metrics.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: (module, function, span name) wrapped by :meth:`Tracer.install`.
WRAPPED = [
    ("tropology_spark.session", "get_spark", "session.get_spark"),
    ("tropology_spark.session", "iter_materialize", "session.iter_materialize"),
    ("tropology_spark.pipeline.crawl", "frontier", "crawl.frontier"),
    ("tropology_spark.pipeline.crawl", "crawl_batch", "crawl.crawl_batch"),
    ("tropology_spark.pipeline.crawl", "refresh_degrees", "crawl.refresh_degrees"),
    ("tropology_spark.sources.sinks", "upsert_parquet", "sinks.upsert_parquet"),
    ("tropology_spark.sources.txlog", "tx_write", "txlog.tx_write"),
    ("tropology_spark.sources.txlog", "tx_compact", "txlog.tx_compact"),
    ("tropology_spark.sources.txlog", "tx_read", "txlog.tx_read"),
]


class Tracer:
    """In-memory span recorder; one instance per run."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent index, op id]
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- spans -------------------------------------------------------------

    def set_op(self, op_id: int | None) -> None:
        """Tag the calling thread's next spans with operation ``op_id``."""
        self._local.op = op_id

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = [name, time.perf_counter(), None, stack[-1] if stack else None,
               getattr(self._local, "op", None)]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec[2] = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- installation ------------------------------------------------------

    def _rebind(self, original, replacement) -> None:
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("tropology_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, key, replacement)

    def install(self) -> None:
        for modname, fname, spanname in WRAPPED:
            original = getattr(importlib.import_module(modname), fname)
            self._rebind(original, self.wrap(original, spanname))
        self._rebind_views()

    def _rebind_views(self) -> None:
        """Session-view lookups: hits, builds, and the build time.  The
        table-handle and row-count caches share the same accessor but are
        not views, so they pass straight through."""
        tables = sys.modules["tropology_spark.sources.tables"]
        original = tables.cache_get_or_build
        plain = (id(tables._LOAD_CACHE), id(tables._COUNT_CACHE))

        def traced(cache, key, builder):
            if id(cache) in plain:
                return original(cache, key, builder)

            def build():
                with self.span("tables.view_build"):
                    return builder()

            with self.span("tables.view_get"):
                return original(cache, key, build)

        self._rebind(original, traced)

    # -- reduction ---------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Self time per layer (first dotted component of the span name)
        over the spans of timed operations: each span's duration minus
        the time its direct children cover."""
        child_time = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                child_time[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _, op) in enumerate(self.spans):
            if end is not None and op is not None:
                out[name.split(".")[0]] += (end - start) - child_time[i]
        return dict(out)

    def totals(self) -> dict[str, tuple[int, float]]:
        """(calls, inclusive seconds) per span name, over the spans of
        timed operations."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for name, start, end, _, op in self.spans:
            if end is None or op is None:
                continue
            out[name][0] += 1
            out[name][1] += end - start
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str, t0: float) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "fields": ["name", "start_s", "end_s", "parent", "op"],
                    "spans": [
                        [n, round(s - t0, 6), None if e is None else round(e - t0, 6), p, o]
                        for n, s, e, p, o in self.spans
                    ],
                },
                fh,
            )


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and the summed task metrics of one
    application's uncompressed JSON event log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    mb = 1024.0 * 1024.0
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                g = groups[group]
                g["jobs"] += 1
                for st in ev.get("Stage Infos", []):
                    stage_group[st["Stage ID"]] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info:  # skipped stages never ran
                    groups[stage_group.get(info["Stage ID"], "-")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "-")]
                g["tasks"] += 1
                if ev.get("Task Info", {}).get("Failed"):
                    g["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / mb
                g["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / mb
                )
                g["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / mb
    return {k: dict(v) for k, v in groups.items()}
