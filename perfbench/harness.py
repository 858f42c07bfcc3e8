"""Timing, tracing and Spark job counting for the benchmark.

Everything here observes the package from outside: the tracer replaces
public functions and methods of the package's modules with wrappers that
record one span per call, and puts the originals back when tracing stops.
Spans stay in memory until ``Tracer.write`` at the end of a run.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from contextlib import contextmanager

PKG = "hands_on_iceberg_compression_spark"

# (layer, module, owner attribute or None for a module function, attribute).
# A layer is named after the package module whose public calls it times.
LAYER_CALLS: list[tuple[str, str, str | None, str]] = [
    ("session", "session", None, "make_session"),
    ("generators", "functions.generators", None, "generate_df"),
    ("load", "pipeline.load", None, "load_table"),
    ("metrology", "pipeline.metrology", None, "measure_sizes"),
    ("metrology", "pipeline.metrology", None, "measure_log_table"),
    ("mv", "pipeline.incremental_mv", None, "maintain_agg_mv"),
    ("fixtures", "sources.fixtures", None, "load_table"),
] + [
    ("warehouse", "sources.warehouse", "ParquetWarehouse", m)
    for m in (
        "create_table", "append", "commit_snapshot", "optimize", "read",
        "read_where", "prune_files", "files", "count_rows", "merge_upsert",
        "delete_where", "fold_pending_deletes",
    )
]

# layers the benchmark code itself calls: DataFrame actions and its own code
BENCH_LAYERS = ("operators", "spark", "bench")
ALL_LAYERS = tuple(dict.fromkeys([c[0] for c in LAYER_CALLS] + list(BENCH_LAYERS)))


def content_checksum(df) -> tuple[int, int]:
    """Order-independent (row count, xor of row hashes over every column)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


class Samples:
    """Latency samples (ms) per operation class and the operations attempted."""

    def __init__(self) -> None:
        self.ms: dict[str, list[float]] = {}
        self.attempted = 0

    def add(self, cls: str, ms: float) -> None:
        self.ms.setdefault(cls, []).append(ms)

    def get(self, *classes: str) -> list[float]:
        return [v for c in classes for v in self.ms.get(c, [])]


class Tracer:
    """In-memory span recorder with wrap/unwrap of the package's calls.

    A span is (id, name, layer, start, end, parent id, iteration id).  The
    parent is the innermost open span of the calling thread; calls made
    from worker threads (``load_table``'s batch pool) parent to the main
    thread's innermost open span, which is where they were submitted from.
    """

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.iteration = -1
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []
        self.paused = False

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, layer, t0, t1, parent, self.iteration))

    @contextmanager
    def quiet(self):
        """Record no spans inside the block (the benchmark's own
        bookkeeping calls into the package)."""
        was, self.paused = self.paused, True
        try:
            yield
        finally:
            self.paused = was

    def _wrapper(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.paused:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every call in LAYER_CALLS, including the names other
        package modules imported directly (``from x import f``)."""
        if self._patches:
            return
        for layer, mod_name, owner, attr in LAYER_CALLS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            name = f"{mod_name.rsplit('.', 1)[-1]}.{attr}"
            if owner is not None:
                cls = getattr(mod, owner)
                self._patch(cls, attr, self._wrapper(cls.__dict__[attr], name, layer))
                continue
            original = getattr(mod, attr)
            wrapped = self._wrapper(original, name, layer)
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith(PKG) and (
                    other.__dict__.get(attr) is original
                ):
                    self._patch(other, attr, wrapped)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def self_times(self, iterations: set[int] | None = None) -> dict[str, float]:
        """Seconds of self time per layer: each span's duration minus the
        union of its children's intervals, summed by layer.  ``iterations``
        restricts the sum to spans of those iteration ids."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[5] is not None:
                children.setdefault(s[5], []).append((s[3], s[4]))
        out = {layer: 0.0 for layer in ALL_LAYERS}
        for sid, _name, layer, t0, t1, _parent, it in self.spans:
            if iterations is not None and it not in iterations:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(sid, [])):
                lo, hi = max(lo, t0), min(hi, t1)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[layer] = out.get(layer, 0.0) + (t1 - t0) - covered
        return out

    def durations(self, name: str, iterations: set[int] | None = None) -> list[float]:
        """Durations in ms of every span called ``name``."""
        return [
            (s[4] - s[3]) * 1000.0 for s in self.spans
            if s[1] == name and (iterations is None or s[6] in iterations)
        ]

    def child_durations(self, name: str, parent_name: str) -> list[float]:
        """Durations in ms of ``name`` spans whose parent is a ``parent_name`` span."""
        parents = {s[0] for s in self.spans if s[1] == parent_name}
        return [(s[4] - s[3]) * 1000.0 for s in self.spans if s[1] == name and s[5] in parents]

    def write(self, path: str) -> None:
        keys = ("id", "name", "layer", "start", "end", "parent", "iteration")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")


class SparkCounter:
    """Jobs and tasks per operation, read from the status tracker.

    Each counted operation runs under its own job group; jobs started from
    threads that did not inherit the group (``load_table``'s batch pool) are
    picked up as new ungrouped jobs, since one client runs at a time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.per_class: dict[str, list[tuple[int, int]]] = {}
        self._seq = 0
        self._seen_ungrouped = set(self._ungrouped())

    def _ungrouped(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def op(self, cls: str):
        self._seq += 1
        group = f"perfbench-{cls}-{self._seq}"
        self.sc.setJobGroup(group, cls)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            jobs = list(tracker.getJobIdsForGroup(group))
            fresh = [j for j in self._ungrouped() if j not in self._seen_ungrouped]
            self._seen_ungrouped.update(fresh)
            jobs += fresh
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    sinfo = tracker.getStageInfo(st)
                    tasks += sinfo.numTasks if sinfo else 0
            self.per_class.setdefault(cls, []).append((len(jobs), tasks))

    def mean(self, *classes: str) -> tuple[float, float]:
        """Mean (jobs, tasks) per operation over the given classes."""
        rows = [r for c in classes for r in self.per_class.get(c, [])]
        if not rows:
            return 0.0, 0.0
        return (
            sum(r[0] for r in rows) / len(rows),
            sum(r[1] for r in rows) / len(rows),
        )
