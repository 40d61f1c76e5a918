"""Spans around the engine's public calls, recorded from outside the engine.

A traced run installs wrappers (``install``) around the public functions
each layer exposes; every call becomes a span with a name, layer, start,
end, parent and unit id (the request, gate or lifecycle stage it serves).
Spark work is attributed per span through a job group the tracer sets on
the calling thread; job, stage, task and shuffle counts are read from the
status store once the run is over, so the measured region only pays the
group switch. Codegen compiles are global JVM counters, read as deltas at
span boundaries. Catalyst phase times come from the QueryExecution of each
collected DataFrame.

An untraced run installs nothing: the end-to-end numbers come from it.
"""

from __future__ import annotations

import functools
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: layer of each wrapped call: (owner import path, attribute, span name, layer)
_TARGETS = (
    ("signalk_parquet_spark.api", "get_values_response", "api.get_values_response", "api"),
    ("signalk_parquet_spark.api", "discovery_response", "api.discovery_response", "api"),
    ("signalk_parquet_spark.api", "parse_paths_param", "plans.parse", "plans"),
    ("signalk_parquet_spark.plans.history:HistoryPlanner", "get_values", "plans.get_values", "plans"),
    ("signalk_parquet_spark.plans.history:HistoryPlanner", "available_tiers", "plans.available_tiers", "plans"),
    ("signalk_parquet_spark.plans.history:HistoryPlanner", "_object_components", "plans.object_components", "plans"),
    ("signalk_parquet_spark.sources.lake:Lake", "read", "sources.read", "sources"),
    ("signalk_parquet_spark.sources.lake:Lake", "discover_contexts", "sources.discover", "sources"),
    ("signalk_parquet_spark.sources.lake:Lake", "discover_paths", "sources.discover", "sources"),
    ("signalk_parquet_spark.sources.lake:Lake", "write_records", "sources.write", "sources"),
    ("signalk_parquet_spark.sources.lake:Lake", "write_rollup", "sources.write", "sources"),
    ("signalk_parquet_spark.sources.buffer:HotBuffer", "read", "sources.read", "sources"),
    ("signalk_parquet_spark.sources.buffer:HotBuffer", "append", "sources.write", "sources"),
    ("signalk_parquet_spark.sources.buffer:HotBuffer", "export_day", "operators.export_day", "operators"),
    ("signalk_parquet_spark.registry", "load", "session.load", "session"),
)


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    unit: str | None
    t0: float
    t1: float = 0.0
    group: str | None = None
    compiles: int = 0
    compile_ns: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    """In-memory span recorder for one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main = threading.main_thread()
        self._ids = 0
        self._lock = threading.Lock()
        self._unit: str | None = None
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cg_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._undo: list[tuple[object, str, object]] = []

    # --- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open_parent(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        main = getattr(self, "_main_stack", None)
        return main[-1] if main else None

    @contextmanager
    def unit(self, unit_id: str):
        """Tag every span opened inside with ``unit_id``."""
        prev, self._unit = self._unit, unit_id
        try:
            yield
        finally:
            self._unit = prev

    @contextmanager
    def span(self, name: str, layer: str):
        on_main = threading.current_thread() is self._main
        parent = self._open_parent()
        with self._lock:
            self._ids += 1
            sid = self._ids
        sp = Span(sid, name, layer, parent.sid if parent else None, self._unit, 0.0)
        stack = self._stack()
        if on_main:
            self._main_stack = stack
            sp.group = f"perfbench-{sid}"
            self.sc.setJobGroup(sp.group, name)
        c0, n0 = self._cg_hist.getCount(), self._codegen.compileTime()
        stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            sp.compiles = self._cg_hist.getCount() - c0
            sp.compile_ns = self._codegen.compileTime() - n0
            if on_main:
                outer = next((s for s in reversed(stack) if s.group), None)
                if outer is not None:
                    self.sc.setJobGroup(outer.group, outer.name)
                else:
                    self.sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(sp)

    # --- wrappers ----------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, layer: str, post=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name, layer) as sp:
                out = orig(*a, **kw)
                if post is not None:
                    post(sp, a, out)
                return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        import importlib

        from signalk_parquet_spark.memo import SessionMemo

        for target, attr, name, layer in _TARGETS:
            mod, _, cls = target.partition(":")
            owner = importlib.import_module(mod)
            if cls:
                owner = getattr(owner, cls)
            self._wrap(owner, attr, name, layer)

        def phases(sp, args, _out):
            qe = args[0]._jdf.queryExecution()
            ph = qe.tracker().phases()
            for k in ("analysis", "optimization", "planning"):
                sp.attrs[k] = ph.apply(k).durationMs() if ph.contains(k) else 0

        # the classic DataFrame subclass, not the pyspark.sql.DataFrame facade
        frame_cls = type(self.spark.range(0))
        self._wrap(frame_cls, "collect", "exec.collect", "exec", post=phases)

        orig_memo = SessionMemo.get_or_build
        tracer = self

        @functools.wraps(orig_memo)
        def memo(self_, spark, tag, build, materialize=True):
            built = []

            def timed_build():
                built.append(True)
                return build()

            with tracer.span("memo.lookup", "memo") as sp:
                out = orig_memo(self_, spark, tag, timed_build, materialize)
            if built:
                # tags embed the table directory; keep only the memo's own name
                sp.name = "memo:" + re.sub(r"[:|]?/[^|]*", "", tag)
            sp.attrs["hit"] = not built
            return out

        self._undo.append((SessionMemo, "get_or_build", orig_memo))
        SessionMemo.get_or_build = memo

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # --- Spark counters, read after the run ------------------------------
    def resolve_spark_counts(self) -> None:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        empty = self.spark._jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self.spark._jvm.double, 0)
        for sp in self.spans:
            if not sp.group:
                continue
            jobs = stages = tasks = shuffle = 0
            for jid in st.getJobIdsForGroup(sp.group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    sinfo = st.getStageInfo(sid)
                    if sinfo is None:
                        continue  # skipped stage (shuffle reuse): no tasks ran
                    stages += 1
                    tasks += sinfo.numTasks
                    data = store.stageData(sid, False, empty, False, quantiles)
                    if data.size():
                        shuffle += data.apply(0).shuffleWriteBytes()
            sp.attrs.update(jobs=jobs, stages=stages, tasks=tasks, shuffle_bytes=shuffle)


# --- summaries ---------------------------------------------------------------

def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it covered by its children
    (overlapping children are merged, so the covered part is never counted
    twice)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append(sp)
    out = {}
    for sp in spans:
        covered, end = 0.0, sp.t0
        for k in sorted(kids.get(sp.sid, ()), key=lambda s: s.t0):
            lo, hi = max(k.t0, end), min(k.t1, sp.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[sp.sid] = (sp.t1 - sp.t0 - covered) * 1000.0
    return out


def subtree_sum(spans: list[Span], root_name: str, key: str) -> list[int]:
    """Per span named ``root_name``: the sum of attrs[key] over it and every
    span below it."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append(sp)

    def total(sp: Span) -> int:
        return sp.attrs.get(key, 0) + sum(total(k) for k in kids.get(sp.sid, ()))

    return [total(sp) for sp in spans if sp.name == root_name]


def unit_coverage(spans: list[Span], unit_walls: dict[str, float]) -> dict[str, float]:
    """Per unit, the share of its wall time (measured by the workload loop,
    in ms) that no layer span accounts for: the wall time minus what the
    children of the unit's root span cover, over the wall time. The root
    span is the benchmark's own (layer ``unit``), so it is left out."""
    st = self_times(spans)
    covered = {sp.unit: sp.ms - st[sp.sid] for sp in spans if sp.layer == "unit"}
    return {
        u: (wall - covered.get(u, 0.0)) / wall
        for u, wall in unit_walls.items() if wall > 0
    }
