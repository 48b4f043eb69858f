"""Spans around the engine's public calls, with Spark engine counters.

A span records name, start, end and parent. While a span is open the
benchmark sets a Spark job group of its own, so every job the call
launches is attributed to it; after an operation ends, the counters of
those jobs are read from Spark's status store (which is filled even
with the UI disabled). Spans stay in memory; :meth:`Tracer.layer_metrics`
turns them into per-layer metrics. Nothing here touches the engine's
code: calls are wrapped from outside, on the instances the benchmark
hands to the engine.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("jobs", "tasks", "shuffle_bytes", "executor_run_s", "gc_s",
            "input_rows", "input_bytes")

# spans reported by name; the store spans are the TierStore methods the
# pipeline and the router call
SPANS = (
    "tiers.run",
    "store.append",
    "store.read",
    "store.commit_checkpoint",
    "store.read_watermarks",
    "store.next_commit_seq",
    "store.append_metrics",
    "operators.rollup_1h",
    "operators.rollup_cascade",
    "operators.token_hist_1d",
    "operators.compress_blocks",
    "operators.gapfill",
    "operators.decompress_blocks",
    "router.query",
)
STORE_METHODS = ("append", "read", "commit_checkpoint", "read_watermarks",
                 "next_commit_seq", "append_metrics")
SPAN_COUNTERS = ("jobs", "tasks", "shuffle_bytes", "executor_run_s", "gc_s")


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._unresolved: list[Span] = []
        self.enabled = False

    def _group(self, sid: int) -> str:
        return f"perfbench-span-{sid}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, next(self._ids), parent.sid if parent else None,
                 time.perf_counter())
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s.sid), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent.sid), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)
            self._unresolved.append(s)

    def wrap(self, obj, method: str, name: str) -> None:
        """Shadow ``obj.method`` with a spanned call (instance attribute,
        so only this object is traced)."""
        fn = getattr(obj, method)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, traced)

    def wrap_store(self, store) -> None:
        for m in STORE_METHODS:
            self.wrap(store, m, f"store.{m}")

    def resolve(self) -> None:
        """Read the engine counters of every span closed since the last
        call. Waits for the listener bus so the status store holds every
        finished job."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jvm = self.sc._jvm
        empty_q = self.sc._gateway.new_array(jvm.double, 0)
        for s in self._unresolved:
            c = dict.fromkeys(COUNTERS, 0)
            for jid in tracker.getJobIdsForGroup(self._group(s.sid)):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for stage_id in info.stageIds:
                    seq = store.stageData(stage_id, False, jvm.java.util.ArrayList(),
                                          False, empty_q)
                    for i in range(seq.size()):
                        st = seq.apply(i)
                        c["tasks"] += st.numCompleteTasks()
                        c["shuffle_bytes"] += st.shuffleWriteBytes()
                        c["executor_run_s"] += st.executorRunTime() / 1000.0
                        c["gc_s"] += st.jvmGcTime() / 1000.0
                        c["input_rows"] += st.inputRecords()
                        c["input_bytes"] += st.inputBytes()
            s.counters = c
        self._unresolved = []

    # ---------- summaries ----------
    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its direct children cover
        (children of one span never overlap: calls are sequential)."""
        kids = sum(c.dur for c in self.spans if c.parent == span.sid)
        return span.dur - kids

    def totals(self, spans: list[Span]) -> dict:
        """Counters of ``spans`` plus every descendant of theirs."""
        by_parent: dict[int | None, list[Span]] = {}
        for s in self.spans:
            by_parent.setdefault(s.parent, []).append(s)
        out = dict.fromkeys(COUNTERS, 0)
        todo = list(spans)
        while todo:
            s = todo.pop()
            for k in COUNTERS:
                out[k] += s.counters.get(k, 0)
            todo.extend(by_parent.get(s.sid, ()))
        return out

    def layer_metrics(self, n_ops: int) -> dict[str, tuple[float, str]]:
        """Per-span metrics: ``<span>_s`` mean seconds per call,
        ``<span>_calls`` calls per traced operation, and the engine
        counters per call (jobs and tasks the call launched, including
        those of calls nested in it). Spans the workload never entered
        read 0."""
        out: dict[str, tuple[float, str]] = {}
        for name in SPANS:
            spans = self.of(name)
            calls = len(spans)
            out[f"{name}_s"] = (
                sum(s.dur for s in spans) / calls if calls else 0.0, "s")
            out[f"{name}_calls"] = (calls / n_ops if n_ops else 0.0, "count")
            tot = self.totals(spans)
            for k in SPAN_COUNTERS:
                unit = "s" if k.endswith("_s") else ("B" if k.endswith("bytes") else "count")
                out[f"{name}.{k}"] = (tot[k] / calls if calls else 0.0, unit)
        return out
