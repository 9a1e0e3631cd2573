"""Spans around calls into the library's layers, and engine counters.

A span has a name, a start and an end; the time its child spans cover is
subtracted to give its self time. Spans nest on one stack shared by all
threads: the workloads are closed loops with one client, so while a
foreachBatch callback or a lineage-explain worker runs, the thread that
started it is blocked inside the parent span. An *opaque* span traces
nothing below it, so its self time is its whole duration.

The tracer patches the public functions of the library in place: every
module attribute that is the original function object is replaced by the
wrapper, so ``from x import f`` bindings are traced too. While
``enabled`` is false the wrappers only forward the call.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class _Open:
    name: str
    start: float
    child_s: float = 0.0


@dataclass
class Totals:
    self_s: float = 0.0
    total_s: float = 0.0
    calls: int = 0


@dataclass
class Tracer:
    clock: callable = time.perf_counter
    enabled: bool = True
    totals: dict = field(default_factory=lambda: defaultdict(Totals))
    counts: dict = field(default_factory=lambda: defaultdict(float))
    events: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _opaque_depth: int = 0
    _lock: threading.RLock = field(default_factory=threading.RLock)

    # -- spans ------------------------------------------------------------

    def begin(self, name: str) -> _Open | None:
        if not self.enabled or self._opaque_depth:
            return None
        with self._lock:
            span = _Open(name, self.clock())
            self._stack.append(span)
            return span

    def end(self, span: _Open | None) -> float:
        """Close ``span``; return its duration (0 for an untraced span)."""
        if span is None:
            return 0.0
        with self._lock:
            dur = self.clock() - span.start
            top = self._stack.pop()
            if top is not span:
                raise RuntimeError(f"span {span.name} closed out of order ({top.name} open)")
            t = self.totals[span.name]
            t.self_s += dur - span.child_s
            t.total_s += dur
            t.calls += 1
            if self._stack:
                self._stack[-1].child_s += dur
            return dur

    def call(self, name: str, fn, *args, opaque: bool = False, **kwargs):
        span = self.begin(name)
        if span is not None and opaque:
            self._opaque_depth += 1
        try:
            return fn(*args, **kwargs)
        finally:
            if span is not None and opaque:
                self._opaque_depth -= 1
            self.end(span)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def reset(self) -> tuple[dict, dict, list]:
        """Return the span totals, counts and events so far, and start anew."""
        with self._lock:
            out = (dict(self.totals), dict(self.counts), self.events)
            self.totals, self.counts, self.events = defaultdict(Totals), defaultdict(float), []
            return out

    # -- patching ---------------------------------------------------------

    def wrap(self, name: str | None, fn, opaque: bool = False, hook=None):
        """A stand-in for ``fn``: while enabled it runs ``hook(fn)`` (or
        ``fn``) inside a span ``name``; with ``name=None`` the hook opens
        its own spans."""
        inner = hook(fn) if hook else fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled or self._opaque_depth:
                return fn(*args, **kwargs)
            if name is None:
                return inner(*args, **kwargs)
            return self.call(name, inner, *args, opaque=opaque, **kwargs)

        return traced

    def patch_function(self, module, attr: str, name: str | None, opaque: bool = False, hook=None):
        """Trace ``module.attr`` and every other binding of it in the
        library's and the examples' modules."""
        orig = getattr(module, attr)
        traced = self.wrap(name, orig, opaque, hook)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not mname.startswith(("jorvik_spark", "examples")):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, traced)
        return traced

    def patch_method(self, cls, attr: str, name: str, opaque: bool = False, hook=None):
        orig = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(name, orig, opaque, hook))


class Engine:
    """Counters read from Spark's JVM: JIT and GC time (MXBeans),
    whole-stage-codegen compilations, and per-job data from Spark's
    status store."""

    def __init__(self, spark):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._sc = spark.sparkContext
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def snapshot(self) -> dict:
        return {
            "jit_s": self._comp.getTotalCompilationTime() / 1000.0,
            "gc_s": sum(b.getCollectionTime() for b in self._gcs) / 1000.0,
            "codegen_compiles": int(self._codegen.getCount()),
        }

    def cached_bytes(self) -> int:
        """Bytes of every persisted or checkpointed RDD, memory and disk."""
        return sum(
            int(i.memSize()) + int(i.diskSize())
            for i in self._sc._jsc.sc().getRDDStorageInfo()
        )

    def jobs(self, group: str) -> dict:
        """Totals for the jobs of one job group: count, busy time (the
        union of their submit-to-complete intervals), shuffle write and
        spill bytes."""
        ids = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
        spans, stages = [], set()
        for jid in ids:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        out = {"jobs": len(ids), "busy_s": union_seconds(spans), "shuffle_write_bytes": 0,
               "spill_bytes": 0}
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that was never submitted
                continue
            out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        return out


def union_seconds(spans: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start_ms, end_ms] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def plan_seconds(df) -> float:
    """Catalyst time recorded by the DataFrame's QueryExecution tracker:
    the sum of its phase durations (analysis, optimization, planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.valuesIterator()
    ms = 0
    while it.hasNext():
        ms += int(it.next().durationMs())
    return ms / 1000.0


def install(tracer: Tracer) -> None:
    """Trace the public functions of the library's layers. Span names are
    the metric prefixes; see run.layer_metrics for how they combine."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameReader

    import jorvik_spark.tables as tables
    from jorvik_spark.data_lineage.observer import DataLineageLogger
    from jorvik_spark.pipelines.etl import ETL
    from jorvik_spark.queries import registry
    from jorvik_spark.storage.basic import BasicStorage
    from jorvik_spark.storage.isolation import IsolatedStorage

    def parquet_read(orig):
        def hook(*a, **k):
            tracer.count("spark.parquet_reads")
            return orig(*a, **k)
        return hook

    def load_table(orig):
        # A hit is a call that returns without reading parquet.
        def hook(*a, **k):
            reads = tracer.counts["spark.parquet_reads"]
            df = orig(*a, **k)
            if tracer.counts["spark.parquet_reads"] == reads:
                tracer.count("tables.hits")
            return df
        return hook

    def memo_df(orig):
        def hook(key, spark, build, *a, **k):
            built = []

            def counted():
                built.append(True)
                return build()

            span = tracer.begin("memo.lookup")
            try:
                return orig(key, spark, counted, *a, **k)
            finally:
                if span is not None:
                    span.name = "memo.build" if built else "memo.hit"
                tracer.end(span)
        return hook

    def merge(orig):
        # Records ("merge", path, rows in the table after the call) for a
        # merge into an existing table; a merge that creates its target
        # is a plain write.
        def hook(self, df, path, *a, **k):
            existed = os.path.isdir(path)
            out = orig(self, df, path, *a, **k)
            if existed:
                rows = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                           for f in os.listdir(path) if f.endswith(".parquet"))
                tracer.events.append(("merge", path, rows))
            return out
        return hook

    tracer.patch_method(DataFrameReader, "parquet", None, hook=parquet_read)
    tracer.patch_function(tables, "load_table", "tables.load_table", hook=load_table)
    tracer.patch_function(registry, "memo_df", None, hook=memo_df)
    tracer.patch_function(registry, "clear_memos", "memo.clear")
    tracer.patch_method(BasicStorage, "write", "storage.write")
    tracer.patch_method(BasicStorage, "merge", "storage.merge", hook=merge)
    tracer.patch_method(IsolatedStorage, "read", "isolation.read")
    tracer.patch_method(ETL, "run", "etl.run")
    tracer.patch_method(ETL, "verify_input_schemas", "etl.verify")
    tracer.patch_method(ETL, "verify_output_schemas", "etl.verify")
    tracer.patch_method(DataLineageLogger, "update", "lineage.update", opaque=True)
