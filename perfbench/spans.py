"""Spans and Spark job counts for the traced run.

Spans are opened only in perfbench's own code, around calls into the
package's layers; nothing inside the package is edited. ``install_wrappers``
reroutes the collection module's references to the filter compiler and
the vector expressions, and ``TracedEmbedder`` stands in for a
collection's embedder in the client process, so the calls the collection layer
makes into ``filters``, ``functions.vector`` and ``embed`` become child
spans of the benchmark's span around the collection call. Executor-side
embedding is untouched: the UDF still closes over the real embedder.

Spans stay in memory until the run ends. A layer's self time is its
spans' durations minus the time their child spans cover, summed over the
spans of checked operations and divided by their number. The tracer times
its own bookkeeping (span records, job-group set-up, waiting for the
listener bus, status-tracker reads) so the run can report the share of
traced time it added.
"""

from __future__ import annotations

import functools
from contextlib import contextmanager
from time import perf_counter

LAYERS = ("session", "embed", "filters", "functions.vector", "collection")


class Span:
    __slots__ = ("sid", "parent", "name", "layer", "op", "t0", "t1", "jobs", "tasks", "failed")

    def __init__(self, sid, parent, name, layer, op):
        self.sid, self.parent, self.name, self.layer, self.op = sid, parent, name, layer, op
        self.t0 = self.t1 = 0.0
        self.jobs = self.tasks = 0
        self.failed = False

    @property
    def duration(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    """The untraced run: same call sites, no records."""

    enabled = False
    op = None

    @contextmanager
    def span(self, name, layer, count_jobs=False):
        yield None


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.sc = None  # set once the session exists, for job counting
        self.op = None  # id of the workload operation being traced
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name, layer, count_jobs=False):
        t_in = perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, name, layer, self.op)
        self.spans.append(s)
        self._stack.append(s.sid)
        group = None
        if count_jobs and self.sc is not None:
            group = f"perfbench-{s.sid}"
            self.sc.setJobGroup(group, name)
        s.t0 = perf_counter()
        self.overhead_s += s.t0 - t_in
        try:
            yield s
        except BaseException:
            s.failed = True
            raise
        finally:
            s.t1 = perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                s.jobs, s.tasks = self._count(group)
            self.overhead_s += perf_counter() - s.t1

    def _count(self, group: str) -> tuple[int, int]:
        # job/stage end events reach the status store through the listener
        # bus; drain it so the counts are exact, not racing the bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(jobs), tasks

    # ------------------------------------------------------------ reports

    def self_ms_per_op(self) -> dict[str, float]:
        """Each layer's self time inside checked operations, per operation."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.duration
        out = {layer: 0.0 for layer in LAYERS if layer != "session"}
        ops = set()
        for s in self.spans:
            if s.op is None:
                continue
            ops.add(s.op)
            if s.layer in out:
                out[s.layer] += s.duration - child_time[s.sid]
        return {layer: 1e3 * t / max(len(ops), 1) for layer, t in out.items()}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def failed_by_layer(self, failed_ops: set) -> dict[str, int]:
        """Attribute each failed operation to the innermost failed span's
        layer (the collection layer when only the oracle rejected it)."""
        out = {layer: 0 for layer in LAYERS}
        innermost: dict = {}
        for s in self.spans:
            if s.failed and s.op in failed_ops and s.layer in out:
                innermost[s.op] = s.layer  # later spans open deeper
        for op in failed_ops:
            out[innermost.get(op, "collection")] += 1
        return out


class TracedEmbedder:
    """Client-side stand-in for an embedder: spans around ``embed_texts``
    (the query-probe embedding) and ``embed_col`` (building the UDF
    column); everything else is the wrapped embedder's."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def embed_texts(self, texts):
        with self._tracer.span("embed.embed_texts", "embed"):
            return self._inner.embed_texts(texts)

    def embed_col(self, col):
        with self._tracer.span("embed.embed_col", "embed"):
            return self._inner.embed_col(col)


def _wrap(fn, tracer: Tracer, name: str, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return traced


def install_wrappers(tracer: Tracer):
    """Route the collection layer's calls into ``filters`` and
    ``functions.vector`` through spans; returns the undo callable."""
    from valentinus_spark import collection

    names = {
        "compile_filters": ("filters.compile_filters", "filters"),
        "cosine_similarity": ("functions.vector.cosine_similarity", "functions.vector"),
        "dot": ("functions.vector.dot", "functions.vector"),
        "l2_distance": ("functions.vector.l2_distance", "functions.vector"),
    }
    saved = {attr: getattr(collection, attr) for attr in names}
    for attr, (name, layer) in names.items():
        setattr(collection, attr, _wrap(saved[attr], tracer, name, layer))

    def undo():
        for attr, fn in saved.items():
            setattr(collection, attr, fn)

    return undo
