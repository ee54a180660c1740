"""Spans around the public calls of ``elastic_surv_spark``, with Spark counters.

The tracer wraps public functions and methods by replacing the attributes at
import time (``install``). Each wrapped call records one span: name, start,
end, parent and the run id. Spans live in memory and are written when the run
ends. Every span tags the Spark jobs it launches with its own job group on the
calling thread, so the job, stage and task counters of the status store can be
attributed to the span after the pass (``harvest``).

Untraced runs install nothing: the package runs as shipped.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)
    self_s: float = 0.0


class Tracer:
    """In-memory span recorder; ``active`` switches recording per pass."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.active = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] | None = None
        self.sc = None  # SparkContext, bound once a session exists

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
            if threading.current_thread() is threading.main_thread():
                self._main_stack = stack
        return stack

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def begin(self, name: str, **attrs) -> Span | None:
        if not self.active:
            return None
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # a worker thread (a Hyperband rung) hangs under whatever the
            # main thread has open, so self times stay additive
            main = self._main_stack
            parent = main[-1] if main else None
        sid = next(self._ids)
        span = Span(
            id=sid,
            name=name,
            parent=parent.id if parent else None,
            thread=threading.get_ident(),
            start=time.perf_counter(),
            group=f"{self.run_id}-{sid}",
            attrs=attrs,
        )
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        self._set_group(span.group)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self._set_group(stack[-1].group if stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span = self.begin(name, **attrs)
        try:
            yield span
        finally:
            self.end(span)

    # ------------------------------------------------------------------ #
    def wrap_function(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, **_describe(args)):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Replace the public entry points with traced wrappers.

        Module-level functions are rebound in every loaded module of the
        package that imported them by name (``models.base`` holds its own
        ``concordance_td`` and ``integrated_brier_score``)."""
        from elastic_surv_spark import frame, optimizer, session
        from elastic_surv_spark.functions import featurize
        from elastic_surv_spark.metrics import brier, concordance
        from elastic_surv_spark.models import base, data
        from elastic_surv_spark.plans import queries  # noqa: F401 — load importers
        from elastic_surv_spark.sources import parquet

        functions = [
            (session, "get_spark", "session.get_spark"),
            (parquet, "load_table", "sources.load_table"),
            (concordance, "concordance_td", "metrics.concordance_td"),
            (concordance, "concordance_td_exact", "metrics.concordance_td_exact"),
            (brier, "integrated_brier_score", "metrics.integrated_brier_score"),
        ]
        for module, attr, name in functions:
            original = getattr(module, attr)
            traced = self.wrap_function(original, name)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("elastic_surv_spark") and (
                    getattr(mod, attr, None) is original
                ):
                    setattr(mod, attr, traced)

        methods = [
            (frame.SurvFrame, "from_pandas", "sources.from_pandas"),
            (frame.SurvFrame, "split", "frame.split"),
            (featurize.OneHotFeaturizer, "fit", "featurize.fit"),
            (featurize.OneHotFeaturizer, "transform", "featurize.transform"),
            (data.SurvDataset, "to_numpy", "models.to_numpy"),
            (base.SurvModel, "train", "models.train"),
            (base.SurvModel, "predict", "models.predict"),
            (base.SurvModel, "score", "models.score"),
            (optimizer.HyperbandOptimizer, "select_model", "optimizer.select_model"),
        ]
        for owner, attr, name in methods:
            raw = owner.__dict__[attr]
            if isinstance(raw, classmethod):
                setattr(owner, attr, classmethod(self.wrap_function(raw.__func__, name)))
            else:
                setattr(owner, attr, self.wrap_function(raw, name))

    # ------------------------------------------------------------------ #
    def harvest(self, spans: list[Span]) -> None:
        """Fill ``span.spark`` from the status store once the pass is over.

        Waits for the listener bus first: the store is updated
        asynchronously, so reading it inside the span would miss the last
        stage of the span's own jobs."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for span in spans:
            c = dict.fromkeys(SPARK_COUNTERS, 0)
            seen: set[int] = set()
            for jid in tracker.getJobIdsForGroup(span.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # evicted from the store
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["failed_tasks"] += st.numFailedTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1e3
                    c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            span.spark = c

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile seconds so far) for the whole JVM."""
        jvm = self.sc._jvm
        compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return int(compiles), nanos / 1e9


SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def _describe(args) -> dict:
    """Attributes worth keeping from a call: the model family and mode."""
    if args and hasattr(args[0], "name") and hasattr(args[0], "mode"):
        model = args[0]
        return {"family": model.name(), "mode": model.mode, "epochs": model.epochs}
    return {}


def self_times(spans: list[Span]) -> None:
    """span.self_s = duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])
        ):
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
        s.self_s = (s.end - s.start) - covered
