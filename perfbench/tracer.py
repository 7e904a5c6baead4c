"""Span tracer for the benchmark's traced run.

Spans are recorded from the benchmark's own files: ``install`` wraps the
public functions and class methods of the library modules listed in
``LAYERS`` (and the ``q_*`` registry builders of ``__spark_entry__``)
so that every call made while an operation is open records a span
``(name, layer, start, end, parent, op)``. Nothing in the library is
edited; ``uninstall`` puts every original back.

Inside an operation's action span (collect / toArrow) synthetic child
spans are added afterwards: the Catalyst optimization and planning
phases, placed at the times Spark's ``QueryPlanningTracker`` recorded,
and a driver-transfer span covering the time after the action's last
Spark job ended (result conversion and hand-over to Python). What is
left of the action span is execution. A layer's self time is its span
length minus its children, so the self times of one operation add up
to that operation's root span.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time

#: library module -> layer name used in metric names
LAYERS = {
    "db_spark.sources": "sources",
    "db_spark.ops": "ops",
    "db_spark.conditions": "conditions",
    "db_spark.optimizer": "optimizer",
    "db_spark.table": "table",
    "db_spark.matview": "matview",
    "db_spark.llm.dedup": "llm.dedup",
    "db_spark.llm.similarity": "llm.similarity",
    "db_spark.llm.text": "llm.text",
    "db_spark.llm.corpus": "llm.corpus",
    "db_spark.sketch": "sketch",
    "db_spark.analytics": "analytics",
}
REGISTRY_MODULE = "__spark_entry__"

#: layer -> per-operation self-time metric (seconds per operation); the
#: values of one run add up to the mean operation wall time
SELF_METRICS = {
    "bench": "bench.glue_s",
    "registry": "registry.build_s",
    "sources": "sources.read_table_s",
    "ops": "ops.build_s",
    "conditions": "conditions.compile_s",
    "optimizer": "optimizer.optimize_s",
    "table": "table.self_s",
    "matview": "matview.self_s",
    "llm.dedup": "llm.dedup.build_s",
    "llm.similarity": "llm.similarity.build_s",
    "llm.text": "llm.text.build_s",
    "llm.corpus": "llm.corpus.build_s",
    "sketch": "sketch.build_s",
    "analytics": "analytics.build_s",
    "catalyst": "catalyst.action_s",
    "action": "action.exec_s",
    "transfer": "transfer.s",
}

#: inclusive time per call of these spans (seconds per call)
CALL_METRICS = {
    "Collection.set_objects": "table.set_objects_s",
    "Collection.commit": "table.commit_s",
    "Collection.delete_where": "table.delete_where_s",
    "Collection.maybe_compact": "table.maybe_compact_s",
    "Collection.table_scan": "table.table_scan_s",
    "Collection.changes": "table.changes_s",
    "IncrementalAggView.refresh": "matview.refresh_s",
}


class Tracer:
    """Collects spans for the operations of one traced phase."""

    def __init__(self):
        self.spans: list[list] = []  # [sid, parent, name, layer, t0, t1, op]
        self._stack: list[int] = []
        self._op: int | None = None
        self._patches: list[tuple] = []
        # perf_counter() + offset = Unix time, for placing JVM timestamps
        self.offset = time.time() - time.perf_counter()
        #: time operations spent in tracing code: each wrapper from entry
        #: to exit minus the call it wraps, plus opening and closing the
        #: operations' root spans
        self.overhead_s = 0.0

    # -- spans --------------------------------------------------------------
    def open(self, name: str, layer: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([sid, parent, name, layer, time.perf_counter(),
                           None, self._op])
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid][5] = time.perf_counter()
        self._stack.pop()

    def add(self, parent: int, name: str, layer: str, t0: float,
            t1: float) -> None:
        """Synthetic child span, clipped into its parent."""
        p = self.spans[parent]
        t0, t1 = max(t0, p[4]), min(t1, p[5])
        if t1 > t0:
            self.spans.append([len(self.spans), parent, name, layer, t0, t1,
                               p[6]])

    def begin_op(self, op_id: int, kind: str) -> int:
        t0 = time.perf_counter()
        self._op = op_id
        sid = self.open(kind, "bench")
        self.overhead_s += time.perf_counter() - t0
        return sid

    def end_op(self, root: int) -> None:
        t0 = time.perf_counter()
        self.close(root)
        self._op = None
        self.overhead_s += time.perf_counter() - t0

    def last_span(self, op_id: int, name: str) -> int | None:
        for s in reversed(self.spans):
            if s[6] == op_id and s[2] == name:
                return s[0]
        return None

    # -- library wrapping ---------------------------------------------------
    def wrap(self, fn, layer: str, name: str):
        """``fn`` recording a span per call made while an operation is
        open."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._op is None:
                return fn(*args, **kwargs)
            t_in = time.perf_counter()
            sid = tracer.open(name, layer)
            c0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                c1 = time.perf_counter()
                tracer.close(sid)
                tracer.overhead_s += time.perf_counter() - t_in - (c1 - c0)

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _wrap_class(self, cls, layer: str) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            name = f"{cls.__name__}.{attr}"
            if isinstance(raw, staticmethod):
                new = staticmethod(self.wrap(raw.__func__, layer, name))
            elif isinstance(raw, classmethod):
                new = classmethod(self.wrap(raw.__func__, layer, name))
            elif isinstance(raw, property) and raw.fget is not None:
                new = property(self.wrap(raw.fget, layer, name),
                               raw.fset, raw.fdel, raw.__doc__)
            elif inspect.isfunction(raw):
                new = self.wrap(raw, layer, name)
            else:
                continue
            self._patch(cls, attr, new)

    def install(self) -> None:
        """Wrap every public function and class method of the layer
        modules, and rebind names other library modules imported."""
        replaced = {}  # id(original function) -> wrapper
        targets = [(m, layer) for m, layer in LAYERS.items()]
        targets.append((REGISTRY_MODULE, "registry"))
        for modname, layer in targets:
            mod = importlib.import_module(modname)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if modname == REGISTRY_MODULE and not attr.startswith("q_"):
                    continue
                if inspect.isclass(obj):
                    self._wrap_class(obj, layer)
                elif inspect.isfunction(obj):
                    new = self.wrap(obj, layer, attr)
                    replaced[id(obj)] = new
                    self._patch(mod, attr, new)
        for modname, mod in list(sys.modules.items()):
            if not (modname.startswith("db_spark") or modname == REGISTRY_MODULE):
                continue
            for attr, obj in list(vars(mod).items()):
                new = replaced.get(id(obj))
                if new is not None:
                    self._patch(mod, attr, new)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # -- analysis -----------------------------------------------------------
    def op_spans(self, op_id: int) -> list[list]:
        return [s for s in self.spans if s[6] == op_id]

    @staticmethod
    def self_times(spans: list[list]) -> dict[str, float]:
        """Per-layer self time of one operation's spans."""
        child = {}
        for s in spans:
            if s[1] is not None:
                child[s[1]] = child.get(s[1], 0.0) + (s[5] - s[4])
        out: dict[str, float] = {}
        for s in spans:
            out[s[3]] = out.get(s[3], 0.0) + (s[5] - s[4]) - child.get(s[0], 0.0)
        return out

    def write(self, path: str) -> None:
        keys = ["id", "parent", "name", "layer", "start", "end", "op"]
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dict(zip(keys, s))) + "\n")


class JvmProbe:
    """Per-operation Spark counters read through py4j: the final
    DataFrame's QueryExecution phase tracker, and the status store's
    job and stage records of the operation's job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def start(self, op_id: int, kind: str) -> str:
        group = f"perfbench-{op_id}"
        self.sc.setJobGroup(group, kind)
        return group

    def phases(self, df) -> dict[str, tuple[float, float]]:
        """Catalyst phase -> (start, end) in Unix seconds."""
        out = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = (kv._2().startTimeMs() / 1e3, kv._2().endTimeMs() / 1e3)
        return out

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counters(self, group: str) -> tuple[dict[str, float], list]:
        """Job and stage totals of one job group, and the (start, end)
        Unix times of its jobs. Waits for the listener bus first, so the
        store has every finished task."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        c = dict(jobs=len(jobs), wall_s=0.0, task_s=0.0, tasks=0, input_bytes=0,
                 shuffle_write_bytes=0, shuffle_read_bytes=0, spill_bytes=0)
        stages, intervals = set(), []
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
            data = self._store.job(j)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined() and done.isDefined():
                a, b = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                c["wall_s"] += b - a
                intervals.append((a, b))
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stage: no attempt
                continue
            c["task_s"] += st.executorRunTime() / 1e3
            c["tasks"] += st.numCompleteTasks()
            c["input_bytes"] += st.inputBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return c, intervals
