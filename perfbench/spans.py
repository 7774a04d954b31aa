"""Tracing for the per-layer run: spans around the calls into each layer,
counters, and executor work attributed through Spark job groups.

With tracing off every hook is a no-op, so the measured runs pay
nothing for it.  Spans stay in memory; ``write`` dumps them as JSON
lines when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

# Layers whose Spark jobs are attributed (job group = layer name); the
# names are the repo's module names.
EXEC_LAYERS = ("session", "jobs", "streaming", "plans", "operators")
EXEC_FIELDS = ("task_cpu_s", "gc_s", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "tasks", "failed_tasks",
               "stage_wait_s", "shuffle_bytes_per_input_byte")


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.values: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.job_groups: dict[str, str] = {}   # job group -> layer
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def _span(self, name: str, layer: str, trace_id: str | None,
              spark=None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, layer,
                  trace_id or (parent.trace_id if parent else name),
                  parent.span_id if parent else None, time.perf_counter())
        stack.append(sp)
        keys = ("spark.jobGroup.id", "spark.job.description")
        prev = None
        if spark is not None:
            sc = spark.sparkContext
            prev = [sc.getLocalProperty(k) for k in keys]
            sc.setJobGroup(layer, name)
            self.job_groups[layer] = layer
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if spark is not None:
                for k, v in zip(keys, prev):
                    spark.sparkContext.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(sp)

    def span(self, name: str, layer: str, trace_id: str | None = None,
             spark=None):
        """Record a span; with ``spark``, jobs started inside it are
        attributed to ``layer``."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, layer, trace_id, spark)

    def record(self, name: str, layer: str, trace_id: str,
               parent: int | None, start: float, end: float) -> int:
        """Add a span measured elsewhere (e.g. from query progress)."""
        sp = Span(next(self._ids), name, layer, trace_id, parent, start, end)
        with self._lock:
            self.spans.append(sp)
        return sp.span_id

    def adopt(self, trace_id: str, name: str, parent: int) -> None:
        """Make root spans called ``name`` in ``trace_id`` children of
        ``parent`` (a span recorded later than they were)."""
        for sp in self.spans:
            if (sp.trace_id == trace_id and sp.name == name
                    and sp.parent is None):
                sp.parent = parent

    # -- counters --------------------------------------------------------

    def put(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.values[name] = value

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.samples[name].append(value)

    def bind_group(self, group: str, layer: str) -> None:
        """Attribute jobs of an existing job group (a streaming query's
        run id) to ``layer``."""
        if self.enabled:
            self.job_groups[group] = layer

    # -- derived ---------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus the union of its
        direct children's intervals."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent].append(sp)
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(sp.span_id, ()), key=lambda s: s.start):
                lo, hi = max(c.start, sp.start), min(c.end, sp.end)
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
            out[sp.layer] += (sp.end - sp.start) - covered
        return out

    def write(self, path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.__dict__) + "\n")


def executor_metrics(spark, groups: dict[str, str]) -> dict[str, float]:
    """Per-layer executor totals from the Spark status store: every
    stage of every job whose job group maps to a layer."""
    sc = spark.sparkContext
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(getattr(
        jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
        "MODULE$"))
    store = sc._jsc.sc().statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList())))
    stage_layer = {}
    for job in jobs:
        layer = groups.get(job.get("jobGroup") or "")
        if layer is not None:
            for sid in job["stageIds"]:
                stage_layer[sid] = layer
    acc = {(lay, f): 0.0 for lay in EXEC_LAYERS for f in EXEC_FIELDS}
    input_bytes = defaultdict(float)
    for st in stages:
        layer = stage_layer.get(st["stageId"])
        if layer not in EXEC_LAYERS or st.get("status") == "SKIPPED":
            continue
        acc[(layer, "task_cpu_s")] += st["executorCpuTime"] / 1e9
        acc[(layer, "gc_s")] += st["jvmGcTime"] / 1e3
        acc[(layer, "shuffle_read_bytes")] += st["shuffleReadBytes"]
        acc[(layer, "shuffle_write_bytes")] += st["shuffleWriteBytes"]
        acc[(layer, "spill_bytes")] += (st["memoryBytesSpilled"]
                                        + st["diskBytesSpilled"])
        acc[(layer, "tasks")] += st["numTasks"]
        acc[(layer, "failed_tasks")] += st["numFailedTasks"]
        sub, first = st.get("submissionTime"), st.get("firstTaskLaunchedTime")
        if sub is not None and first is not None:
            acc[(layer, "stage_wait_s")] += max(0, first - sub) / 1e3
        input_bytes[layer] += st["inputBytes"]
    for lay in EXEC_LAYERS:
        shuffled = acc[(lay, "shuffle_write_bytes")]
        acc[(lay, "shuffle_bytes_per_input_byte")] = (
            shuffled / input_bytes[lay] if input_bytes[lay] else 0.0)
        acc[(lay, "input_bytes")] = input_bytes[lay]
    return {f"{lay}.{f}": v for (lay, f), v in acc.items()}


def install_catalog_hooks(tracer: Tracer):
    """Time every call into ``catalog.load_table`` / ``register_views``
    by rebinding those names, in every loaded module of the package that
    imported them, to timing wrappers.  Returns a function that puts the
    originals back."""
    import functools
    import sys

    from gmall_211027_flink_spark import catalog

    originals = {n: getattr(catalog, n) for n in ("load_table",
                                                  "register_views")}

    def wrap(name, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with tracer.span(name, "catalog"):
                return fn(*args, **kwargs)
        return timed

    wrapped = {n: wrap(n, f) for n, f in originals.items()}
    patched = []
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith(
                "gmall_211027_flink_spark"):
            continue
        for n, f in originals.items():
            if getattr(mod, n, None) is f:
                setattr(mod, n, wrapped[n])
                patched.append((mod, n, f))

    def undo() -> None:
        for mod, n, f in patched:
            setattr(mod, n, f)
    return undo
