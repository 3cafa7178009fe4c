"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded by wrappers that the benchmark installs around the
public functions of each layer; the program itself is not edited.  Spans
live in memory and are written out when the run ends.  Spark's own
counts come from its status stores: jobs are attributed to a request by
the job group the ``api`` wrapper sets on the serving thread, and stages
are read above a high-water mark taken before the measured window.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time

import numpy as np


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "thread", "attrs")

    def __init__(self, sid, parent, name, start, thread, attrs):
        self.id, self.parent, self.name = sid, parent, name
        self.start, self.end, self.thread, self.attrs = start, None, thread, attrs

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        #: called with (span, entering) around every span named ``api.*``
        self.api_hook = None
        #: job group of the caller's current phase, copied onto new spans
        self.tag = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, **attrs) -> Span:
        st = self._stack()
        if self.tag:
            attrs["group"] = self.tag
        sp = Span(next(self._ids), st[-1].id if st else None, name, time.perf_counter(),
                  threading.get_ident(), attrs)
        st.append(sp)
        with self._lock:
            self.spans.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()

    def call(self, name: str, fn, *args, **kwargs):
        sp = self.begin(name, args=_short(args))
        api = name.startswith("api.") and self.api_hook is not None
        if api:
            self.api_hook(sp, True)
        try:
            return fn(*args, **kwargs)
        finally:
            if api:
                self.api_hook(sp, False)
            self.finish(sp)

    def wrap(self, owner, attr: str, name: str, method: bool) -> None:
        orig = getattr(owner, attr)

        if method:
            @functools.wraps(orig)
            def wrapper(obj, *args, **kwargs):
                return self.call(name, orig, obj, *args, **kwargs)
        else:
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                return self.call(name, orig, *args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wraps the public functions of the api, pipeline, store,
        embedder and functions.vector layers."""
        from vector_db_handler_spark import api, embedder, pipeline, store

        for cls, layer in ((api.VectorDBApi, "api"), (pipeline.DocumentPipeline, "pipeline"),
                           (store.PointsStore, "store")):
            for attr, val in list(vars(cls).items()):
                if callable(val) and not attr.startswith("_"):
                    self.wrap(cls, attr, f"{layer}.{attr}", method=True)
        for attr in ("embed_text", "embed_texts", "with_embeddings"):
            self.wrap(embedder, attr, f"embedder.{attr}", method=False)
        self.wrap(pipeline, "cosine_score_precomputed", "vector.cosine_score_precomputed", method=False)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def self_ms(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the time covered by direct children (children
        of one span run on its thread, one after another)."""
        return sp.ms - sum(c.ms for c in kids.get(sp.id, ()) if c.end is not None)

    def under(self, sp: Span, kids, prefix: str) -> float:
        """ms spent in descendant spans whose name starts with ``prefix``
        (outermost such spans only)."""
        total = 0.0
        for c in kids.get(sp.id, ()):
            if c.end is None:
                continue
            total += c.ms if c.name.startswith(prefix) else self.under(c, kids, prefix)
        return total

    def dump(self, path: str) -> None:
        base = self.spans[0].start if self.spans else 0.0
        rows = [
            {"id": s.id, "parent": s.parent, "name": s.name, "thread": s.thread,
             "start_ms": round((s.start - base) * 1e3, 3),
             "end_ms": None if s.end is None else round((s.end - base) * 1e3, 3), **s.attrs}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


def _short(args) -> list:
    out = []
    for a in args:
        if isinstance(a, (str, int, float)):
            out.append(a if not isinstance(a, str) or len(a) <= 120 else a[:120])
        elif isinstance(a, (list, tuple)) and len(a) <= 8 and all(isinstance(x, (int, str)) for x in a):
            out.append(list(a))
        else:
            out.append(type(a).__name__)
    return out


def pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


# -- Spark status stores ---------------------------------------------------------


class SparkStats:
    """Reads job, stage and SQL-metric data from the live status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._gateway.jvm
        self._empty = jvm.java.util.ArrayList()
        self._no_q = self.sc._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        # Status-store updates ride the (asynchronous) listener bus.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(5000)

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def stage_highwater(self) -> int:
        self.drain()
        return max((s["id"] for s in self.stages(-1)), default=-1)

    def stages(self, above: int) -> list[dict]:
        st = self.sc._jsc.sc().statusStore().stageList(self._empty, False, False, self._no_q, self._empty)
        out = []
        for i in range(st.size()):
            s = st.apply(i)
            if s.stageId() > above:
                out.append({"id": s.stageId(), "run_ms": s.executorRunTime(),
                            "shuffle_write": s.shuffleWriteBytes()})
        return out

    def jobs(self) -> dict[str, list[dict]]:
        """job group → its jobs."""
        js = self.sc._jsc.sc().statusStore().jobsList(None)
        out: dict[str, list[dict]] = {}
        for i in range(js.size()):
            j = js.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or not j.completionTime().isDefined():
                continue
            out.setdefault(g.get(), []).append({
                "id": j.jobId(),
                "ms": j.completionTime().get().getTime() - j.submissionTime().get().getTime(),
                "stages": j.numCompletedStages(), "tasks": j.numCompletedTasks(),
                "stage_ids": [j.stageIds().apply(k) for k in range(j.stageIds().size())],
            })
        return out

    def sql_metrics(self, job_group: dict[int, str]) -> dict[str, dict[str, float]]:
        """job group → summed SQL metrics of its executions:
        ``python_bytes`` ("data sent to Python workers") and
        ``scan_rows`` (rows out of file scans)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        ex = store.executionsList()
        out: dict[str, dict[str, float]] = {}
        for i in range(ex.size()):
            e = ex.apply(i)
            keys = e.jobs().keys().toList()
            groups = {job_group.get(keys.apply(k)) for k in range(keys.size())} - {None}
            if len(groups) != 1:
                continue
            acc = out.setdefault(groups.pop(), {"python_bytes": 0.0, "scan_rows": 0.0})
            vals = store.executionMetrics(e.executionId())
            nodes = store.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                for m in range(ms.size()):
                    met = ms.apply(m)
                    key = None
                    if met.name() == "data sent to Python workers":
                        key = "python_bytes"
                    elif met.name() == "number of output rows" and node.name().startswith("Scan"):
                        key = "scan_rows"
                    v = vals.get(met.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        acc[key] += parse_metric(v.get())
        return out


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'5,000'``, ``'83.3 KiB'`` or
    ``'total (min, med, max …)\\n121.2 KiB (…)'``."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)
