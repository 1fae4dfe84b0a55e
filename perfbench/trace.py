"""Spans and counters for the traced run.

Spans are recorded from outside the package: ``install`` wraps the public
methods each layer exposes (``SQLExecutor.execute``, the ``Transaction``
write and commit methods, ``LakeCatalog.read``, ``Metastore.tx/q/one``,
``DataFrame.collect/count/toPandas`` and the parquet writer), and the
workloads open spans around the registry ``fn`` calls and the
``queryExecution()`` phases they force themselves. A wrapped method that
re-enters itself (``Metastore.one`` calling ``q``) records only the outer
call. Spans live in memory until the run ends.

Counts come from the JVM: the DAGScheduler job counter, the status tracker
(stages and tasks of the window's job group), the SQL metrics of each
executed plan, and the GC MXBeans.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict

# (module, class, method) wrapped in a span named (layer, name)
_PATCHES = [
    ("ducktales_spark.lake.sql", "SQLExecutor", "execute", "lake_sql", "execute"),
    ("ducktales_spark.lake.catalog", "Transaction", "insert", "catalog", "stage"),
    ("ducktales_spark.lake.catalog", "Transaction", "insert_rows", "catalog", "stage"),
    ("ducktales_spark.lake.catalog", "Transaction", "update", "catalog", "stage"),
    ("ducktales_spark.lake.catalog", "Transaction", "delete", "catalog", "stage"),
    ("ducktales_spark.lake.catalog", "Transaction", "merge", "catalog", "stage"),
    ("ducktales_spark.lake.catalog", "Transaction", "commit", "catalog", "commit"),
    ("ducktales_spark.lake.catalog", "Transaction", "flush_inlined", "catalog", "maintenance"),
    ("ducktales_spark.lake.catalog", "Transaction", "compact", "catalog", "maintenance"),
    ("ducktales_spark.lake.catalog", "LakeCatalog", "read", "catalog", "read"),
    ("ducktales_spark.lake.metastore", "Metastore", "q", "metastore", "query"),
    ("ducktales_spark.lake.metastore", "Metastore", "one", "metastore", "query"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "exec", "run"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "count", "exec", "run"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "toPandas", "exec", "run"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet", "exec", "run"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "save", "exec", "run"),
]
# layers whose spans also record how many Spark jobs ran inside them
_JOB_LAYERS = {"queries", "catalog", "exec", "lake_sql"}
SPAN_LAYERS = ("session", "queries", "catalyst", "exec", "lake_sql", "catalog", "metastore")


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a no-op,
    so the untraced run pays one attribute check per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []  # [id, parent, layer, name, start, end, attrs]
        self._stack: list = []
        self._active: set = set()
        self.overhead_s = 0.0
        self.op = None  # index of the timed op the spans belong to
        self._sc = None
        self._undo: list = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def jobs(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().numTotalJobs())

    def begin(self, layer: str, name: str):
        t = time.perf_counter()
        sid = len(self.spans)
        attrs = {"op": self.op}
        if layer in _JOB_LAYERS and self._sc is not None:
            attrs["jobs0"] = self.jobs()
        span = [sid, self._stack[-1] if self._stack else None, layer, name, 0.0, 0.0, attrs]
        self.spans.append(span)
        self._stack.append(sid)
        span[4] = time.perf_counter()
        self.overhead_s += span[4] - t
        return span

    def end(self, span, **attrs) -> None:
        t = time.perf_counter()
        span[5] = t
        self._stack.pop()
        a = span[6]
        if "jobs0" in a:
            a["jobs"] = self.jobs() - a.pop("jobs0")
        a.update(attrs)
        self.overhead_s += time.perf_counter() - t

    def span(self, layer: str, name: str):
        return _Span(self, layer, name)

    # -- method wrapping ------------------------------------------------
    def install(self) -> None:
        import importlib

        for mod, cls, meth, layer, name in _PATCHES:
            klass = getattr(importlib.import_module(mod), cls)
            orig = klass.__dict__[meth]
            setattr(klass, meth, self._wrap(orig, layer, name))
            self._undo.append((klass, meth, orig))
        from ducktales_spark.lake.metastore import Metastore

        orig_tx = Metastore.__dict__["tx"]
        tracer = self

        def tx(ms, *a, **kw):
            return _TracedTx(tracer, orig_tx(ms, *a, **kw))

        Metastore.tx = tx
        self._undo.append((Metastore, "tx", orig_tx))

    def uninstall(self) -> None:
        for klass, meth, orig in reversed(self._undo):
            setattr(klass, meth, orig)
        self._undo.clear()

    def _wrap(self, fn, layer: str, name: str):
        key = (layer, name)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if key in tracer._active:
                return fn(*a, **kw)
            tracer._active.add(key)
            span = tracer.begin(layer, name)
            try:
                out = fn(*a, **kw)
            except BaseException as e:
                tracer.end(span, error=type(e).__name__)
                raise
            finally:
                tracer._active.discard(key)
            if layer == "exec" and hasattr(a[0], "_jdf"):
                t = time.perf_counter()
                span[6].update(plan_metrics(a[0]._jdf.queryExecution()))
                tracer.overhead_s += time.perf_counter() - t
            tracer.end(span)
            return out

        return wrapper

    # -- aggregation ----------------------------------------------------
    def timed(self) -> list:
        """Spans recorded while a timed op ran."""
        return [s for s in self.spans if s[6].get("op") is not None]

    @staticmethod
    def self_time(spans) -> dict:
        """span id -> its duration minus its children's."""
        child = defaultdict(float)
        for s in spans:
            if s[1] is not None:
                child[s[1]] += s[5] - s[4]
        return {s[0]: (s[5] - s[4]) - child[s[0]] for s in spans}

    def summary(self, spans) -> list:
        """One row per (layer, name): count, total and self seconds."""
        self_t = self.self_time(spans)
        agg: dict = {}
        for s in spans:
            row = agg.setdefault((s[2], s[3]), [0, 0.0, 0.0])
            row[0] += 1
            row[1] += s[5] - s[4]
            row[2] += self_t[s[0]]
        return [
            {"layer": k[0], "name": k[1], "count": v[0],
             "total_s": round(v[1], 6), "self_s": round(v[2], 6)}
            for k, v in sorted(agg.items())
        ]

    def dump(self) -> list:
        t0 = self.spans[0][4] if self.spans else 0.0
        return [
            {"id": s[0], "parent": s[1], "layer": s[2], "name": s[3],
             "start_s": round(s[4] - t0, 6), "dur_s": round(s[5] - s[4], 6),
             **{k: v for k, v in s[6].items() if v is not None}}
            for s in self.spans
        ]


class _Span:
    __slots__ = ("t", "layer", "name", "span")

    def __init__(self, tracer, layer, name):
        self.t, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        if self.t.enabled:
            self.span = self.t.begin(self.layer, self.name)
        return self

    def __exit__(self, et, ev, tb):
        if self.t.enabled:
            self.t.end(self.span)
        return False


class _TracedTx:
    """Metastore transaction context whose span runs from enter to exit."""

    def __init__(self, tracer, inner):
        self._t, self._inner = tracer, inner

    def __enter__(self):
        self._span = self._t.begin("metastore", "tx")
        try:
            self._inner.__enter__()
        except BaseException:
            self._t.end(self._span, error="enter")
            raise
        return self._inner

    def __exit__(self, et, ev, tb):
        try:
            return self._inner.__exit__(et, ev, tb)
        finally:
            self._t.end(self._span)


# -- JVM-side counters ------------------------------------------------------
def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def plan_metrics(qe) -> dict:
    """Walk an executed plan's nodes (through AQE wrappers and query
    stages) and total the SQL metrics the per-layer table reads."""
    out = {"plan_nodes": 0, "shuffle_bytes": 0, "spill_bytes": 0,
           "python_boot_ms": 0, "python_run_ms": 0, "python_bytes_sent": 0}
    from py4j.protocol import Py4JError

    try:
        stack = [qe.executedPlan()]
    except Py4JError:  # a plan that failed to plan has no metrics
        return out
    seen = 0
    while stack and seen < 4096:
        node = stack.pop()
        seen += 1
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its subtree is counted where it first ran
        out["plan_nodes"] += 1
        metrics = node.metrics()
        for kv in _seq(metrics.toSeq()):
            name, val = kv._1(), int(kv._2().value())
            if name == "shuffleBytesWritten":
                out["shuffle_bytes"] += val
            elif name == "spillSize":
                out["spill_bytes"] += val
            elif name == "pythonBootTime":
                out["python_boot_ms"] += val
            elif name == "pythonTotalTime":
                out["python_run_ms"] += val
            elif name == "pythonDataSent":
                out["python_bytes_sent"] += val
        stack.extend(_seq(node.children()))
    return out


def gc_ms(spark) -> int:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(beans.get(i).getCollectionTime()) for i in range(beans.size()))


def stage_task_counts(spark, group: str) -> tuple:
    """(stages, tasks) of the jobs the status tracker holds for a group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return stages, tasks
