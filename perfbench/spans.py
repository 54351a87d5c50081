"""Span tracing around the engine's public entry points, plus per-op
Spark accounting read back from the session's status store.

The tracer wraps module attributes and class methods of the package from
the outside (the package itself is not modified): each wrapped call
records a span (name, start, end, parent, op id).  ``Tracer.op`` labels
one benchmark operation's Spark jobs with a job group and, after it
returns, reads those jobs' stage metrics and their SQL executions' node
metrics (Python-worker time and bytes, broadcast size) from the status
store, which Spark keeps even with the UI off.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (owner path, attribute, span name): the entry points some per-layer
# metric reads, and the children that the self time of ``session.search``
# and ``session.write`` subtracts.  Module attributes are patched where
# the caller resolves them: session.py imports compile_filter,
# topk_per_query and brute_force_knn by name, so those are patched on the
# session module, not on their defining modules.
SESSION = "fabstir_vectordb_spark.session"
TARGETS = [
    (f"{SESSION}:VectorDbSession", "search", "session.search"),
    (f"{SESSION}:VectorDbSession", "batch_add_vectors", "session.write"),
    (f"{SESSION}:VectorDbSession", "batch_delete", "session.write"),
    (f"{SESSION}:VectorDbSession", "batch_update_metadata", "session.write"),
    (f"{SESSION}:VectorDbSession", "from_dataframe", "session.from_dataframe"),
    (f"{SESSION}:VectorDbSession", "_refresh_assigned", "session.refresh_assigned"),
    (SESSION, "compile_filter", "filters.compile"),
    (SESSION, "topk_per_query", "topk.construct"),
    (SESSION, "brute_force_knn", "knn.brute_force"),
    ("fabstir_vectordb_spark.operators.cache:QueryResultCache", "get", "cache.get"),
    ("fabstir_vectordb_spark.operators.ivf:IVFIndex", "fit", "ivf.fit"),
    ("fabstir_vectordb_spark.operators.ivf:IVFIndex", "search", "ivf.search"),
    ("fabstir_vectordb_spark.operators.ivfpq:IVFPQIndex", "fit", "ivfpq.fit"),
    ("fabstir_vectordb_spark.operators.ivfpq:IVFPQIndex", "encode", "ivfpq.encode"),
    ("pyspark.sql.classic.dataframe:DataFrame", "collect", "spark.collect"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    result: object = None  # only kept for cache lookups (hit / miss)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class OpRecord:
    op: int
    name: str
    jobs: int = 0
    shuffle_bytes: float = 0.0
    result_bytes: float = 0.0
    node: dict = field(default_factory=dict)  # SQL metric name -> summed value


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: dict[int, OpRecord] = {}
        self._stack: list[int] = []
        self._op: int | None = None
        self._n_ops = 0
        self._saved: list[tuple[object, str, object]] = []
        self._seen_execs = 0

    # ------------------------------------------------------------ patching

    def install(self) -> None:
        installed = {(owner, attr) for owner, attr, _ in self._saved}
        for owner_path, attr, name in TARGETS:
            owner = _resolve(owner_path)
            if (owner, attr) in installed:
                continue
            raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, raw))
            setattr(owner, attr, self._wrapped(raw, name))

    def uninstall(self) -> None:
        """Restore the originals."""
        for owner, attr, raw in self._saved:
            setattr(owner, attr, raw)
        self._saved = []

    def _wrapped(self, raw, name: str):
        kind = type(raw)
        fn = raw.__func__ if kind in (classmethod, staticmethod) else raw
        tracer = self
        keep_result = name == "cache.get"

        @functools.wraps(fn)
        def call(*args, **kwargs):
            idx = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
                if keep_result:
                    tracer.spans[idx].result = out is not None
                return out
            finally:
                tracer._close(idx)

        return kind(call) if kind in (classmethod, staticmethod) else call

    # --------------------------------------------------------------- spans

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    @contextmanager
    def op(self, name: str):
        """One benchmark operation: its spans share an op id and its
        Spark jobs share a job group."""
        self._n_ops += 1
        op_id = self._n_ops
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{op_id}", name, interruptOnCancel=False)
        self._op = op_id
        try:
            with self.span(f"op.{name}"):
                yield op_id
        finally:
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.ops[op_id] = self._read_spark(op_id, name)

    # -------------------------------------------------------- status store

    def _read_spark(self, op_id: int, name: str) -> OpRecord:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed by the asynchronous listener bus
        jsc.listenerBus().waitUntilEmpty(10_000)
        rec = OpRecord(op_id, name)
        jobs = set(sc.statusTracker().getJobIdsForGroup(f"perfbench-{op_id}"))
        rec.jobs = len(jobs)
        store = jsc.statusStore()
        for j in jobs:
            sids = store.job(j).stageIds()
            for i in range(sids.size()):
                sd = store.lastStageAttempt(sids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                rec.shuffle_bytes += sd.shuffleWriteBytes()
                rec.result_bytes += sd.resultSize()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = int(sql.executionsCount())
        if total > self._seen_execs:
            execs = sql.executionsList(self._seen_execs, total - self._seen_execs)
            for i in range(execs.size()):
                e = execs.apply(i)
                keys, ids = e.jobs().keysIterator(), set()
                while keys.hasNext():
                    ids.add(int(keys.next()))
                if ids & jobs:
                    self._add_sql(rec, sql, e.executionId())
            self._seen_execs = total
        return rec

    @staticmethod
    def _add_sql(rec: OpRecord, sql, exec_id) -> None:
        values = sql.executionMetrics(exec_id)
        nodes = sql.planGraph(exec_id).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                v = values.get(metric.accumulatorId())
                if not v.isDefined():
                    continue
                key = f"{node.name()}|{metric.name()}"
                rec.node[key] = rec.node.get(key, 0.0) + parse_metric(v.get())


_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric as a number in base units (bytes, seconds
    or a plain count).  Task-aggregated metrics print
    'total (min, med, max ...)' on the first line and the values on the
    second; the total is the first figure there."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# ------------------------------------------------------------ span analysis

def self_time(spans: list[Span], idx: int, children: dict[int, list[int]]) -> float:
    """Span duration minus the union of its children's intervals."""
    s = spans[idx]
    ivs = sorted((spans[c].start, spans[c].end) for c in children.get(idx, []))
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in ivs:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return s.dur - covered


def children_of(spans: list[Span]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            out.setdefault(s.parent, []).append(i)
    return out


def descendants(idx: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children.get(idx, []))
    while todo:
        c = todo.pop()
        out.append(c)
        todo.extend(children.get(c, []))
    return out


def node_metric(rec: OpRecord, name: str, node_prefix: str | None = None) -> float:
    """Sum of one SQL metric over the op's plan nodes."""
    return sum(
        v for k, v in rec.node.items()
        if k.endswith("|" + name) and (node_prefix is None or k.startswith(node_prefix))
    )
