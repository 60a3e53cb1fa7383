"""Spans around the calls the benchmark makes into the engine's layers.

Spans live in memory while a pass runs: name, start, end, parent span and
the id of the benchmark op (one query, one drain, one stream) that caused
them.  Each span runs under its own Spark job group, so the jobs a layer
launches can be counted from ``statusTracker`` once the listener bus has
drained.  ``Tracer.install`` swaps the listed callables for wrappers in
every loaded engine module that holds them and ``uninstall`` puts the
originals back; the engine itself is not edited.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from dataclasses import asdict, dataclass, field

PKG = "vertica_hadoop_integration__spark"

# (layer, module, attribute) — a dotted attribute is a method on a class.
TARGETS = [
    ("pipeline", "pipeline", "run_incremental"),
    ("pipeline", "pipeline", "enqueue_pending"),
    ("pipeline", "pipeline", "backup_partition"),
    ("ledger", "ledger", "Ledger.__init__"),
    ("ledger", "ledger", "Ledger.next_pending"),
    ("ledger", "ledger", "Ledger.pending_exists"),
    ("ledger", "ledger", "Ledger.mark_complete"),
    ("ledger", "ledger", "Ledger.enqueue_new"),
    ("ledger", "ledger", "Ledger.enqueue_whole_table"),
    ("locking", "locking", "FileLock.acquire"),
    ("readers", "sources.readers", "load_table"),
    ("writers", "sources.writers", "write_atomic"),
    ("jdbc", "sources.jdbc", "write_jdbc_atomic"),
    ("jdbc", "sources.jdbc", "read_partitioned"),
    ("streaming", "streaming.loader", "stream_load"),
]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0
    jobs: int = 0
    group: str = field(default="", repr=False)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._swapped: list[tuple[object, str, object]] = []
        self.op: str | None = None

    # -- spans ---------------------------------------------------------------
    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` under its own job group."""
        span = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1] if self._stack else None,
            op=self.op,
            start=time.perf_counter(),
        )
        span.group = f"perfbench-span-{span.id}"
        self.spans.append(span)
        self._stack.append(span.id)
        prev = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setLocalProperty("spark.jobGroup.id", span.group)
        try:
            return fn(*args, **kwargs)
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", prev)
            self._stack.pop()
            span.end = time.perf_counter()

    def count_jobs(self) -> None:
        """Fill in ``jobs`` for every span.  Job-start events reach the
        status store through the asynchronous listener bus, so drain it
        first or a job that just finished may not be listed yet."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for span in self.spans:
            span.jobs = len(tracker.getJobIdsForGroup(span.group))

    # -- wrapping ------------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(name, fn, *args, **kwargs)

        return traced

    def install(self) -> None:
        for layer, module, attr in TARGETS:
            mod = importlib.import_module(f"{PKG}.{module}")
            label = f"{layer}.{attr.rsplit('.', 1)[-1].strip('_')}"
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._swap(cls, meth, orig, self._wrap(label, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(label, orig)
            # every module that did `from .x import f` holds its own binding
            for mname, m in list(sys.modules.items()):
                if not mname.startswith(PKG) or m is None:
                    continue
                for key, val in list(vars(m).items()):
                    if val is orig:
                        self._swap(m, key, orig, wrapped)

    def _swap(self, owner, key: str, orig, new) -> None:
        setattr(owner, key, new)
        self._swapped.append((owner, key, orig))

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._swapped):
            setattr(owner, key, orig)
        self._swapped.clear()

    # -- summaries -----------------------------------------------------------
    def self_times(self, spans: list[Span]) -> dict[int, float]:
        """Span duration minus the part its direct children cover."""
        own = {s.id: s.end - s.start for s in spans}
        for s in spans:
            if s.parent in own:
                own[s.parent] -= s.end - s.start
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec.pop("group")
                fh.write(json.dumps(rec) + "\n")


def plan_metrics(df) -> dict[str, int]:
    """Shuffle and Python-boundary SQL metrics of ``df``'s executed plan,
    read after the action that ran it.  Walks through adaptive plans and
    their query stages; reused exchanges and subqueries are not counted."""
    out = {"shuffle_bytes": 0, "python_rows": 0, "python_bytes_sent": 0,
           "python_bytes_received": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if cls.startswith("ShuffleExchange") and metrics.contains("dataSize"):
            out["shuffle_bytes"] += metrics.apply("dataSize").value()
        if metrics.contains("pythonDataSent"):
            out["python_bytes_sent"] += metrics.apply("pythonDataSent").value()
            out["python_bytes_received"] += metrics.apply("pythonDataReceived").value()
            out["python_rows"] += metrics.apply("pythonNumRowsReceived").value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out
