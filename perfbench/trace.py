"""Spans around the package's public calls, and the Spark status-store reader
that turns each span's SQL executions into per-layer counts.

Spans are recorded by the benchmark, never inside the program: each one is
(name, layer, pass, start, end, parent). ``Tracer(enabled=False)`` records
nothing, so the timed passes of an untraced run carry no bookkeeping.

After each pass the reader drains Spark's listener bus and reads every new
SQL execution from the SQL status store
(``spark._jsparkSession.sharedState().statusStore()``): its plan-graph node
metrics (scan, write, Python UDF, broadcast and join nodes) and the stage
metrics of its stages from the app status store (executor run and CPU time,
GC, shuffle, spill). Each execution is charged to the innermost span whose
interval holds its submission time.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_NUM = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)$")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value in base units (count, bytes or ms).

    Spark renders values as ``1,000``, ``8.5 KiB``, ``1.3 s`` or, for
    per-task metrics, ``total (min, med, max (...))\\n<total> (<...>)``."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    m = _NUM.match(text)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


@dataclass
class Span:
    name: str
    layer: str
    pass_id: int
    start: float
    end: float = 0.0
    parent: int | None = None


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, self.pass_id, time.time(), parent=parent)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()


@dataclass
class Execution:
    id: int
    submitted: float                       # epoch seconds
    jobs: int
    stages: dict = field(default_factory=dict)   # stage metric -> sum
    nodes: dict = field(default_factory=dict)    # per-layer node metric -> sum


def _node_counts(name: str, desc: str, m: dict, out: dict) -> None:
    """Fold one plan-graph node's metrics into per-layer sums."""
    def add(key, value):
        out[key] = out.get(key, 0.0) + value

    if name.startswith("Scan "):
        add("scan_rows", parse_metric(m.get("number of output rows")))
        add("scan_bytes", parse_metric(m.get("size of files read")))
        add("files_read", parse_metric(m.get("number of files read")))
    elif name.startswith("Execute InsertInto"):
        add("rows_written", parse_metric(m.get("number of output rows")))
        add("bytes_written", parse_metric(m.get("written output")))
        add("files_written", parse_metric(m.get("number of written files")))
        add("task_commit_ms", parse_metric(m.get("task commit time")))
        add("job_commit_ms", parse_metric(m.get("job commit time")))
    elif name in ("ArrowEvalPython", "BatchEvalPython"):
        udf = ("json_payload" if "canonicalize_json" in desc
               else "chem" if "smiles" in desc or "inchi" in desc else "other")
        add(f"udf_rows.{udf}", parse_metric(m.get("number of output rows")))
        add("python_udf_ms", parse_metric(m.get("time to run Python workers")))
    elif name == "BroadcastExchange":
        add("broadcast_bytes", parse_metric(m.get("data size")))
        add("broadcast_collect_ms", parse_metric(m.get("time to collect")))
    elif name == "BroadcastHashJoin" or name == "BroadcastNestedLoopJoin":
        add("broadcast_joins", 1)
    elif name == "SortMergeJoin":
        add("sort_merge_joins", 1)
    elif name == "ShuffledHashJoin":
        add("shuffled_hash_joins", 1)


class StatusReader:
    """Reads SQL executions newer than the last one it has seen.

    Status-store objects are serialized to JSON inside the JVM (Jackson, as
    Spark's REST API does), so each execution costs a few py4j calls plus
    one per stage instead of one per plan node and metric."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self.cc = jvm.scala.jdk.javaapi.CollectionConverters
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala, "MODULE$"))
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = spark.sparkContext._jsc.sc().statusStore()
        self.last_id = -1

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def _drain(self) -> list:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return list(self.cc.asJava(self.sql_store.executionsList()))

    def skip_existing(self) -> None:
        """Mark everything run so far (set-up, warm-up) as seen."""
        for e in self._drain():
            self.last_id = max(self.last_id, e.executionId())

    def read_new(self) -> list[Execution]:
        out = []
        for e in self._drain():
            eid = e.executionId()
            if eid <= self.last_id:
                continue
            ex = Execution(eid, e.submissionTime() / 1000.0, len(self._json(e.jobs())))
            for sid in self._json(e.stages()):
                try:
                    sd = self._json(self.app_store.lastStageAttempt(sid))
                except Py4JJavaError:      # stage evicted from the store
                    continue
                for key, value in (
                    ("stages", 1),
                    ("tasks", sd["numTasks"] if sd["status"] != "SKIPPED" else 0),
                    ("executor_run_ms", sd["executorRunTime"]),
                    ("executor_cpu_ms", sd["executorCpuTime"] / 1e6),
                    ("jvm_gc_ms", sd["jvmGcTime"]),
                    ("shuffle_write_bytes", sd["shuffleWriteBytes"]),
                    ("shuffle_read_bytes", sd["shuffleReadBytes"]),
                    ("spill_bytes", sd["memoryBytesSpilled"] + sd["diskBytesSpilled"]),
                ):
                    ex.stages[key] = ex.stages.get(key, 0.0) + value
            values = self._json(self.sql_store.executionMetrics(eid))
            todo = list(self._json(self.sql_store.planGraph(eid))["nodes"])
            while todo:                    # clusters (codegen stages) nest nodes
                node = todo.pop()
                todo.extend(node.get("nodes", []))
                metrics = {m["name"]: values.get(str(m["accumulatorId"]))
                           for m in node.get("metrics", [])}
                _node_counts(node["name"], node.get("desc", ""), metrics, ex.nodes)
            out.append(ex)
        if out:
            self.last_id = max(e.id for e in out)
        return out


def assign(spans: list[Span], executions: list[Execution]) -> dict[int, list[Execution]]:
    """Charge each execution to the innermost span holding its submission
    time (key -1: submitted outside every span)."""
    by_span: dict[int, list[Execution]] = {}
    for ex in executions:
        best, best_len = -1, float("inf")
        for i, s in enumerate(spans):
            if s.start <= ex.submitted <= (s.end or float("inf")):
                length = (s.end or float("inf")) - s.start
                if length < best_len:
                    best, best_len = i, length
        by_span.setdefault(best, []).append(ex)
    return by_span


def totals(executions: list[Execution]) -> dict[str, float]:
    out: dict[str, float] = {"sql_executions": float(len(executions)),
                             "jobs": float(sum(e.jobs for e in executions))}
    for e in executions:
        for src in (e.stages, e.nodes):
            for k, v in src.items():
                out[k] = out.get(k, 0.0) + float(v)
    return out


def persisted_bytes(spark) -> tuple[float, float]:
    """(memory, disk) bytes held by persisted RDDs right now."""
    mem = disk = 0.0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        mem += info.memSize()
        disk += info.diskSize()
    return mem, disk
