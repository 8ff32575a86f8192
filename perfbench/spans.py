"""In-memory span recorder for the traced benchmark run.

A span is one call into a layer, timed from the benchmark's side of
the boundary: name, start, end, parent span and the operation (query)
it belongs to, plus the Spark counters that moved while it was open and
the driver-local/distributed decisions ``net_spider_spark.sizing``
logged during it. Spans stay in memory and are written once, when the
run ends. The untraced run uses :class:`NullTracer`, whose spans cost
one context-manager entry and nothing else.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from net_spider_spark import metrics, sizing


def _executor_totals(spark) -> dict:
    """Cumulative task, shuffle and GC totals of the whole application
    from the executor summaries (one element in local mode, so a few
    py4j calls; never shrinks as old stages are evicted)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot = {"tasks": 0, "shuffle_bytes": 0}
    it = store.executorList(False).iterator()
    while it.hasNext():
        e = it.next()
        tot["tasks"] += e.completedTasks()
        tot["shuffle_bytes"] += e.totalShuffleWrite()
    tot["gc_ms"] = metrics.gc_time_ms(spark)
    return tot


def _spill_after(spark, watermark: int) -> tuple[int, int]:
    """(spilled bytes of stages with an ID above ``watermark``, highest
    stage ID seen). Stage IDs only grow, so summing the stages past a
    watermark counts exactly the stages run since it was taken."""
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    spill, top = 0, watermark
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        sid = s.stageId()
        if sid > watermark:
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
            top = max(top, sid)
    return spill, top


class NullTracer:
    """Tracing off: spans are no-ops."""

    enabled = False

    @contextmanager
    def span(self, name: str, qid=None):
        yield {}

    def op_counters(self):
        return None


class Tracer:
    """Tracing on: every span records its wall interval, parent,
    operation ID, executor counter deltas and sizing decisions."""

    enabled = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._stage_mark = _spill_after(spark, -1)[1]

    @contextmanager
    def span(self, name: str, qid=None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "qid": qid if qid is not None else (parent["qid"] if parent else None),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        before = _executor_totals(self.spark)
        n_dec = len(sizing.DECISION_LOG)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            after = _executor_totals(self.spark)
            rec["counters"] = {k: after[k] - before[k] for k in after}
            rec["decisions"] = list(sizing.DECISION_LOG[n_dec:])
            self._stack.pop()

    def op_counters(self) -> int:
        """Bytes spilled since the previous call (called once per
        operation, outside the timed spans: it walks the stage list)."""
        spill, self._stage_mark = _spill_after(self.spark, self._stage_mark)
        return spill

    def self_times(self) -> dict:
        """Span ID -> self time: duration minus the part of it that
        child spans cover (children are sequential, so their durations
        add up)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        return {
            s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            for s in self.spans
        }

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(dict(extra, spans=spans), f, default=str)
