"""In-memory span tracer with Spark status-store deltas.

A span records ``name, id, parent, root, req, t0, t1`` and, when tracing is
on, the Spark work done while it was open: the jobs and stages whose ids
appeared during the span, read from the AppStatusStore (the store
``sphinxsearchengine_spark.metrics`` reads; populated with the UI off).
Spans stay in memory and are written out once, at the end of the run.

With tracing off, ``span`` is a no-op context, so the untraced run
measures the engine alone.  The tracer's own bookkeeping (listener-bus
drain + store reads) is timed: that is its self-time, not the whole
difference between a traced and an untraced run, since a drain that
blocks can also delay the engine's next call.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from sphinxsearchengine_spark.metrics import _drain_listener_bus, _store

SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
    "input_bytes", "input_records", "output_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._seen_jobs = self._seen_stages = -1
        if enabled:
            self._advance()

    def _advance(self) -> dict:
        """Spark work of the jobs and stages started since the last call."""
        _drain_listener_bus(self.spark)
        tracker = self.spark.sparkContext._jsc.statusTracker()
        store = _store(self.spark)
        out = dict.fromkeys(SPARK_KEYS, 0)
        jobs = [j for j in tracker.getJobIdsForGroup(None) if j > self._seen_jobs]
        out["jobs"] = len(jobs)
        self._seen_jobs = max(jobs, default=self._seen_jobs)
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(s for s in info.stageIds() if s > self._seen_stages)
        self._seen_stages = max(stage_ids, default=self._seen_stages)
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted: not in the store
                continue
            if s.numCompleteTasks() == 0:
                continue  # skipped (reused shuffle output)
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["jvm_gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_write_records"] += s.shuffleWriteRecords()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["input_bytes"] += s.inputBytes()
            out["input_records"] += s.inputRecords()
            out["output_bytes"] += s.outputBytes()
        return out

    @contextmanager
    def span(self, name: str, req: int | None = None):
        """Time the block; when tracing, attach the Spark work it did.

        Work is attributed to the innermost open span: a parent's Spark
        numbers cover only what ran outside its children.
        """
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._attribute(parent)  # at top level: drop work done outside spans
        self._stack.append(sid)
        root = self.spans[parent - 1]["root"] if parent else sid
        rec = {"id": sid, "parent": parent, "root": root, "req": req, "name": name,
               "spark": dict.fromkeys(SPARK_KEYS, 0)}
        self.spans.append(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            self._attribute(sid)
            self._stack.pop()

    def _attribute(self, sid: int | None) -> None:
        t = time.perf_counter()
        work = self._advance()
        if sid is not None:
            rec = self.spans[sid - 1]
            for k, v in work.items():
                rec["spark"][k] += v
        self.overhead_s += time.perf_counter() - t

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)
