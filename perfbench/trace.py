"""Benchmark-side tracing: spans around calls into each layer's public
functions, plus Spark's own stage counters and streaming progress.

Nothing in the program is edited. `Tracer.install()` swaps every
binding of the wrapped functions — the defining module's attribute and
each `from ... import name` copy that an engine module took at import
(operator modules bind `cached`, `checkpoint_truncate`, `load_table`
and `run_to_memory` that way) — for a wrapper that records a span, and
`uninstall()` puts the originals back. Spans (name, start, end,
parent) stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

# (defining module, function, span name)
WRAPPED = (
    ("capstone_etl_spark.sources.tables", "load_table", "sources.load_table"),
    ("capstone_etl_spark.sources.dictionary", "load_dictionary", "sources.load_dictionary"),
    ("capstone_etl_spark.session", "cached", "session.cached"),
    ("capstone_etl_spark.session", "checkpoint_truncate", "session.checkpoint_truncate"),
    ("capstone_etl_spark.session", "release_caches", "session.release_caches"),
    ("capstone_etl_spark.streaming.runner", "run_to_memory", "streaming.run_to_memory"),
    ("capstone_etl_spark.streaming.source", "stage_events", "streaming.stage_events"),
    ("capstone_etl_spark.sinks.writers", "write_parquet", "sinks.write_parquet"),
    ("capstone_etl_spark.sinks.writers", "write_collection", "sinks.write_collection"),
)

STAGE_FIELDS = (
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    pass_no: int
    jobs: int = 0  # Spark jobs started inside the span (benchmark-level spans only)


class NullTracer:
    """Untraced passes: same call sites, no recording."""

    def span(self, name: str, count_jobs: bool = False):
        return nullcontext()


class Tracer(NullTracer):
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.pass_no = 0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._seen_stages: set[tuple[int, int]] = set()
        self.progress = StreamProgress()

    # ---- spans
    def jobs_started(self) -> int:
        return self.spark._jsc.sc().statusStore().jobsList(None).size()

    @contextmanager
    def span(self, name: str, count_jobs: bool = False):
        parent = self._stack[-1] if self._stack else -1
        sp = Span(name, time.perf_counter(), 0.0, parent, self.pass_no)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        jobs0 = self.jobs_started() if count_jobs else 0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if count_jobs:
                sp.jobs = self.jobs_started() - jobs0
            self._stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, attr, name in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(orig, name)
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "")
                if not (mname.startswith("capstone_etl_spark") or mname == "__spark_entry__"):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapper)
                        self._patched.append((mod, key, orig))
        self.spark.streams.addListener(self.progress)

    def uninstall(self) -> None:
        while self._patched:
            mod, key, orig = self._patched.pop()
            setattr(mod, key, orig)
        self.spark.streams.removeListener(self.progress)

    # ---- per-pass aggregates
    def pass_spans(self, pass_no: int) -> list[Span]:
        return [s for s in self.spans if s.pass_no == pass_no]

    def stage_totals(self) -> dict[str, float]:
        """Sums over stages finished since the last call, from the
        stage-level task metrics (executorRunTime/executorCpuTime are
        summed task time, unlike the executor summary's busy wall)."""
        spark = self.spark
        jvm = spark._jvm
        stages = spark._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            spark.sparkContext._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            key = (s.stageId(), s.attemptId())
            status = s.status().toString()
            if key in self._seen_stages or status in ("ACTIVE", "PENDING"):
                continue
            self._seen_stages.add(key)
            if status == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks()
            tot["task_run_s"] += s.executorRunTime() / 1e3
            tot["task_cpu_s"] += s.executorCpuTime() / 1e9
            tot["input_bytes"] += s.inputBytes()
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.diskBytesSpilled()
            tot["gc_s"] += s.jvmGcTime() / 1e3
        return tot


def self_times(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Self time per pass and span name: a span's duration minus the
    part of it its child spans cover (children of one parent never
    overlap: the calls run one after another on one thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent >= 0:
            child[s.parent] += s.end - s.start
    out: dict[int, dict[str, float]] = {}
    for i, s in enumerate(spans):
        per_pass = out.setdefault(s.pass_no, {})
        per_pass[s.name] = per_pass.get(s.name, 0.0) + (s.end - s.start) - child[i]
    return out


class StreamProgress(StreamingQueryListener):
    """Micro-batch phase durations and state size from
    `StreamingQueryListener` progress events."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.batches = 0
            self.duration_ms: dict[str, float] = {}
            self.state_rows: dict[str, int] = {}
            self.state_mem_bytes = 0
            self.terminated = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches += 1
            for k, v in (p.durationMs or {}).items():
                self.duration_ms[k] = self.duration_ms.get(k, 0.0) + v
            ops = p.stateOperators or []
            self.state_rows[str(p.id)] = sum(o.numRowsTotal for o in ops)
            self.state_mem_bytes = max(self.state_mem_bytes, sum(o.memoryUsedBytes for o in ops))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def wait_terminated(self, n: int, timeout: float = 10.0) -> None:
        """Progress events arrive on the listener bus after the query
        returns; wait until all `n` queries have reported."""
        end = time.monotonic() + timeout
        while self.terminated < n and time.monotonic() < end:
            time.sleep(0.05)
