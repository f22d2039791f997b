"""Spans and per-layer instruments for the traced run.

Everything here observes the engine from outside: job and task counts
from Spark's status store, micro-batch phases from a
StreamingQueryListener, and pipeline-stage spans from wrappers that are
installed around the pipeline modules' functions for the length of one
traced pass. No engine code changes; the untraced passes run none of
this.
"""

from __future__ import annotations

import contextlib
import math
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """In-memory span recorder; spans of one pass share the pass span
    as their root. ``enabled=False`` makes every call a no-op so the
    untraced timing path runs the same code."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), math.nan, parent))
        sid = len(self.spans) - 1
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()


def self_time_by_layer(spans: list[Span], first: int = 0) -> dict[str, float]:
    """Self time per layer of ``spans[first:]``: a span's duration minus
    what its direct children cover. Parents are indexes into ``spans``."""
    child_time = [0.0] * len(spans)
    for s in spans[first:]:
        if s.parent is not None:
            child_time[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for i in range(first, len(spans)):
        s = spans[i]
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child_time[i]
    return out


_PHASES = ("addBatch", "queryPlanning", "latestOffset", "walCommit",
           "commitOffsets", "triggerExecution")


class JobCounter:
    """Jobs, stages, tasks and rows read from input sources since the
    last ``take()``.

    Jobs are numbered consecutively by the scheduler, so the jobs of one
    operation are the ids between two reads of the job total; that
    includes the jobs stream queries launch from their own threads.
    ``input_rows`` sums the input records of each job's stages as the
    scans themselves counted them."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()
        self._mark = self._sc.dagScheduler().numTotalJobs()

    def take(self) -> Counter:
        self._sc.listenerBus().waitUntilEmpty()
        end = self._sc.dagScheduler().numTotalJobs()
        store = self._sc.statusStore()
        out: Counter = Counter()
        for job_id in range(self._mark, end):
            job = store.job(job_id)
            out["jobs"] += 1
            out["stages"] += job.numCompletedStages()
            out["tasks"] += job.numCompletedTasks()
            out["failed_tasks"] += job.numFailedTasks()
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                out["input_rows"] += store.lastStageAttempt(stage_ids.apply(i)).inputRecords()
        self._mark = end
        return out


class StreamProgress(StreamingQueryListener):
    """Sums the micro-batch progress reports of every stream query."""

    def __init__(self):
        self.totals: Counter = Counter()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        t = self.totals
        t["batches"] += 1
        t["data_batches"] += 1 if p.numInputRows > 0 else 0
        t["input_rows"] += p.numInputRows
        for phase in _PHASES:
            t[f"{phase}_s"] += p.durationMs.get(phase, 0) / 1000.0
        for op in p.stateOperators:
            t["state_commit_s"] += op.commitTimeMs / 1000.0
        # state size as of each query's last batch: keep the latest
        t[f"_rows:{p.runId}"] = sum(op.numRowsTotal for op in p.stateOperators)
        t[f"_mem:{p.runId}"] = sum(op.memoryUsedBytes for op in p.stateOperators)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> dict[str, float]:
        t, self.totals = self.totals, Counter()
        out = {k: float(v) for k, v in t.items() if not k.startswith("_")}
        out["state_rows"] = float(sum(v for k, v in t.items() if k.startswith("_rows:")))
        out["state_mem_mb"] = sum(v for k, v in t.items() if k.startswith("_mem:")) / 2**20
        return out


#: (module, function, span name, whether the result is a DataFrame to
#: materialize inside the span)
_PIPELINE_STAGES = (
    ("extract", "extract_documents", "extract", True),
    ("assemble", "parse_documents", "parse", True),
    ("assemble", "split_quarantine", "quarantine", True),
    ("assemble", "enrich_dates", "assemble", True),
    ("sinks", "write_per_record_json", "sinks.per_record_json", False),
    ("sinks", "write_all_courses_json", "sinks.all_courses_json", False),
    ("sinks", "write_courses_parquet", "sinks.parquet", False),
    ("calendar", "render_pdf", "calendar", False),
)


@contextlib.contextmanager
def pipeline_spans(tracer: Tracer, counts: Counter):
    """Wrap the CLI's stage functions so each one runs inside a span.

    Spark defers work to the first action, so a lazy stage is persisted
    and counted inside its span; that split of the fused plan is part of
    the tracing overhead the traced run reports. Row counts land in
    ``counts`` (docs_in, quarantined, courses_out)."""
    from etl_upc_syllabus_spark.pipeline import assemble, calendar, extract, sinks

    modules = {"extract": extract, "assemble": assemble, "sinks": sinks, "calendar": calendar}
    saved = []

    def wrap(fn, name, materialize):
        def wrapped(*args, **kwargs):
            with tracer.span(f"pipeline.{name}", "pipeline"):
                out = fn(*args, **kwargs)
                if not materialize:
                    return out
                if name == "quarantine":
                    good, bad = out
                    bad = bad.persist()
                    counts["quarantined"] += bad.count()
                    return good, bad
                out = out.persist()
                rows = out.count()
                if name == "extract":
                    counts["docs_in"] += rows
                elif name == "assemble":
                    counts["courses_out"] += rows
                return out
        return wrapped

    try:
        for mod, fn_name, name, materialize in _PIPELINE_STAGES:
            fn = getattr(modules[mod], fn_name)
            saved.append((modules[mod], fn_name, fn))
            setattr(modules[mod], fn_name, wrap(fn, name, materialize))
        yield
    finally:
        for module, fn_name, fn in saved:
            setattr(module, fn_name, fn)
