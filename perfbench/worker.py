"""One fresh benchmark process: start the session and run one trivial
action, then (main role) run the workload's cold pass and its warm
passes, and print a RESULT line.

Started by run.py, which times process start to the READY line (the
session is up and has run a job) as one set-up sample. The ``probe``
role stops right after READY.

Usage: worker.py --role {probe,main} --workload NAME --seed N
                 --seconds S --trace {0,1} --work DIR
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import time
from collections import Counter

# heavy imports are deferred so a set-up sample times interpreter start
# and session start only
T_START = time.perf_counter()

#: an operation slower than this counts as failed (latency limit)
OP_LIMIT_S = 60.0
LAYERS = ("client", "plans", "operators", "streaming", "pipeline")
STREAM_KEYS = ("batches", "data_batches", "input_rows", "addBatch_s", "queryPlanning_s",
               "latestOffset_s", "walCommit_s", "commitOffsets_s", "triggerExecution_s",
               "state_rows", "state_mem_mb", "state_commit_s")
PIPELINE_KEYS = ("extract_s", "parse_s", "assemble_s", "sinks.per_record_json_s",
                 "sinks.all_courses_json_s", "sinks.parquet_s", "calendar_s", "quarantine_s",
                 "docs_in", "courses_out", "quarantined", "files_written", "bytes_written",
                 "tasks", "span_gap_s")


def per_layer_metrics() -> list[dict]:
    """The traced run's metrics, in BENCHMARK.json's per_layer form."""
    import star

    names = ["session.get_spark_s", "session.first_action_s", "sources.scan_s",
             "sources.rows_read", "operators.storage_peak_mb", "plans.build_s",
             "plans.exec_s", "plans.jobs", "plans.stages", "plans.tasks", "plans.failed_tasks"]
    for op in star.LAYER_OF:
        names += [f"op.{op}.build_s", f"op.{op}.exec_s", f"op.{op}.tasks"]
    names += [f"streaming.{k}" for k in STREAM_KEYS]
    names += [f"pipeline.{k}" for k in PIPELINE_KEYS]
    names += ["trace.warm_pass_s", "trace.untraced_warm_pass_s", "trace.overhead_ratio"]
    names += [f"self.{layer}_s" for layer in LAYERS]
    out = []
    for n in names:
        if n.endswith("_s"):
            unit = "s"
        elif n.endswith("_mb"):
            unit = "MB"
        elif n.endswith("bytes_written"):
            unit = "bytes"
        elif n.endswith("ratio"):
            unit = "ratio"
        else:
            unit = "count"
        better = "higher" if n in ("pipeline.docs_in", "pipeline.courses_out") else "lower"
        out.append({"name": n, "unit": unit, "better": better})
    return out


class _Frame:
    """Hands an already-collected result to oracle_harness.compare."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 -- the DataFrame method compare calls
        return self._pdf


class Workload:
    """State shared by the passes of one run."""

    #: warm passes per run, at least: the first ones still run while the
    #: JIT compiles the hot paths, and the median of three is the middle
    #: pass
    min_warm_passes = 3

    def __init__(self, spark, args):
        from tracing import Tracer

        self.spark, self.args = spark, args
        self.tracer = Tracer(enabled=False)
        self.attempted = 0
        self.failures: list[str] = []
        self.op_latency: dict[str, list[float]] = {}  # warm passes only
        self.samples: list[dict] = []  # one dict of per-layer values per traced pass
        # cold pass, per operation
        self.heap_after_op_mb: dict[str, float] = {}
        self.storage_after_op_mb: dict[str, float] = {}

    def sample_heap(self, name: str) -> None:
        """Right after an operation and before the next one clears the
        cache, outside the timed region: the heap still in use after a
        full collection (everything the operation left live: persisted
        data, state stores, plan and shuffle metadata), and the block
        manager's storage memory in use (persisted blocks and
        broadcasts alone)."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        self.heap_after_op_mb[name] = heap.getUsed() / 2**20
        used = 0
        executors = self.spark.sparkContext._jsc.sc().getExecutorMemoryStatus().valuesIterator()
        while executors.hasNext():
            max_and_free = executors.next()
            used += max_and_free._1() - max_and_free._2()
        self.storage_after_op_mb[name] = used / 2**20

    def fail(self, what: str) -> None:
        self.failures.append(what[:400])

    def timed(self, name: str, layer: str, fn):
        """Run one operation; returns (result, seconds) or (None, None)
        when it raised or broke the latency limit."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer):
                out = fn()
        except Exception as exc:  # noqa: BLE001 -- every failure is counted and named
            self.fail(f"{name}: {type(exc).__name__}: {exc}")
            return None, None
        dt = time.perf_counter() - t0
        if dt > OP_LIMIT_S:
            self.fail(f"{name}: took {dt:.1f} s, over the {OP_LIMIT_S:.0f} s limit")
            return None, None
        return out, dt


class StarMix(Workload):
    def __init__(self, spark, args):
        super().__init__(spark, args)
        import star

        with open(os.path.join(args.work, "star_dir.txt"), encoding="utf-8") as fh:
            self.sf_dir = fh.read().strip()
        self.star = star
        self.specs = None
        self.oracles: dict = {}

    def run_pass(self, k: int, traced: bool) -> float | None:
        """One pass; returns its summed operation latency, or None when
        an operation failed."""
        import pandas as pd
        from tests.oracle_harness import compare

        total, ok = 0.0, True
        if self.specs is None:  # the cold pass pays the registry import
            t0 = time.perf_counter()
            from etl_upc_syllabus_spark.plans import all_specs

            self.specs = all_specs()
            total += time.perf_counter() - t0
        order = list(self.star.LAYER_OF)
        # the cold pass keeps the listed order so its one-time costs land
        # on the same operations in every run; warm passes are shuffled
        if k:
            random.Random(self.args.seed * 7919 + k).shuffle(order)
        jobs = stream = None
        if traced:
            from tracing import JobCounter, StreamProgress

            jobs, stream = JobCounter(self.spark), StreamProgress()
            self.spark.streams.addListener(stream)
        sample: Counter = Counter()
        try:
            for name in order:
                layer = self.star.LAYER_OF[name]
                self.spark.catalog.clearCache()
                t = {}

                def op():
                    t0 = time.perf_counter()
                    with self.tracer.span("build", layer):
                        df = self.specs[name].fn(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with self.tracer.span("exec", layer):
                        pdf = df.toPandas()
                    t["build"], t["exec"] = t1 - t0, time.perf_counter() - t1
                    return pdf

                pdf, dt = self.timed(name, layer, op)
                if dt is None:
                    ok = False
                    continue
                total += dt
                self.op_latency.setdefault(name, []).append(dt)
                if k == 0:
                    self.sample_heap(name)
                if traced:
                    counts = jobs.take()
                    sample[f"op.{name}.build_s"] = t["build"]
                    sample[f"op.{name}.exec_s"] = t["exec"]
                    sample[f"op.{name}.tasks"] = counts["tasks"]
                    sample["plans.build_s"] += t["build"]
                    sample["plans.exec_s"] += t["exec"]
                    for key in ("jobs", "stages", "tasks", "failed_tasks"):
                        sample[f"plans.{key}"] += counts[key]
                if name not in self.oracles:
                    self.oracles[name] = pd.read_parquet(self.star.oracle_path(self.sf_dir, name))
                try:
                    compare(_Frame(pdf), self.oracles[name], name)
                except AssertionError as exc:
                    self.fail(f"{name}: wrong result: {exc}")
                    ok = False
        finally:
            if traced:
                self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                self.spark.streams.removeListener(stream)
        if traced:
            sample.update({f"streaming.{k}": v for k, v in stream.take().items()})
            self.samples.append(dict(sample))
        return total if ok else None

    def scan_inputs(self) -> tuple[float, int]:
        from etl_upc_syllabus_spark.sources.tables import load_table
        from tracing import JobCounter

        jobs = JobCounter(self.spark)
        t0 = time.perf_counter()
        for name in self.star.TABLES:
            load_table(self.spark, self.sf_dir, name).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        return dt, jobs.take()["input_rows"]


class SyllabusEtl(Workload):
    #: a pass is several seconds of per-document work, so two fill the
    #: measured time
    min_warm_passes = 2

    def __init__(self, spark, args):
        super().__init__(spark, args)
        with open(os.path.join(args.work, "syllabus_manifest.json"), encoding="utf-8") as fh:
            self.manifest = json.load(fh)
        self.raw = os.path.join(args.work, "syllabus_raw")
        self.out = os.path.join(args.work, "syllabus_out")

    def run_pass(self, k: int, traced: bool) -> float | None:
        import syllabus
        from etl_upc_syllabus_spark.__main__ import main as cli_main

        shutil.rmtree(self.out, ignore_errors=True)
        self.spark.catalog.clearCache()
        counts: Counter = Counter()
        jobs = None
        if traced:
            from tracing import JobCounter, pipeline_spans

            jobs = JobCounter(self.spark)
            hooks = pipeline_spans(self.tracer, counts)
        else:
            hooks = contextlib.nullcontext()
        first_span = len(self.tracer.spans)
        with hooks, contextlib.redirect_stdout(io.StringIO()):
            rc, dt = self.timed("cli_main", "pipeline", lambda: cli_main([self.raw, self.out]))
        if dt is None:
            return None
        self.op_latency.setdefault("cli_main", []).append(dt)
        if k == 0:
            self.sample_heap("cli_main")
        problems = [f"exit code {rc}"] if rc != 0 else syllabus.check_output(self.out, self.manifest)
        for p in problems:
            self.fail(f"cli_main: wrong result: {p}")
        if traced:
            sample = {f"pipeline.{k}": float(v) for k, v in counts.items()}
            stages = [s for s in self.tracer.spans[first_span:] if s.name.startswith("pipeline.")]
            for s in stages:
                key = f"{s.name}_s"
                sample[key] = sample.get(key, 0.0) + s.end - s.start
            sample["pipeline.span_gap_s"] = dt - sum(s.end - s.start for s in stages)
            sample["pipeline.tasks"] = float(jobs.take()["tasks"])
            files = [os.path.join(d, f) for d, _, fs in os.walk(self.out) for f in fs]
            sample["pipeline.files_written"] = float(len(files))
            sample["pipeline.bytes_written"] = float(sum(os.path.getsize(f) for f in files))
            self.samples.append(sample)
        return None if problems else dt

    def scan_inputs(self) -> tuple[float, int]:
        from etl_upc_syllabus_spark.pipeline.extract import read_syllabus_pdfs
        from tracing import JobCounter

        jobs = JobCounter(self.spark)
        t0 = time.perf_counter()
        df = read_syllabus_pdfs(self.spark, self.raw)
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        return dt, jobs.take()["input_rows"]


WORKLOADS = {"star_mix": StarMix, "syllabus_etl": SyllabusEtl}


def run_main(spark, args) -> dict:
    from statistics import median

    from tracing import self_time_by_layer

    w = WORKLOADS[args.workload](spark, args)
    # the cold pass also samples the retained heap after each operation:
    # fixed work, unlike the warm phase whose pass count depends on the
    # host's speed
    cold = w.run_pass(0, traced=False)
    cold_op_s = {name: v[0] for name, v in w.op_latency.items()}
    traced_passes: list[float] = []
    untraced: list[float] = []
    scan = None
    if args.trace:
        scan = w.scan_inputs()
    w.op_latency.clear()
    deadline = time.perf_counter() + args.seconds

    def more() -> bool:
        if time.perf_counter() < deadline:
            return True
        if w.failures:
            return False
        if args.trace:  # both traced and untraced passes run at least once
            return not (traced_passes and untraced)
        return len(untraced) < w.min_warm_passes

    k = 1
    while more():
        traced = bool(args.trace) and k % 2 == 1
        w.tracer.enabled = traced
        first_span = len(w.tracer.spans)
        with w.tracer.span("pass", "client"):
            dt = w.run_pass(k, traced)
        k += 1
        if dt is None:  # failed passes are counted in failures, not timed
            continue
        if traced:
            traced_passes.append(dt)
            w.samples[-1].update({f"self.{layer}_s": v for layer, v in
                                  self_time_by_layer(w.tracer.spans, first_span).items()})
        else:
            untraced.append(dt)
    result = {
        "attempted": w.attempted, "failures": w.failures, "cold_pass_s": cold,
        "warm_pass_s": untraced, "cold_op_s": cold_op_s, "op_latency": w.op_latency,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "heap_after_op_mb": w.heap_after_op_mb, "storage_after_op_mb": w.storage_after_op_mb,
        "peak_rss_mb": jvm_peak_rss_mb(spark),
    }
    if args.trace:
        with open(os.path.join(args.work, "logs", "spans.json"), "w", encoding="utf-8") as fh:
            json.dump([vars(s) for s in w.tracer.spans], fh)
        keys = {m["name"] for m in per_layer_metrics()}
        layer = {k: median([s.get(k, 0.0) for s in w.samples]) for k in keys}
        layer["sources.scan_s"], layer["sources.rows_read"] = scan[0], float(scan[1])
        layer["operators.storage_peak_mb"] = max(w.storage_after_op_mb.values())
        layer["trace.warm_pass_s"] = median(traced_passes)
        layer["trace.untraced_warm_pass_s"] = median(untraced)
        layer["trace.overhead_ratio"] = median(traced_passes) / median(untraced) - 1.0
        result["per_layer"] = layer
    return result


def jvm_peak_rss_mb(spark) -> float:
    """The Spark JVM's resident-set high-water mark. It moves with
    garbage-collection timing from run to run, so it is reported for
    reference only."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:")) / 1024.0


def stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("probe", "main"), required=True)
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    from etl_upc_syllabus_spark.session import get_spark

    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    spark.range(1).count()
    t_ready = time.perf_counter()
    print(f"READY {t_ready - T_START:.6f}", flush=True)
    try:
        if args.role == "main":
            spark.sparkContext.setLogLevel("ERROR")
            result = run_main(spark, args)
            if args.trace:
                result["per_layer"]["session.get_spark_s"] = t_session - T_START
                result["per_layer"]["session.first_action_s"] = t_ready - t_session
            print("RESULT " + json.dumps(result), flush=True)
    finally:
        stop(spark)


if __name__ == "__main__":
    main()
