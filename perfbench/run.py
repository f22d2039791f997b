"""Same-host benchmark of the engine's public entry points.

Run from the repository root:

    python3 perfbench/run.py --workload {star_mix,syllabus_etl} --seed N \
        --seconds S --trace {0,1}

Workloads (one closed-loop client; each operation starts when the
previous one returns):

- ``star_mix``: registry queries over the engine's sf0.01 fixtures
  scaled up twice by ``tools/gen_scale.py`` -- relational plans,
  LLM-data operators and stream drains -- in a seed-shuffled order
  every pass, each checked against its cached DuckDB oracle.
- ``syllabus_etl``: one ``python -m etl_upc_syllabus_spark raw out``
  call (``__main__.main``) per pass over a seeded corpus of syllabus
  PDFs, each output checked field by field against the generator's
  records.

A run builds its inputs under ``.perfbench_work/`` (the star dataset
and its oracles once per checkout, the corpus per seed), takes two
set-up samples in fresh processes (a probe, then the measuring
process), runs one cold pass and warm passes for ``--seconds``, and
prints a JSON info line followed by the result line. ``--trace 1``
reports the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import contextlib
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from worker import WORKLOADS, per_layer_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
#: syllabus PDFs per corpus
SYLLABUS_DOCS = 200
#: fresh processes timed to READY per run: one probe and the measuring
#: process (a third would cost the run about 13 s of its time budget)
SETUP_SAMPLES = 2
#: a run's processes must finish within this many seconds
RUN_DEADLINE_S = 170.0


def _env() -> dict[str, str]:
    env = dict(os.environ)
    for sub in ("tmp", "spark-local", "ckpt", "logs"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_STREAM_CKPT_DIR": os.path.join(WORK, "ckpt"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def _cpu_calibration() -> float:
    """Seconds for a fixed single-thread integer loop; tells host speed apart."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def _spawn(role: str, args, env: dict, deadline: float) -> tuple[float, float, dict | None]:
    """Start one worker and wait until it and every process it started
    have exited; returns (seconds from start to READY, seconds to exit,
    RESULT). A watchdog kills the worker's process group at the
    deadline."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--role", role,
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", WORK]
    log_path = os.path.join(WORK, "logs", f"{role}.log")
    with open(log_path, "w", encoding="utf-8") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env, text=True,
                                start_new_session=True)
        watchdog = threading.Timer(max(0.0, deadline - t0), _kill_group, (proc.pid,))
        watchdog.start()
        ready, result = None, None
        try:
            # the JVM inherits stdout, so EOF also means the JVM is gone
            for line in proc.stdout:
                if line.startswith("READY "):
                    ready = time.perf_counter() - t0
                elif line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
            proc.wait()
        finally:
            watchdog.cancel()
            _reap_group(proc)
    if proc.returncode != 0 or ready is None or (role == "main" and result is None):
        with open(log_path, encoding="utf-8") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"{role} worker failed (exit {proc.returncode})")
    return ready, time.perf_counter() - t0, result


def _kill_group(pgid: int) -> None:
    with contextlib.suppress(ProcessLookupError):
        os.killpg(pgid, signal.SIGKILL)


def _reap_group(proc: subprocess.Popen) -> None:
    """Wait until no process of the worker's session is left (its JVM
    and the JVM's Python workers), killing stragglers after 30 s."""
    if proc.poll() is None:
        _kill_group(proc.pid)
        proc.wait()
    give_up = time.perf_counter() + 30.0
    while time.perf_counter() < give_up:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    _kill_group(proc.pid)


def _inputs(args) -> dict:
    """Build this run's inputs; returns their rows and bytes."""
    import star
    import syllabus

    if args.workload == "star_mix":
        sf_dir, manifest = star.ensure_dataset(WORK, ROOT)
        with open(os.path.join(WORK, "star_dir.txt"), "w", encoding="utf-8") as fh:
            fh.write(sf_dir)
        return manifest["inputs"]
    corpus = syllabus.write_corpus(os.path.join(WORK, "syllabus_raw"), args.seed, SYLLABUS_DOCS)
    with open(os.path.join(WORK, "syllabus_manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(corpus, fh)
    return {"syllabus_pdfs": {"rows": corpus["docs"], "bytes": corpus["bytes"]}}


def end_to_end_metrics(setups: list[float], res: dict) -> dict:
    """The result line's metrics from the set-up samples and the
    measuring process's RESULT: medians of samples, the geometric mean
    of per-operation median latencies, and the share of operations
    that neither raised nor broke the latency limit nor gave a wrong
    result, and the most heap retained after any cold-pass operation."""
    per_op = [statistics.median(v) for v in res["op_latency"].values() if v]
    failed = len(res["failures"])
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_s": (res["cold_pass_s"], "s"),
        "warm_pass_s": (statistics.median(res["warm_pass_s"]), "s"),
        "op_geomean_s": (statistics.geometric_mean(per_op), "s"),
        "ok_ratio": ((res["attempted"] - failed) / res["attempted"], "ratio"),
        "heap_live_peak_mb": (max(res["heap_after_op_mb"].values()), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for needed in ("etl_upc_syllabus_spark/__main__.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"run from the repository root: {needed} not found", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    t_begin = time.perf_counter()
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")  # noqa: SIM115 -- held until exit
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print(f"another benchmark run is using {WORK}", file=sys.stderr)
        return 2
    env = _env()
    os.environ["TMPDIR"] = env["TMPDIR"]
    inputs = _inputs(args)
    deadline = t_begin + RUN_DEADLINE_S
    spawned = [_spawn("probe", args, env, deadline) for _ in range(SETUP_SAMPLES - 1)]
    spawned.append(_spawn("main", args, env, deadline))
    setups = [ready for ready, _, _ in spawned]
    res = spawned[-1][2]

    failed = len(res["failures"])
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": int(env["SPARK_GRAFT_CPUS"]), "default_parallelism": res["default_parallelism"],
        "loadavg": os.getloadavg(), "cpu_calibration_s": _cpu_calibration(),
        "inputs": inputs, "setup_samples_s": setups,
        "process_wall_s": [wall for _, wall, _ in spawned],
        "cold_pass_s": res["cold_pass_s"], "cold_op_s": res["cold_op_s"],
        "warm_passes_s": res["warm_pass_s"],
        "warm_op_median_s": {op: statistics.median(v) for op, v in res["op_latency"].items()},
        "heap_after_op_mb": res["heap_after_op_mb"],
        "storage_after_op_mb": res["storage_after_op_mb"], "jvm_peak_rss_mb": res["peak_rss_mb"],
        "failures": res["failures"], "run_wall_s": time.perf_counter() - t_begin,
    }
    print(json.dumps({"info": info}))
    if res["cold_pass_s"] is None or not res["warm_pass_s"]:
        print("no successful cold or warm pass: no metrics", file=sys.stderr)
        return 1
    if args.trace:
        metrics = {m["name"]: {"value": res["per_layer"][m["name"]], "unit": m["unit"]}
                   for m in per_layer_metrics()}
    else:
        metrics = end_to_end_metrics(setups, res)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
