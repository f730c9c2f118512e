"""Benchmark of record for corhist_spark.

    python3 perfbench/run.py --workload kg_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed (cached under perfbench/.work/inputs), runs the workload, checks
its outputs and prints, as the last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is a JSON detail record (run
environment, workload-specific metrics, check results).  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# a run must end within 180 s; an untraced child run for the tracing
# overhead is started only while this many seconds are left for it
RUN_LIMIT_S = 172
CHILD_RUN_S = 75


def _environment(scratch: str) -> None:
    """Keep Spark's temporary files inside the checkout and let Python
    workers import the package."""
    local = os.path.join(scratch, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _calibrate() -> float:
    """Seconds of a fixed pure-Python loop: a reading of how fast this
    machine runs at the time of the run, to tell a slow machine from a
    slow program when comparing runs."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = [line for line in out.stderr.splitlines() if "version" in line]
    return lines[0] if lines else "unknown"


def _stop_jvm() -> None:
    """Stop the JVM that PySpark launched and wait for it to end: it
    exits when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def code_digest() -> str:
    """Digest of the code a run measures: the package, the benchmark and
    its catalogue."""
    h = hashlib.sha256()
    paths = glob.glob(os.path.join(ROOT, "corhist_spark", "**", "*.py"), recursive=True)
    paths += glob.glob(os.path.join(HERE, "*.py")) + [os.path.join(ROOT, "BENCHMARK.json")]
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _child_run(cmd: list[str], timeout: float) -> bool:
    """Run ``cmd`` in its own process group, which also holds the JVM it
    starts and that JVM's Python workers.  On timeout kill the group and
    wait until every process of it has ended."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout) == 0
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        while _group_alive(proc.pid):
            time.sleep(0.1)
        return False


def _untraced(args, record: str, started: float) -> dict | None:
    """Untraced set-up time and median latency to subtract from the
    traced run's: the record an untraced run of the same code, workload,
    seed and length left, else that of a child untraced run, if it still
    fits in the run's time limit (None when it does not)."""
    if not os.path.exists(record):
        left = RUN_LIMIT_S - (time.monotonic() - started)
        if left < CHILD_RUN_S:
            return None
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        # no record after a successful child: its run failed its checks
        if not _child_run(cmd, left) or not os.path.exists(record):
            return None
    with open(record) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    started = time.monotonic()

    catalogue_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "corhist_spark")):
        print("corhist_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    _environment(scratch)

    import pyspark

    from perfbench import inputs, measure, tracing, workloads

    catalogue = measure.load_catalogue(catalogue_path)
    if args.workload not in {w["name"] for w in catalogue["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    units = measure.metric_units(catalogue, trace)
    record = os.path.join(WORK, "records", f"{args.workload}-{args.seconds:g}-{args.seed}-{code_digest()}.json")

    data = inputs.ensure_inputs(WORK, args.workload, args.seed)
    calibration_s = _calibrate()
    tracer = tracing.Tracer(trace)
    ctx = workloads.Context(
        inputs=data,
        scratch=scratch,
        seconds=args.seconds,
        cores=len(os.sched_getaffinity(0)),
        tracer=tracer,
        extra_conf=tracing.event_log_conf(os.path.join(scratch, "eventlog")) if trace else None,
    )
    if trace:
        os.makedirs(os.path.join(scratch, "eventlog"))
    try:
        with measure.RssSampler(os.getpid()) as rss:
            run = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        _stop_jvm()
    e2e = measure.end_to_end(run.setup_s, run.cpu_s)
    latency_p50_ms = measure.median(run.latencies_ms)
    e2e_units = measure.metric_units(catalogue, False)
    untraced = None
    if trace:
        values = tracer.layer_metrics(os.path.join(scratch, "eventlog"))
        values["session.peak_rss_mb"] = rss.peak_mb
        untraced = _untraced(args, record, started)
        if untraced is not None:
            values["tracing.setup_overhead_s"] = run.setup_s - untraced["setup_s"]
            values["tracing.latency_overhead_ms"] = latency_p50_ms - untraced["latency_p50_ms"]
    else:
        values = e2e
        if run.correct:
            os.makedirs(os.path.dirname(record), exist_ok=True)
            with open(record, "w") as f:
                json.dump({**e2e, "latency_p50_ms": latency_p50_ms}, f)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "nproc": len(os.sched_getaffinity(0)),
        "calibration_s": calibration_s,
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "end_to_end": {k: {"value": v, "unit": e2e_units[k]} for k, v in e2e.items()},
        "latency_p50_ms": latency_p50_ms,
        "peak_rss_mb": rss.peak_mb,
        "failed_share": measure.failed_share(run.attempted, run.failed),
        "tracing_overhead_measured": trace and untraced is not None,
        **run.detail,
    }
    shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(measure.result_line(units, values, run.correct, run.attempted, run.failed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
