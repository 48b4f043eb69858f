"""Benchmark of the tier engine: one workload per invocation.

    python3 perfbench/run.py --workload incremental_hourly --seed 1 \\
        --seconds 10 --trace 0

Runs from the root of a source checkout; every file it writes lives
under ``.perfbench_work/<pid>/`` there and is removed at exit. A run
that is still going after :data:`DEADLINE_S` seconds stops with an
error instead of a result. Prints one
``name value unit`` line per metric, then, as the last line, a JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORK = os.path.join(WORK_ROOT, str(os.getpid()))
DEADLINE_S = 170

# session sized to the host it runs on: one local executor thread per usable
# core, a heap well below physical RAM, every scratch dir in the checkout
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "3g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment() -> None:
    """Point every temp / scratch location into the checkout before the
    JVM starts, and make the engine importable on Python workers."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def package_zip() -> str:
    """The engine package as a py-file zip, built inside the checkout
    (the engine's own helper caches it under /tmp)."""
    out = os.path.join(WORK, "s1tiling_spark.zip")
    with zipfile.ZipFile(out, "w") as zf:
        for root, _dirs, files in os.walk(os.path.join(ROOT, "s1tiling_spark")):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, ROOT))
    return out


def start_session():
    from s1tiling_spark import session as session_mod

    session_mod.package_zip = package_zip
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = session_mod.build_session(
        master=f"local[{CORES}]", app_name="perfbench",
        driver_memory=DRIVER_MEMORY, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def measure(args, workloads):
    """Start the session, run the workload, stop the session; returns
    (run, outcome, metrics)."""
    from stats import failed_frac, median, tail

    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        run = workloads.Run(spark, WORK, args.seed, args.seconds,
                            bool(args.trace), CORES)
        out = workloads.WORKLOADS[args.workload](run)
        lat = out.latencies
        if args.trace:
            metrics = workloads.layer_metrics(run, out)
        else:
            tail_s, tail_p = tail(lat)
            metrics = {
                "setup_s": (out.setup_s, "s"),
                "op_p50_ms": (1000 * median(lat), "ms"),
                "op_tail_ms": (1000 * tail_s, "ms"),
                "ops_per_s": (len(lat) / sum(lat), "1/s"),
                "store_bytes_per_row": (out.store_bytes_per_row, "B"),
                "peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
            }
            out.notes["op_tail_percentile"] = (float(tail_p), "pct")
        out.notes["session_s"] = (session_s, "s")
        out.notes["gate_s"] = (run.gate_s, "s")
        out.notes["samples"] = (float(len(lat)), "count")
        out.notes["failed_frac"] = (failed_frac(out.attempted, out.failed), "ratio")
        return run, out, metrics
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "s1tiling_spark", "__init__.py")):
        print(f"perfbench: no s1tiling_spark package under {ROOT}; "
              "run from a source checkout", file=sys.stderr)
        return 2

    def overrun(_sig, _frame):
        raise TimeoutError(f"run still going after {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, overrun)
    signal.alarm(DEADLINE_S)
    pin_environment()
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; choose "
                  f"from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        run, out, metrics = measure(args, workloads)
    finally:
        signal.alarm(0)
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)

    print(f"# workload={args.workload} seed={args.seed} master=local[{CORES}] "
          f"driver_memory={DRIVER_MEMORY} local_dirs=.perfbench_work/<pid>")
    for err in run.errors:
        print(f"# FAILED {err}")
    for name, (value, unit) in {**out.notes, **metrics}.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
