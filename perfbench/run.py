"""Benchmark entry point for the engine (``ingest_mutate``) and the query
library (``analytics_suite``). See perfbench/README.md.

    python3 perfbench/run.py --workload ingest_mutate --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run works in its own temp root under
``.perfbench_runs/`` (database dirs, Spark warehouse and local dirs,
stream checkpoints, JVM temp files) and deletes it at exit. Logs go to
stderr; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a detail record with every workload-specific figure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(CHECKOUT, ".perfbench_runs")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, so the
    interpreter's own start-up is included)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def isolate(root: str) -> dict[str, str]:
    """Point every scratch location of the program, Spark and the JVM
    into ``root``; returns the Spark conf that completes it."""
    for sub in ("tmp", "spark-local", "jvm-tmp", "warehouse", "stream", "snapshots"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["VROD_STREAM_SCRATCH"] = os.path.join(root, "stream")
    os.environ["VROD_SNAPSHOT_DIR"] = os.path.join(root, "snapshots")
    # The workload runs on local[<cores>] with the factory's default heap.
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # Every JVM spark-submit starts (its launcher too): temp files into
    # the root, no hsperfdata file in the system temp dir.
    java_opts = f"-Djava.io.tmpdir={os.path.join(root, 'jvm-tmp')} -XX:-UsePerfData"
    prior = os.environ.get("JAVA_TOOL_OPTIONS", "").strip()
    os.environ["JAVA_TOOL_OPTIONS"] = f"{prior} {java_opts}".strip()
    return {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # Unix socket paths are limited to 107 bytes: a path relative to
        # the run root (the working directory of the driver, the JVM and
        # the Python workers) keeps them short however deep the checkout.
        "spark.python.unix.domain.socket.dir": ".",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_mutate", "analytics_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    sys.path.insert(0, HERE)
    from harness import Tracer

    if args.workload == "ingest_mutate":
        import ingest_mutate as workload
    else:
        import analytics_suite as workload

    os.makedirs(RUNS_DIR, exist_ok=True)
    root = os.path.join(RUNS_DIR, f"{args.workload}-{os.getpid()}")
    os.makedirs(root)
    prev_cwd = os.getcwd()
    try:
        conf = isolate(root)
        os.chdir(root)
        tracer = Tracer(enabled=bool(args.trace))
        out = workload.run(
            seed=args.seed, seconds=args.seconds, tracer=tracer, root=root,
            spark_conf=conf, process_age_s=process_age_s,
        )
    finally:
        os.chdir(prev_cwd)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass  # another run is still using it
    metrics = out.per_layer if args.trace else out.end_to_end
    print(json.dumps({"detail": out.detail}, sort_keys=True))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    import signal

    # A terminated run still stops Spark and deletes its temp root. An
    # exception prints its traceback and exits 1 with no result line.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
