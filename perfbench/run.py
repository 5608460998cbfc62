#!/usr/bin/env python3
"""Product-path benchmark for hdfs2cass_spark.

    python3 perfbench/run.py --workload bulk_songstreams --seed 1 --seconds 4 --trace 0

Runs one seeded workload through the program's public entry points on
``local[<usable cpus>]``, checks every timed operation's output, and prints
one JSON line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``); with ``--trace 1`` they are the per-layer ones, taken from
noop-sink prefix actions, Spark's event log and spans, and the span file is
written under ``.perfbench/out/``. Everything the run writes (inputs, sinks,
Spark scratch, event logs) stays under ``.perfbench/`` in the checkout.

Exit status: 0 when every check passed, 1 when a check failed, 2 when the
program is not in the checkout or the arguments are bad. The run stops the
Spark JVM and its Python workers and waits for them to end before it exits.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"


def _prepare_environment() -> None:
    """Keep Spark, its Python workers and temp files inside the checkout,
    and let the workers import the program from the checkout root."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData") if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, str(ROOT))


def _steal_seconds() -> float:
    """Host-wide CPU time stolen from this VM so far (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Make this process the subreaper of everything started under it, so a
    process whose parent ends first (a Python worker of the JVM) is
    re-parented here and can still be waited for."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark JVM this process launched and wait until it and every
    other process started under this one has ended; kill what is still
    running after ``timeout`` seconds."""
    from tracing import process_tree

    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark is not None else None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin reaches EOF
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        pyspark.SparkContext._gateway = pyspark.SparkContext._jvm = None
    deadline = time.perf_counter() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG if time.perf_counter() < deadline else 0)
        except ChildProcessError:  # no child left
            return
        if pid == 0:
            time.sleep(0.05)
            if time.perf_counter() >= deadline:
                for p in process_tree(os.getpid()) - {os.getpid()}:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(p, signal.SIGKILL)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "hdfs2cass_spark" / "__init__.py").is_file():
        print(f"perfbench: no hdfs2cass_spark package under {ROOT}", file=sys.stderr)
        return 2
    _prepare_environment()
    _adopt_orphans()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    bench = workloads.Bench(
        work=WORK, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        process_start=T_PROCESS_START,
    )
    steal = _steal_seconds()
    # a SIGTERM still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = workloads.WORKLOADS[args.workload](bench)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            bench.stop()
        finally:
            _stop_processes()
    # other tenants' load on a shared host shows up as stolen CPU time
    bench.log(f"cpu time stolen by the host during the run: {_steal_seconds() - steal:.1f}s")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
