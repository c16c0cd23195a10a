"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed under .perfbench_work/, starts a Spark session on local[nproc],
sets the engine up, measures for --seconds and checks the outputs.
Human-readable detail (environment, every end-to-end figure of the
workload) goes to stdout first; the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics and the tracing overhead with
--trace 1. A traced run first runs the same workload and seed untraced
in a child process, then measures its own pass with the span wrappers
installed; both passes are the first in a fresh JVM, so their
difference is the tracing overhead. Exits 1 when a correctness check
fails, 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
JVM_HEAP = "2g"


def isolate(work: str) -> None:
    """Keep Spark's and the JVM's scratch files inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    # a bounded JVM heap (the engine defaults to 8g): the inputs are
    # small, and the run shares the host's memory
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    import tempfile

    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still alive: kill and reap
            proc.kill()
            proc.wait()


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since
    boot: other guests' load, which slows every figure of a run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def environment(spark, nproc: int) -> dict:
    import pyspark

    return {
        "nproc": nproc,
        "spark_master": spark.sparkContext.master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def untraced_run(args) -> dict:
    """The last-line JSON of the same run with --trace 0, made in a
    child process that has ended before this one starts Spark."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", "0", "--check", "0"],
        stdout=subprocess.PIPE, text=True, check=False,
    ).stdout.strip().splitlines()
    if not out:
        raise RuntimeError("the untraced run printed nothing")
    return json.loads(out[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check", type=int, choices=(0, 1), default=1,
                    help="0 skips the output checks (the untraced pass "
                    "of a traced run, whose own pass is checked)")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import shards_prometheus_spark.registry  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine: {exc}", file=sys.stderr)
        return 2
    from perfbench import report
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    untraced = untraced_run(args) if args.trace else None
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    steal_start = cpu_steal_s()

    from shards_prometheus_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=max(nproc, 4)
    )
    spark.sparkContext.setLogLevel("ERROR")
    env = environment(spark, nproc)
    env["spark_start_s"] = time.perf_counter() - t0
    env["loadavg_start"] = load_start
    wl = None
    tracer = Tracer() if args.trace else None
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work, args.seconds)
        setup_s = wl.setup()
        if tracer is not None:
            tracer.install(spark)
        try:
            p = wl.measure(tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        problems = wl.check() if args.check else []
        metrics = report.end_to_end(setup_s, p)
        if tracer is not None:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(
                    WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"
                )
            )
            metrics = report.per_layer(tracer, p, untraced["metrics"])
    finally:
        if wl is not None:
            wl.close()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()[0]
    env["cpu_steal_s"] = cpu_steal_s() - steal_start

    print("environment", json.dumps(env))
    print(f"workload {args.workload} seed {args.seed}")
    for line in report.detail_lines(args.workload, setup_s, p):
        print(" ", line)
    for prob in problems:
        print("CHECK FAILED:", prob)
    attempted = len(p.ops)
    failed = sum(not o.ok for o in p.ops)
    ok = not problems and not failed
    if untraced is not None:
        for name, m in metrics.items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
        if not untraced["correct"]:
            print("CHECK FAILED: the untraced run was not correct")
        ok = ok and untraced["correct"]
        attempted += untraced["attempted"]
        failed += untraced["failed"]
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
