#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_pg --seed 1 --seconds 10 --trace 0

Run it from the repository root. It pins the environment the program
runs with, starts one Spark session (timed), runs one
workload from ``workloads.py`` as a closed loop for ``--seconds``,
checks every output, and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the run is traced and they are the per-layer ones.
The line before it is a record of the settings, the host and the ops.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = ROOT / "BENCHMARK.json"
DRIVER_MEM = "2g"  # fits a 15 GB host next to PostgreSQL and the workers
# Runs are too short for C2 to settle: with it, the JIT's choices moved
# every op of a run together by up to 10 %. C1 only gives steady op
# times; the parallel collector reuses one young generation, so peak
# RSS follows the program's allocations instead of G1's region choice.
# C1 alone gets a 48 MB code cache, which Spark's generated classes
# fill about a minute into a run; the sweeper's flush and the
# recompiles after it then slow every op for a while. A larger cache
# keeps that out of a run.
JIT_GC_FLAGS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m -XX:+UseParallelGC"


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_stamp() -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    return {
        "loadavg": os.getloadavg(),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_mb": mem["MemAvailable"] // 1024,
    }


def pin_env(work: Path) -> dict:
    """The environment the program runs with; workers inherit it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # executors import the package (and the counting wrapper) by name
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false"
            f" --conf spark.sql.warehouse.dir={work / 'warehouse'}"
            f" --driver-java-options '-Xms{DRIVER_MEM} {JIT_GC_FLAGS} -Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
            " pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    spec = json.loads(SPEC.read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_run, steal0 = time.perf_counter(), steal_s()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        env = pin_env(work)
        sys.path.insert(0, str(ROOT))
        try:
            import fhir2sql_spark  # noqa: F401
        except ModuleNotFoundError:
            print(f"fhir2sql_spark is not importable from {ROOT}", file=sys.stderr)
            return 2
        from perfbench import workloads
        from perfbench.trace import Tracer

        from fhir2sql_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")  # launches the JVM, as the product does
        start_s = time.perf_counter() - t0
        try:
            tracer = Tracer(uuid.uuid4().hex[:12]) if args.trace else None
            if tracer is not None:
                workloads.install_trace(tracer)
            ctx = workloads.Context(spark, args.seed, args.seconds, str(work), tracer)
            try:
                workloads.WORKLOADS[args.workload](ctx)
            finally:
                if tracer is not None:
                    tracer.unwrap_all()
            jvm_rss = _vm_hwm_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only if no other run uses it
            work.parent.rmdir()

    ops = ctx.ops
    op_s = [o.seconds for o in ops]
    failed = sum(not o.ok for o in ops)
    values = {
        "setup_s": start_s + ctx.warmup_s,
        "peak_rss_mb": jvm_rss + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "op_p50_s": statistics.median(op_s),
        "op_cpu_s": statistics.median(o.cpu_s for o in ops),
    }
    if tracer is not None:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        tracer.dump(str(out / f"spans-{args.workload}-{args.seed}-{tracer.run_id}.jsonl"))
        values = {
            **ctx.layers,
            "session.start_s": start_s,
            "session.jvm_rss_mb": jvm_rss,
            "trace.op_p50_s": values["op_p50_s"],
            "trace.spans": len(tracer.spans),
        }
    kind = "per_layer" if tracer is not None else "end_to_end"
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec[kind]}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_s": time.perf_counter() - t_run,
        "steal_s": steal_s() - steal0, "env": env, "host": host_stamp(), "info": ctx.info,
        "session_start_s": start_s, "warmup_ops": ctx.warmup_ops, "warmup_s": ctx.warmup_s,
        "op_s": op_s, "op_cpu_s": [o.cpu_s for o in ops],
    }))
    print(json.dumps({"correct": failed == 0 and ctx.checks_ok, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
