"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Starts one Spark session at
``local[<cores>]`` with a driver heap sized to the machine, runs one
workload (``perfbench.ingest`` or ``perfbench.readmix``), checks its
outputs, and prints as the last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The spans of a traced run go to ``.bench_out/``. Everything the run
writes stays under the checkout, and its work directory is removed at
exit. Exits with code 2, printing no result, when the program's source
is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not __package__:  # run as a script: import this directory as ``perfbench``
    sys.path[0] = ROOT
from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

PACKAGE = "ecommerce_realtime_pipeline_spark"


def driver_memory() -> str:
    """A quarter of physical memory, between 2 and 6 GiB."""
    total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return f"{max(2, min(6, total_kb // (4 * 1024 * 1024)))}g"


def pin_environment(work: str) -> dict[str, str]:
    """Fix cores, heap and every scratch directory before Spark starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "LOG_LEVEL": "WARNING",
    })
    time.tzset()
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "100",
    }


def start_session(conf: dict[str, str], master: str | None = None):
    from ecommerce_realtime_pipeline_spark.session import get_spark

    return get_spark(app_name="perfbench", master=master, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str,
                 scale: float = 1.0) -> dict:
    """Run one workload in a fresh session; return the result object."""
    from perfbench.spans import Tracer, peak_rss_mb

    conf = pin_environment(work)
    t0 = time.perf_counter()
    spark = start_session(conf)
    session_s = time.perf_counter() - t0
    jvm = spark.sparkContext._jvm
    env = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "cores": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
    print("env " + json.dumps(env), flush=True)
    jvm_pid = int(jvm.ProcessHandle.current().pid())
    tracer = Tracer(spark if trace else None)
    try:
        t0 = time.perf_counter()
        if name == "ingest_trickle":
            from perfbench import ingest as workload

            bench = workload.Trickle(spark, work, seed, tracer, scale)
        else:
            from perfbench import readmix as workload

            bench = workload.ReadMix(spark, work, seed, tracer, sf=0.01 * scale)
        inputs_s = time.perf_counter() - t0
        out = workload.run(bench, seconds)
        out["setup_s"] += session_s + inputs_s
        out["layers"]["session.peak_rss_mb"] = peak_rss_mb(jvm_pid)
        if trace and name == "ingest_trickle":
            spark.stop()  # same JVM, one core: the single-threaded baseline
            spark = start_session(conf, master="local[1]")
            bench.attach(spark)
            bench.tracer = Tracer(None)
            lat, wall = bench.cycle()
            out["failed"] += len(bench.check() & {bench.cycles_done - 1})
            out["attempted"] += 1
            out["layers"]["scaling.local1_latency_s"] = lat
            out["layers"]["scaling.local1_ops_per_s"] = 1.0 / wall
    finally:
        stop_session(spark)
    if trace:
        out["layers"].update({
            "session.start_s": session_s,
            "traced.latency_p50_s": out["latency_p50_s"],
            "traced.ops_per_s": out["ops_per_s"],
        })
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        with open(os.path.join(ROOT, ".bench_out", f"spans-{name}-{seed}.json"), "w") as fh:
            json.dump({"env": env, "spans": tracer.spans}, fh)
    return out


def result_line(out: dict, trace: bool) -> dict:
    table = PER_LAYER if trace else END_TO_END
    source = out["layers"] if trace else out
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": u} for k, u in table.items()}
    return {
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ source under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    try:
        out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                           work, args.scale)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("latencies_s " + json.dumps([round(x, 4) for x in out["latencies"]]))
    print(json.dumps(result_line(out, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
