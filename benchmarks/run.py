"""Benchmark entry point.

    python3 benchmarks/run.py --driver-memory 2g \
        --workload crawl_mixed|fuzzy_lookup --seed N --seconds S --trace 0|1

Run from the repository root. Per-op series and host diagnostics are
printed as JSON lines; the last line of stdout is the result object
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a separate traced run with
``--trace 1``. Exits 1 after printing a result with a failed op or check,
and 2 without printing one when the program is missing or an input is bad.
Everything the run writes goes under ``.bench_work/`` in the repository
root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_mixed", "fuzzy_lookup")
UNITS = {"setup_s": "s", "items_per_s": "1/s", "op_s_p50": "s", "recall": "ratio",
         "precision": "ratio", "peak_rss_mb": "MB"}
# set-ups per run: the run's own session plus a fresh-process repeat. A
# set-up is ~9 s and keeps ~2.4 of 4 cores busy, so repeats cannot overlap
# anything; a third would push the benchmark past its total time limit.
SETUPS = 2


def configure_env(work: str, driver_memory: str, cores: int) -> None:
    """Pin the session sizing and keep every file Spark, the JVM and the
    Python workers write inside ``work``. Must run before pyspark starts a
    JVM: the JVM and the Python workers it forks inherit this environment."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": driver_memory,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
    })


def start_spark(work: str, cores: int, event_log: str | None = None):
    """``get_spark`` through its first trivial job; returns the session and
    the two phase times."""
    from frizbee_spark.session import get_spark

    extra = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                      "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark(app_name="frizbee-bench", cores=cores, extra=extra)
    t1 = time.perf_counter()
    spark.sparkContext.parallelize([0], 1).count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_probe(work: str, cores: int) -> None:
    spark, get_s, job_s = start_spark(work, cores)
    stop_spark(spark)
    print(json.dumps({"get_spark_s": get_s, "first_job_s": job_s}), flush=True)


def fresh_setup(args, work: str) -> float:
    """One set-up in a fresh process (a fresh JVM), waited for."""
    cmd = [sys.executable, os.path.abspath(__file__), "--setup-probe",
           "--driver-memory", args.driver_memory, "--work", work]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=150, check=True)
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    return rec["get_spark_s"] + rec["first_job_s"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-memory", default="2g")
    p.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--work", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not args.setup_probe and args.workload is None:
        p.error("--workload is required")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    if not os.path.isfile(os.path.join(ROOT, "frizbee_spark", "pipeline.py")):
        print(f"frizbee_spark not found under {ROOT}: run from a repository checkout",
              file=sys.stderr)
        return 2
    if args.setup_probe:
        configure_env(args.work, args.driver_memory, cores)
        setup_probe(args.work, cores)
        return 0

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    configure_env(work, args.driver_memory, cores)
    sys.path[:0] = [ROOT, HERE]
    import host

    load_at_start = host.load1()
    ticks0 = host.cpu_ticks()
    try:
        if args.trace:
            import traced

            result = traced.run(args, work, cores, start_spark, stop_spark)
        else:
            result = run_untraced(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"series": args.workload, "host": {
        "load1_at_start": load_at_start, "steal_share": host.steal_share(ticks0, host.cpu_ticks()),
        "spill_dir": os.path.relpath(os.path.join(work, "spark-local"), ROOT), "cores": cores,
        "driver_memory": args.driver_memory}}), flush=True)
    correct = result["failed"] == 0 and result["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}), flush=True)
    return 0 if correct else 1


def run_untraced(args, work: str, cores: int) -> dict:
    import host
    import workloads

    setups = [fresh_setup(args, os.path.join(work, f"setup{i}")) for i in range(SETUPS - 1)]
    spark, get_s, job_s = start_spark(work, cores)
    setups.append(get_s + job_s)
    print(json.dumps({"series": args.workload, "setups_s": setups}), flush=True)
    peak = host.PeakRss().start()
    t0 = time.perf_counter()
    try:
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, cores)
        run = workloads.run_crawl if args.workload == "crawl_mixed" else workloads.run_fuzzy
        out = run(ctx)
    finally:
        peak_mb = peak.stop()
        t1 = time.perf_counter()
        stop_spark(spark)
    print(json.dumps({"series": args.workload, "workload_s": t1 - t0,
                      "stop_s": time.perf_counter() - t1}), flush=True)
    m = dict(out["metrics"], setup_s=statistics.median(setups), peak_rss_mb=peak_mb)
    log = out["log"]
    print(json.dumps({"series": args.workload, "op_s": log.timed, "op_count": m.pop("op_count")}),
          flush=True)
    return {"attempted": log.attempted, "failed": log.failed,
            "metrics": {k: {"value": m[k], "unit": UNITS[k]} for k in UNITS}}


if __name__ == "__main__":
    sys.exit(main())
