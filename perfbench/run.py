#!/usr/bin/env python3
"""perfbench: the repository benchmark.

Runs one workload (see ``workloads.py``) in a fresh process against the
``sc_crawler_spark`` package beside this directory, checks its outputs,
and prints one JSON result line last:

    python3 perfbench/run.py --workload inventory_refresh --seed 1 \
        --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` is the separate traced run: it wraps every layer's public
functions in spans and prints the per-layer metrics instead. The line
before the result carries the run's details: every step metric of the
workload by name and unit, the DuckDB control time, the tracing
overhead and the machine stamp. Both, plus the spans of a traced run,
are also written under ``.perfbench_work/records/``.

Exits 2 without a result when the package or PySpark is missing.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("inventory_refresh", "fleet_analytics", "corpus_stream")
END_TO_END = {"setup_s": "s", "total_s": "s", "geomean_step_s": "s",
              "cpu_s": "s"}
EXTRA_LAYER_METRICS = {
    "session.start_s": "s", "sinks.rows_written": "count",
    "sinks.rewrite_ratio": "ratio", "streaming.batches": "count",
    "streaming.batch_s": "s", "streaming.accept_ratio": "ratio",
    "trace.total_s": "s", "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh
                             if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def pin_environment(work: str) -> int:
    """Local width = the CPUs this process may use; Spark's scratch,
    temp files and warehouse stay inside the work dir, which must not
    contain spaces or quotes (it is passed through a shell-style
    argument string)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under the system temp dir, for either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")
    return cpus


def stop_jvm(gateway) -> None:
    """End the JVM this process launched and wait for it: the gateway
    exits when its stdin closes."""
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def machine_stamp(cpus: int) -> dict:
    import duckdb
    import pyspark

    return {"cpus": cpus, "loadavg": list(os.getloadavg()),
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": platform.python_version()}


def untraced_total_s(records: str, workload: str, seed: int) -> float | None:
    """total_s of the newest untraced run of the same workload and seed
    in this checkout, if there is one."""
    runs = glob.glob(os.path.join(records, f"{workload}-{seed}-0-*.json"))
    if not runs:
        return None
    with open(max(runs, key=os.path.getmtime)) as fh:
        return json.load(fh)["detail"]["metrics"]["total_s"]["value"]


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0,
                    help="minimum measured time: passes repeat until it "
                         "is reached (one pass always exceeds the "
                         "declared run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for smoke tests")
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # the package under test is the checkout's own source, never an
    # installed copy
    if not os.path.isfile(os.path.join(ROOT, "sc_crawler_spark",
                                       "__init__.py")):
        log(f"no sc_crawler_spark package beside {HERE}")
        return 2
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("pyspark") is None:
        log("pyspark is not importable")
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(
        base, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    records = os.path.join(base, "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(records, exist_ok=True)
    cpus = pin_environment(work)
    env = machine_stamp(cpus)
    try:
        return run(args, work, records, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, work: str, records: str, env: dict) -> int:
    import workloads as wl
    from spans import LAYER_METRICS, LAYERS, Tracer

    from sc_crawler_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("session", "get_spark"):
        spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    setup_s = process_age_s()
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    tracer.attach(spark)
    tracer.install()

    passes: list[wl.Pass] = []
    prep = None
    try:
        measured = 0.0
        while not passes or measured < args.seconds:
            p = wl.Pass(spark, tracer, os.path.join(work, f"p{len(passes)}"),
                        args.seed, args.size, log,
                        [os.getpid(), gateway.proc.pid])
            os.makedirs(p.work)
            if args.workload == "corpus_stream":
                prep = prep or wl.corpus_prepare(p)
                steps = wl.corpus_stream(p, prep)
            else:
                steps = getattr(wl, args.workload)(p)
            passes.append(p)
            measured += sum(p.timings[s] for s in steps)
        if prep is not None:
            setup_s += prep["fit_s"]
        rss = peak_rss_mb([os.getpid(), gateway.proc.pid])
    except Exception:  # noqa: BLE001 - report, print nothing, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        spark.stop()
        stop_jvm(gateway)

    def med(fn) -> float:
        return statistics.median(fn(p) for p in passes)

    totals = [sum(p.timings[s] for s in steps) for p in passes]
    e2e = {
        "setup_s": setup_s,
        "total_s": statistics.median(totals),
        "geomean_step_s": med(lambda p: wl.geomean(
            [p.timings[s] for s in steps])),
        "cpu_s": med(lambda p: sum(p.cpu[s] for s in steps)),
    }
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "env": env,
        "error_rate": {"value": failed / attempted, "unit": "ratio"},
        # JVM heap growth follows GC timing: ±30% run to run, too loose
        # for a bound, so memory is reported here and not graded
        "peak_rss_mb": {"value": rss, "unit": "MB"},
        "metrics": {k: {"value": v, "unit": END_TO_END[k]}
                    for k, v in e2e.items()},
        "steps": {k: {"value": med(lambda p, k=k: p.detail[k]["value"]),
                      "unit": u["unit"]}
                  for k, u in passes[0].detail.items()},
    }
    if args.trace:
        plain = untraced_total_s(records, args.workload, args.seed)
        if plain is not None:  # tracing overhead on the same inputs
            detail["trace_overhead_s"] = {
                "value": e2e["total_s"] - plain, "unit": "s"}
        layer = tracer.layer_metrics()
        p = passes[-1]
        stream = p.streaming
        layer.update({
            "session.start_s": session_start_s,
            "sinks.rows_written": tracer.rows_written(),
            "sinks.rewrite_ratio": (
                tracer.rows_written(steps=p.churn_steps) / p.churn_rows
                if p.churn_rows else 0.0),
            "streaming.batches": stream.get("batches", 0),
            "streaming.batch_s": stream.get("batch_s", 0.0),
            "streaming.accept_ratio": stream.get("accept_ratio", 0.0),
            "trace.total_s": e2e["total_s"],
            "trace.overhead_s": tracer.own_s,
        })
        units = {f"{ly}.{m}": u for ly in LAYERS for m, u in LAYER_METRICS}
        units.update(EXTRA_LAYER_METRICS)
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in units.items()}
    else:
        metrics = detail["metrics"]

    stem = os.path.join(records, f"{args.workload}-{args.seed}-"
                                 f"{args.trace}-{os.getpid()}")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    with open(stem + ".json", "w") as fh:
        json.dump({"detail": detail, "result": result}, fh, indent=1)
    if args.trace:
        tracer.dump(stem + "-spans.json")
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
