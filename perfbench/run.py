"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from the
seed under ``perfbench/_work/``, starts one Spark session on
``local[<nproc>]`` (every other SPARK_GRAFT_* setting at its default),
sets up, measures for at least ``--seconds`` seconds of whole
operations, checks every output against DuckDB, and prints one JSON
object as the last line of stdout: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Host facts are
printed on the line before it. A traced run also writes its spans and
per-layer table to ``perfbench/_out/``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import hypermap_etl_spark  # noqa: E402,F401  (fails fast outside a checkout)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> dict:
    """local[nproc], every other SPARK_GRAFT_* at its default; all
    scratch (Spark local dirs, temp files) inside the work dir.

    PYSPARK_SUBMIT_ARGS is cleared too, so the session's own default
    driver memory applies. Returns the settings found in the caller's
    environment and cleared."""
    cleared = {k: os.environ.pop(k) for k in list(os.environ)
               if k.startswith("SPARK_GRAFT_") or k == "PYSPARK_SUBMIT_ARGS"}
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    return cleared


def session_facts(spark) -> dict:
    """The settings in effect in the running session."""
    sc = spark.sparkContext
    return {
        "SPARK_GRAFT": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "PYSPARK_SUBMIT_ARGS": os.environ.get("PYSPARK_SUBMIT_ARGS"),
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
        "driver_max_heap_mb": sc._jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20,
    }


def host_facts(session: dict, cleared: dict) -> dict:
    import pyspark

    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                              timeout=30).stderr.splitlines()[0]
    except Exception as e:  # reported, not fatal
        java = f"unknown ({e})"
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_kb // 1024,
        "java": java,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "session": session,
        "cleared_env": cleared,
    }


def start_session(work: str, trace: bool):
    from hypermap_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                                         f" -Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the py4j JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        cleared = configure_env(work)
        wl = WORKLOADS[args.workload](args.seed, work, bool(args.trace))
        wl.generate()
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        session = session_facts(spark)
        wl.setup(spark, session_s=session_s)
        wl.measure(args.seconds)
        wl.check()
        if args.trace:
            from spans import find_event_log, parse_event_log

            wl.probe()
            spark.stop()
            spark = None
            stats = parse_event_log(find_event_log(os.path.join(work, "eventlog")), wl.tracer.spans)
            metrics = wl.layer_metrics(stats)
            out = os.path.join(HERE, "_out", f"trace-{args.workload}-{args.seed}.json")
            wl.tracer.write(out, {"workload": args.workload, "seed": args.seed,
                                  "per_layer": metrics, "by_span": stats["by_span"]})
        else:
            metrics = wl.e2e_metrics()
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": metrics,
        }
        wl.notes["op_s"] = [round(x, 4) for x in wl.lat_s]
        print(json.dumps({"host": host_facts(session, cleared), "workload": args.workload,
                          "seed": args.seed, "notes": wl.notes}))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
