"""Time a subset of bench entries with bench.py's exact methodology,
optionally dumping each entry's physical plan.

Usage:
    python3 tools/bench_one.py [--explain DIR] [--runs N] name [name ...]

Runs on $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py, warms the
JVM with q1, times each named entry (.count(), best-of-N with bench's
per-entry run counts unless --runs overrides), and releases persisted
frames between entries. With --explain DIR, writes DIR/<name>.txt with
the explain("formatted") output of the entry's DataFrame (captured
before the timed runs, after any setup actions the builder performs).

Entries with ordering dependencies (ivf_append/ivf_serve need
ivf_build's index) must be requested together in bench order.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as B
from hypermap_etl_spark.session import get_spark
from hypermap_etl_spark.util import release_persisted


def main() -> int:
    args = sys.argv[1:]
    explain_dir = None
    forced_runs = None
    while args and args[0].startswith("--"):
        if args[0] == "--explain":
            explain_dir = args[1]
            args = args[2:]
        elif args[0] == "--runs":
            forced_runs = int(args[1])
            args = args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    if not args:
        raise SystemExit("need at least one bench entry name")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = B.build_bench()
    unknown = [n for n in args if n not in registry]
    if unknown:
        raise SystemExit(f"not bench entries: {unknown}")

    spark = get_spark("hypermap-etl-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry["q1_pricing_summary"](spark, sf_dir).count()

    for name in args:
        fn = registry[name]
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        if forced_runs == 0:  # explain-only
            release_persisted()
            print(f"# {name}: plan captured", flush=True)
            continue
        n_runs = forced_runs or (
            1 if name in B._RUNS_1 else 3 if name in B._RUNS_3 else 2
        )
        runs = []
        rows = 0
        for _ in range(n_runs):
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).count()
            runs.append(round(time.perf_counter() - t0, 3))
        release_persisted()
        print(f"# {name}: {min(runs):.3f}s ({rows} rows) runs={runs}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
