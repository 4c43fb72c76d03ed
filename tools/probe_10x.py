"""One-order-of-magnitude scale probe for the fold
and curate paths.

No sf1.0 fixtures exist (TESTDATA.md ships sf0.001/0.01/0.1), so the
probe runs at sf1.0-EQUIVALENT volume derived from sf0.1 — the same
technique bench.py's history-crossover uses: block-shifted copies of
the hypermap log (10x events, 10x distinct entries via key-salted
labels is NOT needed — the fold scales with events) and doc_id-shifted
copies of the documents table (10x docs, distinct doc_ids, content
spread preserved).

What it checks, for hm_entries (full fold), incremental_entries_delta
(the standing-table batch path) and curate_pipeline (the 8-stage
composite):
  1. it runs to completion at 10x with the same configuration;
  2. the PHYSICAL PLAN keeps its shape across the decade — every join
     that is broadcast at 1x is still broadcast at 10x (no silent
     broadcast->SMJ flip), and no new cartesian appears;
  3. wall time, recorded for COVERAGE.md (expect ~linear for the fold,
     flat for the delta batch).

Usage: python tools/probe_10x.py   (writes a summary to stdout)
"""
from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def plan_shape(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "shuffled_hash_joins": len(re.findall(r"ShuffledHashJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "exchanges": len(re.findall(r"Exchange ", plan)),
    }


def main() -> None:
    from hypermap_etl_spark.operators.corpus import curate_pipeline
    from hypermap_etl_spark.operators.materialize import (
        incremental_entries_delta,
        materialize_entries,
        with_entry_bucket,
    )
    from hypermap_etl_spark.plans.hm_derive import hm_events_df
    from hypermap_etl_spark.session import get_spark
    from hypermap_etl_spark.sources.tables import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe10x")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}

    _logs: dict[int, object] = {}

    def logx(mult: int):
        # CACHED, like bench._hm_logx: the fold references the log from
        # ~6 aggregate branches, and an uncached 10-way union re-derives
        # all of them inside one stage graph — measured to OOM an 8g
        # driver heap where the cached variant is fine
        if mult in _logs:
            return _logs[mult]
        hm = hm_events_df(spark, sf_dir)
        r = hm.agg(
            F.min("blockNumber").alias("lo"), F.max("blockNumber").alias("hi")
        ).collect()[0]
        span = int(r["hi"] - r["lo"] + 1)
        df = hm
        for i in range(1, mult):
            df = df.unionByName(
                hm.withColumn(
                    "blockNumber", F.col("blockNumber") - F.lit(i * span)
                )
            )
        df = df.cache()
        df.count()
        _logs[mult] = df
        return df

    # ---- hm_entries: full fold at 1x and 10x ----
    for mult in (1, 10):
        df = materialize_entries(logx(mult))
        shape = plan_shape(df)
        t0 = time.perf_counter()
        n = df.count()
        out[f"hm_entries_{mult}x"] = {
            "rows": n, "secs": round(time.perf_counter() - t0, 2), **shape
        }

    # ---- delta batch against a 10x standing table ----
    import shutil
    import tempfile

    hm = hm_events_df(spark, sf_dir)
    cut = hm.agg(
        F.expr("percentile_approx(blockNumber, 0.995)").alias("c")
    ).collect()[0]["c"]
    for mult in (1, 10):
        path = os.path.join(tempfile.gettempdir(), f"probe10x_entries{mult}")
        shutil.rmtree(path, ignore_errors=True)
        base = with_entry_bucket(
            materialize_entries(logx(mult).filter(F.col("blockNumber") <= cut))
        )
        base.repartition("entry_bucket").write.partitionBy(
            "entry_bucket"
        ).parquet(path)
        batch = hm.filter(F.col("blockNumber") > cut)
        t0 = time.perf_counter()
        counts = incremental_entries_delta(spark, path, batch)
        out[f"hm_delta_{mult}x"] = {
            "secs": round(time.perf_counter() - t0, 2), **counts
        }

    for df in _logs.values():
        df.unpersist()

    # ---- curate_pipeline on 10x documents ----
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    for mult in (1, 10):
        d = docs
        for i in range(1, mult):
            d = d.unionByName(
                docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * mx))
            )
        t0 = time.perf_counter()
        documents, chunks, _ = curate_pipeline(
            d, cut_dup_spans=True, with_report=False
        )
        nd, nc = documents.count(), chunks.count()
        out[f"curate_{mult}x"] = {
            "docs": nd, "chunks": nc,
            "secs": round(time.perf_counter() - t0, 2),
        }

    import json

    print(json.dumps(out, indent=1))
    flips = []
    for k in ("broadcast_joins", "sort_merge_joins", "cartesian"):
        if out["hm_entries_1x"][k] != out["hm_entries_10x"][k]:
            flips.append(
                f"hm_entries {k}: {out['hm_entries_1x'][k]} -> "
                f"{out['hm_entries_10x'][k]}"
            )
    print("PLAN FLIPS:", flips or "none")


if __name__ == "__main__":
    main()
