"""Per-batch driver cost of the decode, fold and state-merge expressions.

They are built once per py4j gateway (util.jvm_cached): a second build
costs a few dozen round trips instead of thousands, and a restarted
gateway rebuilds them rather than reusing handles into a dead JVM.

Run as a script, this file is the restart check itself: it checks
decode, the full fold and the delta path against the DuckDB oracle,
stops the session and its gateway, starts a new one and checks again,
then prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# round trips a SECOND build may take (measured 28 / 116 / 57 on
# pyspark 4.1.2; an uncached build takes 2,344 / 3,394 / 1,770)
DECODE_BUDGET = 60
FOLD_BUDGET = 250
MERGE_STATES_BUDGET = 150


def _py4j_calls(fn) -> int:
    """py4j round trips ``fn()`` makes, counted at the client's
    send_command. Only the calling thread's commands count: py4j's
    finalizer thread sends the detach commands of collected objects
    through the same client at any time."""
    from pyspark import SparkContext

    client = SparkContext._gateway._gateway_client
    orig = client.send_command
    caller = threading.get_ident()
    n = 0

    def counted(*args, **kwargs):
        nonlocal n
        n += threading.get_ident() == caller
        return orig(*args, **kwargs)

    client.send_command = counted
    try:
        fn()
    finally:
        client.send_command = orig
    return n


def test_second_build_round_trip_budget(spark):
    from hypermap_etl_spark.operators.decode import decode_raw_logs
    from hypermap_etl_spark.operators.materialize import (
        materialize_entries,
        merge_entry_states,
    )
    from hypermap_etl_spark.schemas import EVENT_SCHEMA, RAW_LOG_SCHEMA

    raw = spark.createDataFrame([], RAW_LOG_SCHEMA)
    events = spark.createDataFrame([], EVENT_SCHEMA)
    known = events.select(events["parenthash"].alias("namehash"))
    stored = materialize_entries(events)
    partial = materialize_entries(events, known_extra=known)
    decode_raw_logs(raw)
    merge_entry_states(stored, partial)

    assert _py4j_calls(lambda: decode_raw_logs(raw)) <= DECODE_BUDGET
    assert _py4j_calls(
        lambda: materialize_entries(events, known_extra=known)
    ) <= FOLD_BUDGET
    assert _py4j_calls(
        lambda: merge_entry_states(stored, partial)
    ) <= MERGE_STATES_BUDGET


def test_gateway_restart_rebuilds_expressions(tmp_path):
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS="--driver-memory 1g pyspark-shell")
    env.pop("PYSPARK_GATEWAY_PORT", None)
    run = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(tmp_path)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])
    checks = {"decode": True, "fold": True, "delta": True}
    assert got == {"first": checks, "restarted": checks, "rebuilt": True}


# ------------------------------------------------------------ restart run --


def _session():
    from hypermap_etl_spark.session import get_spark

    spark = get_spark(
        "gateway-restart", master="local[2]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_with_gateway(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=120)


def _matches(con, df, sql) -> bool:
    from tests.test_oracle_parity import _rows_to_set

    cols = df.columns
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    return sorted(cols) == sorted(ocols) and _rows_to_set(
        cols, [[r[c] for c in cols] for r in df.collect()]
    ) == _rows_to_set(ocols, res.fetchall())


def _delta_entries(spark, sf: str, work: str):
    """The derived log fed through incremental_entries_delta in three
    block-ordered batches, in hm_entries' flat shape."""
    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators.materialize import (
        entries_flat,
        incremental_entries_delta,
    )
    from hypermap_etl_spark.plans.hm_derive import hm_events_df

    hm = hm_events_df(spark, sf)
    lo, hi = hm.agg(F.min("blockNumber"), F.max("blockNumber")).first()
    cuts = [lo - 1, lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3, hi]
    path = os.path.join(work, "entries")
    for a, b in zip(cuts, cuts[1:]):
        batch = hm.filter((F.col("blockNumber") > a) & (F.col("blockNumber") <= b))
        incremental_entries_delta(spark, path, batch)
    return entries_flat(spark.read.parquet(path)).select(
        "namehash", "label", F.col("parentHash").alias("parent_hash"),
        "owner", "gene", "notes_kv", "facts_kv", "children_list",
        F.col("n_children").cast("long").alias("n_children"),
        F.col("creationBlock").alias("creation_block"),
        F.col("lastUpdateBlock").alias("last_update_block"),
    )


def _oracle_checks(spark, work: str) -> dict:
    import duckdb

    from hypermap_etl_spark.plans.hm_queries import (
        HM_DECODE_ORACLE,
        HM_ENTRIES_ORACLE,
        hm_decode_roundtrip,
        hm_entries,
    )
    from tests.test_oracle_parity import SF_SMOKE as SF

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    return {
        "decode": _matches(con, hm_decode_roundtrip(spark, SF), HM_DECODE_ORACLE),
        "fold": _matches(con, hm_entries(spark, SF), HM_ENTRIES_ORACLE),
        "delta": _matches(con, _delta_entries(spark, SF, work), HM_ENTRIES_ORACLE),
    }


def _restart_run(work: str) -> dict:
    from pyspark import SparkContext

    from hypermap_etl_spark import util

    spark = _session()
    first = _oracle_checks(spark, os.path.join(work, "first"))
    old_gateway = SparkContext._gateway
    _stop_with_gateway(spark)
    spark = _session()
    try:
        restarted = _oracle_checks(spark, os.path.join(work, "restarted"))
        cached = [g for g, _ in util._JVM_CACHE.values()]
        rebuilt = (
            SparkContext._gateway is not old_gateway
            and bool(cached)
            and all(g is SparkContext._gateway for g in cached)
        )
    finally:
        _stop_with_gateway(spark)
    return {"first": first, "restarted": restarted, "rebuilt": rebuilt}


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    print(json.dumps(_restart_run(sys.argv[1])))
