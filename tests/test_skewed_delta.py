"""Skewed-delta demonstration: on a log with a
planted HOT PARENT (one key receiving half of all writes), the
restricted-replay maintenance mode must rescan the hot key's entire
history on every batch — its scanned-rows metric grows linearly with
history length — while the true delta path's per-batch read set (batch
events + touched stored rows) does not reference history length at
all. This pins bench.py's "replay rescans 26-62% of the log on hot
parent keys" claim as an assertion, the same move that pinned the
triangle-count hub trap (test_graph.py)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from hypermap_etl_spark.constants import ROOT_HASH
from hypermap_etl_spark.operators.materialize import (
    events_referencing,
    incremental_entries_delta,
    materialize_entries,
    touched_namehashes,
)
from tests.helpers import ev, events_df, h

HOT = h(1)


def _hot_parent_log(n: int) -> list[dict]:
    """n events; every even one is a Mint under the HOT parent (50% of
    all writes touch it), odd ones are unrelated mints."""
    rows = []
    for i in range(n):
        if i % 2 == 0:
            rows.append(
                ev(eventType="Mint", blockNumber=10 + i, logIndex=0,
                   parenthash=HOT, childhash=h(1000 + i),
                   labelhash=h(5000 + i), label=f"hot{i}")
            )
        else:
            rows.append(
                ev(eventType="Mint", blockNumber=10 + i, logIndex=0,
                   parenthash=h(2000 + i), childhash=h(3000 + i),
                   labelhash=h(6000 + i), label=f"cold{i}")
            )
    return rows


def _batch(block: int) -> list[dict]:
    return [
        ev(eventType="Mint", blockNumber=block, logIndex=0, parenthash=HOT,
           childhash=h(999), labelhash=h(998), label="newkid")
    ]


def test_hot_parent_replay_scan_grows_with_history_delta_does_not(spark):
    batch_rows = _batch(100_000)
    scanned = {}
    stored_read = {}
    for n in (100, 200):
        hist = _hot_parent_log(n)
        log = events_df(spark, hist + batch_rows)
        keys = touched_namehashes(events_df(spark, batch_rows))
        # the restricted replay's scan set — exactly what
        # incremental_entries_update folds (materialize.py)
        scanned[n] = events_referencing(log, keys).count()
        # the delta path's stored-row read — exactly what
        # incremental_entries_delta semi-joins out of the table
        stored = materialize_entries(events_df(spark, hist))
        stored_read[n] = stored.join(
            F.broadcast(keys), "namehash", "left_semi"
        ).count()

    # replay: the hot parent's whole history is in the scan set every
    # batch — ~half the log however small the batch, growing with n
    assert scanned[100] >= 0.4 * 101
    assert scanned[200] >= 0.4 * 201
    assert scanned[200] >= 1.8 * scanned[100]
    # delta: the read set is touched KEYS (the hot parent + the new
    # child), identical at both history lengths
    assert stored_read[100] == stored_read[200] == 1  # HOT itself
    # and the delta fold input is the batch alone — one event — by
    # construction (no pending store on this well-formed chain)
    assert len(batch_rows) == 1


def test_hot_parent_delta_result_still_exact(spark):
    """Speed claims only count if the fast path is exact: feed the hot-
    parent log through the delta path and compare to the full fold."""
    rows = _hot_parent_log(60) + _batch(100_000)
    entries_path = tempfile.mkdtemp() + "/entries"
    incremental_entries_delta(
        spark, entries_path, events_df(spark, _hot_parent_log(60))
    )
    incremental_entries_delta(spark, entries_path, events_df(spark, _batch(100_000)))
    expected = {
        r["namehash"]: (r["label"], tuple(r["children"]), r["lastUpdateBlock"])
        for r in materialize_entries(events_df(spark, rows)).collect()
    }
    got = {
        r["namehash"]: (r["label"], tuple(r["children"]), r["lastUpdateBlock"])
        for r in spark.read.parquet(entries_path).collect()
    }
    assert got == expected
    assert len(got[HOT][1]) == 31  # 30 history children + the new kid
