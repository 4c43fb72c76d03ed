"""Streaming index mode: events table + incrementally materialized
entries must equal a batch full recompute; descendants BFS."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from hypermap_etl_spark.constants import ROOT_HASH
from hypermap_etl_spark.operators.materialize import (
    descendants_of,
    materialize_entries,
)
from hypermap_etl_spark.sources.raw_logs import build_raw_logs
from hypermap_etl_spark.streaming.scan import start_index_stream
from tests.helpers import ev, events_df, h
from tests.test_materialize import _fixture_rows


def _land_redelivered(spark, rows, src):
    """Land ``rows`` as one chunk file, twice over (a redelivered
    chunk): the two files' block spans coincide, so the source is not
    block-aligned and the index stream runs its replay path."""
    for _ in range(2):
        build_raw_logs(events_df(spark, rows)).coalesce(1).write.mode(
            "append").parquet(src)


def _stage_chunks(spark, chunks, base):
    """One block-sorted parquet file per chunk, written outside the
    stream source (a chain-scan writer's output)."""
    import glob

    files = []
    for i, rows in enumerate(chunks):
        build_raw_logs(events_df(spark, rows)).coalesce(1).sortWithinPartitions(
            "blockNumber").write.parquet(f"{base}/stage{i}")
        files += glob.glob(f"{base}/stage{i}/*.parquet")
    return files


def _land(files, src, mtime0):
    """Move staged files into the source whole, in order, with strictly
    increasing mtimes from ``mtime0``."""
    for i, f in enumerate(files):
        os.utime(f, (mtime0 + i, mtime0 + i))
        os.rename(f, os.path.join(src, os.path.basename(f)))


def _block_chunks():
    """The fixture log cut at block boundaries into three ranges."""
    rows = sorted(
        _fixture_rows(), key=lambda r: (r["blockNumber"], r["logIndex"])
    )
    return rows, [
        [r for r in rows if r["blockNumber"] <= 15],
        [r for r in rows if 15 < r["blockNumber"] <= 19],
        [r for r in rows if r["blockNumber"] > 19],
    ]


def _assert_entries_match_fold(spark, ent, rows):
    """The stream's entries table equals the batch fold of ``rows``."""
    from hypermap_etl_spark.operators.decode import parse_raw_logs

    expected = {
        r["namehash"]: r.asDict()
        for r in materialize_entries(
            parse_raw_logs(build_raw_logs(events_df(spark, rows)))
        ).collect()
    }
    got = {r["namehash"]: r.asDict() for r in spark.read.parquet(ent).collect()}
    assert set(got) == set(expected)
    for k in expected:
        for fld in ("label", "parentHash", "owner", "gene",
                    "creationBlock", "lastUpdateBlock"):
            assert got[k][fld] == expected[k][fld], (k, fld)
        assert sorted(got[k]["children"]) == sorted(expected[k]["children"])
        assert got[k]["facts"] == expected[k]["facts"]
        assert got[k]["notes"] == expected[k]["notes"]


def test_streaming_index_matches_batch(spark):
    rows = _fixture_rows()
    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    os.makedirs(src)

    # two chunks land before catch-up; one more afterwards (resume path)
    build_raw_logs(events_df(spark, rows[:8])).write.mode("append").parquet(src)
    build_raw_logs(events_df(spark, rows[8:14])).write.mode("append").parquet(src)
    q = start_index_stream(spark, src, tbl, ent, ckpt)
    q.awaitTermination(240)
    build_raw_logs(events_df(spark, rows[14:])).write.mode("append").parquet(src)
    q2 = start_index_stream(spark, src, tbl, ent, ckpt)
    q2.awaitTermination(240)

    # decode-normalized expectation: run the same events through the
    # encode→decode path once, then fold
    from hypermap_etl_spark.operators.decode import parse_raw_logs

    expected_events = parse_raw_logs(build_raw_logs(events_df(spark, rows)))
    expected = {
        r["namehash"]: r.asDict()
        for r in materialize_entries(expected_events).collect()
    }
    got = {r["namehash"]: r.asDict() for r in spark.read.parquet(ent).collect()}
    assert set(got) == set(expected)
    for k in expected:
        e, g = expected[k], got[k]
        for fld in ("label", "parentHash", "owner", "gene", "creationBlock", "lastUpdateBlock"):
            assert g[fld] == e[fld], (k, fld, g[fld], e[fld])
        assert sorted(g["children"]) == sorted(e["children"])
        assert g["facts"] == e["facts"] and g["notes"] == e["notes"]


def _bucket_fingerprint(table, bucket):
    import glob
    import hashlib

    files = sorted(glob.glob(f"{table}/block_bucket={bucket}/*.parquet"))
    return [
        (os.path.basename(f), hashlib.md5(open(f, "rb").read()).hexdigest())
        for f in files
    ]


def test_stream_merge_rewrites_only_touched_buckets(spark):
    """A micro-batch whose blocks land in one bucket must leave every
    other bucket's files byte-identical (the partitioned MERGE wired
    through the stream)."""
    from hypermap_etl_spark.streaming.scan import start_ingest_stream

    base = tempfile.mkdtemp()
    src, tbl, ckpt = f"{base}/src", f"{base}/tbl", f"{base}/ckpt"
    os.makedirs(src)
    # bucket 0 (blocks 10..) and bucket 2 (blocks 250_000..)
    rows_b0 = [
        ev(eventType="Mint", blockNumber=10 + i, logIndex=0, parenthash=h(1),
           childhash=h(10 + i), label=f"a{i}")
        for i in range(3)
    ]
    rows_b2 = [
        ev(eventType="Mint", blockNumber=250_000 + i, logIndex=0, parenthash=h(2),
           childhash=h(20 + i), label=f"b{i}")
        for i in range(2)
    ]
    build_raw_logs(events_df(spark, rows_b0 + rows_b2)).write.mode("append").parquet(src)
    start_ingest_stream(spark, src, tbl, ckpt).awaitTermination(240)
    assert set(os.listdir(tbl)) >= {"block_bucket=0", "block_bucket=2"}
    before_b0 = _bucket_fingerprint(tbl, 0)
    assert before_b0

    # second batch touches ONLY bucket 2
    more = [
        ev(eventType="Mint", blockNumber=250_005, logIndex=0, parenthash=h(2),
           childhash=h(25), label="late")
    ]
    build_raw_logs(events_df(spark, more)).write.mode("append").parquet(src)
    progress = []
    q = start_ingest_stream(spark, src, tbl, ckpt, on_progress=progress.append)
    q.awaitTermination(240)

    assert _bucket_fingerprint(tbl, 0) == before_b0
    assert spark.read.parquet(tbl).count() == 6
    # T5: the foreachBatch sink reported the batch
    assert progress and progress[-1]["rows"] == 1
    assert progress[-1]["high_water"] == 250_005


def test_index_stream_prunes_replay_to_touched_buckets(spark):
    """A batch touching only bucket-2 keys must replay only bucket 2 —
    the key→bucket side index prunes the log scan."""
    from hypermap_etl_spark.streaming.scan import start_index_stream

    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    os.makedirs(src)
    rows_b0 = [
        ev(eventType="Mint", blockNumber=10 + i, logIndex=0, parenthash=h(1),
           childhash=h(10 + i), label=f"a{i}")
        for i in range(3)
    ]
    rows_b2 = [
        ev(eventType="Mint", blockNumber=250_000 + i, logIndex=0, parenthash=h(2),
           childhash=h(20 + i), label=f"b{i}")
        for i in range(2)
    ]
    # this test asserts REPLAY-path telemetry (replay_buckets), so the
    # source is not block-aligned
    _land_redelivered(spark, rows_b0 + rows_b2, src)
    start_index_stream(spark, src, tbl, ent, ckpt).awaitTermination(240)

    # Note on h(20) (lives in bucket 2 only) + its own block in bucket 2
    late = [
        ev(eventType="Note", blockNumber=250_010, logIndex=0, parenthash=h(20),
           notehash=h(31), labelhash=h(32), label="note1", data="0x01")
    ]
    build_raw_logs(events_df(spark, late)).write.mode("append").parquet(src)
    progress = []
    q = start_index_stream(spark, src, tbl, ent, ckpt,
                           on_progress=progress.append)
    q.awaitTermination(240)

    assert progress, "index stream must report per-batch progress (T5)"
    buckets = progress[-1]["replay_buckets"]
    assert buckets is not None and 0 not in buckets and 2 in buckets

    # and the pruned incremental result still equals the batch recompute
    from hypermap_etl_spark.operators.decode import parse_raw_logs

    expected_events = parse_raw_logs(
        build_raw_logs(events_df(spark, rows_b0 + rows_b2 + late))
    )
    expected = {
        r["namehash"]: r.asDict() for r in materialize_entries(expected_events).collect()
    }
    got = {r["namehash"]: r.asDict() for r in spark.read.parquet(ent).collect()}
    assert set(got) == set(expected)
    for k in expected:
        for fld in ("label", "parentHash", "creationBlock", "lastUpdateBlock"):
            assert got[k][fld] == expected[k][fld], (k, fld)
        assert got[k]["notes"] == expected[k]["notes"]


def test_replay_stream_indexes_events_written_between_runs(spark):
    """Events a batch `extract` MERGEs between two replay runs are in
    the key index the second run prunes its replay with: P's fact from
    the extract survives the second run's refold of P."""
    from hypermap_etl_spark.operators.decode import parse_raw_logs
    from hypermap_etl_spark.operators.merge import (
        merge_into_parquet,
        with_block_bucket,
    )

    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    os.makedirs(src)
    P = h(10)
    mint = [ev(eventType="Mint", blockNumber=10, logIndex=0, parenthash=ROOT_HASH,
               childhash=P, labelhash=h(11), label="p")]
    fact = [ev(eventType="Fact", blockNumber=150_000, logIndex=0, parenthash=P,
               facthash=h(21), labelhash=h(22), label="color", data="0xbb")]
    note = [ev(eventType="Note", blockNumber=250_010, logIndex=0, parenthash=P,
               notehash=h(31), labelhash=h(32), label="note1", data="0x01")]

    # a redelivered chunk: not block-aligned, so both runs replay
    _land_redelivered(spark, mint, src)
    start_index_stream(spark, src, tbl, ent, ckpt).awaitTermination(240)
    extracted = with_block_bucket(parse_raw_logs(build_raw_logs(events_df(spark, fact))))
    merge_into_parquet(spark, tbl, extracted, ["event_id"], partition_col="block_bucket")
    build_raw_logs(events_df(spark, note)).write.mode("append").parquet(src)
    start_index_stream(spark, src, tbl, ent, ckpt).awaitTermination(240)

    expected = materialize_entries(
        parse_raw_logs(build_raw_logs(events_df(spark, mint + fact + note)))
    ).filter(F.col("namehash") == P).first()
    got = spark.read.parquet(ent).filter(F.col("namehash") == P).first()
    assert expected["facts"] == {"color": "0xbb"}
    assert got["facts"] == expected["facts"]
    assert got["notes"] == expected["notes"]
    assert got["lastUpdateBlock"] == expected["lastUpdateBlock"]


def test_replay_scan_partition_pruned(spark):
    """The pruned replay frame's physical plan must carry a partition
    filter on block_bucket (scan I/O bounded by touched buckets)."""
    import glob

    from hypermap_etl_spark.operators.merge import with_block_bucket
    from hypermap_etl_spark.operators.merge import merge_into_parquet

    base = tempfile.mkdtemp()
    tbl = f"{base}/tbl"
    rows = [
        ev(eventType="Mint", blockNumber=b, logIndex=0, parenthash=h(1),
           childhash=h(40 + b), label="x")
        for b in (5, 150_000, 250_000)
    ]
    merge_into_parquet(
        spark, tbl, with_block_bucket(events_df(spark, rows)), ["event_id"],
        partition_col="block_bucket",
    )
    pruned = spark.read.parquet(tbl).filter(F.col("block_bucket").isin([2]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "block_bucket" in plan
    # only bucket-2 files are read
    assert pruned.count() == 1
    assert len(glob.glob(f"{tbl}/block_bucket=*")) == 3


def test_high_water_mark_prunes_to_max_bucket(spark):
    """T2 cursor on a bucketed table must read only the max bucket's
    partition (directory-listing prune, no full-table scan)."""
    from hypermap_etl_spark.operators.merge import merge_into_parquet, with_block_bucket
    from hypermap_etl_spark.streaming.scan import _partition_values, high_water_mark

    base = tempfile.mkdtemp()
    tbl = f"{base}/tbl"
    rows = [
        ev(eventType="Mint", blockNumber=b, logIndex=0, parenthash=h(1),
           childhash=h(50 + b % 97), label="x")
        for b in (42, 150_001, 250_007)
    ]
    merge_into_parquet(
        spark, tbl, with_block_bucket(events_df(spark, rows)), ["event_id"],
        partition_col="block_bucket",
    )
    assert sorted(_partition_values(tbl, "block_bucket")) == [0, 1, 2]
    assert high_water_mark(spark, tbl) == 250_007
    # the pruned scan shape: partition filter on the max bucket
    pruned = spark.read.parquet(tbl).filter(F.col("block_bucket") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "block_bucket" in plan


def test_ingest_stream_listener_captures_progress(spark):
    """T5 engine-level telemetry: a StreamingQueryListener sees at least
    one QueryProgressEvent during an availableNow catch-up."""
    import time

    from hypermap_etl_spark.streaming.scan import start_ingest_stream
    from hypermap_etl_spark.streaming.telemetry import attach_progress_listener

    base = tempfile.mkdtemp()
    src, tbl, ckpt = f"{base}/src", f"{base}/tbl", f"{base}/ckpt"
    os.makedirs(src)
    rows = [
        ev(eventType="Mint", blockNumber=7, logIndex=0, parenthash=h(1),
           childhash=h(70), label="t")
    ]
    build_raw_logs(events_df(spark, rows)).write.mode("append").parquet(src)
    listener = attach_progress_listener(spark)
    try:
        q = start_ingest_stream(spark, src, tbl, ckpt)
        q.awaitTermination(240)
        # listener events arrive on an async bus — poll briefly
        deadline = time.monotonic() + 30
        while not listener.events and time.monotonic() < deadline:
            time.sleep(0.2)
        assert listener.events, "listener saw no QueryProgressEvent"
        assert any(e["num_input_rows"] >= 1 for e in listener.events)
    finally:
        spark.streams.removeListener(listener)


def test_descendants_bfs(spark):
    rows = [
        ev(eventType="Mint", blockNumber=1, logIndex=0, parenthash=ROOT_HASH, childhash=h(1), label="os"),
        ev(eventType="Mint", blockNumber=2, logIndex=0, parenthash=h(1), childhash=h(2), label="a"),
        ev(eventType="Mint", blockNumber=3, logIndex=0, parenthash=h(1), childhash=h(3), label="b"),
        ev(eventType="Mint", blockNumber=4, logIndex=0, parenthash=h(2), childhash=h(4), label="deep"),
        ev(eventType="Mint", blockNumber=5, logIndex=0, parenthash=h(9), childhash=h(5), label="other"),
    ]
    entries = materialize_entries(events_df(spark, rows))
    got = {(r["namehash"], r["depth"]) for r in descendants_of(entries, h(1)).collect()}
    assert got == {(h(2), 1), (h(3), 1), (h(4), 2)}


def test_index_stream_autocompacts_key_index(spark, monkeypatch):
    """With COMPACT_INDEX_EVERY=1 the key index collapses to one
    distinct file after a batch that blind-appended to it (the second
    replay batch of a run; the first rebuilds it)."""
    import glob

    from hypermap_etl_spark.streaming import scan

    monkeypatch.setattr(scan, "COMPACT_INDEX_EVERY", 1)
    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    idx = f"{ent}__keyidx"
    os.makedirs(src)
    rows = [
        ev(eventType="Mint", blockNumber=10 + i, logIndex=0, parenthash=h(1),
           childhash=h(10 + i), label=f"a{i}")
        for i in range(2)
    ]
    # the key index exists only on the replay path: a redelivered
    # chunk keeps the source from being block-aligned
    _land_redelivered(spark, rows, src)
    start_index_stream(spark, src, tbl, ent, ckpt).awaitTermination(240)

    for i in range(2):  # two files, one batch each: rebuild, then append
        more = [ev(eventType="Mint", blockNumber=20 + i, logIndex=0,
                   parenthash=h(1), childhash=h(30 + i), label=f"b{i}")]
        build_raw_logs(events_df(spark, more)).write.mode("append").parquet(src)
    q = start_index_stream(spark, src, tbl, ent, ckpt, max_files_per_trigger=1)
    q.awaitTermination(240)

    files = glob.glob(f"{idx}/*.parquet")
    assert len(files) == 1, files
    pairs = {tuple(r) for r in spark.read.parquet(idx).collect()}
    # distinct (namehash, bucket) pairs only — duplicates compacted away
    assert len(pairs) == spark.read.parquet(idx).count()


def test_index_stream_bounds_entries_files(spark):
    """Across a many-batch availableNow run every entry_bucket and
    block_bucket partition holds exactly one file, with no compaction
    (each MERGE rewrites a touched bucket as one file), and the entries
    still equal a batch recompute."""
    import glob

    from hypermap_etl_spark.operators.decode import parse_raw_logs
    from hypermap_etl_spark.streaming import scan

    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    os.makedirs(src)
    # 4 single-file chunks → 4 micro-batches (max_files_per_trigger=1),
    # all touching the same parent so its bucket is rewritten every batch
    all_rows = []
    for i in range(4):
        rows = [
            ev(eventType="Mint", blockNumber=100 + 10 * i + j, logIndex=0,
               parenthash=h(1), childhash=h(100 + 10 * i + j), label=f"c{i}_{j}")
            for j in range(2)
        ]
        all_rows += rows
        build_raw_logs(events_df(spark, rows)).write.mode("append").parquet(src)
    q = scan.start_index_stream(
        spark, src, tbl, ent, ckpt, max_files_per_trigger=1,
    )
    q.awaitTermination(240)

    buckets = glob.glob(f"{ent}/entry_bucket=*")
    assert buckets, "entries table must be entry_bucket-partitioned"
    buckets += glob.glob(f"{tbl}/block_bucket=*")
    for b in buckets:
        files = glob.glob(f"{b}/*.parquet")
        assert len(files) == 1, (b, files)

    expected = {
        r["namehash"]: r.asDict()
        for r in materialize_entries(
            parse_raw_logs(build_raw_logs(events_df(spark, all_rows)))
        ).collect()
    }
    got = {r["namehash"]: r.asDict() for r in spark.read.parquet(ent).collect()}
    assert set(got) == set(expected)
    for k in expected:
        assert got[k]["label"] == expected[k]["label"]
        assert sorted(got[k]["children"]) == sorted(expected[k]["children"])


def test_streaming_index_delta_strategy_matches_batch(spark):
    """On block-aligned chunk files the stream runs the delta path
    (batch-only fold + associative merge, no history replay) in both
    runs, and it produces the same entries as the batch full recompute
    — the chain-scan contract. Chunks are cut at block boundaries (a
    real scan's fromBlock/toBlock ranges), one FILE per extract range:
    the file source chops micro-batches at file boundaries, so a
    multi-file range could split one block's events across batches in
    arbitrary file order (documented on start_index_stream)."""
    import time as _time

    rows, chunks = _block_chunks()
    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = (
        f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    )
    os.makedirs(src)
    progress = []
    for run in ([chunks[0], chunks[1]], [chunks[2]]):
        for c in run:
            build_raw_logs(events_df(spark, c)).coalesce(1).write.mode(
                "append").parquet(src)
            _time.sleep(0.05)  # distinct mtimes, as a polling writer has
        start_index_stream(
            spark, src, tbl, ent, ckpt, on_progress=progress.append
        ).awaitTermination(240)
    assert progress and all(p["entries_strategy"] == "delta" for p in progress)
    _assert_entries_match_fold(spark, ent, rows)


def test_auto_strategy_picks_delta_on_chain_scan_layout(spark):
    """The default 'auto' strategy detects the
    chain-scan writer's one-sorted-file-per-range layout (disjoint
    per-file block spans, mtime order = block order) from parquet
    footers alone and runs the O(batch) delta path — no side-index
    lookups, no history replay — and the result still equals the batch
    recompute."""
    import time as _time

    from hypermap_etl_spark.operators.decode import parse_raw_logs
    from hypermap_etl_spark.streaming.scan import (
        source_layout_block_aligned,
        start_index_stream,
    )

    rows = sorted(
        _fixture_rows(), key=lambda r: (r["blockNumber"], r["logIndex"])
    )
    chunks = [
        [r for r in rows if r["blockNumber"] <= 15],
        [r for r in rows if 15 < r["blockNumber"] <= 19],
        [r for r in rows if r["blockNumber"] > 19],
    ]
    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = (
        f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    )
    os.makedirs(src)
    for c in chunks:
        build_raw_logs(events_df(spark, c)).repartition(
            1
        ).sortWithinPartitions("blockNumber").write.mode("append").parquet(
            src
        )
        _time.sleep(0.05)  # distinct mtimes, as a polling writer has
    assert source_layout_block_aligned(src) is True
    progress = []
    q = start_index_stream(
        spark, src, tbl, ent, ckpt, on_progress=progress.append
    )
    q.awaitTermination(240)
    assert progress and all(
        p["entries_strategy"] == "delta" for p in progress
    )
    assert all(p["replay_buckets"] is None for p in progress)

    expected_events = parse_raw_logs(build_raw_logs(events_df(spark, rows)))
    expected = {
        r["namehash"]: r.asDict()
        for r in materialize_entries(expected_events).collect()
    }
    got = {r["namehash"]: r.asDict() for r in spark.read.parquet(ent).collect()}
    assert set(got) == set(expected)
    for k in expected:
        for fld in ("label", "parentHash", "owner", "gene",
                    "creationBlock", "lastUpdateBlock"):
            assert got[k][fld] == expected[k][fld], (k, fld)


def test_auto_strategy_falls_back_to_replay_on_shuffled_layout(spark):
    """A source whose files have OVERLAPPING block spans (a range
    re-written as shuffled part files) fails the layout check, so
    'auto' runs replay — which is indifferent to layout — and still
    matches the batch recompute."""
    from hypermap_etl_spark.operators.decode import parse_raw_logs
    from hypermap_etl_spark.streaming.scan import (
        source_layout_block_aligned,
        start_index_stream,
    )

    rows = _fixture_rows()
    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = (
        f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    )
    os.makedirs(src)
    # two chunks whose block ranges interleave (rows[:8] spans 10..20,
    # rows[8:] spans 17..25) — each possibly multi-file too
    build_raw_logs(events_df(spark, rows[:8])).write.mode("append").parquet(src)
    build_raw_logs(events_df(spark, rows[8:])).write.mode("append").parquet(src)
    assert source_layout_block_aligned(src) is False
    progress = []
    q = start_index_stream(
        spark, src, tbl, ent, ckpt, on_progress=progress.append
    )
    q.awaitTermination(240)
    assert progress and all(
        p["entries_strategy"] == "replay" for p in progress
    )

    expected_events = parse_raw_logs(build_raw_logs(events_df(spark, rows)))
    expected = {
        r["namehash"]: r.asDict()
        for r in materialize_entries(expected_events).collect()
    }
    got = {r["namehash"]: r.asDict() for r in spark.read.parquet(ent).collect()}
    assert set(got) == set(expected)
    for k in expected:
        assert got[k]["label"] == expected[k]["label"]


def test_auto_strategy_empty_source_has_no_evidence(spark):
    from hypermap_etl_spark.streaming.scan import source_layout_block_aligned

    assert source_layout_block_aligned(tempfile.mkdtemp()) is False


def test_layout_mtime_ties_are_no_evidence(spark):
    """Equal mtimes between adjacent files fail the layout
    check — Spark orders equal-timestamp files arbitrarily, so a tie
    proves nothing about pickup order even when block spans are
    disjoint and sorted."""
    from hypermap_etl_spark.streaming.scan import source_layout_block_aligned

    rows = sorted(
        _fixture_rows(), key=lambda r: (r["blockNumber"], r["logIndex"])
    )
    src = tempfile.mkdtemp()
    build_raw_logs(
        events_df(spark, [r for r in rows if r["blockNumber"] <= 15])
    ).coalesce(1).write.mode("append").parquet(src)
    build_raw_logs(
        events_df(spark, [r for r in rows if r["blockNumber"] > 15])
    ).coalesce(1).write.mode("append").parquet(src)
    # pin every data file to ONE mtime (coarse-clock / fast-writer tie)
    files = [
        os.path.join(root, n)
        for root, _d, names in os.walk(src)
        for n in names
        if n.endswith(".parquet")
    ]
    assert len(files) == 2
    for f in files:
        os.utime(f, (1_700_000_000, 1_700_000_000))
    assert source_layout_block_aligned(src) is False


def test_delta_demotes_to_replay_on_midstream_disorder(spark):
    """The delta contract is re-verified per micro-batch. A stream
    that started on a block-aligned source (delta) and then receives a
    file whose blocks are NOT strictly above the applied high-water
    mark (a backfill file landing late) demotes itself to 'replay' for
    the rest of the run — and the final entries still equal the batch
    recompute, because replay re-folds the touched keys' full
    history."""
    import time as _time

    rows, (a, c, b) = _block_chunks()
    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = (
        f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    )
    os.makedirs(src)
    staged_a, staged_b, staged_c = _stage_chunks(spark, [a, b, c], base)
    t0 = _time.time() - 60
    _land([staged_a, staged_b], src, t0)
    progress = []
    q = start_index_stream(
        spark, src, tbl, ent, ckpt, trigger={"processingTime": "1 second"},
        max_files_per_trigger=1, on_progress=progress.append,
    )
    try:
        q.processAllAvailable()
        # C lands after B, but its blocks sit BELOW the high-water B
        # established, violating the contract
        _land([staged_c], src, t0 + 2)
        q.processAllAvailable()
    finally:
        q.stop()
    strategies = [p["entries_strategy"] for p in progress]
    assert strategies == ["delta", "delta", "replay"], strategies
    assert progress[-1]["delta_fallback_at"] == progress[-1]["batch_id"]
    _assert_entries_match_fold(spark, ent, rows)


def test_index_stream_resolves_strategy_at_first_batch(spark):
    """A stream started on an EMPTY source picks its entries path at
    its first non-empty batch, not at start: chain-scan files that land
    after the start run the delta path, and the entries equal the
    batch recompute."""
    import time as _time

    rows, chunks = _block_chunks()
    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = (
        f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    )
    os.makedirs(src)
    staged = _stage_chunks(spark, chunks, base)
    progress = []
    q = start_index_stream(
        spark, src, tbl, ent, ckpt, trigger={"processingTime": "1 second"},
        on_progress=progress.append,
    )
    try:
        q.processAllAvailable()  # nothing to read yet
        _land(staged, src, _time.time() - 60)
        q.processAllAvailable()
    finally:
        q.stop()
    assert progress and all(p["entries_strategy"] == "delta" for p in progress)
    _assert_entries_match_fold(spark, ent, rows)


def _fail_one_delta_leg(spark, monkeypatch, module, attr):
    """Index the three block-aligned chunks (one delta batch each) with
    ``module.attr`` raising on its second call, i.e. inside the second
    batch's concurrent table writes. The query fails with that error
    and no events-table lock outlives it; a restart on the same
    checkpoint redelivers the batch and brings the events table and the
    entries table to the full log."""
    import time as _time

    from hypermap_etl_spark.operators.decode import parse_raw_logs

    rows, chunks = _block_chunks()
    base = tempfile.mkdtemp()
    src, tbl, ent, ckpt = (
        f"{base}/src", f"{base}/tbl", f"{base}/entries", f"{base}/ckpt"
    )
    os.makedirs(src)
    _land(_stage_chunks(spark, chunks, base), src, _time.time() - 60)
    real, calls = getattr(module, attr), []

    def flaky(*a, **kw):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected leg failure")
        return real(*a, **kw)

    monkeypatch.setattr(module, attr, flaky)
    q = start_index_stream(spark, src, tbl, ent, ckpt, max_files_per_trigger=1)
    with pytest.raises(Exception, match="injected leg failure"):
        q.awaitTermination(240)
    assert not os.path.exists(f"{tbl}__lock")

    progress = []
    start_index_stream(
        spark, src, tbl, ent, ckpt, max_files_per_trigger=1,
        on_progress=progress.append,
    ).awaitTermination(240)
    assert progress and all(p["entries_strategy"] == "delta" for p in progress)
    expected = parse_raw_logs(build_raw_logs(events_df(spark, rows)))
    got = spark.read.parquet(tbl)
    assert got.count() == expected.count()
    assert got.select("event_id").subtract(expected.select("event_id")).isEmpty()
    _assert_entries_match_fold(spark, ent, rows)


def test_delta_batch_entries_leg_failure_recovers(spark, monkeypatch):
    """The entries leg of a delta batch raises while the events MERGE
    runs beside it."""
    from hypermap_etl_spark.operators import materialize

    _fail_one_delta_leg(spark, monkeypatch, materialize, "incremental_entries_delta")


def test_delta_batch_events_leg_failure_recovers(spark, monkeypatch):
    """The events leg of a delta batch raises while the entries delta
    runs beside it, leaving the entries table ahead of the events."""
    from hypermap_etl_spark.streaming import scan

    _fail_one_delta_leg(spark, monkeypatch, scan, "merge_into_parquet")
