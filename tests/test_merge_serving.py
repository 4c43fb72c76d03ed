"""S5/S6/T3 merge semantics + serving-layer queries (A1-A7, O1-O4, P8-P11)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from hypermap_etl_spark.operators.enrich import enrich_timestamps
from hypermap_etl_spark.operators.merge import merge_into_parquet, with_block_bucket
from hypermap_etl_spark.plans import serving
from tests.helpers import ev, events_df, h


def _mk(spark, n, label="a", start=0):
    return events_df(
        spark,
        [
            ev(eventType="Mint", blockNumber=start + i, logIndex=0, parenthash=h(1),
               childhash=h(100 + i), label=label,
               transactionHash="0x" + format(start + i, "064x"))
            for i in range(n)
        ],
    )


def _merge_bucketed(spark, path, df):
    return merge_into_parquet(
        spark, path, with_block_bucket(df), ["event_id"], "block_bucket"
    )


def test_merge_upsert_and_update(spark):
    path = tempfile.mkdtemp() + "/tbl"
    r1 = _merge_bucketed(spark, path, _mk(spark, 5))
    assert r1 == {"upsertedCount": 5, "modifiedCount": 0}
    # overlapping batch: 3 updates (new label wins) + 2 inserts
    r2 = _merge_bucketed(spark, path, _mk(spark, 5, label="b", start=2))
    assert r2 == {"upsertedCount": 2, "modifiedCount": 3}
    tbl = spark.read.parquet(path)
    assert tbl.count() == 7
    assert tbl.filter(F.col("label") == "b").count() == 5  # $set semantics: new wins


def test_partitioned_merge_leaves_untouched_partitions_alone(spark):
    """With partition_col, a merge must rewrite ONLY touched buckets:
    untouched partition files stay byte-identical (the parquet-native
    incremental MERGE the streaming path relies on). Every partition
    overwrite (create and update merge, delete_keys, reorg_rollback's
    fork-bucket rewrite) leaves each bucket it writes as one file."""
    import glob
    import hashlib
    import os

    from hypermap_etl_spark.operators.merge import delete_keys, reorg_rollback

    path = tempfile.mkdtemp() + "/tbl"
    # buckets 0 and 1 (block 150k)
    base = with_block_bucket(
        _mk(spark, 3).unionByName(_mk(spark, 2, start=150_000))
    )
    merge_into_parquet(spark, path, base, ["event_id"], partition_col="block_bucket")

    def fingerprint(bucket):
        files = sorted(glob.glob(f"{path}/block_bucket={bucket}/*.parquet"))
        return [
            (os.path.basename(f), hashlib.md5(open(f, "rb").read()).hexdigest())
            for f in files
        ]

    def assert_one_file(*buckets):
        for b in buckets:
            assert len(fingerprint(b)) == 1, (b, fingerprint(b))

    assert_one_file(0, 1)
    before_b0 = fingerprint(0)
    # merge touching ONLY bucket 1
    r = merge_into_parquet(
        spark,
        path,
        with_block_bucket(_mk(spark, 4, label="b", start=150_001)),
        ["event_id"],
        partition_col="block_bucket",
    )
    assert r == {"upsertedCount": 3, "modifiedCount": 1}
    assert fingerprint(0) == before_b0  # bucket-0 files untouched
    assert_one_file(1)
    tbl = spark.read.parquet(path)
    assert tbl.count() == 3 + 1 + 4
    assert tbl.filter(F.col("label") == "b").count() == 4

    # blocks 150_000..150_004 in bucket 1: delete one, then roll back
    # above 150_002 (the fork bucket is rewritten, not dropped)
    victim = tbl.filter(F.col("blockNumber") == 150_001).select("event_id").localCheckpoint()
    rep = delete_keys(spark, path, victim, ["event_id"], "block_bucket")
    assert rep == {"deletedCount": 1, "partitionsRewritten": 1}
    assert fingerprint(0) == before_b0
    assert_one_file(1)
    rep = reorg_rollback(spark, path, fork_block=150_002)
    assert rep["eventsDeleted"] == 2 and rep["bucketsRewritten"] == 1
    assert fingerprint(0) == before_b0
    assert_one_file(1)
    blocks = sorted(r[0] for r in spark.read.parquet(path).select("blockNumber").collect())
    assert blocks == [0, 1, 2, 150_000, 150_002]


def test_merge_rejects_table_with_unexpected_columns(spark):
    """The stored table is read with the batch's schema (no inference
    job), so a table holding a column the batch lacks must still fail
    the merge loudly, not be rewritten with that column dropped."""
    import pytest

    path = tempfile.mkdtemp() + "/tbl"
    _merge_bucketed(spark, path, _mk(spark, 3).withColumn("extra", F.lit(1)))
    with pytest.raises(ValueError, match="extra"):
        _merge_bucketed(spark, path, _mk(spark, 2, start=5))
    assert "extra" in spark.read.parquet(path).columns
    assert spark.read.parquet(path).count() == 3


def test_merge_dedupes_within_batch(spark):
    path = tempfile.mkdtemp() + "/tbl"
    batch = _mk(spark, 3).unionByName(_mk(spark, 3))  # exact dups in one batch
    r = _merge_bucketed(spark, path, batch)
    assert r["upsertedCount"] == 3
    assert spark.read.parquet(path).count() == 3


def test_enrich_timestamps_null_tolerant(spark):
    events = _mk(spark, 4)  # blocks 0..3
    blocks = spark.createDataFrame([(0, 1000), (1, 1002), (3, 1006)], "blockNumber long, timestamp long")
    out = enrich_timestamps(events, blocks)
    ts = {r["blockNumber"]: r["timestamp"] for r in out.collect()}
    assert ts == {0: 1000, 1: 1002, 2: None, 3: 1006}


def _serving_events(spark):
    rows = []
    for i in range(30):
        rows.append(
            ev(eventType="Note" if i % 3 else "Mint", blockNumber=100 + i, logIndex=i % 2,
               parenthash=h(1), childhash=h(200 + i), notehash=h(300 + i),
               timestamp=1_700_000_000 + i * 86400,
               transactionHash="0x" + format(i, "064x"))
        )
    return events_df(spark, rows)


def test_status_counts_and_pct(spark):
    out = serving.status_counts(_serving_events(spark)).collect()
    d = {r["eventType"]: (r["count"], r["percentage"]) for r in out}
    assert d["Note"][0] == 20 and d["Mint"][0] == 10
    assert d["Note"][1] == 67 and d["Mint"][1] == 33
    assert out[0]["eventType"] == "Note"  # sorted desc


def test_get_status_shape(spark):
    st = serving.get_status(_serving_events(spark))
    assert st["totalEvents"] == 30
    assert st["lastBlock"] == 129
    assert st["lastBlockTimestamp"] == 1_700_000_000 + 29 * 86400


def test_pagination_clamps_and_pages(spark):
    evd = _serving_events(spark)
    # limit clamped to 100, page>=1
    assert serving.get_events(evd, limit=500).count() == 30
    page1 = serving.get_events(evd, limit=10, page=1).collect()
    page2 = serving.get_events(evd, limit=10, page=2).collect()
    assert [r["blockNumber"] for r in page1] == list(range(129, 119, -1))
    assert [r["blockNumber"] for r in page2] == list(range(119, 109, -1))
    # P8 filter + A2 count
    assert serving.count_events(evd, event_type="Mint") == 10
    # P9 date filter (>= 10 days in)
    from datetime import datetime, timezone

    d10 = datetime.fromtimestamp(1_700_000_000 + 10 * 86400, tz=timezone.utc).strftime("%Y-%m-%d")
    assert serving.count_events(evd, start_date=d10) <= 20


def test_entry_history_predicate(spark):
    evd = _serving_events(spark)
    hist = serving.get_events_for_entry(evd, h(203)).collect()
    assert len(hist) == 1 and hist[0]["childhash"] == h(203)
    parent_hist = serving.get_events_for_entry(evd, h(1))
    assert parent_hist.count() == 30  # all Mints+Notes reference parent h(1)
    blocks = [r["blockNumber"] for r in parent_hist.collect()]
    assert blocks == sorted(blocks)  # O2 replay order


def test_compact_partitions_only_rewrites_oversized(spark):
    """Compaction must collapse a many-file partition to one file while
    leaving partitions under the threshold byte-identical."""
    import glob
    import hashlib
    import os

    from hypermap_etl_spark.operators.merge import (
        compact_partitions,
        partition_file_counts,
        with_block_bucket,
    )

    tbl = tempfile.mkdtemp() + "/tbl"
    # bucket 0: 6 single-row appends (the S5 insert-sink shape) → 6 files;
    # bucket 2: one append → 1 file
    for i in range(6):
        with_block_bucket(events_df(spark, [ev(
            eventType="Mint", blockNumber=10 + i, logIndex=0,
            parenthash=h(1), childhash=h(10 + i), label=f"a{i}")])).coalesce(
            1
        ).write.partitionBy("block_bucket").mode("append").parquet(tbl)
    with_block_bucket(events_df(spark, [ev(
        eventType="Mint", blockNumber=250_000, logIndex=0,
        parenthash=h(2), childhash=h(99), label="b")])).coalesce(
        1
    ).write.partitionBy("block_bucket").mode("append").parquet(tbl)
    counts = partition_file_counts(tbl, "block_bucket")
    assert counts[0] >= 6 and counts[2] >= 1

    def fp(bucket):
        return [
            (os.path.basename(f), hashlib.md5(open(f, "rb").read()).hexdigest())
            for f in sorted(glob.glob(f"{tbl}/block_bucket={bucket}/*.parquet"))
        ]

    b2_before = fp(2)
    rep = compact_partitions(spark, tbl, "block_bucket", max_files=4)
    assert rep["partitions_compacted"] == 1
    assert rep["files_before"] >= 6 and rep["files_after"] == 1
    assert fp(2) == b2_before  # under-threshold partition untouched
    df = spark.read.parquet(tbl)
    assert df.count() == 7
    assert df.filter(F.col("block_bucket") == 0).count() == 6


def test_compact_small_table_dedupes(spark):
    """Key-index compaction: appended duplicate pairs collapse to the
    distinct set in one file."""
    import glob

    from hypermap_etl_spark.operators.merge import compact_small_table

    idx = tempfile.mkdtemp() + "/idx"
    rows = [(h(1), 0), (h(2), 1)]
    for _ in range(4):
        spark.createDataFrame(rows, "namehash string, block_bucket int").write.mode(
            "append"
        ).parquet(idx)
    assert len(glob.glob(f"{idx}/*.parquet")) >= 4
    n = compact_small_table(spark, idx)
    assert n == 2
    assert len(glob.glob(f"{idx}/*.parquet")) == 1
    got = {tuple(r) for r in spark.read.parquet(idx).collect()}
    assert got == set(rows)


def test_merge_lock_blocks_concurrent_writer(spark, tmp_path):
    """A held lock makes a second merge fail loudly instead of racing
    the first; a stale lock (crashed writer) is taken over."""
    import os
    import time as _time

    import pytest

    from hypermap_etl_spark.operators.merge import (
        ConcurrentMergeError,
        _merge_lock,
        merge_into_parquet,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", 0)], "event_id long, v string, p int")
    with _merge_lock(table):
        with pytest.raises(ConcurrentMergeError):
            merge_into_parquet(spark, table, df, ["event_id"], "p")
    # lock released -> merge proceeds
    assert merge_into_parquet(spark, table, df, ["event_id"], "p") == {
        "upsertedCount": 1,
        "modifiedCount": 0,
    }
    # stale lock (old mtime) is taken over, then cleaned up
    lock = f"{table}__lock"
    os.mkdir(lock)
    old = _time.time() - 7200
    os.utime(lock, (old, old))
    res = merge_into_parquet(spark, table, df, ["event_id"], "p")
    assert res == {"upsertedCount": 0, "modifiedCount": 1}
    assert not os.path.exists(lock)


def test_compaction_respects_merge_lock(spark, tmp_path):
    """Compaction deletes the files it rewrites, so it must honor the
    table's single-writer lock: a CLI compact against a table a stream
    is actively merging fails loudly instead of failing that merge's
    scan mid-read."""
    import pytest

    from hypermap_etl_spark.operators.merge import (
        ConcurrentMergeError,
        _merge_lock,
        compact_partitions,
        compact_small_table,
        merge_into_parquet,
        with_block_bucket,
    )

    table = str(tmp_path / "t")
    df = with_block_bucket(
        spark.createDataFrame([(1, 5, "a")], "event_id long, blockNumber long, v string")
    )
    merge_into_parquet(spark, table, df, ["event_id"], partition_col="block_bucket")
    with _merge_lock(table):
        with pytest.raises(ConcurrentMergeError):
            compact_partitions(spark, table, "block_bucket", max_files=0)
    # released → runs (partition has 1 file ≤ max_files default: no-op is fine)
    rep = compact_partitions(spark, table, "block_bucket", max_files=8)
    assert rep["partitions_compacted"] == 0

    side = str(tmp_path / "side")
    spark.createDataFrame([(1,)], "k long").write.parquet(side)
    with _merge_lock(side):
        with pytest.raises(ConcurrentMergeError):
            compact_small_table(spark, side)
    assert compact_small_table(spark, side) == 1


def test_compact_partitions_restores_sort_clustering(spark):
    """With sort_cols, compaction rewrites oversized partitions sorted,
    so the parquet row-group stats tighten back up (appends arrive in
    interleaved order). Rows and values must be unchanged."""
    import glob

    import pyarrow.parquet as pq

    from hypermap_etl_spark.operators.merge import (
        compact_partitions,
        with_block_bucket,
    )

    tbl = tempfile.mkdtemp() + "/tbl"
    # interleaved arrival: blockNumbers 15,14,...,10 across 6 appends
    for i in reversed(range(6)):
        with_block_bucket(events_df(spark, [ev(
            eventType="Mint", blockNumber=10 + i, logIndex=0,
            parenthash=h(1), childhash=h(10 + i), label=f"a{i}")])).coalesce(
            1
        ).write.partitionBy("block_bucket").mode("append").parquet(tbl)

    before = {r["blockNumber"] for r in spark.read.parquet(tbl).collect()}
    rep = compact_partitions(
        spark, tbl, "block_bucket", max_files=4, sort_cols=["blockNumber"]
    )
    assert rep["files_after"] == 1
    files = glob.glob(f"{tbl}/block_bucket=0/*.parquet")
    assert len(files) == 1
    t = pq.read_table(files[0], columns=["blockNumber"])
    vals = t.column("blockNumber").to_pylist()
    assert vals == sorted(vals)  # physically sorted inside the file
    assert {r["blockNumber"] for r in spark.read.parquet(tbl).collect()} == before


def test_delete_keys_partitioned_touches_only_matching_buckets(spark, tmp_path):
    """GDPR erasure on the partitioned table: only partitions holding
    the victim keys are rewritten; a partition fully emptied by the
    delete disappears (dynamic overwrite alone would leave its files)."""
    import os

    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators.merge import delete_keys

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 4, f"u{i % 10}") for i in range(100)],
        "row_id long, bucket int, user string",
    )
    df.write.partitionBy("bucket").parquet(path)
    before = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path) if f.startswith("bucket=")
    }

    # u3 and u7: rows 3,13,...,93 -> every bucket is touched here, so
    # target users living only in bucket 1 instead: rows where
    # row_id % 10 in (1,) live in buckets 1 % 4... pick explicit rows
    victims = spark.createDataFrame([(3,), (13,), (23,)], "row_id long")
    rep = delete_keys(spark, path, victims, ["row_id"], "bucket")
    assert rep["deletedCount"] == 3
    assert rep["partitionsRewritten"] == 2  # 3,23 -> bucket 3; 13 -> bucket 1
    back = spark.read.parquet(path)
    assert back.count() == 97
    assert back.filter(F.col("row_id").isin(3, 13, 23)).count() == 0
    # untouched partitions keep their original files
    after = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path) if f.startswith("bucket=")
    }
    assert after["bucket=0"] == before["bucket=0"]
    assert after["bucket=2"] == before["bucket=2"]


def test_delete_keys_empties_whole_partition_and_unpartitioned(spark, tmp_path):
    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators.merge import delete_keys

    path = str(tmp_path / "tbl2")
    df = spark.createDataFrame(
        [(i, 0 if i < 5 else 1) for i in range(10)], "k long, bucket int"
    )
    df.write.partitionBy("bucket").parquet(path)
    # delete ALL of bucket 0
    victims = spark.createDataFrame([(i,) for i in range(5)], "k long")
    rep = delete_keys(spark, path, victims, ["k"], "bucket")
    assert rep["deletedCount"] == 5
    back = spark.read.parquet(path)
    assert back.count() == 5
    assert back.filter(F.col("bucket") == 0).count() == 0

    # the partition column is required: there is no unpartitioned delete
    with pytest.raises(TypeError, match="partition_col"):
        delete_keys(spark, path, victims, ["k"])
    # missing table: no-op
    rep3 = delete_keys(
        spark, str(tmp_path / "nope"),
        spark.createDataFrame([(1,)], "k long"), ["k"], "bucket",
    )
    assert rep3 == {"deletedCount": 0, "partitionsRewritten": 0}


def test_delete_keys_escaped_string_partitions(spark, tmp_path):
    """Spark percent-escapes special characters in string
    partition directory names (``src=a:b`` -> ``src=a%3Ab``); emptied-
    partition removal must resolve the ESCAPED directory, not the
    naive f-string path, or the stale files survive the delete."""
    import os

    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators.merge import delete_keys

    path = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "a:b"), (3, "plain"), (4, "with space")],
        "k long, src string",
    )
    df.write.partitionBy("src").parquet(path)
    dirs = {d for d in os.listdir(path) if d.startswith("src=")}
    assert "src=a%3Ab" in dirs  # the escaping this test is about

    victims = spark.createDataFrame([(1,), (2,), (4,)], "k long")
    rep = delete_keys(spark, path, victims, ["k"], "src")
    assert rep["deletedCount"] == 3
    # both emptied partitions (escaped ':' and escaped space) are gone
    # on disk AND from a fresh read
    left = {d for d in os.listdir(path) if d.startswith("src=")}
    assert left == {"src=plain"}
    back = spark.read.parquet(path)
    assert [(r["k"], r["src"]) for r in back.collect()] == [(3, "plain")]
    # no trash/staging residue: the trash dir is removed inline
    assert not [
        d for d in os.listdir(tmp_path)
        if "__trash" in d or "__old_" in d or "__staging_" in d
    ]


def test_null_partition_keeps_other_rows(spark, tmp_path):
    """NULL is a partition value of its own: a delete or a merge that
    touches it rewrites that partition like any other, keeping its
    untouched rows, and counts what it changed."""
    from hypermap_etl_spark.operators.merge import delete_keys

    schema = "k long, v string, src string"
    rows = [(1, "a", None), (2, "a", None), (3, "a", "x"), (4, "a", "x")]

    def back(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).select("k", "v", "src").collect())

    path = str(tmp_path / "del")
    spark.createDataFrame(rows, schema).write.partitionBy("src").parquet(path)
    rep = delete_keys(
        spark, path, spark.createDataFrame([(1,)], "k long"), ["k"], "src"
    )
    assert rep == {"deletedCount": 1, "partitionsRewritten": 1}
    assert back(path) == [(2, "a", None), (3, "a", "x"), (4, "a", "x")]

    path = str(tmp_path / "merge")
    merge_into_parquet(spark, path, spark.createDataFrame(rows, schema), ["k"], "src")
    rep = merge_into_parquet(
        spark, path, spark.createDataFrame([(1, "b", None)], schema), ["k"], "src"
    )
    assert rep == {"upsertedCount": 0, "modifiedCount": 1}
    assert back(path) == [(1, "b", None), (2, "a", None), (3, "a", "x"), (4, "a", "x")]


def test_delete_keys_emptied_partition_vanishes_atomically(spark, tmp_path):
    """Reader-safety of emptied-partition removal: the
    doomed directory is RENAMED into a trash dir before any file is
    deleted, so a root listing taken at any point sees the partition
    either whole or absent — never half-emptied. Simulate the crash
    window (trash renamed, rmtree not yet run): the table must read
    consistently post-delete, and the next removal empties the
    orphaned trash first."""
    import os

    from hypermap_etl_spark.operators.merge import _remove_partition_dirs

    path = str(tmp_path / "atomic")
    spark.createDataFrame(
        [(i, i % 2) for i in range(10)], "k long, bucket int"
    ).write.partitionBy("bucket").parquet(path)

    # crash window: rename happened, rmtree didn't (emulated by doing
    # the rename half by hand exactly as _remove_partition_dirs does)
    trash = f"{path}__trash"
    os.makedirs(trash)
    os.rename(os.path.join(path, "bucket=1"), os.path.join(trash, "bucket=1"))
    # a reader listing the root now sees a CONSISTENT table: bucket 1
    # fully absent, bucket 0 fully present — no partial partition
    assert spark.read.parquet(path).count() == 5
    assert {d for d in os.listdir(path) if d.startswith("bucket=")} == {
        "bucket=0"
    }
    # the next removal empties the orphan, removes its own partition
    # and leaves no trash behind
    removed = _remove_partition_dirs(path, "bucket", [0])
    assert removed == 1
    assert not [d for d in os.listdir(path) if d.startswith("bucket=")]
    assert not os.path.exists(trash)


# ------------------------------------------------------------ reorg rollback


def _reorg_fixture(spark):
    from hypermap_etl_spark.constants import ROOT_HASH
    from tests.helpers import ev, events_df, h

    P, C = h(1), h(2)
    rows = [
        ev(eventType="Mint", blockNumber=10, logIndex=0,
           parenthash=ROOT_HASH, childhash=P, labelhash=h(31), label="alpha"),
        ev(eventType="Fact", blockNumber=16, logIndex=0, parenthash=P,
           facthash=h(21), labelhash=h(22), label="color", data="0xaa"),
        # above the fork: a child mint and a later fact overwrite
        ev(eventType="Mint", blockNumber=150_005, logIndex=0,
           parenthash=P, childhash=C, labelhash=h(32), label="c2"),
        ev(eventType="Fact", blockNumber=250_001, logIndex=0, parenthash=P,
           facthash=h(21), labelhash=h(22), label="color", data="0xbb"),
    ]
    return P, C, events_df(spark, rows)


def _index_tables(events, base):
    """The events and entries tables of ``events`` in the layout `index`
    writes them: events by block_bucket, entries by entry_bucket."""
    from hypermap_etl_spark.operators.materialize import (
        materialize_entries,
        with_entry_bucket,
    )
    from hypermap_etl_spark.operators.merge import with_block_bucket

    epath, npath = f"{base}/events", f"{base}/entries"
    with_block_bucket(events).write.partitionBy("block_bucket").parquet(epath)
    with_entry_bucket(materialize_entries(events)).write.partitionBy(
        "entry_bucket"
    ).parquet(npath)
    return epath, npath


def test_reorg_rollback_drops_tail_buckets_and_repairs_entries(spark, tmp_path):
    """Fork below the bucket boundary: whole tail buckets disappear as
    directories, bucket 0 is never rewritten, and the entries repair
    deletes the orphaned child, reverts the fact overwrite, and winds
    lastUpdateBlock back."""
    import os

    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators.materialize import materialize_entries
    from hypermap_etl_spark.operators.merge import reorg_rollback

    P, C, events = _reorg_fixture(spark)
    epath, npath = _index_tables(events, tmp_path)
    b0 = {
        f: os.path.getmtime(os.path.join(epath, "block_bucket=0", f))
        for f in os.listdir(os.path.join(epath, "block_bucket=0"))
    }

    rep = reorg_rollback(spark, epath, fork_block=100_000, entries_path=npath)
    assert rep["eventsDeleted"] == 2
    assert rep["bucketsDropped"] == 2 and rep["bucketsRewritten"] == 0
    assert rep["entriesDeleted"] == 1  # C existed only above the fork
    dirs = {d for d in os.listdir(epath) if d.startswith("block_bucket=")}
    assert dirs == {"block_bucket=0"}
    # bucket 0 files untouched (mtimes identical — never rewritten)
    assert b0 == {
        f: os.path.getmtime(os.path.join(epath, "block_bucket=0", f))
        for f in os.listdir(os.path.join(epath, "block_bucket=0"))
    }
    ent = {
        r["namehash"]: r
        for r in spark.read.parquet(npath).drop("entry_bucket").collect()
    }
    assert C not in ent
    assert ent[P]["children"] == []
    assert ent[P]["facts"] == {"color": "0xaa"}  # overwrite at 250_001 undone
    assert ent[P]["lastUpdateBlock"] == 16
    # the repaired state IS the fresh fold of the surviving log
    fresh = {
        r["namehash"]: r
        for r in materialize_entries(
            events.filter(F.col("blockNumber") <= 100_000)
        ).collect()
    }
    assert set(ent) == set(fresh)
    for k in ent:
        assert ent[k].asDict() == fresh[k].asDict()


def test_reorg_rollback_mid_bucket_and_self_healing(spark, tmp_path):
    """Fork inside bucket 0: exactly one partition rewrite. Then the
    crash scenario — events already truncated (entries repair never
    ran): a re-run finds zero discarded events but still repairs the
    stale entries via the lastUpdateBlock widening."""
    from hypermap_etl_spark.operators.merge import reorg_rollback

    P, C, events = _reorg_fixture(spark)
    epath, npath = _index_tables(events, tmp_path)

    # crash half: truncate events only (fork mid-bucket-0, drops the
    # fact at 16 too)
    rep1 = reorg_rollback(spark, epath, fork_block=12, entries_path=None)
    assert rep1["eventsDeleted"] == 3
    assert rep1["bucketsRewritten"] == 1 and rep1["bucketsDropped"] == 2
    assert spark.read.parquet(epath).count() == 1

    # re-run WITH entries: no events left to discard, repair still runs
    rep2 = reorg_rollback(spark, epath, fork_block=12, entries_path=npath)
    assert rep2["eventsDeleted"] == 0
    assert rep2["entriesDeleted"] == 1  # C
    ent = {r["namehash"]: r for r in spark.read.parquet(npath).collect()}
    assert C not in ent
    assert ent[P]["facts"] == {} and ent[P]["lastUpdateBlock"] == 10


def test_reorg_rollback_drops_parked_writes_above_fork(spark, tmp_path):
    """A delta-path early write parked above the fork goes with its
    event: after the rollback, a Mint of its target must not retry it.
    Re-running the rollback converges to the same state."""
    from hypermap_etl_spark.constants import ROOT_HASH
    from hypermap_etl_spark.operators.materialize import (
        incremental_entries_delta,
        materialize_entries,
    )
    from hypermap_etl_spark.operators.merge import reorg_rollback, with_block_bucket

    P, T = h(1), h(2)
    epath, npath = f"{tmp_path}/events", f"{tmp_path}/entries"

    def apply(rows):
        events = with_block_bucket(events_df(spark, rows))
        merge_into_parquet(spark, epath, events, ["event_id"], "block_bucket")
        incremental_entries_delta(spark, npath, events)

    mint_p = ev(eventType="Mint", blockNumber=10, logIndex=0,
                parenthash=ROOT_HASH, childhash=P, labelhash=h(31), label="p")
    mint_t = ev(eventType="Mint", blockNumber=255, logIndex=0,
                parenthash=P, childhash=T, labelhash=h(32), label="t")
    apply([mint_p])
    # T is not minted yet: the write is parked in <entries>__pending
    apply([ev(eventType="Fact", blockNumber=320, logIndex=0, parenthash=T,
              facthash=h(21), labelhash=h(22), label="color", data="0xaa")])
    reorg_rollback(spark, epath, fork_block=200, entries_path=npath)
    reorg_rollback(spark, epath, fork_block=200, entries_path=npath)
    apply([mint_t])

    got = _ent_flat(spark.read.parquet(npath))
    assert dict(dict(got[T])["facts"]) == {}
    assert got == _ent_flat(materialize_entries(events_df(spark, [mint_p, mint_t])))


# --- hypothesis: reorg rollback == clean fold, any log, any depth --------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.test_fullname_props import _event_log


def _ent_flat(df):
    out = {}
    for r in df.collect():
        d = r.asDict()
        d.pop("entry_bucket", None)
        d["children"] = tuple(sorted(d["children"]))
        d["facts"] = tuple(sorted(d["facts"].items()))
        d["notes"] = tuple(sorted(d["notes"].items()))
        out[d.pop("namehash")] = tuple(sorted(d.items(), key=lambda kv: kv[0]))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=_event_log(),
    stride=st.sampled_from([1, 40_000, 75_000]),
    fork_frac=st.floats(0.0, 1.0),
)
def test_reorg_rollback_fuzz_equals_clean_fold(spark, rows, stride, fork_frac):
    """For ANY random log and ANY reorg depth (fork anywhere from
    genesis to the tip), rollback + repair must leave BOTH tables
    exactly as a fresh index of the surviving log would — the
    recovery-path analog of the delta fuzzer's semigroup claim.
    ``stride`` scales blocks so forks
    land below, inside, and above block-bucket boundaries (tail-bucket
    directory drops, the mid-bucket rewrite, and the no-op all get
    drawn)."""
    import shutil

    from hypermap_etl_spark.operators.materialize import materialize_entries
    from hypermap_etl_spark.operators.merge import reorg_rollback

    rows = [dict(r, blockNumber=r["blockNumber"] * stride) for r in rows]
    blocks = sorted({r["blockNumber"] for r in rows})
    fork = int(fork_frac * blocks[-1])
    base = tempfile.mkdtemp()
    events = events_df(spark, rows)
    epath, npath = _index_tables(events, base)

    rep = reorg_rollback(spark, epath, fork, entries_path=npath)
    surviving_rows = [r for r in rows if r["blockNumber"] <= fork]
    assert rep["eventsDeleted"] == len(rows) - len(surviving_rows)

    got_events = sorted(
        r["event_id"] for r in spark.read.parquet(epath).collect()
    ) if surviving_rows else []
    want_events = sorted(
        r["event_id"] for r in events_df(spark, surviving_rows).collect()
    ) if surviving_rows else []
    assert got_events == want_events

    want = (
        _ent_flat(materialize_entries(events_df(spark, surviving_rows)))
        if surviving_rows
        else {}
    )
    from hypermap_etl_spark.operators.merge import _has_parquet_files

    got = (
        _ent_flat(spark.read.parquet(npath))
        if _has_parquet_files(npath)
        else {}
    )
    assert got == want
    shutil.rmtree(base, ignore_errors=True)


# ------------------------------------------------- staged-swap crash matrix


class _SwapCrash(RuntimeError):
    pass


def _crash_swap_at(monkeypatch, path, point):
    """Make the staged swap (merge._swap_in) of the table at ``path``
    die at ``point``: after the staging write ("staged"), after the
    table is renamed away ("renamed_away"), or after the staging dir is
    renamed in but before the old dir is removed ("renamed_in")."""
    import os
    import shutil

    real_rename, real_rmtree = os.rename, shutil.rmtree
    old_prefix, staging_prefix = f"{path}__old_", f"{path}__staging_"

    def rename(src, dst, *a, **k):
        src, dst = str(src), str(dst)
        if point == "staged" and src == path and dst.startswith(old_prefix):
            raise _SwapCrash(point)
        if point == "renamed_away" and src.startswith(staging_prefix):
            raise _SwapCrash(point)
        return real_rename(src, dst, *a, **k)

    def rmtree(p, *a, **k):
        if point == "renamed_in" and str(p).startswith(old_prefix):
            raise _SwapCrash(point)
        return real_rmtree(p, *a, **k)

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(shutil, "rmtree", rmtree)


def _swap_case_compact_small_table(spark, base):
    from hypermap_etl_spark.operators.merge import compact_small_table

    path = f"{base}/idx"
    for _ in range(3):
        spark.createDataFrame(
            [(h(1), 0), (h(2), 1)], "namehash string, block_bucket int"
        ).write.mode("append").parquet(path)

    def run():
        compact_small_table(spark, path)

    def rows():
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    return path, run, rows


def _swap_case_pending_store(spark, base):
    """The delta path's early-writes store: the run mints X (applying
    its parked write), keeps the never-minted Z's write parked, so
    losing the old store loses Z's row, and parks its own write to the
    never-minted W, which a re-run after the rename-in must not park
    twice."""
    from hypermap_etl_spark.constants import ROOT_HASH
    from hypermap_etl_spark.operators.materialize import (
        entries_flat,
        incremental_entries_delta,
    )

    X, Z, W = h(61), h(63), h(65)

    def fact(block, i, target, data):
        return ev(eventType="Fact", blockNumber=block, logIndex=i,
                  parenthash=target, facthash=h(70 + i), labelhash=h(80 + i),
                  label=f"f{i}", data=data)

    entries = f"{base}/entries"
    incremental_entries_delta(
        spark, entries, events_df(spark, [fact(4, 0, X, "0x01"), fact(4, 1, Z, "0x02")])
    )
    batch = [
        ev(eventType="Mint", blockNumber=6, logIndex=0, parenthash=ROOT_HASH,
           childhash=X, labelhash=h(64), label="x"),
        fact(6, 1, W, "0x03"),
    ]

    def run():
        incremental_entries_delta(spark, entries, events_df(spark, batch))

    def rows():
        ent = sorted(tuple(r) for r in entries_flat(spark.read.parquet(entries)).collect())
        pend = sorted(
            tuple(r)
            for r in spark.read.parquet(entries + "__pending")
            .select("blockNumber", "logIndex", "parenthash").collect()
        )
        return ent, pend

    return entries + "__pending", run, rows


_SWAP_CASES = {
    "compact_small_table": _swap_case_compact_small_table,
    "pending_store": _swap_case_pending_store,
}


@pytest.fixture(scope="module", params=list(_SWAP_CASES))
def swap_case(request, spark, tmp_path_factory):
    """(case builder, the rows its call leaves when nothing crashes)."""
    case = _SWAP_CASES[request.param]
    _path, run, rows = case(spark, str(tmp_path_factory.mktemp("clean")))
    run()
    return case, rows()


@pytest.mark.parametrize("point", ["staged", "renamed_away", "renamed_in"])
def test_staged_swap_crash_matrix(spark, tmp_path, monkeypatch, swap_case, point):
    """Both side-table rewrites (the key index compaction, the pending
    store) commit through merge._swap_in. A crash
    at any of its three steps, followed by re-running the same call,
    must leave exactly the rows of a run that never crashed, and no
    ``__staging_``/``__old_`` dir next to the table."""
    import os

    case, want = swap_case
    base = str(tmp_path)
    path, run, rows = case(spark, base)
    with monkeypatch.context() as m:
        _crash_swap_at(m, path, point)
        with pytest.raises(_SwapCrash):
            run()
    run()
    assert rows() == want
    assert not [d for d in os.listdir(base) if "__staging_" in d or "__old_" in d]
