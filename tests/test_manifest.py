"""Manifest-committed tables (sources/manifest.py): the object-store-
safe commit protocol — no data rename anywhere, readers resolve a
manifest instead of listing, merge/delete/rollback keep the
merge_into_parquet contract, and a reader pinned to an old manifest
stays consistent through a concurrent commit."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from hypermap_etl_spark.sources.manifest import (
    current_version,
    delete_keys_table,
    manifest_versions,
    merge_table,
    read_manifest,
    read_table,
    rollback_table,
    vacuum_table,
    write_table,
)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string, b int")


def _snap(spark, table, version=None):
    return sorted(
        (r["k"], r["v"], r["b"])
        for r in read_table(spark, table, version=version).collect()
    )


def test_write_read_roundtrip_unpartitioned(spark):
    t = os.path.join(tempfile.mkdtemp(), "t")
    v = write_table(_rows(spark, [(1, "a", 0), (2, "b", 1)]), t)
    assert v == 1 and current_version(t) == 1
    assert _snap(spark, t) == [(1, "a", 0), (2, "b", 1)]


def test_merge_counts_and_new_wins(spark):
    t = os.path.join(tempfile.mkdtemp(), "t")
    r1 = merge_table(spark, t, _rows(spark, [(1, "a", 0), (2, "b", 1)]), ["k"])
    assert r1 == {"upsertedCount": 2, "modifiedCount": 0}
    r2 = merge_table(spark, t, _rows(spark, [(2, "B", 1), (3, "c", 0)]), ["k"])
    assert r2 == {"upsertedCount": 1, "modifiedCount": 1}
    assert _snap(spark, t) == [(1, "a", 0), (2, "B", 1), (3, "c", 0)]


def test_partitioned_merge_carries_forward_untouched(spark):
    t = os.path.join(tempfile.mkdtemp(), "t")
    base = _rows(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 2)])
    merge_table(spark, t, base, ["k"], partition_col="b")
    m1 = read_manifest(t)
    # batch touches ONLY bucket 1
    r = merge_table(
        spark, t, _rows(spark, [(2, "B", 1), (9, "z", 1)]), ["k"],
        partition_col="b",
    )
    assert r == {"upsertedCount": 1, "modifiedCount": 1}
    m2 = read_manifest(t)
    # untouched buckets 0 and 2 carry their v1 file sets VERBATIM —
    # their data was not rewritten, listed, or opened
    assert m2["partitions"][json.dumps(0)] == m1["partitions"][json.dumps(0)]
    assert m2["partitions"][json.dumps(2)] == m1["partitions"][json.dumps(2)]
    assert m2["partitions"][json.dumps(1)] != m1["partitions"][json.dumps(1)]
    assert _snap(spark, t) == [
        (1, "a", 0), (2, "B", 1), (3, "c", 2), (9, "z", 1),
    ]
    # manifest-pruned partition read
    got = read_table(spark, t, partition_values=[1])
    assert sorted(r["k"] for r in got.collect()) == [2, 9]


def test_reader_on_old_manifest_survives_concurrent_commit(spark):
    """The list-then-read race, killed: a reader pinned to version 1
    keeps reading a complete, consistent v1 snapshot while a writer
    commits v2 — no rename ever touches v1's files. Only an explicit
    vacuum (retention) removes them; the v1 manifest then remains as
    a tombstone but v2 is untouched."""
    t = os.path.join(tempfile.mkdtemp(), "t")
    write_table(_rows(spark, [(1, "a", 0), (2, "b", 1)]), t, partition_col="b")
    pinned = read_table(spark, t, version=1)  # resolved BEFORE the commit
    merge_table(
        spark, t, _rows(spark, [(1, "A", 0), (5, "e", 0)]), ["k"],
        partition_col="b",
    )
    # post-commit: the pinned plan still reads the old files bit-for-bit
    assert sorted((r["k"], r["v"]) for r in pinned.collect()) == [
        (1, "a"), (2, "b"),
    ]
    assert _snap(spark, t) == [(1, "A", 0), (2, "b", 1), (5, "e", 0)]
    # retention: keep only the current manifest's files
    removed = vacuum_table(t, keep=1)
    assert removed, "v1-only data should be reclaimed"
    assert _snap(spark, t) == [(1, "A", 0), (2, "b", 1), (5, "e", 0)]


def test_delete_keys_partition_pruned(spark):
    t = os.path.join(tempfile.mkdtemp(), "t")
    merge_table(
        spark, t,
        _rows(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 1), (4, "d", 2)]),
        ["k"], partition_col="b",
    )
    m1 = read_manifest(t)
    doomed = spark.createDataFrame([(2, 1)], "k long, b int")
    n = delete_keys_table(spark, t, doomed, ["k"], partition_col="b")
    assert n == 1
    m2 = read_manifest(t)
    assert m2["partitions"][json.dumps(0)] == m1["partitions"][json.dumps(0)]
    assert m2["partitions"][json.dumps(2)] == m1["partitions"][json.dumps(2)]
    assert _snap(spark, t) == [(1, "a", 0), (3, "c", 1), (4, "d", 2)]


def test_rollback_is_pointer_only(spark):
    t = os.path.join(tempfile.mkdtemp(), "t")
    write_table(_rows(spark, [(1, "a", 0)]), t)
    merge_table(spark, t, _rows(spark, [(1, "X", 0)]), ["k"])
    assert _snap(spark, t) == [(1, "X", 0)]
    v3 = rollback_table(t, 1)
    assert v3 == 3 and current_version(t) == 3
    assert _snap(spark, t) == [(1, "a", 0)]


def test_rollback_keeps_superseded_version_data(spark):
    """Rollback moves no data: the version it supersedes keeps its
    manifest and its data dirs, so it stays readable by pin, and the
    next write lands above the rollback."""
    t = os.path.join(tempfile.mkdtemp(), "t")
    write_table(_rows(spark, [(1, "a", 0)]), t)
    write_table(_rows(spark, [(2, "b", 0)]), t)
    v2_dirs = [
        rel for rels in read_manifest(t, 2)["partitions"].values() for rel in rels
    ]
    assert rollback_table(t, 1) == 3
    assert read_manifest(t, 3)["partitions"] == read_manifest(t, 1)["partitions"]
    assert v2_dirs and all(os.path.isdir(os.path.join(t, rel)) for rel in v2_dirs)
    assert write_table(_rows(spark, [(3, "c", 0)]), t) == 4


def test_commits_leave_no_tmp_files(spark):
    """Manifests and the pointer are written to private tmp files and
    linked or renamed into place; no tmp file, pointer lock or writer
    lock survives a write, a merge or a rollback."""
    t = os.path.join(tempfile.mkdtemp(), "t")
    write_table(_rows(spark, [(1, "a", 0)]), t)
    merge_table(spark, t, _rows(spark, [(2, "b", 0)]), ["k"])
    rollback_table(t, 1)
    left = [
        os.path.join(d, n)
        for d, dirs, files in os.walk(os.path.dirname(t))
        for n in dirs + files
        if ".tmp." in n or n.endswith((".lock", "__lock"))
    ]
    assert left == []
    with open(os.path.join(t, "_latest")) as fh:
        assert int(fh.read().strip()) == current_version(t) == 3


def test_lost_pointer_falls_back_to_newest_manifest(spark):
    """A missing, garbled or dangling ``_latest`` resolves to the newest
    manifest on disk, never to a crashed writer's unpublished prefix."""
    from hypermap_etl_spark.sources.manifest import _write_token

    t = os.path.join(tempfile.mkdtemp(), "t")
    write_table(_rows(spark, [(1, "a", 0)]), t)
    write_table(_rows(spark, [(2, "b", 0)]), t)
    _write_token(_rows(spark, [(99, "zz", 9)]), t, None)  # never published
    ptr = os.path.join(t, "_latest")
    os.remove(ptr)
    assert current_version(t) == 2
    for bad in ("garbage", "9"):
        with open(ptr, "w") as fh:
            fh.write(bad)
        assert current_version(t) == 2
    assert _snap(spark, t) == [(2, "b", 0)]


def test_pinned_read_and_missing_version(spark):
    """Version 1 stays readable by pin after version 2 lands; a version
    that was never written raises instead of reading nothing."""
    import pytest

    t = os.path.join(tempfile.mkdtemp(), "t")
    write_table(_rows(spark, [(1, "a", 0)]), t)
    write_table(_rows(spark, [(1, "a", 0), (2, "b", 1)]), t)
    assert manifest_versions(t) == [1, 2]
    assert _snap(spark, t) == [(1, "a", 0), (2, "b", 1)]
    assert _snap(spark, t, version=1) == [(1, "a", 0)]
    with pytest.raises(FileNotFoundError):
        read_table(spark, t, version=9)


def test_vacuum_after_rollback_keeps_current(spark):
    """Rollback re-publishes the old content as the newest version, so
    a vacuum that keeps only the newest manifest keeps the rolled-back
    content readable; keep < 1 is rejected."""
    import pytest

    t = os.path.join(tempfile.mkdtemp(), "t")
    for i in range(3):
        write_table(_rows(spark, [(i, f"v{i}", 0)]), t)
    assert rollback_table(t, 1) == 4
    removed = vacuum_table(t, keep=1)
    assert len(removed) == 2  # v2's and v3's prefixes; v4 reuses v1's
    assert _snap(spark, t) == [(0, "v0", 0)]
    assert manifest_versions(t) == [1, 2, 3, 4]  # tombstones stay
    with pytest.raises(ValueError):
        vacuum_table(t, keep=0)


def test_table_diff_over_two_versions(spark):
    from hypermap_etl_spark.operators.profile import table_diff

    t = os.path.join(tempfile.mkdtemp(), "t")
    write_table(_rows(spark, [(1, "a", 0), (2, "b", 0)]), t)
    write_table(_rows(spark, [(1, "a", 0), (2, "B", 0), (3, "c", 0)]), t)
    diff = table_diff(
        read_table(spark, t, version=1), read_table(spark, t, version=2), ["k"]
    )
    statuses = {r["k"]: r["status"] for r in diff.collect()}
    assert statuses == {1: "unchanged", 2: "changed", 3: "added"}


def test_crash_before_publish_is_invisible(spark):
    """A writer that dies after writing data but before publishing the
    manifest leaves only an orphaned prefix: readers see the previous
    version, vacuum reclaims the orphan."""
    from hypermap_etl_spark.sources.manifest import _write_token

    t = os.path.join(tempfile.mkdtemp(), "t")
    write_table(_rows(spark, [(1, "a", 0)]), t)
    # simulate the crashed writer: data landed, no manifest
    _write_token(_rows(spark, [(99, "zz", 9)]), t, None)
    assert _snap(spark, t) == [(1, "a", 0)]
    assert current_version(t) == 1
    removed = vacuum_table(t, keep=2)
    assert len(removed) == 1
    assert _snap(spark, t) == [(1, "a", 0)]


def test_dedupe_within_batch(spark):
    t = os.path.join(tempfile.mkdtemp(), "t")
    dup = _rows(spark, [(1, "a", 0), (1, "b", 0)])
    r = merge_table(spark, t, dup, ["k"])
    assert r["upsertedCount"] == 1 and r["modifiedCount"] == 0
    assert read_table(spark, t).count() == 1


def test_string_partition_special_chars_and_null(spark):
    """String partition values with Hive-escaped characters,
    digit-like strings, and NULL must keep ONE manifest key per value
    across merges (the old digit heuristic turned '0123' into int 123,
    so a re-merge carried the stale entry forward alongside the new
    one and pruned reads missed it)."""
    t = os.path.join(tempfile.mkdtemp(), "t")
    rows = spark.createDataFrame(
        [(1, "a:b"), (2, "0123"), (3, None), (4, "plain")],
        "k long, p string",
    )
    merge_table(spark, t, rows, ["k"], partition_col="p")
    m1 = read_manifest(t)
    assert set(m1["partitions"]) == {
        json.dumps("a:b"), json.dumps("0123"), json.dumps(None),
        json.dumps("plain"),
    }
    assert m1["partition_dtype"] == "string"
    # re-merge updated rows for the tricky values: keys must REPLACE,
    # never duplicate
    upd = spark.createDataFrame(
        [(1, "a:b"), (2, "0123"), (3, None)], "k long, p string"
    )
    merge_table(spark, t, upd, ["k"], partition_col="p")
    m2 = read_manifest(t)
    assert set(m2["partitions"]) == set(m1["partitions"])
    for key in (json.dumps("a:b"), json.dumps("0123"), json.dumps(None)):
        assert m2["partitions"][key] != m1["partitions"][key]
    # pruned reads resolve the escaped and NULL partitions, typed
    got = read_table(spark, t, partition_values=["0123"]).collect()
    assert [(r["k"], r["p"]) for r in got] == [(2, "0123")]
    got_null = read_table(spark, t, partition_values=[None]).collect()
    assert [(r["k"], r["p"]) for r in got_null] == [(3, None)]
    assert dict(read_table(spark, t).dtypes)["p"] == "string"


def test_optimistic_concurrent_disjoint_merges_both_survive(spark):
    """Two concurrent optimistic merge_table calls
    on DISJOINT partitions both land — the manifest-file CAS
    (conditional-PUT analog) serializes them without the coarse lock;
    the loser rebases its carry-forward and retries."""
    import threading

    from hypermap_etl_spark.sources.manifest import _max_manifest_version

    t = os.path.join(tempfile.mkdtemp(), "t")
    merge_table(
        spark, t, _rows(spark, [(1, "a", 0), (2, "b", 1)]), ["k"],
        partition_col="b",
    )
    barrier = threading.Barrier(2)
    errs = []

    def _writer(rows):
        try:
            barrier.wait(timeout=60)
            merge_table(
                spark, t, _rows(spark, rows), ["k"],
                partition_col="b", optimistic=True,
            )
        except Exception as e:  # surfaced below
            errs.append(e)

    w1 = threading.Thread(target=_writer, args=([[1, "A", 0]],))
    w2 = threading.Thread(target=_writer, args=([[2, "B", 1]],))
    w1.start(); w2.start(); w1.join(120); w2.join(120)
    assert not errs, errs
    assert _snap(spark, t) == [(1, "A", 0), (2, "B", 1)]
    # both commits are distinct manifest versions
    assert _max_manifest_version(t) == 3
    # no torn state: every historical version still reads whole
    for v in (1, 2, 3):
        assert len(_snap(spark, t, version=v)) == 2


def test_optimistic_overlapping_merge_conflicts(spark):
    """A racing commit that changed one of OUR touched partitions must
    surface as ConcurrentCommitError (our rewrite of that partition was
    derived from stale rows), never as a silent lost update."""
    import pytest

    from hypermap_etl_spark.sources.manifest import (
        ConcurrentCommitError,
        _publish_cas,
        read_manifest,
    )

    t = os.path.join(tempfile.mkdtemp(), "t")
    merge_table(
        spark, t, _rows(spark, [(1, "a", 0), (2, "b", 1)]), ["k"],
        partition_col="b",
    )
    base = read_manifest(t)["partitions"]
    # another writer replaces partition 0 under us
    merge_table(
        spark, t, _rows(spark, [(1, "A", 0)]), ["k"],
        partition_col="b", optimistic=True,
    )
    with pytest.raises(ConcurrentCommitError):
        _publish_cas(
            t, "b", "int", {json.dumps(0): ["data/stale/b=0"]}, base
        )
    # the winner's state is intact
    assert _snap(spark, t) == [(1, "A", 0), (2, "b", 1)]


def test_optimistic_n_writer_disjoint_stress(spark):
    """Six concurrent optimistic writers on six DISJOINT partitions:
    every commit must land (losers rebase and retry behind the CAS),
    the final snapshot is the union of all six merges, versions are
    strictly serialized, and every historical version still reads
    whole — no torn carry-forward under real thread interleaving."""
    import threading

    from hypermap_etl_spark.sources.manifest import _max_manifest_version

    t = os.path.join(tempfile.mkdtemp(), "t")
    merge_table(
        spark, t, _rows(spark, [(i, "seed", i) for i in range(6)]), ["k"],
        partition_col="b",
    )
    barrier = threading.Barrier(6)
    errs = []

    def _writer(i):
        try:
            barrier.wait(timeout=120)
            merge_table(
                spark, t, _rows(spark, [(i, f"w{i}", i)]), ["k"],
                partition_col="b", optimistic=True,
            )
        except Exception as e:
            errs.append((i, e))

    ws = [threading.Thread(target=_writer, args=(i,)) for i in range(6)]
    for w in ws:
        w.start()
    for w in ws:
        w.join(300)
    assert not errs, errs
    assert _snap(spark, t) == [(i, f"w{i}", i) for i in range(6)]
    final = _max_manifest_version(t)
    assert final == 7  # seed + six serialized commits
    for v in range(1, final + 1):
        assert len(_snap(spark, t, version=v)) == 6


def test_lagging_pointer_never_clobbers_committed_manifest(spark):
    """A ``_latest`` pointer stuck BEHIND the on-disk
    max (crash between manifest link and pointer flip, or a late
    flipper losing the race) must not make the next locked writer
    reuse the taken version — m-2's snapshot has to survive a
    subsequent write_table verbatim, and the new commit must land as
    m-3 and heal the pointer."""
    from hypermap_etl_spark.sources.manifest import _mpath

    t = os.path.join(tempfile.mkdtemp(), "t")
    write_table(_rows(spark, [(1, "a", 0)]), t)
    write_table(_rows(spark, [(1, "a", 0), (2, "b", 1)]), t)
    with open(_mpath(t, 2)) as fh:
        committed_m2 = fh.read()
    # simulate the lost flip: regress the pointer to 1 while m-2 exists
    with open(os.path.join(t, "_latest"), "w") as fh:
        fh.write("1")
    v = write_table(_rows(spark, [(3, "c", 0)]), t)
    assert v == 3, "writer based on the regressed pointer reused v2"
    with open(_mpath(t, 2)) as fh:
        assert fh.read() == committed_m2, "committed m-2 was clobbered"
    assert current_version(t) == 3  # flip healed the pointer
    assert _snap(spark, t, version=2) == [(1, "a", 0), (2, "b", 1)]
    assert _snap(spark, t) == [(3, "c", 0)]


def test_pointer_flip_is_forward_only_under_lock(spark):
    """_flip_pointer's CAS: a late flip with a LOWER version must not
    regress the pointer (the check-then-rename race the lock closes)."""
    from hypermap_etl_spark.sources.manifest import _flip_pointer

    t = os.path.join(tempfile.mkdtemp(), "t")
    write_table(_rows(spark, [(1, "a", 0)]), t)
    write_table(_rows(spark, [(2, "b", 0)]), t)
    assert current_version(t) == 2
    _flip_pointer(t, 1)  # the late loser's flip
    with open(os.path.join(t, "_latest")) as fh:
        assert fh.read().strip() == "2"
