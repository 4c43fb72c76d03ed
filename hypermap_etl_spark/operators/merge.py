"""S5/S6/T3: idempotent keyed upsert into a parquet table (SURVEY.md §2.1).

The reference achieves effectively-once storage with a MongoDB bulk
upsert keyed on ``_id = txHash_logIndex``
(/root/reference/scripts/extract-events.ts:95-136) and duplicate-key
tolerance (/root/reference/src/lib/services/mongodb.ts:63-66).

Spark-first equivalent: MERGE semantics over a keyed table. On a lake
deployment this is literally ``Delta MERGE INTO`` (whenMatchedUpdateAll /
whenNotMatchedInsertAll); this container has no Delta jars, so
``merge_into_parquet`` implements the same contract on plain parquet:

    new ⟕ existing on key → rewrite = existing rows not matched, plus
    deduped new rows (new wins on conflict, like $set upsert)

and reports (upserted, modified) counts like bulkWrite does.

SINGLE WRITER, ENFORCED: like the reference's one scan loop per
deployment, a table must have at most ONE writer in flight.
merge_into_parquet, delete_keys and the compactions therefore take an
atomic-mkdir lock (``<table>__lock``) and raise ConcurrentMergeError
on contention; locks older than LOCK_STALE_SECS (crashed writer) are
taken over. The streaming path serializes merges per table via
foreachBatch anyway; multi-writer deployments need a table format
with optimistic concurrency (Delta/Iceberg) instead.

Durability: every MERGE and delete is a DYNAMIC PARTITION OVERWRITE on
the table's partition column — only partitions present in the
incoming batch are rewritten; untouched partition files are never
touched, and the table directory itself is never renamed. All of them
(and reorg_rollback's fork-bucket rewrite and compact_partitions) go
through one writer, ``_overwrite_partitions``, which leaves exactly one
file per partition it writes: the program's own writes never fragment
a partition, so compaction only serves tables that are appended to
(the IVF index lists, tables other writers append to). The one
whole-table commit, ``_swap_in`` (stage, rename the table away,
rename the staging dir in, drop the old dir), serves only the two
unpartitioned side tables: the stream's key index
(compact_small_table) and the delta path's pending store. The swap is
NOT atomic (a crash between the renames leaves the data in a
``__old_`` dir), so its callers first run
``_recover_interrupted_swap``. Both commits assume a local/HDFS-like
filesystem — object stores without atomic rename need a table format
(sources/manifest.py, Delta/Iceberg) instead.

Scale note: the partition column (block bucket, entry bucket) IS the
parquet-native incremental MERGE: per-batch cost is proportional to
touched buckets, not table size; the Delta MERGE path (file-level
pruning on the key's min/max stats) is the 100 TB answer and is a
drop-in swap. Requires the partition value to be stable per key (true
for block-derived buckets: a key's blockNumber never changes).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


BLOCK_BUCKET_SIZE = 100_000


def with_block_bucket(df: DataFrame) -> DataFrame:
    """Partition column of every events table: blockNumber div
    BLOCK_BUCKET_SIZE.

    The physical analog of the reference's blockNumber index
    (src/schemas/index.ts:8, scripts/extract-events.ts:165): block-range
    queries prune whole partitions, and incremental merges only rewrite
    the newest bucket(s).
    """
    return df.withColumn("block_bucket", F.expr(f"blockNumber div {BLOCK_BUCKET_SIZE}"))


def dedupe_new(new_df: DataFrame, key_cols: list[str], order_cols: list[str] | None = None) -> DataFrame:
    """Keep one row per key within the incoming batch (last by order_cols,
    arbitrary-but-deterministic if none)."""
    from pyspark.sql.window import Window

    order = [F.col(c).desc() for c in (order_cols or key_cols)]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        new_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


class ConcurrentMergeError(RuntimeError):
    """A second writer attempted to MERGE the same table concurrently."""


# a crashed writer's lock is considered stale after this many seconds
# and taken over (a crashed partition overwrite leaves the untouched
# partitions intact; the replayed call rewrites the touched ones)
LOCK_STALE_SECS = 3600.0


class _merge_lock:
    """Single-writer enforcement via atomic mkdir of ``<table>__lock``.

    Merges were always documented single-writer per table; this makes a
    violation a loud ConcurrentMergeError instead of a silent race (two
    overwrites of one partition, or a compaction deleting the files a
    merge is scanning). mkdir is atomic on POSIX and HDFS-likes;
    locks older than LOCK_STALE_SECS are treated as crashed writers and
    taken over.
    """

    def __init__(self, path: str):
        self.lock_dir = f"{os.path.abspath(path)}__lock"

    def __enter__(self):
        os.makedirs(os.path.dirname(self.lock_dir) or ".", exist_ok=True)
        try:
            os.mkdir(self.lock_dir)
        except FileExistsError:
            age = time.time() - os.path.getmtime(self.lock_dir)
            if age < LOCK_STALE_SECS:
                raise ConcurrentMergeError(
                    f"another merge holds {self.lock_dir} (age {age:.0f}s); "
                    "merges are single-writer per table"
                ) from None
            os.utime(self.lock_dir)  # stale: take over
        return self

    def __exit__(self, *exc):
        shutil.rmtree(self.lock_dir, ignore_errors=True)
        return False


def _swap_in(df: DataFrame, path: str) -> None:
    """Replace the unpartitioned side table at ``path`` (the key index,
    the pending store) with ``df``: write it to a ``__staging_`` dir,
    rename the table away to an ``__old_`` dir, rename the staging dir
    in, drop the old dir. A missing table is simply created by the
    second rename. Not atomic — a crash
    leaves sibling dirs that ``_recover_interrupted_swap`` heals, so
    callers run it before they read ``path``."""
    tok = uuid.uuid4().hex[:8]
    staging = f"{path}__staging_{tok}"
    df.write.mode("overwrite").parquet(staging)
    old = f"{path}__old_{tok}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def _recover_interrupted_swap(path: str) -> None:
    """Heal a ``_swap_in`` that crashed part way.

    A crash between the two renames leaves no table at ``path`` and the
    full data in the ``__old_`` dir — restore the newest one (by mtime:
    tokens are random, not ordered). When ``path`` exists every
    ``__old_`` dir is a leak (crash after the second rename) and is
    swept, or a LATER mid-swap
    crash could restore that stale snapshot over the live one. Stale
    ``__staging_`` dirs (crash before the first rename) are deleted:
    the table at ``path`` is still the authoritative prior state.
    """
    parent, base = os.path.split(os.path.abspath(path))
    if not os.path.isdir(parent):
        return
    olds = [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if d.startswith(f"{base}__old_")
    ]
    if not os.path.exists(path) and olds:
        olds.sort(key=os.path.getmtime)
        os.rename(olds.pop(), path)
    for leftover in olds:
        shutil.rmtree(leftover, ignore_errors=True)
    for d in os.listdir(parent):
        if d.startswith(f"{base}__staging_"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def _has_parquet_files(path: str) -> bool:
    """Does ``path`` hold any data file at all? A table whose every
    partition directory was just removed still exists as an (empty)
    root, and ``spark.read.parquet`` raises on it — callers that may
    have emptied a table check this before re-reading it."""
    for root, _dirs, names in os.walk(path):
        if any(n.endswith(".parquet") for n in names):
            return True
    return False


def _table_columns(path: str) -> list[str] | None:
    """Column names of the parquet table at ``path`` without a Spark job:
    one data file's footer plus the partition columns of the directories
    above it. None when the table holds no data file. Directories Spark
    skips when listing a table (``.``-prefixed, ``_``-prefixed without
    ``=``) are skipped here too."""
    import pyarrow.parquet as pq

    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(
            d for d in dirs
            if not d.startswith(".") and not (d.startswith("_") and "=" not in d)
        )
        data = sorted(
            n for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
        if data:
            rel = os.path.relpath(root, path).split(os.sep)
            parts = [d.split("=", 1)[0] for d in rel if "=" in d]
            return pq.read_schema(os.path.join(root, data[0])).names + parts
    return None


def read_parquet_as(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read a parquet table this program wrote, with the schema it was
    written with. ``spark.read.parquet`` without a schema runs a
    one-task job to infer it; per-batch readers of the program's own
    tables already know it.

    The table's columns must be exactly ``schema``'s: a table holding
    other columns raises instead of being read with columns silently
    dropped or NULL-filled. Types are checked by the parquet reader,
    which fails on a column it cannot read as ``schema`` declares it.
    """
    found = _table_columns(path)
    if found is not None and sorted(found) != sorted(schema.fieldNames()):
        raise ValueError(
            f"parquet table {path} holds columns {sorted(found)}, "
            f"expected {sorted(schema.fieldNames())}"
        )
    return spark.read.schema(schema).parquet(path)


def _in_partitions(partition_col: str, values) -> "F.Column":
    """Row filter for the partitions holding ``values``. NULL is a
    partition value of its own (``__HIVE_DEFAULT_PARTITION__``), which
    a bare ``isin`` never matches."""
    col = F.col(partition_col)
    cond = col.isin([v for v in values if v is not None])
    return cond | col.isNull() if None in values else cond


def _remove_partition_dirs(path: str, partition_col: str, values) -> int:
    """Remove the on-disk directories of fully-emptied partitions,
    escaping- and listing-safe. Returns how many were removed.

    Escaping: Spark/Hive percent-encode special characters (space,
    ':', '=', '%', ...) in partition directory names and spell NULL as
    ``__HIVE_DEFAULT_PARTITION__`` — so the directory for value
    ``'a:b'`` is ``col=a%3Ab``, and a naive ``f"{col}={val}"`` path
    join misses it. Resolve directories from the ACTUAL listing and
    compare the percent-decoded suffix against ``str(value)``.

    Listing safety: each doomed directory is renamed into the sibling
    ``__trash`` dir first, then the trash is deleted — a reader that
    lists the table root mid-delete sees each partition either whole
    or gone, never half-emptied (rename is atomic; rmtree is not).
    Readers that captured file paths BEFORE the delete still race it —
    in-place maintenance is single-writer and assumes no concurrent
    reader holds a pre-delete listing (snapshot isolation needs a
    manifest format: Delta/Iceberg). A trash dir a crash left behind
    holds only deleted partitions; the next call empties it first.
    """
    from urllib.parse import unquote

    wanted = {
        "__HIVE_DEFAULT_PARTITION__" if v is None else str(v) for v in values
    }
    prefix = f"{partition_col}="
    doomed = [
        name
        for name in os.listdir(path)
        if name.startswith(prefix)
        and os.path.isdir(os.path.join(path, name))
        and unquote(name[len(prefix):]) in wanted
    ]
    if not doomed:
        return 0
    trash = f"{path}__trash"
    shutil.rmtree(trash, ignore_errors=True)
    os.makedirs(trash)
    for name in doomed:
        os.rename(os.path.join(path, name), os.path.join(trash, name))
    shutil.rmtree(trash, ignore_errors=True)
    return len(doomed)


def _overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_col: str,
    sort_cols: list[str] | None = None,
) -> None:
    """The one partition-overwrite write of the program: replace the
    partitions of the table at ``path`` that ``df`` holds rows for,
    creating the table when it is missing. Partitions ``df`` has no row
    for are never opened or replaced.

    ``df`` is repartitioned BY the partition column first, so each
    partition value is written by one task and every write leaves
    exactly one file per partition it writes. Without it the write
    inherits the task layout of its input (the scan of the stored
    partition plus the batch's shuffle), and each touched partition
    gains one file per task holding its rows.

    ``sort_cols`` sorts each file's rows (compaction re-tightens the
    row-group min/max stats the serving filters prune on). The sort
    leads with the partition column: FileFormatWriter requires its
    input ordered by the partition columns and inserts its own,
    order-destroying sort when that is not already met.
    """
    out = df.repartition(F.col(partition_col))
    if sort_cols:
        out = out.sortWithinPartitions(partition_col, *sort_cols)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def _obs_count(obs) -> int:
    """Observation metric as an int, 0 when the observed node was
    optimized away entirely (a statically-empty subtree — e.g. an
    empty parquet table folds to an empty LocalRelation and its
    CollectMetrics is pruned; zero rows flowed, so zero is exact)."""
    try:
        return int(obs.get["n"])
    except Exception:
        return 0


# Below this many batch rows the anti-join's build side (the batch's
# key projection — a few narrow columns) is forced to broadcast: a
# just-checkpointed batch frame has no catalog stats, so the planner
# can fall back to sort-merge and shuffle the (much larger) stored
# side for a batch of a few thousand keys. 2M keys x ~40 B is well
# under 100 MB framed — executor-safe; bigger batches keep the
# planner's choice (guide §3.1: pick the strategy deliberately).
_BROADCAST_KEYS_MAX = 2_000_000


def merge_into_parquet(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    key_cols: list[str],
    partition_col: str,
    assume_unique: bool = False,
) -> dict[str, int]:
    """MERGE new_df into the parquet table at ``path`` keyed on key_cols,
    partitioned by ``partition_col``.

    Returns {"upsertedCount": n_inserted, "modifiedCount": n_updated} to
    match the reference's bulkWrite report (extract-events.ts:126-136).

    Dynamic partition overwrite: existing rows are scanned and
    rewritten ONLY in partitions the batch touches (partition filters
    prune the rest at the scan). The partition value must be a pure
    function of the key's row (block bucket), otherwise a key that
    'moved' partitions would survive in its old partition.

    ``assume_unique``: the caller guarantees new_df already holds one
    row per key (an aggregate keyed on key_cols, e.g. the entries
    fold), skipping the per-batch dedupe window — one exchange + sort
    of the batch saved per merge. Violating the guarantee
    would persist duplicate keys, so only pass it for frames whose
    lineage proves it.

    Single-writer per table, ENFORCED: a concurrent merge raises
    ConcurrentMergeError instead of racing it.
    """
    with _merge_lock(path):
        return _merge_unlocked(
            spark, path, new_df, key_cols, partition_col, assume_unique
        )


def _merge_unlocked(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    key_cols: list[str],
    partition_col: str,
    assume_unique: bool,
) -> dict[str, int]:
    if not assume_unique:
        new_df = dedupe_new(new_df, key_cols)

    if not os.path.exists(path):
        # the row count is observed on the write itself, so the batch
        # plan runs once
        obs = Observation()
        _overwrite_partitions(
            new_df.observe(obs, F.count(F.lit(1)).alias("n")), path, partition_col
        )
        return {"upsertedCount": _obs_count(obs), "modifiedCount": 0}

    existing = read_parquet_as(spark, path, new_df.schema)
    # the ONE pre-write action: touched partition values (needed to
    # BUILD the pruned plan) and the batch row count ride the same
    # tiny aggregate; the matched/upserted counts are observed on
    # the write itself, so a steady-state merge runs two actions
    per_part = (
        new_df.groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    if not per_part:
        # empty batch: nothing to write — and the observed plan
        # nodes below would be optimized away entirely (an isin([])
        # filter folds the subtree to an empty relation), leaving
        # Observation.get with no metrics row to return
        return {"upsertedCount": 0, "modifiedCount": 0}
    touched = [r[0] for r in per_part]
    batch_total = sum(r["__c"] for r in per_part)
    existing = existing.filter(_in_partitions(partition_col, touched))

    key = [F.col(f"n.{k}") == F.col(f"e.{k}") for k in key_cols]

    # matched/upserted are derived from row counts OBSERVED during the
    # single merge write (matched = existing-in-touched − survivors;
    # upserted = batch − matched) — no separate semi-join count action
    obs_exist = Observation()
    existing = existing.observe(obs_exist, F.count(F.lit(1)).alias("n"))
    obs_surv = Observation()
    batch_keys = new_df.select(*key_cols)
    if batch_total <= _BROADCAST_KEYS_MAX:
        # checkpointed batches carry no stats — without the hint the
        # planner can sort-merge this anti-join and shuffle the stored
        # side for a few thousand batch keys
        batch_keys = F.broadcast(batch_keys)
    survivors = existing.alias("e").join(
        batch_keys.alias("n"), key, "left_anti"
    ).observe(obs_surv, F.count(F.lit(1)).alias("n"))
    # rewrite only the touched partitions in place; untouched
    # partition files are never opened or replaced
    _overwrite_partitions(survivors.unionByName(new_df), path, partition_col)
    matched = _obs_count(obs_exist) - _obs_count(obs_surv)
    return {
        "upsertedCount": int(batch_total - matched),
        "modifiedCount": int(matched),
    }


# ------------------------------------------------------------ maintenance ----

def partition_file_counts(path: str, partition_col: str) -> dict[int, int]:
    """parquet file count per partition value, from the directory layout.

    Local/HDFS-like filesystems only (same assumption as the staged
    swap above); on an object store the table format's metadata layer
    (Delta/Iceberg file manifests) replaces directory listings.
    """
    out: dict[int, int] = {}
    if not os.path.isdir(path):
        return out
    prefix = f"{partition_col}="
    for d in os.listdir(path):
        if not d.startswith(prefix):
            continue
        try:
            val = int(d[len(prefix):])
        except ValueError:
            continue
        pdir = os.path.join(path, d)
        out[val] = sum(1 for f in os.listdir(pdir) if f.endswith(".parquet"))
    return out


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    max_files: int = 8,
    sort_cols: list[str] | None = None,
) -> dict[str, int]:
    """Small-file compaction for a partitioned table that is APPENDED
    to: each append (an IVF list append, a writer outside this program)
    adds files to its partitions, and thousands of tiny parquet files
    turn scans into open/footer overhead. The program's own MERGE,
    delete and reorg writes leave one file per partition they write
    (_overwrite_partitions), so they never need it.

    Only partitions exceeding ``max_files`` are rewritten, through the
    same one-file-per-partition writer (dynamic partition overwrite —
    untouched partitions' files are never opened). I/O is
    O(oversized partitions), not O(table).

    Takes the table's single-writer merge lock: compaction deletes the
    files it rewrites, so racing a concurrent MERGE's scan would fail
    that merge mid-read (FileNotFound) — a CLI `compact` against a
    table a stream is actively merging raises ConcurrentMergeError
    instead.

    Returns {"partitions_compacted": n, "files_before": x, "files_after": y}.
    """
    with _merge_lock(path):
        counts = partition_file_counts(path, partition_col)
        todo = [v for v, n in counts.items() if n > max_files]
        if not todo:
            return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}
        before = sum(counts[v] for v in todo)
        df = spark.read.parquet(path).filter(F.col(partition_col).isin(todo))
        _overwrite_partitions(df, path, partition_col, sort_cols)
        after = sum(partition_file_counts(path, partition_col).get(v, 0) for v in todo)
        return {
            "partitions_compacted": len(todo),
            "files_before": before,
            "files_after": after,
        }


def compact_small_table(spark: SparkSession, path: str, num_files: int = 1) -> int:
    """Staged-swap rewrite of an unpartitioned side table (e.g. the
    streaming key index, which is blind-appended per batch) into
    ``num_files`` deduplicated files. Returns rows after compaction.
    Lock-guarded like compact_partitions: the swap renames the table
    dir, so racing a concurrent appender would strand its rows in the
    renamed-away dir or fail the final rename."""
    with _merge_lock(path):
        return _compact_small_table_unlocked(spark, path, num_files)


def _compact_small_table_unlocked(spark: SparkSession, path: str, num_files: int) -> int:
    _recover_interrupted_swap(path)
    obs = Observation()
    df = (
        spark.read.parquet(path)
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .coalesce(num_files)
    )
    _swap_in(df, path)
    return _obs_count(obs)


def delete_keys(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> dict[str, int]:
    """Right-to-be-forgotten propagation: remove every row of the
    parquet table at ``path`` whose key appears in ``keys_df`` — the
    deletion half of the MERGE sink (a GDPR/CCPA erasure request is a
    keyed anti-join, not a full rebuild).

    A column-pruned (keys + partition) scan semi-joined against the
    delete set finds the TOUCHED partitions — unlike merge, the
    partition is generally NOT a function of the delete key (users,
    not block buckets), so touched partitions are discovered from the
    data; then dynamic partition overwrite rewrites only those.
    Untouched partition files are never opened for the rewrite.

    Same single-writer lock as merge — a concurrent writer raises
    instead of racing. Returns {"deletedCount", "partitionsRewritten"}.
    """
    with _merge_lock(path):
        if not os.path.exists(path):
            return {"deletedCount": 0, "partitionsRewritten": 0}
        keys = keys_df.select(*key_cols).distinct()
        existing = spark.read.parquet(path)
        key = [F.col(f"e.{k}").eqNullSafe(F.col(f"n.{k}")) for k in key_cols]
        # the semi-join that finds the touched partitions also counts
        # the doomed rows: each matching stored row is emitted once, so
        # the per-partition counts sum to exactly what the rewrite
        # below removes
        per_part = (
            existing.select(*key_cols, partition_col)
            .alias("e")
            .join(keys.alias("n"), key, "left_semi")
            .groupBy(partition_col)
            .agg(F.count(F.lit(1)).alias("__c"))
            .collect()
        )
        if not per_part:
            return {"deletedCount": 0, "partitionsRewritten": 0}
        touched = [r[0] for r in per_part]
        scoped = existing.filter(_in_partitions(partition_col, touched))
        survivors = scoped.alias("e").join(keys.alias("n"), key, "left_anti")
        # dynamic overwrite only replaces partitions PRESENT in the
        # output: a touched partition whose every row is deleted would
        # otherwise keep its old files — compute the emptied set first
        # and remove those directories explicitly
        kept = {
            r[0] for r in survivors.select(partition_col).distinct().collect()
        }
        _overwrite_partitions(survivors, path, partition_col)
        _remove_partition_dirs(path, partition_col, set(touched) - kept)
        return {
            "deletedCount": sum(r["__c"] for r in per_part),
            "partitionsRewritten": len(touched),
        }


def reorg_rollback(
    spark: SparkSession,
    events_path: str,
    fork_block: int,
    entries_path: str | None = None,
) -> dict[str, int]:
    """Chain-reorganization recovery: discard every indexed event ABOVE
    ``fork_block`` and repair the derived entries table to exactly the
    state a fresh index of the surviving log would produce. The
    reference indexer has no reorg path at all (extract-events.ts only
    ever appends and upserts); a production chain indexer needs one —
    a reorg makes the append-only assumption of the entries fold false.

    Events (under the table's single-writer lock): buckets entirely
    above the fork are DELETED as directories without ever being
    opened, the fork's own bucket is the single partition rewrite, and
    every bucket below is untouched — work is O(reorg depth), not O(log).

    Entries (optional, keyed repair through the stream's restricted
    replay, incremental_entries_update): the fold is a pure function of
    each key's own events, so only keys REFERENCED by a discarded event
    can change. Those keys are refolded from the surviving log and
    MERGEd. The repair set is widened with stored entries whose
    lastUpdateBlock > fork_block (M8 is the max applied block, so every
    reorg-affected entry is visible that way), which makes a crash
    between the two table writes self-healing: re-running the same
    rollback finds no discarded events but still repairs the stale
    entries. A refolded entry's blocks are all at or below the fork, so
    a row still above it after the MERGE is an entry the surviving log
    no longer produces; those rows are delete_keys'd.

    Pending store (with entries): the delta path's parked early writes
    above the fork are dropped last — their events are gone, and a
    later Mint of their target would otherwise retry them. The trim is
    idempotent, so a re-run after a crash converges.

    Returns {"eventsDeleted", "bucketsDropped", "bucketsRewritten",
    "entriesUpserted", "entriesDeleted"}.
    """
    from hypermap_etl_spark.operators.materialize import (
        _read_entries,
        drop_pending_above,
        touched_namehashes,
    )

    # the entries table is read, and its layout checked, before any
    # event is deleted. One with no data file has nothing to repair:
    # entries only come from Mints, so it stays empty under any subset
    # of its log.
    stored = (
        _read_entries(spark, entries_path)
        if entries_path is not None and _has_parquet_files(entries_path)
        else None
    )
    out = {
        "eventsDeleted": 0,
        "bucketsDropped": 0,
        "bucketsRewritten": 0,
        "entriesUpserted": 0,
        "entriesDeleted": 0,
    }
    with _merge_lock(events_path):
        existing = spark.read.parquet(events_path)
        discarded = existing.filter(F.col("blockNumber") > fork_block)
        n_discarded = discarded.count()
        keys = None
        if stored is not None and n_discarded:
            # pin the write set BEFORE any file is deleted — the lazy
            # frame would re-read the truncated table
            keys = touched_namehashes(discarded).localCheckpoint()
        if n_discarded:
            out["eventsDeleted"] = n_discarded
            fork_bucket = fork_block // BLOCK_BUCKET_SIZE
            above = sorted(
                r[0]
                for r in discarded.select("block_bucket").distinct().collect()
            )
            doomed_buckets = [b for b in above if b > fork_bucket]
            out["bucketsDropped"] += _remove_partition_dirs(
                events_path, "block_bucket", doomed_buckets
            )
            if fork_bucket in above:
                survivors = existing.filter(
                    (F.col("block_bucket") == fork_bucket)
                    & (F.col("blockNumber") <= fork_block)
                )
                if survivors.isEmpty():
                    # dynamic overwrite writes nothing for an empty
                    # frame — the stale directory must go explicitly
                    out["bucketsDropped"] += _remove_partition_dirs(
                        events_path, "block_bucket", [fork_bucket]
                    )
                else:
                    _overwrite_partitions(survivors, events_path, "block_bucket")
                    out["bucketsRewritten"] = 1

    if stored is not None:
        out.update(
            _reorg_repair_entries(
                spark, events_path, entries_path, stored, keys, fork_block
            )
        )
    if entries_path is not None:
        drop_pending_above(spark, entries_path, fork_block)
    return out


def _reorg_repair_entries(
    spark: SparkSession,
    events_path: str,
    entries_path: str,
    stored: DataFrame,
    keys: DataFrame | None,
    fork_block: int,
) -> dict[str, int]:
    """reorg_rollback's keyed entries repair over the truncated events
    table: refold the repair keys from the surviving log and MERGE them
    (incremental_entries_update), then delete the rows still above the
    fork. Returns {"entriesUpserted", "entriesDeleted"}."""
    from hypermap_etl_spark.operators.materialize import (
        _read_entries,
        incremental_entries_update,
    )

    out = {"entriesUpserted": 0, "entriesDeleted": 0}
    above_fork = F.col("lastUpdateBlock") > fork_block
    # widen with entries the STORE says were touched above the fork —
    # self-healing if a previous rollback truncated events but died
    # before this repair
    stale = stored.filter(above_fork).select("namehash")
    # pin before the entries writes below — `stale` lazily reads the
    # very files the merge is about to replace
    keys = (
        stale if keys is None else keys.unionByName(stale).distinct()
    ).localCheckpoint()
    if keys.isEmpty():
        return out

    # a TOTAL reorg (fork below every indexed block) leaves no log to
    # refold: every repair key's row is above the fork and goes below
    if _has_parquet_files(events_path):
        rep = incremental_entries_update(
            spark, entries_path, spark.read.parquet(events_path), keys
        )
        out["entriesUpserted"] = rep["upsertedCount"] + rep["modifiedCount"]
    gone = (
        _read_entries(spark, entries_path)
        .filter(above_fork)
        .select("namehash")
        .localCheckpoint()
    )
    if not gone.isEmpty():
        drep = delete_keys(spark, entries_path, gone, ["namehash"], "entry_bucket")
        out["entriesDeleted"] = drep["deletedCount"]
    return out
