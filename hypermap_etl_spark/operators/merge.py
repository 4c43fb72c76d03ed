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
deployment, a table must have at most ONE merge in flight — recovery
(_recover_interrupted_swap) deletes ALL sibling __staging_/__old_ dirs
at merge start, so a racing writer's live staging dir would be
destroyed mid-write. merge_into_parquet therefore takes an atomic-
mkdir lock (``<table>__lock``) and raises ConcurrentMergeError on
contention; locks older than LOCK_STALE_SECS (crashed writer) are
taken over. The streaming path serializes merges per table via
foreachBatch anyway; multi-writer deployments need a table format
with optimistic concurrency (Delta/Iceberg) instead.

Durability: with ``partition_col`` the merge is a DYNAMIC PARTITION
OVERWRITE — only partitions present in the incoming batch are
rewritten; untouched partition files are never touched. Without it,
the rewrite is staged to a temp dir and swapped via two renames; the
swap is NOT atomic (a crash between the renames leaves the data in a
``__old_`` dir), so the next merge first recovers any interrupted
swap. Both paths assume a local/HDFS-like filesystem — object stores
without atomic rename need a table format (Delta/Iceberg) instead.

Scale note: rewriting the full table per merge is the plain-parquet
cost; the Delta MERGE path (file-level pruning on the key's min/max
stats) is the 100 TB answer and is a drop-in swap. For append-mostly
event logs, `partition_col` (block bucket) IS the parquet-native
incremental MERGE: per-batch cost is proportional to touched buckets,
not table size. Requires the partition value to be stable per key
(true for block-derived buckets: a key's blockNumber never changes).
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


def with_block_bucket(df: DataFrame, size: int = BLOCK_BUCKET_SIZE) -> DataFrame:
    """Partition column for the events table: blockNumber div size.

    The physical analog of the reference's blockNumber index
    (src/schemas/index.ts:8, scripts/extract-events.ts:165): block-range
    queries prune whole partitions, and incremental merges only rewrite
    the newest bucket(s).
    """
    return df.withColumn("block_bucket", F.expr(f"blockNumber div {size}"))


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
# and taken over (the staged-swap design means a crash never leaves the
# table itself inconsistent — recovery handles the dirs)
LOCK_STALE_SECS = 3600.0


class _merge_lock:
    """Single-writer enforcement via atomic mkdir of ``<table>__lock``.

    Merges were always documented single-writer per table; this makes a
    violation a loud ConcurrentMergeError instead of a silent race
    (_recover_interrupted_swap deletes ALL sibling staging dirs, so a
    concurrent writer's live staging dir would be destroyed mid-write —
    the r2 review's concern). mkdir is atomic on POSIX and HDFS-likes;
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


def _recover_interrupted_swap(path: str) -> None:
    """Heal a previous merge that crashed between the two swap renames.

    The swap is rename(path→old); rename(staging→path); rmtree(old). A
    crash in the gap leaves no table at ``path`` and the full data in
    the ``__old_`` dir — restore the newest one. Stale ``__staging_``
    dirs (crash before the first rename) are just deleted: the table
    at ``path`` is still the authoritative pre-merge state.
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


def _remove_partition_dirs(path: str, partition_col: str, values) -> int:
    """Remove the on-disk directories of fully-emptied partitions,
    escaping- and listing-safe. Returns how many were removed.

    Escaping: Spark/Hive percent-encode special characters (space,
    ':', '=', '%', ...) in partition directory names and spell NULL as
    ``__HIVE_DEFAULT_PARTITION__`` — so the directory for value
    ``'a:b'`` is ``col=a%3Ab``, and a naive ``f"{col}={val}"`` path
    join misses it. Resolve directories from the ACTUAL listing and
    compare the percent-decoded suffix against ``str(value)``.

    Listing safety: each doomed directory is renamed into a sibling
    ``__old_`` trash dir first, then the trash is deleted — a reader
    that lists the table root mid-delete sees each partition either
    whole or gone, never half-emptied (rename is atomic; rmtree is
    not). Readers that captured file paths BEFORE the delete still
    race it — in-place maintenance is single-writer and assumes no
    concurrent reader holds a pre-delete listing (snapshot isolation
    needs a manifest format: Delta/Iceberg). A trash dir orphaned by
    a crash is swept by _recover_interrupted_swap on the next
    lock-guarded operation, same as interrupted swaps.
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
    trash = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.makedirs(trash)
    for name in doomed:
        os.rename(os.path.join(path, name), os.path.join(trash, name))
    shutil.rmtree(trash, ignore_errors=True)
    return len(doomed)


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
    partition_col: str | None = None,
    assume_unique: bool = False,
) -> dict[str, int]:
    """MERGE new_df into the parquet table at ``path`` keyed on key_cols.

    Returns {"upsertedCount": n_inserted, "modifiedCount": n_updated} to
    match the reference's bulkWrite report (extract-events.ts:126-136).

    With ``partition_col``: dynamic partition overwrite — existing rows
    are scanned and rewritten ONLY in partitions the batch touches
    (partition filters prune the rest at the scan). The partition value
    must be a pure function of the key's row (block bucket), otherwise
    a key that 'moved' partitions would survive in its old partition.

    ``assume_unique``: the caller guarantees new_df already holds one
    row per key (an aggregate keyed on key_cols, e.g. the entries
    fold), skipping the per-batch dedupe window — one exchange + sort
    of the batch saved per merge. Violating the guarantee
    would persist duplicate keys, so only pass it for frames whose
    lineage proves it.

    Single-writer per table, ENFORCED: a concurrent merge raises
    ConcurrentMergeError instead of racing the recovery sweep.
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
    partition_col: str | None = None,
    assume_unique: bool = False,
) -> dict[str, int]:
    _recover_interrupted_swap(path)
    if not assume_unique:
        new_df = dedupe_new(new_df, key_cols)

    if not os.path.exists(path):
        # the row count is observed on the write itself, so the batch
        # plan runs once
        obs = Observation()
        observed = new_df.observe(obs, F.count(F.lit(1)).alias("n"))
        writer = observed.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(path)
        return {"upsertedCount": _obs_count(obs), "modifiedCount": 0}

    existing = read_parquet_as(spark, path, new_df.schema)
    if partition_col:
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
        existing = existing.filter(F.col(partition_col).isin(touched))
        obs_new = None
    else:
        # no partition pruning to drive — the batch count is observed
        # on the write like everything else (zero pre-write actions)
        obs_new = Observation()
        new_df = new_df.observe(obs_new, F.count(F.lit(1)).alias("n"))
        batch_total = None

    key = [F.col(f"n.{k}") == F.col(f"e.{k}") for k in key_cols]

    # matched/upserted are derived from row counts OBSERVED during the
    # single merge write (matched = existing-in-touched − survivors;
    # upserted = batch − matched) — no separate semi-join count action
    obs_exist = Observation()
    existing = existing.observe(obs_exist, F.count(F.lit(1)).alias("n"))
    obs_surv = Observation()
    batch_keys = new_df.select(*key_cols)
    if batch_total is not None and batch_total <= _BROADCAST_KEYS_MAX:
        # checkpointed batches carry no stats — without the hint the
        # planner can sort-merge this anti-join and shuffle the stored
        # side for a few thousand batch keys
        batch_keys = F.broadcast(batch_keys)
    survivors = existing.alias("e").join(
        batch_keys.alias("n"), key, "left_anti"
    ).observe(obs_surv, F.count(F.lit(1)).alias("n"))
    merged = survivors.unionByName(new_df)

    if partition_col:
        # rewrite only the touched partitions in place; untouched
        # partition files are never opened or replaced
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
    else:
        staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(staging)
        old = f"{path}__old_{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old)
    if batch_total is None:
        batch_total = _obs_count(obs_new)
    matched = _obs_count(obs_exist) - _obs_count(obs_surv)
    return {
        "upsertedCount": int(batch_total - matched),
        "modifiedCount": int(matched),
    }


def append_if_absent(
    spark: SparkSession, path: str, new_df: DataFrame, key_cols: list[str]
) -> int:
    """Insert-only variant (S5 insertMany with dup tolerance): append rows
    whose key is not already present; returns inserted count."""
    new_df = dedupe_new(new_df, key_cols)
    if not os.path.exists(path):
        new_df.write.mode("overwrite").parquet(path)
        return new_df.count()
    existing_keys = spark.read.parquet(path).select(*key_cols)
    fresh = new_df.join(existing_keys, key_cols, "left_anti")
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(path)
    return n


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
    """Small-file compaction for a partitioned table — the maintenance
    job every streaming sink needs: each micro-batch MERGE adds files to
    its touched partitions, and thousands of tiny parquet files turn
    scans into open/footer overhead.

    Only partitions exceeding ``max_files`` are rewritten (dynamic
    partition overwrite — untouched partitions' files are never opened),
    repartitioned BY the partition column so each value collapses to one
    task → one output file. I/O is O(oversized partitions), not
    O(table).

    Takes the table's single-writer merge lock: compaction deletes the
    files it rewrites, so racing a concurrent MERGE's scan would fail
    that merge mid-read (FileNotFound) — a CLI `compact` against a
    table a stream is actively merging now raises ConcurrentMergeError
    instead. The index stream's in-batch compaction runs on the batch
    thread after its merge released the lock, so it is never
    self-blocked.

    Returns {"partitions_compacted": n, "files_before": x, "files_after": y}.
    """
    with _merge_lock(path):
        counts = partition_file_counts(path, partition_col)
        todo = [v for v, n in counts.items() if n > max_files]
        if not todo:
            return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}
        before = sum(counts[v] for v in todo)
        df = spark.read.parquet(path).filter(F.col(partition_col).isin(todo))
        out = df.repartition(len(todo), F.col(partition_col))
        if sort_cols:
            # restore intra-file sort clustering while we rewrite
            # anyway: micro-batch appends interleave arrival order, so
            # compaction is the free moment to re-tighten the row-group
            # min/max stats the serving filters prune on. The sort MUST
            # lead with the partition column: FileFormatWriter requires
            # its output ordered by the partition columns and inserts
            # its own (order-destroying) sort when the requirement is
            # not already met.
            out = out.sortWithinPartitions(partition_col, *sort_cols)
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
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
    df = spark.read.parquet(path).distinct().coalesce(num_files)
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(staging)
    n = spark.read.parquet(staging).count()
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    return n


def delete_keys(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
) -> dict[str, int]:
    """Right-to-be-forgotten propagation: remove every row of the
    parquet table at ``path`` whose key appears in ``keys_df`` — the
    deletion half of the MERGE sink (a GDPR/CCPA erasure request is a
    keyed anti-join, not a full rebuild).

    With ``partition_col``: a column-pruned (keys + partition) scan
    semi-joined against the delete set finds the TOUCHED partitions —
    unlike merge, the partition is generally NOT a function of the
    delete key (users, not block buckets), so touched partitions are
    discovered from the data; then dynamic partition overwrite
    rewrites only those. Untouched partition files are never opened
    for the rewrite. Without it: staged full rewrite + atomic swap
    (the merge discipline).

    Same single-writer lock as merge — a concurrent writer raises
    instead of racing. Returns {"deletedCount", "partitionsRewritten"}.
    """
    with _merge_lock(path):
        _recover_interrupted_swap(path)
        if not os.path.exists(path):
            return {"deletedCount": 0, "partitionsRewritten": 0}
        keys = keys_df.select(*key_cols).distinct()
        existing = spark.read.parquet(path)
        key = [F.col(f"e.{k}").eqNullSafe(F.col(f"n.{k}")) for k in key_cols]

        if partition_col:
            touched = [
                r[0]
                for r in existing.select(*key_cols, partition_col)
                .alias("e")
                .join(keys.alias("n"), key, "left_semi")
                .select(partition_col)
                .distinct()
                .collect()
            ]
            if not touched:
                return {"deletedCount": 0, "partitionsRewritten": 0}
            scoped = existing.filter(F.col(partition_col).isin(touched))
            n_before = scoped.count()
            survivors = scoped.alias("e").join(keys.alias("n"), key, "left_anti")
            # dynamic overwrite only replaces partitions PRESENT in the
            # output: a touched partition whose every row is deleted
            # would otherwise keep its old files — compute the emptied
            # set first and remove those directories explicitly
            kept = {
                r[0]
                for r in survivors.select(partition_col).distinct().collect()
            }
            (
                survivors.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(path)
            )
            _remove_partition_dirs(path, partition_col, set(touched) - kept)
            # a delete that emptied EVERY partition leaves a bare table
            # root Spark cannot infer a schema from (fuzzer-found via
            # reorg_rollback's total-reorg repair)
            n_after = (
                spark.read.parquet(path)
                .filter(F.col(partition_col).isin(touched))
                .count()
                if _has_parquet_files(path)
                else 0
            )
            return {
                "deletedCount": n_before - n_after,
                "partitionsRewritten": len(touched),
            }

        n_before = existing.count()
        survivors = existing.alias("e").join(keys.alias("n"), key, "left_anti")
        staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
        survivors.write.mode("overwrite").parquet(staging)
        old = f"{path}__old_{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old)
        n_after = (
            spark.read.parquet(path).count()
            if _has_parquet_files(path)
            else 0  # every row deleted: empty staging has no data file
        )
        return {
            "deletedCount": n_before - n_after,
            "partitionsRewritten": 0,
        }


def reorg_rollback(
    spark: SparkSession,
    events_path: str,
    fork_block: int,
    entries_path: str | None = None,
    block_col: str = "blockNumber",
    partition_col: str | None = "block_bucket",
    bucket_size: int = BLOCK_BUCKET_SIZE,
    entry_buckets: int | None = None,
) -> dict[str, int]:
    """Chain-reorganization recovery: discard every indexed event ABOVE
    ``fork_block`` and repair the derived entries table to exactly the
    state a fresh index of the surviving log would produce. The
    reference indexer has no reorg path at all (extract-events.ts only
    ever appends and upserts); a production chain indexer needs one —
    a reorg makes the append-only assumption of the entries fold false.

    Events (under the table's single-writer lock): with block-bucket
    partitioning, buckets entirely above the fork are DELETED as
    directories without ever being opened, the fork's own bucket is
    the single partition rewrite, and every bucket below is untouched
    — work is O(reorg depth), not O(log). Unpartitioned fallback:
    staged full rewrite + atomic swap (the merge discipline).

    Entries (optional, keyed repair — the incremental_entries_update
    machinery run in reverse): the fold is a pure function of each
    key's own events, so only keys REFERENCED by a discarded event can
    change. Those keys' events are replayed from the surviving log and
    MERGEd; keys with no surviving events are delete_keys'd. The
    repair set is widened with stored entries whose lastUpdateBlock >
    fork_block (M8 is the max applied block, so every reorg-affected
    entry is visible that way), which makes a crash between the two
    table writes self-healing: re-running the same rollback finds no
    discarded events but still repairs the stale entries.

    Returns {"eventsDeleted", "bucketsDropped", "bucketsRewritten",
    "entriesUpserted", "entriesDeleted"}.
    """
    from hypermap_etl_spark.operators.materialize import (
        events_referencing,
        materialize_entries,
        touched_namehashes,
        with_entry_bucket,
    )

    out = {
        "eventsDeleted": 0,
        "bucketsDropped": 0,
        "bucketsRewritten": 0,
        "entriesUpserted": 0,
        "entriesDeleted": 0,
    }
    with _merge_lock(events_path):
        _recover_interrupted_swap(events_path)
        existing = spark.read.parquet(events_path)
        discarded = existing.filter(F.col(block_col) > fork_block)
        n_discarded = discarded.count()
        keys = None
        if entries_path is not None and n_discarded:
            # pin the write set BEFORE any file is deleted — the lazy
            # frame would re-read the truncated table
            keys = touched_namehashes(discarded).localCheckpoint()
        if n_discarded:
            out["eventsDeleted"] = n_discarded
            if partition_col and partition_col in existing.columns:
                fork_bucket = fork_block // bucket_size
                above = sorted(
                    r[0]
                    for r in existing.filter(
                        F.col(block_col) > fork_block
                    )
                    .select(partition_col)
                    .distinct()
                    .collect()
                )
                doomed_buckets = [b for b in above if b > fork_bucket]
                out["bucketsDropped"] += _remove_partition_dirs(
                    events_path, partition_col, doomed_buckets
                )
                if fork_bucket in above:
                    survivors = existing.filter(
                        (F.col(partition_col) == fork_bucket)
                        & (F.col(block_col) <= fork_block)
                    )
                    if survivors.isEmpty():
                        # dynamic overwrite writes nothing for an empty
                        # frame — the stale directory must go explicitly
                        out["bucketsDropped"] += _remove_partition_dirs(
                            events_path, partition_col, [fork_bucket]
                        )
                    else:
                        (
                            survivors.write.mode("overwrite")
                            .option("partitionOverwriteMode", "dynamic")
                            .partitionBy(partition_col)
                            .parquet(events_path)
                        )
                        out["bucketsRewritten"] = 1
            else:
                survivors = existing.filter(F.col(block_col) <= fork_block)
                staging = f"{events_path}__staging_{uuid.uuid4().hex[:8]}"
                survivors.write.mode("overwrite").parquet(staging)
                old = f"{events_path}__old_{uuid.uuid4().hex[:8]}"
                os.rename(events_path, old)
                os.rename(staging, events_path)
                shutil.rmtree(old)

    if entries_path is None or not _has_parquet_files(entries_path):
        # absent OR holding no data file (a fold of a log that created
        # no entries writes only _SUCCESS — fuzzer-found): an empty
        # table consistent with its log stays empty under any subset
        # of that log (entries only ever come from Mints), so there is
        # nothing to repair and the read below would raise
        return out

    # widen with entries the STORE says were touched above the fork —
    # self-healing if a previous rollback truncated events but died
    # before this repair
    stored = spark.read.parquet(entries_path)
    stale = stored.filter(F.col("lastUpdateBlock") > fork_block).select("namehash")
    # pin before the entries writes below — `stale` lazily reads the
    # very files the merge is about to replace
    keys = (
        stale if keys is None else keys.unionByName(stale).distinct()
    ).localCheckpoint()
    if keys.isEmpty():
        return out

    pcol = "entry_bucket" if entry_buckets else None
    if not _has_parquet_files(events_path):
        # TOTAL reorg (fork below every indexed block, fuzzer-found):
        # nothing survives, so there is no log to refold and the read
        # below would raise on the emptied table — every repair key's
        # entry simply goes away, which IS the fresh-index state
        drep = delete_keys(spark, entries_path, keys, ["namehash"], pcol)
        out["entriesDeleted"] = drep["deletedCount"]
        return out

    surviving = spark.read.parquet(events_path)
    refolded = (
        materialize_entries(events_referencing(surviving, keys))
        .join(F.broadcast(keys), "namehash", "left_semi")
        .localCheckpoint()
    )
    if entry_buckets:
        refolded = with_entry_bucket(refolded, entry_buckets)
    rep = merge_into_parquet(spark, entries_path, refolded, ["namehash"], pcol)
    out["entriesUpserted"] = rep["upsertedCount"] + rep["modifiedCount"]
    gone = keys.join(refolded.select("namehash"), "namehash", "left_anti")
    if not gone.isEmpty():
        drep = delete_keys(spark, entries_path, gone, ["namehash"], pcol)
        out["entriesDeleted"] = drep["deletedCount"]
    return out
