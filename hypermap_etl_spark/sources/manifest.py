"""Manifest-committed parquet tables — the object-store-safe
alternative to the directory renames operators/merge.py commits with
(dynamic partition overwrite for the events and entries tables, the
``_swap_in`` double-rename for its two side tables; local/HDFS-only).
The ``manifest`` CLI drives it; the index stream, the entries delta
path and the serving queries use the plain parquet layout.

Why renames are the problem: S3-class object stores have no atomic
directory rename — the staged-swap MERGE (rename table away, rename
staging in) has a visible window with NO table, and dynamic partition
overwrite internally deletes+recreates partition paths. List-then-read
is also unsafe: a reader that lists a prefix mid-commit sees a torn
mix of old and new files.

The manifest construction (the Iceberg/Delta core idea, rebuilt
dependency-free on plain parquet directories):

    table/
      data/<token>/…part-*.parquet   immutable, uniquely-named file sets
      manifests/m-0000000N.json      full snapshot descriptions
      _latest                        one-line pointer: current N

- DATA FILES ARE NEVER RENAMED, MOVED, OR OVERWRITTEN. Every write
  lands in a fresh ``data/<uuid>`` prefix; a commit is (1) finish
  writing data, (2) PUT one complete manifest file, (3) flip the
  one-line ``_latest`` pointer. A crash before (3) leaves orphaned,
  unreferenced data — invisible to every reader, reclaimed by
  ``vacuum``. There is no torn state to recover.
- READERS NEVER LIST DATA. ``read_table`` resolves the manifest and
  reads exactly the file sets it names, so a reader racing a commit
  sees a complete OLD snapshot or a complete NEW one, never a mix —
  and old snapshots stay readable (time travel) until vacuumed.
- Partitioned tables map partition value → file sets in the manifest
  itself, so partition pruning is a manifest lookup (no directory
  discovery), and a MERGE commits touched partitions' new file sets
  while CARRYING FORWARD the untouched partitions' existing entries —
  the untouched data is not rewritten, not listed, not even opened.
- Single writer per table (same atomic-mkdir lock discipline as
  merge_into_parquet); multi-writer needs conditional PUT / a real
  table format. The pointer flip uses write-temp+rename locally —
  on a real object store the equivalent is one conditional PUT of a
  tiny object, which S3/GCS support natively.

Versions double as corpus snapshots: ``read_table(version=)`` is a
pinned read, and two versions diff through profile.table_diff (the
``manifest diff`` CLI). Rollback re-publishes an older manifest's file
sets as a NEW version — a complete, already-consistent restore with no
data movement, and the pointer only ever moves forward. ``vacuum``
keeps the last ``keep`` manifests' file sets (the current version is
always the newest) and deletes only data referenced by none of them.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hypermap_etl_spark.operators.merge import _merge_lock, _obs_count, dedupe_new

_LATEST = "_latest"
_ALL = "__all__"  # partition key used for unpartitioned tables


# ------------------------------------------------------------ manifest io ---

def _mpath(table: str, version: int) -> str:
    return os.path.join(table, "manifests", f"m-{version:08d}.json")


def manifest_versions(table: str) -> list[int]:
    """The manifest versions on disk, ascending (vacuumed versions
    included: their manifests stay as tombstones)."""
    mdir = os.path.join(table, "manifests")
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(n[2:-5])
        for n in os.listdir(mdir)
        if n.startswith("m-") and n.endswith(".json")
    )


def _max_manifest_version(table: str) -> int | None:
    """Highest manifest ON DISK — what optimistic writers base on (the
    pointer can lag a just-created manifest by a losing writer's slow
    flip; basing on the pointer would resurrect lost updates)."""
    return max(manifest_versions(table), default=None)


def current_version(table: str) -> int | None:
    """Pointer if valid, else the highest manifest on disk (pointer
    lost); None for an empty/never-committed table."""
    ptr = os.path.join(table, _LATEST)
    try:
        with open(ptr) as fh:
            v = int(fh.read().strip())
        if os.path.exists(_mpath(table, v)):
            return v
    except (OSError, ValueError):
        pass
    return _max_manifest_version(table)


def read_manifest(table: str, version: int | None = None) -> dict:
    """{"version", "partition_col", "partitions": {key: [rel dirs]}}.
    ``key`` is the JSON-encoded partition value (or ``__all__``)."""
    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no manifest in {table}")
    with open(_mpath(table, v)) as fh:
        return json.load(fh)


class ConcurrentCommitError(RuntimeError):
    """An optimistic commit lost to a writer that changed an
    overlapping partition (or retries ran out) — the merge must be
    redone from the current snapshot; its data files were derived from
    a stale read of the conflicting partition."""


def _publish_cas(
    table: str,
    partition_col: str | None,
    partition_dtype: str | None,
    entries: dict[str, list[str]],
    base_parts: dict[str, list[str]],
    max_retries: int = 8,
) -> int:
    """Multi-writer commit via compare-and-set on the manifest FILE —
    the local analog of an object store's conditional PUT (S3
    ``If-None-Match: *`` / GCS ``ifGenerationMatch=0`` on the
    ``manifests/m-{v+1}.json`` key).

    The CAS primitive is ``os.link(tmp, mpath)``: the manifest content
    is fully written to a private tmp file first, then linked into
    place — link fails with EEXIST when another writer took that
    version, and readers can never observe a half-written manifest
    (link is atomic with content, unlike O_CREAT|O_EXCL + write).

    The loser rebases: re-read the now-current partitions, verify every
    partition that changed since ``base_parts`` (its snapshot when it
    read existing rows) is DISJOINT from its own touched set, carry the
    winner's untouched entries forward, and retry with the next
    version. An overlap means its rewrite of that partition was derived
    from stale rows — ConcurrentCommitError, redo the merge.

    The ``_latest`` pointer flip is forward-only best-effort: a loser
    flipping late cannot regress it below a version already published
    (on S3 the pointer is a conditional PUT keyed on the old value, or
    readers simply list the ``manifests/`` prefix for the max key —
    ``current_version``'s fallback)."""
    touched = set(entries)
    os.makedirs(os.path.join(table, "manifests"), exist_ok=True)
    for _ in range(max_retries):
        cur_v = _max_manifest_version(table)
        cur_parts = (
            read_manifest(table, cur_v)["partitions"] if cur_v else {}
        )
        changed = {
            k
            for k in set(cur_parts) | set(base_parts)
            if cur_parts.get(k) != base_parts.get(k)
        }
        overlap = changed & touched
        if overlap:
            raise ConcurrentCommitError(
                f"partitions {sorted(overlap)} of {table} changed under "
                "this merge; redo it from the current snapshot"
            )
        parts = {k: v for k, v in cur_parts.items() if k not in touched}
        parts.update(entries)
        v = (cur_v or 0) + 1
        if _link_manifest(table, v, partition_col, partition_dtype, parts):
            _flip_pointer(table, v)
            return v
        # lost the CAS: rebase on the new current and retry
    raise ConcurrentCommitError(
        f"gave up after {max_retries} CAS retries on {table}"
    )


def _link_manifest(
    table: str,
    v: int,
    partition_col: str | None,
    partition_dtype: str | None,
    parts: dict[str, list[str]],
) -> bool:
    """Write manifest ``v`` to a private tmp file, then link it into
    place. False when another writer already took ``v``."""
    mp = _mpath(table, v)
    tmp = f"{mp}.tmp.{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "version": v,
                    "partition_col": partition_col,
                    "partition_dtype": partition_dtype,
                    "partitions": parts,
                },
                fh,
                sort_keys=True,
            )
        os.link(tmp, mp)
        return True
    except FileExistsError:
        return False
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _flip_pointer(table: str, v: int) -> None:
    """Forward-only compare-and-swap of the ``_latest`` pointer.

    The check-then-rename race: flipper A (v=5) and
    flipper B (v=6) both read pointer=4; B renames ptr→6, then A's late
    rename regresses it to 5, and — before ``_publish`` was rebased on
    the on-disk max — the next locked writer computed version 6 from
    the regressed pointer and ``os.rename`` silently clobbered the
    committed m-6 (losing its snapshot; vacuum could then delete its
    data files). The check and the rename must be one atomic step.

    Locally that CAS is a short atomic-``mkdir`` critical section
    (microseconds: one read + one rename of a one-line file; nothing
    Spark-sized happens under it). On an object store the equivalent is
    a single conditional PUT keyed on the old pointer value (S3
    ``If-Match`` / GCS ``ifGenerationMatch``). The flip stays
    best-effort for liveness: if the lock is wedged by a dead process
    we skip the flip rather than deadlock — writers never base on the
    pointer (``_max_manifest_version``) and ``current_version`` falls
    back to the on-disk max, so a skipped flip only delays readers
    until the next commit heals it."""
    ptr = os.path.join(table, _LATEST)
    lock = ptr + ".lock"
    for _ in range(200):  # ~2 s worst case; flips hold the lock for µs
        try:
            os.mkdir(lock)
            break
        except FileExistsError:
            time.sleep(0.01)
    else:
        return  # wedged lock: leave the pointer to the next commit
    try:
        try:
            with open(ptr) as fh:
                if int(fh.read().strip()) >= v:
                    return  # a later commit already advanced it
        except (OSError, ValueError):
            pass
        ptmp = f"{ptr}.tmp.{uuid.uuid4().hex[:8]}"
        with open(ptmp, "w") as fh:
            fh.write(str(v))
        os.rename(ptmp, ptr)
    finally:
        os.rmdir(lock)


def _publish(
    table: str,
    partition_col: str | None,
    partition_dtype: str | None,
    parts: dict[str, list[str]],
) -> int:
    """Write the complete manifest, then flip the pointer — on an
    object store both writes become single small conditional PUTs.

    Versions off ``_max_manifest_version`` and commits through the same
    ``os.link`` CAS as ``_publish_cas``: the pointer
    can lag the on-disk max (crash between manifest link and pointer
    flip, or a late flipper losing the race), and basing on
    ``current_version`` then recomputed an already-taken version whose
    ``os.rename`` clobbered the committed manifest. Locked writers
    can't race each other, but they CAN land on a version a crashed or
    optimistic writer already took — link-EEXIST just advances past it."""
    os.makedirs(os.path.join(table, "manifests"), exist_ok=True)
    v = (_max_manifest_version(table) or 0) + 1
    while not _link_manifest(table, v, partition_col, partition_dtype, parts):
        v += 1  # version taken (crashed/optimistic writer)
    _flip_pointer(table, v)
    return v


def _pdtype(df: DataFrame, partition_col: str | None) -> str | None:
    """Spark simpleString of the partition column's type — published in
    the manifest so readers can re-type partition values exactly."""
    if partition_col is None:
        return None
    return df.schema[partition_col].dataType.simpleString()


def _decode_partition_key(raw: str, dtype: str | None) -> str:
    """JSON manifest key for one Hive-escaped partition directory name.

    Hive/Spark percent-encode special characters in directory names and
    spell NULL as ``__HIVE_DEFAULT_PARTITION__`` — and the key must
    round-trip with the ``json.dumps(value)`` a later merge computes
    from COLLECTED values, so the value is typed from the dataframe
    schema, never guessed from the digits (a digit
    heuristic turned the string value '0123' into int 123, so the
    stale partition was carried forward forever alongside the new one
    and pruned reads missed it). Same decoding discipline as
    operators/merge._remove_partition_dirs."""
    from urllib.parse import unquote

    raw = unquote(raw)
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return json.dumps(None)
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return json.dumps(int(raw))
    if dtype in ("float", "double"):
        return json.dumps(float(raw))
    if dtype == "boolean":
        return json.dumps(raw.lower() == "true")
    return json.dumps(raw)


def _write_token(
    df: DataFrame, table: str, partition_col: str | None
) -> dict[str, list[str]]:
    """Write ``df`` into a fresh data/<token> prefix and return the
    manifest entries it produced: partition key → [relative dir]."""
    token = uuid.uuid4().hex[:12]
    rel = os.path.join("data", token)
    dest = os.path.join(table, rel)
    if partition_col is None:
        df.write.mode("errorifexists").parquet(dest)
        return {_ALL: [rel]}
    dtype = _pdtype(df, partition_col)
    df.write.mode("errorifexists").partitionBy(partition_col).parquet(dest)
    # list OUR OWN just-written output (writer-side listing is safe:
    # the files are fully ours and complete once the write returned)
    out: dict[str, list[str]] = {}
    prefix = f"{partition_col}="
    for name in os.listdir(dest):
        if name.startswith(prefix):
            out[_decode_partition_key(name[len(prefix):], dtype)] = [
                os.path.join(rel, name)
            ]
    return out


# ------------------------------------------------------------ public api ----

def write_table(
    df: DataFrame, table: str, partition_col: str | None = None
) -> int:
    """Full-snapshot commit: write everything to a fresh prefix, then
    publish a manifest naming it. Returns the new version."""
    with _merge_lock(table):
        entries = _write_token(df, table, partition_col)
        return _publish(table, partition_col, _pdtype(df, partition_col), entries)


def read_table(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    partition_values: list | None = None,
) -> DataFrame:
    """Resolve the manifest and read EXACTLY the files it names — no
    directory listing, no rename dependence; a concurrent commit
    cannot tear this read. ``partition_values`` prunes to those
    partitions via manifest lookup alone."""
    m = read_manifest(table, version)
    pcol = m["partition_col"]
    parts = m["partitions"]
    if pcol is None:
        dirs = [os.path.join(table, d) for d in parts.get(_ALL, [])]
        return spark.read.parquet(*dirs)
    # the published dtype re-types the reattached partition column
    # exactly (NULL partitions would otherwise come back as void);
    # legacy manifests without it keep literal inference
    dtype = m.get("partition_dtype")
    wanted = (
        {json.dumps(v) for v in partition_values}
        if partition_values is not None
        else set(parts)
    )
    pieces = []
    for key, rels in parts.items():
        if key not in wanted:
            continue
        val = json.loads(key)
        lit = F.lit(val).cast(dtype) if dtype else F.lit(val)
        for rel in rels:
            pieces.append(
                spark.read.parquet(os.path.join(table, rel))
                .withColumn(pcol, lit)
            )
    if not pieces:
        raise ValueError(
            f"no partitions of {table} match {partition_values}"
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def merge_table(
    spark: SparkSession,
    table: str,
    new_df: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
    optimistic: bool = False,
) -> dict[str, int]:
    """MERGE with a manifest commit — the same contract and count
    report as merge_into_parquet, zero data renames.

    Partitioned: ONE pre-write action (touched values + batch count),
    then existing-rows-in-touched ∪ batch rewritten into a fresh
    prefix; the new manifest carries forward every untouched
    partition's existing entries verbatim. Readers on the old manifest
    keep a consistent snapshot throughout.

    ``optimistic=True`` drops the coarse single-writer lock: the commit
    is a manifest-file CAS (_publish_cas — conditional-PUT analog), so
    CONCURRENT merges touching DISJOINT partitions both land (the loser
    rebases its carry-forward and retries); merges racing on the same
    partition raise ConcurrentCommitError and the caller redoes the
    merge from the fresh snapshot. Requires a partition_col: an
    unpartitioned merge rewrites the whole table and always
    conflicts."""
    import contextlib

    if optimistic and partition_col is None:
        raise ValueError(
            "optimistic merges need a partition_col — an unpartitioned "
            "merge rewrites the whole table and always conflicts"
        )
    ctx = contextlib.nullcontext() if optimistic else _merge_lock(table)
    with ctx:
        new_df = dedupe_new(new_df, key_cols)
        if current_version(table) is None:
            entries = _write_token(new_df, table, partition_col)
            dtype = _pdtype(new_df, partition_col)
            if optimistic:
                _publish_cas(table, partition_col, dtype, entries, {})
            else:
                _publish(table, partition_col, dtype, entries)
            return {"upsertedCount": new_df.count(), "modifiedCount": 0}

        # optimistic writers base on the max ON-DISK manifest (the
        # pointer can lag a racing writer's flip) and pin every read
        # to that version
        m = read_manifest(
            table, _max_manifest_version(table) if optimistic else None
        )
        if m["partition_col"] != partition_col:
            raise ValueError(
                f"table partitioned by {m['partition_col']!r}, "
                f"merge called with {partition_col!r}"
            )

        if partition_col is not None:
            per_part = (
                new_df.groupBy(partition_col)
                .agg(F.count(F.lit(1)).alias("__c"))
                .collect()
            )
            if not per_part:
                # empty batch: no data, no new manifest — and the
                # observed nodes below would be pruned away entirely
                return {"upsertedCount": 0, "modifiedCount": 0}
            touched = [r[0] for r in per_part]
            batch_total = sum(r["__c"] for r in per_part)
            touched_keys = {json.dumps(v) for v in touched}
            present = [k for k in touched_keys if k in m["partitions"]]
            existing = (
                read_table(
                    spark, table, version=m["version"],
                    partition_values=[json.loads(k) for k in present],
                )
                if present
                else None
            )
            obs_new = None
        else:
            obs_new = Observation()
            new_df = new_df.observe(obs_new, F.count(F.lit(1)).alias("n"))
            batch_total = None
            existing = read_table(spark, table, version=m["version"])

        key = [F.col(f"n.{k}") == F.col(f"e.{k}") for k in key_cols]
        if existing is not None:
            obs_exist = Observation()
            existing = existing.observe(
                obs_exist, F.count(F.lit(1)).alias("n")
            )
            obs_surv = Observation()
            survivors = existing.alias("e").join(
                new_df.select(*key_cols).alias("n"), key, "left_anti"
            ).observe(obs_surv, F.count(F.lit(1)).alias("n"))
            merged = survivors.unionByName(new_df)
        else:
            merged = new_df

        entries = _write_token(merged, table, partition_col)
        dtype = m.get("partition_dtype") or _pdtype(new_df, partition_col)
        if optimistic:
            # the CAS computes the carry-forward against whatever is
            # current at commit time and verifies our touched set is
            # disjoint from everything that changed since our base
            _publish_cas(
                table, partition_col, dtype, entries, m["partitions"]
            )
        else:
            if partition_col is not None:
                # carry forward untouched partitions; replace touched
                parts = {
                    k: v
                    for k, v in m["partitions"].items()
                    if k not in touched_keys
                }
                parts.update(entries)
            else:
                parts = entries
            _publish(table, partition_col, dtype, parts)
        if existing is not None:
            matched = _obs_count(obs_exist) - _obs_count(obs_surv)
        else:
            matched = 0
        if batch_total is None:
            batch_total = _obs_count(obs_new)
        return {
            "upsertedCount": int(batch_total - matched),
            "modifiedCount": int(matched),
        }


def delete_keys_table(
    spark: SparkSession,
    table: str,
    keys_df: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
) -> int:
    """Keyed delete with a manifest commit: touched partitions (or the
    whole table when unpartitioned) are rewritten without the doomed
    keys into a fresh prefix; untouched partitions carry forward.
    Returns the number of rows deleted."""
    with _merge_lock(table):
        m = read_manifest(table)
        if m["partition_col"] != partition_col:
            raise ValueError("partition_col mismatch")
        if partition_col is not None:
            if partition_col in keys_df.columns:
                touched_keys = {
                    json.dumps(r[0])
                    for r in keys_df.select(partition_col).distinct().collect()
                }
            else:
                # keys don't carry the partition value: every partition
                # is suspect — still a manifest-pruned read, no listing
                touched_keys = set(m["partitions"])
            present = [k for k in touched_keys if k in m["partitions"]]
            if not present:
                return 0
            existing = read_table(
                spark, table,
                partition_values=[json.loads(k) for k in present],
            )
        else:
            touched_keys = set()
            existing = read_table(spark, table)
        key = [F.col(f"e.{k}") == F.col(f"k.{k}") for k in key_cols]
        obs_exist, obs_surv = Observation(), Observation()
        existing = existing.observe(obs_exist, F.count(F.lit(1)).alias("n"))
        survivors = existing.alias("e").join(
            F.broadcast(keys_df.select(*key_cols).distinct().alias("k")),
            key, "left_anti",
        ).observe(obs_surv, F.count(F.lit(1)).alias("n"))
        entries = _write_token(survivors, table, partition_col)
        if partition_col is not None:
            parts = {
                k: v
                for k, v in m["partitions"].items()
                if k not in touched_keys
            }
            parts.update(entries)
        else:
            parts = entries
        _publish(table, partition_col, m.get("partition_dtype"), parts)
        return int(_obs_count(obs_exist) - _obs_count(obs_surv))


def rollback_table(table: str, version: int) -> int:
    """Reorg/restore: re-publish an OLD manifest's contents as the new
    current version — no data moves, instantly consistent. Returns the
    NEW version number; the pointer never moves backwards."""
    old = read_manifest(table, version)
    with _merge_lock(table):
        return _publish(
            table, old["partition_col"], old.get("partition_dtype"),
            old["partitions"],
        )


def vacuum_table(table: str, keep: int = 2) -> list[str]:
    """Delete data referenced by NONE of the newest ``keep`` manifests
    (snapshots older than the retention window lose their files; their
    manifests stay as tombstones). Reclaim granularity is the manifest
    ENTRY — a partition subdir for partitioned tables — because a
    merge's carry-forward means one token prefix can hold both a live
    partition and a superseded one. Returns removed relative dirs."""
    if keep < 1:
        raise ValueError(f"vacuum_table: need keep >= 1, got {keep}")
    versions = manifest_versions(table)
    if not versions:
        return []
    live: set[str] = set()
    for v in versions[-keep:]:
        for rels in read_manifest(table, v)["partitions"].values():
            live.update(os.path.normpath(rel) for rel in rels)
    ddir = os.path.join(table, "data")
    removed = []
    for token in sorted(os.listdir(ddir)) if os.path.isdir(ddir) else []:
        tok_rel = os.path.join("data", token)
        tok_abs = os.path.join(ddir, token)
        if tok_rel in live:  # unpartitioned token referenced whole
            continue
        kept_child = False
        child_removed: list[str] = []
        for child in sorted(os.listdir(tok_abs)):
            child_abs = os.path.join(tok_abs, child)
            if not os.path.isdir(child_abs):
                continue  # _SUCCESS etc. — removed with the token below
            child_rel = os.path.join(tok_rel, child)
            if child_rel in live:
                kept_child = True
            else:
                shutil.rmtree(child_abs, ignore_errors=True)
                child_removed.append(child_rel)
        if kept_child:
            removed.extend(child_removed)
        else:
            shutil.rmtree(tok_abs, ignore_errors=True)
            removed.append(tok_rel)
    return sorted(removed)
