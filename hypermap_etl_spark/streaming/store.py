"""Shared batch-partitioned store compaction — ONE staged-swap
implementation for every additive store (drift counts, A/B moments,
top-k summaries, quantile histograms), with crash RECOVERY on entry.

Store layout (common to all four):

    store/
      batch_id=0/ … batch_id=N/   additive partial rows per batch
      batch_id=-1/                 compaction fold (optional)
      _folded_through              replay watermark (max folded REAL id)

Compaction sequence (``compact_store``):

    1. recover any crashed prior compaction (see below)
    2. list batch_id=* partitions; <=1 → nothing to do
    3. fold EXACTLY those partitions (caller-supplied reduction) into
       ``.compact.tmp`` — reading the store root instead would also
       pick up a batch the stream appends between the listing and the
       scan, folding it in but leaving its directory alive:
       double-counted forever after
    4. rename the listed partitions into ``.compact.trash`` (dot-dir:
       invisible to Spark reads, never deleted until the swap lands)
    5. rename ``.compact.tmp`` → ``batch_id=-1`` (the commit point:
       rename removes the tmp dir, so tmp-exists ⇔ not yet committed)
    6. write the ``_folded_through`` watermark, drop the trash

Crash recovery (``recover_compact``, run on every compaction entry):

    - ``.compact.tmp`` still present → the swap NEVER landed. Roll
      BACK: move every partition in the trash back into the store
      (no name can collide — a partition is in exactly one of the two
      places pre-commit), drop tmp and trash. The store reads exactly
      as before the crashed compaction; counts are intact.
    - tmp absent but ``.compact.trash`` present → the swap LANDED but
      the epilogue didn't finish. Roll FORWARD: ensure the watermark
      covers the max real id in the trash (moving the trash back here
      would DOUBLE-COUNT against the live batch_id=-1), then drop the
      trash.

Without recovery, a crash between steps 4 and 5 left the store with
zero readable partitions, and a re-run short-circuited on the <=1
check without restoring them (streaming/abmonitor.py, inherited from
drift.py and topk.py).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TMP = ".compact.tmp"
TRASH = ".compact.trash"
WATERMARK = "_folded_through"


def folded_through(store_path: str) -> int:
    """Highest REAL batch id folded into batch_id=-1 by a compaction
    (-1 when never compacted) — the sink-side replay guard: a batch at
    or below this watermark was already folded and must not re-create
    its partition after a crash replay."""
    marker = os.path.join(store_path, WATERMARK)
    try:
        with open(marker) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def _write_watermark(store_path: str, value: int) -> None:
    with open(os.path.join(store_path, WATERMARK), "w") as fh:
        fh.write(str(value))


def _trash_max_real(trash: str) -> int:
    ids = []
    for d in os.listdir(trash):
        if d.startswith("batch_id="):
            try:
                ids.append(int(d.split("=", 1)[1]))
            except ValueError:
                continue
    return max(ids, default=-1)


def recover_compact(store_path: str) -> str:
    """Finish or roll back a compaction that crashed mid-swap.
    Returns 'clean' | 'rolled_back' | 'rolled_forward'. Idempotent;
    safe to call any time no compaction is concurrently running."""
    tmp = os.path.join(store_path, TMP)
    trash = os.path.join(store_path, TRASH)
    has_tmp = os.path.isdir(tmp)
    has_trash = os.path.isdir(trash)
    if not has_tmp and not has_trash:
        return "clean"
    if has_tmp:
        # Swap never landed (rename(tmp, dest) would have removed tmp):
        # the fold is untrusted garbage; the trash (if any) holds the
        # only copy of the folded partitions. Restore and discard.
        if has_trash:
            for d in os.listdir(trash):
                if d.startswith("batch_id="):
                    os.rename(
                        os.path.join(trash, d), os.path.join(store_path, d)
                    )
            shutil.rmtree(trash)
        shutil.rmtree(tmp)
        return "rolled_back"
    # Swap landed (batch_id=-1 is the fold) but the epilogue didn't:
    # the trash is now redundant history — restoring it would double
    # count. Make sure the watermark covers it, then drop it.
    max_real = _trash_max_real(trash)
    if max_real > folded_through(store_path):
        _write_watermark(store_path, max_real)
    shutil.rmtree(trash)
    return "rolled_forward"


def compact_store(
    spark: SparkSession,
    store_path: str,
    fold: Callable[[DataFrame], DataFrame],
) -> int:
    """Fold all current batch partitions into batch_id=-1 under the
    caller's additive reduction — answer-equivalent, file count
    bounded. Returns the number of partitions folded (0 when there is
    nothing to do). Safe against concurrent appends of NEW batches
    (only the listed partitions are replaced) and against crashes at
    any step (see module docstring).

    POSIX-only scope: the swap commits via atomic directory renames,
    which S3-class object stores do not have — on an object store keep
    the additive store un-compacted (appends are rename-free) or commit
    it through sources/manifest.py."""
    recover_compact(store_path)
    parts = [d for d in os.listdir(store_path) if d.startswith("batch_id=")]
    if len(parts) <= 1:
        return 0
    max_real = max((int(d.split("=", 1)[1]) for d in parts), default=-1)
    merged = fold(
        spark.read.parquet(*[os.path.join(store_path, d) for d in parts])
    )
    tmp = os.path.join(store_path, TMP)
    merged.write.mode("overwrite").parquet(tmp)
    trash = os.path.join(store_path, TRASH)
    shutil.rmtree(trash, ignore_errors=True)
    os.makedirs(trash)
    for d in parts:
        os.rename(os.path.join(store_path, d), os.path.join(trash, d))
    os.rename(tmp, os.path.join(store_path, "batch_id=-1"))
    if max_real > folded_through(store_path):
        _write_watermark(store_path, max_real)
    shutil.rmtree(trash)
    return len(parts)
