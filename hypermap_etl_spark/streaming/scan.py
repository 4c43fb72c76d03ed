"""T1-T5: continuous ingest as Structured Streaming (SURVEY.md §2.8).

The reference's scan loop polls the chain head every 30 s and processes
new block ranges in chunks (/root/reference/scripts/scan-events.ts:
123-168). Spark-first mapping:

  T1 continuous tail      readStream file source +
                          trigger(processingTime='30 seconds')
  T2 checkpoint/resume    checkpointLocation (exactly-once source
                          progress); batch resume = high-water mark
  T3 effectively-once     foreachBatch → MERGE on event_id (idempotent
                          sink; at-least-once delivery × idempotent
                          upsert = effectively-once, same equation as
                          the reference's _id bulkWrite)
  T4 rate control         maxFilesPerTrigger (the chunk-size analog)
  T5 progress telemetry   streaming/telemetry.ProgressListener +
                          per-batch ``on_progress`` callbacks (the
                          reference's 15 s status line,
                          scripts/extract-events.ts:197-202)

One layout per table, shared with the batch CLI: the events table is
partitioned by merge.with_block_bucket and the entries table by
materialize.with_entry_bucket, so `extract`/`index` followed by a
stream (or `reorg`) on the same paths works on the same tables.

Scale design (the 100 TB path):
  - every micro-batch MERGE is a DYNAMIC PARTITION OVERWRITE on
    block_bucket — per-batch write I/O is O(touched buckets), never
    O(table) (operators/merge.merge_into_parquet; proven byte-identical
    for untouched buckets in tests/test_merge_serving.py).
  - the index stream keeps the entries table current per batch by one
    of two paths, picked from the source layout at its first non-empty
    batch: the O(batch) delta merge for block-aligned chain-scan files,
    else a restricted replay of the touched keys (the same keyed refold
    reorg_rollback repairs entries with).
  - the replay path maintains a (namehash → block_bucket) side index
    so it reads ONLY the buckets containing the touched keys'
    historical events — scan volume is O(touched), not O(full log)×4
    as the naive four-semi-join formulation was.

Beyond-parity extension (the reference cannot have late data because
block numbers are totally ordered): event-time tumbling windows with a
watermark over an out-of-order event stream.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hypermap_etl_spark.operators.decode import parse_raw_logs
from hypermap_etl_spark.operators.merge import merge_into_parquet, with_block_bucket
from hypermap_etl_spark.schemas import RAW_LOG_SCHEMA


def read_raw_log_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """Unbounded raw-log source: files landing in ``path`` (each file =
    one fetched chunk, the eth_getLogs analog)."""
    return (
        spark.readStream.schema(RAW_LOG_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def start_ingest_stream(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    checkpoint_path: str,
    trigger: dict | None = None,
    max_files_per_trigger: int = 10,
    on_progress: Callable[[dict], None] | None = None,
):
    """Decode + idempotently MERGE each micro-batch into the events table.

    The table is partitioned by block_bucket and each batch is a dynamic
    partition overwrite — only the buckets the batch touches are
    rewritten (an append-mostly chain log touches ~1 bucket per batch).

    trigger: e.g. {"availableNow": True} for catch-up (the reference's
    chunked backfill), {"processingTime": "30 seconds"} for the
    continuous tail. ``on_progress`` (T5) is called after each batch
    with {batch_id, rows, upserted, modified, high_water, secs}.
    Returns the StreamingQuery.
    """
    raw = read_raw_log_stream(spark, source_path, max_files_per_trigger)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        # persist: the MERGE runs several actions (touched-partition
        # collect, the observed partition overwrite) and would
        # otherwise re-decode the batch for each one
        events = with_block_bucket(parse_raw_logs(batch_df)).persist()
        try:
            res = merge_into_parquet(
                spark, table_path, events, ["event_id"],
                partition_col="block_bucket",
            )
        finally:
            events.unpersist()
        if on_progress is not None:
            on_progress(
                {
                    "batch_id": batch_id,
                    "rows": res["upsertedCount"] + res["modifiedCount"],
                    "upserted": res["upsertedCount"],
                    "modified": res["modifiedCount"],
                    "high_water": high_water_mark(spark, table_path),
                    "secs": round(time.monotonic() - t0, 3),
                }
            )

    writer = raw.writeStream.foreachBatch(_merge_batch).option(
        "checkpointLocation", checkpoint_path
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()


# ------------------------------------------------ key → bucket side index ----

def batch_key_buckets(events: DataFrame) -> DataFrame:
    """(namehash, block_bucket) pairs a bucketed batch writes — the index
    rows that let a later batch find every bucket holding a key's
    events. One map-side explode, distinct within the batch. Buckets
    are longs, as with_block_bucket types them (an events table read
    from disk infers an int): mixed types fail the index's reads."""
    from hypermap_etl_spark.operators.materialize import ENTRY_KEY_COLS

    return (
        events.select(
            F.explode(F.array(*[F.col(c) for c in ENTRY_KEY_COLS])).alias("namehash"),
            F.col("block_bucket").cast("long").alias("block_bucket"),
        )
        .filter(F.col("namehash").isNotNull())
        .distinct()
    )


def rebuild_key_index(spark: SparkSession, table_path: str, key_index_path: str) -> None:
    """Full-scan rebuild of the key index from the events table. The
    index stream runs it at the first replay batch of each run, so
    events another writer added between runs (batch `extract`, a
    delta-path run) are indexed too."""
    log = spark.read.parquet(table_path)
    batch_key_buckets(log).write.mode("overwrite").parquet(key_index_path)


def replay_buckets(
    spark: SparkSession, key_index_path: str, touched_keys: DataFrame
) -> list[int]:
    """Buckets containing any event referencing a touched key, from the
    side index.

    The index is append-written per batch (blind append, no read on the
    write path — duplicate (key, bucket) pairs across batches are
    harmless and compacted away by the distinct here); the touched-key
    semi-join broadcasts the (small) batch key set, so this lookup costs
    one scan of the index, which is orders of magnitude smaller than
    the log (keys × buckets-touched, not events)."""
    idx = spark.read.parquet(key_index_path)
    rows = (
        idx.join(F.broadcast(touched_keys), "namehash", "left_semi")
        .select("block_bucket")
        .distinct()
        .collect()
    )
    return [r[0] for r in rows]


def source_layout_block_aligned(source_path: str) -> bool:
    """Does the raw-log source directory hold BLOCK-ALIGNED extract
    files — the layout the delta maintenance contract needs?

    The delta path (incremental_entries_delta) requires each
    micro-batch's blocks to come strictly after every already-applied
    block. The file source forms micro-batches at file boundaries and
    picks files oldest-modification-first, so the requirement reduces
    to a per-FILE property checkable from parquet footers alone:
    every leaf file's [min(blockNumber), max(blockNumber)] span must be
    disjoint from every other's (a block split across two files could
    straddle a batch boundary), and mtime order must agree with block
    order (the pickup order). The chain-scan writer satisfies both by
    construction — it writes one sorted file per fetched range, in
    range order; a shuffled multi-part re-write of the same ranges
    fails the overlap check and falls back to replay.

    Footer statistics only — no Spark job, no row reads; O(files), run
    once per stream run at its first non-empty batch. An EMPTY source
    offers no evidence and returns False."""
    import pyarrow.parquet as pq

    spans = []
    for root, _dirs, names in os.walk(source_path):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            f = os.path.join(root, n)
            try:
                md = pq.ParquetFile(f).metadata
            except Exception:
                return False
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            if "blockNumber" not in idx:
                return False
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["blockNumber"]).statistics
                if st is None or not st.has_min_max:
                    return False
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is None:
                continue  # zero-row file constrains nothing
            spans.append((lo, hi, os.path.getmtime(f)))
    if not spans:
        return False
    spans.sort()
    for (_l1, h1, t1), (l2, _h2, t2) in zip(spans, spans[1:]):
        # EQUAL mtimes are no-evidence, not a pass: the file source
        # orders equal-timestamp files arbitrarily, so two tied files
        # can be split across micro-batches in non-block order — and
        # coarse mtime granularity or a fast writer makes ties
        # realistic. Only strictly increasing mtimes prove the
        # pickup order agrees with block order.
        if h1 >= l2 or t1 >= t2:
            return False
    return True


# index-stream maintenance cadence: every COMPACT_INDEX_EVERY batches
# the blind-appended key index is rewritten distinct into one file
COMPACT_INDEX_EVERY = 64


def start_index_stream(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    entries_path: str,
    checkpoint_path: str,
    trigger: dict | None = None,
    max_files_per_trigger: int = 10,
    on_progress: Callable[[dict], None] | None = None,
):
    """Continuous `index-events`: per micro-batch, MERGE decoded events
    into the events table AND incrementally update the materialized
    entries (only the namehashes the batch touches). The streaming
    equivalent of the reference's index loop
    (/root/reference/scripts/index-events.ts:216).

    Both tables have the layout batch `index` writes (events by
    block_bucket, entries by entry_bucket), so a stream can follow
    `index` on the same paths; a table in another layout fails the
    first batch's MERGE with a column error. The side tables sit next
    to the entries table: ``<entries>__keyidx`` (the replay path's key
    index) and ``<entries>__pending`` (the delta path's early writes).

    Entries maintenance runs one of two paths, chosen from the source
    layout at the first non-empty batch (source_layout_block_aligned —
    parquet footer spans only, no Spark job), so a stream started on
    an empty source decides once its first files have landed:

    - 'delta' when the layout is the chain-scan writer's
      one-sorted-file-per-range: the batch's own events are folded
      alone and associatively merged with the touched keys' STORED rows
      (materialize.incremental_entries_delta) — O(batch) per batch, no
      history reread at all. Valid because such a source delivers
      batches in block order (the file source chops micro-batches at
      file boundaries and picks files oldest-first); re-delivered
      batches re-merge idempotently. A range written as many shuffled
      part-files could split one block's events across micro-batches,
      which the associative merge cannot repair; their spans overlap,
      so such a source runs 'replay'. The delta fold never reads the
      events table, so the batch's events MERGE runs on a second
      thread beside it; the batch returns once both writes have
      finished, and if either fails its error is raised only then. A
      crash can therefore leave either table ahead of the other; the
      redelivered batch re-applies both, idempotently.
    - 'replay' for anything else (overlapping spans, mtime disorder): a
      restricted replay of the touched keys' events
      (materialize.incremental_entries_update), indifferent to order.
      It reads the events table, so its events MERGE runs first.
      Per-batch cost at scale:
        write  O(touched block buckets)   — dynamic partition overwrite
        scan   O(buckets holding touched keys' events) — side-index prune
        fold   O(events of touched entries)
        upsert O(entry buckets holding touched entries)
      Nothing is proportional to the full log or the full entries table.

    The choice is printed and reported in every on_progress payload
    (``entries_strategy``) — and re-verified per micro-batch: a delta
    batch whose min(blockNumber) is not strictly above the applied
    high-water mark (files that landed mid-stream out of block order)
    demotes the stream to 'replay' for the rest of the run, with the
    demoting batch_id surfaced as ``delta_fallback_at``.

    The key index exists only for the replay path, which alone reads
    it. The first replay batch of each run rebuilds it from the events
    table after its events MERGE (rebuild_key_index), so events other
    writers added since the last run (batch `extract`, delta batches,
    which do not write it) are found. Later replay batches of the run
    blind-append their pairs (no read on the write path), so it
    accumulates one small file and some duplicate pairs per batch;
    every COMPACT_INDEX_EVERY batches it is rewritten distinct into one
    file (compact_small_table) — long-running tails never degrade into
    thousands-of-tiny-files scans. The events and entries tables need
    no such maintenance: every MERGE rewrites each touched bucket as
    one file (merge._overwrite_partitions).
    """
    from concurrent.futures import ThreadPoolExecutor

    from hypermap_etl_spark.operators.materialize import (
        incremental_entries_delta,
        incremental_entries_update,
        touched_namehashes,
    )

    key_index_path = entries_path.rstrip("/") + "__keyidx"
    raw = read_raw_log_stream(spark, source_path, max_files_per_trigger)

    # Per-batch guard for the delta contract: the layout check is
    # evidence about the files present when it ran; files landing later
    # (a backfill rewrite into the same prefix, a writer change) can
    # violate block order mid-stream. Each delta batch must sit strictly
    # above everything already applied, so we track the applied
    # high-water in-memory and demote the stream to 'replay' —
    # permanently, trust is gone — the moment a batch's min(blockNumber)
    # is not above it. 'replay' is indifferent to order, so the demoted
    # batch (and all later ones) stays correct. The FIRST batch of a run
    # is exempt: after a crash Spark redelivers the last uncommitted
    # batch, whose span legitimately overlaps the applied rows (the
    # delta merge is idempotent for exact redelivery).
    # "strategy": None until the first non-empty batch;
    # "indexed": the key index was rebuilt in this run
    state = {"strategy": None, "hw": None, "fallback_at": None, "indexed": False}
    span_aggs = [
        F.count(F.lit(1)).alias("n"),
        F.min("blockNumber").alias("lo"),
        F.max("blockNumber").alias("hi"),
    ]

    def _index_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        events = with_block_bucket(parse_raw_logs(batch_df))
        events = events.persist()  # consumed by merge + index + touch set
        try:
            # one action fills the cache and answers both the emptiness
            # and the block-span questions
            span = events.agg(*span_aggs).first()
            if span["n"] == 0:
                return
            if state["strategy"] is None:
                state["strategy"] = (
                    "delta" if source_layout_block_aligned(source_path) else "replay"
                )
                # the detected choice is a correctness-relevant
                # attestation — say it loudly, not only in progress
                print(
                    f"[start_index_stream] entries_strategy resolved to "
                    f"'{state['strategy']}' for {source_path}"
                )
            if state["strategy"] == "delta":
                if state["hw"] is not None and span["lo"] <= state["hw"]:
                    state["strategy"] = "replay"
                    state["fallback_at"] = batch_id
                    print(
                        f"[start_index_stream] batch {batch_id} spans "
                        f"[{span['lo']},{span['hi']}] but blocks <= "
                        f"{state['hw']} are already applied — delta "
                        "contract violated mid-stream; demoting to "
                        "'replay' for the rest of the run"
                    )
                else:
                    state["hw"] = (
                        span["hi"]
                        if state["hw"] is None
                        else max(span["hi"], state["hw"])
                    )
            def merge_events():
                return merge_into_parquet(
                    spark, table_path, events, ["event_id"], partition_col="block_bucket"
                )

            if state["strategy"] == "delta":
                buckets = None
                with ThreadPoolExecutor(max_workers=1) as pool:
                    merged = pool.submit(merge_events)
                    try:
                        incremental_entries_delta(spark, entries_path, events)
                    finally:
                        # joins the events MERGE even when the entries
                        # leg raised, so no table lock outlives the
                        # batch; an events error is raised here, with
                        # an entries error as its context
                        res = merged.result()
            else:
                res = merge_events()
                if state["indexed"]:
                    batch_key_buckets(events).write.mode("append").parquet(key_index_path)
                else:
                    rebuild_key_index(spark, table_path, key_index_path)
                    state["indexed"] = True
                if batch_id > 0 and batch_id % COMPACT_INDEX_EVERY == 0:
                    from hypermap_etl_spark.operators.merge import compact_small_table

                    compact_small_table(spark, key_index_path)
                keys = touched_namehashes(events)
                buckets = replay_buckets(spark, key_index_path, keys)
                log = spark.read.parquet(table_path).filter(
                    F.col("block_bucket").isin(buckets)
                )
                incremental_entries_update(spark, entries_path, log, keys)
            if on_progress is not None:
                on_progress(
                    {
                        "batch_id": batch_id,
                        "rows": res["upsertedCount"] + res["modifiedCount"],
                        "upserted": res["upsertedCount"],
                        "modified": res["modifiedCount"],
                        "replay_buckets": sorted(buckets) if buckets is not None else None,
                        "entries_strategy": state["strategy"],
                        "delta_fallback_at": state["fallback_at"],
                        "secs": round(time.monotonic() - t0, 3),
                    }
                )
        finally:
            events.unpersist()

    writer = raw.writeStream.foreachBatch(_index_batch).option(
        "checkpointLocation", checkpoint_path
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()


def _partition_values(table_path: str, col: str) -> list[int]:
    """Partition values from the directory layout — no file reads."""
    prefix = f"{col}="
    out = []
    for d in os.listdir(table_path):
        if d.startswith(prefix):
            try:
                out.append(int(d[len(prefix):]))
            except ValueError:
                continue
    return out


def high_water_mark(spark: SparkSession, table_path: str) -> int | None:
    """T2 batch-resume cursor: next scan starts at max(blockNumber)+1
    (mirrors /root/reference/scripts/status.ts:96-99).

    On a block-bucketed table the max block lives in the max bucket by
    construction (bucket = blockNumber div size), so the scan is pruned
    to ONE partition via the directory listing — no full-table scan.
    """
    if not os.path.exists(table_path):
        return None
    df = spark.read.parquet(table_path)
    buckets = _partition_values(table_path, "block_bucket")
    if buckets:
        df = df.filter(F.col("block_bucket") == max(buckets))
    row = df.agg(F.max("blockNumber").alias("m")).collect()[0]
    return row["m"]


def streaming_type_counts(
    spark: SparkSession, source_path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """A6 as a streaming aggregate: running per-type counts over the
    decoded stream (update output mode when started)."""
    raw = read_raw_log_stream(spark, source_path, max_files_per_trigger)
    return parse_raw_logs(raw).groupBy("eventType").count()


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling window with late-data watermark (extension;
    the reference needs none because block order is total)."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def windowed_distinct_users(
    events_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Per-window approximate distinct users — the streaming face of
    the sketch.hll_* rollup: approx_count_distinct is HLL++-backed and
    MERGEABLE, so the state store holds one sketch per open window (a
    few KB), not the user set, and late rows inside the watermark fold
    into the same sketch. An exact countDistinct would either hold
    every user id in state or need a two-level aggregation per
    window — the memory/accuracy trade a 100 TB stream makes is
    exactly this sketch."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(
            F.approx_count_distinct(user_col).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "approx_users",
            "n_events",
        )
    )
