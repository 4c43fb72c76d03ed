"""M1-M9: event log → materialized entry state (SURVEY.md §2.9).

The reference folds events sequentially into MongoDB documents
(/root/reference/src/lib/services/mongodb.ts:113-270). The Spark-first
rebuild recomputes the same state as a *pure function of the event log*
with keyed aggregates — deterministic, order-insensitive at the row
level (order is encoded in the aggregates via (blockNumber, logIndex)),
and embarrassingly parallel:

  M1 first-Mint-wins identity   → min_by(struct(...), (block, logIdx))
  M2 children set               → collect_set per parent
  M3 placeholder parents        → anti-join minted parents vs children
  M4/M5 facts/notes last-write  → max_by per (entry, label) → map
  M6 gene last-write            → max_by per entry
  M7 owner last-write           → max_by per id (canonical hex — fixes
                                  the reference's dead-code decimal-vs-
                                  hex mismatch, SURVEY.md §7.4.4)
  M8 lastUpdateBlock            → max(block) over applied touches
  M9 error isolation            → null-safe exprs; bad rows quarantined

Deliberate, documented divergences from the reference (SURVEY.md §7.4):
  - placeholder/label races and Fact/Note drops are evaluated against
    the FINAL entry set, not chunk-boundary state — the reference's
    behavior is path-dependent on chunk size, ours is deterministic.

Scale: every aggregate/join here is keyed on a 32-byte hash with
near-uniform distribution (keccak output) — no skew; all shuffles are on
the same key family so AQE reuses exchange where possible. No Python.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hypermap_etl_spark.constants import ROOT_HASH
from hypermap_etl_spark.util import jvm_cached, tracked_local_checkpoint

def _ord():
    return F.struct(F.col("blockNumber"), F.col("logIndex"))


def materialize_entries(
    events: DataFrame,
    root_hash: str = ROOT_HASH,
    known_extra: DataFrame | None = None,
) -> DataFrame:
    """Recompute the full entries table from the decoded event log.

    ``known_extra`` (namehash column) marks keys known to exist OUTSIDE
    this event set — the delta-maintenance hook (incremental_entries_
    delta): Fact/Note/Gene/Transfer writes targeting those keys are
    kept instead of dropped as unknown, and each extra key that
    receives such a write gets an output row with NULL identity fields
    (the stored row supplies identity at merge time). With the default
    ``None`` the behavior and plan are exactly the full-fold ones.

    Plan shape — ONE pass, TWO exchanges, ZERO joins: every event
    map-side explodes into at most two (namehash, kind, label, payload,
    ord) rows — its write target, plus for Mints the parent's
    children/placeholder row — and the whole M1-M8 state folds in a
    single two-level aggregation: level 1 groups by (namehash, kind,
    label) (the per-label last-write granularity M4/M5 need; a no-op
    grain for the other kinds), level 2 by namehash resolves identity
    (first-Mint-wins vs placeholder), assembles the maps/sets, and
    takes M8 as the greatest touch. Every per-kind aggregate is
    conditional on ``kind``, and all of them are semigroup folds, so
    two-level == one-level exactly. Keys seen only as write targets (no
    Mint, no placeholder evidence, not in ``known_extra``) are dropped
    by the final filter. Shuffle volume: exchange 1 carries ~1.05
    narrow rows per event (project-before-exchange; no payload
    duplication), exchange 2 one row per (key, kind, label). A
    per-aggregate formulation left-joined on namehash would scan the
    log six times through ~8 exchanges for the same state (measured on
    the 64x-history refold: 57-62 s vs 16-18 s).

    The expressions depend only on ``root_hash`` and are built once per
    JVM (_fold_exprs).
    """
    x = jvm_cached(("fold", root_hash), lambda: _fold_exprs(root_hash))
    src = (
        events.select(*x.ev)
        .select(*x.exploded)
        .filter(x.cand_ok)
        .select(*x.src)
    )
    if known_extra is not None:
        src = src.unionByName(known_extra.select(*x.extra))
    g1 = src.groupBy(*x.g1_keys).agg(*x.g1)
    res = g1.groupBy(x.g1_keys[0]).agg(*x.res)
    return res.filter(x.keep).select(*x.out)


def _fold_exprs(root_hash: str) -> SimpleNamespace:
    """Every Column of materialize_entries' plan, by stage."""
    ev = [
        *[F.col(c) for c in ("eventType", "blockNumber", "logIndex",
                             "parenthash", "childhash")],
        F.coalesce(F.col("label"), F.lit("")).alias("label"),
        *[F.col(c) for c in ("data", "entry", "gene", "to", "id")],
    ]
    et = F.col("eventType")
    is_mint = (et == "Mint") & F.col("childhash").isNotNull()

    # kinds: 1 = Mint identity row (target=childhash, payload=parent),
    # 2 = Mint parent row (target=parenthash, payload=childhash; is_ph
    # marks M3 placeholder candidacy, i.e. parent != root), 3 = Fact,
    # 4 = Note, 5 = Gene, 6 = Transfer, 0 = known_extra key
    def _cand(cond, nh, kind, lbl, payload, is_ph):
        return F.when(
            cond,
            F.struct(
                nh.alias("namehash"),
                F.lit(kind).cast("int").alias("kind"),
                lbl.alias("lbl"),
                payload.alias("payload"),
                is_ph.alias("is_ph"),
            ),
        )

    nul = F.lit(None).cast("string")
    cand = F.array(
        _cand(is_mint, F.col("childhash"), 1, F.col("label"),
              F.col("parenthash"), F.lit(False)),
        _cand(is_mint & F.col("parenthash").isNotNull(), F.col("parenthash"),
              2, F.lit(""), F.col("childhash"),
              F.col("parenthash") != F.lit(root_hash)),
        _cand(et == "Fact", F.col("parenthash"), 3, F.col("label"),
              F.col("data"), F.lit(False)),
        _cand(et == "Note", F.col("parenthash"), 4, F.col("label"),
              F.col("data"), F.lit(False)),
        _cand((et == "Gene") & F.col("entry").isNotNull(), F.col("entry"),
              5, F.lit(""), F.col("gene"), F.lit(False)),
        _cand((et == "Transfer") & F.col("id").isNotNull(), F.col("id"),
              6, F.lit(""), F.col("to"), F.lit(False)),
    )
    exploded = [
        F.col("blockNumber"), F.col("logIndex"), F.explode(cand).alias("c"),
    ]
    cand_ok = F.col("c").isNotNull() & F.col("c.namehash").isNotNull()
    src = [
        F.col("c.namehash").alias("namehash"),
        F.col("c.kind").alias("kind"),
        F.col("c.lbl").alias("lbl"),
        F.col("c.payload").alias("payload"),
        F.col("c.is_ph").alias("is_ph"),
        F.col("blockNumber"), F.col("logIndex"),
    ]
    extra = [
        F.col("namehash"),
        F.lit(0).cast("int").alias("kind"),
        F.lit("").alias("lbl"),
        nul.alias("payload"),
        F.lit(False).alias("is_ph"),
        F.lit(None).cast("long").alias("blockNumber"),
        F.lit(None).cast("long").alias("logIndex"),
    ]

    # level 1: per (namehash, kind, label). The NULL-skipping first/last
    # writes are arg_min/arg_max over (block, logIndex) that SKIP NULL
    # values: Spark's min_by would return the tracked value even when
    # NULL, while the DuckDB oracle's arg_min skips NULLs — min/max over
    # when(payload-not-null, struct(ord, payload)) ignores the NULLed
    # structs, matching arg_min exactly; (blockNumber, logIndex) is
    # unique per event so the value field never tiebreaks. Each aggregate
    # here is associative, so the level-2 re-fold over group
    # minima/maxima equals a single flat fold.
    pay_w = F.when(
        F.col("payload").isNotNull(),
        F.struct(_ord().alias("o"), F.col("payload").alias("v")),
    )
    g1_keys = [F.col("namehash"), F.col("kind"), F.col("lbl")]
    g1 = [
        F.min(pay_w).alias("w_first"),
        F.max(pay_w).alias("w_last"),
        F.min(F.struct(_ord().alias("o"), F.col("lbl").alias("v"))).alias("l_first"),
        F.min("blockNumber").alias("b_min"),
        F.max("blockNumber").alias("b_max"),
        F.min(F.when(F.col("is_ph"), F.col("blockNumber"))).alias("ph_min"),
        F.max(F.col("is_ph")).alias("ph_any"),
        F.collect_set(F.when(F.col("kind") == 2, F.col("payload"))).alias("childset"),
    ]

    # level 2: resolve per entry key
    k = F.col("kind")

    def _label_map(kind):
        return F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.when(
                        k == kind,
                        F.struct(
                            F.col("lbl").alias("label"),
                            F.col("w_last")["v"].alias("data"),
                        ),
                    )
                )
            )
        )

    res = [
        F.min(F.when(k == 1, F.col("l_first"))).alias("m_l"),
        F.min(F.when(k == 1, F.col("w_first"))).alias("m_p"),
        F.min(F.when(k == 1, F.col("b_min"))).alias("m_creation"),
        F.max(F.when(k == 1, F.col("b_max"))).alias("m_touch"),
        F.min(F.when(k == 2, F.col("ph_min"))).alias("ph_creation"),
        # seen_* track ROW EXISTENCE, creation blocks track VALUES: a
        # Mint whose only rows carry NULL blockNumber still creates the
        # entry (with NULL creationBlock) — keyed off the row set, not
        # off min(block)
        F.max(F.when(k == 1, F.lit(True))).alias("seen_mint"),
        F.max(F.when(k == 2, F.col("ph_any"))).alias("seen_ph"),
        F.array_sort(
            F.array_distinct(
                F.flatten(F.collect_list(F.when(k == 2, F.col("childset"))))
            )
        ).alias("children_agg"),
        F.max(F.when(k == 2, F.col("b_max"))).alias("t_children"),
        _label_map(3).alias("facts_agg"),
        F.max(F.when(k == 3, F.col("b_max"))).alias("t_facts"),
        _label_map(4).alias("notes_agg"),
        F.max(F.when(k == 4, F.col("b_max"))).alias("t_notes"),
        F.max(F.when(k == 5, F.col("w_last"))).alias("g_last"),
        F.max(F.when(k == 5, F.col("b_max"))).alias("t_gene"),
        F.max(F.when(k == 6, F.col("w_last"))).alias("o_last"),
        F.max(F.when(k == 6, F.col("b_max"))).alias("t_owner"),
        F.max(F.when(k == 0, F.lit(True))).alias("has_extra"),
    ]

    # isPlaceholder is PERSISTED state, not render-time inference: the
    # delta merge (merge_entry_states) must distinguish a reserved M3
    # placeholder from a genuine first Mint whose attacker-controlled
    # label happens to be '[unknown]' with parent ROOT — value
    # inference makes those indistinguishable and would let a later
    # re-Mint overwrite a real first-mint identity on the delta path.
    has_mint = F.col("m_creation").isNotNull()
    is_base = F.coalesce(F.col("seen_mint"), F.lit(False)) | F.coalesce(
        F.col("seen_ph"), F.lit(False)
    )
    keep = is_base | F.coalesce(F.col("has_extra"), F.lit(False))
    creation = (
        F.when(has_mint, F.col("m_creation"))
        .when(is_base, F.col("ph_creation"))
    )
    touch_mint = (
        F.when(has_mint, F.col("m_touch")).when(is_base, F.col("ph_creation"))
    )
    # M8: lastUpdateBlock = max over creation + every applied touch
    # (mongodb.ts:179,191,214,235,250,266); greatest() skips NULLs
    last_update = F.greatest(
        creation, touch_mint, F.col("t_children"), F.col("t_facts"),
        F.col("t_notes"), F.col("t_gene"), F.col("t_owner"),
    )
    out = [
        F.col("namehash"),
        F.when(has_mint, F.col("m_l")["v"])
        .when(is_base, F.lit("[unknown]"))
        .otherwise(nul)
        .alias("label"),
        F.when(has_mint, F.col("m_p")["v"])
        .when(is_base, F.lit(root_hash))
        .otherwise(nul)
        .alias("parentHash"),
        nul.alias("fullName"),
        F.col("o_last")["v"].alias("owner"),
        F.col("g_last")["v"].alias("gene"),
        F.col("notes_agg").alias("notes"),
        F.col("facts_agg").alias("facts"),
        F.col("children_agg").alias("children"),
        creation.alias("creationBlock"),
        last_update.alias("lastUpdateBlock"),
        F.when(is_base, ~has_mint)
        .otherwise(F.lit(None).cast("boolean"))
        .alias("isPlaceholder"),
    ]
    return SimpleNamespace(
        ev=ev, exploded=exploded, cand_ok=cand_ok, src=src, extra=extra,
        g1_keys=g1_keys, g1=g1, res=res, keep=keep, out=out,
    )


# the four event columns that can reference an entry (the M1-M7 write set)
ENTRY_KEY_COLS = ["childhash", "parenthash", "entry", "id"]


def touched_namehashes(events: DataFrame) -> DataFrame:
    """Distinct entry keys a batch of events can affect (child, parent,
    gene target, transfer id) — the M1-M7 write set."""
    key, present = jvm_cached("touched", lambda: (
        F.explode(F.array(*[F.col(c) for c in ENTRY_KEY_COLS])).alias("namehash"),
        F.col("namehash").isNotNull(),
    ))
    return events.select(key).filter(present).distinct()


def events_referencing(events_table: DataFrame, keys: DataFrame) -> DataFrame:
    """ONE scan of the log keeping every event that references any key in
    ``keys`` (namehash column) through any of the four entry-key columns.

    Plan shape: the scan's rows are exploded 4-way on the key columns
    map-side (no extra scan, no shuffle), broadcast-semi-joined against
    the key set, then deduped on event_id — shuffle volume is O(matched
    events), scan volume is ONE pass. The previous formulation was four
    separate whole-log scans unioned; at 100 TB that is 4× the I/O for
    the same output.
    """
    exploded = events_table.withColumn(
        "__k", F.explode(F.array(*[F.col(c) for c in ENTRY_KEY_COLS]))
    ).filter(F.col("__k").isNotNull())
    return (
        exploded.join(
            F.broadcast(keys), exploded["__k"] == keys["namehash"], "left_semi"
        )
        .drop("__k")
        .dropDuplicates(["event_id"])
    )


ENTRY_BUCKETS = 16


def with_entry_bucket(df: DataFrame, n: int = ENTRY_BUCKETS) -> DataFrame:
    """Partition column for the entries table: uniform hash bucket of the
    namehash key. A pure function of the merge key, so the partitioned
    MERGE contract holds (a key never moves buckets), and per-batch
    upserts rewrite only the buckets holding touched entries instead of
    the whole entries table."""
    bucket = jvm_cached(
        ("entry_bucket", n), lambda: F.pmod(F.xxhash64(F.col("namehash")), F.lit(n))
    )
    return df.withColumn("entry_bucket", bucket)


def incremental_entries_update(
    spark,
    entries_path: str,
    events_table: DataFrame,
    new_events: DataFrame,
    root_hash: str = ROOT_HASH,
    entry_buckets: int | None = None,
) -> dict[str, int]:
    """Streaming-scale materialization: recompute ONLY the entries the
    new batch touches, then MERGE them into the stored entries table.

    The fold is a pure function of the log restricted to an entry's own
    events (every M1-M8 aggregate is keyed by namehash), so replaying
    just the touched keys' events from the full log yields exactly the
    rows a full recompute would produce for those keys. Work per batch
    is O(events of touched entries), not O(full log) — the difference
    between a 100 TB nightly recompute and a seconds-level upsert.
    Callers that hold a bucketed log (streaming/scan.start_index_stream)
    additionally prune ``events_table`` to the buckets containing the
    touched keys' events before passing it in, so the SCAN is also
    O(touched), not O(log).

    With ``entry_buckets`` the entries table is hash-partitioned on the
    key (with_entry_bucket) and the MERGE rewrites only touched buckets.

    The event log is append-only, so entries never disappear — MERGE
    (upsert) is sufficient, no delete branch.
    """
    from hypermap_etl_spark.operators.merge import merge_into_parquet

    from hypermap_etl_spark.util import release_local_checkpoint

    keys = touched_namehashes(new_events)
    # Materialize the restricted log ONCE: the M1-M9 fold references
    # its input from every per-type aggregate and join, and an
    # uncached events_referencing lineage would re-run its key join
    # per reference (measured ~4x the fold's own cost). The frame is
    # O(touched entries' events) — checkpoint-sized by construction.
    relevant = events_referencing(events_table, keys).localCheckpoint(
        eager=True
    )
    # the restricted replay is complete for TOUCHED keys but also emits
    # partial rows for untouched entries that merely co-occur (e.g. the
    # parent of a touched child, seen through only that child's mints) —
    # keep only the touched keys' rows for the merge
    updated = materialize_entries(relevant, root_hash).join(
        F.broadcast(keys), "namehash", "left_semi"
    )
    if entry_buckets:
        # cluster the rewrite by bucket so each touched partition is
        # written as one file per holding task instead of one file per
        # shuffle task x bucket — steady-state file counts stay flat
        updated = with_entry_bucket(updated, entry_buckets).repartition(
            "entry_bucket"
        )
    # Materialize ONCE before the merge: merge_into_parquet runs
    # several actions over the batch frame (dedupe, touched-partition
    # collect, matched/upserted counts, the swap write) and each would
    # otherwise re-execute the whole restricted fold. The frame is
    # touched-keys-sized, so the eager checkpoint is tiny; both
    # checkpoints release as soon as the merge lands.
    updated = updated.localCheckpoint(eager=True)
    try:
        # assume_unique: the fold is a groupBy(namehash) aggregate —
        # one row per key by construction
        if entry_buckets:
            return merge_into_parquet(
                spark,
                entries_path,
                updated,
                ["namehash"],
                partition_col="entry_bucket",
                assume_unique=True,
            )
        return merge_into_parquet(
            spark, entries_path, updated, ["namehash"], assume_unique=True
        )
    finally:
        release_local_checkpoint(updated)
        release_local_checkpoint(relevant)


_PLACEHOLDER_LABEL = "[unknown]"


def merge_entry_states(
    stored: DataFrame, partial: DataFrame, root_hash: str = ROOT_HASH
) -> DataFrame:
    """Combine a STORED entries row set with a BATCH-ONLY partial fold
    into exactly the rows a full refold over (stored history + batch)
    would produce for those keys — the associative-merge half of true
    incremental view maintenance.

    Correct because every M1-M8 aggregate is a semigroup fold over the
    per-key event sequence and the log is APPEND-ONLY in block order
    (every batch block > every stored block for the same key — the
    chain-scan contract; out-of-order backfills must use the
    restricted-replay path instead):

      identity (M1)    stored first-Mint wins; a stored PLACEHOLDER
                       (the PERSISTED ``isPlaceholder`` flag
                       materialize_entries sets for M3 rows — never
                       value inference, because a genuine Mint may
                       carry the attacker-controlled label
                       '[unknown]' under ROOT and must NOT be
                       upgradable) upgrades to a batch Mint identity,
                       matching the full fold's
                       minted-beats-placeholder resolution; tables
                       written before the flag existed fall back to
                       the legacy value inference, documented lossy
      children (M2)    set union
      facts/notes      per-label: batch value wins unless the batch's
      (M4/M5)          last write for that label was NULL data (the
                       NULL-skipping arg_max keeps the stored value)
      gene/owner       batch wins when non-null (same NULL-skip)
      (M6/M7)
      lastUpdateBlock  max of the two
      (M8)
    """
    s_cols, b_cols = tuple(stored.columns), tuple(partial.columns)
    x = jvm_cached(
        ("merge_states", root_hash, s_cols, b_cols),
        lambda: _merge_state_exprs(root_hash, s_cols, b_cols),
    )
    return (
        stored.select(*x.s)
        .join(partial.select(*x.b), "namehash", "full_outer")
        .select(*x.out)
    )


def _merge_state_exprs(
    root_hash: str, s_cols: tuple[str, ...], b_cols: tuple[str, ...]
) -> SimpleNamespace:
    """The Columns of merge_entry_states — pure functions of ``root_hash``
    and the two sides' column names, so built once per JVM."""

    def _side(tag, cols):
        out = [F.col("namehash")] + [
            F.col(n).alias(f"__{tag}_{n}") for n in cols if n != "namehash"
        ]
        if "isPlaceholder" not in cols:
            # legacy tables written before the flag column: NULL, so
            # the coalesce below falls back to the value heuristic
            out.append(F.lit(None).cast("boolean").alias(f"__{tag}_isPlaceholder"))
        return out

    has_s = F.col("__s_creationBlock").isNotNull()
    has_b = F.col("__b_creationBlock").isNotNull()

    def _placeholder(side: str) -> "F.Column":
        # the persisted flag decides; the value heuristic survives ONLY
        # as the fallback for legacy rows written before the flag
        # column existed (where it is genuinely ambiguous)
        legacy = (F.col(f"__{side}_label") == _PLACEHOLDER_LABEL) & (
            F.col(f"__{side}_parentHash") == root_hash
        )
        return F.coalesce(F.col(f"__{side}_isPlaceholder"), legacy)

    placeholder_s = _placeholder("s")
    placeholder_b = _placeholder("b")
    use_b = (~has_s) | (placeholder_s & has_b & ~placeholder_b)

    def ident(name):
        return F.when(use_b, F.col(f"__b_{name}")).otherwise(
            F.col(f"__s_{name}")
        )

    empty_map = F.map_from_entries(
        F.array().cast("array<struct<label:string,data:string>>")
    )

    def merge_map(name):
        sm = F.coalesce(F.col(f"__s_{name}"), empty_map)
        bm = F.coalesce(F.col(f"__b_{name}"), empty_map)
        b_keys = F.map_keys(bm)
        keep_s = F.filter(
            F.map_entries(sm),
            lambda e: ~F.array_contains(b_keys, e["key"]),
        )
        # NULL-skip last-write: a batch label whose latest data is NULL
        # falls back to the stored value for that label
        b_merged = F.transform(
            F.map_entries(bm),
            lambda e: F.struct(
                e["key"].alias("key"),
                F.coalesce(e["value"], F.element_at(sm, e["key"])).alias(
                    "value"
                ),
            ),
        )
        return F.map_from_entries(
            F.array_sort(F.concat(keep_s, b_merged))
        ).alias(name)

    empty_arr = F.array().cast("array<string>")
    out = [
        F.col("namehash"),
        ident("label").alias("label"),
        ident("parentHash").alias("parentHash"),
        F.lit(None).cast("string").alias("fullName"),
        F.coalesce(F.col("__b_owner"), F.col("__s_owner")).alias("owner"),
        F.coalesce(F.col("__b_gene"), F.col("__s_gene")).alias("gene"),
        merge_map("notes").alias("notes"),
        merge_map("facts").alias("facts"),
        F.array_sort(
            F.array_union(
                F.coalesce(F.col("__s_children"), empty_arr),
                F.coalesce(F.col("__b_children"), empty_arr),
            )
        ).alias("children"),
        ident("creationBlock").alias("creationBlock"),
        F.greatest(
            F.col("__s_lastUpdateBlock"), F.col("__b_lastUpdateBlock")
        ).alias("lastUpdateBlock"),
        # the RESOLVED placeholder-ness (flag when persisted, legacy
        # heuristic for pre-flag rows), so the merged row carries a
        # concrete flag forward for every future merge
        F.when(use_b, placeholder_b)
        .otherwise(placeholder_s)
        .alias("isPlaceholder"),
    ]
    return SimpleNamespace(s=_side("s", s_cols), b=_side("b", b_cols), out=out)


def _pending_manifest_read(spark, ptable: str) -> DataFrame | None:
    """The manifest-committed pending store: resolve the current
    version; a manifest with no partitions is an explicitly-committed
    EMPTY set (≡ no pending)."""
    from hypermap_etl_spark.sources import manifest as M

    if M.current_version(ptable) is None:
        return None
    m = M.read_manifest(ptable)
    if not m["partitions"]:
        return None
    return M.read_table(spark, ptable)


def _pending_manifest_publish(pend: DataFrame, ptable: str) -> None:
    """Commit the pending set as a version-pointed manifest table
    (VERDICT r8 task 2): data lands in a fresh prefix, the commit is
    one manifest PUT + one pointer flip — NO data renames, so
    incremental_entries_delta_manifest is rename-free end-to-end as
    its contract claims. An empty set publishes a manifest with zero
    partitions (no data write at all). The store is model-sized by
    construction, so the trailing vacuum (keep last 2 snapshots) is
    cheap and bounds on-disk growth across a long stream."""
    from hypermap_etl_spark.sources import manifest as M

    if pend.isEmpty():
        with M._merge_lock(ptable):
            M._publish(ptable, {"partition_col": None, "partitions": {}})
    else:
        M.write_table(pend, ptable)
    M.vacuum_table(ptable, keep=2)


def incremental_entries_delta_manifest(
    spark,
    table: str,
    new_events: DataFrame,
    root_hash: str = ROOT_HASH,
    entry_buckets: int = 16,
) -> dict[str, int]:
    """The complete 100 TB maintenance story in one call: O(batch)
    delta maintenance (no history replay — incremental_entries_delta's
    fold+merge) COMMITTED through the manifest protocol
    (sources/manifest.py — no data renames ANYWHERE, including the
    pending early-writes store, which is itself a manifest table:
    readers resolve a manifest, so object stores are safe and a reader
    racing the batch sees a complete old or new snapshot). Untouched
    entry buckets' file entries carry forward verbatim in the new
    manifest; a bad batch is undone by rollback_table (pointer
    re-publish, no data movement). Same block-order contract as the
    plain delta path; re-applied batches re-merge idempotently — a
    crash between the entries commit and the pending commit leaves the
    OLD pending current, and its retriable rows simply re-apply
    idempotently on the next batch."""
    from hypermap_etl_spark.sources import manifest as M
    from hypermap_etl_spark.util import release_local_checkpoint

    import json as _json

    ptable = _pending_path(table)
    pending = _pending_manifest_read(spark, ptable)
    had_pending = pending is not None

    # stored rows first, pruned by the BATCH's touched keys (equal to
    # the fold input's touched set — retried rows' targets are the
    # batch's own minted keys), so the retry split below can drop
    # crash-window stale rows whose target is already stored
    stored_touched = None
    stored_keys = None
    if M.current_version(table) is not None:
        keys = touched_namehashes(new_events)
        kb = with_entry_bucket(keys, entry_buckets)
        buckets = [
            r[0] for r in kb.select("entry_bucket").distinct().collect()
        ]
        m = M.read_manifest(table)
        present = [b for b in buckets if _json.dumps(b) in m["partitions"]]
        if present:
            stored_touched = (
                M.read_table(spark, table, partition_values=present)
                .drop("entry_bucket")
                .join(F.broadcast(keys), "namehash", "left_semi")
                .localCheckpoint(eager=True)
            )
            stored_keys = stored_touched.select("namehash")

    leftover = None
    if had_pending:
        retriable, leftover = _split_retriable_pending(
            pending, new_events, root_hash
        )
        if stored_keys is not None:
            # staleness guard — same invariant as the plain path: a
            # stored target means the row was already applied; only a
            # crashed-and-never-redelivered pending publish leaves it
            # here, and re-folding it would replay an old write
            sk = F.broadcast(stored_keys)
            tagged = retriable.withColumn("__t", _write_target())
            retriable = tagged.join(
                sk, tagged["__t"] == sk["namehash"], "left_anti"
            ).drop("__t")
        new_events = new_events.unionByName(
            retriable, allowMissingColumns=True
        )

    if M.current_version(table) is None and not had_pending:
        from pyspark.sql import Observation

        from hypermap_etl_spark.operators.merge import _obs_count

        obs = Observation()
        first = (
            with_entry_bucket(
                materialize_entries(new_events, root_hash), entry_buckets
            )
            .repartition("entry_bucket")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        # count observed on the bootstrap write itself: a batch of only
        # early writes folds to ZERO entries, whose empty manifest a
        # read-back count cannot even resolve
        M.write_table(first, table, partition_col="entry_bucket")
        pend = _unknown_writes(
            new_events, _known_now(new_events, None, root_hash)
        )
        if not pend.isEmpty():
            _pending_manifest_publish(pend, ptable)
        return {
            "upsertedCount": int(_obs_count(obs)),
            "modifiedCount": 0,
        }

    try:
        new_events = new_events.localCheckpoint(eager=True)
    except Exception:
        if stored_touched is not None:
            release_local_checkpoint(stored_touched)
        raise
    try:
        if stored_touched is None:
            updated = materialize_entries(new_events, root_hash)
        else:
            partial = materialize_entries(
                new_events, root_hash, known_extra=stored_keys
            )
            updated = merge_entry_states(stored_touched, partial, root_hash)
        updated = with_entry_bucket(updated, entry_buckets).repartition(
            "entry_bucket"
        )
        res = M.merge_table(
            spark, table, updated, ["namehash"], partition_col="entry_bucket"
        )
        pend = _unknown_writes(
            new_events, _known_now(new_events, stored_keys, root_hash)
        )
        if leftover is not None:
            pend = pend.unionByName(leftover, allowMissingColumns=True)
        if had_pending or not pend.isEmpty():
            _pending_manifest_publish(pend, ptable)
        return res
    finally:
        if stored_touched is not None:
            release_local_checkpoint(stored_touched)
        release_local_checkpoint(new_events)


def _pending_path(entries_path: str) -> str:
    return entries_path.rstrip("/") + "__pending"


def _read_pending(spark, pending_path: str, schema) -> DataFrame | None:
    """The parked early-writes store, with crash recovery: a swap that
    died between the two renames leaves the data in a ``__old_`` dir —
    restore the NEWEST one (by mtime — token order is random uuid, not
    recency) and sweep the rest; when the pending dir itself
    exists, any ``__old_`` dir is a leak from a crash after the second
    rename and must be swept too, or a LATER mid-swap crash could
    restore that stale snapshot over the live one. Stale
    ``__staging_`` dirs are untrusted garbage. The store is read with
    ``schema``, the batch events' schema it was written with.

    POSIX-only scope: this store commits via atomic directory rename;
    on S3-class object stores use incremental_entries_delta_manifest,
    whose pending store is manifest-committed (no renames)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    for d in _glob.glob(pending_path + "__staging_*"):
        _shutil.rmtree(d, ignore_errors=True)
    olds = _glob.glob(pending_path + "__old_*")
    if not _os.path.isdir(pending_path):
        if not olds:
            return None
        newest = max(olds, key=_os.path.getmtime)
        _os.rename(newest, pending_path)
        olds.remove(newest)
    for d in olds:
        _shutil.rmtree(d, ignore_errors=True)
    from hypermap_etl_spark.operators.merge import read_parquet_as

    return read_parquet_as(spark, pending_path, schema)


def _swap_pending(pend: DataFrame, pending_path: str) -> None:
    """Replace the pending store with ``pend`` via the staged
    double-rename (recovered by _read_pending on the next batch).
    POSIX-only (see _read_pending); the manifest delta path commits
    its pending set rename-free instead."""
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    tok = _uuid.uuid4().hex[:8]
    staging = f"{pending_path}__staging_{tok}"
    pend.write.mode("overwrite").parquet(staging)
    old = f"{pending_path}__old_{tok}"
    if _os.path.exists(pending_path):
        _os.rename(pending_path, old)
    _os.rename(staging, pending_path)
    _shutil.rmtree(old, ignore_errors=True)


def _write_target() -> "F.Column":
    """The entry key a Fact/Note/Gene/Transfer row writes to."""
    def build():
        et = F.col("eventType")
        return (
            F.when(et.isin("Fact", "Note"), F.col("parenthash"))
            .when(et == "Gene", F.col("entry"))
            .when(et == "Transfer", F.col("id"))
        )

    return jvm_cached("write_target", build)


def _split_retriable_pending(
    pending: DataFrame, batch_events: DataFrame, root_hash: str
) -> tuple[DataFrame, DataFrame]:
    """(retriable, leftover): pending rows whose target key the CURRENT
    batch introduces (a minted child or a referenced placeholder
    parent — targets only ever become known through Mints, and pending
    rows are never Mints) vs the rest, which stay parked untouched.

    Bounds the retry cost (ADVICE r8): without this split every parked
    row re-enters the fold on every batch — on adversarial logs
    (writes to never-minted targets) per-batch work degrades to
    O(all-time unknown writes) and each parked key inflates
    touched_namehashes and the stored-row read. With it, a batch pays
    ONE broadcast semi-join scan of the pending store (no fold, no
    touched-set growth) for rows that cannot possibly apply."""
    batch_known = F.broadcast(_known_now(batch_events, None, root_hash))
    tagged = pending.withColumn("__t", _write_target())
    retriable = (
        tagged.join(
            batch_known, tagged["__t"] == batch_known["namehash"], "left_semi"
        ).drop("__t")
    )
    leftover = (
        tagged.join(
            batch_known, tagged["__t"] == batch_known["namehash"], "left_anti"
        ).drop("__t")
    )
    return retriable, leftover


def _known_now(events_in: DataFrame, stored_keys: DataFrame | None,
               root_hash: str) -> DataFrame:
    """Every entry key that exists after this round: stored touched
    keys plus the batch's minted children and referenced (placeholder)
    parents — exactly the full fold's ``known`` set restricted to this
    round's scope. Keys may repeat: the set is only ever the broadcast
    side of a semi- or anti-join, where duplicates change nothing, so
    no shuffle dedupes it."""
    is_mint, child, is_ph, parent = jvm_cached(("known_now", root_hash), lambda: (
        (F.col("eventType") == "Mint") & F.col("childhash").isNotNull(),
        F.col("childhash").alias("namehash"),
        F.col("parenthash").isNotNull() & (F.col("parenthash") != root_hash),
        F.col("parenthash").alias("namehash"),
    ))
    mints = events_in.filter(is_mint)
    known = mints.select(child).unionByName(mints.filter(is_ph).select(parent))
    if stored_keys is not None:
        known = known.unionByName(stored_keys)
    return known


def _unknown_writes(events_in: DataFrame, known_now: DataFrame) -> DataFrame:
    """The batch's EARLY writes: Fact/Note/Gene/Transfer rows whose
    target entry does not exist yet. The full fold evaluates target
    existence against the FINAL entry set, so these must be parked and
    retried, not dropped, for delta == full to hold on arbitrary logs
    (on-chain the mint-before-write invariant makes this set empty;
    the store is the correctness net for logs that violate it).

    One scan + ONE broadcast anti-join: rows are tagged with their
    write target (_write_target covers all four types) and anti-joined
    once against the known set."""
    def build():
        et = F.col("eventType")
        return (
            (et.isin("Fact", "Note") & F.col("parenthash").isNotNull())
            | ((et == "Gene") & F.col("entry").isNotNull())
            | ((et == "Transfer") & F.col("id").isNotNull())
        )

    is_write = jvm_cached("is_write", build)
    tagged = events_in.filter(is_write).withColumn("__t", _write_target())
    return tagged.join(
        F.broadcast(known_now),
        tagged["__t"] == known_now["namehash"],
        "left_anti",
    ).drop("__t")


def incremental_entries_delta(
    spark,
    entries_path: str,
    new_events: DataFrame,
    root_hash: str = ROOT_HASH,
    entry_buckets: int | None = None,
) -> dict[str, int]:
    """O(batch) entries maintenance WITHOUT history replay — the true
    delta path (incremental_entries_update's restricted replay rereads
    every touched entry's full event history; on logs with hot parent
    keys that is a large fraction of the log however small the batch).

    Per batch: union the batch with the PENDING early-writes store
    (writes whose target entry did not exist when they arrived — the
    full fold applies them because it checks targets against the FINAL
    entry set, so the delta path must park and retry them; fuzzing
    found exactly this case), fold ONLY those events
    (materialize_entries with ``known_extra`` = the touched keys'
    stored rows, read bucket-pruned from the standing table), combine
    associatively with the stored rows (merge_entry_states), MERGE the
    result back, then atomically replace the pending store with the
    still-unknown remainder. Work is O(batch events + pending +
    touched stored rows); no full-log scan exists anywhere in the
    plan. On-chain logs keep the pending store empty (mint precedes
    every write); it is the correctness net, not a hot path.

    CONTRACT: batches must arrive in block order (each batch's blocks
    after every stored block) — the streaming chain-scan guarantee.
    Out-of-order backfill invalidates the associative merge; use
    incremental_entries_update (restricted replay) for that case.
    RE-APPLYING a batch (crash replay, duplicate delivery) is safe:
    the merge is idempotent, and the pending store is replaced only
    AFTER the entries merge lands (a crash between the two re-applies
    both, idempotently).

    Bootstrap: a missing entries table is created from the first
    batch's own full fold (plus any parked writes).
    """
    import os as _os
    from concurrent.futures import ThreadPoolExecutor

    from hypermap_etl_spark.operators.merge import merge_into_parquet

    from hypermap_etl_spark.util import release_local_checkpoint

    pending_path = _pending_path(entries_path)
    pending = _read_pending(spark, pending_path, new_events.schema)
    had_pending = pending is not None

    # driver-action overlap: the steady-state batch is a chain of
    # fixed-cost driver actions, each leaving the cluster idle during
    # its tail. Two pairs are independent and run concurrently from a
    # 2-thread pool: (a) the batch checkpoint vs the touched-bucket read
    # chain, and (b) the pending-emptiness probe vs the entries MERGE
    # write. The pending SWAP itself stays strictly after the merge
    # lands — the crash-ordering contract is about the swap, not the
    # read-only probe.
    pool = ThreadPoolExecutor(max_workers=2)
    ev_future = pool.submit(lambda: new_events.localCheckpoint(eager=True))
    held = []  # checkpoints to release at the end, besides ev_future's
    try:
        # the stored rows are read FIRST, pruned by the BATCH's touched
        # keys — equal to the fold input's touched set, because retried
        # pending rows' targets are batch-minted keys (childhash or
        # parenthash of the batch's mints), already in the batch's own
        # write set — so the stale-drop below can consult stored keys
        # before the fold input is assembled
        stored_touched = None
        stored_keys = None
        if _os.path.exists(entries_path):
            keys = touched_namehashes(new_events)
            stored = _read_entries(spark, entries_path, entry_buckets)
            if entry_buckets:
                kb = with_entry_bucket(keys, entry_buckets)
                buckets = [
                    r[0]
                    for r in kb.select("entry_bucket").distinct().collect()
                ]
                stored = stored.filter(
                    F.col("entry_bucket").isin(buckets)
                ).drop("entry_bucket")
            stored_touched = stored.join(
                F.broadcast(keys), "namehash", "left_semi"
            ).localCheckpoint(eager=True)
            held.append(stored_touched)
            stored_keys = stored_touched.select("namehash")

        batch = ev_future.result()
        events_in = batch
        leftover = None
        if had_pending:
            # only pending rows whose target this batch introduces
            # re-enter the fold; the rest stay parked at the cost of
            # ONE semi-join scan (never a fold) —
            # see _split_retriable_pending
            retriable, leftover = _split_retriable_pending(
                pending, batch, root_hash
            )
            if stored_keys is not None:
                # crash-window staleness guard: a pending row whose
                # target is ALREADY STORED was necessarily applied by
                # the batch that minted that target (rows park only
                # while the target is unknown, and the merge lands
                # before the pending store is replaced) — it survives
                # here only when that batch's pending publish crashed
                # and the batch was never redelivered. Re-folding it on
                # a later repeat-Mint would replay an OLD write over
                # newer stored state; drop it.
                sk = F.broadcast(stored_keys)
                tagged = retriable.withColumn("__t", _write_target())
                retriable = tagged.join(
                    sk, tagged["__t"] == sk["namehash"], "left_anti"
                ).drop("__t")
            # the fold reads the union once, so it stays lazy
            events_in = batch.unionByName(retriable, allowMissingColumns=True)

        if stored_touched is None:
            updated = materialize_entries(events_in, root_hash)
        else:
            partial = materialize_entries(
                events_in, root_hash, known_extra=stored_keys
            )
            updated = merge_entry_states(stored_touched, partial, root_hash)
        if entry_buckets:
            updated = with_entry_bucket(updated, entry_buckets).repartition(
                "entry_bucket"
            )
        updated = updated.localCheckpoint(eager=True)
        held.append(updated)

        # the still-unknown remainder comes from the batch alone: retried
        # rows are never Mints (so they add no known key) and their
        # targets are batch-minted (so none of them is unknown)
        pend = _unknown_writes(batch, _known_now(batch, stored_keys, root_hash))
        if leftover is not None:
            pend = pend.unionByName(leftover, allowMissingColumns=True)
        # overlap (b): the READ-ONLY emptiness probe of the pending
        # remainder runs while the entries MERGE writes — both consume
        # only checkpointed inputs. The pending SWAP itself still
        # happens strictly after the merge lands, so the crash-ordering
        # contract (merge before pending replace) is untouched.
        pend_empty = None if had_pending else pool.submit(pend.isEmpty)
        # assume_unique: both branches produce one row per namehash —
        # the fold is a groupBy(namehash) aggregate and
        # merge_entry_states full-outer-joins two unique frames on it
        if entry_buckets:
            res = merge_into_parquet(
                spark,
                entries_path,
                updated,
                ["namehash"],
                partition_col="entry_bucket",
                assume_unique=True,
            )
        else:
            res = merge_into_parquet(
                spark, entries_path, updated, ["namehash"],
                assume_unique=True,
            )
        # pending is replaced only AFTER the merge landed (crash
        # between the two re-applies both, idempotently). Skipped
        # entirely while no early write has ever been seen, so the
        # hot path pays nothing on well-formed chains.
        if had_pending or not pend_empty.result():
            _swap_pending(pend, pending_path)
        return res
    finally:
        pool.shutdown()
        if ev_future.exception() is None:
            held.append(ev_future.result())
        for df in held:
            release_local_checkpoint(df)


def _read_entries(spark, entries_path: str, entry_buckets: int | None) -> DataFrame:
    """The stored entries table, read with its known schema (ENTRY_SCHEMA,
    plus ``entry_bucket`` when bucketed). A table written before the
    ``isPlaceholder`` column existed is read without it;
    merge_entry_states falls back to value inference for such rows."""
    from pyspark.sql.types import LongType, StructField, StructType

    from hypermap_etl_spark.operators.merge import _table_columns, read_parquet_as
    from hypermap_etl_spark.schemas import ENTRY_SCHEMA

    fields = list(ENTRY_SCHEMA.fields)
    if entry_buckets:
        fields.append(StructField("entry_bucket", LongType()))
    if "isPlaceholder" not in (_table_columns(entries_path) or ["isPlaceholder"]):
        fields = [f for f in fields if f.name != "isPlaceholder"]
    return read_parquet_as(spark, entries_path, StructType(fields))


def quarantine_bad_events(events: DataFrame) -> DataFrame:
    """M9: rows that cannot participate in the fold (missing required keys)
    — the Spark analog of the reference's per-event try/catch skip
    (mongodb.ts:140-143)."""
    et = F.col("eventType")
    bad = (
        ((et == "Mint") & F.col("childhash").isNull())
        | (et.isin("Fact", "Note") & F.col("parenthash").isNull())
        | ((et == "Gene") & F.col("entry").isNull())
        | ((et == "Transfer") & F.col("id").isNull())
    )
    return events.filter(bad)


def with_full_names(
    entries: DataFrame, max_depth: int = 16, materialize: bool = True
) -> DataFrame:
    """Resolve each entry's dotted namespace path (label.parent.…root).
    EAGER by default: materializes ``entries`` via localCheckpoint on
    call (pass ``materialize=False`` to compose lazily).

    The reference declares ``fullName`` but never computes it
    (src/schemas/index.ts:50); this is the natural completion: walk the
    parentHash chain bottom-up. Bounded iterative joins (max_depth
    levels) — each level is one equi-join of the unresolved frontier
    against the (namehash → label, parent) map; at lake scale that map
    is orders of magnitude smaller than the event log and broadcasts.
    Cycles or over-deep chains leave fullName null (quarantine-style).

    With ``materialize=True`` the entries input is localCheckpoint-ed
    first: every level references it (and the final join again), so an
    unmaterialized upstream plan — e.g. the full materialize_entries
    fold — would be embedded max_depth+1 times in one executed plan and
    recomputed each time. Truncating lineage makes each level one
    broadcast join over the materialized map; the checkpointed frame is
    registered for ``util.release_persisted()`` so long sessions free
    its blocks deterministically. (Same discipline as
    duplicate_clusters; use checkpoint() on preemptible clusters.)
    """
    if materialize:
        entries = tracked_local_checkpoint(entries)
    parent_map = entries.select(
        F.col("namehash").alias("__nh"),
        F.col("label").alias("__lbl"),
        F.col("parentHash").alias("__ph"),
    )
    cur = entries.select(
        "namehash",
        F.col("label").alias("__path"),
        F.col("parentHash").alias("__cursor"),
        F.lit(False).alias("__done"),
    )
    for _ in range(max_depth):
        cur = (
            cur.join(
                F.broadcast(parent_map), cur["__cursor"] == parent_map["__nh"], "left"
            )
            .select(
                "namehash",
                F.when(F.col("__done") | F.col("__lbl").isNull(), F.col("__path"))
                .otherwise(F.concat_ws(".", F.col("__path"), F.col("__lbl")))
                .alias("__path"),
                F.when(F.col("__done") | F.col("__ph").isNull(), F.lit(None))
                .otherwise(F.col("__ph"))
                .alias("__cursor"),
                (F.col("__done") | (F.col("__cursor") == F.lit(ROOT_HASH)) | F.col("__nh").isNull()).alias("__done"),
            )
        )
    resolved = cur.select(
        "namehash", F.when(F.col("__done"), F.col("__path")).alias("fullName")
    )
    return (
        entries.drop("fullName")
        .join(resolved, "namehash", "left")
        .select(*[c for c in entries.columns])
    )


def descendants_of(entries: DataFrame, namehash: str, max_depth: int = 16) -> DataFrame:
    """Subtree listing: all entries under a node, with depth.

    Bounded BFS over the parentHash adjacency — one broadcast semi-join
    per level against the (child → parent) map, frontier shrinks as the
    tree is consumed. Returns (namehash, label, depth).
    """
    adj = entries.select(
        F.col("namehash").alias("__c"), F.col("parentHash").alias("__p"), "label"
    )
    frontier = adj.filter(F.col("__p") == namehash).select(
        F.col("__c").alias("namehash"), "label", F.lit(1).alias("depth")
    )
    out = frontier
    for depth in range(2, max_depth + 1):
        frontier = (
            adj.join(
                F.broadcast(frontier.select(F.col("namehash").alias("__p"))), "__p"
            )
            .select(F.col("__c").alias("namehash"), "label", F.lit(depth).alias("depth"))
        )
        if frontier.isEmpty():
            break
        out = out.unionByName(frontier)
    return out


def subtree_sizes(
    entries: DataFrame, root_hash: str = ROOT_HASH, max_depth: int = 16
) -> DataFrame:
    """Transitive descendant count per entry — the all-nodes
    generalization of descendants_of: level-wise expansion of
    (ancestor, descendant) pairs up the placeholder-closed parent
    chain, one broadcast join of the frontier against the
    (child → parent) map per level, then a single count aggregate.
    Pair volume is nodes × depth (a tree has one path per node), so
    the shuffle is entries-sized, never quadratic. Leaves report 0.

    The entries input is localCheckpoint-ed and each level's frontier
    is too: the per-level isEmpty() probe is an ACTION, so without
    lineage truncation level k re-executes all k-1 prior joins plus
    the upstream entries plan — measured 58 s for a 1.5k-entry tree
    fed by the materialize fold at sf0.1; ~1 s truncated. Every
    frontier is referenced by the final pairs union, so none can be
    freed mid-query; all are registered for
    ``util.release_persisted()`` instead (bounded: ≤ max_depth frames,
    each ≤ entries-sized).
    """
    entries = tracked_local_checkpoint(entries)
    edges = entries.select(
        F.col("parentHash").alias("anc"), F.col("namehash").alias("__desc")
    ).filter(F.col("anc") != root_hash)
    up = entries.select(F.col("namehash").alias("__n"), F.col("parentHash").alias("__p"))
    pairs = edges
    frontier = edges
    for _ in range(max_depth):
        frontier = tracked_local_checkpoint(
            frontier.join(F.broadcast(up), frontier["anc"] == F.col("__n"))
            .filter(F.col("__p") != root_hash)
            .select(F.col("__p").alias("anc"), F.col("__desc"))
        )
        if frontier.isEmpty():
            break
        pairs = pairs.unionByName(frontier)
    counts = pairs.groupBy("anc").agg(F.count(F.lit(1)).alias("__cnt"))
    return entries.join(counts, entries["namehash"] == counts["anc"], "left").select(
        "namehash",
        "label",
        F.coalesce(F.col("__cnt"), F.lit(0)).cast("long").alias("n_descendants"),
    )


def entries_flat(entries: DataFrame) -> DataFrame:
    """Scalar projection of the entries table for engine-agnostic
    comparison: maps/arrays rendered as deterministic sorted strings."""
    kv = lambda m: F.array_join(  # noqa: E731
        F.array_sort(
            F.transform(
                F.map_entries(m), lambda e: F.concat_ws("=", e["key"], e["value"])
            )
        ),
        ";",
    )
    return entries.select(
        "namehash",
        "label",
        "parentHash",
        "owner",
        "gene",
        kv(F.col("notes")).alias("notes_kv"),
        kv(F.col("facts")).alias("facts_kv"),
        F.array_join(F.col("children"), ";").alias("children_list"),
        F.size(F.col("children")).alias("n_children"),
        "creationBlock",
        "lastUpdateBlock",
    )
