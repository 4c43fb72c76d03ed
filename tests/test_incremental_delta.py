"""True delta maintenance (incremental_entries_delta) must equal the
full-log recompute for block-ordered batch feeds — WITHOUT ever
replaying history. Covers the associative-merge edge cases: repeat
Mint across batches (first wins), placeholder→Mint upgrade, writes to
stored-only targets, NULL-data last-writes, cross-batch children
union, and multi-way batch splits."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from hypermap_etl_spark.constants import ROOT_HASH
from hypermap_etl_spark.operators.materialize import (
    incremental_entries_delta,
    materialize_entries,
    with_entry_bucket,
)
from tests.helpers import addr, ev, events_df, h
from tests.test_materialize import _fixture_rows


def _flat(df):
    out = {}
    for r in df.collect():
        d = r.asDict()
        d["children"] = tuple(d["children"])
        d["notes"] = tuple(sorted(d["notes"].items()))
        d["facts"] = tuple(sorted(d["facts"].items()))
        d.pop("entry_bucket", None)
        out[d["namehash"]] = d
    return out


def _feed_delta(spark, rows, block_cuts, entry_buckets=None):
    """Feed the log in block-boundary batches through the delta path;
    incremental_entries_delta bootstraps the missing table itself (and
    parks any bootstrap-batch early writes — a helper-side plain fold
    here would silently drop them, which the fuzzer caught)."""
    entries_path = tempfile.mkdtemp() + "/entries"
    srt = sorted(rows, key=lambda r: (r["blockNumber"], r["logIndex"]))
    prev = float("-inf")
    for cut in block_cuts:
        batch = [r for r in srt if prev < r["blockNumber"] <= cut]
        prev = cut
        if not batch:
            continue
        incremental_entries_delta(
            spark, entries_path, events_df(spark, batch),
            entry_buckets=entry_buckets,
        )
    got = spark.read.parquet(entries_path)
    return _flat(got.drop("entry_bucket") if entry_buckets else got)


def test_delta_equals_full_three_batches(spark):
    rows = _fixture_rows()
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _feed_delta(spark, rows, [14, 18, 10**9])
    assert got == expected


def test_delta_equals_full_bucketed_many_cuts(spark):
    rows = _fixture_rows()
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _feed_delta(spark, rows, [12, 15, 17, 19, 22, 10**9], entry_buckets=4)
    assert got == expected


def test_delta_placeholder_upgrades_to_mint(spark):
    """X is only a referenced parent (placeholder) in batch 1, then
    minted in batch 2 — the merged identity must be the minted one,
    exactly as a full refold resolves it."""
    X, C = h(70), h(71)
    rows = [
        ev(eventType="Mint", blockNumber=10, logIndex=0, parenthash=X,
           childhash=C, labelhash=h(72), label="kid"),
        ev(eventType="Mint", blockNumber=20, logIndex=0, parenthash=ROOT_HASH,
           childhash=X, labelhash=h(73), label="realname"),
    ]
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _feed_delta(spark, rows, [15, 10**9])
    assert got == expected
    assert got[X]["label"] == "realname"
    assert got[X]["creationBlock"] == 20


def test_delta_forged_placeholder_label_cannot_be_taken_over(spark):
    """ADVICE r8 (high): a GENUINE first Mint whose attacker-controlled
    label is '[unknown]' under ROOT must NOT be treated as an M3
    placeholder by the delta merge — a later re-Mint of the same key
    must lose, exactly as in the full fold (first-mint-wins). Before
    the persisted isPlaceholder flag, value inference made this
    identity takeover possible (confirmed repro: delta creationBlock=20
    vs full fold 10)."""
    P = h(85)
    rows = [
        ev(eventType="Mint", blockNumber=10, logIndex=0, parenthash=ROOT_HASH,
           childhash=P, labelhash=h(86), label="[unknown]"),
        ev(eventType="Mint", blockNumber=20, logIndex=0, parenthash=ROOT_HASH,
           childhash=P, labelhash=h(87), label="takeover"),
    ]
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _feed_delta(spark, rows, [15, 10**9])
    assert got == expected
    assert got[P]["label"] == "[unknown]"
    assert got[P]["creationBlock"] == 10
    assert got[P]["isPlaceholder"] is False


def test_placeholder_flag_persisted_and_upgraded(spark):
    """The full fold marks M3 rows isPlaceholder=True and minted rows
    False; the delta upgrade flips the flag to False when the Mint
    lands."""
    X, C = h(75), h(76)
    rows = [
        ev(eventType="Mint", blockNumber=10, logIndex=0, parenthash=X,
           childhash=C, labelhash=h(77), label="kid"),
    ]
    full = _flat(materialize_entries(events_df(spark, rows)))
    assert full[X]["isPlaceholder"] is True
    assert full[C]["isPlaceholder"] is False
    rows.append(
        ev(eventType="Mint", blockNumber=20, logIndex=0,
           parenthash=ROOT_HASH, childhash=X, labelhash=h(78), label="x")
    )
    got = _feed_delta(spark, rows, [15, 10**9])
    assert got == _flat(materialize_entries(events_df(spark, rows)))
    assert got[X]["isPlaceholder"] is False
    assert got[X]["label"] == "x"


def test_merge_accepts_legacy_stored_table_without_flag(spark):
    """A stored entries table written before the flag column existed
    still merges (value-inference fallback) and the output carries a
    concrete resolved flag."""
    from hypermap_etl_spark.operators.materialize import merge_entry_states

    P = h(65)
    rows1 = [
        ev(eventType="Mint", blockNumber=10, logIndex=0, parenthash=ROOT_HASH,
           childhash=P, labelhash=h(66), label="real"),
    ]
    rows2 = [
        ev(eventType="Fact", blockNumber=20, logIndex=0, parenthash=P,
           facthash=h(67), labelhash=h(68), label="c", data="0x01"),
    ]
    stored = materialize_entries(events_df(spark, rows1)).drop("isPlaceholder")
    partial = materialize_entries(
        events_df(spark, rows2), known_extra=stored.select("namehash")
    )
    merged = {r["namehash"]: r.asDict() for r in
              merge_entry_states(stored, partial).collect()}
    assert merged[P]["label"] == "real"
    assert merged[P]["facts"] == {"c": "0x01"}
    assert merged[P]["isPlaceholder"] is False


def test_legacy_entries_table_read_from_disk_still_merges(spark):
    """The delta path reads stored entries with the known schema, no
    inference job. A table written before the flag column existed —
    bucketed or not — is read without the flag, and the merge falls
    back to value inference exactly as for an in-memory legacy frame."""
    from hypermap_etl_spark.operators.materialize import (
        _read_entries,
        merge_entry_states,
    )

    P = h(65)
    rows1 = [
        ev(eventType="Mint", blockNumber=10, logIndex=0, parenthash=ROOT_HASH,
           childhash=P, labelhash=h(66), label="real"),
    ]
    rows2 = [
        ev(eventType="Fact", blockNumber=20, logIndex=0, parenthash=P,
           facthash=h(67), labelhash=h(68), label="c", data="0x01"),
    ]
    legacy = materialize_entries(events_df(spark, rows1)).drop("isPlaceholder")
    partial = materialize_entries(
        events_df(spark, rows2), known_extra=legacy.select("namehash")
    )
    expected = _flat(merge_entry_states(legacy, partial))
    for buckets in (4, None):
        path = tempfile.mkdtemp() + "/entries"
        if buckets:
            with_entry_bucket(legacy, buckets).write.partitionBy(
                "entry_bucket"
            ).parquet(path)
        else:
            legacy.write.parquet(path)
        stored = _read_entries(spark, path, buckets)
        assert "isPlaceholder" not in stored.columns
        got = _flat(merge_entry_states(stored.drop("entry_bucket"), partial))
        assert got == expected
        assert got[P]["label"] == "real"
        assert got[P]["isPlaceholder"] is False


def test_delta_repeat_mint_keeps_first_identity(spark):
    P = h(80)
    rows = [
        ev(eventType="Mint", blockNumber=10, logIndex=0, parenthash=ROOT_HASH,
           childhash=P, labelhash=h(81), label="first"),
        ev(eventType="Mint", blockNumber=30, logIndex=0, parenthash=ROOT_HASH,
           childhash=P, labelhash=h(81), label="second"),
    ]
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _feed_delta(spark, rows, [20, 10**9])
    assert got == expected
    assert got[P]["label"] == "first"
    assert got[P]["lastUpdateBlock"] == 30  # repeat mint still touches


def test_delta_writes_to_stored_only_targets(spark):
    """Batch 2 carries ONLY Fact/Note/Gene/Transfer writes to entries
    minted in batch 1 — no Mints at all; the batch-only fold must keep
    them (known_extra) and the merge must apply them."""
    P = h(90)
    rows = [
        ev(eventType="Mint", blockNumber=10, logIndex=0, parenthash=ROOT_HASH,
           childhash=P, labelhash=h(91), label="p"),
        ev(eventType="Fact", blockNumber=20, logIndex=0, parenthash=P,
           facthash=h(92), labelhash=h(93), label="color", data="0xaa"),
        ev(eventType="Gene", blockNumber=21, logIndex=0, entry=P, gene=addr(4)),
        ev(eventType="Transfer", blockNumber=22, logIndex=0,
           **{"from": addr(0), "to": addr(5), "id": P}),
        # ghost targets must STILL be dropped in the delta fold
        ev(eventType="Fact", blockNumber=23, logIndex=0, parenthash=h(999),
           facthash=h(94), labelhash=h(95), label="lost", data="0xcc"),
    ]
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _feed_delta(spark, rows, [15, 10**9])
    assert got == expected
    assert got[P]["facts"] == (("color", "0xaa"),)
    assert got[P]["gene"] == addr(4)
    assert got[P]["owner"] == addr(5)
    assert h(999) not in got


def test_delta_null_data_last_write_keeps_stored_value(spark):
    """A later batch's NULL-data Fact for a label must not clobber the
    stored value (NULL-skipping arg_max semantics) but still bumps
    lastUpdateBlock — pinned against the full fold."""
    P = h(60)
    rows = [
        ev(eventType="Mint", blockNumber=10, logIndex=0, parenthash=ROOT_HASH,
           childhash=P, labelhash=h(61), label="p"),
        ev(eventType="Fact", blockNumber=11, logIndex=0, parenthash=P,
           facthash=h(62), labelhash=h(63), label="color", data="0xaa"),
        ev(eventType="Fact", blockNumber=20, logIndex=0, parenthash=P,
           facthash=h(62), labelhash=h(63), label="color", data=None),
    ]
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _feed_delta(spark, rows, [15, 10**9])
    assert got == expected
    assert got[P]["facts"] == (("color", "0xaa"),)
    assert got[P]["lastUpdateBlock"] == 20


def test_delta_children_union_across_batches(spark):
    P, C1, C2, C3 = h(50), h(51), h(52), h(53)
    rows = [
        ev(eventType="Mint", blockNumber=10, logIndex=0, parenthash=ROOT_HASH,
           childhash=P, labelhash=h(54), label="p"),
        ev(eventType="Mint", blockNumber=11, logIndex=0, parenthash=P,
           childhash=C1, labelhash=h(55), label="c1"),
        ev(eventType="Mint", blockNumber=20, logIndex=0, parenthash=P,
           childhash=C2, labelhash=h(56), label="c2"),
        ev(eventType="Mint", blockNumber=21, logIndex=0, parenthash=P,
           childhash=C3, labelhash=h(57), label="c3"),
        # C1 re-minted in batch 2: children must stay deduped
        ev(eventType="Mint", blockNumber=22, logIndex=0, parenthash=P,
           childhash=C1, labelhash=h(55), label="c1-again"),
    ]
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _feed_delta(spark, rows, [15, 10**9])
    assert got == expected
    assert got[P]["children"] == tuple(sorted([C1, C2, C3]))


def test_delta_manifest_composition(spark):
    """Delta maintenance committed through the manifest protocol
    (incremental_entries_delta_manifest): equals the full refold,
    carries untouched buckets' manifest entries forward verbatim, and
    a bad batch is undone by a pointer-only rollback."""
    import json

    from hypermap_etl_spark.operators.materialize import (
        incremental_entries_delta_manifest,
    )
    from hypermap_etl_spark.sources.manifest import (
        read_manifest,
        read_table,
        rollback_table,
    )

    rows = sorted(
        _fixture_rows(), key=lambda r: (r["blockNumber"], r["logIndex"])
    )
    batches = [
        [r for r in rows if r["blockNumber"] <= 15],
        [r for r in rows if 15 < r["blockNumber"] <= 19],
        [r for r in rows if r["blockNumber"] > 19],
    ]
    table = tempfile.mkdtemp() + "/entries"
    manifests = []
    for b in batches:
        incremental_entries_delta_manifest(
            spark, table, events_df(spark, b), entry_buckets=4
        )
        manifests.append(read_manifest(table))

    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _flat(read_table(spark, table).drop("entry_bucket"))
    assert got == expected

    # untouched buckets carry forward: every bucket NOT touched by
    # batch 3 keeps its batch-2 manifest entry byte-for-byte
    m2, m3 = manifests[1], manifests[2]
    changed = {
        k for k in m3["partitions"]
        if m2["partitions"].get(k) != m3["partitions"][k]
    }
    untouched = set(m2["partitions"]) - changed
    assert untouched or len(m2["partitions"]) == len(changed)
    for k in untouched:
        assert m3["partitions"][k] == m2["partitions"][k]

    # rollback to the post-batch-2 state: pointer-only restore
    rollback_table(table, m2["version"])
    mid = _flat(
        materialize_entries(events_df(spark, batches[0] + batches[1]))
    )
    assert _flat(read_table(spark, table).drop("entry_bucket")) == mid


# --- hypothesis: random logs, random block cuts ---------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.test_fullname_props import _event_log


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=_event_log(),
    cuts=st.sets(st.integers(1, 5), max_size=2),
    nullify=st.sets(st.integers(0, 13), max_size=3),
)
def test_delta_random_logs_equal_full(spark, rows, cuts, nullify):
    """For ANY random log and ANY block-boundary chop, the delta feed
    equals the one-shot full fold — the semigroup claim under fuzzing,
    including randomly NULLed Fact/Note data (the null-skip merge
    branch)."""
    rows = [dict(r) for r in rows]
    for i in nullify:
        if i < len(rows) and rows[i]["eventType"] in ("Fact", "Note"):
            rows[i]["data"] = None
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _feed_delta(spark, rows, sorted(cuts) + [10**9])
    assert got == expected


def test_delta_early_write_parked_then_applied(spark):
    """A Transfer/Fact arriving BEFORE its target's Mint (possible in
    malformed or reorged feeds; the full fold applies it because it
    checks targets against the FINAL entry set): the delta path must
    park it in the pending store and apply it when the Mint lands —
    the exact counterexample the fuzzer found."""
    import os

    X = h(40)
    rows = [
        # batch 1: writes to X before X exists
        ev(eventType="Transfer", blockNumber=4, logIndex=0,
           **{"from": addr(1), "to": addr(2), "id": X}),
        ev(eventType="Fact", blockNumber=4, logIndex=1, parenthash=X,
           facthash=h(41), labelhash=h(42), label="early", data="0xee"),
        # batch 2: X minted later
        ev(eventType="Mint", blockNumber=6, logIndex=0, parenthash=ROOT_HASH,
           childhash=X, labelhash=h(43), label="x"),
    ]
    expected = _flat(materialize_entries(events_df(spark, rows)))
    entries_path = tempfile.mkdtemp() + "/entries"
    b1 = [r for r in rows if r["blockNumber"] <= 5]
    b2 = [r for r in rows if r["blockNumber"] > 5]
    incremental_entries_delta(spark, entries_path, events_df(spark, b1))
    # batch 1 alone: X does not exist; the writes are parked, not lost
    assert spark.read.parquet(entries_path).count() == 0 or X not in _flat(
        spark.read.parquet(entries_path)
    )
    pend = entries_path + "__pending"
    assert os.path.isdir(pend)
    assert spark.read.parquet(pend).count() == 2
    incremental_entries_delta(spark, entries_path, events_df(spark, b2))
    got = _flat(spark.read.parquet(entries_path))
    assert got == expected
    assert got[X]["owner"] == addr(2)
    assert got[X]["facts"] == (("early", "0xee"),)
    # applied writes leave the pending store
    assert spark.read.parquet(pend).count() == 0


def test_split_retriable_pending(spark):
    """Only pending rows whose target the CURRENT batch introduces
    re-enter the fold (ADVICE r8 retry bound); the rest stay parked
    at the cost of one semi-join, never a fold."""
    from hypermap_etl_spark.operators.materialize import (
        _split_retriable_pending,
    )

    A, B, C = h(56), h(57), h(58)
    pending = events_df(spark, [
        ev(eventType="Fact", blockNumber=1, logIndex=0, parenthash=A,
           facthash=h(59), labelhash=h(49), label="f", data="0x01"),
        ev(eventType="Gene", blockNumber=1, logIndex=1, entry=B, gene=addr(1)),
        ev(eventType="Transfer", blockNumber=1, logIndex=2,
           **{"from": addr(0), "to": addr(2), "id": C}),
    ])
    batch = events_df(spark, [
        ev(eventType="Mint", blockNumber=9, logIndex=0, parenthash=ROOT_HASH,
           childhash=A, labelhash=h(39), label="a"),
    ])
    retriable, leftover = _split_retriable_pending(pending, batch, ROOT_HASH)
    assert [r["parenthash"] for r in retriable.collect()] == [A]
    assert sorted(r["eventType"] for r in leftover.collect()) == [
        "Gene", "Transfer",
    ]


def test_delta_manifest_pending_is_rename_free_and_crash_safe(
    spark, monkeypatch
):
    """VERDICT r8 task 2: the manifest delta path's pending store is
    itself a manifest table — no __staging_/__old_ rename dirs ever
    exist — and a crash BETWEEN the entries commit and the pending
    commit re-applies idempotently on the next delivery."""
    import glob
    import os

    from hypermap_etl_spark.operators import materialize as mat
    from hypermap_etl_spark.operators.materialize import (
        incremental_entries_delta_manifest,
    )
    from hypermap_etl_spark.sources.manifest import read_table

    X = h(35)
    rows = [
        ev(eventType="Transfer", blockNumber=4, logIndex=0,
           **{"from": addr(1), "to": addr(2), "id": X}),
        ev(eventType="Fact", blockNumber=4, logIndex=1, parenthash=X,
           facthash=h(36), labelhash=h(37), label="early", data="0xee"),
        ev(eventType="Mint", blockNumber=6, logIndex=0, parenthash=ROOT_HASH,
           childhash=X, labelhash=h(38), label="x"),
    ]
    b1 = [r for r in rows if r["blockNumber"] <= 5]
    b2 = [r for r in rows if r["blockNumber"] > 5]
    table = tempfile.mkdtemp() + "/entries"
    ptable = table + "__pending"
    incremental_entries_delta_manifest(spark, table, events_df(spark, b1))
    # the pending store is a manifest table, not a rename-swapped dir
    assert os.path.isdir(os.path.join(ptable, "manifests"))
    assert os.path.isfile(os.path.join(ptable, "_latest"))
    assert not glob.glob(ptable + "__staging_*")
    assert not glob.glob(ptable + "__old_*")
    assert read_table(spark, ptable).count() == 2

    # crash between the entries merge and the pending publish
    real_publish = mat._pending_manifest_publish

    def _boom(pend, p):
        raise RuntimeError("simulated crash before pending publish")

    monkeypatch.setattr(mat, "_pending_manifest_publish", _boom)
    try:
        incremental_entries_delta_manifest(
            spark, table, events_df(spark, b2)
        )
        raise AssertionError("expected the simulated crash")
    except RuntimeError:
        pass
    monkeypatch.setattr(mat, "_pending_manifest_publish", real_publish)
    # old pending is still current (2 rows) — re-delivering the batch
    # re-merges idempotently and then retires the parked writes
    assert read_table(spark, ptable).count() == 2
    incremental_entries_delta_manifest(spark, table, events_df(spark, b2))
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _flat(read_table(spark, table).drop("entry_bucket"))
    assert got == expected
    assert got[X]["owner"] == addr(2)
    assert got[X]["facts"] == (("early", "0xee"),)
    # applied writes left the pending store: empty manifest commit
    from hypermap_etl_spark.sources.manifest import read_manifest

    assert read_manifest(ptable)["partitions"] == {}
    assert not glob.glob(ptable + "__staging_*")
    assert not glob.glob(ptable + "__old_*")


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=_event_log(),
    cuts=st.sets(st.integers(1, 5), max_size=2),
    crashes=st.sets(st.integers(0, 3), max_size=2),
)
def test_delta_crashed_pending_publish_plus_redelivery_equals_full(
    spark, rows, cuts, crashes
):
    """Fuzz the crash contract: for ANY random log, ANY block chop, and
    ANY subset of batches whose pending publish crashes AFTER the
    entries merge landed, redelivering the crashed batch (the streaming
    checkpoint guarantee — foreachBatch did not complete) re-applies it
    idempotently, retires applied parked rows, re-parks the batch's own
    still-unknown writes, and the final entries equal the full fold.
    (A crash can LOSE newly-parked early writes from its own batch —
    only redelivery restores them, which is why the contract requires
    it; the no-redelivery staleness case is the directed test above.)"""
    from hypermap_etl_spark.operators import materialize as mat

    rows = [dict(r) for r in rows]
    entries_path = tempfile.mkdtemp() + "/entries"
    srt = sorted(rows, key=lambda r: (r["blockNumber"], r["logIndex"]))
    real_swap = mat._swap_pending

    def _boom(pend, path):
        raise RuntimeError("simulated pending-publish crash")

    prev = float("-inf")
    try:
        for i, cut in enumerate(sorted(cuts) + [10**9]):
            batch = [r for r in srt if prev < r["blockNumber"] <= cut]
            prev = cut
            if not batch:
                continue
            if i in crashes:
                mat._swap_pending = _boom
                try:
                    incremental_entries_delta(
                        spark, entries_path, events_df(spark, batch)
                    )
                except RuntimeError:
                    pass  # merge landed; pending publish "crashed"
                mat._swap_pending = real_swap
                # the streaming checkpoint redelivers the whole batch
            incremental_entries_delta(
                spark, entries_path, events_df(spark, batch)
            )
    finally:
        mat._swap_pending = real_swap
    expected = _flat(materialize_entries(events_df(spark, rows)))
    got = _flat(spark.read.parquet(entries_path))
    assert got == expected


def test_stale_pending_row_not_replayed_after_repeat_mint(
    spark, monkeypatch
):
    """Crash-window staleness guard: batch A parks Fact(X,'c',v1);
    batch B mints X and applies the parked write, but its pending
    publish CRASHES and B is never redelivered (a contract violation
    the path still defends against); batch C writes Fact(X,'c',v2);
    batch D re-mints X. D's retry split sees the stale parked row as
    retriable (X is in D's batch_known) — without the stored-target
    guard it would re-fold v1 over the newer v2. A pending row whose
    target is already stored was necessarily applied; it must be
    dropped, not replayed."""
    import os

    from hypermap_etl_spark.operators import materialize as mat

    X = h(25)
    A = [ev(eventType="Fact", blockNumber=4, logIndex=0, parenthash=X,
            facthash=h(26), labelhash=h(27), label="c", data="0xv1")]
    B = [ev(eventType="Mint", blockNumber=10, logIndex=0,
            parenthash=ROOT_HASH, childhash=X, labelhash=h(28), label="x")]
    C = [ev(eventType="Fact", blockNumber=100, logIndex=0, parenthash=X,
            facthash=h(26), labelhash=h(27), label="c", data="0xv2")]
    D = [ev(eventType="Mint", blockNumber=200, logIndex=0,
            parenthash=ROOT_HASH, childhash=X, labelhash=h(29),
            label="x-again")]
    entries_path = tempfile.mkdtemp() + "/entries"
    incremental_entries_delta(spark, entries_path, events_df(spark, A))
    assert spark.read.parquet(entries_path + "__pending").count() == 1

    real_swap = mat._swap_pending

    def _boom(pend, path):
        raise RuntimeError("simulated crash before pending publish")

    monkeypatch.setattr(mat, "_swap_pending", _boom)
    try:
        incremental_entries_delta(spark, entries_path, events_df(spark, B))
        raise AssertionError("expected the simulated crash")
    except RuntimeError:
        pass
    monkeypatch.setattr(mat, "_swap_pending", real_swap)
    # B's merge landed (X exists, v1 applied) but the stale parked row
    # survived the crash
    assert _flat(spark.read.parquet(entries_path))[X]["facts"] == (
        ("c", "0xv1"),
    )
    assert spark.read.parquet(entries_path + "__pending").count() == 1

    incremental_entries_delta(spark, entries_path, events_df(spark, C))
    incremental_entries_delta(spark, entries_path, events_df(spark, D))
    expected = _flat(materialize_entries(events_df(spark, A + B + C + D)))
    got = _flat(spark.read.parquet(entries_path))
    assert got == expected
    assert got[X]["facts"] == (("c", "0xv2"),)  # v1 NOT replayed
    assert got[X]["label"] == "x"  # first mint still wins
    # the stale row was dropped, not carried forever
    assert (
        not os.path.isdir(entries_path + "__pending")
        or spark.read.parquet(entries_path + "__pending").count() == 0
    )


def test_delta_forever_unknown_write_stays_parked(spark):
    """A write whose target is NEVER minted stays parked and never
    surfaces in entries — exactly the full fold's drop, incrementally."""
    P, GHOST = h(44), h(45)
    rows1 = [
        ev(eventType="Mint", blockNumber=1, logIndex=0, parenthash=ROOT_HASH,
           childhash=P, labelhash=h(46), label="p"),
        ev(eventType="Gene", blockNumber=2, logIndex=0, entry=GHOST,
           gene=addr(9)),
    ]
    rows2 = [
        ev(eventType="Fact", blockNumber=5, logIndex=0, parenthash=P,
           facthash=h(47), labelhash=h(48), label="c", data="0x01"),
    ]
    entries_path = tempfile.mkdtemp() + "/entries"
    incremental_entries_delta(spark, entries_path, events_df(spark, rows1))
    incremental_entries_delta(spark, entries_path, events_df(spark, rows2))
    expected = _flat(materialize_entries(events_df(spark, rows1 + rows2)))
    got = _flat(spark.read.parquet(entries_path))
    assert got == expected
    assert GHOST not in got
    assert (
        spark.read.parquet(entries_path + "__pending").count() == 1
    )  # the ghost Gene, still parked
