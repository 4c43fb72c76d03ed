"""Incremental entries materialization must equal the full-log recompute
regardless of how the log is split into batches."""

from __future__ import annotations

import tempfile

from hypermap_etl_spark.operators.materialize import (
    incremental_entries_update,
    materialize_entries,
    touched_namehashes,
)
from tests.test_materialize import _fixture_rows
from tests.helpers import events_df


def _flat(df):
    rows = df.collect()
    out = {}
    for r in rows:
        d = r.asDict()
        d["children"] = tuple(d["children"])
        d["notes"] = tuple(sorted(d["notes"].items()))
        d["facts"] = tuple(sorted(d["facts"].items()))
        d.pop("entry_bucket", None)
        out[d["namehash"]] = d
    return out


def test_incremental_equals_full(spark):
    rows = _fixture_rows()
    full_df = events_df(spark, rows)
    expected = _flat(materialize_entries(full_df))

    entries_path = tempfile.mkdtemp() + "/entries"
    # feed the log in three uneven batches; events table grows as batches land
    cuts = [6, 13, len(rows)]
    prev = 0
    landed = []
    for cut in cuts:
        batch = rows[prev:cut]
        landed.extend(batch)
        landed_df = events_df(spark, landed)
        new_df = events_df(spark, batch)
        incremental_entries_update(
            spark, entries_path, landed_df, touched_namehashes(new_df)
        )
        prev = cut

    got = _flat(spark.read.parquet(entries_path))
    assert got == expected


def test_incremental_single_batch_equals_full(spark):
    rows = _fixture_rows()
    full_df = events_df(spark, rows)
    entries_path = tempfile.mkdtemp() + "/entries"
    incremental_entries_update(
        spark, entries_path, full_df, touched_namehashes(full_df)
    )
    assert _flat(spark.read.parquet(entries_path)) == _flat(materialize_entries(full_df))


def test_bff_survivors_cross_batch(spark):
    """Dolma-style Bloom dedup: within-batch exact dups collapse
    keep-first; a later batch's repeats of ANY earlier admitted text
    are dropped (no false negatives); state stays one bounded row."""
    from hypermap_etl_spark.operators.dedup import bff_survivors

    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    )
    s1, bloom1 = bff_survivors(b1, m_words=64)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
    assert bloom1.count() == 1 and bloom1.collect()[0]["n_values"] == 2

    b2 = spark.createDataFrame(
        [(10, "alpha text"), (11, "gamma text"), (12, "beta text")],
        "doc_id long, text string",
    )
    s2, bloom2 = bff_survivors(b2, history_bloom=bloom1, m_words=64)
    assert sorted(r["doc_id"] for r in s2.collect()) == [11]
    assert bloom2.collect()[0]["n_values"] == 3

    # a third batch repeating batch-2's admission is dropped too
    b3 = spark.createDataFrame([(20, "gamma text")], "doc_id long, text string")
    s3, _ = bff_survivors(b3, history_bloom=bloom2, m_words=64)
    assert s3.count() == 0


def test_bff_false_positive_rate_bounded(spark):
    """With a deliberately tiny filter, SOME innocents are dropped (the
    designed trade) but never more than a loose multiple of the
    analytic rate; with an amply sized filter, none are."""
    import math

    from hypermap_etl_spark.operators.dedup import bff_survivors

    hist = spark.createDataFrame(
        [(i, f"old doc {i}") for i in range(500)], "doc_id long, text string"
    )
    fresh = spark.createDataFrame(
        [(1000 + i, f"new doc {i}") for i in range(500)],
        "doc_id long, text string",
    )
    for m_words, slack in ((4, 0), (256, 2)):
        _s, bloom = bff_survivors(hist, m_words=m_words)
        surv, _ = bff_survivors(fresh, history_bloom=bloom, m_words=m_words)
        dropped = 500 - surv.count()
        m_bits = m_words * 63
        rate = (1 - math.exp(-4 * 500 / m_bits)) ** 4
        # deterministic md5 hashing: the draw is fixed, so allow a
        # small absolute slack on top of the analytic expectation
        assert dropped <= 6.0 * rate * 500 + slack, (m_words, dropped)
    # the amply sized filter drops at most a stray collision or two
    assert dropped <= 2
