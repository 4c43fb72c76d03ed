"""Physical-plan regression tests: the optimizations we rely on at scale
must actually appear in the plan (pushdown, broadcast joins, top-k
TakeOrderedAndProject), not just in docstrings.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hypermap_etl_spark.operators.enrich import enrich_timestamps
from hypermap_etl_spark.plans.star_queries import (
    events_last_event,
    parts_size_filter,
    q1_pricing_summary,
    q3_shipping_priority,
    q5_region_revenue,
)
from tests.conftest import SF_SMOKE
from tests.helpers import ev, events_df, h


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = parts_size_filter(spark, SF_SMOKE)
    plan = _plan(df)
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(p_size,10)" in plan
    assert "StartsWith(p_type" in plan  # full name truncates in toString


def test_column_pruning_reaches_scan(spark):
    df = parts_size_filter(spark, SF_SMOKE)
    plan = _plan(df)
    # ReadSchema must not include unprojected/unfiltered columns
    assert "p_retailprice" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_name" in read_schema and "p_partkey" in read_schema
    assert "p_brand" in read_schema


def test_joins_are_broadcast(spark):
    for q in (q3_shipping_priority, q5_region_revenue):
        plan = _plan(q(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, q.__name__


def test_enrich_is_broadcast_join(spark):
    events = events_df(
        spark, [ev(eventType="Zero", blockNumber=i, logIndex=0) for i in range(3)]
    )
    blocks = spark.createDataFrame([(0, 1)], "blockNumber long, timestamp long")
    plan = _plan(enrich_timestamps(events, blocks))
    assert "BroadcastHashJoin" in plan


def test_argmax_is_take_ordered(spark):
    plan = _plan(events_last_event(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_q1_is_two_phase_hash_agg(spark):
    plan = _plan(q1_pricing_summary(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_decode_stays_codegen(spark):
    """The ABI decode projection must compile (no 64KB janino fallback)."""
    from hypermap_etl_spark.operators.decode import parse_raw_logs
    from hypermap_etl_spark.schemas import RAW_LOG_SCHEMA

    raw = spark.createDataFrame([], RAW_LOG_SCHEMA)
    plan = _plan(parse_raw_logs(raw).select("event_id", "eventType", "label"))
    assert "*(1)" in plan  # codegen stage marker; absent on janino fallback


def test_pagination_is_take_ordered_not_global_window(spark):
    """Deep pages must plan as TakeOrderedAndProject over skip+limit
    rows, never a row_number window over the full filtered set (which
    shuffles everything to one task at scale)."""
    from hypermap_etl_spark.plans.hm_queries import hm_events_page2
    from hypermap_etl_spark.plans.serving import get_events
    from hypermap_etl_spark.plans.star_queries import events_page2
    from tests.helpers import ev, events_df

    plans = [
        _plan(events_page2(spark, SF_SMOKE)),
        _plan(hm_events_page2(spark, SF_SMOKE)),
        _plan(
            get_events(
                events_df(spark, [ev(eventType="Zero", blockNumber=i, logIndex=0) for i in range(5)]),
                page=3,
                limit=1,
            )
        ),
    ]
    for plan in plans:
        assert "TakeOrderedAndProject" in plan
        # any Window that remains must run over the bounded top-k rows,
        # i.e. sit above the TakeOrderedAndProject, never below it
        if "Window" in plan:
            assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_decode_roundtrip_compiles_whole_stage(spark):
    """The FULL encode->decode roundtrip must run with codegen compiling.

    The plan string keeps its `*(N)` markers even when janino fails at
    runtime and the stage silently drops to interpreted eval, so the
    only reliable regression check is executing with
    spark.sql.codegen.fallback=false: any 64 KB method blowup then
    raises instead of falling back (this caught BENCH_r01's 4.5 s
    hm_decode_roundtrip fallback).
    """
    from hypermap_etl_spark.plans.hm_queries import hm_decode_roundtrip

    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        df = hm_decode_roundtrip(spark, SF_SMOKE)
        assert df.count() > 0  # raises InternalCompilerException on fallback
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_decode_roundtrip_has_stage_boundary(spark):
    """Decode must plan against the materialized raw logs (RDD scan),
    not against the fused derive+encode expression tree."""
    from hypermap_etl_spark.plans.hm_queries import hm_decode_roundtrip

    plan = _plan(hm_decode_roundtrip(spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan  # stage_boundary barrier present
    # no decode filter pushed into the events parquet scan
    assert "DataFilters: [CASE WHEN" not in plan


def test_token_chunks_plan_has_no_shuffle(spark):
    """Chunking must stay map-side: scan → project → generate, zero
    exchanges (the text is tokenized once, chunks never shuffle)."""
    from hypermap_etl_spark.operators.corpus import token_chunks
    from hypermap_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(token_chunks(docs))
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_pack_sequences_window_is_bucketed_not_global(spark):
    """The packing window must partition on the md5 bucket — a global
    (single-task) window would serialize the whole corpus."""
    from hypermap_etl_spark.operators.corpus import pack_sequences, token_chunks
    from hypermap_etl_spark.sources.tables import load_table

    chunks = token_chunks(load_table(spark, SF_SMOKE, "documents"))
    plan = _plan(pack_sequences(chunks))
    assert "Exchange hashpartitioning(bucket" in plan
    assert "Exchange SinglePartition" not in plan


def test_tfidf_df_join_is_broadcast(spark):
    """The document-frequency side must broadcast — shuffling the full
    (doc, term) index to join a small distinct-term table is wrong."""
    from hypermap_etl_spark.operators.textstats import tfidf_top_terms
    from hypermap_etl_spark.sources.tables import load_table

    plan = _plan(tfidf_top_terms(load_table(spark, SF_SMOKE, "documents")))
    assert "BroadcastHashJoin" in plan


def test_pagination_hostile_page_takes_spillable_window(spark):
    """A page deep enough that skip+limit exceeds MAX_HEAP_TOP must NOT
    plan per-partition heaps of page*limit rows (unbounded executor
    memory under a hostile page value) — it falls back to the spillable
    row_number window, and both plans return the same rows."""
    from hypermap_etl_spark.util import MAX_HEAP_TOP, paginate

    df = spark.range(30_000).select(
        F.col("id"), (F.col("id") % 7).alias("x")
    )
    order = [F.col("id").asc()]
    deep_page = MAX_HEAP_TOP // 10 + 2  # limit 10 → skip+limit > cap
    deep = paginate(df, order, page=deep_page, limit=10)
    plan = _plan(deep)
    assert "TakeOrderedAndProject" not in plan
    assert "row_number" in plan
    shallow = paginate(df, order, page=3, limit=10)
    assert "TakeOrderedAndProject" in _plan(shallow)
    # semantics agree across the plan switch
    assert [r["id"] for r in shallow.collect()] == list(range(20, 30))
    expected_start = (deep_page - 1) * 10
    assert [r["id"] for r in deep.collect()] == list(
        range(expected_start, expected_start + 10)
    )


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key must sort-merge-join with
    ZERO Exchange operators — the co-located join that lets a 100 TB
    fact table join without re-shuffling after load."""
    import tempfile

    from hypermap_etl_spark.operators.bucketed import read_bucketed, write_bucketed

    base = tempfile.mkdtemp()
    left = spark.range(1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(1000).selectExpr("id AS k", "id * 3 AS b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny fixtures would broadcast; at real scale neither side fits —
        # disable the threshold so the plan shows the at-scale join shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(left, "t_bl", "k", 8, path=f"{base}/l", sort_col="k")
        write_bucketed(right, "t_br", "k", 8, path=f"{base}/r", sort_col="k")
        joined = read_bucketed(spark, "t_bl").join(read_bucketed(spark, "t_br"), "k")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bl")
        spark.sql("DROP TABLE IF EXISTS t_br")


def test_decontaminate_broadcasts_probe_set(spark):
    """The benchmark probe set is small by definition — the decontam
    join must broadcast it so the 100 TB train side streams map-side
    (one scan, no shuffle of exploded n-grams)."""
    from hypermap_etl_spark.operators.curation import decontaminate

    train = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(20)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(100, "a b c d")], "doc_id long, text string")
    plan = _plan(decontaminate(train, bench, n=3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_segment_dedup_shuffles_on_hash_key(spark):
    """segment_dedup's only wide operation is the first-occurrence
    window keyed by md5(segment) — fixed-width keys, and no join or
    aggregation anywhere else in the plan."""
    from hypermap_etl_spark.operators.curation import segment_dedup

    docs = spark.createDataFrame(
        [(i, "w x y z " * 5) for i in range(10)], "doc_id long, text string"
    )
    plan = _plan(segment_dedup(docs, seg_words=3))
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_pii_ops_are_single_projection(spark):
    """tag_pii / redact_pii must stay map-side: no exchange, no join —
    a pure projection that fuses into whatever scan feeds it."""
    from hypermap_etl_spark.operators.curation import redact_pii, tag_pii

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    for op in (tag_pii, redact_pii):
        plan = _plan(op(docs))
        assert "Exchange" not in plan, op.__name__
        assert "Join" not in plan, op.__name__


def test_new_tpch_shapes_plan_right(spark):
    """The round-3 join-shape sweep keeps its declared physical
    strategies: top-20 is TakeOrderedAndProject (q10), the scalar
    threshold/max subqueries are broadcast single-row joins with no
    cartesian blow-up (q11/q15), NOT IN is a broadcast anti join
    (q16), EXISTS is a semi join (q4), and the disjunctive Q19
    residual never degrades to a nested-loop join."""
    from hypermap_etl_spark.plans.star_queries import (
        q4_order_priority,
        q10_returned_items,
        q11_important_stock,
        q15_top_supplier,
        q16_supplier_variety,
        q19_disjunctive_revenue,
    )

    p10 = _plan(q10_returned_items(spark, SF_SMOKE))
    assert "TakeOrderedAndProject(limit=20" in p10
    assert "GlobalLimit" not in p10

    for q in (q11_important_stock, q15_top_supplier):
        plan = _plan(q(spark, SF_SMOKE))
        # single-row side is broadcast; the "cross" join is a BNLJ over
        # exactly one build row, never a CartesianProduct
        assert "CartesianProduct" not in plan, q.__name__
        assert "Broadcast" in plan, q.__name__

    assert "LeftAnti" in _plan(q16_supplier_variety(spark, SF_SMOKE))
    assert "LeftSemi" in _plan(q4_order_priority(spark, SF_SMOKE))

    p19 = _plan(q19_disjunctive_revenue(spark, SF_SMOKE))
    assert "CartesianProduct" not in p19
    assert "BroadcastNestedLoopJoin" not in p19


def test_analytics_gates_shuffle_on_user_id_only(spark):
    """Retention and funnel must stay keyed shuffles — no cartesian,
    no global window; every funnel exchange hashes on user_id so AQE
    can reuse the exchange across the chained stages."""
    from hypermap_etl_spark.plans.star_queries import (
        events_funnel,
        events_retention_cohorts,
    )

    pf = _plan(events_funnel(spark, SF_SMOKE))
    assert "CartesianProduct" not in pf and "BroadcastNestedLoopJoin" not in pf
    assert pf.count("Exchange hashpartitioning") == pf.count(
        "Exchange hashpartitioning(user_id"
    )

    pr = _plan(events_retention_cohorts(spark, SF_SMOKE))
    assert "CartesianProduct" not in pr and "BroadcastNestedLoopJoin" not in pr
    assert "Window" not in pr  # first-seen is a hash agg, not a window


def test_ir_and_sketch_plan_shapes(spark):
    """BM25 ends in TakeOrderedAndProject (top-k, no global sort);
    the sampled-quantile sketch filters map-side BEFORE its single
    aggregate exchange — the sample predicate must sit under the scan
    side, not after a shuffle."""
    from hypermap_etl_spark.plans.star_queries import events_sampled_quantiles
    from hypermap_etl_spark.operators.textstats import bm25_search

    docs = spark.createDataFrame(
        [(i, "join window scan filter project exchange") for i in range(30)],
        "doc_id long, text string",
    )
    pb = _plan(bm25_search(docs, ["join", "scan"], k=5))
    assert "TakeOrderedAndProject(limit=5" in pb
    assert "CartesianProduct" not in pb

    # empty / tokenless corpora must return an empty frame, not raise
    # on a None avg_len (ADVICE r3)
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_search(empty, ["join"]).count() == 0
    blank = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id long, text string")
    out = bm25_search(blank, ["join"])
    assert out.count() == 0 and out.columns == ["doc_id", "score"]
    # empty QUERY (CLI `search ""` -> ''.split() == []) must early-
    # return the empty frame, not raise on F.greatest(*[]) (ADVICE r6)
    out = bm25_search(docs, [])
    assert out.count() == 0 and out.columns == ["doc_id", "score"]

    pq = _plan(events_sampled_quantiles(spark, SF_SMOKE))
    assert pq.count("Exchange hashpartitioning") <= 2  # agg + output sort only
    assert "percentile" in pq


def test_cap_per_source_plan_is_skew_safe(spark):
    """cap_per_source: under-cap sources bypass the window through a
    broadcast anti-join (no sort, no shuffle), and the over-cap ranked
    window carries a PARTIAL WindowGroupLimit before its exchange —
    each map partition ships at most cap rows per source, so a hot
    domain never lands whole on one task."""
    from hypermap_etl_spark.plans.doc_queries import doc_source_caps

    p = _plan(doc_source_caps(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "WindowGroupLimit" in p and "Partial" in p
    assert "CartesianProduct" not in p


def test_dsir_ratio_table_broadcasts(spark):
    """dsir_weights: the per-bucket log-ratio table (n_buckets rows)
    must broadcast onto the raw feature stream — the corpus-sized side
    shuffles only for the doc-keyed partial-sum aggregate, never for
    the ratio join. Bucket counting is map-combined (partial_count
    before each exchange)."""
    from hypermap_etl_spark.plans.doc_queries import doc_dsir_weights

    p = _plan(doc_dsir_weights(spark, SF_SMOKE))
    # the scoring join against the ratio table is a broadcast hash join
    assert "BroadcastHashJoin [__b" in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    # every aggregate two-phase: partial before exchange
    assert p.count("partial_count") >= 2 and "partial_sum" in p


def test_dup_char_spans_plan_shape(spark):
    """Char-grain ExactSubstr: the duplicated-hash aggregate must be
    two-phase (map-side partial before the exchange), candidates reach
    the anchors as a left-semi join, and nothing degenerates into a
    cartesian product."""
    from hypermap_etl_spark.operators.dedup import dup_char_spans
    from hypermap_etl_spark.sources.tables import load_table
    from hypermap_etl_spark.util import release_persisted

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    p = _plan(dup_char_spans(docs, min_len=30))
    assert "partial_count" in p, "dup-hash count must map-side combine"
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    release_persisted()


def test_distributed_rank_never_single_partition(spark):
    """suffix_array's ranking primitive must never plan a global
    single-partition window/exchange: ranks come from a range
    repartition + per-partition windows + broadcast offsets."""
    from hypermap_etl_spark.operators.suffixarray import _distributed_rank

    df = spark.range(0, 10_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    for dense in (True, False):
        ranked, scratch = _distributed_rank(df, ["k", "v"], dense=dense, n_parts=8)
        p = _plan(ranked)
        assert "SinglePartition" not in p, p[:2000]
        assert "rangepartitioning" in p
        # the window partitions by the physical partition id, never empty
        assert "Window [" in p and "windowspecdefinition(__pid" in p
        scratch.unpersist()


def test_suffix_array_output_is_permutation(spark):
    """End-to-end sanity at plan-test scale: ranks form a permutation
    and per-doc positions are complete."""
    from hypermap_etl_spark.operators.suffixarray import suffix_array
    from hypermap_etl_spark.util import release_persisted

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown cat")],
        "doc_id long, text string",
    )
    rows = suffix_array(docs, seed_chars=4).collect()
    assert sorted(r["sa_rank"] for r in rows) == list(range(1, len(rows) + 1))
    assert sorted(r["pos"] for r in rows if r["doc_id"] == 1) == list(range(1, 20))
    release_persisted()


def test_score_linear_stays_jvm_side(spark):
    """The trained-filter SERVING path must never leave the JVM: the
    dot product + sigmoid are higher-order-function column
    expressions, so a Python UDF (BatchEvalPython / ArrowEvalPython)
    in this plan is a regression."""
    from hypermap_etl_spark.operators.quality_model import score_linear
    from hypermap_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    p = _plan(score_linear(docs, [0.1] * 16, bias=0.5))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # one doc-keyed hash aggregate, map-side combined
    assert "partial_sum" in p or "partial_count" in p


def test_table_diff_shuffle_carries_fingerprints_not_payload(spark):
    """table_diff's full-outer join must exchange (keys, md5), never
    the text column: the map-side fingerprint projection has to fold
    into the scan side of each Exchange."""
    from hypermap_etl_spark.operators.profile import table_diff
    from hypermap_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    new = docs.filter("doc_id % 2 = 0")
    p = _optimized(table_diff(docs, new, ["doc_id"]))
    # both fingerprint projections must sit BELOW the join (children
    # print after the parent), i.e. md5 folds into each scan stage and
    # only (key, 128-bit fp, flag) rows cross the exchange
    join_at = p.index("Join FullOuter")
    assert p.index("AS __old_fp") > join_at and p.index("AS __new_fp") > join_at
    # and the join itself compares keys only
    assert "text" not in p[p.index("(", join_at) : p.index("\n", join_at)]


def test_jl_project_is_shuffle_free(spark):
    from hypermap_etl_spark.operators.similarity import jl_project
    from hypermap_etl_spark.sources.tables import load_table

    df = jl_project(load_table(spark, SF_SMOKE, "embeddings"), 64, 8)
    plan = _plan(df)
    # map-side only: literal sign matrix folded into the projection —
    # no exchange anywhere in the plan
    assert "Exchange" not in plan


def test_global_rank_window_is_partitioned(spark):
    from hypermap_etl_spark.operators import scale
    from hypermap_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    df = scale.global_rank(docs, [F.col("n_chars").desc(), F.col("doc_id").asc()])
    plan = _plan(df)
    # the whole point: rank WITHOUT a single-partition global window.
    # The row_number window must be keyed by the range-partition id —
    # never an empty partition spec (which Spark plans as one task)
    assert "Window" in plan
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan[:2000]
    for spec in specs:
        assert "__pid" in spec, plan[:2000]


def test_key_skew_report_single_corpus_exchange(spark):
    from hypermap_etl_spark.operators import scale
    from hypermap_etl_spark.sources.tables import load_table
    from hypermap_etl_spark.util import release_persisted

    ev_ = load_table(spark, SF_SMOKE, "events")
    df = scale.key_skew_report(ev_, ["event_type"], top=5)
    plan = _plan(df)
    # the corpus-sized work is ONE hash aggregate keyed by the key;
    # everything downstream is broadcast
    assert plan.count("BroadcastExchange") >= 1
    assert "SortMergeJoin" not in plan
    release_persisted()


def test_attribution_planted_journeys(spark, tmp_path):
    """Hand-checkable journeys: conversions close journeys; journeys
    with no touches credit 'direct'; trailing open journeys are
    ignored."""
    from datetime import datetime

    from hypermap_etl_spark.plans.star_queries import events_attribution

    def t(m):
        return datetime(2026, 1, 1, 0, m)

    rows = [
        # user 1: view,click -> purchase | purchase (direct) | signup (open)
        (1, t(1), 1, "view", 0.0, "{}"),
        (2, t(2), 1, "click", 0.0, "{}"),
        (3, t(3), 1, "purchase", 0.0, "{}"),
        (4, t(4), 1, "purchase", 0.0, "{}"),
        (5, t(5), 1, "signup", 0.0, "{}"),
        # user 2: purchase (direct) | click,view -> purchase
        (6, t(1), 2, "purchase", 0.0, "{}"),
        (7, t(2), 2, "click", 0.0, "{}"),
        (8, t(3), 2, "view", 0.0, "{}"),
        (9, t(4), 2, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["touch_type"]: (r["first_touch_convs"], r["last_touch_convs"])
        for r in events_attribution(spark, str(tmp_path)).collect()
    }
    assert got == {"view": (1, 1), "click": (1, 1), "direct": (2, 2)}


def test_native_session_window_boundary_semantics(spark, tmp_path):
    """Native session_window merges at exactly diff == gap (inclusive
    boundary): events 30 minutes apart share a session, 30m01s apart
    split — the same split rule as the manual events_sessions gate,
    pinned here because the oracle mirrors it with diff > gap."""
    from datetime import datetime, timedelta

    from hypermap_etl_spark.plans.star_queries import events_session_windows

    t0 = datetime(2026, 3, 1, 12, 0, 0)
    rows = [
        # user 1: exactly 30 min apart -> ONE session (inclusive)
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + timedelta(minutes=30), 1, "view", 2.0, "{}"),
        # user 2: 30m01s apart -> two sessions
        (3, t0, 2, "view", 1.0, "{}"),
        (4, t0 + timedelta(minutes=30, seconds=1), 2, "view", 2.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["duration_us"])
        for r in events_session_windows(spark, str(tmp_path)).collect()
    }
    gap_us = 30 * 60 * 1_000_000
    assert got == {
        (1, 1): (2, gap_us + gap_us),  # 30 min span + 30 min gap tail
        (2, 1): (1, gap_us),
        (2, 2): (1, gap_us),
    }


def test_r6_operator_plan_shapes(spark):
    """Plan pins for the r6 wave: summary-sized joins broadcast, no
    cartesian products, no global (unpartitioned) windows."""
    import re

    from hypermap_etl_spark.plans.star_queries import (
        events_attribution,
        events_kmv_overlap,
        lineitem_weighted_median,
        parts_copurchase_triangles,
    )

    # KMV pair algebra: runs on <=k-row-per-group sketch frames — every
    # join broadcast (hash or the inequality pair join as BNLJ), never
    # a shuffle join or cartesian
    p = _plan(events_kmv_overlap(spark, SF_SMOKE))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p

    # attribution: every window is partitioned (by user or journey) —
    # a global window would single-task the whole event stream
    p = _plan(events_attribution(spark, SF_SMOKE))
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "user_id" in spec, p[:2000]

    # weighted median: the offsets frame comes back as ONE broadcast
    # (r10 folded the group totals into the same whole-partition window
    # over the psums frame, removing the second broadcast join and a
    # cache scan — OPTIMIZATION_r10.md), and the corpus-sized
    # cumulative window is (__pid, group)-sliced — the few-groups
    # single-task sort is the scale-killer this pins out (the only
    # window without __pid runs over the P x G psums frame)
    p = _plan(lineitem_weighted_median(spark, SF_SMOKE))
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") == 1
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert any("__pid" in spec for spec in specs), p[:2000]
    for spec in specs:
        assert "l_returnflag" in spec, p[:2000]

    # triangles: keyed equi-joins only — inequality predicates ride ON
    # the equi-join, never a cartesian/BNLJ fallback
    p = _plan(parts_copurchase_triangles(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hybrid_rrf_and_hard_negatives_plan_shapes(spark):
    """The RRF fusion join runs on leg frames already cut by
    TakeOrderedAndProject (never a corpus-wide join); hard-negative
    mining broadcasts the anchor side so the corpus never shuffles."""
    from hypermap_etl_spark.operators.similarity import hard_negative_pairs
    from hypermap_etl_spark.operators.textstats import hybrid_rrf_search

    docs = spark.createDataFrame(
        [(i, f"join window scan w{i}") for i in range(30)],
        "doc_id long, text string",
    )
    ph = _plan(hybrid_rrf_search(docs, ["join", "scan"], k=5, k_leg=8))
    assert ph.count("TakeOrderedAndProject") >= 2  # one per leg + fusion
    assert "CartesianProduct" not in ph

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0], i % 2) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    pn = _plan(hard_negative_pairs(vecs, k=2, query_filter=F.col("vec_id") < 3))
    assert "BroadcastNestedLoopJoin BuildLeft" in pn  # anchors broadcast
    assert "CartesianProduct" not in pn


def test_r7_stats_wave_plans_avoid_single_task_windows(spark):
    """The r7 stats operators must never plan a window over an
    UNPARTITIONED ordering of corpus- or key-sized frames: ranks come
    from windows partitioned by group (or by range slice in
    heavy_coverage), and every `Window` in the plan carries a
    partition spec. A bare `Window [..], [..ASC..]` with no
    partitionBy funnels all rows through one task."""
    import re

    from hypermap_etl_spark.plans.star_queries import (
        events_changepoint,
        events_heavy_coverage,
        events_mannwhitney,
        events_theilsen_trend,
    )
    from hypermap_etl_spark.util import release_persisted

    for fn in (events_mannwhitney, events_theilsen_trend, events_changepoint):
        plan = _plan(fn(spark, SF_SMOKE))
        # every Window node declares a partitionBy (windowspecdefinition
        # with a partition expression list before the ORDER BY)
        for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
            # second bracket group = partition spec; must be non-empty
            assert m.group(1).strip(), f"unpartitioned Window in {fn.__name__}"
    # heavy_coverage: its windows are partitioned by the range-slice id
    plan = _plan(events_heavy_coverage(spark, SF_SMOKE))
    assert "__pid" in plan
    release_persisted()


def test_mann_whitney_single_corpus_aggregate(spark):
    """mann_whitney_u touches the corpus exactly once: one hash
    aggregate keyed (group, value); the rank window and the final
    aggregate run over the distinct-value frame."""
    from hypermap_etl_spark.plans.star_queries import events_mannwhitney

    plan = _plan(events_mannwhitney(spark, SF_SMOKE))
    # exactly one scan of the events parquet
    assert plan.count("Scan parquet") == 1


def test_chi2_reuses_joint_exchange_single_runtime_scan(spark):
    """chi2_independence touches the corpus once at runtime: the
    marginals, the total/category-count row, and the grid all reuse
    the joint contingency's exchange (AQE ReusedExchange) rather than
    rescanning the parquet."""
    from hypermap_etl_spark.plans.star_queries import events_chi2_independence

    df = events_chi2_independence(spark, SF_SMOKE)
    df.collect()  # AQE reuse only materializes in the final plan
    plan = _plan(df)
    assert plan.count("ReusedExchange") >= 3


def test_pr_sweep_single_scan_and_partitioned_windows(spark):
    """pr_threshold_sweep compiles to ONE corpus scan (the bin
    aggregate); the grid comes from a local Range, and the running
    sums window over the bins-per-group frame. Grouped sweeps keep
    every Window partitioned."""
    import re

    from hypermap_etl_spark.operators.quality_model import pr_threshold_sweep

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        (F.col("l_discount") * 10).alias("score"),
        (F.col("l_quantity") > 25).cast("int").alias("label"),
        F.col("l_returnflag").alias("g"),
    )
    plan = _plan(pr_threshold_sweep(li, n_steps=10, group_cols=["g"]))
    assert plan.count("Scan parquet") <= 2  # bin agg + group-list reuse
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), "unpartitioned Window in pr_threshold_sweep"


def test_spearman_and_auc_windows_partitioned(spark):
    """spearman_corr's rank windows and roc_auc's cumulative window
    run over distinct-value aggregates, partitioned by group when
    groups are present; the gate-shaped ungrouped AUC window is over
    the distinct-score frame only (bounded by score cardinality)."""
    import re

    from hypermap_etl_spark.plans.star_queries import lineitem_spearman

    plan = _plan(lineitem_spearman(spark, SF_SMOKE))
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), "unpartitioned Window in spearman_corr"
    # rank windows feed from hash aggregates, not raw corpus sorts
    assert "HashAggregate" in plan


def test_continuation_gates_avoid_corpus_cartesians(spark):
    """The continuation wave's join shapes stay bounded: SPPMI's pair
    stream is the delta-join (one equi hash join, no cartesian);
    basket/sequence pair mining joins on basket keys; the
    negative-sampling vocabulary cap compiles to TakeOrdered. The
    only cartesian allowed anywhere here is Kendall's cells² join,
    which is bounded by the band product and certified separately."""
    from hypermap_etl_spark.plans.doc_queries import (
        doc_negative_sampling,
        doc_sppmi_matrix,
    )
    from hypermap_etl_spark.plans.star_queries import (
        events_basket_rules,
        events_sequence_order,
    )

    p = _plan(doc_sppmi_matrix(spark, SF_SMOKE))
    # the only nested-loop is the broadcast ONE-ROW total (the A4
    # percentage-of-total pattern); the pair stream and the marginal
    # joins must all be hash/merge equi-joins
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    p = _plan(doc_negative_sampling(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    for fn in (events_basket_rules, events_sequence_order):
        p = _plan(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in p, fn.__name__
    from hypermap_etl_spark.util import release_persisted

    release_persisted()


def test_permutation_expansion_after_unit_aggregate(spark):
    """permutation_test scans the corpus ONCE and the x(R+1) explode
    sits ABOVE the (group, unit) hash aggregate — expanding unit
    totals, never raw rows (the 8x bench win this rewrite bought)."""
    from hypermap_etl_spark.plans.star_queries import (
        events_permutation_test,
    )

    plan = _plan(events_permutation_test(spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 1
    # the Generate (explode) must appear above at least one completed
    # hash-aggregate pair in the plan text (plans print top-down:
    # operators EARLIER in the text run LATER)
    gen = plan.index("Generate explode")
    assert "HashAggregate" in plan[gen:], (
        "explode must consume the unit aggregate, not the raw scan"
    )


def test_ratio_metric_and_power_single_scan(spark):
    """ratio_metric_ab and power_mde each compile to ONE corpus scan
    feeding map-combined hash aggregates; the arm self-join runs on
    the groups-sized aggregate."""
    from hypermap_etl_spark.plans.star_queries import (
        events_ab_power,
        events_delta_ratio,
    )

    for fn in (events_delta_ratio, events_ab_power):
        plan = _plan(fn(spark, SF_SMOKE))
        assert plan.count("Scan parquet") <= 2  # self-join may rescan
        assert "HashAggregate" in plan


def test_lift_table_no_unpartitioned_corpus_window(spark):
    """lift_table's band assignment uses the distributed global-rank
    construction (range exchange + pid-partitioned windows); the only
    unpartitioned window runs over the n_bands aggregate."""
    from hypermap_etl_spark.plans.doc_queries import doc_model_lift

    df = doc_model_lift(spark, SF_SMOKE)
    plan = _plan(df)
    # rangepartitioning present (the global-rank range exchange);
    # no `Window [...]` without a partition spec over the corpus-sized
    # frame — the pid-partitioned window carries __pid in its spec
    assert "rangepartitioning" in plan.lower()
    assert "__pid" in plan


def test_delta_stored_read_is_partition_pruned(spark, tmp_path):
    """The delta maintenance path's ONLY table read (the touched keys'
    stored rows) must prune to the touched entry buckets at the SCAN —
    PartitionFilters on entry_bucket — and the plan must contain no
    other parquet relation (no history scan exists anywhere in the
    delta plan, the path's defining property)."""
    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators.materialize import (
        _read_entries,
        materialize_entries,
        merge_entry_states,
        touched_namehashes,
        with_entry_bucket,
    )
    from tests.helpers import events_df
    from tests.test_materialize import _fixture_rows

    rows = sorted(
        _fixture_rows(), key=lambda r: (r["blockNumber"], r["logIndex"])
    )
    base_rows = [r for r in rows if r["blockNumber"] <= 19]
    batch_rows = [r for r in rows if r["blockNumber"] > 19]
    path = str(tmp_path / "entries")
    with_entry_bucket(
        materialize_entries(events_df(spark, base_rows)), 8
    ).write.mode("overwrite").partitionBy("entry_bucket").parquet(path)

    batch = events_df(spark, batch_rows)
    keys = touched_namehashes(batch)
    kb = with_entry_bucket(keys, 8)
    buckets = [r[0] for r in kb.select("entry_bucket").distinct().collect()]
    stored = (
        _read_entries(spark, path, 8)
        .filter(F.col("entry_bucket").isin(buckets))
        .drop("entry_bucket")
    )
    stored_touched = stored.join(F.broadcast(keys), "namehash", "left_semi")
    partial = materialize_entries(
        batch, known_extra=stored_touched.select("namehash")
    )
    updated = merge_entry_states(stored_touched, partial)
    plan = _plan(updated)
    # the bucket filter must reach the partition layer, not a post-scan
    # Filter node
    seg = plan.split("PartitionFilters:")
    assert len(seg) >= 2, "stored read lost its partition filter"
    assert "entry_bucket" in seg[1].splitlines()[0]
    # every parquet relation in the whole delta plan is the stored
    # entries table — the event log never appears (locations truncate
    # in toString, so match the tmp-path fragment)
    import re

    locs = re.findall(r"Location: InMemoryFileIndex\(\d+ paths?\)\[[^\]\n]*", plan)
    assert locs, "no parquet relation found in the delta plan"
    for loc in locs:
        assert "/entries" in loc or "/ent" in loc, loc


def test_image_neardup_is_equijoin_never_cartesian(spark):
    """image_neardup_pairs must block on the 8 signature byte-chunks as
    a generated-key EQUI-join: at 100 TB of media a cartesian or
    nested-loop candidate stage is the difference between a shuffle
    keyed on one byte and an O(n^2) scan. The hamming verify rides the
    join as a post-filter, never a separate pass."""
    from hypermap_etl_spark.operators.multimodal import image_neardup_pairs

    sigs = spark.createDataFrame(
        [(1, "png", 5), (2, "png", 7), (3, "png", -1)],
        "media_id long, fmt string, ahash long",
    )
    plan = _plan(image_neardup_pairs(sigs, max_hamming=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )
