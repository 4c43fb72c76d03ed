"""Headline benchmark: runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line {"metric", "value", "unit", "queries", "sf"}.

Query selection covers every engine subsystem: the wide hash aggregate
(q1), join pyramid (q3/q5), windows/sessionization, the hypermap decode
+ M1-M9 fold, MinHash-LSH dedup, ANN top-k, and the end-to-end
curate_pipeline composite — quality filter → MinHash dedup → connected
components → ExactSubstr span surgery → PII redact → split/chunk/pack/
shard, with the report disabled (stage boundaries still materialize
eagerly — that IS the pipeline's work — but no extra train/chunk count
jobs run). The composite dominates the total by construction (it runs
~8 operator families end to end and rebuilds its lineage each run, so
its number is a COLD composite, unlike the plan-cached single
queries), so the JSON line also carries core8_total for direct
round-over-round comparison of the original eight headliners.
"""

from __future__ import annotations

import json
import os
import time

from hypermap_etl_spark.session import get_spark


_BUILT_STORES: set = set()
_BUILT_VALS: dict = {}


# Runs per entry (shared with tools/bench_one.py): best-of-2 for the
# plan-cached single queries (run 1 settles JIT + AQE stats; run 2 is
# steady state), but the COLD composites rebuild their whole lineage
# each run and carry most of the suite's variance — best-of-3 so one
# GC pause or host-steal spike can't masquerade as a regression
# (cdc_dedup moved +58% with zero code change under best-of-2).
# hm_incremental* runs 3 because run 1 includes the one-time
# base-table build the steady state amortizes away.
_RUNS_3 = {
    "curate_pipeline",
    "cdc_dedup",
    "hybrid_rrf",
    "ivf_build",
    "hm_incremental",
    "hm_incremental_small",
    "hm_incremental_small_16x",
    "hm_incremental_small_64x",
    "hm_refold_write",
    "incremental_dedup",
}
# minutes-scale control arms: measured once — their magnitude (vs the
# delta path's flat seconds) IS the result, and dispersion at that
# scale cannot be mistaken for steal
_RUNS_1 = {"hm_refold_write_64x"}


def build_bench() -> dict:
    """The ordered bench registry: name -> fn(spark, sf_dir).

    Split out of main() so tools/bench_one.py
    can time single entries and dump their plans with the SAME
    functions the headline bench runs — methodology unchanged."""
    from hypermap_etl_spark.plans.doc_queries import (
        doc_balanced_shards,
        doc_cdc_dedup,
        doc_hybrid_rrf,
        doc_minhash_pairs,
        doc_prefix_pairs,
        emb_ann_topk,
    )
    from hypermap_etl_spark.plans.hm_queries import hm_decode_roundtrip, hm_entries
    from hypermap_etl_spark.plans.star_queries import (
        events_fdr_bh,
        events_page_deep,
        lineitem_price_deciles,
        parts_link_prediction,
        events_sessions,
        lineitem_weighted_median,
        parts_copurchase_lpa,
        parts_seed_distance,
        q1_pricing_summary,
        q3_shipping_priority,
        q5_region_revenue,
    )

    def incremental_dedup_bench(spark, sf_dir):
        """The arriving-batch story at sf scale: odd docs (half the
        corpus — a deliberately HUGE batch) near-dup-checked against
        the even docs' PERSISTED signature index. The bucketed store
        table is built once on the first call (a real lake amortizes
        it across every batch); the harness's best-of-2 therefore
        reports the steady-state incremental check — history never
        recomputed, never re-shuffled."""
        from pyspark.sql import functions as F

        from hypermap_etl_spark.operators import dedup
        from hypermap_etl_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        new = docs.filter(F.col("doc_id") % 2 == 1)
        old = docs.filter(F.col("doc_id") % 2 == 0)
        # rebuilt once per PROCESS (fresh data each driver run — a
        # stale location from an earlier process must not leak in),
        # reused across this run's best-of-2 timing calls; EXTERNAL
        # location under /tmp so a leftover managed-table directory in
        # spark-warehouse/ can never collide
        import shutil
        import tempfile

        table = "bench_sig_store"
        if table not in _BUILT_STORES:
            loc = os.path.join(tempfile.gettempdir(), "spark_graft_bench_store")
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            shutil.rmtree(loc, ignore_errors=True)
            dedup.signature_store_append(old, table, path=loc)
            _BUILT_STORES.add(table)
        return dedup.incremental_minhash_pairs(new, old, table)

    def curate_pipeline_bench(spark, sf_dir):
        from hypermap_etl_spark.operators.corpus import curate_pipeline
        from hypermap_etl_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        documents, chunks, _ = curate_pipeline(
            docs, cut_dup_spans=True, with_report=False
        )
        # count the documents side too — both outputs are the product
        documents.count()
        return chunks

    def _hm_incremental_bench(spark, sf_dir, pct, tag):
        """The reference's core loop at bench scale: the top (1-pct) of
        blocks upserts as a batch into a standing entry-bucketed entries
        table — recompute only touched keys, rewrite only touched
        buckets. The base table builds once on the first call (a real
        lake amortizes it); best-of-N reports the steady-state upsert."""
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from hypermap_etl_spark.operators.materialize import (
            incremental_entries_update,
            materialize_entries,
            touched_namehashes,
            with_entry_bucket,
        )
        from hypermap_etl_spark.plans.hm_derive import hm_events_df

        hm = hm_events_df(spark, sf_dir).cache()
        if f"cut_{pct}" not in _BUILT_VALS:
            _BUILT_VALS[f"cut_{pct}"] = hm.agg(
                F.expr(f"percentile_approx(blockNumber, {pct})").alias("c")
            ).collect()[0]["c"]
        cut = _BUILT_VALS[f"cut_{pct}"]
        sf_tag = os.path.basename(sf_dir.rstrip("/"))
        entries_path = os.path.join(
            tempfile.gettempdir(), f"spark_graft_bench_entries_{sf_tag}_{tag}"
        )
        if f"bench_hm_entries_{sf_tag}_{tag}" not in _BUILT_STORES:
            shutil.rmtree(entries_path, ignore_errors=True)
            base = with_entry_bucket(
                materialize_entries(hm.filter(F.col("blockNumber") <= cut))
            )
            base.repartition("entry_bucket").write.mode(
                "overwrite"
            ).partitionBy("entry_bucket").parquet(entries_path)
            _BUILT_STORES.add(f"bench_hm_entries_{sf_tag}_{tag}")
        batch = hm.filter(F.col("blockNumber") > cut)
        counts = incremental_entries_update(
            spark, entries_path, hm, touched_namehashes(batch)
        )
        return spark.createDataFrame([counts])

    def hm_incremental_bench(spark, sf_dir):
        return _hm_incremental_bench(spark, sf_dir, 0.95, "p95")

    # ---- the incremental-vs-refold CROSSOVER ----
    # The refold pays O(|log|) every run; incremental maintenance pays
    # O(batch + touched stored rows) — but Spark's per-action floor
    # (planning + stage scheduling) is seconds, so at sf0.1's 100k-event
    # log a 2-action refold simply cannot lose to ANY multi-action
    # incremental plan (measured: refold ~4.5 s, best incremental
    # ~4.9 s; the restricted replay additionally scans 26-62% of the
    # log because hot parent keys appear in every batch's write set).
    # The crossover lives where history outgrows the floor, so the
    # bench demonstrates the SLOPES honestly: the same 0.5% batch is
    # applied against a 4x-history log — the refold's cost ~4x-es
    # while the TRUE delta path (incremental_entries_delta: batch-only
    # fold + associative merge with stored rows, NO history replay —
    # its cost does not reference history length at all) stays flat.

    def _hm_logx(spark, sf_dir, mult):
        """The 1x log plus (mult-1) block-shifted copies BELOW it —
        same keyspace, mult-x-longer per-key histories (what a mature
        chain looks like vs the fixture's young one). Shifts keep
        every batch block above every history block, so the
        append-only contract the delta merge requires still holds."""
        from pyspark.sql import functions as F

        from hypermap_etl_spark.plans.hm_derive import hm_events_df

        key = f"hm_log{mult}"
        if key in _BUILT_VALS:
            return _BUILT_VALS[key]
        hm = hm_events_df(spark, sf_dir)
        r = hm.agg(
            F.min("blockNumber").alias("lo"), F.max("blockNumber").alias("hi")
        ).collect()[0]
        span = int(r["hi"] - r["lo"] + 1)
        out = hm
        for i in range(1, mult):
            out = out.unionByName(
                hm.withColumn(
                    "blockNumber", F.col("blockNumber") - F.lit(i * span)
                )
            )
        # cached: the refold comparator references the log from the
        # fold's aggregate branches — a nightly job reads a stored
        # table, not a mult-x re-derivation, so the fair comparator
        # folds cached rows. COALESCE before caching: the union of
        # mult block-shifted copies inherits
        # mult x 32 scan partitions (2048 at 64x, ~0.9 MB each) — every
        # downstream scan then pays thousands of near-empty tasks,
        # which dominated the 64x refold (stage profile: 6 scans x 2048
        # tasks ~ 48 s of its 59 s). A stored table of this size would
        # be read at ~32-128 MB/partition; coalesce to the equivalent
        # partition count (floor of one per core so every core still
        # participates). Measured: 64x refold 57-62 s -> 14-17 s from
        # this alone, identical rows.
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        out = out.coalesce(max(cpus, mult))
        out = out.cache()
        out.count()
        _BUILT_VALS[key] = out
        return out

    def _hm_log4(spark, sf_dir):
        return _hm_logx(spark, sf_dir, 4)

    def _hmx_setup(spark, sf_dir, mult):
        """One-time: the mult-x-history base entries table (a real lake
        amortizes this across every batch) + the cut the 0.5% batch
        hangs off. Returns (entries_path, cut)."""
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from hypermap_etl_spark.operators.materialize import (
            materialize_entries,
            with_entry_bucket,
        )
        from hypermap_etl_spark.plans.hm_derive import hm_events_df

        sf_tag = os.path.basename(sf_dir.rstrip("/"))
        path = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_bench_entries{mult}_{sf_tag}",
        )
        if f"hm{mult}_{sf_tag}" not in _BUILT_STORES:
            if "hmx_cut" not in _BUILT_VALS:
                hm = hm_events_df(spark, sf_dir)
                _BUILT_VALS["hmx_cut"] = hm.agg(
                    F.expr("percentile_approx(blockNumber, 0.995)").alias("c")
                ).collect()[0]["c"]
            cut = _BUILT_VALS["hmx_cut"]
            shutil.rmtree(path, ignore_errors=True)
            base = with_entry_bucket(
                materialize_entries(
                    _hm_logx(spark, sf_dir, mult).filter(
                        F.col("blockNumber") <= cut
                    )
                )
            )
            base.repartition("entry_bucket").write.mode(
                "overwrite"
            ).partitionBy("entry_bucket").parquet(path)
            _BUILT_STORES.add(f"hm{mult}_{sf_tag}")
        return path, _BUILT_VALS["hmx_cut"]

    def _hm_incremental_small(spark, sf_dir, mult):
        """0.5%-of-blocks batch upsert into the standing mult-x-history
        entries table via the DELTA path — must beat the same-history
        refold, the nightly recompute it replaces, and stay FLAT as
        mult grows (its plan never references history length)."""
        from pyspark.sql import functions as F

        from hypermap_etl_spark.operators.materialize import (
            incremental_entries_delta,
        )
        from hypermap_etl_spark.plans.hm_derive import hm_events_df

        path, cut = _hmx_setup(spark, sf_dir, mult)
        batch = hm_events_df(spark, sf_dir).filter(F.col("blockNumber") > cut)
        counts = incremental_entries_delta(spark, path, batch)
        return spark.createDataFrame([counts])

    def hm_incremental_small_bench(spark, sf_dir):
        return _hm_incremental_small(spark, sf_dir, 4)

    def hm_incremental_small_16x_bench(spark, sf_dir):
        return _hm_incremental_small(spark, sf_dir, 16)

    def _hm_refold_write_x(spark, sf_dir, mult):
        """The comparator: full M1-M9 refold over the mult-x history
        plus the full bucketed table write — what a nightly recompute
        pays per run, however small the day's delta."""
        import shutil
        import tempfile

        from hypermap_etl_spark.operators.materialize import (
            materialize_entries,
            with_entry_bucket,
        )

        out = os.path.join(
            tempfile.gettempdir(), f"spark_graft_bench_refold{mult}"
        )
        shutil.rmtree(out, ignore_errors=True)
        full = with_entry_bucket(materialize_entries(_hm_logx(spark, sf_dir, mult)))
        full.repartition("entry_bucket").write.mode("overwrite").partitionBy(
            "entry_bucket"
        ).parquet(out)
        return spark.read.parquet(out)

    def hm_refold_write_4x(spark, sf_dir):
        return _hm_refold_write_x(spark, sf_dir, 4)

    def hm_refold_write_16x(spark, sf_dir):
        return _hm_refold_write_x(spark, sf_dir, 16)

    def hm_refold_write_64x(spark, sf_dir):
        return _hm_refold_write_x(spark, sf_dir, 64)

    def hm_incremental_small_64x_bench(spark, sf_dir):
        return _hm_incremental_small(spark, sf_dir, 64)

    def hm_refold_write(spark, sf_dir):
        """The 1x-history refold+write — the floor the incremental
        paths cannot beat at fixture scale (documented above); its gap
        to hm_refold_write_4x is the O(|log|) slope the delta path
        escapes."""
        import shutil
        import tempfile

        from hypermap_etl_spark.operators.materialize import (
            materialize_entries,
            with_entry_bucket,
        )
        from hypermap_etl_spark.plans.hm_derive import hm_events_df

        out = os.path.join(tempfile.gettempdir(), "spark_graft_bench_refold")
        shutil.rmtree(out, ignore_errors=True)
        full = with_entry_bucket(materialize_entries(hm_events_df(spark, sf_dir)))
        full.repartition("entry_bucket").write.mode("overwrite").partitionBy(
            "entry_bucket"
        ).parquet(out)
        return spark.read.parquet(out)

    def ivf_build_bench(spark, sf_dir):
        """Full IVF index (re)build over 95% of the embeddings — the
        rebuild cost that ivf_append must beat. Static overwrite, so
        each timed run pays the whole corpus pass + list write."""
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from hypermap_etl_spark.operators import similarity
        from hypermap_etl_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") % 20 != 0)
        loc = os.path.join(tempfile.gettempdir(), "spark_graft_bench_ivf")
        shutil.rmtree(loc, ignore_errors=True)
        similarity.ivf_index_write(base, loc, n_centroids=8)
        _BUILT_STORES.add("bench_ivf_index")
        return similarity.ivf_index_stats(spark, loc)

    def ivf_append_bench(spark, sf_dir):
        """Index maintenance: absorb the held-out 5%
        batch against the standing index's PINNED centroids — O(batch)
        assignment, appends only touched cid= directories. Must be
        well under ivf_build — that gap IS the add-vs-train contract
        (recall after append is driver-gated by emb_ivf_index_recall's
        stack; serveability is timed separately by ivf_serve)."""
        import tempfile

        from pyspark.sql import functions as F

        from hypermap_etl_spark.operators import similarity
        from hypermap_etl_spark.sources.tables import load_table

        assert "bench_ivf_index" in _BUILT_STORES, "ivf_build runs first"
        loc = os.path.join(tempfile.gettempdir(), "spark_graft_bench_ivf")
        emb = load_table(spark, sf_dir, "embeddings")
        batch = emb.filter(F.col("vec_id") % 20 == 0)
        rep = similarity.ivf_index_append(batch, loc)
        # operational practice (the ivf_serve watch item): the
        # append tail accumulates one file set per touched list per
        # batch — compaction after the append keeps the probed-list
        # scan flat, so ivf_serve times the index a maintained
        # deployment actually serves (results are bit-identical,
        # pinned by test_ivf_compact_preserves_results)
        comp = similarity.ivf_index_compact(spark, loc)
        return spark.createDataFrame(
            [(rep["appended"], rep["listsTouched"], comp["files_after"])],
            "appended long, lists_touched long, files_after long",
        )

    def ivf_serve_bench(spark, sf_dir):
        """Query batch against the post-append standing index: probe
        selection on the model-sized centroid table, list scan pruned
        to the probed cid= directories."""
        import tempfile

        from pyspark.sql import functions as F

        from hypermap_etl_spark.operators import similarity
        from hypermap_etl_spark.sources.tables import load_table

        loc = os.path.join(tempfile.gettempdir(), "spark_graft_bench_ivf")
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") % 100 == 7)
        return similarity.ivf_index_search(spark, loc, queries, k=5, n_probe=2)

    bench = {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_region_revenue": q5_region_revenue,
        "events_sessions": events_sessions,
        "hm_decode_roundtrip": hm_decode_roundtrip,
        "hm_entries": hm_entries,
        "doc_minhash_pairs": doc_minhash_pairs,
        "emb_ann_topk": emb_ann_topk,
        # the hostile-depth paginate (page beyond util.MAX_HEAP_TOP
        # takes the spillable global-window fallback, not per-partition
        # heaps) gets a wall-time number so it can't regress silently
        "events_page_deep": events_page_deep,
        "incremental_dedup": incremental_dedup_bench,
        "curate_pipeline": curate_pipeline_bench,
        # this session: the distributed total-order rank (range shuffle
        # + partitioned windows, never a single-task sort) under its
        # production consumer, token-balanced sharding
        "balanced_shards": doc_balanced_shards,
        # three subsystems get wall-time numbers — the exact
        # weighted quantile over the big fact (distinct-value windows),
        # the pure-HOF content-defined chunking corpus pass, and the
        # prefix-filtered exact similarity join
        "weighted_median": lineitem_weighted_median,
        "cdc_dedup": doc_cdc_dedup,
        "prefix_pairs": doc_prefix_pairs,
        # hybrid retrieval (BM25 leg + hash-embed
        # cosine leg fused by RRF) — two corpus scans, two top-k legs,
        # fusion on ≤2·k_leg rows
        "hybrid_rrf": doc_hybrid_rrf,
        # index maintenance — full rebuild vs O(batch) append+serve
        # (ivf_build MUST precede ivf_append: the append hits the
        # standing index the build entry wrote)
        "ivf_build": ivf_build_bench,
        "ivf_append": ivf_append_bench,
        "ivf_serve": ivf_serve_bench,
        # the reference's CORE LOOP at bench scale —
        # incremental entries maintenance: a 5%-of-blocks batch lands
        # on a standing bucketed entries table; work is O(touched
        # entries' events), never a full refold. First call builds the
        # base table (a real lake amortizes it); best-of-N reports
        # the steady-state batch upsert.
        "hm_incremental": hm_incremental_bench,
        # the crossover demonstration — the
        # 0.5% batch vs the nightly full refold+write it must beat
        "hm_incremental_small": hm_incremental_small_bench,
        "hm_refold_write_4x": hm_refold_write_4x,
        "hm_refold_write": hm_refold_write,
        # the third crossover point — 16x
        # history. The refold's cost keeps growing with |log| while the
        # SAME 0.5% delta batch stays flat (its plan never references
        # history length); three points make the flat-vs-linear
        # separation a curve, not a two-point claim.
        "hm_refold_write_16x": hm_refold_write_16x,
        "hm_incremental_small_16x": hm_incremental_small_16x_bench,
        # the fourth crossover point — 64x
        # history makes the refold-linear / delta-flat claim
        # unambiguous: the refold control arm is now ~an order of
        # magnitude past the delta's flat line, far outside any
        # host-steal band. The refold runs ONCE (its cost is the
        # point; minutes-scale, so best-of-N would double bench wall
        # time for nothing), the delta runs 3x as usual (run 1 builds
        # the one-time 64x base table the steady state amortizes).
        "hm_refold_write_64x": hm_refold_write_64x,
        "hm_incremental_small_64x": hm_incremental_small_64x_bench,
        # the iterative-loop graph family gets
        # wall-time numbers — multi-source BFS (fixpoint early exit)
        # and deterministic LPA (fixed 4 rounds), both the
        # localCheckpoint/release loop discipline over the
        # repeat-co-purchase graph
        "seed_distance": parts_seed_distance,
        "lpa_communities": parts_copurchase_lpa,
        # the permutation stack at fact scale — a
        # x200 map-side replicate expansion folded BEFORE the shuffle
        # (the exchange carries groups*200 rows, not corpus*200),
        # then the integer-exact BH epilogue on |groups| rows
        "permutation_fdr": events_fdr_bh,
        # candidate generation for link prediction —
        # the degree-capped wedge self-join + anti-join against the
        # edge set (the quadratic-hub trap, capped)
        "link_prediction": parts_link_prediction,
        # ALL nine exact deciles of the big fact in
        # one running-sum pass (distinct-value collapse + range
        # shuffle + bounded q-explode) — the grouped quantile table
        "quantile_table": lineitem_price_deciles,
    }
    return bench


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    bench = build_bench()

    spark = get_spark("hypermap-etl-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + parquet footers once so timings measure the queries
    bench["q1_pricing_summary"](spark, sf_dir).count()

    # Entry ORDER is pinned: `bench` is an insertion-ordered dict and
    # nothing may iterate it in any other order — reordering once
    # caused +26..58% swings on UNTOUCHED composites when new entries shifted
    # their position in the session (GC/page-cache state differs by
    # position), which drowns real regressions.

    from hypermap_etl_spark.util import release_persisted

    # the JSON carries EVERY repeat's timing per
    # entry ("runs"), not just the winner — the microVM shows 2-4x
    # host-steal swings on identical code, and a future reader needs
    # the dispersion to separate regression from steal. "queries" stays
    # best-of-N for round-over-round comparability.
    timings: dict[str, float] = {}
    runs_all: dict[str, list[float]] = {}
    for name, fn in bench.items():
        runs: list[float] = []
        n = 0
        for _ in range(
            1 if name in _RUNS_1 else 3 if name in _RUNS_3 else 2
        ):
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            runs.append(round(time.perf_counter() - t0, 3))
        # release operator-persisted frames between queries so one
        # query's cache never skews (or starves) the next; within a
        # query the later runs legitimately reuse the cache (warm run)
        release_persisted()
        timings[name] = min(runs)
        runs_all[name] = runs
        print(
            f"# {name}: {timings[name]:.3f}s ({n} rows) runs={runs}",
            flush=True,
        )

    # the full runs arrays made the one-line JSON large enough that a
    # truncated capture nulled a whole before/after PERF comparison. The dispersion evidence still prints — one
    # "# name: ... runs=[...]" line per entry above, and as a compact
    # separate line here — but the CONTRACT line carries only
    # queries/value/core8/sf (~1.5 KB), so truncation can't eat it.
    # Timing methodology, entries and best-of-N selection unchanged.
    print("# runs " + json.dumps(runs_all), flush=True)
    total = round(sum(timings.values()), 3)
    # core8 keeps its original membership for round-over-round
    # comparability — an EXPLICIT include list, so adding a headliner
    # can never silently inflate the core total (an exclusion list
    # once did exactly that)
    _CORE8 = (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "events_sessions",
        "hm_decode_roundtrip",
        "hm_entries",
        "doc_minhash_pairs",
        "emb_ann_topk",
    )
    core8 = round(sum(timings[k] for k in _CORE8), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "core8_total": core8,
                "sf": sf,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
