"""CLI parity with the reference's npm scripts (package.json:10-14):

  extract  ≙ npm run extract-events  (scripts/extract-events.ts)
  index    ≙ npm run index-events    (scripts/index-events.ts)
  scan     ≙ npm run scan-events     (scripts/scan-events.ts, --print)
  status   ≙ npm run status          (scripts/status.ts)
  events   ≙ the /events page query  (src/app/events/actions.ts)
  stream   ≙ continuous mode         (scan-events follow loop)

Raw logs come from a parquet directory instead of eth_getLogs (live RPC
ingestion is out of engine scope — SURVEY.md §2.1 S1); everything after
the source is the same pipeline the reference runs, on Spark.

Usage: python -m hypermap_etl_spark <cmd> [args]
"""

from __future__ import annotations

import argparse
import json
import sys

import pandas as pd
from pyspark.sql import functions as F


def _spark(args):
    from hypermap_etl_spark.session import get_spark

    return get_spark(f"hypermap-etl-{args.cmd}")


def cmd_extract(args) -> None:
    """Decode + enrich + idempotent MERGE into the block-bucketed events
    table; per-type count report (extract-events.ts:336-355 shape)."""
    from hypermap_etl_spark.operators.decode import decode_raw_logs
    from hypermap_etl_spark.operators.enrich import enrich_timestamps
    from hypermap_etl_spark.operators.merge import merge_into_parquet, with_block_bucket
    from hypermap_etl_spark.sources.raw_logs import read_raw_logs

    spark = _spark(args)
    raw = read_raw_logs(spark, args.raw, from_block=args.from_block,
                        to_block=args.to_block, fmt=args.raw_format)
    # persist: the skipped count, per-type counts, and the MERGE's
    # internal actions would each re-run the decode otherwise
    decoded = decode_raw_logs(raw).persist()
    try:
        events = decoded.filter(F.col("eventType").isNotNull())
        skipped = decoded.filter(F.col("eventType").isNull()).count()
        if args.blocks:
            events = enrich_timestamps(events, spark.read.parquet(args.blocks))
        counts = {r["eventType"]: r["count"]
                  for r in events.groupBy("eventType").count().collect()}
        res = merge_into_parquet(spark, args.table, with_block_bucket(events),
                                 ["event_id"], partition_col="block_bucket")
    finally:
        decoded.unpersist()
    print(json.dumps({"counts": counts, "skipped": skipped, **res}))


def cmd_index(args) -> None:
    """extract + entries materialization (index-events.ts flow), in the
    layout the stream maintains."""
    cmd_extract(args)
    from hypermap_etl_spark.operators.materialize import (
        _read_entries,
        materialize_entries,
        with_entry_bucket,
    )
    from hypermap_etl_spark.session import get_spark

    spark = get_spark("hypermap-etl-index")
    entries = with_entry_bucket(materialize_entries(spark.read.parquet(args.table)))
    entries.write.mode("overwrite").partitionBy("entry_bucket").parquet(args.entries)
    print(json.dumps({"entries": _read_entries(spark, args.entries).count()}))


def cmd_scan(args) -> None:
    """Dry-run: decode + count only, store nothing (scan-events --print,
    console sink S8)."""
    from hypermap_etl_spark.operators.decode import decode_raw_logs
    from hypermap_etl_spark.sources.raw_logs import read_raw_logs

    spark = _spark(args)
    raw = read_raw_logs(spark, args.raw, from_block=args.from_block,
                        to_block=args.to_block, fmt=args.raw_format)
    decoded = decode_raw_logs(raw)
    counts = (
        decoded.filter(F.col("eventType").isNotNull())
        .groupBy("eventType")
        .count()
        .orderBy(F.desc("count"))
        .collect()
    )
    total = sum(r["count"] for r in counts)
    for r in counts:
        pct = round(r["count"] * 100.0 / total) if total else 0
        print(f"{r['eventType']:>10}: {r['count']:>8}  ({pct}%)")
    print(f"{'TOTAL':>10}: {total:>8}")


def cmd_status(args) -> None:
    """A1-A7 status report (status.ts / getStatus shape)."""
    from hypermap_etl_spark.plans.serving import get_status

    spark = _spark(args)
    events = spark.read.parquet(args.table)
    st = get_status(events)
    if st["lastBlockTimestamp"] is not None:
        now = spark.sql("SELECT unix_timestamp(current_timestamp()) AS t").collect()[0]["t"]
        st["hoursSinceLastBlock"] = round((now - st["lastBlockTimestamp"]) / 3600)
    print(json.dumps(st))


def cmd_events(args) -> None:
    """Filtered/sorted/paginated event listing (getEvents shape)."""
    from hypermap_etl_spark.plans.serving import count_events, get_events

    spark = _spark(args)
    events = spark.read.parquet(args.table)
    page = get_events(events, args.type, args.start_date, args.page, args.limit)
    total = count_events(events, args.type, args.start_date)
    rows = [
        {k: v for k, v in r.asDict().items() if v is not None} for r in page.collect()
    ]
    print(json.dumps({"events": rows, "totalCount": total}))


def cmd_sql(args) -> None:
    """Ad-hoc SQL over the star tables (plus the derived hypermap event
    view as `hm_events`) — the analytics-engine front door; rows print
    as JSON lines (capped by --limit)."""
    from hypermap_etl_spark.plans.hm_derive import hm_events_df
    from hypermap_etl_spark.sources.tables import register_views

    spark = _spark(args)
    register_views(spark, args.data)
    hm_events_df(spark, args.data).createOrReplaceTempView("hm_events")
    df = spark.sql(args.query).limit(args.limit)
    if args.explain:
        # plan-first workflow: inspect pushdown/broadcasts/codegen spans
        # before paying for execution
        df.explain(mode=args.explain)
        return
    for row in df.toJSON().collect():
        print(row)


def cmd_search(args) -> None:
    """Full-text search over a documents parquet — retrieval as
    relational algebra (operators/textstats.bm25_search); results print
    as JSON lines with scores. ``--hybrid`` fuses the BM25 leg with the
    hash-embedding cosine leg by reciprocal rank fusion."""
    from hypermap_etl_spark.operators.textstats import (
        bm25_search,
        bm25_snippets,
        hybrid_rrf_search,
    )

    if args.hybrid and args.snippets:
        raise SystemExit(
            "search: --hybrid and --snippets are mutually exclusive "
            "(snippets are a BM25-leg rendering)"
        )
    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    if args.hybrid:
        hits = hybrid_rrf_search(docs, args.query.split(), k=args.k)
        if args.show_text:
            hits = hits.join(docs.select("doc_id", "text"), "doc_id").orderBy(
                F.desc("rrf_score"), F.asc("doc_id")
            )
    elif args.snippets:
        hits = bm25_snippets(docs, args.query.split(), k=args.k)
    else:
        hits = bm25_search(docs, args.query.split(), k=args.k)
        if args.show_text:
            hits = hits.join(docs.select("doc_id", "text"), "doc_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
    for row in hits.toJSON().collect():
        print(row)


def cmd_layout(args) -> None:
    """Rewrite a parquet table clustered on the given columns so file
    and row-group min/max stats prune scans (sources/layout). Prints
    the per-file stat ranges and the point-lookup pruning factor for
    the lead column."""
    from hypermap_etl_spark.sources.layout import (
        file_stats,
        pruning_factor,
        write_clustered,
        write_zordered,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    cols = [c.strip() for c in args.cluster_by.split(",")]
    if args.zorder:
        write_zordered(df, args.out, cols, n_files=args.files)
    else:
        write_clustered(df, args.out, cols, n_files=args.files)
    print(
        json.dumps(
            {
                "files": [
                    {"file": f, "min": str(lo), "max": str(hi)}
                    for f, lo, hi in file_stats(args.out, cols[0])
                ],
                "pruning_factor": (
                    round(pf, 4)
                    if (pf := pruning_factor(args.out, cols[0])) is not None
                    else None  # non-numeric lead column: span undefined
                ),
            }
        )
    )


def cmd_bpe(args) -> None:
    """Train BPE merges over a documents parquet (one distributed
    word-frequency aggregate + driver merge loop, operators/bpe.py),
    write the ordered merge table, optionally segment the corpus with
    the trained merges, and print a JSON training report."""
    from hypermap_etl_spark.operators.bpe import bpe_segment, bpe_train

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    if args.algo == "unigram":
        from hypermap_etl_spark.operators.unigram import (
            unigram_segment,
            unigram_train,
        )

        pieces, pieces_df = unigram_train(
            docs, vocab_size=args.vocab_size, max_words=args.max_words
        )
        pieces_df.coalesce(1).write.mode("overwrite").parquet(args.out)
        rep = {
            "algo": "unigram",
            "vocab": len(pieces),
            "multi_char_pieces": sum(1 for p in pieces if len(p) > 1),
        }
        if args.segmented:
            seg = unigram_segment(docs, pieces)
            seg.write.mode("overwrite").parquet(args.segmented)
            stats = spark.read.parquet(args.segmented).agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_pieces").alias("total_tokens"),
            ).collect()[0]
            rep["segmented_docs"] = stats["docs"]
            rep["total_tokens"] = stats["total_tokens"]
        print(json.dumps(rep))
        return
    merges, merges_df = bpe_train(
        docs,
        n_merges=args.merges,
        min_pair_count=args.min_pair_count,
        max_words=args.max_words,
    )
    merges_df.coalesce(1).write.mode("overwrite").parquet(args.out)
    rep = {
        "merges": len(merges),
        "first_merge": list(merges[0][:2]) if merges else None,
        "last_pair_count": merges[-1][2] if merges else None,
    }
    if args.segmented:
        seg = bpe_segment(docs, merges)
        seg.write.mode("overwrite").parquet(args.segmented)
        stats = spark.read.parquet(args.segmented).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_bpe_tokens").alias("total_tokens"),
        ).collect()[0]
        rep["segmented_docs"] = stats["docs"]
        rep["total_tokens"] = stats["total_tokens"]
    print(json.dumps(rep))


def cmd_dsir(args) -> None:
    """DSIR importance weights of every doc in --docs toward the
    --target corpus (curation.dsir_weights); writes a parquet of
    (doc_id, n_feats, dsir_weight) and prints summary stats."""
    from hypermap_etl_spark.operators.curation import dsir_weights

    spark = _spark(args)
    raw = spark.read.parquet(args.docs).select("doc_id", "text")
    target = spark.read.parquet(args.target).select("doc_id", "text")
    w = dsir_weights(raw, target, n_buckets=args.buckets)
    w.write.mode("overwrite").parquet(args.out)
    # summarize from the (few-KB) written result, not from `w` — whose
    # lineage would re-run both corpus scans a second time
    w = spark.read.parquet(args.out)
    stats = w.agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.min("dsir_weight"), 4).alias("min"),
        F.round(F.avg("dsir_weight"), 4).alias("mean"),
        F.round(F.max("dsir_weight"), 4).alias("max"),
    ).collect()[0]
    print(json.dumps(stats.asDict()))


def _train_reference_model(raw, ref, dim: int, max_iter: int = 50) -> dict:
    """Shared CCNet-style trainer for `quality` and `curate
    --model-reference`: reference docs labeled 1, a deterministic
    md5 sample of the raw corpus (sized to the reference) labeled 0;
    ids prefixed into one namespace so the corpora can overlap.
    Returns the plain-data model dict plus the sampled counts."""
    from hypermap_etl_spark.operators.quality_model import (
        train_quality_classifier,
    )

    n_ref, n_raw = ref.count(), raw.count()
    rate = min(1.0, n_ref / max(n_raw, 1))
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(1 << 32))
    )
    neg = raw.filter(frac < rate).select(
        F.concat(F.lit("n"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
        F.lit(0).alias("label"),
    )
    pos = ref.select(
        F.concat(F.lit("p"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
        F.lit(1).alias("label"),
    )
    n_neg = neg.count()
    model = train_quality_classifier(
        pos.unionByName(neg), dim=dim, max_iter=max_iter
    )
    model["n_reference"], model["n_negative_sampled"] = n_ref, n_neg
    return model


def cmd_quality(args) -> None:
    """CCNet-style trained quality filter (operators/quality_model):
    label --reference docs positive and a deterministic equal-size md5
    sample of --docs negative, fit the hash-embed linear classifier,
    score EVERY --docs row with the pure-expression serving path;
    writes (doc_id, score) parquet and prints summary stats (plus the
    would-be-kept count when --threshold is given)."""
    from hypermap_etl_spark.operators.quality_model import score_linear

    spark = _spark(args)
    raw = spark.read.parquet(args.docs).select("doc_id", "text")
    ref = spark.read.parquet(args.reference).select("doc_id", "text")
    model = _train_reference_model(raw, ref, dim=args.dim, max_iter=args.max_iter)
    scored = score_linear(raw, model["weights"], model["bias"])
    scored.write.mode("overwrite").parquet(args.out)
    scored = spark.read.parquet(args.out)
    aggs = [
        F.count(F.lit(1)).alias("docs"),
        F.round(F.min("score"), 4).alias("min"),
        F.round(F.avg("score"), 4).alias("mean"),
        F.round(F.max("score"), 4).alias("max"),
    ]
    if args.threshold is not None:
        aggs.append(
            F.sum((F.col("score") >= args.threshold).cast("long")).alias("kept")
        )
    out = scored.agg(*aggs).collect()[0].asDict()
    out["n_reference"] = model["n_reference"]
    out["n_negative_sampled"] = model["n_negative_sampled"]
    print(json.dumps(out))


def cmd_calibrate(args) -> None:
    """Reliability diagram + ECE over a scored parquet
    (quality_model.calibration_report): one JSON line per non-empty
    score bin, then a summary line with the ECE — the check that a
    quality filter's probabilities MEAN something before its threshold
    sweeps are trusted."""
    from hypermap_etl_spark.operators.quality_model import calibration_report

    spark = _spark(args)
    scored = spark.read.parquet(args.scored)
    rep = calibration_report(
        scored,
        n_bins=args.bins,
        score_col=args.score_col,
        label_col=args.label_col,
    ).collect()
    for r in rep:
        print(json.dumps(r.asDict()))
    print(json.dumps({"ece": round(sum(r["ece_term"] for r in rep), 6)}))


def cmd_eval(args) -> None:
    """Full filter-eval card over a scored parquet — one JSON line:
    ROC AUC (quality_model.roc_auc), ECE (calibration_report), and the
    best-F1 operating point from the precision/recall threshold sweep
    (pr_threshold_sweep) — the three questions asked of a quality
    model before it gates a corpus: does it rank, is it calibrated,
    where do we cut. All three run in the one Spark session; each is
    aggregate-shaped, nothing corpus-sized reaches the driver."""
    from hypermap_etl_spark.operators.quality_model import (
        brier_score,
        calibration_report,
        pr_threshold_sweep,
        roc_auc,
    )

    spark = _spark(args)
    scored = spark.read.parquet(args.scored)
    kw = {"score_col": args.score_col, "label_col": args.label_col}
    auc_rows = roc_auc(scored, **kw).collect()
    auc = auc_rows[0].asDict() if auc_rows else {
        "n_pos": 0, "n_neg": 0, "auc": None
    }
    cal = calibration_report(scored, n_bins=args.bins, **kw).collect()
    br = brier_score(
        scored.select(
            F.round(F.col(args.score_col), 6).alias(args.score_col),
            args.label_col,
        ),
        **kw,
    ).collect()
    sweep = pr_threshold_sweep(scored, n_steps=args.steps, **kw).collect()
    lift_rows = None
    if args.lift_bands:
        from hypermap_etl_spark.operators.quality_model import lift_table

        if args.lift_bands < 2:
            raise SystemExit(
                f"--lift-bands must be >= 2, got {args.lift_bands}"
            )
        if args.id_col not in scored.columns:
            raise SystemExit(f"column not in table: {args.id_col}")
        lift_rows = [
            {
                "band": r["band"],
                "lift": r["lift"],
                "cum_gain": r["cum_gain"],
                "cum_lift": r["cum_lift"],
            }
            for r in lift_table(
                scored,
                score_col=args.score_col,
                label_col=args.label_col,
                id_col=args.id_col,
                n_bands=args.lift_bands,
            ).collect()
        ]
    best = max(
        (r for r in sweep if r["f1"] is not None),
        key=lambda r: (r["f1"], r["threshold"]),
        default=None,
    )
    print(
        json.dumps(
            {
                "n_pos": auc["n_pos"],
                "n_neg": auc["n_neg"],
                "auc": auc["auc"],
                "ece": round(sum(r["ece_term"] for r in cal), 6),
                "brier": br[0]["brier"] if br else None,
                "best_f1": None if best is None else {
                    "threshold": best["threshold"],
                    "precision": best["precision"],
                    "recall": best["recall"],
                    "f1": best["f1"],
                },
                "n_thresholds": len(sweep),
                **({"lift": lift_rows} if lift_rows is not None else {}),
            }
        )
    )


def cmd_dedup_index(args) -> None:
    """Incremental-dedup signature store: `--build` appends a docs
    parquet's MinHash band buckets to the bucketed store table;
    otherwise checks a batch parquet against the store (+ the corpus
    parquet for exact verification), writes the near-dup pairs parquet,
    and prints summary counts. The check does NOT append — run --build
    on the surviving batch afterwards (the store must never contain the
    batch being checked)."""
    from hypermap_etl_spark.operators import dedup

    if not args.build and not args.compact and not (args.batch and args.out):
        raise SystemExit("dedup-index check requires --batch and --out")
    spark = _spark(args)
    if args.compact:
        print(json.dumps(dedup.signature_store_compact(spark, args.store)))
        return
    if not args.docs:
        raise SystemExit("dedup-index build/check requires --docs")
    if args.build:
        docs = spark.read.parquet(args.docs).select("doc_id", "text")
        dedup.signature_store_append(docs, args.store, path=args.store_path)
        print(json.dumps({
            "store": args.store,
            "indexed_docs": docs.count(),
            "store_rows": spark.table(args.store).count(),
        }))
        return
    batch = spark.read.parquet(args.batch).select("doc_id", "text")
    corpus = spark.read.parquet(args.docs).select("doc_id", "text")
    pairs = dedup.incremental_minhash_pairs(
        batch, corpus, args.store, threshold=args.threshold
    )
    pairs.write.mode("overwrite").parquet(args.out)
    pairs = spark.read.parquet(args.out)
    from hypermap_etl_spark.util import release_persisted

    release_persisted()
    print(json.dumps({
        "batch_docs": batch.count(),
        "pairs": pairs.count(),
        "store_pairs": pairs.filter(F.col("src") == "store").count(),
        "batch_pairs": pairs.filter(F.col("src") == "batch").count(),
    }))


def cmd_embed(args) -> None:
    """Feature-hashing text embeddings (textstats.hash_embed): docs
    parquet → (vec_id, embedding) parquet — doc_id renamed to vec_id,
    the embeddings-table shape ann --build consumes directly — the
    model-free text→vector loop: curate → embed → ann --build →
    ann search / decontam --embeddings."""
    from hypermap_etl_spark.operators.textstats import hash_embed

    spark = _spark(args)
    docs = spark.read.parquet(args.docs).select("doc_id", "text")
    out = hash_embed(docs, dim=args.dim, ngrams=args.ngrams).withColumnRenamed(
        "doc_id", "vec_id"
    )
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({
        "docs": docs.count(),
        "dim": args.dim,
        "rows": spark.read.parquet(args.out).count(),
    }))


def cmd_ann(args) -> None:
    """Persisted ANN index (similarity.ivf_index_*). `--build` writes it
    from an embeddings parquet: centroids plus `--centroids`
    partition-pruned inverted lists of raw vectors, or of PQ codes with
    `--pq` (`--centroids 1` is a full-scan PQ index). `--append`,
    `--compact` and `--stats` maintain it; otherwise a query embeddings
    parquet is searched and (query_id, neighbor_id, sim, rank) written.
    Every call after the build reads the code type from the index.
    `--rescore-with` names a raw-vector parquet that re-ranks the top
    candidates exactly."""
    from hypermap_etl_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_compact,
        ivf_index_search,
        ivf_index_stats,
        ivf_index_write,
    )

    if args.pq and not args.build:
        raise SystemExit(
            "ann --pq applies to --build only: append, compact, stats and "
            "search read the code type from the index"
        )
    if (args.build or args.append) and not args.embeddings:
        raise SystemExit("ann --build/--append requires --embeddings")
    if not (args.build or args.append or args.stats or args.compact) and not (
        args.queries and args.out
    ):
        raise SystemExit("ann search requires --queries and --out")
    spark = _spark(args)
    if args.stats:
        for r in ivf_index_stats(spark, args.index).collect():
            print(json.dumps(r.asDict()))
        return
    if args.compact:
        print(json.dumps(ivf_index_compact(spark, args.index)))
        return
    if args.append:
        emb = spark.read.parquet(args.embeddings)
        rep = ivf_index_append(
            emb, args.index, vec_col=args.vec_col, id_col=args.id_col
        )
        print(json.dumps(rep))
        return
    if args.build:
        emb = spark.read.parquet(args.embeddings)
        ivf_index_write(
            emb, args.index, n_centroids=args.centroids,
            vec_col=args.vec_col, id_col=args.id_col,
            m=args.pq_m if args.pq else None, k_codes=args.pq_codes,
        )
        rep = {
            "built": args.index,
            # actual count: empty hash buckets can leave fewer than
            # the requested --centroids
            "centroids": spark.read.parquet(
                f"{args.index}/centroids.parquet"
            ).count(),
            "vectors": spark.read.parquet(f"{args.index}/lists").count(),
            "pq": bool(args.pq),
        }
        if args.pq:
            rep.update(subspaces=args.pq_m, codes=args.pq_codes)
        print(json.dumps(rep))
        return
    queries = spark.read.parquet(args.queries)
    rescore = spark.read.parquet(args.rescore_with) if args.rescore_with else None
    out = ivf_index_search(
        spark, args.index, queries, k=args.k, n_probe=args.probe,
        rescore_with=rescore, vec_col=args.vec_col, id_col=args.id_col,
    )
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({
        "queries": queries.count(),
        "results": spark.read.parquet(args.out).count(),
        "k": args.k, "probe": args.probe,
    }))


def cmd_decontam(args) -> None:
    """Benchmark decontamination report over --docs vs --bench:
    n-gram collision (curation.decontaminate, default 13-gram) and/or
    embedding-cosine (similarity.semantic_decontaminate when both
    --embeddings and --bench-embeddings are given). Writes a parquet of
    per-doc flags and prints summary counts."""
    from hypermap_etl_spark.operators.curation import decontaminate

    if bool(args.embeddings) != bool(args.bench_embeddings):
        raise SystemExit(
            "decontam: --embeddings and --bench-embeddings must be given "
            "together (half-specified would silently skip the semantic check)"
        )
    spark = _spark(args)
    train = spark.read.parquet(args.docs).select("doc_id", "text")
    bench = spark.read.parquet(args.bench).select("doc_id", "text")
    flags = decontaminate(train, bench, n=args.ngram)
    out = {"mode": "ngram", "n": args.ngram}
    if args.embeddings and args.bench_embeddings:
        from hypermap_etl_spark.operators.similarity import semantic_decontaminate

        emb = spark.read.parquet(args.embeddings)
        bemb = spark.read.parquet(args.bench_embeddings)
        sem = semantic_decontaminate(
            emb, bemb, threshold=args.cos_threshold, id_col="vec_id"
        ).select(
            F.col("vec_id").alias("doc_id"),
            "max_sim",
            F.col("contaminated").alias("__sem_hit"),
        )
        flags = (
            flags.withColumnRenamed("contaminated", "ngram_contaminated")
            .join(sem, "doc_id", "left")
            .select(
                "doc_id", "n_hits", "ngram_contaminated",
                F.coalesce("max_sim", F.lit(0.0)).alias("max_sim"),
                F.coalesce("__sem_hit", F.lit(False)).alias(
                    "semantic_contaminated"
                ),
            )
            .withColumn(
                "contaminated",
                F.col("ngram_contaminated") | F.col("semantic_contaminated"),
            )
        )
        out["mode"] = "ngram+semantic"
        out["cos_threshold"] = args.cos_threshold
    flags.write.mode("overwrite").parquet(args.out)
    flags = spark.read.parquet(args.out)
    out["docs"] = flags.count()
    out["contaminated"] = flags.filter(F.col("contaminated")).count()
    print(json.dumps(out))


def cmd_pca(args) -> None:
    """Fit a k-component PCA on an embeddings parquet (one corpus
    pass) and write the per-vector projections; prints the explained
    variances (similarity.pca_fit / pca_project)."""
    from hypermap_etl_spark.operators.similarity import pca_fit, pca_project

    spark = _spark(args)
    emb = spark.read.parquet(args.embeddings)
    comps, ev, mean = pca_fit(emb, k=args.k, vec_col=args.vec_col)
    proj = pca_project(emb, comps, mean, vec_col=args.vec_col, id_col=args.id_col)
    proj.write.mode("overwrite").parquet(args.out)
    print(json.dumps({
        "k": args.k,
        "explained_variance": [round(v, 6) for v in ev],
        "rows": spark.read.parquet(args.out).count(),
    }))


def cmd_reorg(args) -> None:
    """Chain-reorg recovery (operators/merge.reorg_rollback) on the
    tables `index` or `stream` wrote: truncate the indexed event log
    above the fork block — whole tail buckets drop as directories, one
    partition rewrite at most — and repair the derived entries table
    keyed on what the discarded events (or a previous interrupted run)
    touched. Prints one JSON report line."""
    from hypermap_etl_spark.operators.merge import reorg_rollback

    spark = _spark(args)
    rep = reorg_rollback(
        spark, args.table, args.fork_block, entries_path=args.entries
    )
    print(json.dumps(rep))


def cmd_compact(args) -> None:
    """Maintenance: collapse small-file partitions of a partitioned
    table that other writers append to (and optionally the hash-bucketed
    entries table and/or a side table like the key index) — see
    operators/merge.compact_partitions."""
    from hypermap_etl_spark.operators.merge import compact_partitions, compact_small_table

    if not args.table and not args.entries:
        raise SystemExit("compact: at least one of --table / --entries is required")
    spark = _spark(args)
    rep = {}
    sort_cols = (
        [c.strip() for c in args.sort_by.split(",")] if args.sort_by else None
    )

    # --sort-by applies to BOTH tables; a column present in only one
    # schema must not abort the second rewrite after the first table was
    # already rewritten (partial maintenance run) — skip it per-table
    # with a warning. But a column present in NO targeted table is a
    # typo: abort BEFORE any rewrite, so a misspelled --sort-by cannot
    # silently rewrite every partition unsorted (destroying the sort
    # clustering the option exists to maintain).
    targets = [p for p in (args.table, args.entries) if p]
    schemas = (
        {p: set(spark.read.parquet(p).columns) for p in targets}
        if sort_cols
        else {}
    )
    if sort_cols:
        nowhere = [
            c for c in sort_cols
            if not any(c in cols for cols in schemas.values())
        ]
        if nowhere:
            raise SystemExit(
                f"compact: sort column(s) {nowhere} exist in no targeted "
                f"table — aborting before any rewrite"
            )

    def _valid_sort_cols(path: str) -> list[str] | None:
        if not sort_cols:
            return None
        missing = [c for c in sort_cols if c not in schemas[path]]
        if missing:
            print(
                f"compact: skipping sort column(s) {missing} absent from "
                f"{path}", file=sys.stderr,
            )
        kept = [c for c in sort_cols if c in schemas[path]]
        return kept or None

    if args.table:
        rep = compact_partitions(
            spark, args.table, args.partition_col, max_files=args.max_files,
            sort_cols=_valid_sort_cols(args.table),
        )
    if args.entries:
        rep["entries"] = compact_partitions(
            spark, args.entries, "entry_bucket", max_files=args.max_files,
            sort_cols=_valid_sort_cols(args.entries),
        )
    if args.side_table:
        rep["side_table_rows"] = compact_small_table(spark, args.side_table)
    print(json.dumps(rep))


def cmd_stream(args) -> None:
    """Continuous ingest: catch-up then optional 30 s-interval tail
    (scan-events.ts:129,148-168). T5: prints a per-batch JSON progress
    line (rows merged, high-water block) plus an engine-level status
    line every --progress-interval seconds, parity with the reference's
    15 s status output (extract-events.ts:197-202).

    With --entries this is the continuous `index-events` mode: every
    micro-batch also incrementally updates the materialized entries
    (touched namehashes only: the delta merge when the source files are
    block-aligned, else a replay pruned by the key→bucket side index,
    picked at the first non-empty batch) with periodic entries-bucket
    compaction. Both tables have
    the layout `index` writes, so a stream can follow `index` on the
    same --table/--entries paths."""
    from hypermap_etl_spark.streaming.scan import start_index_stream, start_ingest_stream
    from hypermap_etl_spark.streaming.telemetry import (
        attach_progress_listener,
        progress_printer,
    )

    spark = _spark(args)
    attach_progress_listener(
        spark, printer=lambda line: print(line, flush=True),
        interval=args.progress_interval,
    )
    trigger = (
        {"availableNow": True}
        if args.once
        else {"processingTime": f"{args.interval} seconds"}
    )
    if args.entries:
        q = start_index_stream(
            spark, args.raw, args.table, args.entries, args.checkpoint, trigger,
            on_progress=progress_printer(),
        )
    else:
        q = start_ingest_stream(
            spark, args.raw, args.table, args.checkpoint, trigger,
            on_progress=progress_printer(),
        )
    q.awaitTermination(args.timeout if args.timeout else None)


def cmd_curate(args) -> None:
    """End-to-end training-corpus build (beyond-reference, north-star
    surface): quality filter → near-dup dedup → PII redact → split →
    chunk → pack → shard; writes documents.parquet + chunks.parquet and
    prints a per-stage JSON report."""
    import os

    from hypermap_etl_spark.operators.corpus import curate_pipeline

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    model_kwargs = {}
    if args.model_reference:
        # CCNet stage two, trained inline: reference docs = positives,
        # a deterministic md5 sample of the corpus = negatives
        ref = spark.read.parquet(args.model_reference).select("doc_id", "text")
        model = _train_reference_model(
            docs.select("doc_id", "text"), ref, dim=args.model_dim
        )
        model_kwargs = {
            "model_weights": model["weights"],
            "model_bias": model["bias"],
            "model_threshold": args.model_threshold,
        }
    # strip_boiler mines per-source recurrence, so the source column
    # must ride along; every other stage works on (doc_id, text)
    in_cols = ["doc_id", "text"] + (
        ["source"] if args.strip_boiler and "source" in docs.columns else []
    )
    documents, chunks, report = curate_pipeline(
        docs.select(*in_cols),
        dedup_threshold=args.threshold,
        min_words=args.min_words,
        lang=args.lang,
        redact=not args.no_redact,
        n_shards=args.shards,
        cut_dup_spans=args.cut_dup_spans,
        span_grain=args.span_grain,
        normalize=args.normalize,
        c4=args.c4_clean,
        html=args.html,
        gopher=args.gopher,
        strip_boiler=args.strip_boiler,
        strict_packing=args.strict_packing,
        balanced_sharding=args.balanced_shards,
        **model_kwargs,
    )
    if args.format == "jsonl":
        # training-export layout: one JSONL dir per shard (the layout a
        # loader streams directly), sharded by the deterministic md5
        # shard assignment
        (documents.write.mode("overwrite").partitionBy("shard")
         .json(os.path.join(args.out, "documents.jsonl")))
        (chunks.write.mode("overwrite").partitionBy("shard")
         .json(os.path.join(args.out, "chunks.jsonl")))
    elif args.format == "orc":
        from hypermap_etl_spark.sources.orc import write_orc

        write_orc(documents, os.path.join(args.out, "documents.orc"),
                  partition_by=["shard"])
        write_orc(chunks, os.path.join(args.out, "chunks.orc"),
                  partition_by=["shard"])
    else:
        documents.write.mode("overwrite").parquet(os.path.join(args.out, "documents.parquet"))
        chunks.write.mode("overwrite").parquet(os.path.join(args.out, "chunks.parquet"))
    print(json.dumps(report))


def cmd_manifest(args) -> None:
    """Manifest-committed tables (sources/manifest.py — the
    object-store-safe commit protocol: no data renames, readers
    resolve a manifest, never list): publish/merge/read-count/status/
    rollback/vacuum, and diff two versions with the fingerprint screen
    (operators/profile.table_diff), one JSON line each. Every version
    is a snapshot: rollback re-publishes an old one as a new version."""
    import os

    from hypermap_etl_spark.sources import manifest as M

    out = {"table": args.table, "action": args.action}
    if args.action == "write":
        if not args.data:
            raise SystemExit("manifest write: --data required")
        spark = _spark(args)
        out["version"] = M.write_table(
            spark.read.parquet(args.data), args.table,
            partition_col=args.partition_col,
        )
    elif args.action == "merge":
        if not args.data or not args.keys:
            raise SystemExit("manifest merge: --data and --keys required")
        spark = _spark(args)
        res = M.merge_table(
            spark, args.table, spark.read.parquet(args.data),
            [c.strip() for c in args.keys.split(",")],
            partition_col=args.partition_col,
        )
        out.update(res)
        out["version"] = M.current_version(args.table)
    elif args.action == "status":
        m = M.read_manifest(args.table)
        out["version"] = m["version"]
        out["versions"] = M.manifest_versions(args.table)
        out["partition_col"] = m["partition_col"]
        out["n_partitions"] = len(m["partitions"])
        out["n_file_sets"] = sum(len(r) for r in m["partitions"].values())
    elif args.action == "count":
        spark = _spark(args)
        out["version"] = args.version or M.current_version(args.table)
        out["rows"] = M.read_table(
            spark, args.table, version=args.version
        ).count()
    elif args.action == "rollback":
        if args.version is None:
            raise SystemExit("manifest rollback: --version required")
        out["version"] = M.rollback_table(args.table, args.version)
    elif args.action == "vacuum":
        out["removed"] = M.vacuum_table(args.table, keep=args.keep)
        out["version"] = M.current_version(args.table)
    elif args.action == "diff":
        from hypermap_etl_spark.operators.profile import diff_summary, psi_drift, table_diff

        if not args.keys:
            raise SystemExit("manifest diff: --keys required")
        new_v = (
            args.version if args.version is not None
            else M.read_manifest(args.table)["version"]
        )
        old_v = args.against if args.against is not None else new_v - 1
        # both sides are checked before Spark reads either one
        for side, v in (("old", old_v), ("new", new_v)):
            try:
                parts = M.read_manifest(args.table, v)["partitions"]
            except FileNotFoundError:
                raise SystemExit(
                    f"manifest diff: {side} version {v} of {args.table} "
                    "has no manifest"
                ) from None
            if not all(
                os.path.isdir(os.path.join(args.table, rel))
                for rels in parts.values() for rel in rels
            ):
                raise SystemExit(
                    f"manifest diff: {side} version {v} of {args.table} "
                    "was vacuumed"
                )
        spark = _spark(args)
        old = M.read_table(spark, args.table, version=old_v)
        new = M.read_table(spark, args.table, version=new_v)
        d = table_diff(old, new, [c.strip() for c in args.keys.split(",")])
        out["old"], out["new"] = old_v, new_v
        out["summary"] = {
            r["status"]: r["n"] for r in diff_summary(d).collect()
        }
        if args.psi_col:
            terms = psi_drift(old, new, args.psi_col).collect()
            psi = sum(r["psi_term"] for r in terms)
            verdict = "stable" if psi < 0.1 else "drifting" if psi < 0.25 else "shifted"
            out["psi"] = {
                "column": args.psi_col, "value": round(psi, 6), "verdict": verdict,
            }
    print(json.dumps(out))


def cmd_pseudo(args) -> None:
    """Keyed pseudonymization of identifier columns
    (curation.pseudonymize): linkage-preserving sha256-prefix tokens,
    written as a new table."""
    from hypermap_etl_spark.operators.curation import pseudonymize

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    cols = [c.strip() for c in args.cols.split(",")]
    out = pseudonymize(df, cols, salt=args.salt, prefix_len=args.prefix_len)
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({
        "rows": spark.read.parquet(args.out).count(),
        "cols": cols,
        "prefix_len": args.prefix_len,
        "out": args.out,
    }))


def cmd_buckets(args) -> None:
    """CCNet-style quality bucketing: score every document with the
    corpus's own bigram LM (textstats.bigram_logprob), then split each
    language into head/middle/tail quantile buckets
    (curation.quality_buckets) — the label a sampling policy consumes."""
    from hypermap_etl_spark.operators.curation import quality_buckets
    from hypermap_etl_spark.operators.textstats import bigram_logprob

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    scored = bigram_logprob(docs.select("doc_id", "text")).select(
        "doc_id", "mean_logprob"
    )
    if "lang" in docs.columns:
        scored = scored.join(docs.select("doc_id", "lang"), "doc_id")
        gcols: tuple[str, ...] = ("lang",)
    else:
        gcols = ()
    out = quality_buckets(
        scored, n_buckets=args.n_buckets, group_cols=gcols, method=args.method
    )
    out.write.mode("overwrite").parquet(args.out)
    res = spark.read.parquet(args.out)
    counts = {
        str(r["bucket"]): r["count"]
        for r in res.groupBy("bucket").count().collect()
    }
    print(json.dumps({
        "docs": res.count(),
        "n_buckets": args.n_buckets,
        "method": args.method,
        "bucket_counts": dict(sorted(counts.items())),
        "out": args.out,
    }))


def cmd_check(args) -> None:
    """Data-quality constraint suite (operators/constraints.py): run a
    JSON-declared Deequ-style check spec against a parquet table, print
    the verdict, optionally write the long-format report. Exit code 1
    on a failed suite — the CI/admission-gate contract."""
    import os

    from hypermap_etl_spark.operators import constraints as C

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    spec_src = args.spec
    if os.path.exists(spec_src):
        with open(spec_src) as fh:
            spec = json.load(fh)
    else:
        spec = json.loads(spec_src)
    if not isinstance(spec, list):
        raise SystemExit("check: spec must be a JSON list of checks")

    builders = {
        "not_null": lambda d: C.not_null(d["column"]),
        "completeness": lambda d: C.completeness(d["column"], d["at_least"]),
        "unique": lambda d: C.unique(d["column"]),
        "in_range": lambda d: C.in_range(
            d["column"], d.get("lo"), d.get("hi"), d.get("at_least", 1.0)
        ),
        "non_negative": lambda d: C.non_negative(
            d["column"], d.get("at_least", 1.0)
        ),
        "in_set": lambda d: C.in_set(
            d["column"], d["values"], d.get("at_least", 1.0)
        ),
        "matches": lambda d: C.matches(
            d["column"], d["pattern"], d.get("at_least", 1.0)
        ),
        "row_count": lambda d: C.row_count(d.get("at_least"), d.get("at_most")),
        "references": lambda d: C.references(
            d["column"], d["ref"], d["ref_column"]
        ),
    }
    checks = []
    for d in spec:
        kind = d.get("kind")
        if kind not in builders:
            raise SystemExit(f"check: unknown kind {kind!r}")
        checks.append(builders[kind](d))

    refs = {}
    for pair in args.ref:
        name, _, path = pair.partition("=")
        if not path:
            raise SystemExit("check: --ref needs name=path")
        refs[name] = spark.read.parquet(path)

    report = C.check_constraints(df, checks, refs=refs)
    if args.out:
        report.write.mode("overwrite").parquet(args.out)
        report = spark.read.parquet(args.out)
    rows = report.collect()
    failures = sorted(r["constraint"] for r in rows if not r["passed"])
    print(json.dumps({
        "checks": len(rows),
        "passed": not failures,
        "failures": failures,
        "out": args.out,
    }))
    if failures:
        sys.exit(1)


def cmd_bff(args) -> None:
    """Bloom-filter incremental exact dedup (dedup.bff_survivors, the
    Dolma BFF shape): drop batch docs whose text was admitted in any
    earlier batch, using ONE bounded Bloom row as the whole cross-
    batch state. Reads the state parquet if present, writes survivors
    and the updated state."""
    import os

    from hypermap_etl_spark.operators.dedup import bff_survivors

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    hist = (
        spark.read.parquet(args.state)
        if os.path.exists(args.state)
        else None
    )
    surv, bloom = bff_survivors(docs, history_bloom=hist,
                                m_words=args.m_words)
    surv.write.mode("overwrite").parquet(args.out)
    n_out = spark.read.parquet(args.out).count()
    # state written AFTER survivors: a crashed run can be re-run
    # idempotently (the state still excludes the failed batch)
    tmp = args.state + ".tmp"
    bloom.coalesce(1).write.mode("overwrite").parquet(tmp)
    staged = spark.read.parquet(tmp)
    staged.coalesce(1).write.mode("overwrite").parquet(args.state)
    n_in = docs.count()
    st = spark.read.parquet(args.state).collect()[0]
    print(json.dumps({
        "batch_docs": n_in,
        "survivors": n_out,
        "dropped": n_in - n_out,
        "state_keys": st["n_values"],
        "m_words": args.m_words,
        "out": args.out,
    }))



def cmd_link(args) -> None:
    """Entity-resolution pipeline in one command: deletion-neighborhood
    blocking (tau = --max-dist) -> Fellegi-Sunter scoring -> verdict
    counts + blocking-quality report; with --golden, match pairs fold
    through connected components into survivorship-fused golden
    records written as a new table."""
    from hypermap_etl_spark.operators.fuzzy import (
        blocking_metrics,
        golden_records,
        linkage_scores,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    cat_fields = []
    for spec in (args.cat or "").split(","):
        if spec.strip():
            name, w_a, w_d = spec.split(":")
            cat_fields.append((name, float(w_a), float(w_d)))
    scores = linkage_scores(
        df,
        args.id_col,
        args.name_col,
        cat_fields=cat_fields,
        num_col=args.num_col,
        max_dist=args.max_dist,
    )
    verdicts = {
        r["verdict"]: r["n"]
        for r in scores.groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    bm = blocking_metrics(
        df, args.id_col, args.name_col, max_dist=args.max_dist
    ).collect()[0]
    out = {
        "records": bm["n_records"],
        "candidates": bm["n_candidate_pairs"],
        "reduction_ratio": bm["reduction_ratio"],
        "verdicts": dict(sorted(verdicts.items())),
    }
    if args.golden:
        from hypermap_etl_spark.operators.dedup import duplicate_clusters

        pairs = scores.filter(F.col("verdict") == "match").select(
            F.col("id1").alias("doc_a"), F.col("id2").alias("doc_b")
        )
        clusters = duplicate_clusters(pairs)
        fused = golden_records(
            df,
            clusters,
            args.id_col,
            max_cols=[c for c in [args.num_col] if c],
            mode_cols=[c for c, _, _ in cat_fields],
        )
        fused.write.mode("overwrite").parquet(args.golden)
        out["golden_records"] = spark.read.parquet(args.golden).count()
        out["golden_out"] = args.golden
    print(json.dumps(out))


def cmd_graph(args) -> None:
    """Graph analytics over an edge-list parquet (--src/--dst columns):
    one JSON summary line per run. Ops: pagerank (fixed power
    iterations), triangles (degree-oriented wedge counting), kcore
    (iterative peel), lpa (deterministic label propagation),
    seed-distance (multi-source BFS from --seeds, a parquet with a
    node column). The per-node frame lands at --out when given;
    the summary always prints."""
    from hypermap_etl_spark.operators import graph

    spark = _spark(args)
    edges = spark.read.parquet(args.edges)
    for c in (args.src, args.dst):
        if c not in edges.columns:
            raise SystemExit(f"edge column not in table: {c}")
    if args.op == "pagerank":
        out = graph.pagerank(edges, src=args.src, dst=args.dst,
                             n_iter=args.iters)
        summary = out.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.round(F.max("rank"), 6).alias("max_rank"),
        ).collect()[0].asDict()
    elif args.op == "triangles":
        out = graph.triangle_count(edges, args.src, args.dst)
        summary = out.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("n_triangles").alias("corner_total"),
        ).collect()[0].asDict()
        # every triangle is counted once per corner
        summary["n_triangles"] = int((summary.pop("corner_total") or 0) // 3)
    elif args.op == "kcore":
        out = graph.k_core(edges, k=args.k, src=args.src, dst=args.dst,
                           n_iter=args.iters)
        summary = out.agg(
            F.count(F.lit(1)).alias("n_core_nodes"),
            F.min("core_degree").alias("min_core_degree"),
        ).collect()[0].asDict()
        summary["k"] = args.k
    elif args.op == "lpa":
        out = graph.label_propagation(edges, n_iter=args.iters,
                                      src=args.src, dst=args.dst)
        summary = out.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.countDistinct("community").alias("n_communities"),
        ).collect()[0].asDict()
    elif args.op == "modularity":
        comm = graph.label_propagation(edges, n_iter=args.iters,
                                       src=args.src, dst=args.dst)
        out = graph.modularity(edges, comm, src=args.src, dst=args.dst)
        summary = out.collect()[0].asDict()
    else:  # seed-distance
        if not args.seeds:
            raise SystemExit("seed-distance requires --seeds")
        seeds = spark.read.parquet(args.seeds)
        if args.seed_col not in seeds.columns:
            raise SystemExit(f"seed column not in table: {args.seed_col}")
        out = graph.seed_distance(edges, seeds, max_hops=args.hops,
                                  src=args.src, dst=args.dst,
                                  seed_col=args.seed_col)
        summary = out.agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.max("dist").alias("max_dist"),
        ).collect()[0].asDict()
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        summary["out"] = args.out
    summary["op"] = args.op
    print(json.dumps(summary))


def cmd_ab(args) -> None:
    """One-shot A/B readout over any parquet: SRM first (if the
    assignment is broken nothing else matters), then Welch,
    Mann-Whitney, and KS on the value column; --period-col adds the
    difference-in-differences estimate; --pre-col (one row per unit
    expected) adds the CUPED-adjusted effect. One JSON line — the
    full experimentation stack in one command, all aggregate-shaped."""
    from hypermap_etl_spark.operators import profile

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    for c in (args.value_col, args.unit_col):
        if c not in df.columns:
            raise SystemExit(f"column not in table: {c}")
    out = {}
    srm = profile.srm_check(df, args.unit_col).collect()[0]
    out["srm"] = srm.asDict()
    w = profile.welch_ab_test(df, args.value_col, args.unit_col).collect()
    out["welch"] = w[0].asDict() if w else None
    mw = profile.mann_whitney_u(df, args.value_col, args.unit_col).collect()
    out["mann_whitney"] = mw[0].asDict() if mw else None
    ks = profile.ks_two_sample(df, args.value_col, args.unit_col).collect()
    out["ks"] = ks[0].asDict() if ks else None
    if args.robust:
        w = profile.winsorize(df, args.value_col, 0.05, 0.95)
        rw = profile.welch_ab_test(
            w, f"{args.value_col}_w", args.unit_col
        ).collect()
        out["welch_winsorized"] = rw[0].asDict() if rw else None
    if args.period_col:
        d = profile.did_estimate(
            df, args.value_col, args.unit_col, args.period_col
        ).collect()
        out["did"] = d[0].asDict() if d else None
    if args.pre_col:
        c = profile.cuped_adjust(
            df, args.pre_col, args.value_col, args.unit_col
        ).collect()
        out["cuped"] = c[0].asDict() if c else None
    if args.permutations:
        pt = profile.permutation_test(
            df, args.value_col, args.unit_col,
            n_permutations=args.permutations,
        ).collect()
        out["permutation"] = pt[0].asDict() if pt else None
    if args.power:
        pw = profile.power_mde(df, args.value_col, args.unit_col).collect()
        out["power"] = pw[0].asDict() if pw else None
    if args.ratio:
        rm = profile.ratio_metric_ab(
            df, args.value_col, args.unit_col
        ).collect()
        out["ratio_metric"] = rm[0].asDict() if rm else None
    if args.sequential_col:
        sq = profile.sequential_welch(
            df, args.value_col, args.unit_col, args.sequential_col
        ).collect()
        out["sequential"] = [r.asDict() for r in sq]
    print(json.dumps(out, default=str))


def cmd_abmon(args) -> None:
    """Streaming experiment monitor: fold an events parquet dir into
    the per-batch arm-moment store (availableNow catch-up), then print
    the current Welch verdict per group — one JSON line, equal by
    construction to the batch `ab` readout over the same rows.
    Re-runs resume from the checkpoint; --compact folds history."""
    import os

    from hypermap_etl_spark.streaming.abmonitor import (
        ab_store_compact,
        ab_verdict,
        start_ab_stream,
    )

    spark = _spark(args)
    group = [g.strip() for g in args.group.split(",") if g.strip()]
    reader = (
        spark.readStream.schema(spark.read.parquet(args.events).schema)
        .option("maxFilesPerTrigger", 1)
    )
    if os.path.isfile(args.events):
        reader = reader.option(
            "pathGlobFilter", os.path.basename(args.events)
        )
        stream = reader.parquet(os.path.dirname(args.events))
    else:
        stream = reader.parquet(args.events)
    q = start_ab_stream(
        stream, args.value_col, args.unit_col, group,
        args.store, args.checkpoint,
    )
    q.awaitTermination()
    if args.compact:
        ab_store_compact(spark, args.store, group)
    rows = ab_verdict(spark, args.store, group).collect()
    out = {
        ("|".join(str(r[g]) for g in group) if group else "_all"): {
            "n_a": r["n_a"], "n_b": r["n_b"],
            "t_stat": r["t_stat"], "significant": r["significant"],
        }
        for r in rows
    }
    print(json.dumps({"groups": out, "n_groups": len(rows)}))


def cmd_survival(args) -> None:
    """Censoring-correct retention over a lifetimes parquet (one row
    per subject: duration + 0/1 event): the Kaplan-Meier curve as
    JSON lines plus, with --group-col, a final log-rank comparison
    line — churn analysis without the treat-active-as-churned bias."""
    from hypermap_etl_spark.operators.profile import km_survival, logrank_test

    spark = _spark(args)
    df = spark.read.parquet(args.lifetimes)
    for c in (args.duration_col, args.event_col):
        if c not in df.columns:
            raise SystemExit(f"column not in table: {c}")
    for r in km_survival(df, args.duration_col, args.event_col).collect():
        print(json.dumps(r.asDict()))
    if args.group_col:
        if args.group_col not in df.columns:
            raise SystemExit(f"column not in table: {args.group_col}")
        lr = logrank_test(
            df, args.duration_col, args.event_col, args.group_col
        ).collect()[0]
        print(json.dumps({"logrank": lr.asDict()}))


def cmd_assoc(args) -> None:
    """Column-association screen over any parquet: chi2 (+ Cramér's V),
    theils-u (directional), spearman (rank correlation), fd
    (approximate functional dependency), or mi (top mutual-information
    cells) between --x and --y. One JSON line — the EDA loop's
    which-columns-relate primitive, all aggregate-shaped."""
    from hypermap_etl_spark.operators import profile

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    for c in (args.x, args.y):
        if c not in df.columns:
            raise SystemExit(f"column not in table: {c}")
    if args.op == "chi2":
        row = profile.chi2_independence(df, args.x, args.y).collect()[0]
        out = row.asDict()
    elif args.op == "theils-u":
        row = profile.theils_u(df, args.x, args.y).collect()[0]
        out = row.asDict()
    elif args.op == "kendall":
        row = profile.kendall_tau_b(df, args.x, args.y).collect()[0]
        out = row.asDict()
    elif args.op == "spearman":
        rows = profile.spearman_corr(df, args.x, args.y).collect()
        out = rows[0].asDict() if rows else {"n": 0, "rho": None}
    elif args.op == "fd":
        rows = profile.fd_confidence(df, [(args.x, args.y)]).collect()
        out = rows[0].asDict()
    else:  # mi
        cells = (
            profile.categorical_mi(df, args.x, args.y)
            .orderBy(F.desc(F.abs(F.col("mi_term"))),
                     F.asc(args.x), F.asc(args.y))
            .limit(args.top)
            .collect()
        )
        out = {
            "op": "mi",
            "top_cells": [r.asDict() for r in cells],
            "mi_nats": round(sum(r["mi_term"] for r in cells), 6),
        }
    out["op"] = args.op
    out["x"], out["y"] = args.x, args.y
    print(json.dumps(out, default=str))


def cmd_skew(args) -> None:
    """Shuffle-key skew pre-flight (operators/scale.key_skew_report):
    heaviest keys, per-key salt factors, distribution entropy — run
    BEFORE committing a join/groupBy to this key at scale."""
    from hypermap_etl_spark.operators.scale import key_skew_report

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise SystemExit(f"key columns not in table: {missing}")
    rows = key_skew_report(df, keys, top=args.top).collect()
    print(json.dumps({
        "table": args.table,
        "keys": keys,
        "n_keys": rows[0]["n_keys"] if rows else 0,
        "n_rows": rows[0]["n_rows"] if rows else 0,
        "key_entropy": rows[0]["key_entropy"] if rows else None,
        "top": [
            {
                "key": "|".join(str(r[k]) for k in keys),
                "cnt": r["cnt"],
                "share": r["share"],
                "salt": r["key_salt"],
            }
            for r in rows
        ],
    }))


def cmd_cdc(args) -> None:
    """Content-defined chunking storage report (dedup.cdc_chunks):
    how many word-grain CDC chunks the corpus stores and what fraction
    are duplicate content — the chunk-keyed-store planning number."""
    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators.dedup import cdc_chunks

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    ch = cdc_chunks(docs, k=args.k, mod=args.mod)
    row = ch.agg(
        F.count(F.lit(1)).alias("chunks"),
        F.count_distinct("chunk_hash").alias("distinct_chunks"),
        F.sum("n_words").alias("words"),
        F.round(F.avg("n_words"), 2).alias("mean_chunk_words"),
    ).collect()[0]
    chunks = row["chunks"] or 0
    distinct = row["distinct_chunks"] or 0
    print(json.dumps({
        "docs": docs.count(),
        "chunks": chunks,
        "distinct_chunks": distinct,
        "words": row["words"] or 0,
        "mean_chunk_words": float(row["mean_chunk_words"] or 0.0),
        "dup_ratio": round(1.0 - distinct / chunks, 6) if chunks else None,
    }))


def cmd_plan_epochs(args) -> None:
    """Token-budget epoch planner (operators/corpus.epoch_plan): solve
    the waterfill over per-source token counts with per-source epoch
    caps; prints the per-source recipe."""
    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators.corpus import epoch_plan
    from hypermap_etl_spark.operators.textstats import token_count

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    per = (
        docs.select("source", token_count(F.col("text")).alias("__t"))
        .groupBy("source")
        .agg(F.sum("__t").cast("double").alias("tokens"))
    )
    caps = {}
    for part in (args.caps or "").split(","):
        if part.strip():
            src, _, val = part.partition("=")
            caps[src.strip()] = float(val)
    cap_expr = F.lit(float(args.default_cap))
    for src, val in caps.items():
        cap_expr = F.when(F.col("source") == src, F.lit(val)).otherwise(cap_expr)
    per = per.withColumn("max_epochs", cap_expr)
    total = per.agg(F.sum("tokens")).collect()[0][0] or 0.0
    budget = args.budget_tokens if args.budget_tokens is not None else args.budget_ratio * total
    plan = epoch_plan(per, budget).orderBy("source").collect()
    print(json.dumps({
        "docs": args.docs,
        "budget_tokens": budget,
        "total_tokens": total,
        "allocated_tokens": round(sum(r["alloc_tokens"] for r in plan), 6),
        "sources": [
            {
                "source": r["source"],
                "tokens": r["tokens"],
                "max_epochs": r["max_epochs"],
                "epochs": r["epochs"],
                "alloc_tokens": r["alloc_tokens"],
            }
            for r in plan
        ],
    }))


def cmd_tag(args) -> None:
    """Dictionary tagging (curation.keyword_tags / keyword_tags_large):
    per-(doc, keyword) word-boundary hit counts to parquet + summary."""
    from hypermap_etl_spark.operators.curation import (
        keyword_tags,
        keyword_tags_large,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    kws = [k.strip() for k in args.keywords.split(",") if k.strip()]
    fn = keyword_tags_large if args.large else keyword_tags
    fn(docs, kws).write.mode("overwrite").parquet(args.out)
    res = spark.read.parquet(args.out)
    per_kw = {
        r["keyword"]: r["hits"]
        for r in res.groupBy("keyword")
        .agg(F.sum("n_hits").alias("hits"))
        .collect()
    }
    print(json.dumps({
        "docs": args.docs,
        "keywords": sorted(kws),
        "path": "aho-corasick" if args.large else "regexp",
        "tagged_rows": res.count(),
        "hits_per_keyword": dict(sorted(per_kw.items())),
        "out": args.out,
    }))


def cmd_hist(args) -> None:
    """Auto-binned value histogram (profile.fd_histogram): no bin-count
    knob, IQR-robust width; prints one JSON line of bins."""
    from hypermap_etl_spark.operators.profile import fd_histogram

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    if args.column not in df.columns:
        raise SystemExit(f"column not in table: {args.column}")
    rows = fd_histogram(df.select(args.column), args.column).collect()
    print(json.dumps({
        "table": args.table,
        "column": args.column,
        "n_bins": len(rows),
        "bins": [
            {"bin": r["bin"], "lo": r["lo"], "hi": r["hi"], "cnt": r["cnt"]}
            for r in rows
        ],
    }))


def cmd_drift(args) -> None:
    """Streaming ingestion-drift monitor: fold an events parquet dir
    into the per-batch daily-count store (availableNow catch-up), then
    print the CUSUM level verdict, lag-1/7 seasonality, and the EWMA
    per-day anomaly summary per group — one JSON line. Re-runs resume from the checkpoint; --compact folds
    store history."""
    from hypermap_etl_spark.streaming.drift import (
        drift_store_compact,
        drift_verdict,
        ewma_verdict,
        seasonality_verdict,
        start_drift_stream,
    )

    import os

    spark = _spark(args)
    group = [g.strip() for g in args.group.split(",") if g.strip()]
    reader = (
        spark.readStream.schema(spark.read.parquet(args.events).schema)
        .option("maxFilesPerTrigger", 1)
    )
    # FileStreamSource needs a DIRECTORY; a single-file fixture streams
    # from its parent with a glob pinned to the file
    if os.path.isfile(args.events):
        reader = reader.option(
            "pathGlobFilter", os.path.basename(args.events)
        )
        stream = reader.parquet(os.path.dirname(args.events))
    else:
        stream = reader.parquet(args.events)
    stream = stream.select(
        *group, F.date_format(args.ts_col, "yyyy-MM-dd").alias("day")
    )
    q = start_drift_stream(stream, "day", group, args.store, args.checkpoint)
    q.awaitTermination()
    if args.compact:
        drift_store_compact(spark, args.store, "day", group)
    level = {
        "|".join(str(r[g]) for g in group): {
            "n_days": r["n_days"],
            "max_cusum": r["max_cusum"],
            "drifted": r["drifted"],
        }
        for r in drift_verdict(spark, args.store, "day", group).collect()
    }
    season = {
        "|".join(str(r[g]) for g in group) + f"@lag{r['lag']}": r["autocorr"]
        for r in seasonality_verdict(
            spark, args.store, "day", group, [1, 7]
        ).collect()
    }
    anomalies: dict = {}
    for r in ewma_verdict(spark, args.store, "day", group).collect():
        key = "|".join(str(r[g]) for g in group)
        slot = anomalies.setdefault(key, {"days_flagged": 0, "latest": None})
        if r["is_anomaly"]:
            slot["days_flagged"] += 1
            if slot["latest"] is None or r["day"] > slot["latest"]:
                slot["latest"] = r["day"]
    print(json.dumps({
        "events": args.events,
        "store": args.store,
        "groups": group,
        "level": dict(sorted(level.items())),
        "seasonality": dict(sorted(season.items())),
        "ewma": dict(sorted(anomalies.items())),
    }))


def cmd_media(args) -> None:
    """Multimodal decode surface: REAL pixel/PCM stats (PNG/WAV reach
    the stdlib; entropy-coded formats stay header-only with NULLs),
    spectral screens, perceptual hashes, and image near-dup pairs.
    One parquet out + one JSON summary line."""
    from hypermap_etl_spark.operators.multimodal import (
        audio_sample_stats,
        audio_spectral_stats,
        image_ahash,
        image_neardup_pairs,
        pixel_stats,
    )

    spark = _spark(args)
    if args.media:
        media = spark.read.parquet(args.media)
    elif args.docs:
        media = _synth_media(spark.read.parquet(args.docs))
    else:
        raise SystemExit("need --media (MEDIA_SCHEMA parquet) or --docs")
    rep: dict = {"op": args.op, "out": args.out}
    if args.op == "pixels":
        res = pixel_stats(media, strict=args.strict)
        probe, extra = "px_sum", lambda df: {
            "mean_brightness": (
                lambda r: None
                if not r["c"]
                else round(r["s"] / r["c"], 3)
            )(
                df.agg(
                    F.sum("px_sum").alias("s"), F.sum("px_count").alias("c")
                ).collect()[0]
            )
        }
    elif args.op == "audio":
        res = audio_sample_stats(media, strict=args.strict)
        probe, extra = "n_frames", lambda df: {
            "total_frames": df.agg(F.sum("n_frames")).collect()[0][0]
        }
    elif args.op == "spectral":
        res = audio_spectral_stats(media, strict=args.strict)
        probe, extra = "dominant_hz", lambda df: {
            "mean_dominant_hz": (
                lambda v: round(v, 3) if v is not None else None
            )(df.agg(F.avg("dominant_hz")).collect()[0][0])
        }
    elif args.op == "ahash":
        res = image_ahash(media, strict=args.strict)
        probe, extra = "ahash", lambda df: {}
    elif args.op == "frames":
        from hypermap_etl_spark.operators.multimodal import video_frame_index

        res = video_frame_index(media, strict=args.strict)
        probe, extra = "n_samples", lambda df: {
            "total_frames": df.agg(F.sum("n_samples")).collect()[0][0]
        }
    else:  # neardup
        # checkpoint: sigs feed the pair self-join AND two counts —
        # without it the per-pixel decode re-runs 3-4x
        sigs = image_ahash(media, strict=args.strict).localCheckpoint(
            eager=True
        )
        res = image_neardup_pairs(sigs, max_hamming=args.max_hamming)
        res.write.mode("overwrite").parquet(args.out)
        res = spark.read.parquet(args.out)
        rep.update({
            "images": sigs.count(),
            "hashed": sigs.filter(F.col("ahash").isNotNull()).count(),
            "pairs": res.count(),
            "max_hamming": args.max_hamming,
        })
        print(json.dumps(rep))
        return
    res.write.mode("overwrite").parquet(args.out)
    res = spark.read.parquet(args.out)
    rep.update({
        "rows": res.count(),
        "decoded": res.filter(F.col(probe).isNotNull()).count(),
    })
    rep.update(extra(res))
    print(json.dumps(rep))


def _synth_media(docs):
    """Derive a demo MEDIA_SCHEMA frame from a documents parquet: even
    doc_ids become real ramp PNGs, odd ones real 16-bit PCM WAVs —
    exercising every media op end-to-end without a media lake."""
    from hypermap_etl_spark.operators.multimodal import encode_png, encode_wav

    @F.pandas_udf("binary")
    def _payload(doc_id: pd.Series) -> pd.Series:
        out = []
        for d in doc_id:
            d = int(d)
            if d % 2 == 0:
                w, h = d % 6 + 2, d % 4 + 2
                px = bytes((d * 7 + i) % 256 for i in range(w * h))
                out.append(
                    encode_png(
                        w, h, px, color_type=0,
                        row_filters=[(d + r) % 5 for r in range(h)],
                    )
                )
            else:
                n = d % 40 + 16
                samples = [((d * 11 + j) * 997) % 2048 - 1024 for j in range(n)]
                out.append(encode_wav(8000, 1, 16, samples))
        return pd.Series(out)

    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("kind"),
        _payload(F.col("doc_id")).alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def cmd_report(args) -> None:
    """Corpus data card: one JSON line summarizing a documents parquet
    — size, token totals, language/source mix, length percentiles,
    exact-duplicate rate, PII incidence, and per-column profile. Pure
    composition of the gated operators (token_stats, language_id,
    exact dedup keys, tag_pii, profile_table); the one-stop report a
    drop review starts from."""
    from hypermap_etl_spark.operators.curation import tag_pii
    from hypermap_etl_spark.operators.profile import profile_table
    from hypermap_etl_spark.operators.textstats import (
        language_id,
        script_profile,
        token_stats,
        zipf_fit,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    n_docs = docs.count()
    rep: dict = {"docs": n_docs}
    if n_docs == 0:
        print(json.dumps(rep))
        return

    ts = token_stats(docs).agg(
        F.sum("n_tokens_ws").alias("tok"),
        F.sum("n_chars_measured").alias("chars"),
    ).collect()[0]
    rep["total_tokens_ws"] = ts["tok"]
    rep["total_chars"] = ts["chars"]

    pct = docs.select(
        F.expr(
            "percentile(length(text), array(0.1, 0.5, 0.9))"
        ).alias("p")
    ).collect()[0]["p"]
    rep["len_p10"], rep["len_p50"], rep["len_p90"] = [float(x) for x in pct]

    lang_col = "lang" if "lang" in docs.columns else None
    langs = (
        docs.groupBy(lang_col).count()
        if lang_col
        else language_id(docs).groupBy(F.col("lang_pred").alias("lang")).count()
    )
    rep["lang_mix"] = {
        str(r[0]): r["count"]
        for r in langs.orderBy(F.desc("count")).limit(10).collect()
    }
    if "source" in docs.columns:
        rep["source_mix"] = {
            str(r[0]): r["count"]
            for r in docs.groupBy("source").count()
            .orderBy(F.desc("count")).limit(10).collect()
        }

    n_distinct_text = docs.select(F.md5(F.col("text"))).distinct().count()
    rep["exact_dup_rate"] = round(1.0 - n_distinct_text / n_docs, 6)

    rep["pii_docs"] = tag_pii(docs).filter(F.col("has_pii")).count()

    zf = zipf_fit(docs, top_k=1000).collect()[0]
    rep["vocab_terms"] = zf["n_terms"]
    rep["zipf_slope"] = zf["slope"]
    rep["zipf_r2"] = zf["r2"]
    rep["script_mix"] = {
        str(r["dominant_script"]): r["count"]
        for r in script_profile(docs)
        .groupBy("dominant_script")
        .count()
        .orderBy(F.desc("count"))
        .limit(10)
        .collect()
    }

    rep["profile"] = [
        {
            "col": r["col_name"],
            "nulls": r["n_nulls"],
            "distinct": r["n_distinct"],
        }
        for r in profile_table(
            docs, [c for c in docs.columns if c != "text"]
        ).collect()
    ]
    print(json.dumps(rep))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(prog="hypermap_etl_spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    def common(p, table=True):
        p.add_argument("--raw", help="raw logs parquet/jsonl dir")
        p.add_argument("--raw-format", default=None, choices=["parquet", "json"],
                       help="raw log format (default: by extension, else parquet)")
        if table:
            p.add_argument("--table", required=True, help="events table path")
        p.add_argument("--from-block", type=int, default=None)
        p.add_argument("--to-block", type=int, default=None)
        p.add_argument("--blocks", help="blocks dimension parquet (timestamp enrichment)")

    p = sub.add_parser("extract", help="decode + merge events")
    common(p)
    p = sub.add_parser("index", help="extract + materialize entries")
    common(p)
    p.add_argument("--entries", required=True)
    p = sub.add_parser("scan", help="dry-run decode + counts")
    common(p, table=False)
    p = sub.add_parser("status", help="status report")
    p.add_argument("--table", required=True)
    p = sub.add_parser("events", help="paginated event listing")
    p.add_argument("--table", required=True)
    p.add_argument("--type", default=None)
    p.add_argument("--start-date", default=None)
    p.add_argument("--page", type=int, default=1)
    p.add_argument("--limit", type=int, default=20)
    p = sub.add_parser("sql", help="ad-hoc SQL over the star tables")
    p.add_argument("query")
    p.add_argument("--data", default="/root/testdata/sf0.001",
                   help="parquet table directory")
    p.add_argument("--limit", type=int, default=100)
    p.add_argument("--explain", nargs="?", const="formatted", default=None,
                   choices=["simple", "extended", "codegen", "cost", "formatted"],
                   help="print the physical plan instead of rows")
    p = sub.add_parser("compact", help="small-file maintenance")
    p.add_argument("--sort-by", default=None,
                   help="comma-separated columns to sort within rewritten "
                        "partitions (re-tightens row-group min/max stats)")
    p.add_argument("--table", default=None, help="events table path")
    p.add_argument("--partition-col", default="block_bucket")
    p.add_argument("--max-files", type=int, default=8)
    p.add_argument("--entries", default=None,
                   help="also compact this entry_bucket-partitioned entries table")
    p.add_argument("--side-table", default=None,
                   help="also distinct-rewrite this unpartitioned side table")
    p = sub.add_parser("search", help="BM25 search over a documents parquet")
    p.add_argument("--snippets", action="store_true",
                   help="print hit-centered snippets instead of bare scores")
    p.add_argument("--hybrid", action="store_true",
                   help="fuse BM25 with the hash-embedding cosine leg "
                        "by reciprocal rank fusion")
    p.add_argument("--docs", required=True, help="documents parquet (doc_id, text)")
    p.add_argument("query", help="space-separated query terms")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--show-text", action="store_true")
    p = sub.add_parser("curate", help="end-to-end training-corpus build")
    p.add_argument("--docs", required=True, help="documents parquet (doc_id, text)")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--threshold", type=float, default=0.8, help="near-dup Jaccard")
    p.add_argument("--min-words", type=int, default=20)
    p.add_argument("--lang", default="en")
    p.add_argument("--no-redact", action="store_true", help="skip PII masking")
    p.add_argument("--span-grain", default="word", choices=["word", "char"],
                   help="grain of duplicated-span surgery (char = "
                        "byte-exact ExactSubstr boundaries)")
    p.add_argument("--cut-dup-spans", action="store_true",
                   help="ExactSubstr surgery: cut duplicated >=8-word runs "
                        "surviving doc-level dedup (first occurrence kept)")
    p.add_argument("--normalize", action="store_true",
                   help="Unicode NFC + control-strip + whitespace-collapse "
                        "canonicalization before filtering")
    p.add_argument("--c4-clean", action="store_true",
                   help="C4 line-grain page cleaning before the quality "
                        "gate (needs real line structure)")
    p.add_argument("--html", action="store_true",
                   help="strip HTML tag soup to visible text first "
                        "(raw-crawl inputs)")
    p.add_argument("--gopher", action="store_true",
                   help="add the full Gopher structural screens after "
                        "the heuristic quality gate")
    p.add_argument("--strip-boiler", action="store_true",
                   help="remove cross-document boilerplate lines (per-"
                        "source line recurrence; needs a source column)")
    p.add_argument("--strict-packing", action="store_true",
                   help="capacity-respecting next-fit packing (no pack "
                        "exceeds the token budget)")
    p.add_argument("--balanced-shards", action="store_true",
                   help="token-mass-balanced LPT sharding (equal-WORK "
                        "shards) instead of the md5 count-balanced "
                        "assignment")
    p.add_argument("--model-reference", default=None,
                   help="reference corpus parquet: train a CCNet-style "
                        "stage-two quality model inline and filter with it")
    p.add_argument("--model-dim", type=int, default=128)
    p.add_argument("--model-threshold", type=float, default=0.5)
    p.add_argument("--shards", type=int, default=16)
    p.add_argument("--format", default="parquet",
                   choices=["parquet", "jsonl", "orc"],
                   help="output format (jsonl = per-shard JSONL dirs for "
                        "training loaders; orc = the Hive/Trino "
                        "interchange, same shard layout)")
    p = sub.add_parser("layout", help="rewrite a table clustered for stats pruning")
    p.add_argument("--table", required=True, help="input parquet path")
    p.add_argument("--out", required=True, help="clustered output path")
    p.add_argument("--cluster-by", required=True,
                   help="comma-separated cluster columns (lead with the "
                        "highest-selectivity filter column)")
    p.add_argument("--files", type=int, default=None, help="target file count")
    p.add_argument("--zorder", action="store_true",
                   help="Morton-interleave the (numeric) cluster columns so "
                        "EVERY column prunes, instead of lexical sort order")
    p = sub.add_parser("pca", help="fit + project PCA over an embeddings parquet")
    p.add_argument("--embeddings", required=True, help="embeddings parquet")
    p.add_argument("--out", required=True, help="projections output parquet")
    p.add_argument("--k", type=int, default=4)
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--id-col", default="vec_id")
    p = sub.add_parser("bpe", help="train a subword tokenizer (BPE merges "
                              "or unigram-LM pieces) + segment a documents "
                              "parquet")
    p.add_argument("--docs", required=True, help="documents parquet")
    p.add_argument("--out", required=True, help="merges/pieces output parquet")
    p.add_argument("--segmented", default=None,
                   help="optional output parquet of per-doc tokens")
    p.add_argument("--algo", default="bpe", choices=["bpe", "unigram"],
                   help="bpe = Sennrich merge loop; unigram = Kudo "
                        "unigram-LM (EM + prune)")
    p.add_argument("--vocab-size", type=int, default=400,
                   help="unigram target vocabulary size")
    p.add_argument("--merges", type=int, default=200)
    p.add_argument("--min-pair-count", type=int, default=2)
    p.add_argument("--max-words", type=int, default=1_000_000,
                   help="driver dictionary cap (top-k words by frequency)")
    p = sub.add_parser("dedup-index", help="incremental-dedup signature store build/check")
    p.add_argument("--store", required=True, help="bucketed store table name")
    p.add_argument("--store-path", default=None, help="external table location (build)")
    p.add_argument("--build", action="store_true", help="append docs to the store")
    p.add_argument("--compact", action="store_true",
                   help="rewrite the store as one bucketed file set "
                        "(appends accumulate a file per bucket per batch)")
    p.add_argument("--docs", required=False, default=None,
                   help="docs parquet: the batch to index (build) or the "
                        "historical corpus texts (check)")
    p.add_argument("--batch", default=None, help="arriving batch parquet (check)")
    p.add_argument("--out", default=None, help="pairs output parquet (check)")
    p.add_argument("--threshold", type=float, default=0.8)
    p = sub.add_parser("embed", help="feature-hashing text embeddings")
    p.add_argument("--docs", required=True, help="documents parquet")
    p.add_argument("--out", required=True, help="embeddings output parquet")
    p.add_argument("--dim", type=int, default=64)
    p.add_argument("--ngrams", type=int, default=1)
    p = sub.add_parser("ann", help="persisted IVF ANN index build/search")
    p.add_argument("--index", required=True, help="index directory")
    p.add_argument("--build", action="store_true", help="build instead of search")
    p.add_argument("--append", action="store_true",
                   help="append a new embeddings batch to the standing "
                        "index (pinned model, touched lists only)")
    p.add_argument("--stats", action="store_true",
                   help="print per-list size/share/imbalance (rebuild signal)")
    p.add_argument("--compact", action="store_true",
                   help="defragment the append tail: collapse oversized "
                        "posting lists — results are bit-identical, only "
                        "file counts change")
    p.add_argument("--embeddings", default=None, help="corpus embeddings parquet (build)")
    p.add_argument("--queries", default=None, help="query embeddings parquet (search)")
    p.add_argument("--out", default=None, help="results parquet (search)")
    p.add_argument("--centroids", type=int, default=8)
    p.add_argument("--k", type=int, default=5)
    p.add_argument("--probe", type=int, default=2)
    p.add_argument("--pq", action="store_true",
                   help="build with product-quantized lists (128x-compressed "
                        "codes); later calls read the code type from the index")
    p.add_argument("--pq-m", type=int, default=8, help="PQ subspaces")
    p.add_argument("--pq-codes", type=int, default=16, help="codes per subspace")
    p.add_argument("--rescore-with", default=None,
                   help="raw-vector parquet for exact refinement of the "
                        "top candidates")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--id-col", default="vec_id")
    p = sub.add_parser("decontam", help="benchmark decontamination report")
    p.add_argument("--docs", required=True, help="training documents parquet")
    p.add_argument("--bench", required=True, help="benchmark documents parquet")
    p.add_argument("--out", required=True, help="flags output parquet")
    p.add_argument("--ngram", type=int, default=13)
    p.add_argument("--embeddings", default=None,
                   help="optional corpus embeddings parquet (vec_id = doc_id)")
    p.add_argument("--bench-embeddings", default=None,
                   help="optional benchmark embeddings parquet")
    p.add_argument("--cos-threshold", type=float, default=0.95)
    p = sub.add_parser("quality",
                       help="train + apply a reference-vs-corpus quality filter")
    p.add_argument("--docs", required=True, help="documents parquet to score")
    p.add_argument("--reference", required=True,
                   help="reference (high-quality) documents parquet")
    p.add_argument("--out", required=True, help="scores output parquet")
    p.add_argument("--dim", type=int, default=128)
    p.add_argument("--max-iter", type=int, default=50)
    p.add_argument("--threshold", type=float, default=None,
                   help="also report how many docs score >= threshold")
    p = sub.add_parser("reorg",
                       help="roll the indexed log back to a fork block "
                            "and repair derived entries")
    p.add_argument("--table", required=True, help="partitioned events table")
    p.add_argument("--fork-block", type=int, required=True,
                   help="last block that SURVIVES the reorg")
    p.add_argument("--entries", default=None,
                   help="derived entries table to repair")
    p = sub.add_parser("calibrate",
                       help="reliability diagram + ECE for a scored parquet")
    p.add_argument("--scored", required=True,
                   help="parquet with a probability column and a 0/1 label")
    p.add_argument("--score-col", default="score")
    p.add_argument("--label-col", default="label")
    p.add_argument("--bins", type=int, default=10)
    p = sub.add_parser("eval",
                       help="filter-eval card: AUC + ECE + best-F1 cut")
    p.add_argument("--scored", required=True,
                   help="parquet with a probability column and a 0/1 label")
    p.add_argument("--score-col", default="score")
    p.add_argument("--label-col", default="label")
    p.add_argument("--bins", type=int, default=10)
    p.add_argument("--steps", type=int, default=20)
    p.add_argument("--lift-bands", type=int, default=0,
                   help="add a decile-style lift/gains table with N "
                        "bands (needs --id-col for the tie-break)")
    p.add_argument("--id-col", default="doc_id")

    p = sub.add_parser("manifest",
                       help="manifest-committed, versioned tables (object-"
                            "store-safe): write/merge/status/count/"
                            "rollback/vacuum/diff")
    p.add_argument("action",
                   choices=["write", "merge", "status", "count",
                            "rollback", "vacuum", "diff"])
    p.add_argument("--table", required=True, help="manifest table root")
    p.add_argument("--data", default=None, help="parquet to publish/merge")
    p.add_argument("--keys", default=None,
                   help="comma-separated key columns (merge, diff)")
    p.add_argument("--partition-col", default=None,
                   help="partition column (write/merge)")
    p.add_argument("--version", type=int, default=None,
                   help="target version (rollback; count pins a version; "
                        "diff new side, default current)")
    p.add_argument("--against", type=int, default=None,
                   help="diff old side (default: version-1)")
    p.add_argument("--keep", type=int, default=2, help="vacuum retention")
    p.add_argument("--psi-col", default=None,
                   help="diff: also report PSI distribution drift of "
                        "this numeric column between the two versions")
    p = sub.add_parser("pseudo",
                       help="keyed pseudonymization of identifier columns")
    p.add_argument("--table", required=True, help="input parquet")
    p.add_argument("--cols", required=True, help="comma-separated id columns")
    p.add_argument("--salt", required=True,
                   help="secret salt (same salt → same tokens across tables)")
    p.add_argument("--prefix-len", type=int, default=16)
    p.add_argument("--out", required=True)
    p = sub.add_parser("buckets",
                       help="CCNet head/middle/tail quality buckets "
                            "(bigram-LM score + per-language quantiles)")
    p.add_argument("--docs", required=True, help="documents parquet to bucket")
    p.add_argument("--out", required=True, help="buckets output parquet")
    p.add_argument("--n-buckets", type=int, default=3)
    p.add_argument("--method", default="ntile", choices=["ntile", "threshold"],
                   help="exact NTILE vs broadcast-threshold (the no-"
                        "per-group-sort path for corpus-sized groups)")
    p = sub.add_parser("dsir", help="DSIR importance weights toward a target corpus")
    p.add_argument("--docs", required=True, help="raw documents parquet")
    p.add_argument("--target", required=True, help="target-domain documents parquet")
    p.add_argument("--out", required=True, help="weights output parquet")
    p.add_argument("--buckets", type=int, default=4096)
    p = sub.add_parser("check",
                       help="data-quality constraint suite over a parquet "
                            "table (JSON spec; exit 1 on failure)")
    p.add_argument("--table", required=True, help="input parquet")
    p.add_argument("--spec", required=True,
                   help="JSON file path or inline JSON list of checks")
    p.add_argument("--ref", action="append", default=[],
                   help="name=path dimension parquet for references checks "
                        "(repeatable)")
    p.add_argument("--out", default=None,
                   help="write the long-format report parquet")
    p = sub.add_parser("bff", help="Bloom-filter incremental exact dedup "
                              "(bounded cross-batch state)")
    p.add_argument("--docs", required=True, help="batch documents parquet")
    p.add_argument("--state", required=True,
                   help="bloom state parquet (created if absent)")
    p.add_argument("--out", required=True, help="survivors parquet")
    p.add_argument("--m-words", type=int, default=1024,
                   help="filter size in 63-bit words (size for the "
                        "expected corpus; fp=(1-exp(-4n/63m))^4)")
    p = sub.add_parser("report", help="corpus data card (one JSON line)")
    p.add_argument("--docs", required=True, help="documents parquet")
    p = sub.add_parser("link", help="entity resolution: blocked linkage "
                       "scoring, blocking-quality report, optional golden "
                       "records")
    p.add_argument("--table", required=True, help="entity parquet")
    p.add_argument("--id-col", required=True)
    p.add_argument("--name-col", required=True)
    p.add_argument("--cat", default="",
                   help="categorical fields as name:w_agree:w_disagree, "
                        "comma-separated")
    p.add_argument("--num-col", default=None,
                   help="numeric field compared in exact cents")
    p.add_argument("--max-dist", type=int, default=1, choices=[1, 2],
                   help="name-distance radius (deletion-neighborhood tau)")
    p.add_argument("--golden", default=None,
                   help="write survivorship-fused golden records here")
    p = sub.add_parser("ab", help="A/B readout: SRM + Welch + "
                       "Mann-Whitney + KS (+ DiD/CUPED) on the hash split")
    p.add_argument("--table", required=True)
    p.add_argument("--value-col", default="value")
    p.add_argument("--unit-col", default="user_id")
    p.add_argument("--period-col", help="0/1 pre/post flag enables DiD")
    p.add_argument("--pre-col",
                   help="pre-period covariate (one row per unit) "
                        "enables CUPED")
    p.add_argument("--robust", action="store_true",
                   help="add Welch over the p05/p95-winsorized value")
    p.add_argument("--permutations", type=int, default=0,
                   help="add a permutation test with N md5-seeded "
                        "re-randomizations (exact add-one p-value)")
    p.add_argument("--power", action="store_true",
                   help="add the minimum detectable effect of this "
                        "split at 5%%/80%% from its own moments")
    p.add_argument("--ratio", action="store_true",
                   help="add the delta-method ratio-metric z-test "
                        "(value per row, clustered by unit)")
    p.add_argument("--sequential-col",
                   help="timestamp column enables the group-sequential "
                        "replay (5 O'Brien-Fleming looks)")
    p = sub.add_parser("abmon", help="streaming experiment monitor: "
                       "fold events into the arm-moment store, print "
                       "the current Welch verdict")
    p.add_argument("--events", required=True)
    p.add_argument("--store", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--value-col", default="value")
    p.add_argument("--unit-col", default="user_id")
    p.add_argument("--group", default="event_type")
    p.add_argument("--compact", action="store_true")
    p = sub.add_parser("survival", help="Kaplan-Meier curve "
                       "(+ log-rank with --group-col) over lifetimes")
    p.add_argument("--lifetimes", required=True)
    p.add_argument("--duration-col", default="duration")
    p.add_argument("--event-col", default="event")
    p.add_argument("--group-col")
    p = sub.add_parser("assoc", help="column-association screen "
                       "(chi2/theils-u/spearman/fd/mi) over a parquet")
    p.add_argument("--table", required=True)
    p.add_argument("--op", required=True,
                   choices=["chi2", "theils-u", "spearman", "kendall",
                            "fd", "mi"])
    p.add_argument("--x", required=True)
    p.add_argument("--y", required=True)
    p.add_argument("--top", type=int, default=10,
                   help="mi: number of top cells to print")
    p = sub.add_parser("graph", help="graph analytics over an edge-list "
                       "parquet (pagerank/triangles/kcore/lpa/seed-distance)")
    p.add_argument("--edges", required=True)
    p.add_argument("--op", required=True,
                   choices=["pagerank", "triangles", "kcore", "lpa", "modularity",
                            "seed-distance"])
    p.add_argument("--src", default="src")
    p.add_argument("--dst", default="dst")
    p.add_argument("--iters", type=int, default=8)
    p.add_argument("--k", type=int, default=2)
    p.add_argument("--hops", type=int, default=4)
    p.add_argument("--seeds", help="parquet with the seed node column")
    p.add_argument("--seed-col", default="node")
    p.add_argument("--out", help="write the per-node frame here")
    p = sub.add_parser("skew", help="shuffle-key skew pre-flight report")
    p.add_argument("--table", required=True, help="parquet path to diagnose")
    p.add_argument("--keys", required=True,
                   help="comma-separated join/groupBy key columns")
    p.add_argument("--top", type=int, default=10)

    p = sub.add_parser("drift", help="streaming CUSUM + seasonality monitor "
                                     "over a daily-count store")
    p.add_argument("--events", required=True, help="events parquet dir to fold")
    p.add_argument("--store", required=True, help="daily-count store path")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--group", default="event_type",
                   help="comma-separated grouping columns")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--compact", action="store_true",
                   help="fold store history after catch-up")

    p = sub.add_parser("cdc", help="content-defined chunking storage-dedup "
                                   "report")
    p.add_argument("--docs", required=True, help="documents parquet")
    p.add_argument("--k", type=int, default=4, help="shingle width")
    p.add_argument("--mod", type=int, default=16,
                   help="cut modulus (expected chunk words)")

    p = sub.add_parser("hist", help="Freedman-Diaconis auto-binned histogram")
    p.add_argument("--table", required=True)
    p.add_argument("--column", required=True, help="numeric column to bin")

    p = sub.add_parser("plan-epochs",
                       help="token-budget waterfill across sources "
                            "(per-source epoch caps)")
    p.add_argument("--docs", required=True, help="documents parquet")
    g = p.add_mutually_exclusive_group()
    g.add_argument("--budget-tokens", type=float, default=None)
    g.add_argument("--budget-ratio", type=float, default=1.0,
                   help="budget as a multiple of total corpus tokens")
    p.add_argument("--caps", default="",
                   help="per-source epoch caps, e.g. 'web=1,code=4'")
    p.add_argument("--default-cap", type=float, default=4.0)

    p = sub.add_parser("tag", help="dictionary keyword tagging")
    p.add_argument("--docs", required=True)
    p.add_argument("--out", required=True, help="tags output parquet")
    p.add_argument("--keywords", required=True, help="comma-separated terms")
    p.add_argument("--large", action="store_true",
                   help="Aho-Corasick one-pass path (large dictionaries)")

    p = sub.add_parser("media", help="multimodal decode stats / image near-dup")
    p.add_argument("--media", default=None,
                   help="media parquet (MEDIA_SCHEMA columns)")
    p.add_argument("--docs", default=None,
                   help="synthesize demo media (real PNG/WAV) from a "
                        "documents parquet instead")
    p.add_argument("--op", default="pixels",
                   choices=["pixels", "audio", "spectral", "ahash",
                            "neardup", "frames"])
    p.add_argument("--out", required=True, help="result parquet")
    p.add_argument("--max-hamming", type=int, default=5,
                   help="near-dup radius (neardup op, <= 7)")
    p.add_argument("--strict", action="store_true",
                   help="raise on payloads the stdlib decoders cannot reach")

    p = sub.add_parser("stream", help="continuous ingest")
    p.add_argument("--raw", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--entries", default=None,
                   help="also materialize entries incrementally per batch "
                        "(continuous index-events mode; the O(batch) delta "
                        "merge on block-aligned source files, else a "
                        "restricted replay, detected at the first batch)")
    p.add_argument("--once", action="store_true", help="catch-up then stop")
    p.add_argument("--interval", type=int, default=30)
    p.add_argument("--timeout", type=int, default=None)
    p.add_argument("--progress-interval", type=float, default=15.0,
                   help="engine status-line cadence, seconds (T5)")

    args = ap.parse_args(argv)
    {
        "extract": cmd_extract,
        "index": cmd_index,
        "scan": cmd_scan,
        "status": cmd_status,
        "events": cmd_events,
        "sql": cmd_sql,
        "compact": cmd_compact,
        "reorg": cmd_reorg,
        "curate": cmd_curate, "search": cmd_search,
        "layout": cmd_layout, "dsir": cmd_dsir, "pca": cmd_pca,
        "quality": cmd_quality,
        "calibrate": cmd_calibrate,
        "eval": cmd_eval,
        "decontam": cmd_decontam, "ann": cmd_ann,
        "dedup-index": cmd_dedup_index, "embed": cmd_embed,
        "bpe": cmd_bpe, "stream": cmd_stream,
        "buckets": cmd_buckets, "pseudo": cmd_pseudo,
        "manifest": cmd_manifest,
        "check": cmd_check, "report": cmd_report, "bff": cmd_bff,
        "link": cmd_link,
        "ab": cmd_ab,
        "abmon": cmd_abmon,
        "survival": cmd_survival,
        "assoc": cmd_assoc,
        "graph": cmd_graph,
        "skew": cmd_skew, "plan-epochs": cmd_plan_epochs, "tag": cmd_tag,
        "hist": cmd_hist, "drift": cmd_drift, "cdc": cmd_cdc,
        "media": cmd_media,
    }[args.cmd](args)


if __name__ == "__main__":
    main()
