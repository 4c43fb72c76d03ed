"""Unit semantics for the corpus-building operators (edge cases beyond
the oracle gate): chunk boundaries, split determinism, filter reasons,
survivor sets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hypermap_etl_spark.operators import corpus, dedup


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def test_token_chunks_boundaries(spark):
    docs = _docs(spark, [
        " ".join(f"w{i}" for i in range(10)),   # single short chunk
        " ".join(f"w{i}" for i in range(64)),   # exactly one full chunk
        " ".join(f"w{i}" for i in range(65)),   # one token past -> 2 chunks
        "",                                      # no tokens -> no chunks
    ])
    out = corpus.token_chunks(docs, chunk_tokens=64, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    assert [r["n_tokens"] for r in by_doc[0]] == [10]
    assert [r["n_tokens"] for r in by_doc[1]] == [64]
    chunks2 = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in chunks2] == [64, 9]
    # overlap: chunk 1 starts at token 56, so its first 8 tokens repeat
    assert chunks2[1]["chunk_text"].split()[:8] == chunks2[0]["chunk_text"].split()[56:]


def test_token_chunks_cover_all_tokens(spark):
    docs = _docs(spark, [" ".join(f"t{i}" for i in range(200))])
    out = corpus.token_chunks(docs, chunk_tokens=64, overlap=8).collect()
    seen = set()
    for r in out:
        start = r["chunk_id"] * 56
        seen.update(range(start, start + r["n_tokens"]))
    assert seen == set(range(200))


def test_hash_split_deterministic_and_partitioned(spark):
    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in corpus.hash_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in corpus.hash_split(docs).collect()}
    assert a == b
    frac = {s: sum(1 for v in a.values() if v == s) / len(a) for s in ("train", "val", "test")}
    assert frac["train"] > 0.95 and 0 < frac["val"] < 0.05 and 0 < frac["test"] < 0.05


def test_group_split_cotravel_and_nulls(spark):
    docs = spark.createDataFrame(
        [(i, f"site{i % 40}" if i % 7 else None) for i in range(2000)],
        "doc_id long, source string",
    )
    rows = corpus.group_split(docs, "source", val_buckets=40,
                              test_buckets=40).collect()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r["source"], set()).add(r["split"])
    # every group is entirely inside one split (the leakage-safe property)
    assert all(len(s) == 1 for g, s in by_group.items() if g is not None)
    # with 40 groups and ~1/3 buckets each way, all three splits occur
    assert {next(iter(s)) for g, s in by_group.items() if g is not None} == {
        "train", "val", "test"
    }
    # NULL group keys fall through to train, deterministically
    assert by_group[None] == {"train"}
    with pytest.raises(ValueError, match="not in frame"):
        corpus.group_split(docs, "nope")


def test_group_split_composes_with_duplicate_clusters(spark):
    """The leakage-safe recipe: near-dup pairs -> connected components
    -> split by cluster_id; every member of a dup cluster co-travels."""
    from hypermap_etl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    clusters = duplicate_clusters(pairs)
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 99]], "doc_id long"
    )
    keyed = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("gkey"),
    )
    out = {
        r["doc_id"]: r["split"]
        for r in corpus.group_split(keyed, "gkey").collect()
    }
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11]
    assert set(out) == {1, 2, 3, 10, 11, 99}


def test_train_filter_reasons(spark):
    good = "the quick brown fox and the lazy dog walk to the park in a morning with a friend on the way for fun"
    docs = spark.createDataFrame(
        [(0, good), (1, "x y z"), (2, good + " !!!???;;;###@@@&&&***(((" * 9)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in corpus.train_filter(docs).collect()}
    assert out[0]["keep"] and out[0]["reasons"] == ""
    assert not out[1]["keep"] and "short" in out[1]["reasons"]
    assert not out[2]["keep"] and "punct" in out[2]["reasons"]


def test_dedup_survivors(spark):
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(6)], "doc_id long, text string")
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (4, 4), (5, 4)], "doc_id long, cluster_id long"
    )
    kept = sorted(r["doc_id"] for r in corpus.dedup_survivors(docs, clusters).collect())
    assert kept == [0, 3, 4]


def test_dedup_survivors_best_keeps_highest_score(spark):
    """Keep-best policy: each cluster's survivor is its max-score
    member (ties → lowest id); singletons always survive."""
    docs = spark.createDataFrame(
        [(0, 0.2), (1, 0.9), (2, 0.9), (3, 0.1), (4, 0.5), (5, 0.4)],
        "doc_id long, quality_score double",
    )
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (4, 4), (5, 4)], "doc_id long, cluster_id long"
    )
    kept = sorted(
        r["doc_id"]
        for r in corpus.dedup_survivors_best(docs, clusters, "quality_score").collect()
    )
    # cluster {0,1,2}: 1 and 2 tie at 0.9 → 1 (lowest id); cluster
    # {4,5}: 4 wins on 0.5; 3 is a singleton
    assert kept == [1, 3, 4]


def test_cap_per_source_deterministic_and_bounded(spark):
    """Per-source cap: over-cap sources keep exactly cap docs — the
    md5-order winners a python recomputation selects — and under-cap
    sources pass through untouched."""
    import hashlib

    rows = [(i, "hot") for i in range(20)] + [(100 + i, "cold") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpus.cap_per_source(docs, cap=5, source_col="source")
    got = {}
    for r in out.collect():
        got.setdefault(r["source"], []).append(r["doc_id"])
    assert sorted(got["cold"]) == [100, 101, 102]
    want_hot = sorted(
        range(20), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:5]
    assert sorted(got["hot"]) == sorted(want_hot)
    # exactly-at-cap sources are untouched too (no shuffle path)
    docs_eq = spark.createDataFrame(
        [(i, "s") for i in range(5)], "doc_id long, source string"
    )
    assert corpus.cap_per_source(docs_eq, cap=5).count() == 5


def test_pack_sequences_budget_and_order(spark):
    """Within a bucket, packs are assigned in (doc_id, chunk_id) order
    and each pack's token total stays under budget + one chunk length
    (the streaming-packing overflow bound)."""
    docs = _docs(spark, [" ".join(f"w{i}" for i in range(300)) for _ in range(20)])
    chunks = corpus.token_chunks(docs, chunk_tokens=64, overlap=8)
    packed = corpus.pack_sequences(chunks, max_tokens=128, n_buckets=4).collect()
    assert packed and all(r["pack_id"] >= 0 for r in packed)
    totals = {}
    for r in packed:
        totals.setdefault((r["bucket"], r["pack_id"]), []).append(r["n_tokens"])
    for (_, _), toks in totals.items():
        assert sum(toks) <= 128 + 64  # budget + max one straddling chunk
    # a doc's consecutive chunks never go to a smaller pack
    by_doc = {}
    for r in sorted(packed, key=lambda r: (r["doc_id"], r["chunk_id"])):
        prev = by_doc.get(r["doc_id"])
        assert prev is None or r["pack_id"] >= prev
        by_doc[r["doc_id"]] = r["pack_id"]


def test_pack_sequences_rejects_colliding_carry(spark):
    """A carried column named like an output column raises at call time
    instead of surfacing later as an ambiguous-column error; other
    carried columns ride through unchanged."""
    docs = _docs(spark, ["a b c d e f"])
    chunks = corpus.token_chunks(docs, chunk_tokens=4, overlap=0)
    for name in ("doc_id", "chunk_id", "bucket", "n_tokens", "pack_id"):
        with pytest.raises(ValueError, match=name):
            corpus.pack_sequences(chunks, carry=[name])
    packed = corpus.pack_sequences(chunks.withColumn("src", F.lit("s")), carry=["src"])
    assert packed.columns[-1] == "src"
    assert {r["src"] for r in packed.collect()} == {"s"}


def test_tfidf_top_terms_ranks_distinctive_words(spark):
    from hypermap_etl_spark.operators import textstats

    common = "the cat sat on the mat"
    docs = _docs(spark, [
        common + " zebra zebra zebra",
        common + " piano piano",
        common,
    ])
    out = textstats.tfidf_top_terms(docs, k=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    assert top[0] == "zebra" and top[1] == "piano"
    for r in out:
        assert r["rank"] == 1 and r["score"] > 0


def test_stratified_sample_rates_and_determinism(spark):
    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    out = corpus.stratified_sample(docs, "lang", {"en": 0.25, "de": 1.0})
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in out.collect()}
    assert a == b  # layout-independent determinism
    n_en = sum(1 for d in a if d % 2 == 0)
    n_de = sum(1 for d in a if d % 2 == 1)
    assert n_de == 2000  # rate 1.0 keeps everything (hex-threshold edge)
    assert 0.2 * 2000 < n_en < 0.3 * 2000
    # rate 0 drops the stratum entirely
    none = corpus.stratified_sample(docs, "lang", {"en": 0.0, "de": 0.0})
    assert none.count() == 0


# --- hypothesis: chunking/packing invariants ------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    counts=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=8),
    chunk=st.integers(min_value=8, max_value=96),
    overlap=st.integers(min_value=0, max_value=7),
)
def test_token_chunks_properties(spark, counts, chunk, overlap):
    """For arbitrary word counts and window params: every token covered
    exactly by the stride positions, chunk count matches the closed
    form, every chunk is non-empty and ≤ chunk_tokens."""
    docs = _docs(spark, [" ".join(f"w{i}" for i in range(n)) for n in counts])
    out = corpus.token_chunks(docs, chunk_tokens=chunk, overlap=overlap).collect()
    stride = chunk - overlap
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, n in enumerate(counts):
        rows = sorted(by_doc.get(doc_id, []), key=lambda r: r["chunk_id"])
        if n == 0:
            assert rows == []
            continue
        expected = 1 if n <= chunk else -(-(n - chunk) // stride) + 1
        assert len(rows) == expected, (n, chunk, overlap)
        seen = set()
        for r in rows:
            assert 1 <= r["n_tokens"] <= chunk
            start = r["chunk_id"] * stride
            seen.update(range(start, start + r["n_tokens"]))
        assert seen == set(range(n)), (n, chunk, overlap)


def test_vocab_table_rank_and_coverage(spark):
    docs = spark.createDataFrame(
        [(1, "b a a"), (2, "a c b")], "doc_id long, text string"
    )
    from hypermap_etl_spark.operators.corpus import vocab_table

    rows = {r["term"]: r.asDict() for r in vocab_table(docs, top_k=2).collect()}
    # a:3, b:2, c:1 -> top-2 = a, b; shares over the FULL total (6)
    assert set(rows) == {"a", "b"}
    assert rows["a"]["rank"] == 1 and rows["a"]["n"] == 3
    assert rows["a"]["cum_share"] == round(3 / 6, 6)
    assert rows["b"]["rank"] == 2 and rows["b"]["cum_share"] == round(5 / 6, 6)


def test_source_mix_token_shares(spark):
    docs = spark.createDataFrame(
        [
            (1, "one two three", "s1", "en"),
            (2, "uno dos", "s1", "es"),
            (3, "four five six seven", "s2", "en"),
        ],
        "doc_id long, text string, source string, lang string",
    )
    from hypermap_etl_spark.operators.corpus import source_mix

    rows = {(r["source"], r["lang"]): r.asDict() for r in source_mix(docs).collect()}
    assert rows[("s1", "en")]["n_tokens"] == 3
    assert rows[("s1", "es")]["n_docs"] == 1
    assert rows[("s2", "en")]["token_share"] == round(4 / 9, 6)
    assert abs(sum(r["token_share"] for r in rows.values()) - 1.0) < 1e-5


def test_shard_assignments_deterministic_and_dense(spark):
    from hypermap_etl_spark.operators.corpus import shard_assignments

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    a = {r["doc_id"]: (r["shard"], r["pos"]) for r in shard_assignments(docs, 4).collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"]) for r in shard_assignments(docs, 4).collect()}
    assert a == b  # rerun-stable
    assert all(0 <= s < 4 for s, _ in a.values())
    # positions within each shard are dense 0..k-1
    from collections import defaultdict

    by_shard = defaultdict(list)
    for s, p in a.values():
        by_shard[s].append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps))), s


def test_temperature_mix_limits_and_shares(spark):
    """T=1 reproduces the natural mix (keeps everything); higher T
    downsamples the dominant stratum toward uniform while the rarest
    stratum keeps fraction 1 (filter-only, never upsampled)."""
    from hypermap_etl_spark.operators.corpus import temperature_mix

    rows = [(i, "big") for i in range(900)] + [(900 + i, "small") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")

    kept1 = temperature_mix(docs, temperature=1.0)
    assert kept1.count() == 1000  # natural mix = keep all

    kept = temperature_mix(docs, temperature=100.0)
    fr = {r["lang"]: r["keep_frac"] for r in kept.select("lang", "keep_frac").distinct().collect()}
    assert fr["small"] == 1.0
    assert 0.05 < fr["big"] < 0.25  # ~1/9 at T→∞ (shares → uniform)
    n_big = kept.filter(F.col("lang") == "big").count()
    n_small = kept.filter(F.col("lang") == "small").count()
    assert n_small > 90
    # realized big count tracks the md5-thresholded expectation
    assert abs(n_big - 900 * fr["big"]) < 60


def test_weighted_sample_matches_local_recompute(spark):
    """A-ES determinism: the k winners equal a local recomputation of
    the exact ln(u)/w keys; repeated runs agree; k >= population
    returns every positive-weight row."""
    import hashlib
    import math

    rows = [(i, (i * 37) % 19 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = sorted(r["doc_id"] for r in corpus.weighted_sample(df, "w", k=25).collect())
    got2 = sorted(r["doc_id"] for r in corpus.weighted_sample(df, "w", k=25).collect())
    assert got == got2

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        return math.log((h + 1.0) / 2**32) / w

    want = sorted(
        i for i, _ in sorted(rows, key=lambda r: (-key(*r), r[0]))[:25]
    )
    assert got == want

    all_ = corpus.weighted_sample(df, "w", k=1000).count()
    assert all_ == 200


def test_weighted_sample_drops_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -1), (4, None)], "doc_id long, w long"
    )
    got = [r["doc_id"] for r in corpus.weighted_sample(df, "w", k=10).collect()]
    assert got == [1]


def test_ngram_table_counts_and_ties(spark):
    docs = _docs(spark, ["a b a b c", "a b x", "zz"])
    rows = corpus.ngram_table(docs, n=2, top_k=10).collect()
    by_gram = {r["gram"]: (r["n"], r["rank"]) for r in rows}
    assert by_gram["a b"] == (3, 1)          # 2 in doc0 + 1 in doc1
    assert by_gram["b a"] == (1, 2)          # count ties broken gram-asc
    assert by_gram["b c"][0] == 1 and by_gram["b x"][0] == 1
    assert "zz" not in by_gram               # 1-word doc -> no bigrams


def test_curate_pipeline_char_grain_span_surgery(spark):
    """span_grain='char': after the full pipeline no >=30-char window
    may be duplicated across DISTINCT output texts (the keep-first
    copy legitimately survives once)."""
    shared = "all rights reserved and subject to the terms of service"
    # every 30-char window of the filler carries a doc-specific token,
    # so filler never forms cross-doc duplicated spans of its own (the
    # operator cuts EXACT maximal repeats; near-identical islands hash
    # apart by contract)
    filler = lambda tag: " ".join(
        f"the {tag}{i} view of the {tag}{i+1} is near the {tag}{i+2} side"
        for i in range(0, 24, 3)
    )
    rows = [
        (1, "the first article is about rivers and the flow of water "
            + shared + " with a closing note on tides " + filler("river")),
        (2, "the second article is about mountains and the shape of stone "
            + shared + " with an appendix on maps " + filler("peak")),
        (3, "the third article is about forests and the role of moss in "
            "the shade with no shared legal footer at all " + filler("moss")),
    ]
    from hypermap_etl_spark.util import release_persisted

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    documents, _chunks, rep = corpus.curate_pipeline(
        docs, min_words=3, cut_dup_spans=True, span_grain="char",
        span_chars=30, redact=False,
    )
    texts = {r["doc_id"]: r["text"] for r in documents.collect()}
    release_persisted()
    L = 30
    grams = {}
    for d, t in texts.items():
        for i in range(len(t) - L + 1):
            grams.setdefault(t[i : i + L], set()).add(d)
    dup = [g for g, ds in grams.items() if len(ds) > 1]
    assert not dup, dup[:3]
    # keep-first: the shared run survives in exactly one doc
    assert sum(shared in t for t in texts.values()) == 1
    assert rep["span_cut_docs"] == 1


def test_curate_pipeline_normalize_and_c4_stages(spark):
    """normalize canonicalizes whitespace/Unicode before filtering; c4
    drops pages failing the line rules before the quality gate, and the
    report accounts both."""
    from hypermap_etl_spark.operators.corpus import curate_pipeline
    from hypermap_etl_spark.util import release_persisted

    good_line = ("the quick brown fox jumps over the lazy dog while many "
                 "other words fill this line to pass every filter easily.")
    page = "\n".join([good_line, good_line, good_line])
    rows = [
        (1, page),                                  # survives c4
        (2, good_line + "\n" + "too short."),       # < 3 kept lines
        (3, page.replace("fox", "fox  Å")),     # survives; needs NFC+collapse
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        documents, chunks, report = curate_pipeline(
            docs,
            min_words=10,
            normalize=True,
            c4=True,
            n_shards=2,
            chunk_tokens=16,
            overlap=2,
            pack_tokens=64,
        )
        out = {r["doc_id"]: r["text"] for r in documents.collect()}
        assert report["dropped_c4"] == 1 and 2 not in out
        # normalization ran on the c4 survivors: double space
        # collapsed, angstrom sign NFC'd (U+212B -> U+00C5)
        assert 3 in out and "  " not in out[3] and "Å" in out[3]
        assert report["docs_in"] == 3
        assert report["dropped_quality"] == 0
    finally:
        release_persisted()


def test_pack_efficiency_known_values(spark):
    """fill_ratio = sum_tokens / (n_packs * max_tokens), straddle can
    push a bucket over 1.0 but never doubles the capacity."""
    from hypermap_etl_spark.operators.corpus import pack_efficiency

    packs = spark.createDataFrame(
        # bucket 0: two packs, 600 tokens -> 600/1024
        [(1, 0, 0, 300, 0), (1, 1, 0, 300, 1),
         # bucket 1: one pack exactly full
         (2, 0, 1, 512, 0)],
        "doc_id long, chunk_id long, bucket long, n_tokens long, pack_id long",
    )
    out = {r["bucket"]: r.asDict() for r in pack_efficiency(packs).collect()}
    assert out[0]["n_packs"] == 2 and out[0]["sum_tokens"] == 600
    assert out[0]["capacity"] == 1024 and out[0]["fill_ratio"] == round(600/1024, 6)
    assert out[1]["fill_ratio"] == 1.0 and out[1]["n_chunks"] == 1


def test_pack_sequences_strict_respects_budget(spark):
    from hypermap_etl_spark.operators.corpus import (
        pack_efficiency,
        pack_sequences_strict,
    )

    chunks = spark.createDataFrame(
        # one bucket-worth of sizes that straddle under the cumsum rule
        [(1, 0, 300), (1, 1, 300), (1, 2, 200), (1, 3, 500), (1, 4, 600)],
        "doc_id long, chunk_id long, n_tokens long",
    )
    out = pack_sequences_strict(chunks, max_tokens=512, n_buckets=1)
    rows = {(r["doc_id"], r["chunk_id"]): r["pack_id"] for r in out.collect()}
    # next-fit: [300]->p0, 300 overflows->p1, +200=500 fits p1,
    # 500 overflows->p2, 600>max alone->p3
    assert rows == {(1, 0): 0, (1, 1): 1, (1, 2): 1, (1, 3): 2, (1, 4): 3}

    # budget invariant: no pack of <=max chunks exceeds max_tokens
    per_pack = (
        out.filter("n_tokens <= 512")
        .groupBy("bucket", "pack_id")
        .sum("n_tokens")
        .collect()
    )
    assert all(r["sum(n_tokens)"] <= 512 for r in per_pack)


def test_pack_sequences_strict_budget_property_on_fixtures(spark):
    """On the real fixture chunks: every pack (of fit-able chunks) is
    within budget, and the id space is the pack_sequences shape."""
    from hypermap_etl_spark.operators.corpus import (
        pack_sequences_strict,
        token_chunks,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunks = token_chunks(docs, chunk_tokens=64, overlap=8)
    packed = pack_sequences_strict(chunks, max_tokens=512, n_buckets=32)
    assert packed.count() == chunks.count()
    per_pack = packed.groupBy("bucket", "pack_id").sum("n_tokens").collect()
    # token_chunks emits chunks <= 64 << 512, so EVERY pack fits
    assert all(r["sum(n_tokens)"] <= 512 for r in per_pack)


def test_curate_pipeline_strict_packing(spark):
    """strict_packing=True: every emitted pack is within the token
    budget (the straddle splitter can exceed it)."""
    from pyspark.sql import functions as F2

    from hypermap_etl_spark.operators.corpus import curate_pipeline
    from hypermap_etl_spark.util import release_persisted

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    try:
        _, chunks, _ = curate_pipeline(
            docs, strict_packing=True, with_report=False,
            chunk_tokens=64, overlap=8, pack_tokens=128,
        )
        # pack_id is globally unique in the pipeline output (bucket
        # folded in), so grouping by it alone is the loader's view
        per_pack = (
            chunks.groupBy("pack_id").agg(F2.sum("n_tokens").alias("t")).collect()
        )
        assert per_pack and all(r["t"] <= 128 for r in per_pack)
    finally:
        release_persisted()


def test_curate_pipeline_model_filter_stage(spark):
    """The CCNet stage-two trained filter: train on a planted split,
    feed the weights to the pipeline, and the model stage must prune
    exactly the spam docs the heuristics cannot see (they pass
    length/lang rules) — with the report accounting them separately
    from the heuristic drops."""
    from hypermap_etl_spark.operators.corpus import curate_pipeline
    from hypermap_etl_spark.operators.quality_model import (
        train_quality_classifier,
    )
    from hypermap_etl_spark.util import release_persisted

    # both classes must PASS the heuristic gate (~100+ words, enough
    # stopwords) — the whole point is that only the model separates
    clean = ("the measured study of language data reads clearly and it "
             "is written plainly for you to follow with care. ") * 8
    spam = ("buy cheap pills now and click here to win the jackpot for "
            "you with free offer deal casino bonus prize money. ") * 8
    train_rows = [(i, clean + f" variant {i}", 1) for i in range(40)] + [
        (100 + i, spam + f" variant {i}", 0) for i in range(40)
    ]
    labeled = spark.createDataFrame(
        train_rows, "doc_id long, text string, label long"
    )
    model = train_quality_classifier(labeled, dim=64, max_iter=50)

    corpus_rows = [(i, clean + f" item {i}") for i in range(10)] + [
        (50 + i, spam + f" item {i}") for i in range(5)
    ]
    docs = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    try:
        documents, _chunks, report = curate_pipeline(
            docs,
            min_words=10,
            dedup_threshold=0.95,
            model_weights=model["weights"],
            model_bias=model["bias"],
            n_shards=2,
            chunk_tokens=16,
            overlap=2,
            pack_tokens=64,
        )
        out_ids = {r["doc_id"] for r in documents.collect()}
        assert report["dropped_model"] == 5
        assert all(i not in out_ids for i in range(50, 55))
        assert report["dropped_quality"] == 0  # heuristics saw no spam
        # without the model stage the spam sails through
        documents2, _c2, report2 = curate_pipeline(
            docs, min_words=10, dedup_threshold=0.95, n_shards=2,
            chunk_tokens=16, overlap=2, pack_tokens=64,
        )
        assert report2["dropped_model"] == 0
        assert {r["doc_id"] for r in documents2.collect()} >= set(
            range(50, 55)
        ) or report2["dropped_dups"] > 0  # spam may near-dup-collapse
    finally:
        release_persisted()


def test_curate_pipeline_strip_boiler_stage(spark):
    """strip_boiler removes per-source recurring lines BEFORE the
    quality gate; the report counts stripped lines; a missing source
    column is an explicit error."""
    from hypermap_etl_spark.util import release_persisted

    def body(tag):
        return " ".join(
            f"the {tag}{j} fox jumps over the lazy {tag}{j+1} dog while "
            f"many other animals watch from the shade of the old tree and"
            for j in range(0, 24, 2)
        )

    rows = [
        (i, "siteA", f"COOKIE BANNER TEXT\n{body(f'w{i}x')} unique tail {i}")
        for i in range(4)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    documents, _chunks, rep = corpus.curate_pipeline(
        docs, min_words=3, strip_boiler=True, boiler_min_docs=3, redact=False
    )
    texts = [r["text"] for r in documents.collect()]
    release_persisted()
    assert texts and all("COOKIE BANNER" not in t for t in texts)
    assert rep["boilerplate_lines"] == 4
    assert rep["docs_out"] == 4

    with pytest.raises(ValueError, match="source column"):
        corpus.curate_pipeline(docs.drop("source"), strip_boiler=True)


def test_sentence_chunks_semantics(spark):
    docs = spark.createDataFrame([
        (1, "one two three. four five six seven! eight nine? "
            "ten eleven twelve thirteen."),
        (2, "a b c d e f g h i j k l m n o p q r s t."),
        (3, ""),
        (4, "short one. short two. short three."),
    ], "doc_id long, text string")
    rows = corpus.sentence_chunks(docs, max_tokens=6).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for v in by_doc.values():
        v.sort(key=lambda r: r["chunk_id"])
    # greedy next-fit at sentence grain, order preserved
    assert [r["chunk_text"] for r in by_doc[1]] == [
        "one two three.",
        "four five six seven! eight nine?",
        "ten eleven twelve thirteen.",
    ]
    assert [r["n_tokens"] for r in by_doc[1]] == [3, 6, 4]
    assert [r["n_sentences"] for r in by_doc[1]] == [1, 2, 1]
    # an oversize single sentence gets its own (overflowing) chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 20
    # a doc with no sentences emits nothing
    assert 3 not in by_doc
    # within-budget sentences share one chunk
    assert len(by_doc[4]) == 1 and by_doc[4][0]["n_sentences"] == 3
    # no chunk except oversize singles exceeds the budget
    for v in by_doc.values():
        for r in v:
            assert r["n_tokens"] <= 6 or r["n_sentences"] == 1
    # shuffle-free contract
    plan = corpus.sentence_chunks(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="max_tokens"):
        corpus.sentence_chunks(docs, max_tokens=0)


def _plan(spark, budget, rows=((100, 1.0), (100, 2.0), (100, 4.0))):
    from pyspark.sql import Row

    per = spark.createDataFrame(
        [Row(source=f"s{i}", tokens=c, max_epochs=e) for i, (c, e) in enumerate(rows)]
    )
    return {
        r["source"]: (r["epochs"], r["alloc_tokens"])
        for r in corpus.epoch_plan(per, budget).collect()
    }


def test_epoch_plan_waterline_between_caps(spark):
    # B=600 over caps 1/2/4 with 100 tokens each: s0 capped at 1,
    # s1 capped at 2, s2 floats at t=3; allocations sum to the budget
    got = _plan(spark, 600.0)
    assert got == {"s0": (1.0, 100.0), "s1": (2.0, 200.0), "s2": (3.0, 300.0)}


def test_epoch_plan_saturates_at_capacity(spark):
    # capacity is 100*1+100*2+100*4 = 700; any budget >= that caps all
    for budget in (700.0, 10_000.0):
        got = _plan(spark, budget)
        assert got == {
            "s0": (1.0, 100.0),
            "s1": (2.0, 200.0),
            "s2": (4.0, 400.0),
        }


def test_epoch_plan_small_budget_uniform_line(spark):
    # B=150 < 300*1: nothing capped, everything floats at t=0.5
    got = _plan(spark, 150.0)
    assert got == {"s0": (0.5, 50.0), "s1": (0.5, 50.0), "s2": (0.5, 50.0)}


def test_epoch_plan_zero_budget_and_empty_source(spark):
    got = _plan(spark, 0.0, rows=((100, 2.0), (0, 3.0)))
    assert got["s0"] == (0.0, 0.0)
    assert got["s1"] == (0.0, 0.0)


def test_epoch_plan_rejects_negative_budget(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="budget"):
        _plan(spark, -1.0)


def test_apportion_exact_total_and_quota_bound(spark):
    from pyspark.sql import Row

    per = spark.createDataFrame(
        [Row(source=f"s{i}", weight=w) for i, w in enumerate([5, 3, 3, 1, 1])]
    )
    got = {r["source"]: r for r in corpus.apportion(per, 10).collect()}
    assert sum(r["alloc"] for r in got.values()) == 10
    for r in got.values():
        assert abs(r["alloc"] - r["quota"]) < 1.0  # within-1 property
    # 10 * 5/13 = 3.846 -> s0 gets 4 (largest remainder)
    assert got["s0"]["alloc"] == 4


def test_apportion_zero_weights_and_edge_totals(spark):
    from pyspark.sql import Row

    per = spark.createDataFrame(
        [Row(source="a", weight=0), Row(source="b", weight=7)]
    )
    got = {r["source"]: r["alloc"] for r in corpus.apportion(per, 5).collect()}
    assert got == {"a": 0, "b": 5}
    got0 = {r["source"]: r["alloc"] for r in corpus.apportion(per, 0).collect()}
    assert got0 == {"a": 0, "b": 0}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="total"):
        corpus.apportion(per, -1)


def test_apportion_all_zero_weights_allocates_nothing(spark):
    from pyspark.sql import Row

    per = spark.createDataFrame(
        [Row(source="a", weight=0), Row(source="b", weight=0)]
    )
    got = {r["source"]: r["alloc"] for r in corpus.apportion(per, 5).collect()}
    # the total is unallocatable: no weightless group receives seats
    assert got == {"a": 0, "b": 0}
