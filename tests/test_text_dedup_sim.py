"""Unit semantics for the LLM-data operators (beyond the oracle parity):
dedup recall/precision on crafted corpora, shingle edge cases, marker
counting, LSH bucket behavior.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hypermap_etl_spark.operators import dedup, similarity, textstats


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
FAR = "completely different content about spark query engines and columnar io"


def test_exact_dedup(spark):
    d = _docs(spark, [BASE, BASE, FAR, BASE])
    out = dedup.exact_dup_groups(d).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 0 and out[0]["n_copies"] == 3


def test_ngram_jaccard_finds_near_pair_only(spark):
    d = _docs(spark, [BASE, NEAR, FAR])
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(0, 1)]
    assert 0.5 <= pairs[0]["jaccard"] < 1.0


def test_ngram_hot_shingle_cap_bounds_join(spark):
    """A boilerplate shingle shared by every doc must not quadratically
    blow the co-occurrence join when max_doc_freq is set, and true
    near-dup pairs must survive the cap."""
    rows = [(i, f"legal boiler plate x{i} y{i} z{i} w{i}") for i in range(30)]
    # a genuine near-dup pair sharing many non-hot shingles
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta"),
             (101, "alpha beta gamma delta epsilon zeta eta iota")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # uncapped: the hot shingle alone contributes C(30,2)=435 join rows
    full = dedup.capped_shingle_index(docs, n=3)
    capped = dedup.capped_shingle_index(docs, n=3, max_doc_freq=5)
    join_rows = lambda sh: (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .count()
    )
    assert join_rows(full) >= 435
    assert join_rows(capped) < 50

    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(100, 101)}


def test_minhash_matches_exact(spark):
    d = _docs(spark, [BASE, NEAR, FAR, BASE + " extra"])
    exact = {(p["doc_a"], p["doc_b"]) for p in dedup.ngram_jaccard_pairs(d, 0.5).collect()}
    lsh = {(p["doc_a"], p["doc_b"]) for p in dedup.minhash_dedup_pairs(d, 0.5).collect()}
    assert lsh == exact


def test_simhash_identical_docs_zero_hamming(spark):
    d = _docs(spark, [BASE, BASE, FAR])
    sigs = {r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
            for r in dedup.simhash_signatures(d).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]
    pairs = dedup.simhash_dedup_pairs(d, threshold=0.9).collect()
    assert [(p["doc_a"], p["doc_b"], p["jaccard"]) for p in pairs] == [(0, 1, 1.0)]


def test_word_shingles_short_doc(spark):
    d = _docs(spark, ["two words", "one", ""])
    out = d.select(textstats.word_shingles(F.col("text")).alias("sh")).collect()
    assert all(r["sh"] == [] for r in out)


def test_count_occurrences_and_langid(spark):
    d = _docs(spark, ["the cat and the dog and the bird"])
    n = d.select(textstats.count_occurrences(
        F.concat(F.lit(" "), F.col("text"), F.lit(" ")), " the ").alias("n")).collect()[0]["n"]
    assert n == 3
    pred = textstats.language_id(d).collect()[0]
    assert pred["lang_pred"] == "en" and pred["score_en"] >= 5


def test_fingerprints_stability(spark):
    d = _docs(spark, [BASE, BASE.upper(), FAR])
    fps = {r["doc_id"]: r.asDict() for r in textstats.fingerprints(d).collect()}
    # normalization makes case-variants collide on both fingerprints
    assert fps[0]["fp_exact"] == fps[1]["fp_exact"]
    assert fps[0]["fp_shingle"] == fps[1]["fp_shingle"]
    assert fps[0]["fp_exact"] != fps[2]["fp_exact"]


def test_lsh_topk_recall_vs_exact(spark):
    import math
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(80):
        base = [rnd.gauss(0, 1) for _ in range(16)]
        rows.append((i, [float(x) for x in base]))
        rows.append((1000 + i, [float(x + rnd.gauss(0, 0.05)) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = similarity.brute_force_topk(emb, k=1, query_filter=F.col("vec_id") < 80)
    hits = exact.filter(F.col("neighbor_id") == F.col("query_id") + 1000).count()
    assert hits >= 75  # exact top-1 finds the planted twin
    approx = similarity.lsh_topk(emb, k=1, n_planes=4, dim=16, query_filter=F.col("vec_id") < 80)
    ahits = approx.filter(F.col("neighbor_id") == F.col("query_id") + 1000).count()
    assert ahits >= 60  # bucketed recall is high for planted twins


def test_lsh_topk_banded_beats_single_bucket(spark):
    """OR-amplified banding must dominate the single-bucket index on
    real (non-planted) fixture vectors, where single-bucket recall
    collapses (a true neighbor must match EVERY plane sign), and clear
    the gate threshold with margin."""
    from hypermap_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qf = F.col("vec_id") % 20 == 0
    exact = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    banded = similarity.lsh_topk_banded(emb, k=5, r=4, b=32, query_filter=qf)
    single = similarity.lsh_topk(emb, k=5, n_planes=8, query_filter=qf)
    r_banded = similarity.topk_recall(exact, banded, 5).collect()[0]["recall"]
    r_single = similarity.topk_recall(exact, single, 5).collect()[0]["recall"]
    assert r_banded >= 0.9, r_banded  # the emb_lsh_recall gate threshold
    assert r_banded > r_single + 0.5, (r_banded, r_single)


def test_topk_recall_exact_and_partial(spark):
    """recall is 1.0 when approx == exact; missing queries score 0 and
    partial overlaps score |hit|/k — queries come from the exact side."""
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], "query_id long, neighbor_id long"
    )
    assert similarity.topk_recall(exact, exact, 2).collect()[0].asDict() == {
        "n_queries": 2, "recall": 1.0,
    }
    # query 1: one of two hit; query 2: absent from approx -> 0
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (3, 30)], "query_id long, neighbor_id long"
    )
    row = similarity.topk_recall(exact, approx, 2).collect()[0]
    assert row["n_queries"] == 2 and row["recall"] == 0.25


def test_srp_neardup_matches_exact(spark):
    """Banded-SRP candidates + exact verify must reproduce the exact
    all-pairs result on the gate fixture (recall target 1e-6 miss)."""
    from hypermap_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    srp = set(map(tuple, similarity.srp_neardup_pairs(emb, 0.45).collect()))
    exact = set(map(tuple, similarity.cosine_neardup_pairs(emb, 0.45).collect()))
    assert srp == exact and len(exact) > 0


def test_srp_neardup_plan_is_equijoin_not_cartesian(spark):
    """The candidate join must shuffle on (band, value), never plan a
    nested-loop/cartesian over the corpus."""
    from hypermap_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    plan = similarity.srp_neardup_pairs(emb, 0.45)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_srp_banding_prunes_at_tight_thresholds():
    """The parameter picker must yield real pruning (b < 2^r) once the
    threshold is in the realistic near-dup range."""
    for t in (0.8, 0.9, 0.95):
        r, b = similarity.srp_banding(t)
        assert b < (1 << r), (t, r, b)
    # adversarially weak threshold: recall still drives the choice
    r, b = similarity.srp_banding(0.45)
    assert r * b <= 512


def test_ivf_topk_recall(spark):
    import random

    rnd = random.Random(11)
    rows = []
    for i in range(60):
        base = [rnd.gauss(0, 1) for _ in range(16)]
        rows.append((i, [float(x) for x in base]))
        rows.append((1000 + i, [float(x + rnd.gauss(0, 0.05)) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.ivf_topk(
        emb, k=1, n_centroids=4, n_probe=2, query_filter=F.col("vec_id") < 60
    )
    hits = out.filter(F.col("neighbor_id") == F.col("query_id") + 1000).count()
    assert hits >= 45  # planted twin found despite probing half the lists


def test_knn_label_vote_majority(spark):
    rows = [(i, [float(i % 2), 1.0 - (i % 2), 0.5], i % 2) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.knn_label_vote(emb, k=5, query_filter=F.col("vec_id") < 4).collect()
    for r in out:
        assert r["label_pred"] == r["query_id"] % 2


def _nuke_jvm_persistent_rdds(spark):
    """Order-proofing: clear the JVM persistent-RDD map itself, not just
    our registries, so the assertions below verify THIS test's operators
    rather than suite history (VERDICT r3 task 4)."""
    from hypermap_etl_spark import util

    util.release_persisted()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in list(jmap.values()):  # snapshot: unpersist mutates the map
        rdd.unpersist(False)


def test_tracked_persist_released_after_query(spark):
    """Operator-persisted frames (LSH candidates, SRP signatures) must be
    releasable deterministically: after release_persisted() the JVM's
    persistent-RDD map is empty (VERDICT r2 task 5)."""
    from hypermap_etl_spark import util

    _nuke_jvm_persistent_rdds(spark)
    d = _docs(spark, [BASE, NEAR, FAR])
    dedup.minhash_dedup_pairs(d, threshold=0.5).count()
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    similarity.srp_neardup_pairs(emb, 0.8, dim=3).count()
    assert len(util._TRACKED_PERSISTS) >= 2
    released = util.release_persisted()
    assert released >= 2
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.isEmpty(), f"{jmap.size()} persisted RDDs leaked"


def test_local_checkpoints_released_deterministically(spark):
    """Iterative operators (connected components, tree walks) must not
    accumulate localCheckpoint blocks across a long-lived session:
    after consuming their results, release_persisted() empties the
    JVM's persistent-RDD map (VERDICT r3 task 3)."""
    from hypermap_etl_spark import util
    from hypermap_etl_spark.operators import materialize

    _nuke_jvm_persistent_rdds(spark)

    # connected components over a chain — multiple star rounds, each
    # localCheckpoint-ed; superseded rounds must already be freed
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)] + [(100, 101)],
        "doc_a long, doc_b long",
    )
    clusters = {r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    assert all(clusters[i] == 0 for i in range(9)) and clusters[101] == 100
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.size() <= 1, (
        f"{jmap.size()} checkpoints alive mid-session — superseded star "
        "rounds must be freed as soon as the next round materializes"
    )

    # tree walk: full-name resolution + subtree sizes (entries +
    # per-level frontiers all checkpoint)
    entries = spark.createDataFrame(
        [
            ("0x" + "00" * 32, "", None),
            ("0xaa", "a", "0x" + "00" * 32),
            ("0xbb", "b", "0xaa"),
            ("0xcc", "c", "0xbb"),
        ],
        "namehash string, label string, parentHash string",
    )
    materialize.with_full_names(entries).count()
    materialize.subtree_sizes(entries).count()

    assert util.release_persisted() >= 1
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.isEmpty(), f"{jmap.size()} persisted RDDs leaked after release"


def test_srp_recall_curve_on_clustered_vectors(spark):
    """Property: across thresholds 0.5-0.9, banded-SRP recall vs the
    exact O(n^2) baseline stays >= 1 - 2*target_miss (VERDICT r2 task 7
    — pins srp_banding's (r, b) math against drift). With target_miss
    1e-6 and a few hundred true pairs, a single missed pair fails."""
    import random

    rnd = random.Random(7)
    dim = 16
    rows = []
    for i in range(120):
        base = [rnd.gauss(0, 1) for _ in range(dim)]
        rows.append((i, [float(x) for x in base]))
        # twin at high cosine (small noise) and cousin at moderate cosine
        rows.append((1000 + i, [float(x + rnd.gauss(0, 0.12)) for x in base]))
        rows.append((2000 + i, [float(x + rnd.gauss(0, 0.6)) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    for threshold in (0.5, 0.7, 0.9):
        exact = {
            (r["id_a"], r["id_b"])
            for r in similarity.cosine_neardup_pairs(emb, threshold).collect()
        }
        assert exact, f"degenerate fixture: no true pairs at {threshold}"
        got = {
            (r["id_a"], r["id_b"])
            for r in similarity.srp_neardup_pairs(emb, threshold, dim=dim).collect()
        }
        from hypermap_etl_spark.util import release_persisted

        release_persisted()
        recall = len(got & exact) / len(exact)
        assert recall >= 1.0 - 2e-6, (threshold, len(exact), len(got & exact))
        # exact verify => no false positives either
        assert got <= exact, (threshold, sorted(got - exact)[:5])


def test_duplicate_clusters_transitive(spark):
    """(1,2),(2,3),(3,4) must collapse into one cluster rooted at the
    min id; disjoint pairs stay separate; singletons are absent."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)],
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_duplicate_clusters_lone_pair_and_shared_child_root_at_min(spark):
    """Inputs that ALREADY satisfy the weak 'no child is a parent'
    probe must still be driven to min-rooted stars: a lone (a<b) pair
    (whose raw orientation fakes a star rooted at the max) and a
    shared child (1,5),(2,5) (a two-parent 'star' that silently splits
    the {1,2,5} component). Regression for the fixpoint convergence
    criterion."""
    lone = spark.createDataFrame([(23, 319)], "doc_a long, doc_b long")
    out = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(lone).collect()}
    assert out == {23: 23, 319: 23}

    shared = spark.createDataFrame([(1, 5), (2, 5)], "doc_a long, doc_b long")
    rows = dedup.duplicate_clusters(shared).collect()
    out = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert len(rows) == 3  # each doc appears exactly once
    assert out == {1: 1, 2: 1, 5: 1}


def test_duplicate_clusters_long_chain_converges(spark):
    """A 64-node chain (worst case for label propagation) converges in
    the alternating-star round budget and roots at the chain minimum."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    out = dedup.duplicate_clusters(pairs)
    assert out.count() == 65
    assert out.filter(F.col("cluster_id") != 0).count() == 0
    from hypermap_etl_spark.util import release_persisted

    release_persisted()


def test_duplicate_clusters_paths_agree(spark):
    """The driver-side union-find fast path (small graphs) and the
    distributed alternating-star fixpoint (small_graph_threshold=0
    forces it) must produce the identical (doc_id, cluster_id = min)
    labeling on a mixed graph: a chain, a shared-child wedge, a lone
    pair, and a cycle."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (30, 31), (31, 32), (32, 30), (7, 50), (8, 50)],
        "doc_a long, doc_b long",
    )
    fast = {(r["doc_id"], r["cluster_id"]) for r in dedup.duplicate_clusters(pairs).collect()}
    star = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.duplicate_clusters(pairs, small_graph_threshold=0).collect()
    }
    assert fast == star
    assert (30, 30) in fast and (32, 30) in fast and (7, 7) in fast and (50, 7) in fast
    from hypermap_etl_spark.util import release_persisted

    release_persisted()


def test_quantize_int8_roundtrip_error_bound(spark):
    """Dequantized values must be within scale/2 of the original, and a
    constant vector must quantize to zeros with scale 0."""
    emb = spark.createDataFrame(
        [(0, [0.0, 1.0, 2.5, -3.0]), (1, [7.0, 7.0, 7.0, 7.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in similarity.quantize_int8(emb).collect()}
    r0 = out[0]
    assert all(0 <= qv <= 255 for qv in r0["q"])
    for orig, qv in zip([0.0, 1.0, 2.5, -3.0], r0["q"]):
        deq = qv * r0["q_scale"] + r0["q_min"]
        assert abs(deq - orig) <= r0["q_scale"] / 2 + 1e-6
    assert out[1]["q"] == [0, 0, 0, 0] and out[1]["q_scale"] == 0.0


def _sa_reference_char_spans(docs, L):
    """Independent ExactSubstr reference at Lee et al.'s grain: build
    the generalized suffix array of the corpus, mark every position
    whose SA-adjacent LCP reaches L (equivalently: its L-gram occurs
    at least twice anywhere), then union overlapping windows into
    maximal per-doc char spans. O(n^2 log n) — reference only."""
    suffixes = []
    for did, t in docs:
        for i in range(len(t) - L + 1):
            suffixes.append((t[i:], did, i))
    suffixes.sort(key=lambda x: x[0])

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    dup = set()
    for (s1, d1, i1), (s2, d2, i2) in zip(suffixes, suffixes[1:]):
        if lcp(s1, s2) >= L:
            dup.add((d1, i1))
            dup.add((d2, i2))

    spans = set()
    by_doc = {}
    for d, i in dup:
        by_doc.setdefault(d, []).append(i + 1)  # 1-indexed starts
    for d, starts in by_doc.items():
        starts.sort()
        cur_lo = cur_hi = starts[0]
        for p in starts[1:]:
            if p - cur_hi <= L - 1:
                cur_hi = p
            else:
                spans.add((d, cur_lo, cur_hi + L - 1))
                cur_lo = cur_hi = p
        spans.add((d, cur_lo, cur_hi + L - 1))
    return spans


def test_dup_char_spans_exact_boundaries_vs_suffix_array(spark):
    """Two docs share a 37-word run whose char boundary falls MID-WORD
    (a trailing shared space extends past the word grain): the spans
    must be byte-exact — equal to an independent suffix-array + LCP
    reference — not rounded to shingle islands."""
    shared = " ".join(f"w{i:02d}tok" for i in range(37))  # 37 words
    doc_a = "A prefix that ends xx" + " " + shared + " tail one"
    doc_b = "B другой start yy" + " " + shared + " end two"
    doc_c = "no duplicated content whatsoever in this third document"
    rows = [(1, doc_a), (2, doc_b), (3, doc_c)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    L = 30
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.dup_char_spans(docs, min_len=L).collect()
    }
    ref = _sa_reference_char_spans(rows, L)
    assert got == ref and got, got

    # the true maximal shared run is " " + shared + " " (the leading
    # separator space and one more trailing space before the tails
    # diverge) — verify the exact char offsets in doc A
    run = " " + shared + " "
    start_a = doc_a.index(run) + 1
    assert (1, start_a, start_a + len(run) - 1) in got
    # doc 3 emits nothing
    assert not any(d == 3 for d, _, _ in got)


def test_dup_char_spans_random_corpora_match_reference(spark):
    """Property: on random low-alphabet corpora (dense with accidental
    repeats, in-doc and cross-doc), dup_char_spans equals the
    suffix-array reference byte-for-byte."""
    import random

    rnd = random.Random(11)
    for trial in range(3):
        rows = [
            (i, "".join(rnd.choice("ab ") for _ in range(90)))
            for i in range(6)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        L = 8
        got = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in dedup.dup_char_spans(docs, min_len=L).collect()
        }
        ref = _sa_reference_char_spans(rows, L)
        assert got == ref, (trial, got ^ ref)


def test_cut_char_spans_stitches_kept_segments(spark):
    """Char surgery: multiple spans cut precisely, a fully-covered doc
    empties, a span-free doc passes through unchanged, and n_cut_chars
    accounts exactly."""
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "hello"), (3, "xyz")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 2, 4), (1, 7, 8), (2, 1, 5)],
        "doc_id long, span_start long, span_end long",
    )
    out = {r["doc_id"]: r for r in dedup.cut_char_spans(docs, spans).collect()}
    assert out[1]["clean_text"] == "aefij" and out[1]["n_cut_chars"] == 5
    assert out[2]["clean_text"] == "" and out[2]["n_cut_chars"] == 5
    assert out[3]["clean_text"] == "xyz" and out[3]["n_cut_chars"] == 0

    # malformed input degrades to cutting the UNION: an overlapping and
    # a fully-contained span must not resurrect already-cut characters
    messy = spark.createDataFrame(
        [(1, 2, 6), (1, 4, 5), (1, 5, 8)],
        "doc_id long, span_start long, span_end long",
    )
    r = dedup.cut_char_spans(docs.filter("doc_id = 1"), messy).collect()[0]
    assert r["clean_text"] == "aij" and r["n_cut_chars"] == 7


def test_dup_char_spans_then_cut_roundtrip(spark):
    """find + cut at char grain: after surgery no ≥min_len duplicated
    window may survive ACROSS DISTINCT texts (exact-duplicate docs
    collapse to identical residues, which legitimately still match)."""
    shared = "0123456789abcdefghijklmnopqrstuvwxyz"  # 36 chars
    docs = spark.createDataFrame(
        [(1, "AA " + shared + " BB"), (2, "CC " + shared + " DD")],
        "doc_id long, text string",
    )
    spans = dedup.dup_char_spans(docs, min_len=30)
    clean = dedup.cut_char_spans(docs, spans)
    rows = {r["doc_id"]: r["clean_text"] for r in clean.collect()}
    L = 30
    grams = {}
    for d, t in rows.items():
        for i in range(len(t) - L + 1):
            grams.setdefault(t[i : i + L], set()).add(d)
    assert not [g for g, ds in grams.items() if len(ds) > 1]
    # the distinct prefixes/suffixes survive
    assert rows[1].startswith("AA") and rows[2].startswith("CC")


def test_dup_token_spans_merges_and_indexes(spark):
    """Two docs sharing a 10-word run: every 8-shingle in the run is
    duplicated, and the hits merge into ONE maximal span covering the
    run (1-indexed inclusive). A doc with no duplicated shingle emits
    nothing; an in-doc repeat also counts toward min_count."""
    run = "a b c d e f g h i j"          # 10 shared words
    docs = spark.createDataFrame(
        [
            (1, run + " unique tail one"),
            (2, "other head " + run),
            (3, "totally different words here with no overlap at all"),
            (4, "x y z w q r s t x y z w q r s t"),  # in-doc repeat, 8 words twice
        ],
        "doc_id long, text string",
    )
    out = {}
    for r in dedup.dup_token_spans(docs, k=8).collect():
        out.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    assert out[1] == [(1, 10)]
    assert out[2] == [(3, 12)]
    assert 3 not in out
    # the repeated 8-gram "x y z w q r s t" hits at pos 1 and pos 9 only
    # (inner shingles straddle the seam and are unique) → two spans
    assert sorted(out[4]) == [(1, 8), (9, 16)]


def test_cut_spans_rewrites_text(spark):
    docs = spark.createDataFrame(
        [(1, "A B C D E"), (2, "keep me whole")], "doc_id long, text string"
    )
    spans = spark.createDataFrame(
        [(1, 2, 4)], "doc_id long, span_start long, span_end long"
    )
    out = {r.doc_id: (r.clean_text, r.n_cut_words)
           for r in dedup.cut_spans(docs, spans).collect()}
    assert out[1] == ("A E", 3)     # original case preserved
    assert out[2] == ("keep me whole", 0)


def test_dup_token_spans_property_random_corpora(spark):
    """Random small-vocab corpora (heavy natural shingle duplication):
    the Spark spans equal a python recomputation of duplicated-shingle
    islands, doc by doc."""
    import itertools
    import random

    rnd = random.Random(17)
    k = 3
    for trial in range(4):
        texts = [
            " ".join(rnd.choice("abc") for _ in range(rnd.randint(0, 12)))
            for _ in range(6)
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {}
        for r in dedup.dup_token_spans(docs, k=k).collect():
            got.setdefault(r.doc_id, []).append((r.span_start, r.span_end))

        # python oracle: count every k-shingle across the corpus, mark
        # positions whose shingle occurs >= 2 times, merge runs
        counts = {}
        sh_by_doc = {}
        for i, t in enumerate(texts):
            ws = t.split(" ")
            shs = [" ".join(ws[j:j + k]) for j in range(len(ws) - k + 1)] if len(ws) >= k else []
            sh_by_doc[i] = shs
            for s in shs:
                counts[s] = counts.get(s, 0) + 1
        want = {}
        for i, shs in sh_by_doc.items():
            hits = [j + 1 for j, s in enumerate(shs) if counts[s] >= 2]
            # interval union: merge a hit into the previous span iff it
            # starts inside it (gap from the previous hit <= k-1);
            # gap == k is adjacency and stays separate (one span per
            # back-to-back copy)
            spans = []
            prev = None
            for p in hits:
                if prev is not None and p - prev <= k - 1:
                    spans[-1] = (spans[-1][0], p + k - 1)
                else:
                    spans.append((p, p + k - 1))
                prev = p
            if spans:
                want[i] = spans
        got_sorted = {d: sorted(v) for d, v in got.items()}
        assert got_sorted == want, (trial, texts, got_sorted, want)


def test_emb_neardup_exhaustive_at_gate_sf(spark):
    """Gate-robustness regression (VERDICT r3 task 6): the gated SRP
    banding config (target_miss=1e-8, documented margin in
    doc_queries.emb_neardup) must reproduce the EXHAUSTIVE O(n²) pair
    set on the real sf0.01 fixture — the largest scale the driver gates
    at — so a fixture regeneration or banding drift can't
    deterministically miss a pair."""
    import os

    import duckdb

    from hypermap_etl_spark.plans.doc_queries import NEARDUP_ORACLE, emb_neardup

    sf = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        import pytest

        pytest.skip("sf0.01 fixture not present")
    got = {(r.id_a, r.id_b) for r in emb_neardup(spark, sf).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    want = {(a, b) for a, b, _s in con.execute(NEARDUP_ORACLE).fetchall()}
    con.close()
    assert got == want, (
        f"missed={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )


def test_kmeans_separates_planted_blobs(spark):
    """Three well-separated gaussian blobs: after a few Lloyd rounds
    every blob lands in exactly one cluster (purity 1) and the learned
    centroids sit near the true means."""
    import random

    rnd = random.Random(3)
    means = [[5.0] * 8, [-5.0] * 8, [5.0] * 4 + [-5.0] * 4]
    rows = []
    for b, mu in enumerate(means):
        for i in range(40):
            rows.append(
                (b * 1000 + i, [float(m + rnd.gauss(0, 0.3)) for m in mu])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents = similarity.kmeans(emb, k=3, n_iter=5)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    for b in range(3):
        blob_clusters = {got[b * 1000 + i] for i in range(40)}
        assert len(blob_clusters) == 1, (b, blob_clusters)
    # distinct clusters per blob and centroids near the true means
    assert len({next(iter({got[b * 1000]})) for b in range(3)}) == 3
    for c in cents:
        best = min(max(abs(x - y) for x, y in zip(c, mu)) for mu in means)
        assert best < 0.5


def test_pca_fit_project_recovers_planted_axis(spark):
    """Synthetic data with one dominant variance axis: PC1 must align
    with it (|cos| > 0.99), explained variances must be descending and
    match the variance of the projections, and components must be
    orthonormal."""
    import numpy as np

    rng = np.random.default_rng(7)
    axis = np.zeros(8)
    axis[2] = 0.8
    axis[5] = 0.6
    rows = []
    for i in range(400):
        v = rng.normal(0, 5.0) * axis + rng.normal(0, 0.3, 8) + 1.5
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    comps, ev, mean = similarity.pca_fit(emb, k=3)
    # PC1 aligns with the planted axis
    cos = abs(float(np.dot(comps[0], axis)))
    assert cos > 0.99, cos
    # eigenvalues descending, dominant one far above the noise floor
    assert ev[0] > ev[1] >= ev[2] > 0
    assert ev[0] > 10 * ev[1]
    # orthonormal components
    C = np.array(comps)
    assert np.allclose(C @ C.T, np.eye(3), atol=1e-9)
    # mean recovered (all coords shifted by +1.5 plus axis*mean(N(0,5))~0)
    assert abs(np.mean(mean) - 1.5) < 0.2

    proj = similarity.pca_project(emb, comps, mean).toPandas()
    assert list(proj.columns) == ["vec_id", "p0", "p1", "p2"]
    assert len(proj) == 400
    # projection variance per component ~= explained variance
    for c in range(3):
        assert abs(proj[f"p{c}"].var(ddof=0) - ev[c]) / ev[c] < 0.05, c
    # spark-side projection == numpy projection
    V = np.vstack([np.array(v, dtype=np.float64) for _, v in rows])
    expect = (V - np.array(mean)) @ C.T
    got = proj.sort_values("vec_id")[["p0", "p1", "p2"]].to_numpy()
    assert np.allclose(got, expect, atol=1e-5)


def test_quantized_topk_rescore_recall(spark):
    """Two-stage quantized ANN: int8 coarse + exact rescore must reach
    the exact top-5 on the fixture (quantization error is far below
    neighbor gaps), and requires a query_filter (the coarse stage is a
    full scan per query)."""
    import pytest

    from hypermap_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qf = F.col("vec_id") % 20 == 0
    exact = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    approx = similarity.quantized_topk(emb, k=5, candidates=32, query_filter=qf)
    rec = similarity.topk_recall(exact, approx, 5).collect()[0]
    assert rec["recall"] >= 0.95, rec
    with pytest.raises(ValueError, match="query_filter"):
        similarity.quantized_topk(emb, k=5)


def test_winnow_guarantee_and_sketch_size(spark):
    """The winnowing theorem: two docs sharing a run of >= w+k-1 words
    (here 4+5-1=8) MUST share at least one fingerprint; disjoint docs
    share none; and the sketch is a fraction of the full shingle set."""
    run = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words
    docs = _docs(spark, [
        "unique head one " + run + " unique tail one",
        "different head " + run + " other ending words",
        "entirely separate content with no common runs at all here",
    ])
    fps = textstats.winnow_fingerprints(docs, k=5, w=4)
    by_doc = {
        d: {r["fp"] for r in rows}
        for d, rows in (
            (i, fps.filter(F.col("doc_id") == i).collect()) for i in range(3)
        )
    }
    assert by_doc[0] & by_doc[1], "shared 8-word run must share a fingerprint"
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])

    pairs = textstats.winnow_overlap_pairs(docs, min_shared=1, k=5, w=4)
    assert {(r["doc_a"], r["doc_b"]) for r in pairs.collect()} == {(0, 1)}

    # sketch compression: selected fingerprints ≪ total shingles
    n_shingles = docs.select(
        F.explode(textstats.word_shingles(F.lower(F.col("text")), 5))
    ).count()
    assert fps.count() < n_shingles


def test_semantic_decontaminate_planted(spark):
    """A corpus vector identical (or near-identical) to a benchmark
    probe is flagged; orthogonal vectors are not; every corpus row
    appears exactly once."""
    from hypermap_etl_spark.operators.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),          # == probe A
            (2, [0.999, 0.04, 0.0]),       # near probe A
            (3, [0.0, 1.0, 0.0]),          # orthogonal
            (4, [0.0, 0.0, 1.0]),          # orthogonal
            (5, [0.7, 0.7, 0.0]),          # 45 degrees off: below 0.95
        ],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = {
        r["vec_id"]: r.asDict()
        for r in semantic_decontaminate(corpus, bench, threshold=0.95).collect()
    }
    assert len(out) == 5
    assert out[1]["contaminated"] and out[1]["max_sim"] == 1.0
    assert out[2]["contaminated"] and out[2]["n_hits"] == 1
    assert not out[3]["contaminated"] and out[3]["max_sim"] == 0.0
    assert not out[4]["contaminated"]
    assert not out[5]["contaminated"] and abs(out[5]["max_sim"] - 0.707107) < 1e-6

    # benchmark side must be broadcast: the corpus is never shuffled
    plan = semantic_decontaminate(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_incremental_minhash_matches_batch_operator(spark):
    """Incremental (store + in-batch) pairs over a split corpus must
    equal the batch operator's pairs restricted to pairs touching the
    new half — the index adds incrementality, not new semantics."""
    from hypermap_etl_spark.operators import dedup

    texts = []
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    for i in range(12):
        # three near-dup families + unique tails
        fam = i % 3
        texts.append((i, base + f" family {fam} variant"))
    texts.append((20, "completely unrelated short text about spark engines "
                      "and columnar shuffles in a data lake"))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")

    store = dedup.band_buckets(dedup.minhash_signatures(old))
    inc = dedup.incremental_minhash_pairs(new, old, store, threshold=0.8)
    got = {(r["doc_a"], r["doc_b"], r["src"]): r["jaccard"] for r in inc.collect()}

    batch = dedup.minhash_dedup_pairs(docs, 0.8)
    want = {}
    for r in batch.collect():
        a, b = r["doc_a"], r["doc_b"]
        if a % 2 == 1 and b % 2 == 1:
            want[(a, b, "batch")] = r["jaccard"]
        elif a % 2 == 1 or b % 2 == 1:
            na, nb = (a, b) if a % 2 == 1 else (b, a)
            want[(na, nb, "store")] = r["jaccard"]
    assert got == want and len(got) > 0
    # both kinds present in the fixture
    assert {s for (_, _, s) in got} == {"batch", "store"}


def test_signature_store_bucketed_join_no_store_exchange(spark, tmp_path):
    """The persisted store's side of the incremental join must scan
    pre-bucketed: no Exchange above the store scan (the historical,
    100 TB side never re-shuffles); only the new batch exchanges."""
    from hypermap_etl_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta iota doc {i}")
         for i in range(8)],
        "doc_id long, text string",
    )
    name = "sig_store_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    dedup.signature_store_append(
        docs.filter("doc_id < 4"), name, path=str(tmp_path / "store")
    )
    # append a second batch: store accumulates
    dedup.signature_store_append(docs.filter("doc_id >= 4"), name)
    n1 = spark.table(name).count()
    assert n1 == 8 * 32  # bands rows per indexed doc

    new = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota doc 1")],
        "doc_id long, text string",
    )
    pairs = dedup.incremental_minhash_pairs(new, docs, name, threshold=0.5)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the store scan appears as a bucketed FileScan; assert SOME join in
    # the plan consumed it without an exchange: bucketed scans print
    # 'Bucketed: true' in Spark's FileSourceScanExec
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    got = [(r["doc_a"], r["doc_b"], r["src"]) for r in pairs.collect()]
    assert (100, 1, "store") in got
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_semantic_decontaminate_empty_bench(spark):
    """An empty probe set yields one zeroed row per corpus doc, not an
    empty frame (inner-join consumers must not silently drop the
    corpus)."""
    from hypermap_etl_spark.operators.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    bench = corpus.filter("vec_id < 0")
    out = {r["vec_id"]: r.asDict() for r in semantic_decontaminate(corpus, bench).collect()}
    assert set(out) == {1, 2}
    assert all(
        v["max_sim"] == 0.0 and v["n_hits"] == 0 and not v["contaminated"]
        for v in out.values()
    )


def test_ivf_index_search_matches_in_memory_operator(spark, tmp_path):
    """ivf_index_write + ivf_index_search over the persisted index is
    bit-identical to ivf_topk (same centroids, probes, scoring), and
    the list scan prunes to the probed partition directories."""
    import numpy as np

    from hypermap_etl_spark.operators import similarity

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qf = F.col("vec_id") % 25 == 0

    path = str(tmp_path / "ivf")
    similarity.ivf_index_write(emb, path, n_centroids=8)
    got = similarity.ivf_index_search(
        spark, path, emb.filter(qf), k=5, n_probe=3
    )
    want = similarity.ivf_topk(emb, k=5, n_centroids=8, n_probe=3, query_filter=qf)
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in want.collect())
    assert a == b and len(a) > 0

    # partition pruning: the lists scan carries cid PartitionFilters
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan


def test_hash_embed_properties(spark):
    """Feature-hashing embeddings: unit norm, dimension, determinism,
    near-dup texts closer than unrelated texts, empty doc -> zero
    vector, and the full bridge into the similarity stack."""
    from hypermap_etl_spark.operators.similarity import cosine_neardup_pairs
    from hypermap_etl_spark.operators.textstats import hash_embed

    base = ("spark shuffles columnar batches through adaptive plans while "
            "the optimizer prunes partitions and broadcasts tiny sides")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " with one extra tail"),
            (3, "completely different words about gardening tulips roses "
                "daffodils and watering cans in spring sunshine"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    emb = hash_embed(docs, dim=32)
    rows = {r["doc_id"]: r["embedding"] for r in emb.collect()}
    assert set(rows) == {1, 2, 3, 4} and all(len(v) == 32 for v in rows.values())
    import math

    for i in (1, 2, 3):
        assert abs(math.sqrt(sum(x * x for x in rows[i])) - 1.0) < 1e-9
    assert all(x == 0.0 for x in rows[4])

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert cos(rows[1], rows[2]) > 0.9 > cos(rows[1], rows[3])

    # determinism across evaluations
    rows2 = {r["doc_id"]: r["embedding"] for r in hash_embed(docs, dim=32).collect()}
    assert rows == rows2

    # the bridge: text -> hash_embed -> similarity stack
    pairs = cosine_neardup_pairs(
        emb.withColumnRenamed("doc_id", "vec_id"), threshold=0.9
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_hash_embed_ngrams_whitespace_robust(spark):
    """ngrams>1 collapses whitespace runs before shingling: 'a  b'
    and 'a b' embed identically (empty split tokens would otherwise
    corrupt every shingle)."""
    from hypermap_etl_spark.operators.textstats import hash_embed

    docs = spark.createDataFrame(
        [(1, "alpha  beta gamma"), (2, "alpha beta gamma"),
         (3, " alpha beta gamma ")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["embedding"] for r in hash_embed(docs, dim=16, ngrams=2).collect()}
    assert rows[1] == rows[2] == rows[3]
    assert any(x != 0.0 for x in rows[1])


def test_signature_store_compact_preserves_results(spark, tmp_path):
    """Compaction shrinks the store's file count, keeps every row, and
    the incremental check returns identical pairs on the compacted
    store (bucketing preserved — still a bucketed scan)."""
    from hypermap_etl_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i}")
         for i in range(12)],
        "doc_id long, text string",
    )
    name = "sig_store_compact_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"DROP TABLE IF EXISTS {name}__compact_tmp")
    # three appends -> three file generations
    for lo, hi in [(0, 4), (4, 8), (8, 12)]:
        dedup.signature_store_append(
            docs.filter(f"doc_id >= {lo} and doc_id < {hi}"), name
        )
    before_rows = spark.table(name).count()
    new = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta doc 3")],
        "doc_id long, text string",
    )
    pairs_before = sorted(
        tuple(r) for r in dedup.incremental_minhash_pairs(
            new, docs, name, threshold=0.5
        ).collect()
    )

    rep = dedup.signature_store_compact(spark, name)
    assert rep["rows"] == before_rows == spark.table(name).count()
    assert rep["files_after"] < rep["files_before"]
    pairs_after = sorted(
        tuple(r) for r in dedup.incremental_minhash_pairs(
            new, docs, name, threshold=0.5
        ).collect()
    )
    assert pairs_after == pairs_before and pairs_before
    # still a bucketed scan after the swap
    plan = dedup.incremental_minhash_pairs(
        new, docs, name, threshold=0.5
    )._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bigram_logprob_semantics(spark):
    """Interpolated bigram LM: hand-checkable corpus — repeated
    bigrams score high, a doc of unseen transitions scores lower, and
    sub-2-token docs emit (NULL, 0)."""
    import math

    from hypermap_etl_spark.operators.textstats import bigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),     # the dominant transition pattern
            (2, "b a b a"),
            (3, "a x"),             # 'a x' transition seen once
            (4, "solo"),            # 1 token: no bigram positions
            (5, ""),                # 0 tokens
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["mean_logprob"], r["n_bigrams"])
           for r in bigram_logprob(docs, alpha=0.4).collect()}
    assert got[4] == (None, 0) and got[5] == (None, 0)
    assert got[1][1] == 5 and got[2][1] == 3 and got[3][1] == 1
    # independent hand computation for doc 3's single bigram (a, x):
    # bigrams total: ab×3, ba×2(doc1) + ba×2, ab×1(doc2) + ax×1 = 9
    # cf(a) = count of bigrams starting with a = 3+1+1 = 5
    # bf(a,x) = 1; tf(x) = 1; total tokens = 6+4+2+1 = 13
    p = 0.4 * (1 / 5) + (1 - 0.4) * (1 / 13)
    assert got[3][0] == round(math.log10(p), 6)
    # the dominant-pattern doc must outscore the rare transition
    assert got[1][0] > got[3][0]


def test_pq_fit_encode_planted_blobs(spark):
    """PQ codebooks recover planted per-subspace structure: two blobs
    in each of two subspaces → k=2 sub-centroids per subspace, and
    every vector encodes to its blob's code in both subspaces."""
    from hypermap_etl_spark.operators import similarity

    rows = []
    for i in range(40):
        # subspace 1 blob: A=(1,1,1,1)-ish, B=(-1,-1,-1,-1)-ish;
        # subspace 2 blob assignment deliberately DIFFERENT (i % 3)
        s1 = [1.0 + (i % 5) * 0.01] * 4 if i % 2 == 0 else [-1.0 - (i % 5) * 0.01] * 4
        s2 = [2.0 + (i % 7) * 0.01] * 4 if i % 3 == 0 else [-2.0 - (i % 7) * 0.01] * 4
        rows.append((i, s1 + s2))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.pq_fit(emb, m=2, k_codes=2, n_iter=4)
    assert len(books) == 2 and all(len(b) == 2 for b in books)
    assert all(len(c) == 4 for b in books for c in b)
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(emb, books).collect()
    }
    assert all(len(c) == 2 and all(0 <= x < 2 for x in c) for c in codes.values())
    # same blob → same code, different blob → different code, per subspace
    assert codes[0][0] == codes[2][0] != codes[1][0]
    assert codes[0][1] == codes[3][1] != codes[1][1]


def test_pq_fit_validates_dim(spark):
    import pytest as _pytest

    from hypermap_etl_spark.operators import similarity

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError):
        similarity.pq_fit(emb, m=2)


def test_pq_topk_recall_on_fixture(spark):
    """The gated property at unit scale: PQ two-stage recall@5 >= 0.85
    vs exact on the near-isotropic fixture embeddings (PQ's worst
    case), and the coarse stage must require a query_filter."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators import similarity
    from hypermap_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qf = F.col("vec_id") % 20 == 0
    exact = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    approx = similarity.pq_topk(emb, k=5, query_filter=qf)
    r = similarity.topk_recall(exact, approx, 5).collect()[0]
    assert r["recall"] >= 0.85
    with _pytest.raises(ValueError):
        similarity.pq_topk(emb, k=5)


def test_pq_index_search_matches_in_memory_operator(spark, tmp_path):
    """A one-list PQ index (the full-scan PQ index): search with exact
    refine must be bit-identical to the in-memory pq_topk over the same
    corpus (shared fit/encode/reconstruct construction), and the query
    side is broadcast, so no SortMergeJoin on cid; ADC-only mode (no
    rescore_with) still ranks and returns k rows per query."""
    import re

    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators import similarity
    from hypermap_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "pq")
    similarity.ivf_index_write(emb, path, n_centroids=1, m=8)
    qf = F.col("vec_id") % 20 == 0
    queries = emb.filter(qf)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in similarity.ivf_index_search(
            spark, path, queries, k=5, rescore_with=emb
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in similarity.pq_topk(emb, k=5, query_filter=qf).collect()
    )
    assert got == want and len(got) > 0
    # planned with size-based broadcasting off: the hint, not the
    # batch's size, must broadcast the query side
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = similarity.ivf_index_search(
            spark, path, queries, k=5, rescore_with=emb
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert re.search(r"BroadcastHashJoin \[cid#", plan), plan
    assert not re.search(r"SortMergeJoin \[cid#", plan), plan
    adc = similarity.ivf_index_search(spark, path, queries, k=5).collect()
    per_q = {}
    for r in adc:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_kn_bigram_logprob_matches_python_reference(spark):
    """Interpolated Kneser-Ney (d=0.75) vs a from-the-paper pure-Python
    reference on a corpus engineered to expose the continuation fix: a
    word frequent only inside one stock phrase ('francisco' after
    'san') must score BELOW an equally-frequent word with diverse
    contexts."""
    import math
    from collections import Counter

    from hypermap_etl_spark.operators.textstats import kn_bigram_logprob

    texts = {
        1: "san francisco san francisco san francisco",
        2: "new york new jersey old york big jersey",
        3: "san francisco",
        4: "solo",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    # pure-Python KN over the same corpus
    d = 0.75
    pairs = []
    for t in texts.values():
        ws = [w for w in t.lower().split(" ") if w]
        pairs += list(zip(ws, ws[1:]))
    bf = Counter(pairs)
    cf = Counter(w1 for w1, _ in pairs)
    n1f = Counter()
    n1b = Counter()
    for w1, w2 in bf:
        n1f[w1] += 1
        n1b[w2] += 1
    nt = len(bf)

    def p_kn(w1, w2):
        return max(bf[(w1, w2)] - d, 0.0) / cf[w1] + d * n1f[w1] / cf[w1] * (
            n1b[w2] / nt
        )

    expect = {}
    for doc_id, t in texts.items():
        ws = [w for w in t.lower().split(" ") if w]
        ps = [math.log10(p_kn(a, b)) for a, b in zip(ws, ws[1:])]
        expect[doc_id] = (
            round(sum(ps) / len(ps), 6) if ps else None,
            len(ps),
        )

    got = {
        r["doc_id"]: (r["mean_logprob"], r["n_bigrams"])
        for r in kn_bigram_logprob(docs).collect()
    }
    assert got == expect
    # the KN property itself: P(francisco|san) uses a LOW continuation
    # weight (1 distinct left-context) vs york's 2 — check directly
    assert n1b["francisco"] == 1 and n1b["york"] == 2
    assert p_kn("big", "francisco") < p_kn("big", "york") if ("big", "francisco") in bf else True


def test_kn_bigram_logprob_rejects_bad_discount(spark):
    import pytest

    from hypermap_etl_spark.operators.textstats import kn_bigram_logprob

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        kn_bigram_logprob(docs, discount=0.0)
    with pytest.raises(ValueError):
        kn_bigram_logprob(docs, discount=1.0)


def test_ngram_containment_flags_subdocument_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: containment
    flags it in the subset→superset direction; Jaccard at any useful
    threshold stays silent."""
    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler.replace("w", "v"))],
        "doc_id long, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.ngram_containment_pairs(docs, threshold=0.9).collect()
    }
    assert out.get((1, 2)) == 1.0      # quote fully contained
    assert (2, 1) not in out            # superset direction far below 0.9
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    assert not jac                      # resemblance misses it entirely


def test_ngram_containment_symmetric_duplicates_emit_both_directions(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.ngram_containment_pairs(docs, threshold=0.9).collect()
    }
    assert out == {(1, 2): 1.0, (2, 1): 1.0}


def test_containment_survivors_keeps_superset_and_rep(spark):
    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame(
        [
            (1, quote),                         # contained in 2 → dropped
            (2, filler + " " + quote),          # superset → survives
            (3, "totally unrelated words here entirely"),
            (10, "same text both ways exactly five words more"),
            (11, "same text both ways exactly five words more"),  # mutual: higher id drops
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in dedup.containment_survivors(docs, threshold=0.9).collect()
    }
    assert kept == {2, 3, 10}


def test_centroid_outliers_planted(spark):
    """A vector planted far from a tight cluster is the one flagged;
    z-scores are centered (mean ~0 over the corpus)."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0.0, 0.05) for _ in range(8)]) for i in range(60)]
    rows.append((999, [5.0] * 8))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in similarity.centroid_outliers(emb).collect()}
    assert out[999]["is_outlier"] is True
    flagged = [v for v, r in out.items() if r["is_outlier"]]
    assert flagged == [999]
    assert out[999]["z"] > 2.0 and out[999]["dist"] > out[0]["dist"]


def test_centroid_outliers_degenerate_and_empty(spark):
    import pytest

    same = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    rows = similarity.centroid_outliers(same).collect()
    assert all(r["z"] == 0.0 and r["is_outlier"] is False for r in rows)
    assert all(r["dist"] == 0.0 for r in rows)

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no vectors"):
        similarity.centroid_outliers(empty)


def test_pmi_pairs_planted_collocation(spark):
    """A glued pair ('hong kong') scores far above an independent pair;
    exact counts verified against a python recomputation."""
    import math

    texts = ["hong kong " * 1 + "trade talks resume"] * 6 + [
        "kong alone here", "hong solo there", "trade winds blow",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = {(r["w1"], r["w2"]): r for r in
            textstats.pmi_pairs(docs, min_count=3).collect()}
    hk = rows[("hong", "kong")]
    assert hk["n_pair"] == 6
    # python recomputation of the exact formula
    words_all = [w for t in texts for w in t.lower().split() if w]
    bis = [
        (a, b)
        for t in texts
        for a, b in zip(t.lower().split(), t.lower().split()[1:])
    ]
    n_u, n_b = len(words_all), len(bis)
    c_a = words_all.count("hong")
    c_b = words_all.count("kong")
    want = round(math.log(6 * n_u * n_u / (c_a * c_b * n_b)), 6)
    assert abs(hk["pmi"] - want) < 1e-9
    assert hk["pmi"] > 1.0
    # no pair below min_count leaks through
    assert all(r["n_pair"] >= 3 for r in rows.values())
    import pytest

    with pytest.raises(ValueError, match="min_count"):
        textstats.pmi_pairs(docs, min_count=0)


def test_char_entropy_known_values(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, ""), (4, "abcd"), (5, "aab")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.char_entropy(docs).collect()}
    assert out[1]["entropy"] == 0.0 and str(out[1]["entropy"])[0] != "-"
    assert out[2]["entropy"] == round(math.log(2), 6)
    assert out[3]["entropy"] == 0.0 and out[3]["n_chars"] == 0
    assert out[4]["entropy"] == round(math.log(4), 6)
    want5 = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert out[5]["entropy"] == round(want5, 6)


def test_jl_project_preserves_pairwise_distance(spark):
    # JL with ±1/√k entries: E[||Px - Py||²] = ||x - y||²; with k=16
    # over 64 dims the planted far/near structure must survive —
    # orthogonal unit basis vectors stay far, a near-duplicate stays
    # near its twin after projection
    import itertools
    import math

    from pyspark.sql import Row

    base = [0.0] * 64
    vecs = {}
    for n in range(4):  # scaled orthogonal basis vectors
        v = list(base)
        v[n * 7] = 4.0
        vecs[n] = v
    twin = list(vecs[0])
    twin[1] = 0.05  # near-dup of vec 0
    vecs[4] = twin
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs.items()]
    )
    proj = {
        r["vec_id"]: r["proj"]
        for r in similarity.jl_project(df, 64, 16, seed=3).collect()
    }

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    near = dist(proj[0], proj[4])
    fars = [dist(proj[a], proj[b]) for a, b in itertools.combinations(range(4), 2)]
    assert near < min(fars) / 3  # 0.05 vs ~5.6 separation survives


def test_jl_project_deterministic_across_layouts(spark):
    from pyspark.sql import Row

    rows = [
        Row(vec_id=i, embedding=[float((i * j) % 7) - 3.0 for j in range(8)])
        for i in range(40)
    ]
    a = {
        r["vec_id"]: r["proj"]
        for r in similarity.jl_project(
            spark.createDataFrame(rows).repartition(1), 8, 4, seed=1
        ).collect()
    }
    b = {
        r["vec_id"]: r["proj"]
        for r in similarity.jl_project(
            spark.createDataFrame(rows).repartition(13), 8, 4, seed=1
        ).collect()
    }
    assert a == b  # literal matrix + ordered fold: bit-identical


def test_jl_project_guards_vector_width(spark):
    import pytest as _pytest
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 2.0, 3.0])])
    with _pytest.raises(Exception, match="8-dim"):
        similarity.jl_project(df, 8, 2).collect()
    with _pytest.raises(ValueError, match="dims"):
        similarity.jl_project(df, 3, 0)


def test_dedup_threshold_sweep_monotone_and_exact(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),          # exact dup of 1: J=1.0
            (3, "a b c d e f g x"),          # near dup of 1/2
            (4, "p q r s t u v w"),           # unrelated
        ],
        "doc_id long, text string",
    )
    got = {
        r["threshold"]: r.asDict()
        for r in dedup.dedup_threshold_sweep(
            docs, thresholds=[0.5, 0.99]
        ).collect()
    }
    # J(1,3)=J(2,3)=5/7≈0.714 (3-shingles: 6 each, 5 shared)
    assert got[0.5]["n_pairs"] == 3 and got[0.5]["n_docs_affected"] == 3
    assert got[0.99]["n_pairs"] == 1 and got[0.99]["n_docs_affected"] == 2
    assert got[0.5]["affected_rate"] == 0.75
    # counts are monotone non-increasing in the threshold by definition
    assert got[0.99]["n_pairs"] <= got[0.5]["n_pairs"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="thresholds"):
        dedup.dedup_threshold_sweep(docs, thresholds=[0.0, 0.5])


def test_bm25_snippets_center_on_first_hit(spark):
    docs = spark.createDataFrame(
        [
            (1, ("x " * 50) + "the join keyword appears here " + ("y " * 30)),
            (2, "window at the very start of this document " + ("z " * 40)),
            (3, "nothing relevant in this one at all " + ("w " * 40)),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in textstats.bm25_snippets(
            docs, ["join", "window"], k=5, context=10, width=30
        ).collect()
    }
    assert set(got) == {1, 2}  # doc 3 matches nothing
    assert "join" in got[1]["snippet"]
    assert got[1]["first_pos"] == 105  # 50 * 'x ' + 'the ' + 1 (1-based)
    # hit near the start: snippet clamps to position 1
    assert got[2]["snippet"].startswith("window")
    assert got[2]["first_pos"] == 1
    assert len(got[1]["snippet"]) == 30


def test_bm25_snippets_case_insensitive_positioning(spark):
    docs = spark.createDataFrame(
        [(1, ("pad " * 20) + "the Window term sits here")],
        "doc_id long, text string",
    )
    got = textstats.bm25_snippets(
        docs, ["WINDOW"], k=5, context=5, width=20
    ).collect()
    # ranking lowercases the query; positioning must too, or the
    # snippet falls back to position 1
    assert got and got[0]["first_pos"] == 85
    assert "Window" in got[0]["snippet"]


def test_ngram_novelty_shared_vs_unique(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),      # 3 shingles: abc bcd cde
            (2, "a b c x y"),      # shares 'a b c' with doc 1
            (3, "p q r s"),        # fully novel
            (4, "zz"),             # < 3 words: no shingles
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in textstats.ngram_novelty(docs).collect()}
    assert got[1]["n_shingles"] == 3 and got[1]["n_unique"] == 2
    assert got[1]["novelty"] == round(2 / 3, 6)
    assert got[2]["novelty"] == round(2 / 3, 6)
    assert got[3]["novelty"] == 1.0
    assert got[4]["n_shingles"] == 0 and got[4]["novelty"] is None


# ------------------------------------------------------- cdc_chunks ----

def _cdc_ref(doc_id, text, k=4, mod=16):
    import hashlib

    ws = [w for w in text.lower().split(" ") if w != ""]
    if not ws:
        return []
    n = len(ws)
    hs = (
        [hashlib.md5(" ".join(ws[p:p + k]).encode()).hexdigest()
         for p in range(0, n - k + 1)]
        if n >= k else []
    )
    cuts = [p + 1 for p in range(len(hs)) if int(hs[p][:4], 16) % mod == 0]
    ends = [p + k - 1 for p in cuts]
    if not ends or ends[-1] != n:
        ends.append(n)
    rows, start = [], 1
    for i, e in enumerate(ends, 1):
        words = ws[start - 1:e]
        rows.append(
            (doc_id, i, len(words),
             hashlib.md5(" ".join(words).encode()).hexdigest())
        )
        start = e + 1
    return rows


def test_cdc_chunks_matches_reference_random(spark):
    import random

    from hypermap_etl_spark.operators.dedup import cdc_chunks

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 120)))
        for _ in range(25)
    ] + ["", "one", "  padded   spaces  "]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).repartition(5)
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_words"], r["chunk_hash"])
        for r in cdc_chunks(df).collect()
    )
    want = sorted(r for i, t in enumerate(texts) for r in _cdc_ref(i, t))
    assert got == want and len(got) > 30  # real cut activity


def test_cdc_chunks_boundary_shift_is_local(spark):
    """THE content-defined property: prepending words re-aligns only
    the chunks before the first content cut — everything after is
    byte-identical, unlike fixed-width blocking where one insertion
    shifts every block."""
    import random

    from hypermap_etl_spark.operators.dedup import cdc_chunks

    rng = random.Random(9)
    body = " ".join(rng.choice([f"w{i}" for i in range(50)]) for _ in range(400))
    df = spark.createDataFrame(
        [(1, body), (2, "inserted preamble tokens " + body)],
        "doc_id long, text string",
    )
    by_doc: dict[int, list] = {1: [], 2: []}
    for r in cdc_chunks(df).collect():
        by_doc[r["doc_id"]].append((r["chunk_idx"], r["chunk_hash"]))
    h1 = [h for _, h in sorted(by_doc[1])]
    h2 = [h for _, h in sorted(by_doc[2])]
    assert len(h1) > 5  # enough cuts for the property to be meaningful
    # all but the first chunk of the original survive in the modified doc
    assert set(h1[1:]) <= set(h2)


def test_cdc_chunks_validation_and_reassembly(spark):
    import pytest as _pt

    from hypermap_etl_spark.operators.dedup import cdc_chunks

    df = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    with _pt.raises(ValueError):
        cdc_chunks(df, k=0)
    with _pt.raises(ValueError):
        cdc_chunks(df, mod=1)
    # chunks partition the word sequence: word counts sum to n
    rows = cdc_chunks(df).collect()
    assert sum(r["n_words"] for r in rows) == 8


def test_readability_known_counts(spark):
    from hypermap_etl_spark.operators.textstats import readability

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),   # 6 words, 2 sentences
            (2, ""),                             # no words -> NULL score
            (3, "no terminal punctuation here"),  # sentences floored at 1
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in readability(df).collect()}
    r1 = got[1]
    assert r1["n_words"] == 6 and r1["n_sentences"] == 2
    # syllable runs: e/a/a/e/o/a in "the cat sat the dog ran" = 6
    assert r1["n_syllables"] == 6
    want = round(206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6), 6)
    assert r1["flesch"] == want
    assert got[2]["flesch"] is None and got[2]["n_words"] == 0
    assert got[3]["n_sentences"] == 1
    # monotonicity: many-syllable words read harder (lower score)
    hard = spark.createDataFrame(
        [(1, "extraordinarily unquestionably incomprehensibilities.")],
        "doc_id long, text string",
    )
    easy = spark.createDataFrame(
        [(1, "it is a cat. it is fun.")], "doc_id long, text string"
    )
    hs = readability(hard).collect()[0]["flesch"]
    es = readability(easy).collect()[0]["flesch"]
    assert hs < es


# ------------------------------------------------ prefix_filter_pairs ----

def _neardup_corpus(spark, n_docs=40, seed=3):
    import random

    rng = random.Random(seed)
    vocab = [f"tok{i}" for i in range(60)]
    base = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(12, 40)))
        for _ in range(n_docs // 2)
    ]
    texts = list(base)
    for t in base:
        ws = t.split(" ")
        # light mutation -> a spread of Jaccard values around the bar
        k = rng.randrange(0, max(1, len(ws) // 6))
        for _ in range(k):
            ws[rng.randrange(len(ws))] = rng.choice(vocab)
        texts.append(" ".join(ws))
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


@pytest.mark.parametrize("threshold", [0.5, 0.7, 0.8])
def test_prefix_filter_equals_inverted_index_join(spark, threshold):
    """Completeness is a theorem: the prefix-filtered join returns
    EXACTLY the full inverted-index join's pairs at every threshold —
    including 0.7, where a double ceil (0.7*20 = 14.000000000000002)
    would shorten prefixes and silently drop pairs."""
    from hypermap_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    docs = _neardup_corpus(spark)
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filter_pairs(docs, threshold).collect()
    }
    assert want  # corpus must actually produce pairs
    assert got == want


def test_prefix_filter_prunes_candidates(spark):
    """The point of the prefix index: it is a strict subset of the
    full inverted index, so the candidate join fans out less."""
    from hypermap_etl_spark.operators import dedup

    docs = _neardup_corpus(spark)
    sh = dedup.shingle_index(docs)
    full_pairs = (
        sh.alias("a")
        .join(sh.alias("b"),
              (F.col("a.sh") == F.col("b.sh"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    got = dedup.prefix_filter_pairs(docs, 0.8)
    # candidate pair count is bounded by the verified-pair superset;
    # compare index sizes directly: prefix rows << full rows
    n_full = sh.count()
    # reconstruct prefix size: s - ceil(0.8 s) + 1 summed over docs
    sizes = [r["n"] for r in sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n")).collect()]
    n_prefix = sum(s - ((4 * s + 4) // 5) + 1 for s in sizes)
    assert n_prefix < n_full / 2
    assert got.count() <= full_pairs


def test_positional_filter_prunes_and_stays_complete(spark):
    """VERDICT r6 #7: the PPJoin positional + length prunes must cut
    the candidate count measurably below the collision-only prefix
    join, while the surviving set still CONTAINS every true pair
    (completeness through the first-common-token argument) — checked
    by the equality test above; here we pin the pruning itself."""
    from fractions import Fraction

    from hypermap_etl_spark.operators import dedup
    from hypermap_etl_spark.operators.dedup import _prefix_candidates

    docs = _neardup_corpus(spark, n_docs=60, seed=9)
    sh = dedup.shingle_index(docs)
    fr = Fraction("0.8")
    loose = _prefix_candidates(sh, fr.numerator, fr.denominator,
                               positional=False)
    tight = _prefix_candidates(sh, fr.numerator, fr.denominator)
    n_loose, n_tight = loose.count(), tight.count()
    # pruned candidates are a strict, measurably smaller subset
    assert n_tight < n_loose
    assert loose.join(tight, ["doc_a", "doc_b"], "left_semi").count() == n_tight
    # and every true pair survives the prunes
    true_pairs = dedup.ngram_jaccard_pairs(docs, 0.8).select("doc_a", "doc_b")
    n_true = true_pairs.count()
    assert true_pairs.join(
        tight, ["doc_a", "doc_b"], "left_semi"
    ).count() == n_true
    from hypermap_etl_spark.util import release_persisted

    release_persisted()


def test_prefix_filter_validates_threshold(spark):
    from hypermap_etl_spark.operators.dedup import prefix_filter_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        prefix_filter_pairs(docs, 0.0)
    with pytest.raises(ValueError):
        prefix_filter_pairs(docs, 1.2)


# ---------------------------------------------------------------- hybrid RRF


def test_hybrid_rrf_fuses_both_legs(spark):
    """A doc ranked #1 lexically and #1 semantically must out-fuse a
    doc present in only one leg; absent-leg ranks surface as 0 and
    contribute nothing."""
    d = _docs(
        spark,
        [
            "join window scan join window",   # both legs love it
            "join scan",                       # lexical hit, related vector
            FAR,                               # neither
            "window " + FAR,                   # weak single-term hit
        ],
    )
    out = textstats.hybrid_rrf_search(d, ["join", "window", "scan"], k=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["lex_rank"] == 1 and rows[0]["sem_rank"] == 1
    assert rows[0]["rrf_score"] == max(r["rrf_score"] for r in rows.values())
    # fused score is exactly the reciprocal-rank sum
    for r in rows.values():
        exp = (1.0 / (60 + r["lex_rank"]) if r["lex_rank"] else 0.0) + (
            1.0 / (60 + r["sem_rank"]) if r["sem_rank"] else 0.0
        )
        assert abs(r["rrf_score"] - round(exp, 6)) < 1e-12
    # doc 2 matches no query term lexically
    assert rows[2]["lex_rank"] == 0 if 2 in rows else True


def test_hybrid_rrf_leg_bounds_and_determinism(spark):
    """Legs are cut to k_leg before fusion; reruns are identical."""
    texts = [f"join window scan filler{i} " + ("pad " * (i % 7)) for i in range(40)]
    d = _docs(spark, texts)
    out = textstats.hybrid_rrf_search(d, ["join", "scan"], k=10, k_leg=15)
    a = [tuple(r) for r in out.collect()]
    b = [tuple(r) for r in out.collect()]
    assert a == b and len(a) == 10
    assert all(r[1] <= 15 and r[2] <= 15 for r in a)


def test_hybrid_rrf_rejects_empty_query(spark):
    d = _docs(spark, [BASE])
    with pytest.raises(ValueError):
        textstats.hybrid_rrf_search(d, [])


# ------------------------------------------------------------ hard negatives


def _labeled_vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_hard_negatives_skip_same_label(spark):
    """The most-similar vector overall shares the anchor's label and
    must NOT appear; the top hard negative is the closest other-label
    vector."""
    d = _labeled_vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0], 1),          # anchor
            (1, [0.99, 0.14, 0.0], 1),        # nearest, same label: excluded
            (2, [0.9, 0.43, 0.0], 2),         # nearest other-label
            (3, [0.0, 1.0, 0.0], 2),
            (4, [-1.0, 0.0, 0.0], 3),
        ],
    )
    out = similarity.hard_negative_pairs(
        d, k=2, query_filter=F.col("vec_id") == 0
    ).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(2, 1), (3, 2)]
    assert all(r["neighbor_label"] != r["anchor_label"] for r in out)
    assert all(r["anchor_label"] == 1 for r in out)


def test_hard_negatives_requires_anchor_filter(spark):
    d = _labeled_vecs(spark, [(0, [1.0], 1), (1, [0.5], 2)])
    with pytest.raises(ValueError):
        similarity.hard_negative_pairs(d, k=1)


# --------------------------------------------- PPJoin completeness property

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    threshold=st.sampled_from([0.5, 0.6, 0.7, 0.75, 0.8, 0.9]),
)
def test_prefix_filter_matches_quadratic_jaccard(spark, seed, threshold):
    """PPJoin completeness as a property: on a random small corpus with
    planted near-dups, prefix_filter_pairs must emit EXACTLY the pair
    set a quadratic Python reference finds — the integer-exact prefix
    lengths (Fraction ceilings) are what a double-ceil would break at
    thresholds like 0.7."""
    import random as _r

    rng = _r.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    base_docs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 25)))
        for _ in range(8)
    ]
    # plant mutated copies so thresholds actually trigger
    mutated = []
    for t in base_docs[:4]:
        ws = t.split()
        ws[rng.randrange(len(ws))] = rng.choice(vocab)
        mutated.append(" ".join(ws))
    texts = base_docs + mutated
    d = _docs(spark, texts)

    def shingles(t, n=3):
        ws = t.lower().split()
        return set(
            " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
        ) if len(ws) >= n else set()

    expected = set()
    sh = [shingles(t) for t in texts]
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            if not sh[a] or not sh[b]:
                continue
            inter = len(sh[a] & sh[b])
            jac = round(inter / (len(sh[a] | sh[b])), 6)
            if jac >= threshold:
                expected.add((a, b))

    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.prefix_filter_pairs(d, threshold).collect()
    }
    assert got == expected


@pytest.mark.parametrize("m", [None, 4], ids=["flat", "pq"])
def test_ivf_index_append_equals_full_build(spark, tmp_path, m):
    """Incremental maintenance is exact: with append ids above every
    base id, the pinned centroids equal a full rebuild's (lowest-id-
    per-bucket picker), so build(A)+append(B) must serve IDENTICAL
    results to build(A∪B) — and the stats report sees the growth.
    Codebooks fit on A and on A∪B differ, so the PQ case rescores every
    candidate exactly: what must match is that each appended vector
    landed in its list."""
    import numpy as np

    from hypermap_etl_spark.operators import similarity

    rng = np.random.RandomState(11)
    a_rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(200)]
    b_rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(200, 260)]
    A = spark.createDataFrame(a_rows, "vec_id long, embedding array<float>")
    B = spark.createDataFrame(b_rows, "vec_id long, embedding array<float>")
    full = A.unionByName(B)

    inc, ref = str(tmp_path / "inc"), str(tmp_path / "ref")
    similarity.ivf_index_write(A, inc, n_centroids=8, m=m, k_codes=8)
    rep = similarity.ivf_index_append(B, inc)
    assert rep["appended"] == 60 and 1 <= rep["listsTouched"] <= 8
    similarity.ivf_index_write(full, ref, n_centroids=8, m=m, k_codes=8)

    # precondition the equality rests on: same pinned centroids
    ci = sorted(
        tuple(r) for r in spark.read.parquet(f"{inc}/centroids.parquet").collect()
    )
    cr = sorted(
        tuple(r) for r in spark.read.parquet(f"{ref}/centroids.parquet").collect()
    )
    assert ci == cr

    qf = full.filter(F.col("vec_id") % 40 == 0)
    exact = {} if m is None else {"candidates": 260, "rescore_with": full}

    def search(path):
        return sorted(
            tuple(r)
            for r in similarity.ivf_index_search(
                spark, path, qf, k=5, n_probe=3, **exact
            ).collect()
        )

    got, want = search(inc), search(ref)
    assert got == want and len(got) > 0

    stats = similarity.ivf_index_stats(spark, inc).collect()
    assert sum(r["n_vectors"] for r in stats) == 260
    assert abs(sum(r["share"] for r in stats) - 1.0) < 1e-4
    assert all(r["imbalance"] > 0 for r in stats)


def test_pq_append_encodes_with_pinned_codebooks(spark, tmp_path):
    """Appending encodes the batch with the STANDING codebooks — the
    stored codes equal a direct pq_encode against those books, the
    totals account, and a search over the grown index ranks an
    appended exact-duplicate vector at the top."""
    import numpy as np

    from hypermap_etl_spark.operators import similarity

    rng = np.random.RandomState(5)
    a_rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(80)]
    A = spark.createDataFrame(a_rows, "vec_id long, embedding array<float>")
    # batch: fresh vectors plus an exact copy of vec 7 under a new id
    b_rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(80, 100)]
    b_rows.append((100, a_rows[7][1]))
    B = spark.createDataFrame(b_rows, "vec_id long, embedding array<float>")

    path = str(tmp_path / "pq")
    similarity.ivf_index_write(A, path, n_centroids=1, m=4, k_codes=8)
    rep = similarity.ivf_index_append(B, path)
    assert rep["appended"] == 21
    codes = spark.read.parquet(f"{path}/lists")
    assert codes.count() == 101

    # stored codes for the batch == direct encode with the pinned books
    rows = spark.read.parquet(f"{path}/codebooks.parquet").collect()
    books = [dict() for _ in range(4)]
    for r in rows:
        books[r["j"]][r["code"]] = list(r["cent"])
    books = [[b[c] for c in sorted(b)] for b in books]
    want = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(B, books).collect()
    }
    got = {
        r["neighbor_id"]: list(r["codes"])
        for r in codes.filter(F.col("neighbor_id") >= 80).collect()
    }
    assert got == want

    # the appended duplicate of vec 7 shares vec 7's codes, so an ADC
    # search FROM vec 7 ranks id 100 with the same (maximal) ADC score
    # as any same-code vector — it must appear in the top-k
    q = A.filter(F.col("vec_id") == 7)
    res = similarity.ivf_index_search(spark, path, q, k=3).collect()
    assert 100 in {r["neighbor_id"] for r in res}


# --------------------------------------------- r7: JSD + matryoshka ----


def test_source_js_divergence_zero_same_dist_large_disjoint(spark):
    from hypermap_etl_spark.operators.textstats import source_js_divergence
    from hypermap_etl_spark.util import release_persisted

    base = "the quick brown fox jumps over the lazy dog"
    rows = []
    # two sources with IDENTICAL word distributions
    for i in range(10):
        rows.append((i, "same_a", base))
        rows.append((100 + i, "same_b", base))
    # one source sharing NO words with the rest
    for i in range(10):
        rows.append((200 + i, "alien", "zorp blib quux flarn zorp blib"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in source_js_divergence(df, top_v=50).collect()}
    release_persisted()
    import math

    # identical-to-blend sources sit close to zero but NOT at zero
    # (the corpus blend includes the alien mass); the alien source is
    # far from the blend, approaching the ln 2 bound
    assert got["same_a"]["jsd"] == got["same_b"]["jsd"]
    assert 0 <= got["same_a"]["jsd"] < 0.2
    assert got["alien"]["jsd"] > 0.3
    for r in got.values():
        assert -1e-9 <= r["jsd"] <= math.log(2.0) + 1e-9


def test_truncated_topk_recall_full_width_is_perfect(spark):
    import numpy as np

    from hypermap_etl_spark.operators.similarity import truncated_topk_recall

    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 8)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    out = truncated_topk_recall(
        df, dims=8, k=3, query_filter=F.col("vec_id") % 10 == 0
    ).collect()
    assert len(out) == 4
    assert all(r["recall"] == 1.0 and r["n_hit"] == 3 for r in out)

    # geometry concentrated in the first 2 dims -> tiny prefix still
    # recovers the full ranking
    Y = np.zeros((30, 8))
    Y[:, 0] = np.cos(np.arange(30) * 0.2)
    Y[:, 1] = np.sin(np.arange(30) * 0.2)
    Y[:, 2:] = 1e-9  # constant noise floor
    df2 = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(Y)],
        "vec_id long, embedding array<double>",
    )
    out2 = truncated_topk_recall(
        df2, dims=2, k=3, query_filter=F.col("vec_id") % 10 == 0
    ).collect()
    assert all(r["recall"] == 1.0 for r in out2)

    with pytest.raises(ValueError):
        truncated_topk_recall(df2, dims=0)


def test_ivfpq_full_probe_with_rescore_is_exact(spark, tmp_path):
    """IVF-PQ with every list probed and a generous refine shortlist
    must recover the exact top-k (probing everything removes the IVF
    approximation; the rescore removes the PQ one), and the list scan
    must carry cid PartitionFilters when probing a subset."""
    import numpy as np

    from hypermap_etl_spark.operators import similarity
    from hypermap_etl_spark.util import release_persisted

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(150)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qf = F.col("vec_id") % 30 == 0

    path = str(tmp_path / "ivfpq")
    similarity.ivf_index_write(emb, path, n_centroids=4, m=4, k_codes=8)
    got = similarity.ivf_index_search(
        spark, path, emb.filter(qf), k=5, n_probe=4, candidates=150,
        rescore_with=emb,
    )
    want = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in want.collect())
    assert a == b and len(a) == 5 * 5

    # subset probing prunes list directories
    pruned = similarity.ivf_index_search(
        spark, path, emb.filter(qf), k=5, n_probe=1
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan
    # ADC-only mode returns a full ranking too (lower recall is fine,
    # shape must hold: k rows per query, rank 1..k)
    per = {}
    for r in pruned.collect():
        per.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())
    release_persisted()


def test_skipgram_cooc_window_semantics(spark):
    """Pairs at distance 1..window counted, beyond-window excluded,
    unordered canonicalization merges directions, and the plan is the
    delta-join (one equi-join, no per-doc cross join)."""
    from hypermap_etl_spark.operators.textstats import skipgram_cooc
    from hypermap_etl_spark.util import release_persisted

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "e d c b a")], "doc_id long, text string"
    )
    out = {(r["w1"], r["w2"]): r["n"] for r in skipgram_cooc(
        docs, window=2, min_count=1, top_k=100).collect()}
    # distance 1 and 2 in both docs -> every pair counted twice
    assert out[("a", "b")] == 2 and out[("a", "c")] == 2
    assert out[("b", "c")] == 2 and out[("c", "e")] == 2
    # distance 3+ never pairs
    assert ("a", "d") not in out and ("a", "e") not in out

    plan = skipgram_cooc(docs, window=2, min_count=1)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    release_persisted()

    import pytest as _pt

    with _pt.raises(ValueError):
        skipgram_cooc(docs, window=0)


def test_sppmi_matches_hand_formula_and_shift(spark):
    """SPPMI on a tiny corpus equals the hand-computed
    max(0, ln(n*T/(mw*mc)) - ln k); raising k only lowers scores and
    clamps more cells to 0; marginals use the FULL matrix even when
    min_count hides cells."""
    import math

    from hypermap_etl_spark.operators.textstats import sppmi_matrix
    from hypermap_etl_spark.util import release_persisted

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b a b"), (3, "c d")],
        "doc_id long, text string",
    )
    out = {(r["w1"], r["w2"]): r for r in
           sppmi_matrix(docs, window=2, min_count=2, top_k=50,
                        shift_k=1).collect()}
    # recompute expected from scratch
    pairs = []
    for _, text in [(1, "a b a b c"), (2, "a b a b"), (3, "c d")]:
        ws = text.split()
        for i in range(len(ws)):
            for j in range(i + 1, min(i + 3, len(ws))):
                pairs.append(tuple(sorted((ws[i], ws[j]))))
    from collections import Counter

    cnt = Counter(pairs)
    t = sum(cnt.values())
    marg = Counter()
    for (x, y), n in cnt.items():
        marg[x] += n
        marg[y] += n
    for (x, y), n in cnt.items():
        if n < 2:
            assert (x, y) not in out
            continue
        want = max(0.0, math.log(n) + math.log(t)
                   - math.log(marg[x]) - math.log(marg[y]) - math.log(1))
        assert abs(out[(x, y)]["sppmi"] - round(want, 6)) < 1e-9
        assert out[(x, y)]["n"] == n
    # shift: larger k shrinks every score toward the 0 clamp
    shifted = {(r["w1"], r["w2"]): r["sppmi"] for r in
               sppmi_matrix(docs, window=2, min_count=2, top_k=50,
                            shift_k=50).collect()}
    assert all(v == 0.0 for v in shifted.values())
    release_persisted()


def test_negative_sampling_table_smoothing_and_cdf(spark):
    """alpha=0.75 flattens the head (share ratios compress vs count
    ratios); shares sum to ~1 with the last cum_share exactly 1.0
    (exact-decimal total); alpha=1 reproduces raw count shares; the
    top_v cut is (n DESC, word) deterministic."""
    from hypermap_etl_spark.operators.textstats import negative_sampling_table
    from hypermap_etl_spark.util import release_persisted

    docs = spark.createDataFrame(
        [(1, "a " * 16 + "b " * 4 + "c"), (2, "a a b c")],
        "doc_id long, text string",
    )
    # counts: a=18, b=5, c=2
    out = {r["word"]: r for r in
           negative_sampling_table(docs, alpha=0.75, top_v=10).collect()}
    assert [out[w]["n"] for w in "abc"] == [18, 5, 2]
    # smoothing: a/c count ratio 9; weight ratio 9^0.75 < 9
    ratio = out["a"]["weight"] / out["c"]["weight"]
    assert ratio < 9.0 and abs(ratio - 9 ** 0.75) < 1e-4
    assert out["c"]["cum_share"] == 1.0  # exact decimal total
    # alpha=1: shares are exact count fractions
    raw = {r["word"]: r for r in
           negative_sampling_table(docs, alpha=1.0, top_v=10).collect()}
    assert raw["a"]["share"] == round(18 / 25, 9)
    # deterministic cap: top_v=2 keeps the two heaviest
    two = {r["word"] for r in
           negative_sampling_table(docs, alpha=0.75, top_v=2).collect()}
    assert two == {"a", "b"}
    import pytest

    with pytest.raises(ValueError):
        negative_sampling_table(docs, alpha=0.0)
    release_persisted()


def test_source_hellinger_metric_properties(spark):
    from hypermap_etl_spark.operators.textstats import source_hellinger
    from hypermap_etl_spark.util import release_persisted

    base = "the quick brown fox jumps over the lazy dog"
    rows = []
    for i in range(10):
        rows.append((i, "same_a", base))
        rows.append((100 + i, "same_b", base))
    for i in range(10):
        rows.append((200 + i, "alien", "zorp blib quux flarn zorp blib"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in source_hellinger(df, top_v=50).collect()}
    release_persisted()
    # identical sources get identical distances; the alien source,
    # sharing NO words with the others, is farther from the blend
    assert got["same_a"]["hellinger"] == got["same_b"]["hellinger"]
    assert got["alien"]["hellinger"] > got["same_a"]["hellinger"]
    for r in got.values():
        # bounded in [0, 1]; BC + H^2 = 1 up to the quantization
        assert 0.0 <= r["hellinger"] <= 1.0
        assert abs(
            r["bhattacharyya"] + r["hellinger"] ** 2 - 1.0
        ) < 1e-4

    # ONE source only: its distribution IS the corpus -> H at the
    # quantization floor (each term rounds at 12 dp before the sum)
    solo = spark.createDataFrame(
        [(1, "only", base), (2, "only", base)],
        "doc_id long, source string, text string",
    )
    s = source_hellinger(solo, top_v=50).collect()[0]
    release_persisted()
    assert s["hellinger"] < 1e-5 and s["bhattacharyya"] == 1.0


def test_centroid_drift_self_check(spark):
    from hypermap_etl_spark.operators.similarity import centroid_drift

    # identical vectors in both halves -> cosine 1, L2 0 exactly
    rows = [(i, [1.0, 2.0, 3.0], 7) for i in range(20)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = centroid_drift(df).collect()[0]
    assert out["n_a"] == 10 and out["n_b"] == 10
    assert out["centroid_cosine"] == 1.0 and out["centroid_l2"] == 0.0

    # a planted half-shift: even ids at e1, odd ids at e2 -> cosine 0
    shift = [
        (i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0], 1) for i in range(40)
    ]
    sd = spark.createDataFrame(
        shift, "vec_id long, embedding array<float>, label int"
    )
    s = centroid_drift(sd).collect()[0]
    assert s["centroid_cosine"] == 0.0
    import math

    assert abs(s["centroid_l2"] - math.sqrt(2.0)) < 1e-6

    # labels separate; a label in only one half yields no drift row
    mixed = spark.createDataFrame(
        [(0, [1.0], 1), (1, [1.0], 1), (2, [1.0], 9)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r["label"]: r for r in centroid_drift(mixed).collect()}
    assert set(got) == {1}


def test_source_simpson_faces(spark):
    from hypermap_etl_spark.operators.textstats import source_simpson

    # uniform over 4 words, 3 tokens each: lambda = 4*3*2/(12*11)=2/11
    uni = spark.createDataFrame(
        [(1, "u", "a b c d a b c d a b c d")],
        "doc_id long, source string, text string",
    )
    u = source_simpson(uni).collect()[0]
    assert u["n_tokens"] == 12 and u["n_types"] == 4
    assert abs(u["simpson"] - 2 / 11) < 1e-6
    assert abs(u["inv_simpson"] - 5.5) < 1e-5
    # one word repeated: lambda = 1 exactly, diversity 0
    mono = spark.createDataFrame(
        [(1, "m", "x x x x")], "doc_id long, source string, text string"
    )
    m = source_simpson(mono).collect()[0]
    assert m["simpson"] == 1.0 and m["gini_simpson"] == 0.0
    # a concentrated source is LESS diverse than a uniform one
    conc = spark.createDataFrame(
        [(1, "c", "a a a a a a a a a b c d")],
        "doc_id long, source string, text string",
    )
    c = source_simpson(conc).collect()[0]
    assert c["gini_simpson"] < u["gini_simpson"]
    # single-token source dropped (estimator undefined)
    tiny = spark.createDataFrame(
        [(1, "t", "solo")], "doc_id long, source string, text string"
    )
    assert source_simpson(tiny).count() == 0


def test_source_vocab_overlap_jaccard(spark):
    from hypermap_etl_spark.plans.doc_queries import doc_source_vocab_overlap
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp()
    rows = [
        (1, "a", "x y z"),
        (2, "a", "x y"),         # a vocab: {x,y,z}
        (3, "b", "x y z"),       # b vocab: {x,y,z} -> identical to a
        (4, "c", "p q"),         # c vocab: {p,q}  -> disjoint
        (5, "d", "x p"),         # d vocab: {x,p}  -> partial overlap
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).selectExpr("doc_id", "source", "text", "'en' AS lang",
                 "length(text) AS n_chars").write.parquet(
        os.path.join(base, "documents.parquet")
    )
    out = {
        (r["src_a"], r["src_b"]): r["jaccard"]
        for r in doc_source_vocab_overlap(spark, base).collect()
    }
    shutil.rmtree(base)
    assert out[("a", "b")] == 1.0          # the duplicated-crawl signal
    assert ("a", "c") not in out           # disjoint pairs emit no row
    assert abs(out[("a", "d")] - 0.25) < 1e-9   # {x}/{x,y,z,p}
    assert abs(out[("c", "d")] - (1 / 3)) < 1e-6


def test_emb_norm_profile_detects_collapse(spark, tmp_path):
    import os
    import shutil

    from hypermap_etl_spark.plans.doc_queries import emb_norm_profile
    from hypermap_etl_spark.util import release_persisted

    base = str(tmp_path / "sf")
    os.makedirs(base)
    rows = []
    # label 1: healthy unit-norm vectors; label 2: collapsed to ~0.1
    for i in range(40):
        rows.append((i, [3.0, 4.0], 1))          # norm 5
        rows.append((100 + i, [0.06, 0.08], 2))  # norm 0.1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(base, "embeddings.parquet"))
    out = {r["label"]: r for r in emb_norm_profile(spark, base).collect()}
    release_persisted()
    shutil.rmtree(base)
    assert out[1]["mean_norm"] == 5.0 and out[1]["p50_norm"] == 5.0
    assert out[2]["mean_norm"] < 0.2  # the collapse is visible
    assert out[1]["n_vecs"] == 40
    # quantiles ride the decimal(12,2) grid of the quantile table
    assert out[2]["p90_norm"] <= 0.2


def test_class_separability_margin(spark):
    from hypermap_etl_spark.operators.similarity import class_separability

    # two well-separated clusters: margin strongly positive
    rows = []
    for i in range(30):
        rows.append((i, [1.0, 0.0 + 0.01 * (i % 3)], 1))
        rows.append((100 + i, [0.0 + 0.01 * (i % 3), 1.0], 2))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["label"]: r for r in class_separability(df).collect()}
    for lb in (1, 2):
        assert out[lb]["cos_own"] > 0.99
        assert out[lb]["margin"] > 0.2
        assert out[lb]["cos_own"] > out[lb]["cos_global"]

    # labels that are a random relabeling of ONE blob: margin ~ 0
    blob = [
        (i, [1.0, float((i * 7) % 5) / 10.0], 1 + i % 2) for i in range(60)
    ]
    bd = spark.createDataFrame(
        blob, "vec_id long, embedding array<float>, label int"
    )
    b = {r["label"]: r for r in class_separability(bd).collect()}
    for lb in (1, 2):
        assert abs(b[lb]["margin"]) < 0.01


def test_semdedup_prunes_cliques_keeps_singletons(spark):
    """SemDeDup: two planted near-identical groups + distinct
    singletons across two well-separated blobs — exactly one survivor
    per near-dup clique (the min-(centroid_sim, id) member), singletons
    untouched, and the quadratic stage bounded to within-cluster."""
    import random

    rnd = random.Random(5)

    def jitter(mu, eps):
        return [float(m + rnd.gauss(0, eps)) for m in mu]

    mu_a, mu_b = [5.0] * 8, [-5.0] * 8
    rows = []
    # clique 1: 4 near-copies in blob A; clique 2: 3 near-copies in B
    for i in range(4):
        rows.append((10 + i, jitter(mu_a, 0.01)))
    for i in range(3):
        rows.append((20 + i, jitter(mu_b, 0.01)))
    # singletons: same blobs, but far enough to stay under threshold
    rows.append((30, jitter([5.0] * 4 + [9.0] * 4, 0.01)))
    rows.append((31, jitter([-5.0] * 4 + [-9.0] * 4, 0.01)))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = similarity.semdedup(emb, k=2, threshold=0.99, n_iter=4)
    got = {r["vec_id"]: r.asDict() for r in out.collect()}
    assert len(got) == 9

    kept1 = [i for i in (10, 11, 12, 13) if got[i]["keep"]]
    kept2 = [i for i in (20, 21, 22) if got[i]["keep"]]
    assert len(kept1) == 1 and len(kept2) == 1
    assert got[30]["keep"] and got[31]["keep"]
    # survivor = the clique member with the smallest (centroid_sim, id)
    want1 = min((10, 11, 12, 13),
                key=lambda i: (got[i]["centroid_sim"], i))
    assert kept1 == [want1]
    # a sky-high threshold keeps everything
    all_keep = similarity.semdedup(emb, k=2, threshold=1.1, n_iter=4)
    assert all(r["keep"] for r in all_keep.collect())


@pytest.mark.parametrize("m", [None, 4], ids=["flat", "pq"])
def test_ivf_compact_preserves_results(spark, tmp_path, m):
    """ivf_index_compact: posting-list defragmentation collapses every
    over-fragmented cid= directory to one file and changes NOTHING
    about search — same rows, same sims, same ranks — while stats
    still account for every stored row. A crash-redelivered append
    stores its batch twice; search scores each pair once, so results
    equal the clean ones before and after compaction (which keeps the
    duplicate rows)."""
    import os

    import numpy as np

    from hypermap_etl_spark.operators import similarity

    rng = np.random.RandomState(13)
    A = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    B = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(200, 280)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "idx")
    similarity.ivf_index_write(A, path, n_centroids=4, m=m, k_codes=8)
    similarity.ivf_index_append(B, path)

    def files():
        return {
            d: len([
                f for f in os.listdir(f"{path}/lists/{d}")
                if f.endswith(".parquet")
            ])
            for d in os.listdir(f"{path}/lists")
            if d.startswith("cid=")
        }

    qf = A.unionByName(B).filter(F.col("vec_id") % 37 == 0)

    def search():
        return sorted(
            tuple(r)
            for r in similarity.ivf_index_search(
                spark, path, qf, k=5, n_probe=2
            ).collect()
        )

    clean = search()
    similarity.ivf_index_append(B, path)  # redelivered
    assert search() == clean and len(clean) > 0
    pre_files = files()
    assert sum(pre_files.values()) > 4 * 1  # fragmented: >1 file/list
    rep = similarity.ivf_index_compact(spark, path, max_files=1)
    assert rep["partitions_compacted"] >= 1
    post_files = files()
    assert all(n == 1 for n in post_files.values()), post_files
    assert search() == clean
    stats = similarity.ivf_index_stats(spark, path).collect()
    assert sum(r["n_vectors"] for r in stats) == 280 + 80
    # idempotent: nothing left over max_files
    rep2 = similarity.ivf_index_compact(spark, path, max_files=1)
    assert rep2["partitions_compacted"] == 0
