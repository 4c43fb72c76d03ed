"""Driver-gate queries for the LLM-data-pipeline operators:
dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity
search, and text analysis over the `documents` / `embeddings` tables.

Oracle philosophy per family:
  - text stats / langid / fingerprints / simhash: the oracle reproduces
    the exact formula independently in DuckDB SQL (md5/replace/regexp
    semantics chosen to be engine-identical).
  - ngram/minhash/simhash PAIR mining: the oracle is the EXACT
    quadratic all-pairs Jaccard; the Spark side uses the scalable
    candidate-generation path + exact verification, which equals the
    exact answer when candidate recall is 1 (P(miss) ≈ 5e-8 for the
    configured bands at J≥0.8 — see operators/dedup.py).
  - embeddings: exact cosine with deterministic rounding + tie-breaks.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hypermap_etl_spark.operators import corpus, curation, dedup, similarity, textstats
from hypermap_etl_spark.sources.tables import load_table
from hypermap_etl_spark.util import plan_cache


def _shingles_sql(n: int, expr: str = "t") -> str:
    """DuckDB word n-gram list over a lowercase text expression —
    mirrors textstats.word_shingles (raw single-space split)."""
    return (
        f"CASE WHEN len(string_split({expr}, ' ')) >= {n} THEN "
        f"list_transform(range(1, len(string_split({expr}, ' ')) - {n - 2}), "
        f"i -> array_to_string(list_slice(string_split({expr}, ' '), i, i + {n - 1}), ' ')) "
        "ELSE [] END"
    )


_SHINGLES_SQL = _shingles_sql(3)

_EXACT_PAIRS_SQL = f"""
WITH w AS (SELECT doc_id, lower(text) AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s FROM w
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, ROUND(c / (x.n + y.n - c), 6) AS jaccard
FROM inter
JOIN sz x ON x.doc_id = doc_a
JOIN sz y ON y.doc_id = doc_b
WHERE ROUND(c / (x.n + y.n - c), 6) >= 0.8
"""


# ------------------------------------------------------------ text stats ----

def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_stats(load_table(spark, sf_dir, "documents"))


TOKEN_ORACLE = """
WITH w AS (
  SELECT doc_id, lower(text) AS t,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
)
SELECT doc_id,
  length(t) AS n_chars_measured,
  len(ws) AS n_tokens_ws,
  len(regexp_extract_all(t, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS n_tokens_re,
  ROUND(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0) / greatest(len(ws), 1), 6)
    AS avg_word_len
FROM w
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_scores(load_table(spark, sf_dir, "documents"))


QUALITY_ORACLE = """
WITH w AS (
  SELECT doc_id, lower(text) AS t,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
m AS (
  SELECT doc_id, len(ws) AS n_words,
    len(list_filter(ws, x -> list_contains(
      ['the','a','and','of','to','in','is','on','for','with'], x))) AS n_stop,
    length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS n_punct,
    length(t) AS n_chars
  FROM w
)
SELECT doc_id,
  n_words,
  ROUND(n_stop / greatest(n_words, 1), 6) AS stopword_ratio,
  ROUND(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
  ROUND(0.4 * least(n_words / 100.0, 1.0)
        + 0.4 * (n_stop / greatest(n_words, 1))
        + 0.2 * (1.0 - n_punct / greatest(n_chars, 1)), 6) AS quality_score
FROM m
"""


def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.language_id(load_table(spark, sf_dir, "documents"))


def _langid_oracle() -> str:
    occ = lambda m: (  # noqa: E731
        f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS BIGINT)"
    )
    scores = {
        lang: " + ".join(occ(m) for m in markers)
        for lang, markers in textstats.LANG_MARKERS.items()
    }
    score_cols = ",\n  ".join(
        f"({scores[lang]}) AS score_{lang}" for lang in textstats.LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"score_{l}" for l in textstats.LANG_ORDER) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in textstats.LANG_ORDER
    ) + " END"
    return f"""
WITH p0 AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
s AS (
  SELECT doc_id,
  {score_cols}
  FROM p0
)
SELECT doc_id, score_en, score_de, score_fr, score_es, score_zh,
       {case} AS lang_pred
FROM s
"""


def doc_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pair counts keyed by
    the (unordered) source pair — which feeds copy from each other,
    the report that turns a dedup pass into a sourcing decision
    (drop/deprioritize a mirror instead of deduping it forever).
    One pair-mining pass + two broadcast label joins + one hash agg."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    pairs = dedup.ngram_jaccard_pairs(
        docs.select("doc_id", "text"), threshold=0.5
    )
    labels = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            labels.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "source", "src_a"
            ),
            "doc_a",
        )
        .join(
            labels.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "source", "src_b"
            ),
            "doc_b",
        )
    )
    return (
        labeled.select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), "source_x", "source_y")
        .limit(20)
    )


SOURCE_DUP_MATRIX_ORACLE = f"""
WITH w AS (SELECT doc_id, lower(text) AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct({{shingles}})) AS s FROM w
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sz x ON x.doc_id = doc_a
  JOIN sz y ON y.doc_id = doc_b
  WHERE ROUND(c / (x.n + y.n - c), 6) >= 0.5
),
lab AS (
  SELECT p.doc_a, p.doc_b, da.source AS src_a, db.source AS src_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
)
SELECT LEAST(src_a, src_b) AS source_x,
       GREATEST(src_a, src_b) AS source_y,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM lab
GROUP BY 1, 2
ORDER BY n_pairs DESC, source_x, source_y
LIMIT 20
""".replace("{shingles}", _SHINGLES_SQL)


def doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic-langid EVALUATION against the corpus's labeled lang
    column: confusion-matrix counts + per-true-language hit rate — the
    accuracy report a router needs before trusting the cheap heuristic
    at scale. One broadcast-joinable prediction frame + one hash agg."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = textstats.language_id(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", "lang_pred")
    conf = (
        docs.join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_lang = conf.groupBy("lang").agg(F.sum("n").alias("n_lang"))
    return (
        conf.join(F.broadcast(per_lang), "lang")
        .select(
            "lang",
            "lang_pred",
            "n",
            (F.col("lang") == F.col("lang_pred")).alias("is_correct"),
            F.round(F.col("n") / F.col("n_lang"), 6).alias("share_of_lang"),
        )
        .orderBy("lang", "lang_pred")
    )


def _langid_confusion_oracle() -> str:
    inner = _langid_oracle().strip()
    return f"""
WITH pred AS ({inner}),
conf AS (
  SELECT d.lang, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY d.lang, p.lang_pred
),
per AS (SELECT lang, SUM(n) AS n_lang FROM conf GROUP BY lang)
SELECT conf.lang, lang_pred, n,
       conf.lang = lang_pred AS is_correct,
       ROUND(n * 1.0 / n_lang, 6) AS share_of_lang
FROM conf JOIN per ON conf.lang = per.lang
ORDER BY conf.lang, lang_pred
"""


def doc_langid_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the heuristic language router
    against the labeled lang column (quality_model.multiclass_report
    over the same confusion matrix doc_langid_confusion certifies):
    the metric view a routing decision actually reads. Exact-long
    ratios; macro summaries are left to the consumer so the frame has
    no cross-row float accumulation."""
    from hypermap_etl_spark.operators.quality_model import multiclass_report

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = textstats.language_id(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", "lang_pred")
    return multiclass_report(docs.join(pred, "doc_id"), "lang", "lang_pred").orderBy(
        "label"
    )


def _langid_report_oracle() -> str:
    inner = _langid_oracle().strip()
    return f"""
WITH pred AS ({inner}),
conf AS (
  SELECT d.lang AS t, p.lang_pred AS p, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents d JOIN pred p USING (doc_id)
  WHERE d.lang IS NOT NULL AND p.lang_pred IS NOT NULL
  GROUP BY 1, 2
),
truth AS (
  SELECT t AS label, CAST(SUM(n) AS BIGINT) AS support,
         CAST(SUM(CASE WHEN t = p THEN n ELSE 0 END) AS BIGINT) AS tp
  FROM conf GROUP BY 1
),
predm AS (
  SELECT p AS label, CAST(SUM(n) AS BIGINT) AS predicted FROM conf GROUP BY 1
),
j AS (
  SELECT COALESCE(truth.label, predm.label) AS label,
         CAST(COALESCE(support, 0) AS BIGINT) AS support,
         CAST(COALESCE(predicted, 0) AS BIGINT) AS predicted,
         CAST(COALESCE(tp, 0) AS BIGINT) AS tp
  FROM truth FULL OUTER JOIN predm ON truth.label = predm.label
),
r AS (
  SELECT label, support, predicted, tp,
         CASE WHEN predicted > 0
              THEN CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE) END AS pr,
         CASE WHEN support > 0
              THEN CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) END AS rc
  FROM j
)
SELECT label, support, predicted, tp,
       ROUND(pr, 6) AS "precision", ROUND(rc, 6) AS recall,
       ROUND(CASE WHEN pr IS NULL OR rc IS NULL OR pr + rc = 0 THEN NULL
                  ELSE 2.0 * pr * rc / (pr + rc) END, 6) AS f1
FROM r ORDER BY label
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprints(load_table(spark, sf_dir, "documents"))


FP_ORACLE = f"""
WITH w AS (SELECT doc_id, lower(text) AS t FROM documents)
SELECT doc_id,
  md5(regexp_replace(t, '[^a-z0-9]', '', 'g')) AS fp_exact,
  COALESCE(list_min(list_transform({_SHINGLES_SQL}, s -> md5(s))), '') AS fp_shingle
FROM w
"""


# ----------------------------------------------------------------- dedup ----

def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ copies of every 10th doc (new ids) — gives exact-dedup
    real duplicate groups to find; same construction in the oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.unionByName(dups)


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dedup.exact_dup_groups(_augmented_docs(spark, sf_dir))
        .select(F.col("doc_id").alias("rep_doc_id"), "n_copies")
        .orderBy("rep_doc_id")
    )


EXACT_DEDUP_ORACLE = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
FROM aug GROUP BY md5(text)
HAVING COUNT(*) > 1
ORDER BY rep_doc_id
"""


def doc_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the inverted-index join."""
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), 0.8).orderBy(
        "doc_a", "doc_b"
    )


def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: exact n-gram pairs at J≥0.8 →
    connected components (alternating large-star/small-star), cluster
    id = component minimum. The step that turns pair MINING into an
    actual keep/drop dedup decision."""
    pairs = dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), 0.8)
    return dedup.duplicate_clusters(pairs).orderBy("doc_id")


# transitive closure as a recursive CTE: reach(s,d) enumerates every
# node d reachable from s over the symmetric pair graph (UNION dedups,
# so it terminates); the component id is the min reachable node
_DUP_CLUSTERS_CORE = f"""
WITH RECURSIVE pairsrc AS ({_EXACT_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairsrc
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairsrc
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
),
clusters AS (
  SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
  FROM reach GROUP BY s
)
"""

DUP_CLUSTERS_ORACLE = _DUP_CLUSTERS_CORE + "SELECT * FROM clusters ORDER BY doc_id"


def doc_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best near-dup dedup: each cluster keeps its HIGHEST
    quality-score member instead of the lowest id
    (corpus.dedup_survivors_best — one map-combined max_by over the
    duplicated fraction, no corpus-wide window)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, 0.8)
    clusters = dedup.duplicate_clusters(pairs)
    scored = docs.select("doc_id").join(
        textstats.quality_scores(docs).select("doc_id", "quality_score"), "doc_id"
    )
    return (
        corpus.dedup_survivors_best(scored, clusters, "quality_score")
        .select("doc_id")
        .orderBy("doc_id")
    )


DEDUP_BEST_ORACLE = _DUP_CLUSTERS_CORE + f""",
q AS ({QUALITY_ORACLE}),
m AS (
  SELECT c.doc_id, c.cluster_id, q.quality_score
  FROM clusters c JOIN q ON q.doc_id = c.doc_id
),
ranked AS (
  SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY quality_score DESC, doc_id ASC) AS rn
  FROM m
),
dropset AS (SELECT doc_id FROM ranked WHERE rn > 1)
SELECT d.doc_id FROM documents d
LEFT JOIN dropset x ON d.doc_id = x.doc_id
WHERE x.doc_id IS NULL
ORDER BY d.doc_id
"""


def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated token spans (Lee et al. 2022):
    maximal word intervals whose every 8-shingle occurs ≥2 times in
    the corpus. Span-grain dedup — cut the boilerplate, keep the doc."""
    return dedup.dup_token_spans(load_table(spark, sf_dir, "documents"), k=8).orderBy(
        "doc_id", "span_start"
    )


DUP_SPANS_ORACLE = f"""
WITH g AS (
  SELECT doc_id, {_shingles_sql(8, 'lower(text)')} AS gs FROM documents
),
sh AS (
  SELECT doc_id, pos, md5(gs[pos]) AS h
  FROM (SELECT doc_id, gs, unnest(range(1, len(gs) + 1)) AS pos FROM g)
),
dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
hits AS (SELECT doc_id, pos FROM sh WHERE h IN (SELECT h FROM dup)),
isl AS (
  -- interval union: hit spans are [pos, pos+7], so merge iff gap <= 7;
  -- gap = 8 is adjacency and deliberately breaks (one span per copy)
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 7
              THEN 0 ELSE 1 END AS brk
  FROM hits
),
grp AS (
  SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp_id
  FROM isl
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
FROM grp GROUP BY doc_id, grp_id
ORDER BY doc_id, span_start
"""


def doc_dup_char_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr at the CHARACTER grain (Lee et al.'s suffix-array
    resolution): maximal char intervals whose every 30-char window
    occurs ≥2 times in the corpus — byte-exact boundaries, even
    mid-word, where doc_dup_spans rounds to 8-word shingles. The Spark
    side is hash anchors (Arrow rolling hash) + raw-text verification;
    the oracle materializes every window directly."""
    return dedup.dup_char_spans(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        min_len=30,
    ).orderBy("doc_id", "span_start")


DUP_CHAR_SPANS_ORACLE = """
WITH pos AS (
  SELECT doc_id, i, substr(text, CAST(i AS INT), 30) AS g
  FROM documents,
       LATERAL unnest(generate_series(1, length(text) - 29)) AS t(i)
),
dup AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
hits AS (SELECT doc_id, i FROM pos WHERE g IN (SELECT g FROM dup)),
isl AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 29
              THEN 0 ELSE 1 END AS brk
  FROM hits
),
grp AS (
  SELECT doc_id, i, SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp_id
  FROM isl
)
SELECT doc_id, MIN(i) AS span_start, MAX(i) + 29 AS span_end
FROM grp GROUP BY doc_id, grp_id
ORDER BY doc_id, span_start
"""


def doc_despanned_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-grain ExactSubstr surgery end to end: find every maximal
    duplicated ≥30-char interval (dup_char_spans) and cut it from the
    text (cut_char_spans — one JVM fold stitching the kept segments).
    Byte-exact counterpart of doc_despanned's word grain."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spans = dedup.dup_char_spans(docs, min_len=30)
    return dedup.cut_char_spans(docs, spans).orderBy("doc_id")


DESPANNED_CHAR_ORACLE = """
WITH pos AS (
  SELECT doc_id, i, substr(text, CAST(i AS INT), 30) AS g
  FROM documents,
       LATERAL unnest(generate_series(1, length(text) - 29)) AS t(i)
),
dup AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
hits AS (SELECT doc_id, i FROM pos WHERE g IN (SELECT g FROM dup)),
isl AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 29
              THEN 0 ELSE 1 END AS brk
  FROM hits
),
grp AS (
  SELECT doc_id, i, SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp_id
  FROM isl
),
spans AS (
  SELECT doc_id, MIN(i) AS s, MAX(i) + 29 AS e
  FROM grp GROUP BY doc_id, grp_id
),
seg AS (
  SELECT doc_id, s, e,
         COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS prev_e
  FROM spans
),
mid AS (
  SELECT g.doc_id,
         string_agg(substr(d.text, CAST(g.prev_e + 1 AS INT),
                           CAST(g.s - g.prev_e - 1 AS INT)), '' ORDER BY g.s)
           AS kept_mid,
         MAX(g.e) AS last_e,
         CAST(SUM(g.e - g.s + 1) AS BIGINT) AS n_cut
  FROM seg g JOIN documents d ON d.doc_id = g.doc_id
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CASE WHEN m.doc_id IS NULL THEN d.text
            ELSE COALESCE(m.kept_mid, '')
                 || substr(d.text, CAST(m.last_e + 1 AS INT))
       END AS clean_text,
       COALESCE(m.n_cut, 0) AS n_cut_chars
FROM documents d LEFT JOIN mid m ON m.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def doc_sa_lcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LCP array over the distributed suffix array (capped at 64 chars)
    on the same 10% doc subset as doc_suffix_array — the full Lee et
    al. index, rank by rank, certified against DuckDB sorting the
    suffixes and probing prefix equality directly."""
    from hypermap_etl_spark.operators.suffixarray import (
        lcp_rank_adjacent,
        suffix_array,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 10 == 0)
    )
    sa = suffix_array(docs)
    return lcp_rank_adjacent(sa, docs, max_lcp=64).orderBy("rank")


SA_LCP_ORACLE = """
WITH pos AS (
  SELECT doc_id, i, substr(text, CAST(i AS INT)) AS suf
  FROM documents,
       LATERAL unnest(generate_series(1, length(text))) AS t(i)
  WHERE doc_id % 10 = 0
),
ranked AS (
  SELECT doc_id, i,
         substr(suf, 1, 64) AS s,
         lag(substr(suf, 1, 64)) OVER (ORDER BY suf, doc_id, i) AS p,
         row_number() OVER (ORDER BY suf, doc_id, i) AS r
  FROM pos
)
SELECT r AS rank, doc_id, i AS pos,
       CAST(COALESCE(MAX(CASE WHEN substr(s, 1, CAST(k AS INT))
                                 = substr(p, 1, CAST(k AS INT))
                              THEN k END), 0) AS BIGINT) AS lcp
FROM ranked, LATERAL unnest(generate_series(1, 64)) AS t(k)
WHERE p IS NOT NULL AND k <= least(64, length(s), length(p))
GROUP BY r, doc_id, i
ORDER BY r
"""


def doc_bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, step 1 certified end-to-end: the first
    merge is the argmax of dictionary-weighted adjacent symbol-pair
    counts (chars + word-end marker), which an independent SQL engine
    can reproduce exactly — so the distributed word-frequency
    aggregate AND the pair-count/tie-break semantics both get a driver
    row. The full merge LOOP is driver-side model-sized work
    (operators/bpe.py, the pca_fit split) and is verified against a
    pure-Python reference in tests/test_bpe.py."""
    from hypermap_etl_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the dictionary feeding the merge loop is CAPPED at the default
    # 1M most frequent words (deterministic (n DESC, word) TakeOrdered
    # cut) and the oracle mirrors the same ORDER BY/LIMIT — an
    # uncapped dictionary collect is a driver OOM at corpus scale
    # (VERDICT r6 #3; Heaps-law vocab growth)
    merges, _mdf = bpe.bpe_train(docs, n_merges=1, min_pair_count=1)
    a, b, c = merges[0]
    return spark.createDataFrame(
        [(a, b, int(c))], "pair_left string, pair_right string, pair_count bigint"
    )


BPE_FIRST_MERGE_ORACLE = """
WITH w AS (
  SELECT word, COUNT(*) AS n FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
  ORDER BY n DESC, word ASC LIMIT 1000000
),
sym AS (SELECT word, n, length(word) AS L FROM w),
pairs AS (
  SELECT substr(word, CAST(i AS INT), 1) AS pl,
         substr(word, CAST(i AS INT) + 1, 1) AS pr, n
  FROM sym, LATERAL unnest(generate_series(1, L - 1)) AS t(i)
  UNION ALL
  SELECT substr(word, CAST(L AS INT), 1) AS pl, '</w>' AS pr, n FROM sym
),
agg AS (SELECT pl, pr, SUM(n) AS pair_count FROM pairs GROUP BY pl, pr)
SELECT pl AS pair_left, pr AS pair_right,
       CAST(pair_count AS BIGINT) AS pair_count
FROM agg ORDER BY pair_count DESC, pl ASC, pr ASC LIMIT 1
"""


def doc_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal
    (curation.strip_boilerplate, the CCNet paragraph-hash screen at
    line grain). The fixture corpus is single-line, so the gate builds
    a page per document: a per-source shared header (recurs across the
    source's docs — stripped), the doc body, a footer on even ids
    (also recurs — stripped), and a doc-unique trailer (survives).
    The oracle replays the mining and the order-preserving surgery."""
    docs = load_table(spark, sf_dir, "documents")
    paged = docs.select(
        "doc_id",
        "source",
        F.concat_ws(
            "\n",
            F.concat(F.lit("header of "), F.col("source")),
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("standard footer.")),
            F.concat(F.lit("unique "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return curation.strip_boilerplate(paged, min_docs=3).orderBy("doc_id")


BOILERPLATE_ORACLE = """
WITH paged AS (
  SELECT doc_id, source,
         concat_ws(chr(10),
           'header of ' || source,
           text,
           CASE WHEN doc_id % 2 = 0 THEN 'standard footer.' END,
           'unique ' || CAST(doc_id AS VARCHAR)) AS text
  FROM documents
),
lns AS (
  SELECT p.doc_id, p.source, CAST(t.i AS INT) AS pos,
         list_extract(string_split(p.text, chr(10)), CAST(t.i AS INT)) AS line
  FROM paged p,
       LATERAL unnest(generate_series(
         1, len(string_split(p.text, chr(10))))) AS t(i)
),
bp AS (
  SELECT source, h FROM (
    SELECT DISTINCT source, doc_id, md5(trim(line)) AS h
    FROM lns WHERE trim(line) <> ''
  ) GROUP BY source, h HAVING COUNT(*) >= 3
),
kept AS (
  SELECT l.doc_id, l.source, l.pos, l.line
  FROM lns l LEFT JOIN bp
    ON bp.source = l.source AND bp.h = md5(trim(l.line))
  WHERE bp.h IS NULL
),
alln AS (
  SELECT doc_id, len(string_split(text, chr(10))) AS n_all FROM paged
)
SELECT k.doc_id, k.source,
       string_agg(k.line, chr(10) ORDER BY k.pos) AS text,
       CAST(a.n_all - COUNT(*) AS BIGINT) AS n_dropped
FROM kept k JOIN alln a ON a.doc_id = k.doc_id
GROUP BY k.doc_id, k.source, a.n_all
ORDER BY k.doc_id
"""


def doc_unigram_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (operators/unigram.py), seed
    stage certified end-to-end: the top-50 frequent substrings by
    (count x length desc, piece asc) over the dictionary — every
    substring occurrence of every distinct word up to 6 chars,
    weighted by word frequency — which SQL reproduces exactly. The EM
    + pruning loop is driver-side model-sized work under the
    documented no-SQL-oracle policy, verified against likelihood
    monotonicity / planted-piece properties in tests/test_unigram.py
    (the doc_bpe_first_merge split).

    The dictionary pull is CAPPED (VERDICT r6 #3): the driver collect
    takes the 1M most frequent words via word_frequencies' default
    deterministic (n DESC, word ASC) TakeOrdered cut — Heaps-law vocab
    at corpus scale is unbounded, so an uncapped collect is a driver
    OOM; the oracle mirrors the same ORDER BY/LIMIT."""
    from hypermap_etl_spark.operators import unigram
    from hypermap_etl_spark.operators.bpe import word_frequencies

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wf = {
        r["word"]: r["n"]
        for r in word_frequencies(docs).collect()
    }
    seeds = unigram.seed_pieces(wf, max_piece_len=6, seed_size=2000)
    rows = sorted(
        ((p, int(n), int(n) * len(p)) for p, n in seeds.items()),
        key=lambda t: (-t[2], t[0]),
    )[:50]
    return spark.createDataFrame(
        rows, "piece string, total_n bigint, score bigint"
    )


UNIGRAM_SEED_ORACLE = """
WITH w AS (
  SELECT word, COUNT(*) AS n FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
  ORDER BY n DESC, word ASC LIMIT 1000000
),
pos AS (
  SELECT word, n, CAST(t.i AS INT) AS i
  FROM w, LATERAL unnest(generate_series(1, length(word))) AS t(i)
),
spans AS (
  SELECT substr(word, i, CAST(l.v AS INT)) AS piece, n
  FROM pos, LATERAL unnest(generate_series(1, 6)) AS l(v)
  WHERE i + l.v - 1 <= length(word)
),
agg AS (SELECT piece, SUM(n) AS total_n FROM spans GROUP BY piece)
SELECT piece, CAST(total_n AS BIGINT) AS total_n,
       CAST(total_n * length(piece) AS BIGINT) AS score
FROM agg
ORDER BY score DESC, piece ASC LIMIT 50
"""


def doc_suffix_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed generalized suffix array (prefix doubling,
    operators/suffixarray.py) over a 10% doc subset: every suffix of
    every selected document, ranked in full lexicographic order with
    (doc_id, pos) tie-break — the Lee et al. ExactSubstr index itself,
    driver-certified against DuckDB literally sorting the suffixes.
    Spark never materializes a suffix (fixed-width rank rows + a
    seed_chars prefix key); the oracle pays the O(n²) suffix blowup,
    which is why the gate subsets."""
    from hypermap_etl_spark.operators.suffixarray import suffix_array

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 10 == 0)
    )
    return suffix_array(docs).orderBy("doc_id", "pos")


SUFFIX_ARRAY_ORACLE = """
WITH pos AS (
  SELECT doc_id, i, substr(text, CAST(i AS INT)) AS suf
  FROM documents,
       LATERAL unnest(generate_series(1, length(text))) AS t(i)
  WHERE doc_id % 10 = 0
)
SELECT doc_id, i AS pos,
       row_number() OVER (ORDER BY suf, doc_id, i) AS sa_rank
FROM pos ORDER BY doc_id, pos
"""


def doc_despanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr surgery end to end: find duplicated 8-shingle spans,
    cut them from the original (case-preserved) text. Pure JVM HOF
    rewrite — no Python in the cut."""
    docs = load_table(spark, sf_dir, "documents")
    spans = dedup.dup_token_spans(docs, k=8)
    return dedup.cut_spans(docs, spans).orderBy("doc_id")


DESPANNED_ORACLE = f"""
WITH g AS (SELECT doc_id, {_shingles_sql(8, 'lower(text)')} AS gs FROM documents),
sh AS (SELECT doc_id, pos, md5(gs[pos]) AS h
       FROM (SELECT doc_id, gs, unnest(range(1, len(gs) + 1)) AS pos FROM g)),
dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
hits AS (SELECT doc_id, pos FROM sh WHERE h IN (SELECT h FROM dup)),
isl AS (SELECT doc_id, pos,
        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 7
             THEN 0 ELSE 1 END AS brk
        FROM hits),
grp AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp_id
        FROM isl),
spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
          FROM grp GROUP BY doc_id, grp_id),
spl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp FROM spans GROUP BY doc_id),
base AS (SELECT d.doc_id, string_split(d.text, ' ') AS ws,
         COALESCE(spl.sp, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS sp
         FROM documents d LEFT JOIN spl USING (doc_id)),
cut AS (SELECT doc_id, ws,
        list_filter(list_transform(range(1, len(ws) + 1),
          i -> CASE WHEN len(list_filter(sp, p -> i >= p.s AND i <= p.e)) = 0
                    THEN ws[i] END), x -> x IS NOT NULL) AS kept
        FROM base)
SELECT doc_id, COALESCE(array_to_string(kept, ' '), '') AS clean_text,
       CAST(len(ws) - len(kept) AS BIGINT) AS n_cut_words
FROM cut ORDER BY doc_id
"""


def doc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: mine pairs → cluster → keep reps and
    singletons. The corpus that would actually ship to training."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup.duplicate_clusters(dedup.ngram_jaccard_pairs(docs, 0.8))
    return corpus.dedup_survivors(docs.select("doc_id"), clusters).orderBy("doc_id")


DEDUP_SURVIVORS_ORACLE = _DUP_CLUSTERS_CORE + """
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc_id FROM clusters WHERE doc_id <> cluster_id
)
ORDER BY d.doc_id
"""


def doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced corpus at T=2 over language strata:
    q_lang ∝ n^(1/2), filter-only downsampling via md5 id fractions."""
    return corpus.temperature_mix(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang"),
        temperature=2.0,
    ).orderBy("doc_id")


TEMPERATURE_MIX_ORACLE = """
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
w AS (SELECT lang, n, POW(n, 0.5) AS pw FROM c),
q AS (SELECT lang, n, pw / (SELECT SUM(pw) FROM w) AS q FROM w),
no AS (SELECT MIN(n / q) AS nout FROM q),
f AS (SELECT lang, LEAST(1.0, q * nout / n) AS kf FROM q CROSS JOIN no)
SELECT d.doc_id, d.lang, ROUND(f.kf, 6) AS keep_frac
FROM documents d JOIN f USING (lang)
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      / 4294967296.0 < f.kf
ORDER BY doc_id
"""


def doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket train/val/test assignment."""
    return corpus.hash_split(
        load_table(spark, sf_dir, "documents").select("doc_id")
    ).orderBy("doc_id")


SPLIT_ORACLE = """
SELECT doc_id,
  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'fd' THEN 'test'
       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'fa' THEN 'val'
       ELSE 'train' END AS split
FROM documents ORDER BY doc_id
"""


def doc_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split keyed on the SOURCE group
    (corpus.group_split): every document of a source shares one split,
    so a site's near-identical boilerplate can't straddle train/test.
    Same md5 bucket math as doc_split, hashed on the group key."""
    return corpus.group_split(
        load_table(spark, sf_dir, "documents").select("doc_id", "source"),
        "source",
    ).orderBy("doc_id")


GROUP_SPLIT_ORACLE = """
SELECT doc_id, source,
  CASE WHEN substr(md5(CAST(source AS VARCHAR)), 1, 2) >= 'fd' THEN 'test'
       WHEN substr(md5(CAST(source AS VARCHAR)), 1, 2) >= 'fa' THEN 'val'
       ELSE 'train' END AS split
FROM documents ORDER BY doc_id
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token windows (64 tokens, 8 overlap) per document."""
    return corpus.token_chunks(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=8
    ).orderBy("doc_id", "chunk_id")


CHUNKS_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
c AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
nc AS (
  SELECT doc_id, ws,
         CASE WHEN n <= 64 THEN 1
              ELSE CAST(ceil((n - 64) / 56.0) AS BIGINT) + 1 END AS k
  FROM c
),
ch AS (SELECT doc_id, unnest(range(0, k)) AS chunk_id, ws FROM nc)
SELECT doc_id, chunk_id,
  len(list_slice(ws, chunk_id * 56 + 1, chunk_id * 56 + 64)) AS n_tokens,
  array_to_string(list_slice(ws, chunk_id * 56 + 1, chunk_id * 56 + 64), ' ') AS chunk_text
FROM ch ORDER BY doc_id, chunk_id
"""


def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-count quartiles + p90 per detected language (exact
    interpolated percentiles; both engines define quantile_cont/
    percentile identically)."""
    return textstats.length_percentiles_by_lang(
        load_table(spark, sf_dir, "documents")
    ).orderBy("lang_pred")


def _length_pct_oracle() -> str:
    return f"""
WITH l AS ({_langid_oracle()}),
w AS (
  SELECT doc_id,
         len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_words
  FROM documents
)
SELECT l.lang_pred, COUNT(*) AS n_docs,
  ROUND(quantile_cont(n_words, 0.25), 6) AS p25,
  ROUND(quantile_cont(n_words, 0.5), 6) AS p50,
  ROUND(quantile_cont(n_words, 0.75), 6) AS p75,
  ROUND(quantile_cont(n_words, 0.9), 6) AS p90
FROM l JOIN w USING (doc_id)
GROUP BY l.lang_pred ORDER BY lang_pred
"""


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsample: cap 'en' at 25%, keep the
    rest — the corpus rebalancing step, layout-independent (md5, not
    sampleBy's partition-order RNG)."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = textstats.language_id(docs).select("doc_id", "lang_pred")
    return corpus.stratified_sample(labeled, "lang_pred", {"en": 0.25}).orderBy(
        "doc_id"
    )


def _stratified_oracle() -> str:
    return f"""
WITH l AS ({_langid_oracle()})
SELECT doc_id, lang_pred FROM l
WHERE CASE WHEN lang_pred = 'en'
           THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
           ELSE TRUE END
ORDER BY doc_id
"""


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean log10 unigram probability per doc (LM-quality proxy)."""
    return textstats.unigram_logprob(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


UNIGRAM_LOGPROB_ORACLE = """
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
         AS term
  FROM documents
),
f AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY term),
n AS (SELECT COUNT(*) AS total FROM t)
SELECT doc_id,
       ROUND(AVG(log10(f.tf / (SELECT total * 1.0 FROM n))), 6) AS mean_logprob,
       COUNT(*) AS n_tokens
FROM t JOIN f USING (term)
GROUP BY doc_id ORDER BY doc_id
"""


def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM score (textstats.bigram_logprob,
    Jelinek-Mercer α=0.4) — the next rung of the CCNet perplexity
    ladder above doc_unigram_logprob; the oracle rebuilds both count
    tables and the interpolation term-for-term."""
    return textstats.bigram_logprob(
        load_table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


BIGRAM_LOGPROB_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
t AS (SELECT doc_id, unnest(ws) AS term FROM w),
f AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY term),
n AS (SELECT COUNT(*) AS total FROM t),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
         unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
  FROM w WHERE len(ws) >= 2
),
bf AS (SELECT w1, w2, COUNT(*) AS bf FROM bg GROUP BY w1, w2),
cf AS (SELECT w1, COUNT(*) AS cf FROM bg GROUP BY w1),
sc AS (
  SELECT bg.doc_id,
         log10(CAST(0.4 AS DOUBLE)
                 * (CAST(bf.bf AS DOUBLE) / CAST(cf.cf AS DOUBLE))
               + (1.0 - CAST(0.4 AS DOUBLE))
                 * (f.tf / (SELECT total * 1.0 FROM n))) AS lp
  FROM bg JOIN bf USING (w1, w2) JOIN cf USING (w1) JOIN f ON f.term = bg.w2
),
agg AS (
  SELECT doc_id, ROUND(AVG(lp), 6) AS mean_logprob, COUNT(*) AS n_bigrams
  FROM sc GROUP BY doc_id
)
SELECT d.doc_id, a.mean_logprob, COALESCE(a.n_bigrams, 0) AS n_bigrams
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
"""


@plan_cache
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (dedup.ngram_containment_pairs,
    C(A→B)=|A∩B|/|A| ≥ 0.9): every 5th document gets a synthetic
    15-word 'quote' companion (its own prefix — a sub-document), which
    Jaccard at any useful threshold misses but containment flags at
    ~1.0 in the quote→original direction. The oracle computes the
    exact quadratic containment over the same corpus."""
    docs = load_table(spark, sf_dir, "documents")
    quotes = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 15), " ").alias(
            "text"
        ),
    )
    corpus = docs.select("doc_id", "text").unionByName(quotes)
    return dedup.ngram_containment_pairs(corpus, threshold=0.9).orderBy(
        "doc_a", "doc_b"
    )


CONTAINMENT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 15), ' ') AS text
  FROM documents WHERE doc_id % 5 = 0
),
w AS (SELECT doc_id, lower(text) AS t FROM corpus),
sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s FROM w),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dirs AS (
  SELECT doc_a, doc_b, ROUND(c / x.n, 6) AS containment
  FROM inter JOIN sz x ON x.doc_id = doc_a
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b, ROUND(c / y.n, 6) AS containment
  FROM inter JOIN sz y ON y.doc_id = doc_b
)
SELECT * FROM dirs WHERE containment >= 0.9 ORDER BY doc_a, doc_b
"""


@plan_cache
def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher §A1.1 structural screens (curation.gopher_quality).
    The fixture corpus is single-line prose, so the gate builds a
    four-line page per doc — a bullet line, an every-3rd-doc ellipsis
    terminator, and doc_id%4 trailing '#' symbols — so every rule
    measures something. The fixture vocabulary holds at most ONE of
    Gopher's eight stop words, so even docs get 'the data of note'
    prepended (passing the ≥2-types rule) and odd docs keep failing
    it — both keep outcomes occur, and symbol/word-count rules add
    further variety. min_words lowered to 20 for the short fixture.
    The oracle replays each formula bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    page = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("the data of note ")).otherwise(
            F.lit("")
        ),
        F.col("text"),
        F.lit("\n- bullet one\n"),
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" ...\n")).otherwise(F.lit("\n")),
        F.lit("wrap up "),
        F.repeat(F.lit("#"), (F.col("doc_id") % 4).cast("int")),
    )
    return curation.gopher_quality(
        docs.select("doc_id", page.alias("text")), min_words=20
    ).orderBy("doc_id")


GOPHER_QUALITY_ORACLE = r"""
WITH paged AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'the data of note ' ELSE '' END
         || text || chr(10) || '- bullet one' || chr(10) || text
         || CASE WHEN doc_id % 3 = 0 THEN ' ...' || chr(10) ELSE chr(10) END
         || 'wrap up ' || repeat('#', CAST(doc_id % 4 AS INTEGER)) AS t
  FROM documents
),
m AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(t), '\s+'), x -> x <> '') AS ws,
         list_filter(list_transform(string_split(t, chr(10)), ln -> trim(ln)),
                     ln -> ln <> '') AS lines,
         (length(lower(t)) - length(replace(lower(t), '#', '')))
           + (length(lower(t)) - length(replace(lower(t), '...', ''))) / 3
           + (length(lower(t)) - length(replace(lower(t), chr(8230), '')))
           AS n_sym
  FROM paged
),
sig AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         ROUND(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0)
               / greatest(len(ws), 1), 6) AS mean_word_len,
         ROUND(n_sym / greatest(len(ws), 1), 6) AS symbol_ratio,
         ROUND(len(list_filter(lines, ln -> starts_with(ln, '-')
                 OR starts_with(ln, '*') OR starts_with(ln, '•')))
               / CAST(greatest(len(lines), 1) AS DOUBLE), 6) AS bullet_frac,
         ROUND(len(list_filter(lines, ln -> ends_with(ln, '...')
                 OR ends_with(ln, '…')))
               / CAST(greatest(len(lines), 1) AS DOUBLE), 6) AS ellipsis_frac,
         ROUND(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
               / CAST(greatest(len(ws), 1) AS DOUBLE), 6) AS alpha_frac,
         CAST(len(list_filter(list_distinct(ws), w -> list_contains(
           ['the','be','to','of','and','that','have','with'], w)))
           AS INTEGER) AS n_stop_types
  FROM m
)
SELECT *,
       n_words BETWEEN 20 AND 100000
       AND mean_word_len BETWEEN 3.0 AND 10.0
       AND symbol_ratio <= 0.1
       AND bullet_frac <= 0.9
       AND ellipsis_frac <= 0.3
       AND alpha_frac >= 0.8
       AND n_stop_types >= 2 AS keep
FROM sig ORDER BY doc_id
"""


def doc_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram score (textstats.kn_bigram_logprob,
    d=0.75) — the top rung of the perplexity ladder; the oracle rebuilds
    all four count tables (bigram, context total, distinct
    continuations both ways, bigram-type count) and the discounted
    interpolation term-for-term, every constant CAST to DOUBLE so
    DuckDB stays off its DECIMAL path (the pagerank-oracle lesson)."""
    return textstats.kn_bigram_logprob(
        load_table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


KN_LOGPROB_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
         unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
  FROM w WHERE len(ws) >= 2
),
bf AS (SELECT w1, w2, COUNT(*) AS bf FROM bg GROUP BY w1, w2),
cf AS (
  SELECT w1, COUNT(*) AS cf, COUNT(DISTINCT w2) AS n1f FROM bg GROUP BY w1
),
cont AS (SELECT w2, COUNT(DISTINCT w1) AS n1b FROM bg GROUP BY w2),
nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM bf),
sc AS (
  SELECT bg.doc_id,
         log10(GREATEST(bf.bf - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                 / cf.cf
               + CAST(0.75 AS DOUBLE) * cf.n1f / cf.cf
                 * (cont.n1b / (SELECT n FROM nt))) AS lp
  FROM bg JOIN bf USING (w1, w2) JOIN cf USING (w1)
  JOIN cont ON cont.w2 = bg.w2
),
agg AS (
  SELECT doc_id, ROUND(AVG(lp), 6) AS mean_logprob, COUNT(*) AS n_bigrams
  FROM sc GROUP BY doc_id
)
SELECT d.doc_id, a.mean_logprob, COALESCE(a.n_bigrams, 0) AS n_bigrams
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
"""


@plan_cache
def doc_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split (curation.quality_buckets over
    textstats.bigram_logprob): per-language NTILE(3) on the bigram-LM
    quality score, (score DESC, doc_id) ordering — the bucket label
    that drives CCNet's sampling policy. The oracle rebuilds the LM
    term-for-term and applies the same NTILE."""
    docs = load_table(spark, sf_dir, "documents")
    scored = (
        textstats.bigram_logprob(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "mean_logprob")
    )
    return curation.quality_buckets(
        scored, n_buckets=3, group_cols=("lang",)
    ).orderBy("doc_id")


PPL_BUCKETS_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
t AS (SELECT doc_id, unnest(ws) AS term FROM w),
f AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY term),
n AS (SELECT COUNT(*) AS total FROM t),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
         unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
  FROM w WHERE len(ws) >= 2
),
bf AS (SELECT w1, w2, COUNT(*) AS bf FROM bg GROUP BY w1, w2),
cf AS (SELECT w1, COUNT(*) AS cf FROM bg GROUP BY w1),
sc AS (
  SELECT bg.doc_id,
         log10(CAST(0.4 AS DOUBLE)
                 * (CAST(bf.bf AS DOUBLE) / CAST(cf.cf AS DOUBLE))
               + (1.0 - CAST(0.4 AS DOUBLE))
                 * (f.tf / (SELECT total * 1.0 FROM n))) AS lp
  FROM bg JOIN bf USING (w1, w2) JOIN cf USING (w1) JOIN f ON f.term = bg.w2
),
agg AS (
  SELECT doc_id, ROUND(AVG(lp), 6) AS mean_logprob FROM sc GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, d.lang, a.mean_logprob
  FROM documents d LEFT JOIN agg a USING (doc_id)
)
SELECT doc_id, lang, mean_logprob,
       CAST(CASE WHEN mean_logprob IS NULL THEN 3
            ELSE NTILE(3) OVER (PARTITION BY lang
                 ORDER BY mean_logprob DESC NULLS LAST, doc_id)
            END AS INTEGER) AS bucket
FROM scored ORDER BY doc_id
"""


def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the query {join, window, scan} — retrieval over
    the corpus as pure relational algebra."""
    return textstats.bm25_search(
        load_table(spark, sf_dir, "documents"), ["join", "window", "scan"]
    )


BM25_ORACLE = """
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
         AS term
  FROM documents
),
lens AS (SELECT doc_id, COUNT(*) AS len FROM t GROUP BY doc_id),
stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                 (SELECT AVG(len) FROM lens) AS avg_len),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM t
  WHERE term IN ('join', 'window', 'scan') GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
SELECT doc_id,
  ROUND(SUM(
    ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
    * tf.tf * 2.2
    / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len / stats.avg_len))
  ), 6) AS score
FROM tf
JOIN dfreq USING (term)
JOIN lens USING (doc_id)
CROSS JOIN stats
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""


def doc_bm25_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 joined back to readable snippets centered on the
    first query-term hit (textstats.bm25_snippets) — the serving
    projection of the retrieval stack."""
    return textstats.bm25_snippets(
        load_table(spark, sf_dir, "documents"),
        ["join", "window", "scan"],
        k=20,
    )


BM25_SNIPPETS_ORACLE = (
    "WITH hits AS ("
    + BM25_ORACLE
    + """)
SELECT d.doc_id, hits.score,
       CAST(COALESCE(LEAST(
         CASE WHEN instr(lower(d.text), 'join') > 0
              THEN instr(lower(d.text), 'join') END,
         CASE WHEN instr(lower(d.text), 'window') > 0
              THEN instr(lower(d.text), 'window') END,
         CASE WHEN instr(lower(d.text), 'scan') > 0
              THEN instr(lower(d.text), 'scan') END), 1) AS BIGINT)
         AS first_pos,
       substr(d.text,
              CAST(GREATEST(1, COALESCE(LEAST(
                CASE WHEN instr(lower(d.text), 'join') > 0
                     THEN instr(lower(d.text), 'join') END,
                CASE WHEN instr(lower(d.text), 'window') > 0
                     THEN instr(lower(d.text), 'window') END,
                CASE WHEN instr(lower(d.text), 'scan') > 0
                     THEN instr(lower(d.text), 'scan') END), 1) - 30)
                AS INT),
              80) AS snippet
FROM documents d JOIN hits ON d.doc_id = hits.doc_id
ORDER BY hits.score DESC, d.doc_id ASC
"""
)


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf·(N/df), totally
    tie-broken (linear idf — bit-reproducible, unlike ln)."""
    return textstats.tfidf_top_terms(
        load_table(spark, sf_dir, "documents"), k=3
    ).orderBy("doc_id", "rank")


TFIDF_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
t AS (SELECT doc_id, unnest(ws) AS term FROM w),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         ROUND(tf.tf * (SELECT COUNT(*) * 1.0 FROM documents) / dfq.df, 6) AS score
  FROM tf JOIN dfq USING (term)
)
SELECT doc_id, term, tf, df, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM s
) WHERE rank <= 3 ORDER BY doc_id, rank
"""


def doc_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token chunks (64/8) assigned to 512-token training packs within
    md5 buckets — the bucketed streaming-packing step."""
    chunks = corpus.token_chunks(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=8
    )
    return corpus.pack_sequences(chunks, max_tokens=512, n_buckets=32).orderBy(
        "doc_id", "chunk_id"
    )


PACKED_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
c AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
nc AS (
  SELECT doc_id, ws,
         CASE WHEN n <= 64 THEN 1
              ELSE CAST(ceil((n - 64) / 56.0) AS BIGINT) + 1 END AS k
  FROM c
),
ch AS (SELECT doc_id, unnest(range(0, k)) AS chunk_id, ws FROM nc),
chunks AS (
  SELECT doc_id, chunk_id,
         len(list_slice(ws, chunk_id * 56 + 1, chunk_id * 56 + 64)) AS n_tokens,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) % 32 AS bucket
  FROM ch
),
cum AS (
  SELECT doc_id, chunk_id, bucket, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY bucket
                                  ORDER BY doc_id, chunk_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
  FROM chunks
)
SELECT doc_id, chunk_id, bucket, n_tokens,
       CAST(FLOOR((c - n_tokens) / 512.0) AS BIGINT) AS pack_id
FROM cum ORDER BY doc_id, chunk_id
"""


def doc_train_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate: language + length + punctuation + score
    thresholds → keep/drop with reasons."""
    return corpus.train_filter(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def _train_filter_oracle() -> str:
    return f"""
WITH q AS ({QUALITY_ORACLE}), l AS ({_langid_oracle()}),
r AS (
  SELECT q.doc_id, concat_ws(',',
    CASE WHEN l.lang_pred <> 'en' THEN 'lang' END,
    CASE WHEN q.n_words < 20 THEN 'short' END,
    CASE WHEN q.punct_ratio > 0.2 THEN 'punct' END,
    CASE WHEN q.quality_score < 0.5 THEN 'quality' END) AS reasons
  FROM q JOIN l ON q.doc_id = l.doc_id
)
SELECT doc_id, (reasons = '') AS keep, reasons FROM r ORDER BY doc_id
"""


@plan_cache
def doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact verification (scale path)."""
    return dedup.minhash_dedup_pairs(load_table(spark, sf_dir, "documents"), 0.8).orderBy(
        "doc_a", "doc_b"
    )


def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash chunk-blocked candidates + exact verification."""
    return dedup.simhash_dedup_pairs(load_table(spark, sf_dir, "documents"), 0.8).orderBy(
        "doc_a", "doc_b"
    )


def doc_simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw 64-bit SimHash signatures (hi/lo halves) per document."""
    return dedup.simhash_signatures(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def _simhash_pairs_oracle() -> str:
    """Pairs with simhash hamming ≤ 3 AND exact Jaccard ≥ 0.8 — both
    recomputed independently in SQL (no recall assumption)."""
    sig_cte = _simhash_oracle().replace("ORDER BY doc_id", "")
    return f"""
WITH sigs AS ({sig_cte}),
sets AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shs
  FROM (SELECT doc_id, lower(text) AS t FROM documents)
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash_hi, b.simhash_hi))
      + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= 3
)
SELECT doc_a, doc_b,
  ROUND(len(list_intersect(x.shs, y.shs)) / len(list_distinct(x.shs || y.shs)), 6) AS jaccard
FROM cand
JOIN sets x ON x.doc_id = doc_a
JOIN sets y ON y.doc_id = doc_b
WHERE ROUND(len(list_intersect(x.shs, y.shs)) / len(list_distinct(x.shs || y.shs)), 6) >= 0.8
ORDER BY doc_a, doc_b
"""


def _simhash_oracle() -> str:
    votes_hi = ",\n    ".join(
        f"SUM(CASE WHEN (hi & {1 << k}) <> 0 THEN 1 ELSE -1 END) AS h{k}" for k in range(32)
    )
    votes_lo = ",\n    ".join(
        f"SUM(CASE WHEN (lo & {1 << k}) <> 0 THEN 1 ELSE -1 END) AS l{k}" for k in range(32)
    )
    pack_hi = " + ".join(f"(CASE WHEN h{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(32))
    pack_lo = " + ".join(f"(CASE WHEN l{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(32))
    return f"""
WITH w AS (SELECT doc_id, lower(text) AS t FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s FROM w),
b AS (
  SELECT doc_id,
         ('0x' || substring(md5(s), 1, 8))::BIGINT AS hi,
         ('0x' || substring(md5(s), 9, 8))::BIGINT AS lo
  FROM sh
),
v AS (
  SELECT doc_id,
    {votes_hi},
    {votes_lo}
  FROM b GROUP BY doc_id
)
SELECT doc_id,
  CAST({pack_hi} AS BIGINT) AS simhash_hi,
  CAST({pack_lo} AS BIGINT) AS simhash_lo
FROM v ORDER BY doc_id
"""


# -------------------------------------------------------- corpus shaping ----

def doc_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term-frequency vocabulary: top-500 terms with rank and
    cumulative coverage (the BPE/WordPiece prep table)."""
    return corpus.vocab_table(load_table(spark, sf_dir, "documents"), top_k=500).orderBy(
        "rank"
    )


VOCAB_ORACLE = """
WITH t AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
  FROM documents
),
c AS (SELECT term, COUNT(*) AS n FROM t GROUP BY term),
tot AS (SELECT SUM(n) AS t FROM c),
top AS (SELECT term, n FROM c ORDER BY n DESC, term ASC LIMIT 500)
SELECT term, n,
  row_number() OVER (ORDER BY n DESC, term ASC) AS rank,
  ROUND(SUM(n) OVER (ORDER BY n DESC, term ASC ROWS UNBOUNDED PRECEDING)
        / (SELECT t FROM tot), 6) AS cum_share
FROM top ORDER BY rank
"""


def doc_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) doc/token counts + token share — the corpus
    composition table a mixing-weights decision reads."""
    return corpus.source_mix(load_table(spark, sf_dir, "documents")).orderBy(
        "source", "lang"
    )


SOURCE_MIX_ORACLE = """
WITH b AS (
  SELECT source, lang,
         len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_toks
  FROM documents
),
a AS (
  SELECT source, lang, COUNT(*) AS n_docs, SUM(n_toks) AS n_tokens
  FROM b GROUP BY source, lang
),
tot AS (SELECT SUM(n_tokens) AS t FROM a)
SELECT source, lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(n_tokens / (SELECT t FROM tot), 6) AS token_share
FROM a ORDER BY source, lang
"""


def doc_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-domain downsampling (C4/RefinedWeb recipe step): at most 5
    docs per source, selected by md5(doc_id) order — skew-aware in
    corpus.cap_per_source (under-cap sources bypass the window via a
    broadcast anti-join; over-cap sources get a partial
    WindowGroupLimit before the exchange, so no task holds a whole
    domain)."""
    capped = corpus.cap_per_source(load_table(spark, sf_dir, "documents"), cap=5)
    return capped.select("doc_id", "source").orderBy("doc_id")


SOURCE_CAPS_ORACLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
  FROM documents
) WHERE r <= 5 ORDER BY doc_id
"""


def doc_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharded training order: md5 shard + within-shard
    hash position (parallel windows, never one global sort task)."""
    return corpus.shard_assignments(
        load_table(spark, sf_dir, "documents"), n_shards=16
    ).orderBy("doc_id")


SHARDS_ORACLE = """
WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key FROM documents),
s AS (
  SELECT doc_id, CAST('0x' || substr(key, 1, 4) AS BIGINT) % 16 AS shard, key
  FROM k
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) - 1 AS BIGINT)
         AS pos
FROM s ORDER BY doc_id
"""


# -------------------------------------------------------------- curation ----

def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate word / 2-gram / 3-gram
    fractions + the character share of the most common 2-gram."""
    return curation.repetition_stats(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


REPETITION_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lower(text) AS t,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
base AS (
  SELECT doc_id, length(t) AS n_chars, len(ws) AS n_words,
    CASE WHEN len(ws) <= 0 THEN 0.0
         ELSE ROUND((len(ws) - len(list_distinct(ws))) * 1.0 / len(ws), 6) END
      AS dup_word_frac,
    CASE WHEN len({_shingles_sql(2)}) <= 0 THEN 0.0
         ELSE ROUND((len({_shingles_sql(2)}) - len(list_distinct({_shingles_sql(2)})))
                    * 1.0 / len({_shingles_sql(2)}), 6) END AS dup_2gram_frac,
    CASE WHEN len({_shingles_sql(3)}) <= 0 THEN 0.0
         ELSE ROUND((len({_shingles_sql(3)}) - len(list_distinct({_shingles_sql(3)})))
                    * 1.0 / len({_shingles_sql(3)}), 6) END AS dup_3gram_frac
  FROM w
),
g AS (SELECT doc_id, length(t) AS n_chars, unnest({_shingles_sql(2)}) AS gram FROM w),
cnt AS (SELECT doc_id, n_chars, gram, COUNT(*) AS occ FROM g GROUP BY doc_id, n_chars, gram),
top AS (
  SELECT doc_id, gram AS top_2gram,
         ROUND(least(1.0, occ * length(gram) * 1.0 / greatest(n_chars, 1)), 6) AS top_2gram_frac
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY occ DESC, gram ASC) AS rk FROM cnt)
  WHERE rk = 1
)
SELECT b.doc_id, b.n_words, b.dup_word_frac, b.dup_2gram_frac, b.dup_3gram_frac,
       COALESCE(top_2gram, '') AS top_2gram,
       COALESCE(top_2gram_frac, 0.0) AS top_2gram_frac
FROM base b LEFT JOIN top USING (doc_id)
ORDER BY doc_id
"""


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic PII injected (the fixture text has
    none): email on doc_id%7, phone on %11, SSN-shaped id on %13 — the
    identical expression runs in the oracle, so the tagger/redactor is
    gated on real matches, not vacuous zeros."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    email = F.when(
        did % 7 == 0,
        F.concat(F.lit(" contact doc"), did.cast("string"), F.lit("@example.com for details")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 11 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((did * 7) % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ssn = F.when(
        did % 13 == 0,
        F.concat(
            F.lit(" id "),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 100).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad(((did * 3) % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    return docs.select("doc_id", F.concat("text", email, phone, ssn).alias("text"))


_PII_AUG_SQL = """
SELECT doc_id, text
  || CASE WHEN doc_id % 7 = 0
          THEN ' contact doc' || CAST(doc_id AS VARCHAR) || '@example.com for details'
          ELSE '' END
  || CASE WHEN doc_id % 11 = 0
          THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
               || '-' || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0')
          ELSE '' END
  || CASE WHEN doc_id % 13 = 0
          THEN ' id ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
               || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
               || '-' || lpad(CAST(doc_id * 3 % 10000 AS VARCHAR), 4, '0')
          ELSE '' END AS text
FROM documents
"""


def doc_pii_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style PII tagger: per-doc email/phone/SSN match counts."""
    return curation.tag_pii(_pii_docs(spark, sf_dir)).orderBy("doc_id")


PII_TAGS_ORACLE = f"""
WITH p AS ({_PII_AUG_SQL})
SELECT doc_id,
  len(regexp_extract_all(text, '{curation.EMAIL_RE}')) AS n_emails,
  len(regexp_extract_all(text, '{curation.PHONE_RE}')) AS n_phones,
  len(regexp_extract_all(text, '{curation.SSN_RE}')) AS n_ssns,
  (len(regexp_extract_all(text, '{curation.EMAIL_RE}'))
   + len(regexp_extract_all(text, '{curation.PHONE_RE}'))
   + len(regexp_extract_all(text, '{curation.SSN_RE}'))) > 0 AS has_pii
FROM p ORDER BY doc_id
"""


def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking: every detected span replaced by a typed placeholder."""
    return curation.redact_pii(_pii_docs(spark, sf_dir)).orderBy("doc_id")


PII_REDACT_ORACLE = f"""
WITH p AS ({_PII_AUG_SQL})
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{curation.PHONE_RE}', '<PHONE>', 'g'),
    '{curation.SSN_RE}', '<SSN>', 'g'),
    '{curation.EMAIL_RE}', '<EMAIL>', 'g') AS redacted
FROM p ORDER BY doc_id
"""


def doc_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by 13-gram overlap: docs doc_id%50==0
    form the benchmark; docs doc_id%50==7 are deterministically
    contaminated with the matching benchmark doc's first 13 words, so
    the gate verifies real hits on both engines."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("text")
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    probe_pref = bench.select(
        (F.col("doc_id") + 7).alias("doc_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 13), " ").alias("probe"),
    )
    aug = (
        docs.join(probe_pref, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("probe").isNotNull(), F.concat("text", F.lit(" "), "probe")
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    train = aug.filter(F.col("doc_id") % 50 != 0)
    return curation.decontaminate(train, bench, n=13).orderBy("doc_id")


DECONTAM_ORACLE = f"""
WITH b AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id % 50 = 0),
pref AS (
  SELECT doc_id + 7 AS doc_id,
         array_to_string(list_slice(string_split(t, ' '), 1, 13), ' ') AS probe
  FROM b
),
aug AS (
  SELECT d.doc_id,
         CASE WHEN p.probe IS NOT NULL THEN lower(d.text) || ' ' || p.probe
              ELSE lower(d.text) END AS t
  FROM documents d LEFT JOIN pref p USING (doc_id)
  WHERE d.doc_id % 50 <> 0
),
probes AS (SELECT DISTINCT unnest({_shingles_sql(13)}) AS gram FROM b),
tg AS (SELECT doc_id, unnest(list_distinct({_shingles_sql(13)})) AS gram FROM aug),
hits AS (
  SELECT doc_id, COUNT(*) AS n_hits
  FROM tg JOIN probes USING (gram) GROUP BY doc_id
)
SELECT a.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM aug a LEFT JOIN hits h USING (doc_id)
ORDER BY a.doc_id
"""


def doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span removal over the augmented corpus (with
    exact copies injected): first occurrence of each 10-word segment
    keeps, every later occurrence drops."""
    return curation.segment_dedup(_augmented_docs(spark, sf_dir), seg_words=10).orderBy(
        "doc_id", "seg_idx"
    )


SEGMENT_DEDUP_ORACLE = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
),
w AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM aug
),
c AS (SELECT doc_id, ws, CAST(ceil(len(ws) / 10.0) AS BIGINT) AS k
      FROM w WHERE len(ws) > 0),
s AS (SELECT doc_id, unnest(range(0, k)) AS seg_idx, ws FROM c),
seg AS (
  SELECT doc_id, seg_idx,
         len(list_slice(ws, seg_idx * 10 + 1, seg_idx * 10 + 10)) AS n_seg_words,
         md5(array_to_string(list_slice(ws, seg_idx * 10 + 1, seg_idx * 10 + 10), ' '))
           AS key
  FROM s
)
SELECT doc_id, seg_idx, n_seg_words,
       row_number() OVER (PARTITION BY key ORDER BY doc_id, seg_idx) = 1 AS keep
FROM seg ORDER BY doc_id, seg_idx
"""


# ------------------------------------------------------------- multimodal ----

def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryType plumbing under the oracle gate: deterministic 64-byte
    payloads (4 chained md5 blocks per doc_id, hex→binary) with typed
    metadata, verified by byte length + hex roundtrip. The codec-side
    decode (operators/multimodal.decode_media) stays unit-tested — its
    Arrow mapInPandas output has no SQL equivalent — but the column
    type, construction, and byte-level content the codecs would consume
    ARE gated here."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    payload = F.unhex(
        F.concat(
            *[
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{i}")))
                for i in range(4)
            ]
        )
    )
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    m = docs.select("doc_id", mt.alias("media_type"), payload.alias("payload"))
    return m.select(
        "doc_id",
        "media_type",
        F.length("payload").cast("long").alias("n_bytes"),
        F.hex("payload").alias("payload_hex"),
    ).orderBy("doc_id")


MEDIA_META_ORACLE = """
WITH m AS (
  SELECT doc_id,
    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
    unhex(md5(CAST(doc_id AS VARCHAR) || ':0') || md5(CAST(doc_id AS VARCHAR) || ':1')
          || md5(CAST(doc_id AS VARCHAR) || ':2') || md5(CAST(doc_id AS VARCHAR) || ':3'))
      AS payload
  FROM documents
)
SELECT doc_id, media_type,
       octet_length(payload) AS n_bytes,
       hex(payload) AS payload_hex
FROM m ORDER BY doc_id
"""


# ------------------------------------------------------------ embeddings ----

@plan_cache
def emb_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for sampled query vectors (vec_id % 100 = 0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(emb, k=5, query_filter=F.col("vec_id") % 100 == 0)
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


ANN_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.v, e.v), 6) AS sim
  FROM q JOIN e ON q.vec_id <> e.vec_id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
ORDER BY query_id, rank
"""


def emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ 0.45: banded-SRP candidates + exact
    verify (srp_neardup_pairs) — equi-join plan, no O(n²) cartesian.
    The DuckDB oracle stays the exhaustive exact formulation.

    target_miss=1e-8 (vs the operator default 1e-6): the gate compares
    against an EXHAUSTIVE oracle, so a single banding miss on a new
    fixture/scale fails it — buy recall margin with a few more planes
    (the extra cost is one slightly wider signature UDF pass)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.srp_neardup_pairs(emb, 0.45, target_miss=1e-8).orderBy("id_a", "id_b")


NEARDUP_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.45
ORDER BY id_a, id_b
"""


def emb_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication, end to end: SRP-banded
    cosine near-dup pairs (≥0.45) → transitive connected components →
    keep each cluster's representative (min vec_id) plus all
    singletons. The embedding-space analog of doc_dedup_survivors —
    the corpus a training run would actually read after semantic
    dedup. Every stage is the scale path: equi-join candidate
    generation (never O(n²)), alternating-star components (two
    bounded shuffles per round), one anti join against the drop set."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.srp_neardup_pairs(emb, 0.45, target_miss=1e-8)
    clusters = dedup.duplicate_clusters(pairs, id_a="id_a", id_b="id_b")
    return corpus.dedup_survivors(
        emb.select(F.col("vec_id")), clusters, id_col="vec_id"
    ).orderBy("vec_id")


SEMANTIC_SURVIVORS_ORACLE = """
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairsrc AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.45
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairsrc
  UNION
  SELECT id_b AS s, id_a AS d FROM pairsrc
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON e2.s = r.d
),
clusters AS (
  SELECT s AS vec_id, LEAST(s, MIN(d)) AS cluster_id
  FROM reach GROUP BY s
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM clusters WHERE vec_id <> cluster_id)
ORDER BY vec_id
"""


def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver certification of semdedup's dominance-pruning rule
    (similarity.semdedup, Abbas et al. 2023) — the one r9 operator
    that had pytest-only evidence (VERDICT r9 task 3).

    Planted fixture with a closed-form survivor set (the
    doc_media_ahash style): the 32 smallest vec_ids become vectors
    with INTEGER components on orthogonal axis pairs — cluster
    c = vec_id%3 owns dims (2c, 2c+1); sub-direction 0 is (4t, 0),
    sub-direction 1 is (4t, 3t) with scale t = 1+vec_id%4 — so every
    pairwise cosine is EXACT by construction: 1.0 within a (c,sub)
    group (parallel vectors), 0.8 across subs of one cluster
    (16/(4·5)), 0.0 across clusters. At threshold 0.9 the dominance
    relation collapses to "min vec_id per (c,sub) group survives",
    which the oracle states directly, while centroid_sim is genuinely
    recomputed both sides (k=1 makes the k-means stage closed-form:
    the centroid is the per-dim mean, exact in IEEE doubles because
    components are integers and the group size is a power of two).
    Within-group centroid_sims agree to 9 decimals (verified margins
    >> ulp), so the id tie-break — the subtlest branch of the rule —
    is what the gate actually certifies."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id").filter(
        F.col("vec_id") < 32
    )
    c = F.col("vec_id") % 3
    sub = F.floor(F.col("vec_id") / 3) % 2
    t = (1 + F.col("vec_id") % 4).cast("double")
    comps = [
        F.when(F.lit(d) == 2 * c, 4 * t)
        .when((F.lit(d) == 2 * c + 1) & (sub == 1), 3 * t)
        .otherwise(F.lit(0.0))
        for d in range(8)
    ]
    planted = e.select("vec_id", F.array(*comps).alias("embedding"))
    return similarity.semdedup(
        planted, k=1, threshold=0.9, n_iter=2
    ).orderBy("vec_id")


def _semdedup_oracle() -> str:
    cases = ",\n          ".join(
        f"CASE WHEN {d} = 2*c THEN 4*t "
        f"WHEN {d} = 2*c + 1 AND sub = 1 THEN 3*t ELSE 0 END"
        for d in range(8)
    )
    return f"""
WITH p AS (
  SELECT vec_id, vec_id % 3 AS c, (vec_id // 3) % 2 AS sub,
         CAST(1 + vec_id % 4 AS DOUBLE) AS t
  FROM embeddings WHERE vec_id < 32
),
v AS (
  SELECT vec_id, c, sub,
         [{cases}] AS vec
  FROM p
),
d AS (SELECT v.*, dims.dim FROM v, (SELECT unnest(range(8)) AS dim) dims),
cent AS (SELECT dim, AVG(vec[dim + 1]) AS m FROM d GROUP BY dim),
nc AS (SELECT SQRT(SUM(m * m)) AS n FROM cent),
sc AS (
  SELECT d.vec_id, d.c, d.sub,
         SUM(d.vec[cent.dim + 1] * cent.m) AS dp,
         SQRT(SUM(d.vec[cent.dim + 1] * d.vec[cent.dim + 1])) AS nv
  FROM d JOIN cent ON d.dim = cent.dim
  GROUP BY d.vec_id, d.c, d.sub
)
SELECT vec_id, CAST(0 AS INT) AS cluster,
       ROUND(ROUND(dp / (nv * (SELECT n FROM nc)), 9), 6) AS centroid_sim,
       vec_id = MIN(vec_id) OVER (PARTITION BY c, sub) AS keep
FROM sc ORDER BY vec_id
"""


SEMDEDUP_ORACLE = _semdedup_oracle()


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids (class prototypes / IVF coarse quantizer),
    flattened to one (label, n_vecs, dim, m) row per component.

    The operator returns `centroid array<double>`; the GATE explodes it
    because the driver's canonicalizer sorts results in pandas and
    crashes on unhashable array cells (the r4 red rows). Same convention
    as emb_covariance's (i, j, cov) rows."""
    cent = similarity.label_centroids(load_table(spark, sf_dir, "embeddings"))
    return cent.select(
        "label", "n_vecs", F.posexplode("centroid").alias("dim", "m")
    ).orderBy("label", "dim")


LABEL_CENTROIDS_ORACLE = """
WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT label, i - 1 AS dim, v[i] AS x
      FROM (SELECT label, v, unnest(range(1, len(v) + 1)) AS i FROM e)),
c AS (SELECT label, CAST(dim AS INT) AS dim, ROUND(AVG(x), 6) + 0.0 AS m
      FROM d GROUP BY label, dim),
n AS (SELECT label, COUNT(*) AS n_vecs FROM e GROUP BY label)
SELECT c.label, n.n_vecs, c.dim, c.m
FROM c JOIN n ON c.label = n.label
ORDER BY c.label, c.dim
"""


def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 min/max quantization (4× ANN index compression),
    flattened to one (vec_id, q_min, q_scale, dim, q_i) row per
    component — the operator's `q array<bigint>` is exploded at the
    gate because the driver's canonicalizer cannot hash array cells."""
    q = similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id", "q_min", "q_scale", F.posexplode("q").alias("dim", "q_i")
    ).orderBy("vec_id", "dim")


QUANTIZE_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (
  SELECT vec_id, v, list_min(v) AS mn,
         (list_max(v) - list_min(v)) / 255.0 AS s
  FROM e
),
x AS (
  SELECT vec_id, ROUND(mn, 6) AS q_min, ROUND(s, 9) AS q_scale,
         CAST(i - 1 AS INT) AS dim,
         CASE WHEN s = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(round((v[i] - mn) / s, 0) AS BIGINT) END AS q_i
  FROM (SELECT vec_id, v, mn, s, unnest(range(1, len(v) + 1)) AS i FROM m)
)
SELECT vec_id, q_min, q_scale, dim, q_i FROM x ORDER BY vec_id, dim
"""


def emb_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the banded-SRP approximate top-k (lsh_topk_banded,
    r=4 b=32) against the exact brute-force top-k, as one
    (n_queries, recall_ok) row.

    The approximate side is not SQL-expressible (md5 hyperplanes +
    Arrow matmul signatures), so the driver gates a DERIVED
    deterministic property instead: the oracle reproduces the query
    count and asserts the recall threshold as a literal — the value
    hash only matches if Spark's banded index actually achieves
    recall ≥ 0.9 (measured 0.976 at sf0.001 and sf0.01; the operator
    and hyperplanes are fully deterministic, so this is stable, not
    flaky)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") % 20 == 0
    exact = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    approx = similarity.lsh_topk_banded(emb, k=5, r=4, b=32, query_filter=qf)
    return similarity.topk_recall(exact, approx, 5).select(
        "n_queries", (F.col("recall") >= 0.9).alias("recall_ok")
    )


LSH_RECALL_ORACLE = """
SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 20 = 0
"""


def emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF approximate top-k (8 inverted lists, probe
    4) against the exact brute-force top-k — same derived-property
    pattern as emb_lsh_recall: the oracle reproduces the query count
    and asserts the threshold literal; the hash only matches if the
    IVF index really achieves recall ≥ 0.6 (measured 0.656 at sf0.001,
    0.712 at sf0.01; deterministic centroid seeding, so stable). The
    fixture embeddings are near-isotropic (flat eigenspectrum), the
    worst case for coarse quantization — the honest bound is
    deliberately lower than LSH banding's 0.9."""
    emb = load_table(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") % 20 == 0
    exact = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    approx = similarity.ivf_topk(
        emb, k=5, n_centroids=8, n_probe=4, query_filter=qf
    )
    return similarity.topk_recall(exact, approx, 5).select(
        "n_queries", (F.col("recall") >= 0.6).alias("recall_ok")
    )


IVF_RECALL_ORACLE = """
SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 20 = 0
"""


def emb_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve, certified by its two layout-invariant
    laws: recall@5 is MONOTONE non-decreasing in the probe count
    (probing more lists can only add candidates), and probing ALL
    lists degrades to exhaustive search — recall exactly 1.0 (the
    IVF-flat analog of the ivfpq full-probe+refine exactness unit).
    The recall VALUES between the endpoints are index-geometry facts,
    not contracts, so the gate emits the derived booleans (the
    emb_lsh_recall pattern)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") % 20 == 0
    exact = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    probes = [1, 2, 4, 8]
    recalls = []
    n_q = None
    for p in probes:
        r = similarity.topk_recall(
            exact,
            similarity.ivf_topk(
                emb, k=5, n_centroids=8, n_probe=p, query_filter=qf
            ),
            5,
        ).collect()[0]
        recalls.append(r["recall"])
        n_q = r["n_queries"]
    rows = []
    for i, p in enumerate(probes):
        rows.append(
            (
                p,
                int(n_q),
                bool(i == 0 or recalls[i] >= recalls[i - 1]),
                bool(p != 8 or recalls[i] == 1.0),
            )
        )
    return spark.createDataFrame(
        rows, "n_probe int, n_queries long, monotone_ok boolean, "
        "full_probe_exact boolean"
    )


IVF_PROBE_SWEEP_ORACLE = """
SELECT CAST(p AS INT) AS n_probe,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
        WHERE vec_id % 20 = 0) AS n_queries,
       TRUE AS monotone_ok, TRUE AS full_probe_exact
FROM (SELECT unnest([1, 2, 4, 8]) AS p)
ORDER BY n_probe
"""


def emb_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the product-quantized two-stage ANN
    (similarity.pq_topk: m=8 subspace codebooks × 16 codes — a
    128×-smaller index payload — coarse scan over reconstructions,
    exact rescore of 128 candidates) against the exact brute-force
    top-k. Same derived-property pattern as emb_lsh_recall; measured
    recall 0.944 at sf0.001 and 0.928 at sf0.01 on the
    near-isotropic fixtures (PQ's worst case), gated ≥ 0.85;
    md5-seeded subspace k-means, so deterministic and stable."""
    emb = load_table(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") % 20 == 0
    exact = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    approx = similarity.pq_topk(emb, k=5, query_filter=qf)
    return similarity.topk_recall(exact, approx, 5).select(
        "n_queries", (F.col("recall") >= 0.85).alias("recall_ok")
    )


PQ_RECALL_ORACLE = """
SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 20 = 0
"""


def emb_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the two-stage quantized ANN (int8 coarse scan +
    exact rescore of 32 candidates — similarity.quantized_topk)
    against the exact brute-force top-k. Same derived-property pattern
    as emb_lsh_recall; measured recall is 1.0 at sf0.001 and sf0.01
    (scalar-quantization error ≪ neighbor gaps), gated at ≥ 0.95."""
    emb = load_table(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") % 20 == 0
    exact = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    approx = similarity.quantized_topk(
        emb, k=5, candidates=32, query_filter=qf
    )
    return similarity.topk_recall(exact, approx, 5).select(
        "n_queries", (F.col("recall") >= 0.95).alias("recall_ok")
    )


QUANTIZED_RECALL_ORACLE = """
SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 20 = 0
"""


def emb_kmeans_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means fit certificate (similarity.kmeans is iterative and not
    SQL-expressible — the documented no-oracle family gets a derived
    deterministic gate instead): one (n_vecs, k_used_ok, inertia_ok)
    row. n_vecs is real cross-engine verification (the assignment frame
    must cover the corpus exactly once); k_used_ok pins all 8 clusters
    non-empty under the deterministic hash seeding; inertia_ok pins
    mean squared distance to assigned centroids at ≤ 0.97× the total
    variance — the single-centroid baseline k-means must beat
    (measured ratio 0.934 / 0.932 at sf0.001 / sf0.01; a broken
    assignment or centroid update lands at ≥ 1.0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = similarity.kmeans(emb, k=8, n_iter=3)
    n = assigned.count()
    k_used = assigned.select("cluster").distinct().count()
    inertia = similarity.kmeans_inertia(emb, assigned, cents)
    tv = (
        similarity.covariance_matrix(emb)
        .filter("i = j")
        .agg(F.sum("cov").alias("t"))
        .collect()[0]["t"]
    )
    return spark.range(1).select(
        F.lit(n).cast("bigint").alias("n_vecs"),
        F.lit(bool(k_used == 8)).alias("k_used_ok"),
        F.lit(bool(inertia <= 0.97 * tv)).alias("inertia_ok"),
    )


KMEANS_QUALITY_ORACLE = """
SELECT COUNT(*) AS n_vecs, TRUE AS k_used_ok, TRUE AS inertia_ok
FROM embeddings
"""


def emb_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA fit certificate: one (n_vecs, total_var, captured_ok,
    orthonormal_ok) row.

    ``total_var`` is REAL cross-engine verification — the trace of the
    distributed covariance gramian (sum of the 6-dp-rounded diagonal,
    the exact entries emb_covariance certifies per-element) must equal
    DuckDB's independently computed per-dim variance sum to the same
    rounding. The eigen half is driver-side numpy on a d×d matrix
    (not SQL-expressible), so it gates derived properties as
    literals: components orthonormal to 1e-9, explained variances
    non-increasing and non-negative, and the top-8 capture ratio in
    the band the near-isotropic fixture allows (measured 0.2035 /
    0.2049 — an eigen error or a broken gramian fold lands far
    outside [0.1, 0.4])."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    comps, ev, _mean = similarity.pca_fit(emb, k=8)
    C = np.array(comps)
    ortho_ok = bool(np.abs(C @ C.T - np.eye(len(comps))).max() < 1e-9)
    mono_ok = all(
        ev[i] >= ev[i + 1] - 1e-12 for i in range(len(ev) - 1)
    ) and ev[-1] >= 0.0
    # one covariance job, collected once; the returned single-row frame
    # carries the Spark-computed trace as a literal so the driver's
    # materialization doesn't re-run the corpus-scale gramian
    tv = (
        similarity.covariance_matrix(emb)
        .filter("i = j")
        .agg((F.round(F.sum("cov"), 6) + F.lit(0.0)).alias("total_var"))
        .collect()[0]["total_var"]
    )
    ratio = sum(ev) / tv
    captured_ok = bool(mono_ok and 0.1 <= ratio <= 0.4)
    n = emb.count()
    return spark.range(1).select(
        F.lit(n).cast("bigint").alias("n_vecs"),
        F.lit(tv).cast("double").alias("total_var"),
        F.lit(captured_ok).alias("captured_ok"),
        F.lit(ortho_ok).alias("orthonormal_ok"),
    )


PCA_VARIANCE_ORACLE = """
WITH ds AS (SELECT unnest(generate_series(0, 63)) AS d),
el AS (
  SELECT vec_id, d AS i, CAST(embedding[d + 1] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN ds
),
v AS (
  SELECT i,
         ROUND(SUM(x * x) / COUNT(*)
               - (SUM(x) / COUNT(*)) * (SUM(x) / COUNT(*)), 6) AS var
  FROM el GROUP BY i
)
SELECT (SELECT COUNT(*) FROM embeddings) AS n_vecs,
       ROUND(SUM(var), 6) + 0.0 AS total_var,
       TRUE AS captured_ok, TRUE AS orthonormal_ok
FROM v
"""


def emb_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label vote over the exact top-5 neighbors."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_label_vote(emb, k=5, query_filter=F.col("vec_id") % 100 == 0).orderBy(
        "query_id"
    )


KNN_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.v, e.v), 6) AS sim
  FROM q JOIN e ON q.vec_id <> e.vec_id
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 5
),
votes AS (
  SELECT t.query_id, e.label AS nlabel, COUNT(*) AS votes
  FROM topk t JOIN e ON e.vec_id = t.neighbor_id
  GROUP BY t.query_id, e.label
)
SELECT query_id, nlabel AS label_pred, votes FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY votes DESC, nlabel ASC) AS r
  FROM votes
) WHERE r = 1
ORDER BY query_id
"""


def doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing overlap mining (textstats.winnow_fingerprints
    + winnow_overlap_pairs, Schleimer et al. 2003): 5-word shingle md5s,
    4-window minima, distinct per-doc fingerprint sets, pairs sharing
    ≥3 fingerprints. The oracle replays the identical windowed-min
    selection in SQL."""
    return textstats.winnow_overlap_pairs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        min_shared=3,
    ).orderBy("doc_a", "doc_b")


WINNOW_PAIRS_ORACLE = f"""
WITH g AS (
  SELECT doc_id, {_shingles_sql(5, 'lower(text)')} AS gs FROM documents
),
sh AS (
  SELECT doc_id, pos, md5(gs[pos]) AS h
  FROM (SELECT doc_id, gs, unnest(range(1, len(gs) + 1)) AS pos FROM g)
),
sel AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m,
         pos
  FROM sh
),
fps AS (SELECT DISTINCT doc_id, m AS fp FROM sel WHERE pos >= 4)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 3
ORDER BY doc_a, doc_b
"""


def doc_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table (corpus.ngram_table): top-300 word
    bigrams with total tie-break — the collocation/tokenizer-merge prep
    step, one hash aggregate + bounded top-k."""
    return corpus.ngram_table(
        load_table(spark, sf_dir, "documents"), n=2, top_k=300
    ).orderBy("rank")


TOP_BIGRAMS_ORACLE = f"""
WITH g AS (
  SELECT unnest({_shingles_sql(2, "lower(text)")}) AS gram FROM documents
),
c AS (SELECT gram, COUNT(*) AS n FROM g GROUP BY gram),
top AS (SELECT gram, n FROM c ORDER BY n DESC, gram ASC LIMIT 300)
SELECT gram, n, row_number() OVER (ORDER BY n DESC, gram ASC) AS rank
FROM top ORDER BY rank
"""


def doc_bff_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter exact dedup against bounded state
    (dedup.bff_survivors, the Dolma BFF construction): docs < 250 play
    the admitted history, folded into a 16-word (1008-bit) filter; the
    batch (>= 250) gets synthetic duplicates — every id % 7 == 3
    shares one within-batch filler (keep-first collapses them), every
    id % 5 == 0 copies the text of id − 250 (guaranteed history hit).
    Output = surviving batch ids. The filter is deliberately small so
    REAL false positives occur — the oracle must reproduce every bit
    of the md5 double-hash filter to agree (the events_bloom_probe
    machinery at key grain md5(text))."""
    from hypermap_etl_spark.operators.dedup import bff_survivors

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < 250)
    base = docs.filter(F.col("doc_id") >= 250)
    ht = hist.select(
        (F.col("doc_id") + 250).alias("doc_id"), F.col("text").alias("__ht")
    )
    batch = base.join(ht, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 3, F.lit("shared within-batch filler"))
        .when((F.col("doc_id") % 5 == 0) & F.col("__ht").isNotNull(), F.col("__ht"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    _hs, bloom = bff_survivors(hist, m_words=16)
    surv, _nb = bff_survivors(batch, history_bloom=bloom, m_words=16)
    return surv.select("doc_id").orderBy("doc_id")


def _bff_pos(i: int) -> str:
    h1 = "CAST('0x' || substr(md5(key), 1, 8) AS BIGINT)"
    h2 = "CAST('0x' || substr(md5(key), 9, 8) AS BIGINT)"
    return f"(({h1} + {i} * {h2}) % 1008)"


def _bff_word(j: int) -> str:
    terms = " | ".join(
        f"(CASE WHEN CAST(FLOOR({_bff_pos(i)} / 63.0) AS INT) = {j} "
        f"THEN (1::BIGINT << CAST({_bff_pos(i)} % 63 AS INT)) "
        f"ELSE 0::BIGINT END)"
        for i in range(4)
    )
    return f"({terms})"


def _bff_test(i: int) -> str:
    word = " ".join(
        f"WHEN CAST(FLOOR({_bff_pos(i)} / 63.0) AS INT) = {j} THEN w{j}"
        for j in range(16)
    )
    return (
        f"((CASE {word} END) & "
        f"(1::BIGINT << CAST({_bff_pos(i)} % 63 AS INT))) <> 0"
    )


BFF_DEDUP_ORACLE = f"""
WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
base AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250),
batch AS (
  SELECT b.doc_id,
         CASE WHEN b.doc_id % 7 = 3 THEN 'shared within-batch filler'
              WHEN b.doc_id % 5 = 0 AND h.text IS NOT NULL THEN h.text
              ELSE b.text END AS text
  FROM base b LEFT JOIN hist h ON h.doc_id = b.doc_id - 250
),
hk AS (SELECT DISTINCT md5(text) AS key FROM hist),
bl AS (
  SELECT {", ".join(f"bit_or({_bff_word(j)}) AS w{j}" for j in range(16))}
  FROM hk
),
bk AS (
  SELECT doc_id, md5(text) AS key,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
  FROM batch
)
SELECT doc_id
FROM bk CROSS JOIN bl
WHERE rk = 1 AND NOT ({" AND ".join(_bff_test(i) for i in range(4))})
ORDER BY doc_id
"""


def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy (textstats.char_entropy)
    per document — the two-tail junk screen (padding vs random
    bytes). Zero-shuffle nested-HOF counts; one per-row float sum
    rounded at 6."""
    return textstats.char_entropy(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


CHAR_ENTROPY_ORACLE = """
WITH cs AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1),
                        i -> substr(text, CAST(i AS INT), 1)) AS c
  FROM documents
)
SELECT doc_id,
       CAST(len(c) AS BIGINT) AS n_chars,
       ROUND(CASE WHEN len(c) = 0 THEN 0.0 ELSE
         -list_sum(list_transform(list_distinct(c),
            d -> (len(list_filter(c, x -> x = d))
                    / CAST(len(c) AS DOUBLE))
                 * ln(len(list_filter(c, x -> x = d))
                        / CAST(len(c) AS DOUBLE))))
       END, 6) + 0.0 AS entropy
FROM cs ORDER BY doc_id
"""


def doc_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (textstats.pmi_pairs): every adjacent word
    pair seen >= 5 times scored ln(c_ab·N_u²/(c_a·c_b·N_b)), rounded
    at 6 (counts exact, one libm ln absorbed by the final round).
    The word2vec-phrases/tokenizer-prior mining step."""
    return textstats.pmi_pairs(
        load_table(spark, sf_dir, "documents"), min_count=5
    ).orderBy("w1", "w2")


PMI_PAIRS_ORACLE = f"""
WITH g AS (
  SELECT unnest({_shingles_sql(2, "lower(text)")}) AS g FROM documents
),
bi AS (SELECT g, COUNT(*) AS c_ab FROM g GROUP BY g HAVING COUNT(*) >= 5),
u AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
           AS w
  FROM documents
),
uc AS (SELECT w, COUNT(*) AS c FROM u GROUP BY w),
tot AS (SELECT (SELECT COUNT(*) FROM u) AS n_uni,
               (SELECT COUNT(*) FROM g) AS n_bi)
SELECT string_split(bi.g, ' ')[1] AS w1,
       string_split(bi.g, ' ')[2] AS w2,
       CAST(c_ab AS BIGINT) AS n_pair,
       ROUND(LN((CAST(c_ab AS DOUBLE) * CAST(n_uni AS DOUBLE)
                 * CAST(n_uni AS DOUBLE))
                / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)
                   * CAST(n_bi AS DOUBLE))), 6) + 0.0 AS pmi
FROM bi
JOIN uc a ON a.w = string_split(bi.g, ' ')[1]
JOIN uc b ON b.w = string_split(bi.g, ' ')[2], tot
ORDER BY w1, w2
"""


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sample (corpus.weighted_sample,
    Efraimidis-Spirakis A-ES): 100 docs drawn without replacement with
    P ∝ n_chars — the one-pass biased-subcorpus pull. The md5-derived
    uniform makes the draw engine-reproducible, so the oracle replays
    the exact key ordering."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.weighted_sample(
        docs.select("doc_id", "n_chars"), "n_chars", k=100
    ).orderBy("doc_id")


WEIGHTED_SAMPLE_ORACLE = """
WITH keyed AS (
  SELECT doc_id, n_chars,
         ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1.0)
            / 4294967296.0) / CAST(n_chars AS DOUBLE) AS k
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
),
top AS (SELECT doc_id, n_chars FROM keyed ORDER BY k DESC, doc_id LIMIT 100)
SELECT doc_id, n_chars FROM top ORDER BY doc_id
"""


def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance matrix (similarity.covariance_matrix):
    the PCA/whitening moment pass — per-partition BLAS gramians merged
    in one tiny aggregate, corpus never shuffled. Upper triangle,
    6 dp. ``+ 0.0`` canonicalizes IEEE negative zero: a covariance
    that rounds to zero can carry a different sign bit per engine
    (seen at sf0.01), and the driver's value hash is bit-sensitive."""
    emb = load_table(spark, sf_dir, "embeddings")
    cov = similarity.covariance_matrix(emb)
    return cov.withColumn("cov", F.col("cov") + F.lit(0.0)).orderBy("i", "j")


EMB_COVARIANCE_ORACLE = """
WITH ds AS (SELECT unnest(generate_series(0, 63)) AS d),
el AS (
  SELECT vec_id, d AS i, CAST(embedding[d + 1] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN ds
),
sx AS (SELECT i, SUM(x) AS s, COUNT(*) AS n FROM el GROUP BY i),
sxy AS (
  SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sp
  FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT CAST(sxy.i AS INT) AS i, CAST(sxy.j AS INT) AS j,
       ROUND(sp / mi.n - (mi.s / mi.n) * (mj.s / mj.n), 6) + 0.0 AS cov
FROM sxy JOIN sx mi ON sxy.i = mi.i JOIN sx mj ON sxy.j = mj.i
ORDER BY i, j
"""


def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen (similarity.centroid_outliers):
    distance-to-global-centroid z-score per vector, flag at z > 2.
    The verdict is computed on the 6-dp-ROUNDED z in both engines so
    it can never hinge on a cross-engine summation ulp; `+ 0.0`
    canonicalizes IEEE -0.0 like emb_covariance."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.centroid_outliers(emb, z_thresh=2.0).orderBy("vec_id")


EMB_OUTLIERS_ORACLE = """
WITH ds AS (SELECT unnest(generate_series(0, 63)) AS d),
el AS (
  SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN ds
),
cen AS (SELECT d, AVG(x) AS m FROM el GROUP BY d),
dist AS (
  SELECT vec_id, sqrt(SUM((x - m) * (x - m))) AS dist
  FROM el JOIN cen USING (d) GROUP BY vec_id
),
st AS (SELECT AVG(dist) AS mu, stddev_pop(dist) AS sg FROM dist)
SELECT vec_id,
       ROUND(dist, 6) + 0.0 AS dist,
       ROUND(CASE WHEN sg = 0 THEN 0.0 ELSE (dist - mu) / sg END, 6) + 0.0
         AS z,
       ROUND(CASE WHEN sg = 0 THEN 0.0 ELSE (dist - mu) / sg END, 6) + 0.0
         > CAST(2.0 AS DOUBLE) AS is_outlier
FROM dist, st ORDER BY vec_id
"""


@plan_cache
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights of every document toward the English
    subset as the target domain (curation.dsir_weights): hashed
    unigram+bigram bucket distributions, add-one smoothing, summed
    log10 probability ratios."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.dsir_weights(
        docs.select("doc_id", "text"),
        docs.filter(F.col("lang") == "en").select("doc_id", "text"),
    ).orderBy("doc_id")


DSIR_ORACLE = f"""
WITH raw AS (SELECT doc_id, lower(text) AS t FROM documents),
tgt AS (SELECT doc_id, lower(text) AS t FROM documents WHERE lang = 'en'),
rg AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 4096 AS b
  FROM (
    SELECT doc_id, unnest(
      list_concat(list_filter(string_split(t, ' '), x -> x <> ''),
                  {_shingles_sql(2)})
    ) AS g FROM raw
  )
),
tg AS (
  SELECT CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 4096 AS b
  FROM (
    SELECT unnest(
      list_concat(list_filter(string_split(t, ' '), x -> x <> ''),
                  {_shingles_sql(2)})
    ) AS g FROM tgt
  )
),
rc AS (SELECT b, COUNT(*) AS cr FROM rg GROUP BY b),
tc AS (SELECT b, COUNT(*) AS ct FROM tg GROUP BY b),
tot AS (SELECT (SELECT SUM(cr) FROM rc) AS tr, (SELECT COUNT(*) FROM tg) AS tt),
ratio AS (
  SELECT rc.b,
         log10((COALESCE(tc.ct, 0) + 1) / ((SELECT tt FROM tot) + 4096.0))
         - log10((rc.cr + 1) / ((SELECT tr FROM tot) + 4096.0)) AS lr
  FROM rc LEFT JOIN tc ON rc.b = tc.b
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       ROUND(SUM(lr), 6) + 0.0 AS dsir_weight
FROM rg JOIN ratio ON rg.b = ratio.b
GROUP BY doc_id ORDER BY doc_id
"""


@plan_cache
def doc_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (curation.normalize_text): control
    strip → Unicode NFC → accent strip → lowercase → whitespace
    collapse. The fixture corpus is pure ASCII, so the gate prepends a
    Unicode prefix (combining acute U+0301, angstrom sign U+212B,
    precomposed È/É, a BEL control, a tab) to every document — the NFC
    composition, mark stripping, and control removal are genuinely
    exercised and the oracle replays them with DuckDB's own
    nfc_normalize/strip_accents."""
    prefix = "e\u0301l\u00e8ve \u212b CAF\u00c9\x07\t "
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit(prefix), F.col("text")).alias("text")
    )
    return curation.normalize_text(
        docs, form="NFC", strip_accents=True, lowercase=True
    ).orderBy("doc_id")


NORMALIZED_ORACLE = r"""
WITH prefixed AS (
  SELECT doc_id,
         'e' || chr(769) || 'l' || chr(232) || 've ' || chr(8491)
         || ' CAF' || chr(201) || chr(7) || chr(9) || ' ' || text AS t
  FROM documents
)
SELECT doc_id,
       trim(regexp_replace(
         lower(strip_accents(nfc_normalize(
           regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')))),
         '\s+', ' ', 'g')) AS norm_text
FROM prefixed ORDER BY doc_id
"""


@plan_cache
def doc_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 dedup at its true grain (curation.sentence_segment_dedup):
    the fixture corpus has no sentence marks, so the gate appends a
    period to every 7th word in BOTH engines, then dedups 2-sentence
    windows corpus-wide (first occurrence in (doc_id, seg_idx) order
    wins). The oracle replays the same RE2-safe sentence regex, window
    slicing, and md5-keyed first-occurrence rank."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    dotted = F.array_join(
        F.transform(
            ws,
            lambda w, i: F.when((i + 1) % 7 == 0, F.concat(w, F.lit("."))).otherwise(w),
        ),
        " ",
    )
    return curation.sentence_segment_dedup(
        docs.select("doc_id", dotted.alias("text")), n_sent=2
    ).orderBy("doc_id", "seg_idx")


def doc_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-boundary chunking (corpus.sentence_chunks): greedy
    next-fit of WHOLE sentences into <=16-token chunks, zero-shuffle
    JVM fold. Same every-7th-word punctuation synthesis as
    doc_sentence_dedup (the fixture has no sentence marks); the oracle
    replays the greedy walk as a recursive CTE (the
    doc_packed_strict discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    dotted = F.array_join(
        F.transform(
            ws,
            lambda w, i: F.when((i + 1) % 7 == 0, F.concat(w, F.lit("."))).otherwise(w),
        ),
        " ",
    )
    return corpus.sentence_chunks(
        docs.select("doc_id", dotted.alias("text")), max_tokens=16
    ).orderBy("doc_id", "chunk_id")


SENTENCE_CHUNKS_ORACLE = """
WITH RECURSIVE w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
d AS (
  SELECT doc_id,
         array_to_string(list_transform(range(1, len(ws) + 1),
           i -> CASE WHEN i % 7 = 0 THEN ws[i] || '.' ELSE ws[i] END),
           ' ') AS t
  FROM w
),
s AS (
  SELECT doc_id,
         list_filter(list_transform(
           regexp_extract_all(t, '[^.!?]+(?:[.!?]+|$)'), x -> trim(x)),
           x -> x <> '') AS sents
  FROM d
),
sn AS (
  SELECT doc_id, CAST(t.i AS INT) AS si,
         sents[CAST(t.i AS INT)] AS sent,
         len(list_filter(string_split(sents[CAST(t.i AS INT)], ' '),
                         x -> x <> '')) AS n
  FROM s, LATERAL unnest(generate_series(1, len(sents))) AS t(i)
),
walk AS (
  SELECT doc_id, si, sent, n, 0 AS chunk_id, n AS fill
  FROM sn WHERE si = 1
  UNION ALL
  SELECT sn.doc_id, sn.si, sn.sent, sn.n,
         CASE WHEN wk.fill > 0 AND wk.fill + sn.n > 16
              THEN wk.chunk_id + 1 ELSE wk.chunk_id END,
         CASE WHEN wk.fill > 0 AND wk.fill + sn.n > 16
              THEN sn.n ELSE wk.fill + sn.n END
  FROM sn JOIN walk wk ON sn.doc_id = wk.doc_id AND sn.si = wk.si + 1
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       string_agg(sent, ' ' ORDER BY si) AS chunk_text,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_sentences
FROM walk GROUP BY doc_id, chunk_id
ORDER BY doc_id, chunk_id
"""


SENTENCE_DEDUP_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
d AS (
  SELECT doc_id,
         array_to_string(list_transform(range(1, len(ws) + 1),
           i -> CASE WHEN i % 7 = 0 THEN ws[i] || '.' ELSE ws[i] END),
           ' ') AS t
  FROM w
),
s AS (
  SELECT doc_id,
         list_filter(list_transform(
           regexp_extract_all(t, '[^.!?]+(?:[.!?]+|$)'), x -> trim(x)),
           x -> x <> '') AS sents
  FROM d
),
seg AS (
  SELECT doc_id,
         unnest(range(CAST(ceil(len(sents) / 2.0) AS BIGINT))) AS seg_idx,
         sents
  FROM s WHERE len(sents) > 0
),
k AS (
  SELECT doc_id, seg_idx,
         list_slice(sents, seg_idx * 2 + 1, seg_idx * 2 + 2) AS win
  FROM seg
)
SELECT doc_id, seg_idx, CAST(len(win) AS BIGINT) AS n_sentences,
       ROW_NUMBER() OVER (PARTITION BY md5(array_to_string(win, ' '))
                          ORDER BY doc_id, seg_idx) = 1 AS keep
FROM k ORDER BY doc_id, seg_idx
"""


@plan_cache
def doc_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-soup extraction (curation.html_to_text): the fixture corpus
    is plain text, so the gate wraps every document in a synthetic HTML
    page exercising each rule — style/script content drop, comment
    drop, block tags → newlines, inline-tag stripping (the <b> must not
    weld words), entity decode in the no-double-decode order, and
    whitespace canonicalization. The oracle replays the identical
    RE2-safe regexp chain in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    paged = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit(
                "</title><style>p{x:1}</style>"
                "<script>if(a<b){c();}</script></head>"
                "<body><h1>Heading</h1><!-- hidden -->\n<p>"
            ),
            F.col("text"),
            F.lit(" &amp; more&nbsp;here</p><div><B>bold</B>"),
            F.col("text"),
            F.lit("</div><br>it&#39;s &quot;done&quot; &lt;ok&gt;.</body></html>"),
        ).alias("text"),
    )
    return curation.html_to_text(paged).orderBy("doc_id")


HTML_TEXT_ORACLE = r"""
WITH paged AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><style>p{x:1}</style>'
         || '<script>if(a<b){c();}</script></head>'
         || '<body><h1>Heading</h1><!-- hidden -->' || chr(10) || '<p>'
         || text || ' &amp; more&nbsp;here</p><div><B>bold</B>'
         || text
         || '</div><br>it&#39;s &quot;done&quot; &lt;ok&gt;.</body></html>'
         AS t
  FROM documents
)
SELECT doc_id,
 regexp_replace(regexp_replace(regexp_replace(
   replace(replace(replace(replace(replace(replace(
     regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       t,
       '(?s)<!--.*?-->', '', 'g'),
       '(?is)<script[^>]*>.*?</script>', '', 'g'),
       '(?is)<style[^>]*>.*?</style>', '', 'g'),
       '(?i)<(?:br|hr|/p|/div|/li|/ul|/ol|/h[1-6]|/tr|/table|/blockquote|/pre)[^>]*>',
       chr(10), 'g'),
       '<[^>]*>', ' ', 'g'),
     '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
     '&#39;', chr(39)), '&amp;', '&'),
   '[ ' || chr(9) || chr(13) || ']*' || chr(10) || '[\s]*', chr(10), 'g'),
   '[ ' || chr(9) || chr(13) || ']+', ' ', 'g'),
   '^\s+|\s+$', '', 'g') AS extracted_text
FROM paged ORDER BY doc_id
"""


@plan_cache
def doc_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-grain page cleaning (curation.c4_clean, Raffel et al.
    2020 §2.2). The fixture corpus is single-line, so the gate builds a
    six-line page per document exercising every rule: terminal-punct
    keep, short-line drop, no-punct drop, javascript drop, and (every
    7th doc) a lorem-ipsum page kill."""
    docs = load_table(spark, sf_dir, "documents")
    nl = "\n"
    paged = docs.select(
        "doc_id",
        F.concat_ws(
            nl,
            F.concat(F.col("text"), F.lit(".")),
            F.lit("too short."),
            F.col("text"),
            F.lit("this javascript line has plenty of words here."),
            F.concat(F.col("text"), F.lit("?")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit("lorem ipsum dolor sit amet.")
            ).otherwise(F.concat(F.col("text"), F.lit("!"))),
        ).alias("text"),
    )
    return curation.c4_clean(paged).orderBy("doc_id")


C4_CLEAN_ORACLE = """
WITH paged AS (
  SELECT doc_id,
         text || '.' || chr(10) ||
         'too short.' || chr(10) ||
         text || chr(10) ||
         'this javascript line has plenty of words here.' || chr(10) ||
         text || '?' || chr(10) ||
         CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.'
              ELSE text || '!' END AS t
  FROM documents
),
k AS (
  SELECT doc_id, t, string_split(t, chr(10)) AS lines,
         list_filter(string_split(t, chr(10)), ln ->
           regexp_matches(ln, '[.!?"”]$')
           AND len(list_filter(string_split(ln, ' '), w -> w <> '')) >= 5
           AND NOT contains(lower(ln), 'javascript')) AS kept
  FROM paged
),
p AS (
  SELECT *,
         len(kept) >= 3
         AND NOT contains(lower(t), 'lorem ipsum')
         AND NOT contains(t, '{') AS page_ok
  FROM k
)
SELECT doc_id,
       CASE WHEN page_ok THEN array_to_string(kept, chr(10)) END AS clean_text,
       CAST(len(lines) AS BIGINT) AS n_lines_in,
       CAST(len(kept) AS BIGINT) AS n_lines_kept,
       page_ok AS page_kept
FROM p ORDER BY doc_id
"""


@plan_cache
def emb_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination
    (similarity.semantic_decontaminate): every 97th vector plays the
    benchmark suite; a corpus vector is contaminated at cosine ≥ 0.95
    to any probe. Benchmark side broadcast, corpus never shuffled."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_decontaminate(
        emb, emb.filter(F.col("vec_id") % 97 == 0), threshold=0.95
    ).orderBy("vec_id")


EMB_DECONTAM_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT v FROM e WHERE vec_id % 97 = 0),
s AS (
  SELECT e.vec_id, ROUND(list_cosine_similarity(e.v, b.v), 6) AS sim
  FROM e CROSS JOIN b
)
SELECT vec_id, MAX(sim) AS max_sim,
       CAST(SUM(CASE WHEN sim >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       SUM(CASE WHEN sim >= 0.95 THEN 1 ELSE 0 END) > 0 AS contaminated
FROM s GROUP BY vec_id ORDER BY vec_id
"""


@plan_cache
def doc_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection against a signature store
    (dedup.band_buckets + incremental_minhash_pairs): even docs are the
    already-indexed corpus, odd docs the arriving batch. Store pairs
    (new vs history) and batch pairs (inside the arrival) both surface;
    the oracle is the exact-Jaccard truth restricted to pairs touching
    the batch — MinHash banding at 32 bands catches every J ≥ 0.8 pair
    on this corpus, same certainty argument as doc_minhash_pairs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    store = dedup.band_buckets(dedup.minhash_signatures(old))
    return dedup.incremental_minhash_pairs(new, old, store, threshold=0.8).orderBy(
        "doc_a", "doc_b"
    )


INCREMENTAL_PAIRS_ORACLE = f"""
WITH w AS (SELECT doc_id, lower(text) AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s FROM w
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  WHERE a.doc_id % 2 = 1
    AND (b.doc_id % 2 = 0 OR a.doc_id < b.doc_id)
  GROUP BY ia, ib
)
SELECT ia AS doc_a, ib AS doc_b,
       ROUND(c / (x.n + y.n - c), 6) AS jaccard,
       CASE WHEN ib % 2 = 0 THEN 'store' ELSE 'batch' END AS src
FROM inter
JOIN sz x ON x.doc_id = ia
JOIN sz y ON y.doc_id = ib
WHERE ROUND(c / (x.n + y.n - c), 6) >= 0.8
ORDER BY doc_a, doc_b
"""


@plan_cache
def doc_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket packing fill report (corpus.pack_efficiency over the
    doc_packed construction): sequences-per-bucket, token totals, and
    the fill ratio a budget-sizing engineer watches."""
    chunks = corpus.token_chunks(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=8
    )
    packs = corpus.pack_sequences(chunks, max_tokens=512, n_buckets=32)
    return corpus.pack_efficiency(packs, max_tokens=512).orderBy("bucket")


PACK_EFFICIENCY_ORACLE = PACKED_ORACLE.replace(
    """SELECT doc_id, chunk_id, bucket, n_tokens,
       CAST(FLOOR((c - n_tokens) / 512.0) AS BIGINT) AS pack_id
FROM cum ORDER BY doc_id, chunk_id""",
    """, packs AS (
  SELECT bucket, n_tokens,
         CAST(FLOOR((c - n_tokens) / 512.0) AS BIGINT) AS pack_id
  FROM cum
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(COUNT(DISTINCT pack_id) * 512 AS BIGINT) AS capacity,
       ROUND(SUM(n_tokens) / (COUNT(DISTINCT pack_id) * 512.0), 6)
         AS fill_ratio
FROM packs GROUP BY bucket ORDER BY bucket""",
)


def _gate_index_path(kind: str, sf_dir: str) -> str:
    """STABLE location of a gate's persisted index, built only when
    absent: a fresh mkdtemp per plan-build would (a) leak an index copy
    per session x sf_dir and (b) run full write jobs every time a plan
    is merely constructed (the parity mirror DESCRIBEs every gate). The
    name holds the fixture dir and an md5 of operators/similarity.py, so
    an index is reused only by the code that built it; delete the
    directory to force a rebuild."""
    import hashlib
    import os
    import tempfile

    with open(similarity.__file__, "rb") as f:
        code = hashlib.md5(f.read()).hexdigest()[:12]
    fixture = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(
        tempfile.gettempdir(), f"hypermap_{kind}_gate_{fixture}_{code}"
    )


@plan_cache
def emb_ivf_index_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of a search over the PERSISTED index with flat lists
    (similarity.ivf_index_write → ivf_index_search) vs the exact
    top-k — certifies the standing-index path end to end: index build,
    partition-pruned list scan, probe/scoring parity with ivf_topk
    (which is bit-identical by construction, pinned in unit tests).
    Same derived-property pattern and threshold as emb_ivf_recall."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") % 20 == 0
    path = _gate_index_path("ivf", sf_dir)
    if not os.path.exists(os.path.join(path, "lists", "_SUCCESS")):
        similarity.ivf_index_write(emb, path, n_centroids=8)
    exact = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    approx = similarity.ivf_index_search(
        spark, path, emb.filter(qf), k=5, n_probe=4
    )
    return similarity.topk_recall(exact, approx, 5).select(
        "n_queries", (F.col("recall") >= 0.6).alias("recall_ok")
    )


IVF_INDEX_RECALL_ORACLE = """
SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 20 = 0
"""


@plan_cache
def doc_packed_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-respecting next-fit packing (corpus.pack_sequences_strict):
    the trainer-grade hard cap, greedy in (doc_id, chunk_id) order per
    md5 bucket. The reset-at-overflow running total is not a prefix
    scan — Spark side is the documented applyInPandas case; the oracle
    replays the same greedy walk as a recursive CTE."""
    chunks = corpus.token_chunks(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=8
    )
    return corpus.pack_sequences_strict(
        chunks, max_tokens=512, n_buckets=32
    ).orderBy("doc_id", "chunk_id")


# recursion cost at gate scale is bounded: depth = max chunks per md5
# bucket (~22 at sf0.01, ~700 chunks / 32 near-uniform buckets), each
# step a frontier-to-next-rn join — ~15k row-joins total, well inside
# the mirror's budget (unlike the corpus-scale suffix-array oracle,
# which caps its doc subset for exactly this reason)
PACKED_STRICT_ORACLE = (
    PACKED_ORACLE.replace("WITH w AS (", "WITH RECURSIVE w AS (").replace(
        """cum AS (
  SELECT doc_id, chunk_id, bucket, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY bucket
                                  ORDER BY doc_id, chunk_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
  FROM chunks
)
SELECT doc_id, chunk_id, bucket, n_tokens,
       CAST(FLOOR((c - n_tokens) / 512.0) AS BIGINT) AS pack_id
FROM cum ORDER BY doc_id, chunk_id""",
        """seq AS (
  SELECT doc_id, chunk_id, bucket, n_tokens,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY doc_id, chunk_id) AS rn
  FROM chunks
),
pk AS (
  SELECT doc_id, chunk_id, bucket, n_tokens, rn,
         CAST(0 AS BIGINT) AS pack_id,
         n_tokens AS fill
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.doc_id, s.chunk_id, s.bucket, s.n_tokens, s.rn,
         CASE WHEN pk.fill > 0 AND pk.fill + s.n_tokens > 512
              THEN pk.pack_id + 1 ELSE pk.pack_id END,
         CASE WHEN pk.fill > 0 AND pk.fill + s.n_tokens > 512
              THEN s.n_tokens ELSE pk.fill + s.n_tokens END
  FROM seq s JOIN pk ON s.bucket = pk.bucket AND s.rn = pk.rn + 1
)
SELECT doc_id, chunk_id, bucket, n_tokens, pack_id
FROM pk ORDER BY doc_id, chunk_id""",
    )
)


@plan_cache
def doc_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text embeddings (textstats.hash_embed, 64-dim,
    md5 buckets/signs) exploded to (doc_id, dim, val) scalar rows —
    the model-free text→vector bridge into the similarity stack,
    replayed bucket-for-bucket by the oracle. −0.0 canonicalized via
    +0.0, the emb_covariance convention."""
    emb = textstats.hash_embed(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), dim=64
    )
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "__v")
    ).select(
        "doc_id",
        F.col("dim").cast("long").alias("dim"),
        (F.round(F.col("__v"), 6) + F.lit(0.0)).alias("val"),
    ).orderBy("doc_id", "dim")


@plan_cache
def doc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff (operators/profile.table_diff): documents
    vs a deterministically derived second snapshot (every 17th doc
    dropped, every 13th edited, every 19th re-added under a shifted
    id) → (doc_id, status). The md5 row-fingerprint shortcut is
    itself under test: the oracle compares the underlying VALUES with
    IS DISTINCT FROM, so a fingerprint that ever collided or missed a
    null distinction would hash-mismatch."""
    from hypermap_etl_spark.operators.profile import table_diff

    old = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        old.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            old.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias(
                    "text"
                ),
            )
        )
    )
    return table_diff(old, new, ["doc_id"]).orderBy("doc_id")


SNAPSHOT_DIFF_ORACLE = """
WITH old AS (SELECT doc_id, text FROM documents),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new doc ' || doc_id AS text
  FROM documents WHERE doc_id % 19 = 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
ORDER BY doc_id
"""


@plan_cache
def doc_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-quality-filter SERVING path
    (operators/quality_model.score_linear): sigmoid(w·embed(text)+b)
    over the 16-dim hash-embed features with a deterministic
    md5-derived weight vector standing in for a published model —
    training is iterative LBFGS (certified by planted-separability
    unit tests, the documented no-oracle policy), but the scoring
    path a 100 TB pipeline actually runs per-document is pure column
    expressions, and the oracle replays it weight-for-weight."""
    import hashlib

    from hypermap_etl_spark.operators.quality_model import score_linear

    dim = 16
    weights = [
        (int(hashlib.md5(f"qw{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for i in range(dim)
    ]
    scored = score_linear(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        weights,
        bias=0.25,
    )
    return scored.select(
        "doc_id", F.round("score", 6).alias("score")
    ).orderBy("doc_id")


MODEL_SCORES_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16 AS b,
         CASE WHEN CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sgn
  FROM tok
),
sums AS (SELECT doc_id, b, SUM(sgn) AS v FROM h GROUP BY doc_id, b),
grid AS (
  SELECT d.doc_id, r.range AS dim
  FROM (SELECT doc_id FROM documents) d CROSS JOIN range(16) r
),
filled AS (
  SELECT g.doc_id, g.dim, COALESCE(s.v, 0) AS v
  FROM grid g LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.b = g.dim
),
norms AS (SELECT doc_id, SQRT(SUM(v * v)) AS n FROM filled GROUP BY doc_id),
x AS (
  SELECT f.doc_id, f.dim,
         CASE WHEN n.n = 0 THEN f.v ELSE f.v / n.n END AS x
  FROM filled f JOIN norms n ON f.doc_id = n.doc_id
),
wt AS (
  SELECT r.range AS dim,
         (CAST('0x' || substr(md5('qw' || r.range), 1, 8) AS BIGINT) % 2001
          - 1000) / CAST(1000 AS DOUBLE) AS w
  FROM range(16) r
),
z AS (
  SELECT x.doc_id, SUM(x.x * wt.w) AS z
  FROM x JOIN wt ON wt.dim = x.dim GROUP BY x.doc_id
)
SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-(z + 0.25))), 6) AS score
FROM z ORDER BY doc_id
"""


HASH_EMBED_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 64 AS b,
         CASE WHEN CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sgn
  FROM tok
),
sums AS (SELECT doc_id, b, SUM(sgn) AS v FROM h GROUP BY doc_id, b),
grid AS (
  SELECT d.doc_id, r.range AS dim
  FROM (SELECT doc_id FROM documents) d CROSS JOIN range(64) r
),
filled AS (
  SELECT g.doc_id, g.dim, COALESCE(s.v, 0) AS v
  FROM grid g LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.b = g.dim
),
norms AS (SELECT doc_id, SQRT(SUM(v * v)) AS n FROM filled GROUP BY doc_id)
SELECT f.doc_id, CAST(f.dim AS BIGINT) AS dim,
       ROUND(CASE WHEN n.n = 0 THEN f.v ELSE f.v / n.n END, 6) + 0.0 AS val
FROM filled f JOIN norms n ON f.doc_id = n.doc_id
ORDER BY f.doc_id, dim
"""


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tokens) — whitespace token counts, the shard weight."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        textstats.token_count(F.col("text")).cast("bigint").alias("tokens"),
    )


def doc_dedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning sweep (dedup.dedup_threshold_sweep): pair and
    affected-doc counts at Jaccard 0.5/0.7/0.9 from one exact
    pair-mining pass."""
    return dedup.dedup_threshold_sweep(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        thresholds=[0.5, 0.7, 0.9],
    ).orderBy("threshold")


DEDUP_SWEEP_ORACLE = f"""
WITH w AS (SELECT doc_id, lower(text) AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s FROM w
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b, ROUND(c / (x.n + y.n - c), 6) AS jaccard
  FROM inter
  JOIN sz x ON x.doc_id = doc_a
  JOIN sz y ON y.doc_id = doc_b
),
ts AS (SELECT CAST(unnest([0.5, 0.7, 0.9]) AS DOUBLE) AS threshold),
sw AS (
  SELECT threshold, doc_a, doc_b FROM pairs CROSS JOIN ts
  WHERE jaccard >= threshold
),
ends AS (
  SELECT threshold, doc_a AS d FROM sw
  UNION ALL SELECT threshold, doc_b FROM sw
)
SELECT ts.threshold,
       CAST(COALESCE((SELECT COUNT(*) FROM sw WHERE sw.threshold = ts.threshold), 0)
            AS BIGINT) AS n_pairs,
       CAST(COALESCE((SELECT COUNT(DISTINCT d) FROM ends
                      WHERE ends.threshold = ts.threshold), 0)
            AS BIGINT) AS n_docs_affected,
       ROUND(COALESCE((SELECT COUNT(DISTINCT d) FROM ends
                       WHERE ends.threshold = ts.threshold), 0)
             * 1.0 / (SELECT COUNT(*) FROM documents), 6) AS affected_rate
FROM ts ORDER BY ts.threshold
"""


def doc_source_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of the source mix: Σ share²
    and the effective number of sources (1/HHI) — the one-number
    diversity stat of a data card (a '20-source' corpus where one
    source is 90% is effectively ~1.2 sources). One hash aggregate +
    broadcast total."""
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = per.agg(F.sum("n").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.round(
                F.sum((F.col("n") / F.col("t")) * (F.col("n") / F.col("t"))),
                6,
            ).alias("hhi"),
            F.round(
                F.lit(1.0)
                / F.sum(
                    (F.col("n") / F.col("t")) * (F.col("n") / F.col("t"))
                ),
                6,
            ).alias("effective_sources"),
        )
    )


SOURCE_HHI_ORACLE = """
WITH per AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
t AS (SELECT SUM(n) AS t FROM per)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
       ROUND(SUM((n * 1.0 / t) * (n * 1.0 / t)), 6) AS hhi,
       ROUND(1.0 / SUM((n * 1.0 / t) * (n * 1.0 / t)), 6)
         AS effective_sources
FROM per CROSS JOIN t
"""


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-novelty fraction per doc (textstats.ngram_novelty):
    share of its distinct 3-grams appearing in no other document."""
    return textstats.ngram_novelty(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), n=3
    ).orderBy("doc_id")


NGRAM_NOVELTY_ORACLE = f"""
WITH w AS (SELECT doc_id, lower(text) AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct({{sh}})) AS s FROM w
),
dfq AS (SELECT s, COUNT(*) AS dfn FROM sh GROUP BY s),
per AS (
  SELECT sh.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN dfn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unique
  FROM sh JOIN dfq USING (s) GROUP BY sh.doc_id
)
SELECT d.doc_id,
       COALESCE(n_shingles, 0) AS n_shingles,
       COALESCE(n_unique, 0) AS n_unique,
       ROUND(CASE WHEN COALESCE(n_shingles, 0) > 0
                  THEN n_unique * 1.0 / n_shingles END, 6) AS novelty
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id
""".replace("{sh}", _SHINGLES_SQL)


def doc_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + Guiraud root TTR per doc
    (textstats.lexical_diversity) — the templated-text screen."""
    return textstats.lexical_diversity(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


LEXDIV_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
       ROUND(CASE WHEN len(ws) > 0
                  THEN len(list_distinct(ws)) * 1.0 / len(ws)
                  ELSE 0.0 END, 6) AS ttr,
       ROUND(CASE WHEN len(ws) > 0
                  THEN len(list_distinct(ws)) / sqrt(CAST(len(ws) AS DOUBLE))
                  ELSE 0.0 END, 6) AS guiraud
FROM w ORDER BY doc_id
"""


def doc_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-corruption screen (curation.mojibake_stats): UTF-8-as-
    Latin-1/cp1252 signature counts per doc — all-zero on a clean
    corpus, which is itself the assertion."""
    return curation.mojibake_stats(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


MOJIBAKE_ORACLE = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(regexp_extract_all(text,
         '\x{00C3}[\x{0080}-\x{00BF}]|\x{00C2}[\x{0080}-\x{00BF}]|\x{00E2}\x{20AC}.|\x{FFFD}'))
         AS BIGINT) AS n_mojibake,
       ROUND(CASE WHEN length(text) > 0 THEN
         len(regexp_extract_all(text,
           '\x{00C3}[\x{0080}-\x{00BF}]|\x{00C2}[\x{0080}-\x{00BF}]|\x{00E2}\x{20AC}.|\x{FFFD}'))
           * 1.0 / length(text)
         ELSE 0.0 END, 6) AS mojibake_rate,
       len(regexp_extract_all(text,
         '\x{00C3}[\x{0080}-\x{00BF}]|\x{00C2}[\x{0080}-\x{00BF}]|\x{00E2}\x{20AC}.|\x{FFFD}'))
         > 0 AS is_corrupt
FROM documents ORDER BY doc_id
"""


def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency OLS over the top-1000 terms
    (textstats.zipf_fit): slope/intercept/r2 + vocabulary totals —
    the corpus-naturalness and tokenizer-sizing diagnostic."""
    return textstats.zipf_fit(
        load_table(spark, sf_dir, "documents").select("text"), top_k=1000
    )


ZIPF_ORACLE = """
WITH t AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '),
                            w -> w <> '')) AS term
  FROM documents
),
c AS (SELECT term, COUNT(*) AS freq FROM t GROUP BY term),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(freq) AS BIGINT) AS n_tokens
  FROM c
),
top AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term ASC)
                 AS DOUBLE)) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM c ORDER BY freq DESC, term ASC LIMIT 1000
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM top
)
SELECT n_terms, n_tokens,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m CROSS JOIN tot
"""


def doc_keyword_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dictionary topic tagging (curation.keyword_tags):
    word-boundary hit counts for a fixed term list, one projection +
    stack unpivot, hit-sparse output."""
    return curation.keyword_tags(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        ["data", "join", "window", "stream", "table"],
    ).orderBy("doc_id", "keyword")


KEYWORD_TAGS_ORACLE = r"""
WITH k AS (
  SELECT unnest(['data', 'join', 'stream', 'table', 'window']) AS keyword
)
SELECT doc_id, keyword,
       CAST(len(regexp_extract_all(lower(text), '\b' || keyword || '\b'))
            AS BIGINT) AS n_hits
FROM documents CROSS JOIN k
WHERE len(regexp_extract_all(lower(text), '\b' || keyword || '\b')) > 0
ORDER BY doc_id, keyword
"""


def doc_keyword_tags_ac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-dictionary tagging path (curation.keyword_tags_large):
    Aho-Corasick automaton in Arrow-batched mapInPandas, one text pass
    for the whole dictionary — same contract as doc_keyword_tags, same
    oracle."""
    return curation.keyword_tags_large(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        ["data", "join", "window", "stream", "table"],
    ).orderBy("doc_id", "keyword")


def doc_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writing-system router profile (textstats.script_profile):
    Unicode-script counts + dominant script per doc, pure projection."""
    return textstats.script_profile(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


SCRIPT_PROFILE_ORACLE = r"""
WITH c AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text, '\p{Latin}')) AS BIGINT) AS n_latin,
         CAST(len(regexp_extract_all(text, '\p{Cyrillic}')) AS BIGINT) AS n_cyrillic,
         CAST(len(regexp_extract_all(text, '\p{Han}')) AS BIGINT) AS n_han,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
         CAST(len(regexp_extract_all(text, '[ \t\n\r]')) AS BIGINT) AS n_space
  FROM documents
)
SELECT doc_id, n_chars, n_latin, n_cyrillic, n_han, n_digit, n_space,
       ROUND(CASE WHEN n_chars > 0
                  THEN n_latin * 1.0 / n_chars ELSE 0.0 END, 6)
         AS latin_share,
       CASE WHEN GREATEST(n_latin, n_cyrillic, n_han, n_digit) = 0 THEN ''
            WHEN n_cyrillic = GREATEST(n_latin, n_cyrillic, n_han, n_digit)
              THEN 'cyrillic'
            WHEN n_digit = GREATEST(n_latin, n_cyrillic, n_han, n_digit)
              THEN 'digit'
            WHEN n_han = GREATEST(n_latin, n_cyrillic, n_han, n_digit)
              THEN 'han'
            ELSE 'latin' END AS dominant_script
FROM c ORDER BY doc_id
"""


def doc_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn mod-10 validation (curation.luhn_valid) over md5-derived
    16-digit candidates — the CC-tagger precision filter, exercised
    fixture-free on deterministic digit runs (~10% pass rate)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cand = F.expr(
        "array_join(transform(slice(split(md5(cast(doc_id as string)), ''), 1, 16), "
        "c -> cast((instr('0123456789abcdef', c) - 1) % 10 as string)), '')"
    )
    return (
        docs.select("doc_id", cand.alias("candidate"))
        .select(
            "doc_id",
            "candidate",
            curation.luhn_valid(F.col("candidate")).alias("luhn_ok"),
        )
        .orderBy("doc_id")
    )


LUHN_ORACLE = """
WITH c AS (
  SELECT doc_id,
         list_aggregate(list_transform(range(1, 17),
           i -> CAST((instr('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)),
                                   CAST(i AS INT), 1)) - 1) % 10
                     AS VARCHAR)),
           'string_agg', '') AS candidate
  FROM documents
)
SELECT doc_id, candidate,
       (list_sum(list_transform(range(1, 17), i ->
          CASE WHEN (i - 1) % 2 = 0
               THEN CAST(substr(reverse(candidate), CAST(i AS INT), 1) AS INT)
               WHEN CAST(substr(reverse(candidate), CAST(i AS INT), 1) AS INT) * 2 > 9
               THEN CAST(substr(reverse(candidate), CAST(i AS INT), 1) AS INT) * 2 - 9
               ELSE CAST(substr(reverse(candidate), CAST(i AS INT), 1) AS INT) * 2
          END)) % 10 = 0) AS luhn_ok
FROM c ORDER BY doc_id
"""


def doc_token_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide percent rank of each doc's token count WITHOUT the
    single-partition window (scale.global_percent_rank — rank from the
    range-partition construction, n free from its counts)."""
    from hypermap_etl_spark.operators import scale

    return (
        scale.global_percent_rank(
            _doc_tokens(spark, sf_dir),
            [F.col("tokens").asc(), F.col("doc_id").asc()],
        )
        .select("doc_id", "tokens", "pct_rank")
        .orderBy("doc_id")
    )


TOKEN_PCTRANK_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS BIGINT) AS tokens
  FROM documents
)
SELECT doc_id, tokens,
       ROUND(percent_rank() OVER (ORDER BY tokens ASC, doc_id ASC), 6)
         AS pct_rank
FROM d ORDER BY doc_id
"""


def doc_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder integer allocation of exactly 137 sample slots
    across sources proportional to doc counts (corpus.apportion) —
    the eval-set sizing step; Σ alloc == 137 exactly."""
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return corpus.apportion(per, 137, "source", "weight").orderBy("source")


APPORTION_ORACLE = """
WITH per AS (
  SELECT source, CAST(COUNT(*) AS DOUBLE) AS w FROM documents GROUP BY source
),
tw AS (SELECT SUM(CASE WHEN w > 0 THEN w END) AS tw FROM per),
q AS (
  SELECT source, w,
         CASE WHEN w > 0 AND tw > 0 THEN 137.0 * w / tw ELSE 0.0 END AS quota
  FROM per CROSS JOIN tw
),
b AS (
  SELECT source, w, quota,
         CAST(floor(quota) AS BIGINT) AS base,
         quota - floor(quota) AS frac
  FROM q
),
lv AS (SELECT 137 - SUM(base) AS r FROM b),
rk AS (
  SELECT source, w, quota, base, frac,
         row_number() OVER (ORDER BY frac DESC, source ASC) AS rkn
  FROM b
)
SELECT source, w AS weight, ROUND(quota, 6) AS quota,
       CAST(base + CASE WHEN rkn <= r THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM rk CROSS JOIN lv
ORDER BY source
"""


def doc_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget waterfill across sources with md5-derived epoch
    caps (1-4) and budget = 1.8x the corpus tokens: sources capped
    below the waterline repeat their cap, the rest float at t
    (corpus.epoch_plan — the data-recipe allocator)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per = (
        docs.select("source", textstats.token_count(F.col("text")).alias("__t"))
        .groupBy("source")
        .agg(F.sum("__t").cast("double").alias("tokens"))
        .withColumn(
            "max_epochs",
            (
                (
                    F.expr(
                        "instr('0123456789abcdef', substring(md5(source), 1, 1))"
                    )
                    - 1
                )
                % 4
                + 1
            ).cast("double"),
        )
    )
    budget = 1.8 * per.agg(F.sum("tokens")).collect()[0][0]
    return corpus.epoch_plan(per, budget).orderBy("source")


EPOCH_PLAN_ORACLE = """
WITH per AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split(lower(text), ' '),
                                   x -> x <> ''))) AS DOUBLE) AS c,
         CAST(((instr('0123456789abcdef', substr(md5(source), 1, 1)) - 1)
               % 4) + 1 AS DOUBLE) AS e
  FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(c * e) AS total_ce, SUM(c) AS total_c, MAX(e) AS max_e,
         1.8 * SUM(c) AS b
  FROM per
),
w AS (
  SELECT source, c, e,
         SUM(c * e) OVER (ORDER BY e ASC, source ASC) AS cum_ce,
         SUM(c) OVER (ORDER BY e ASC, source ASC) AS cum_c,
         COALESCE(lag(e) OVER (ORDER BY e ASC, source ASC), 0.0) AS prev_e
  FROM per
),
cand AS (
  SELECT (b - (cum_ce - c * e)) / (total_c - (cum_c - c)) AS t, prev_e, e
  FROM w CROSS JOIN tot
),
line AS (
  SELECT CASE WHEN b >= total_ce THEN max_e
              ELSE (SELECT MIN(t) FROM cand
                    WHERE t >= prev_e AND t <= e) END AS t
  FROM tot
)
SELECT source, c AS tokens, e AS max_epochs,
       ROUND(LEAST(t, e), 6) AS epochs,
       ROUND(c * LEAST(t, e), 6) AS alloc_tokens
FROM per CROSS JOIN line
ORDER BY source
"""


def emb_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss Rademacher projection 64→8 dims with
    md5-derived ±1 signs (similarity.jl_project) — map-side-only
    literal-matrix folds; gate explodes to (vec_id, jdim, val) scalars
    and rounds at the edge."""
    proj = similarity.jl_project(
        load_table(spark, sf_dir, "embeddings"), in_dim=64, out_dim=8, seed=0
    )
    return (
        proj.select("vec_id", F.posexplode("proj").alias("jdim", "val"))
        .select(
            "vec_id",
            "jdim",
            (F.round("val", 6) + F.lit(0.0)).alias("val"),
        )
        .orderBy("vec_id", "jdim")
    )


JL_PROJECT_ORACLE = """
WITH p AS (
  SELECT CAST(j AS INT) AS jdim, CAST(i AS INT) AS i,
         CASE WHEN substr(md5('jl:0:' || j || ':' || i), 1, 1)
              IN ('0','1','2','3','4','5','6','7')
              THEN 1.0 ELSE -1.0 END AS s
  FROM range(8) t1(j) CROSS JOIN range(64) t2(i)
),
v AS (
  SELECT vec_id, CAST(i AS INT) AS i,
         CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN range(64) t(i)
)
SELECT vec_id, jdim,
       ROUND(SUM(s * x) * (1.0 / sqrt(8.0)), 6) + 0.0 AS val
FROM v JOIN p USING (i)
GROUP BY vec_id, jdim
ORDER BY vec_id, jdim
"""


def doc_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment: round-robin over the token-
    descending total order (LPT greedy), rank from the distributed
    range-partition construction — no single-task window
    (operators/scale.global_rank + balanced_shards)."""
    from hypermap_etl_spark.operators import scale

    return scale.balanced_shards(
        _doc_tokens(spark, sf_dir), "tokens", "doc_id", n_shards=7
    ).select("doc_id", "tokens", "rank", "shard").orderBy("doc_id")


BALANCED_SHARDS_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS BIGINT) AS tokens
  FROM documents
),
r AS (
  SELECT doc_id, tokens,
         row_number() OVER (ORDER BY tokens DESC, doc_id ASC) AS rank
  FROM d
)
SELECT doc_id, tokens, rank, CAST((rank - 1) % 7 AS INT) AS shard
FROM r ORDER BY doc_id
"""


def doc_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard load report over the balanced assignment: item count,
    token total, and load ratio vs the mean shard — the pack-quality
    certificate (hash sharding balances counts; this balances mass)."""
    from hypermap_etl_spark.operators import scale

    sharded = scale.balanced_shards(
        _doc_tokens(spark, sf_dir), "tokens", "doc_id", n_shards=7
    )
    return scale.shard_balance_report(sharded, "tokens").orderBy("shard")


SHARD_BALANCE_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS BIGINT) AS tokens
  FROM documents
),
r AS (
  SELECT doc_id, tokens,
         row_number() OVER (ORDER BY tokens DESC, doc_id ASC) AS rank
  FROM d
),
s AS (
  SELECT CAST((rank - 1) % 7 AS INT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(tokens) AS BIGINT) AS total_weight
  FROM r GROUP BY 1
),
m AS (SELECT AVG(total_weight) AS mean_weight FROM s)
SELECT shard, n_items, total_weight,
       ROUND(total_weight / mean_weight, 6) AS load_ratio
FROM s CROSS JOIN m
ORDER BY shard
"""



def doc_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup report (dedup.cdc_chunks, k=4,
    mod=16): per source, how many word-grain CDC chunks the corpus
    stores and what fraction are duplicate content — the storage-dedup
    planning number (chunk-keyed stores pay for shared boilerplate
    once). Pure JVM HOFs; the only shuffle is this aggregation."""
    from hypermap_etl_spark.operators.dedup import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    # source rides cdc_chunks' row-local projections (carry) — no
    # corpus-sized join back to the doc table (r10, guide §2.4)
    ch = cdc_chunks(docs, carry=["source"])
    return (
        ch.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.count_distinct("chunk_hash").cast("long").alias("n_distinct"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.round(
                F.lit(1.0)
                - F.count_distinct("chunk_hash")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


CDC_DEDUP_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
b AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
h AS (
  SELECT doc_id, ws, n,
         CASE WHEN n >= 4 THEN
           list_transform(range(1, n - 2),
             i -> md5(array_to_string(list_slice(ws, i, i + 3), ' ')))
         ELSE [] END AS hs
  FROM b
),
c AS (
  SELECT doc_id, ws, n,
         list_transform(
           list_filter(range(1, len(hs) + 1),
             p -> CAST('0x' || substr(hs[p], 1, 4) AS BIGINT) % 16 = 0),
           p -> p + 3) AS ends0
  FROM h
),
e AS (
  SELECT doc_id, ws,
         list_concat(ends0,
           CASE WHEN COALESCE(ends0[-1] = n, FALSE)
                THEN [] ELSE [n] END) AS ends
  FROM c
),
ch AS (
  SELECT doc_id,
         ends[i] - (CASE WHEN i = 1 THEN 1 ELSE ends[i-1] + 1 END) + 1
           AS n_words,
         md5(array_to_string(
           list_slice(ws, CASE WHEN i = 1 THEN 1 ELSE ends[i-1] + 1 END,
                      ends[i]), ' ')) AS chunk_hash
  FROM e, LATERAL unnest(generate_series(1, len(ends))) AS t(i)
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT ch.chunk_hash) AS BIGINT) AS n_distinct,
       CAST(SUM(ch.n_words) AS BIGINT) AS n_words,
       ROUND(CAST(1 AS DOUBLE)
             - COUNT(DISTINCT ch.chunk_hash) / CAST(COUNT(*) AS DOUBLE),
             6) AS dup_ratio
FROM ch JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""



def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (textstats.readability):
    regex-defined syllable/sentence/word counts — engine-reproducible
    surface difficulty for audience-level corpus bucketing."""
    from hypermap_etl_spark.operators.textstats import readability

    return readability(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


READABILITY_ORACLE = """
WITH c AS (
  SELECT doc_id,
         len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
           AS n_words,
         GREATEST(len(regexp_extract_all(lower(text), '[.!?]+')), 1)
           AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       ROUND(CASE WHEN n_words > 0 THEN
         CAST('206.835' AS DOUBLE)
         - CAST('1.015' AS DOUBLE)
           * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         - CAST('84.6' AS DOUBLE)
           * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       END, 6) AS flesch
FROM c ORDER BY doc_id
"""



def doc_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs at J>=0.8 via prefix filtering
    (dedup.prefix_filter_pairs): the candidate join touches only each
    document's rare-first prefix — completeness is the PPJoin theorem,
    so the quadratic oracle matches exactly (same contract as
    doc_ngram_pairs, different algorithm)."""
    return dedup.prefix_filter_pairs(
        load_table(spark, sf_dir, "documents"), 0.8
    ).orderBy("doc_a", "doc_b")



def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (textstats.hybrid_rrf_search): BM25 lexical
    leg + hash-embedding cosine leg for the query {join, window,
    scan}, fused by reciprocal rank fusion 1/(60+rank) — how
    production search stacks combine keyword and vector retrieval
    without score calibration. The fused score is exact
    integer-derived arithmetic; only the legs' internal rankings
    touch floats, and both legs rank ROUNDED scores with doc_id
    tie-breaks. Absent-leg ranks surface as 0 (documented marker),
    keeping the output scalar and null-free."""
    return textstats.hybrid_rrf_search(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        ["join", "window", "scan"],
    )


HYBRID_RRF_ORACLE = """
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
         AS term
  FROM documents
),
lens AS (SELECT doc_id, COUNT(*) AS len FROM t GROUP BY doc_id),
stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                 (SELECT AVG(len) FROM lens) AS avg_len),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM t
  WHERE term IN ('join', 'window', 'scan') GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
bm25 AS (
  SELECT doc_id,
    ROUND(SUM(
      ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
      * tf.tf * 2.2
      / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len / stats.avg_len))
    ), 6) AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN lens USING (doc_id)
  CROSS JOIN stats
  GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC
  LIMIT 30
),
lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
  FROM bm25
),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 64 AS b,
         CASE WHEN CAST('0x' || substr(md5(term), 9, 1) AS BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sgn
  FROM t
),
sums AS (SELECT doc_id, b, SUM(sgn) AS v FROM h GROUP BY doc_id, b),
norms AS (SELECT doc_id, SQRT(SUM(v * v)) AS n FROM sums GROUP BY doc_id),
qtok AS (SELECT unnest(['join', 'window', 'scan']) AS term),
qh AS (
  SELECT CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 64 AS b,
         CASE WHEN CAST('0x' || substr(md5(term), 9, 1) AS BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sgn
  FROM qtok
),
qsums AS (SELECT b, SUM(sgn) AS v FROM qh GROUP BY b),
qn AS (SELECT SQRT(SUM(v * v)) AS n FROM qsums),
qvec AS (SELECT b, v / (SELECT n FROM qn) AS qval FROM qsums),
simt AS (
  SELECT s.doc_id, ROUND(SUM((s.v / norms.n) * q.qval), 6) AS score
  FROM sums s
  JOIN norms USING (doc_id)
  JOIN qvec q ON s.b = q.b
  WHERE norms.n <> 0
  GROUP BY s.doc_id
  ORDER BY score DESC, doc_id ASC
  LIMIT 30
),
sem AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS sem_rank
  FROM simt
)
SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
       CAST(COALESCE(sem_rank, 0) AS BIGINT) AS sem_rank,
       ROUND(
         CASE WHEN lex_rank IS NULL THEN CAST(0 AS DOUBLE)
              ELSE CAST(1 AS DOUBLE) / (60 + lex_rank) END
         + CASE WHEN sem_rank IS NULL THEN CAST(0 AS DOUBLE)
                ELSE CAST(1 AS DOUBLE) / (60 + sem_rank) END, 6) AS rrf_score
FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 20
"""



def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negative_pairs): per
    sampled anchor, the exact top-3 most-similar vectors with a
    DIFFERENT label — the contrastive-training pair builder. Exact by
    construction (broadcast anchors, streamed corpus); the ANN-mined
    variant uses this as its recall oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negative_pairs(
        emb, k=3, query_filter=F.col("vec_id") % 100 == 0
    ).orderBy("query_id", "rank")


HARD_NEGATIVES_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS anchor_label,
         e.vec_id AS neighbor_id, e.label AS neighbor_label,
         ROUND(list_cosine_similarity(q.v, e.v), 6) AS sim
  FROM q JOIN e ON q.vec_id <> e.vec_id AND q.label <> e.label
)
SELECT query_id, anchor_label, neighbor_id, neighbor_label, sim,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY query_id, rank
"""



def doc_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the quality-filter serving path
    (quality_model.calibration_report over score_linear's output,
    same md5-derived 16-dim weights as doc_model_scores) against a
    deterministic doc_id%3 pseudo-label: per decile bin, n / mean
    prediction / empirical positive rate / |gap| / ECE term. Scores
    are rounded to 6 BEFORE binning in both engines, so the bin
    assignment is computed from identical doubles."""
    import hashlib

    from hypermap_etl_spark.operators.quality_model import (
        calibration_report,
        score_linear,
    )

    dim = 16
    weights = [
        (int(hashlib.md5(f"qw{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for i in range(dim)
    ]
    scored = score_linear(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        weights,
        bias=0.25,
    ).select(
        "doc_id",
        F.round("score", 6).alias("score"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    return calibration_report(scored, n_bins=10)


CALIBRATION_ORACLE = (
    "WITH scores AS ("
    + MODEL_SCORES_ORACLE
    + """),
lab AS (
  SELECT doc_id, score,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label
  FROM scores
),
binned AS (
  SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin, score, label
  FROM lab
),
per AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, AVG(score) AS ms,
         CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pr
  FROM binned GROUP BY bin
),
tot AS (SELECT SUM(n) AS total FROM per)
SELECT bin, n, ROUND(ms, 6) AS mean_score, ROUND(pr, 6) AS pos_rate,
       ROUND(ABS(ms - pr), 6) AS abs_gap,
       ROUND(ABS(ms - pr) * CAST(n AS DOUBLE) / CAST(tot.total AS DOUBLE), 6)
         AS ece_term
FROM per CROSS JOIN tot
ORDER BY bin
"""
)




def doc_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the quality-filter serving path
    (quality_model.roc_auc over score_linear, same md5-derived 16-dim
    weights and doc_id%3 pseudo-label as doc_calibration) — the
    threshold-free ranking metric beside the reliability diagram.
    Scores are rounded to 6 BEFORE ranking in both engines, so tie
    groups (and therefore average ranks) coincide exactly; the
    doubled rank sum accumulates in decimal, no float wobble."""
    import hashlib

    from hypermap_etl_spark.operators.quality_model import (
        roc_auc,
        score_linear,
    )

    dim = 16
    weights = [
        (int(hashlib.md5(f"qw{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for i in range(dim)
    ]
    scored = score_linear(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        weights,
        bias=0.25,
    ).select(
        F.round("score", 6).alias("score"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    return roc_auc(scored)


MODEL_AUC_ORACLE = (
    "WITH scores AS ("
    + MODEL_SCORES_ORACLE
    + """),
lab AS (
  SELECT score, CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label
  FROM scores
),
pv AS (
  SELECT score AS s, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(label) AS BIGINT) AS tp
  FROM lab GROUP BY 1
),
rk AS (SELECT *, SUM(t) OVER (ORDER BY s) AS cum FROM pv),
g AS (
  SELECT CAST(SUM(tp) AS BIGINT) AS n_pos,
         CAST(SUM(t - tp) AS BIGINT) AS n_neg,
         SUM(CAST(tp AS DECIMAL(19,0))
             * CAST(2 * cum - (t - 1) AS DECIMAL(19,0))) AS r2
  FROM rk
)
SELECT n_pos, n_neg,
       ROUND((CAST(r2 AS DOUBLE) / 2.0
              - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
             / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) AS auc
FROM g WHERE n_pos > 0 AND n_neg > 0
"""
)


def doc_model_pr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 threshold sweep of the quality-filter
    serving path (quality_model.pr_threshold_sweep over score_linear,
    same weights and doc_id%3 pseudo-label as doc_calibration): 20
    fixed thresholds, at-or-above counts from one descending running
    sum over the bin aggregate — every value a ratio of exact longs,
    no cross-row float accumulation."""
    import hashlib

    from hypermap_etl_spark.operators.quality_model import (
        pr_threshold_sweep,
        score_linear,
    )

    dim = 16
    weights = [
        (int(hashlib.md5(f"qw{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for i in range(dim)
    ]
    scored = score_linear(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        weights,
        bias=0.25,
    ).select(
        F.round("score", 6).alias("score"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    return pr_threshold_sweep(scored, n_steps=20).orderBy("threshold")


PR_SWEEP_ORACLE = (
    "WITH scores AS ("
    + MODEL_SCORES_ORACLE
    + """),
lab AS (
  SELECT score, CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label
  FROM scores
),
pb AS (
  SELECT LEAST(CAST(FLOOR(score * 20) AS BIGINT), 19) AS bin,
         CAST(COUNT(*) AS BIGINT) AS t, CAST(SUM(label) AS BIGINT) AS tp
  FROM lab GROUP BY 1
),
grid AS (SELECT r.range AS bin FROM range(20) r),
fg AS (
  SELECT g.bin, COALESCE(p.t, 0) AS t, COALESCE(p.tp, 0) AS tp
  FROM grid g LEFT JOIN pb p ON p.bin = g.bin
),
cum AS (
  SELECT bin, SUM(t) OVER (ORDER BY bin DESC) AS n_pred,
         SUM(tp) OVER (ORDER BY bin DESC) AS ctp,
         SUM(tp) OVER () AS n_pos
  FROM fg
),
r AS (
  SELECT bin, n_pred, ctp,
         CASE WHEN n_pred > 0
              THEN CAST(ctp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS p,
         CASE WHEN n_pos > 0
              THEN CAST(ctp AS DOUBLE) / CAST(n_pos AS DOUBLE) END AS rc
  FROM cum
)
SELECT ROUND(CAST(bin AS DOUBLE) / 20.0, 6) AS threshold,
       CAST(n_pred AS BIGINT) AS n_pred, CAST(ctp AS BIGINT) AS tp,
       ROUND(p, 6) AS "precision", ROUND(rc, 6) AS recall,
       ROUND(CASE WHEN p IS NULL OR rc IS NULL OR p + rc = 0 THEN NULL
                  ELSE 2.0 * p * rc / (p + rc) END, 6) AS f1
FROM r ORDER BY threshold
"""
)


def doc_fleiss_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (quality_model.fleiss_kappa) over a three-grader
    panel — two correlated length rules (char-length bands at 500 and
    450 chars, capped at category 2) and an independent doc_id%3
    grader: the ensemble-agreement check before trusting majority
    labels. All three votes come from ONE corpus scan (explode over a
    literal struct array); every statistic is a ratio of exact
    integer/decimal aggregates."""
    from hypermap_etl_spark.operators.quality_model import fleiss_kappa

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    two = F.lit(2).cast("long")
    r1 = F.least(F.expr("length(lower(text)) div 500").cast("long"), two)
    r2 = F.least(F.expr("length(lower(text)) div 450").cast("long"), two)
    r3 = (F.col("doc_id") % 3).cast("long")
    rated = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("len500").alias("rater"), r1.alias("cat")),
                F.struct(F.lit("len450").alias("rater"), r2.alias("cat")),
                F.struct(F.lit("id").alias("rater"), r3.alias("cat")),
            )
        ).alias("r"),
    ).select("doc_id", "r.rater", "r.cat")
    return fleiss_kappa(rated, "doc_id", "rater", "cat")


FLEISS_ORACLE = """
WITH base AS (SELECT doc_id, length(lower(text)) AS L FROM documents),
r AS (
  SELECT doc_id, LEAST(L // 500, 2) AS cat FROM base
  UNION ALL SELECT doc_id, LEAST(L // 450, 2) FROM base
  UNION ALL SELECT doc_id, doc_id % 3 FROM base
),
cnt AS (
  SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS nij FROM r GROUP BY 1, 2
),
pi AS (
  SELECT doc_id, CAST(SUM(nij) AS BIGINT) AS n_i,
         SUM(CAST(nij AS DECIMAL(19,0)) * CAST(nij AS DECIMAL(19,0))) AS ssq_i
  FROM cnt GROUP BY 1
),
it AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         MIN(n_i) AS nmin, MAX(n_i) AS nmax,
         SUM(ssq_i) AS ssq, SUM(CAST(n_i AS DECIMAL(19,0))) AS t
  FROM pi
),
pc AS (SELECT cat, CAST(SUM(nij) AS BIGINT) AS c_j FROM cnt GROUP BY 1),
ct AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
         SUM(CAST(c_j AS DECIMAL(19,0)) * CAST(c_j AS DECIMAL(19,0))) AS csq
  FROM pc
)
SELECT n_items, nmin AS n_raters_min, nmax AS n_raters_max, n_categories,
  ROUND(CASE WHEN nmin = nmax THEN
    (CAST(ssq AS DOUBLE) - CAST(t AS DOUBLE))
      / (CAST(n_items AS DOUBLE) * CAST(nmin AS DOUBLE)
         * (CAST(nmin AS DOUBLE) - 1.0)) END, 6) AS p_bar,
  ROUND(CAST(csq AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6)
    AS p_exp,
  ROUND(CASE WHEN nmin = nmax THEN
    ((CAST(ssq AS DOUBLE) - CAST(t AS DOUBLE))
       / (CAST(n_items AS DOUBLE) * CAST(nmin AS DOUBLE)
          * (CAST(nmin AS DOUBLE) - 1.0))
     - CAST(csq AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)))
    / (1.0 - CAST(csq AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)))
    END, 6) AS kappa
FROM it CROSS JOIN ct
"""


def doc_model_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the quality-filter serving path
    (quality_model.brier_score, same scored frame as doc_calibration /
    doc_model_auc): the proper-scoring-rule single number beside the
    reliability diagram. Exact decimal residual sum — scores are
    6-dp-rounded before the lossless decimal(8,6) cast."""
    import hashlib

    from hypermap_etl_spark.operators.quality_model import (
        brier_score,
        score_linear,
    )

    dim = 16
    weights = [
        (int(hashlib.md5(f"qw{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for i in range(dim)
    ]
    scored = score_linear(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        weights,
        bias=0.25,
    ).select(
        F.round("score", 6).alias("score"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    return brier_score(scored)


BRIER_ORACLE = (
    "WITH scores AS ("
    + MODEL_SCORES_ORACLE
    + """),
lab AS (
  SELECT CAST(score AS DECIMAL(8,6)) AS s,
         CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
              AS DECIMAL(8,6)) AS y
  FROM scores
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST((s - y) * (s - y) AS DECIMAL(17,12)))
              AS DECIMAL(38,12)) AS ss
  FROM lab
)
SELECT n, ROUND(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE), 6) AS brier FROM a
"""
)


def doc_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence from the corpus word
    distribution over the top-200 vocabulary
    (textstats.source_js_divergence) — the mixture-balance monitor:
    every frame after the one corpus aggregate is bounded by
    vocabulary x sources, and absent words still contribute their
    q*ln2 mass through the mixture."""
    from hypermap_etl_spark.operators.textstats import source_js_divergence

    docs = load_table(spark, sf_dir, "documents")
    return source_js_divergence(docs, top_v=200).orderBy("source")


JS_DIVERGENCE_ORACLE = """
WITH sw AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY 1, 2
),
vocab AS (
  SELECT word FROM (SELECT word, SUM(n) AS cn FROM sw GROUP BY 1)
  ORDER BY cn DESC, word LIMIT 200
),
swv AS (SELECT sw.* FROM sw JOIN vocab USING (word)),
cwv AS (SELECT word, CAST(SUM(n) AS BIGINT) AS cn FROM swv GROUP BY 1),
tot_c AS (SELECT CAST(SUM(cn) AS DOUBLE) AS tc FROM cwv),
tot_s AS (
  SELECT source, CAST(SUM(n) AS DOUBLE) AS ts FROM swv GROUP BY 1
),
grid AS (
  SELECT s.source, s.ts, c.word, c.cn, v.n AS sn, tot_c.tc
  FROM tot_s s CROSS JOIN cwv c CROSS JOIN tot_c
  LEFT JOIN swv v ON v.source = s.source AND v.word = c.word
),
terms AS (
  SELECT source,
    CASE WHEN sn IS NOT NULL THEN 1 ELSE 0 END AS hit,
    (CASE WHEN COALESCE(CAST(sn AS DOUBLE), CAST(0 AS DOUBLE)) / ts > 0
          THEN (COALESCE(CAST(sn AS DOUBLE), CAST(0 AS DOUBLE)) / ts)
               * ln((COALESCE(CAST(sn AS DOUBLE), CAST(0 AS DOUBLE)) / ts)
                    / ((COALESCE(CAST(sn AS DOUBLE), CAST(0 AS DOUBLE)) / ts
                        + CAST(cn AS DOUBLE) / tc) / CAST(2 AS DOUBLE)))
          ELSE CAST(0 AS DOUBLE) END
     + CASE WHEN CAST(cn AS DOUBLE) / tc > 0
            THEN (CAST(cn AS DOUBLE) / tc)
                 * ln((CAST(cn AS DOUBLE) / tc)
                      / ((COALESCE(CAST(sn AS DOUBLE), CAST(0 AS DOUBLE)) / ts
                          + CAST(cn AS DOUBLE) / tc) / CAST(2 AS DOUBLE)))
            ELSE CAST(0 AS DOUBLE) END) / CAST(2 AS DOUBLE) AS term
  FROM grid
)
SELECT source, CAST(SUM(hit) AS BIGINT) AS n_vocab_hit,
       ROUND(SUM(term), 6) AS jsd
FROM terms GROUP BY source ORDER BY source
"""


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of 16-dim prefix search vs the 64-dim exact top-5
    (similarity.truncated_topk_recall) for the sampled queries — the
    matryoshka serving trade-off, deterministic by construction (both
    legs are the rounded-cosine total order, so the oracle reproduces
    the recall exactly, not as a bound)."""
    from hypermap_etl_spark.operators.similarity import truncated_topk_recall

    emb = load_table(spark, sf_dir, "embeddings")
    return truncated_topk_recall(
        emb, dims=16, k=5, query_filter=F.col("vec_id") % 100 == 0
    ).orderBy("query_id")


MATRYOSHKA_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
fr AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY q.vec_id
           ORDER BY ROUND(list_cosine_similarity(q.v, e.v), 6) DESC,
                    e.vec_id ASC) AS rank
  FROM q JOIN e ON q.vec_id <> e.vec_id
),
f AS (SELECT query_id, neighbor_id FROM fr WHERE rank <= 5),
tr AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY q.vec_id
           ORDER BY ROUND(list_cosine_similarity(q.v[1:16], e.v[1:16]), 6)
                      DESC,
                    e.vec_id ASC) AS rank
  FROM q JOIN e ON q.vec_id <> e.vec_id
),
t AS (SELECT query_id, neighbor_id, 1 AS m FROM tr WHERE rank <= 5)
SELECT f.query_id, CAST(COUNT(t.m) AS BIGINT) AS n_hit,
       ROUND(CAST(COUNT(t.m) AS DOUBLE) / CAST(5 AS DOUBLE), 6) AS recall
FROM f LEFT JOIN t USING (query_id, neighbor_id)
GROUP BY f.query_id ORDER BY f.query_id
"""




# fixed, creation-ordered merge list for the ENCODE certification gate
# (training has its own gate, doc_bpe_first_merge): every compound side
# is created by an earlier merge, the validity invariant of any trained
# BPE list. With a valid list, greedy rank-priority encoding
# (bpe_segment, the GPT-2 encoder shape) equals sequential replace-all
# (the original Sennrich script): merging never creates NEW adjacency
# for an earlier pair, because fused symbols sit between their
# neighbors rather than vanishing.
BPE_ENCODE_MERGES: list[tuple[str, str, int]] = [
    ("a", "b", 0),
    ("t", "ab", 0),
    ("l", "e", 0),
    ("le", "</w>", 0),
    ("tab", "le</w>", 0),
    ("s", "c", 0),
    ("sc", "a", 0),
    ("n", "</w>", 0),
]


def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE ENCODING certified end-to-end: bpe_segment (the
    Arrow-batched Pandas-UDF encoder with per-worker word memo)
    applied with the fixed BPE_ENCODE_MERGES list, full token sequence
    per document. The oracle replays the merges as a sequential
    replace-all chain over bar-delimited symbol strings
    ('|t||ab||le</w>|' ...), which is provably the same encoding for a
    creation-ordered merge list — so the one Pandas-UDF family in the
    text stack gets exact SQL certification, not just unit tests."""
    from hypermap_etl_spark.operators.bpe import bpe_segment

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seg = bpe_segment(docs, BPE_ENCODE_MERGES)
    return seg.select(
        "doc_id",
        F.array_join("tokens", " ").alias("tokens_joined"),
        "n_bpe_tokens",
    ).orderBy("doc_id")


BPE_ENCODE_ORACLE = """
WITH wpos AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos, ws[CAST(t.i AS INT)] AS word
  FROM (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
  ), LATERAL unnest(generate_series(1, len(ws))) AS t(i)
),
enc AS (
  SELECT doc_id, pos,
    replace(replace(replace(replace(replace(replace(replace(replace(
      '|' || regexp_replace(word, '(.)', '\\1||', 'g') || '</w>|',
      '|a||b|', '|ab|'), '|t||ab|', '|tab|'), '|l||e|', '|le|'),
      '|le||</w>|', '|le</w>|'), '|tab||le</w>|', '|table</w>|'),
      '|s||c|', '|sc|'), '|sc||a|', '|sca|'), '|n||</w>|', '|n</w>|')
      AS seq
  FROM wpos
),
toks AS (
  SELECT doc_id, pos, trim(replace(seq, '||', ' '), '|') AS wt,
         len(string_split(trim(replace(seq, '||', ' '), '|'), ' ')) AS nt
  FROM enc
),
agg AS (
  SELECT doc_id, string_agg(wt, ' ' ORDER BY pos) AS tokens_joined,
         CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.tokens_joined, '') AS tokens_joined,
       COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id
"""




def emb_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the persisted index with PQ lists (similarity.
    ivf_index_write(m=8) -> ivf_index_search with exact refine) vs the
    exact top-k: probe pruning and 128x code compression stack, then
    the FAISS-style rescore recovers exact ranks for the survivors.
    Same derived-property pattern/threshold family as
    emb_ivf_index_recall; the stable per-fixture index location is
    the same build-once convention."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") % 20 == 0
    path = _gate_index_path("ivfpq", sf_dir)
    if not os.path.exists(os.path.join(path, "lists", "_SUCCESS")):
        similarity.ivf_index_write(emb, path, n_centroids=8, m=8, k_codes=16)
    exact = similarity.brute_force_topk(emb, k=5, query_filter=qf)
    approx = similarity.ivf_index_search(
        spark, path, emb.filter(qf), k=5, n_probe=4, candidates=64,
        rescore_with=emb,
    )
    return similarity.topk_recall(exact, approx, 5).select(
        "n_queries", (F.col("recall") >= 0.6).alias("recall_ok")
    )


IVFPQ_RECALL_ORACLE = """
SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 20 = 0
"""




def doc_kappa_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (quality_model.cohens_kappa) between two
    deterministic document graders — the heuristic quality score at
    its 0.5 bar vs a bare length rule (n_words >= 40): the agreement-
    beyond-chance check a labeling pipeline runs before trusting a
    cheap proxy label. Contingency, marginals and the kappa arithmetic
    all run on the label-cardinality aggregate."""
    from hypermap_etl_spark.operators.quality_model import cohens_kappa

    qs = textstats.quality_scores(load_table(spark, sf_dir, "documents"))
    labeled = qs.select(
        (F.col("quality_score") >= 0.5).alias("label_a"),
        (F.col("n_words") >= 40).alias("label_b"),
    )
    return cohens_kappa(labeled, "label_a", "label_b")


KAPPA_ORACLE = """
WITH w AS (
  SELECT doc_id, lower(text) AS t,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
m AS (
  SELECT doc_id, len(ws) AS n_words,
    len(list_filter(ws, x -> list_contains(
      ['the','a','and','of','to','in','is','on','for','with'], x))) AS n_stop,
    length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS n_punct,
    length(t) AS n_chars
  FROM w
),
lab AS (
  SELECT
    (ROUND(0.4 * least(n_words / 100.0, 1.0)
           + 0.4 * (n_stop / greatest(n_words, 1))
           + 0.2 * (1.0 - n_punct / greatest(n_chars, 1)), 6)
       >= CAST('0.5' AS DOUBLE)) AS a,
    (n_words >= 40) AS b
  FROM m
),
cont AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM lab GROUP BY 1, 2),
agg AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag
  FROM cont
),
ra AS (SELECT a, SUM(c) AS r FROM cont GROUP BY 1),
cb AS (SELECT b, SUM(c) AS r2 FROM cont GROUP BY 1),
pen AS (SELECT CAST(SUM(ra.r * cb.r2) AS DOUBLE) AS pn
        FROM ra JOIN cb ON ra.a = cb.b)
SELECT n,
  ROUND(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_obs,
  ROUND(pn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS p_exp,
  ROUND(CASE WHEN CAST(1 AS DOUBLE)
                  - pn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) <> 0
             THEN (CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)
                   - pn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                  / (CAST(1 AS DOUBLE)
                     - pn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        END, 6) AS kappa
FROM agg CROSS JOIN pen
"""




def doc_skipgram_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed skip-gram co-occurrence top-50
    (textstats.skipgram_cooc, window 3): the embedding-training input
    matrix via the delta-join (each token fans out to window shifted
    key rows; ONE equi-join on (doc, position)) — never a per-document
    positions cross-join."""
    from hypermap_etl_spark.operators.textstats import skipgram_cooc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return skipgram_cooc(docs, window=3, min_count=5, top_k=50)


SKIPGRAM_ORACLE = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
tok AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos, ws[CAST(t.i AS INT)] AS w
  FROM base, LATERAL unnest(generate_series(1, len(ws))) AS t(i)
),
pairs AS (
  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
),
agg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT w1, w2, n FROM agg
ORDER BY n DESC, w1 ASC, w2 ASC LIMIT 50
"""




def doc_sppmi_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shifted positive PMI cells over the windowed co-occurrence
    matrix (textstats.sppmi_matrix, window 3, shift k=5): the matrix
    SGNS implicitly factorizes (Levy & Goldberg 2014) — the corpus-
    statistics half of embedding training. Marginals and the total
    come from the FULL matrix; the min_count floor only picks which
    cells are emitted; top-40 by the ROUNDED score so the cut is
    engine-identical."""
    from hypermap_etl_spark.operators.textstats import sppmi_matrix

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return sppmi_matrix(docs, window=3, min_count=5, top_k=40, shift_k=5)


SPPMI_ORACLE = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
tok AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos, ws[CAST(t.i AS INT)] AS w
  FROM base, LATERAL unnest(generate_series(1, len(ws))) AS t(i)
),
cells AS MATERIALIZED (
  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
  GROUP BY 1, 2
),
marg AS MATERIALIZED (
  SELECT w, CAST(SUM(n) AS BIGINT) AS m FROM (
    SELECT w1 AS w, n FROM cells UNION ALL SELECT w2 AS w, n FROM cells
  ) GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cells)
SELECT c.w1, c.w2, c.n,
       ROUND(GREATEST(CAST(0 AS DOUBLE),
             ln(CAST(c.n AS DOUBLE)) + ln(CAST(tot.t AS DOUBLE))
             - ln(CAST(mw.m AS DOUBLE)) - ln(CAST(mc.m AS DOUBLE))
             - ln(CAST(5 AS DOUBLE))), 6) AS sppmi
FROM cells c
JOIN marg mw ON c.w1 = mw.w
JOIN marg mc ON c.w2 = mc.w
CROSS JOIN tot
WHERE c.n >= 5
ORDER BY sppmi DESC, c.w1 ASC, c.w2 ASC LIMIT 40
"""


def doc_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec negative-sampling table over the top-200
    vocabulary (textstats.negative_sampling_table, alpha = 0.75):
    per word the smoothed weight, sampling share, and cumulative
    share — the inverse-CDF lookup. Weights round to 6 dp then sum
    in exact decimal, so shares and the cumulative column are
    engine-identical."""
    from hypermap_etl_spark.operators.textstats import negative_sampling_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return negative_sampling_table(docs, alpha=0.75, top_v=200)


NEG_SAMPLING_ORACLE = """
WITH cnt AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY 1
),
top AS (SELECT word, n FROM cnt ORDER BY n DESC, word LIMIT 200),
wv AS (
  SELECT word, n,
         CAST(ROUND(pow(CAST(n AS DOUBLE), 0.75), 6) AS DECIMAL(28,6)) AS w
  FROM top
),
tot AS (SELECT CAST(SUM(w) AS DECIMAL(38,6)) AS t FROM wv),
c AS (
  SELECT word, n, w,
         SUM(w) OVER (ORDER BY n DESC, word
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM wv
)
SELECT word, n, CAST(w AS DOUBLE) AS weight,
       ROUND(CAST(w AS DOUBLE) / CAST(t AS DOUBLE), 9) AS share,
       ROUND(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE), 9) AS cum_share
FROM c CROSS JOIN tot ORDER BY n DESC, word
"""


def doc_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver certification of the multimodal decode path
    (multimodal.decode_media) with REAL container-header parsing:
    documents become a derived media frame whose payload carries a
    genuine PNG IHDR / JPEG SOF0 / GIF screen-descriptor header
    (doc_id % 4 picks the format; dims are baked into the BYTES from
    the doc_id formula) followed by the UTF-8 text as body — all
    reproducible in DuckDB via unhex(...) || encode(text). Metadata
    dims on the parseable rows are deliberately WRONG (9999), so the
    gate only matches if decode_media truly parses the header bytes;
    the fourth branch is a headerless payload exercising the metadata
    fallback, and — being pure UTF-8 — the only branch where DuckDB's
    VARCHAR md5 can also pin the fake-feature components (masked to
    NULL elsewhere). Pins: row alignment, format sniffing, big/little
    endian dim extraction, byte counting, fallback, and the feature
    stub where oracle-expressible."""
    from hypermap_etl_spark.operators.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = (F.col("doc_id") % 640 + 1).cast("int")
    h = (F.col("doc_id") % 480 + 1).cast("int")
    branch = F.col("doc_id") % 4
    hex_w8 = F.lpad(F.lower(F.hex(w.cast("long"))), 8, "0")
    hex_h8 = F.lpad(F.lower(F.hex(h.cast("long"))), 8, "0")
    hex_w4 = F.lpad(F.lower(F.hex(w.cast("long"))), 4, "0")
    hex_h4 = F.lpad(F.lower(F.hex(h.cast("long"))), 4, "0")
    # PNG: sig + IHDR(len 13): w,h BE32 + depth 8, color 6, comp/filt/
    # interlace 0 + zero CRC (parser does not validate CRC)
    png_hex = F.concat(
        F.lit("89504e470d0a1a0a" "0000000d" "49484452"),
        hex_w8, hex_h8, F.lit("0806000000" "00000000"),
    )
    # JPEG: SOI + bare SOF0 (len 17): precision 8, h,w BE16, 3 comps
    jpeg_hex = F.concat(
        F.lit("ffd8" "ffc0" "0011" "08"), hex_h4, hex_w4,
        F.lit("03" "012200" "021101" "031101"),
    )
    # GIF89a: sig + w,h LITTLE-endian 16
    gif_hex = F.concat(
        F.lit("474946383961"),
        F.substring(hex_w4, 3, 2), F.substring(hex_w4, 1, 2),
        F.substring(hex_h4, 3, 2), F.substring(hex_h4, 1, 2),
    )
    body = F.encode(F.col("text"), "UTF-8")
    payload = (
        F.when(branch == 0, F.concat(F.unhex(png_hex), body))
        .when(branch == 1, F.concat(F.unhex(jpeg_hex), body))
        .when(branch == 2, F.concat(F.unhex(gif_hex), body))
        .otherwise(body)
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.lit("image/fake").alias("mime"),
        F.struct(
            F.when(branch == 3, w).otherwise(F.lit(9999)).alias("width"),
            F.when(branch == 3, h).otherwise(F.lit(9999)).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    dec = decode_media(media, strict=False)
    is_text = F.col("media_id") % 4 == 3
    return dec.select(
        "media_id",
        "kind",
        "fmt",
        "width",
        "height",
        "n_bytes",
        *[
            F.when(
                is_text,
                F.round(F.element_at("feat", i + 1).cast("double"), 6),
            ).alias(f"feat_{i}")
            for i in range(4)
        ],
    ).orderBy("media_id")


def _media_decode_oracle() -> str:
    feat_cols = ",\n       ".join(
        "CASE WHEN media_id % 4 = 3 THEN "
        "ROUND(CAST(CAST(CAST(CAST('0x' || substr(h, {a}, 2) AS BIGINT)"
        " AS DOUBLE) / 255.0 AS FLOAT) AS DOUBLE), 6) END AS feat_{i}".format(
            a=2 * i + 1, i=i
        )
        for i in range(4)
    )
    return f"""
WITH m AS (
  -- The derived payload is header-bytes || UTF-8 text; dims are baked
  -- into the header from the doc_id formula, so the oracle knows them
  -- by construction. Header byte counts: PNG 33, bare-SOF0 JPEG 21,
  -- GIF 10, headerless 0. DuckDB's md5() is VARCHAR-only (it hashes
  -- the UTF-8 bytes), so the feature stub is pinned on the headerless
  -- branch where payload == encode(text), NULL elsewhere.
  SELECT doc_id AS media_id, 'image' AS kind, text,
         CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
              WHEN 2 THEN 'gif' END AS fmt,
         CAST(doc_id % 640 + 1 AS INT) AS width,
         CAST(doc_id % 480 + 1 AS INT) AS height,
         CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 21
              WHEN 2 THEN 10 ELSE 0 END AS hdr_bytes
  FROM documents
),
d AS (
  SELECT media_id, kind, fmt, width, height,
         CAST(hdr_bytes + octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS h
  FROM m
)
SELECT media_id, kind, fmt, width, height, n_bytes,
       {feat_cols}
FROM d ORDER BY media_id
"""


def doc_media_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver certification of the AUDIO decode path
    (multimodal.decode_audio) with REAL container-header parsing
    (VERDICT r8 task 7, mirroring doc_media_decode's image gate):
    documents become a derived audio frame whose payload carries a
    genuine WAV/RIFF fmt+data header, a bare MPEG-1 Layer III frame
    header, or an ID3v2-prefixed one (doc_id % 4 picks the branch;
    rate/channels/bitrate are baked into the BYTES from doc_id) over
    the UTF-8 text as sample body — all reproducible in DuckDB via
    unhex(...) || encode(text). Metadata on the parseable rows is
    deliberately WRONG (9999), so the gate only matches if
    decode_audio truly parses the header bytes; the fourth branch is a
    headerless payload exercising the metadata fallback. Pins: RIFF
    chunk walk + little-endian field extraction, exact data/byte-rate
    duration, MPEG bitrate/sample-rate index tables, channel-mode
    bits, ID3v2 syncsafe skip, CBR duration estimate, byte counting,
    and the fallback."""
    from hypermap_etl_spark.operators.multimodal import decode_audio

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    body = F.encode(F.col("text"), "UTF-8")
    blen = F.length(body).cast("long")
    branch = F.col("doc_id") % 4

    def le16(col):
        hx = F.lpad(F.lower(F.hex(col.cast("long"))), 4, "0")
        return F.concat(F.substring(hx, 3, 2), F.substring(hx, 1, 2))

    def le32(col):
        hx = F.lpad(F.lower(F.hex(col.cast("long"))), 8, "0")
        return F.concat(
            F.substring(hx, 7, 2), F.substring(hx, 5, 2),
            F.substring(hx, 3, 2), F.substring(hx, 1, 2),
        )

    # WAV: RIFF size + WAVE + canonical 16-byte PCM fmt chunk + data
    rate = (
        F.when(F.col("doc_id") % 3 == 0, 8000)
        .when(F.col("doc_id") % 3 == 1, 22050)
        .otherwise(44100)
    ).cast("long")
    channels = (F.col("doc_id") % 2 + 1).cast("long")
    byte_rate = rate * channels * 2
    wav_hex = F.concat(
        F.lit("52494646"), le32(blen + 36), F.lit("57415645"),
        F.lit("666d7420" "10000000" "0100"),
        le16(channels), le32(rate), le32(byte_rate), le16(channels * 2),
        F.lit("1000" "64617461"), le32(blen),
    )
    # MP3: sync+V1+LayerIII (fffb), bitrate idx 9..13, sr idx 0..2,
    # channel-mode byte; branch 2 prefixes a 20-byte ID3v2 tag
    byte2 = ((F.col("doc_id") % 5 + 9) * 16 + (F.col("doc_id") % 3) * 4).cast(
        "long"
    )
    mp3_hex = F.concat(
        F.lit("fffb"),
        F.lpad(F.lower(F.hex(byte2)), 2, "0"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("c0")).otherwise(F.lit("00")),
    )
    id3_hex = F.concat(F.lit("494433" "0300" "00" "00000014"), F.lit("00" * 20))
    payload = (
        F.when(branch == 0, F.concat(F.unhex(wav_hex), body))
        .when(branch == 1, F.concat(F.unhex(mp3_hex), body))
        .when(branch == 2, F.concat(F.unhex(id3_hex), F.unhex(mp3_hex), body))
        .otherwise(body)
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        payload.alias("payload"),
        F.lit("audio/fake").alias("mime"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.when(branch == 3, F.col("doc_id") * 7)
            .otherwise(F.lit(9999)).cast("long").alias("duration_ms"),
            F.when(branch == 3, F.lit(4242))
            .otherwise(F.lit(9999)).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    return decode_audio(media, strict=False).orderBy("media_id")


DOC_MEDIA_AUDIO_ORACLE = """
WITH m AS (
  -- payload = header-bytes || UTF-8 text; every header field is baked
  -- from doc_id, so the oracle knows the parse results by
  -- construction. Header byte counts: WAV 44, bare MP3 4, ID3+MP3 34,
  -- headerless 0. MP3 duration is the CBR estimate over the bytes
  -- AFTER the ID3 tag: (blen+4)*8 // kbps for both MP3 branches.
  SELECT doc_id AS media_id, 'audio' AS kind,
         octet_length(encode(text)) AS blen, doc_id % 4 AS br,
         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 22050
              ELSE 44100 END AS wav_rate,
         doc_id % 2 + 1 AS ch,
         CASE doc_id % 5 WHEN 0 THEN 128 WHEN 1 THEN 160 WHEN 2 THEN 192
              WHEN 3 THEN 224 ELSE 256 END AS kbps,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
              ELSE 32000 END AS mp3_rate
  FROM documents
)
SELECT media_id, kind,
       CASE br WHEN 0 THEN 'wav' WHEN 1 THEN 'mp3' WHEN 2 THEN 'mp3' END
         AS fmt,
       CAST(CASE br WHEN 0 THEN wav_rate WHEN 3 THEN 4242
            ELSE mp3_rate END AS INT) AS sample_rate,
       CAST(CASE WHEN br = 3 THEN NULL ELSE ch END AS INT) AS channels,
       CAST(CASE br
            WHEN 0 THEN (blen * 1000) // (wav_rate * ch * 2)
            WHEN 3 THEN media_id * 7
            ELSE ((blen + 4) * 8) // kbps END AS BIGINT) AS duration_ms,
       CAST(blen + CASE br WHEN 0 THEN 44 WHEN 1 THEN 4 WHEN 2 THEN 34
                   ELSE 0 END AS BIGINT) AS n_bytes
FROM m ORDER BY media_id
"""


def doc_media_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video twin of doc_media_decode — staged under the r9
    registration freeze, registered in r10 (VERDICT r9 task 1). Documents become a derived video frame whose payload is a
    genuine ISO-BMFF container (ftyp + moov with mvhd and tkhd boxes)
    followed by the UTF-8 text as trailing bytes; presentation
    width/height are baked into the tkhd 16.16 fields from doc_id.
    Branches: 0 = v0 boxes; 1 = v1 boxes (64-bit times, the other
    header layout); 2 = an audio track (zero presentation size) FIRST,
    then the video track — pins the track-selection rule; 3 =
    headerless text exercising the metadata fallback (and the only
    branch where DuckDB's VARCHAR md5 can pin the fake-feature stub).
    Metadata dims on parseable rows are deliberately WRONG (9999), so
    the gate only matches if decode_media truly parses the boxes."""
    from hypermap_etl_spark.operators.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    body = F.encode(F.col("text"), "UTF-8")
    branch = F.col("doc_id") % 4
    w = (F.col("doc_id") % 640 + 1).cast("long")
    h = (F.col("doc_id") % 360 + 1).cast("long")
    fixed16 = lambda c: F.lpad(F.lower(F.hex(c * 65536)), 8, "0")  # noqa: E731

    ftyp = F.lit("00000018" "66747970" + "69736f6d" "00000200"
                 "69736f6d69736f32")  # 24-byte ftyp, brand isom
    # mvhd v0: size 28, version+flags, 8 bytes times, timescale 1000,
    # duration 42000 (constants — decode_media reads only dims)
    mvhd0 = F.lit("0000001c" "6d766864" "00000000" + "00" * 8
                  + "000003e8" "0000a410")
    # mvhd v1: size 40, 16 bytes times, timescale 4, duration 8 (64-bit)
    mvhd1 = F.lit("00000028" "6d766864" "01000000" + "00" * 16
                  + "00000004" + "0000000000000008")

    def tkhd0(wx, hx):
        return F.concat(
            F.lit("0000005c" "746b6864" "00000000" + "00" * 20 + "00" * 16
                  + "00" * 36),
            wx, hx,
        )

    def tkhd1(wx, hx):
        return F.concat(
            F.lit("00000068" "746b6864" "01000000" + "00" * 32 + "00" * 16
                  + "00" * 36),
            wx, hx,
        )

    trak0 = F.concat(F.lit("00000064" "7472616b"), tkhd0(fixed16(w), fixed16(h)))
    trak1 = F.concat(F.lit("00000070" "7472616b"), tkhd1(fixed16(w), fixed16(h)))
    zero_trak = F.concat(
        F.lit("00000064" "7472616b"),
        tkhd0(F.lit("00000000"), F.lit("00000000")),
    )
    # moov sizes: 8 + mvhd + traks  (v0: 8+28+100=136; v1: 8+40+112=160;
    # audio-first: 8+28+100+100=236)
    moov0 = F.concat(F.lit("00000088" "6d6f6f76"), mvhd0, trak0)
    moov1 = F.concat(F.lit("000000a0" "6d6f6f76"), mvhd1, trak1)
    moov2 = F.concat(F.lit("000000ec" "6d6f6f76"), mvhd0, zero_trak, trak0)
    payload = (
        F.when(branch == 0, F.concat(F.unhex(F.concat(ftyp, moov0)), body))
        .when(branch == 1, F.concat(F.unhex(F.concat(ftyp, moov1)), body))
        .when(branch == 2, F.concat(F.unhex(F.concat(ftyp, moov2)), body))
        .otherwise(body)
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        payload.alias("payload"),
        F.lit("video/fake").alias("mime"),
        F.struct(
            F.when(branch == 3, w.cast("int")).otherwise(F.lit(9999)).alias("width"),
            F.when(branch == 3, h.cast("int")).otherwise(F.lit(9999)).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    dec = decode_media(media, strict=False)
    is_text = F.col("media_id") % 4 == 3
    return dec.select(
        "media_id",
        "kind",
        "fmt",
        "width",
        "height",
        "n_bytes",
        *[
            F.when(
                is_text,
                F.round(F.element_at("feat", i + 1).cast("double"), 6),
            ).alias(f"feat_{i}")
            for i in range(4)
        ],
    ).orderBy("media_id")


def _media_video_oracle() -> str:
    feat_cols = ",\n       ".join(
        "CASE WHEN media_id % 4 = 3 THEN "
        "ROUND(CAST(CAST(CAST(CAST('0x' || substr(h, {a}, 2) AS BIGINT)"
        " AS DOUBLE) / 255.0 AS FLOAT) AS DOUBLE), 6) END AS feat_{i}".format(
            a=2 * i + 1, i=i
        )
        for i in range(4)
    )
    return f"""
WITH m AS (
  -- Header byte counts: v0 ftyp+moov 160, v1 184, audio-first 260,
  -- headerless 0. Dims are baked from doc_id; the md5 feature stub is
  -- pinned on the headerless branch only (payload == encode(text)).
  SELECT doc_id AS media_id, 'video' AS kind, text,
         CASE WHEN doc_id % 4 < 3 THEN 'mp4' END AS fmt,
         CAST(doc_id % 640 + 1 AS INT) AS width,
         CAST(doc_id % 360 + 1 AS INT) AS height,
         CASE doc_id % 4 WHEN 0 THEN 160 WHEN 1 THEN 184
              WHEN 2 THEN 260 ELSE 0 END AS hdr_bytes
  FROM documents
),
d AS (
  SELECT media_id, kind, fmt, width, height,
         CAST(hdr_bytes + octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS h
  FROM m
)
SELECT media_id, kind, fmt, width, height, n_bytes,
       {feat_cols}
FROM d ORDER BY media_id
"""


DOC_MEDIA_VIDEO_ORACLE = _media_video_oracle()


def doc_media_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver certification of REAL pixel decode
    (multimodal.decode_png_pixels via pixel_stats) — staged under the
    r9 registration freeze, registered in r10 (VERDICT r9 task 1).

    Documents become GENUINE PNG files built per row from doc_id: the
    pixel plane is the ramp byte i = (doc_id*7 + i) % 256, dims are
    w = doc_id%4+2, h = doc_id%5+3, and doc_id%4 picks the color type
    (gray / RGB / RGBA / palette, the palette entry j being
    (j, 255-j, 2j%256)); every scanline is filtered with
    (doc_id + row) % 5, so all five PNG filters — including the
    sequential Sub/Average/Paeth inversions — must be genuinely undone
    for the sums to come out right. Metadata dims deliberately lie
    (9999). The DuckDB oracle never decodes: with N ramp bytes wrapping
    mod 256 at most once (N <= 140), px_sum/min/max have closed forms
    in doc_id, so only true byte-level decoding matches. px_min/px_max
    are masked NULL on the palette branch in both sides (no tidy closed
    form across the three palette planes)."""
    from hypermap_etl_spark.operators.multimodal import (
        _PNG_CHANNELS,
        encode_png,
        pixel_stats,
    )

    _PAL = bytes(
        v for j in range(256) for v in (j, 255 - j, (2 * j) % 256)
    )
    _CTS = {0: 0, 1: 2, 2: 6, 3: 3}

    @F.pandas_udf("binary")
    def _png_payload(doc_id: pd.Series) -> pd.Series:
        out = []
        for d in doc_id:
            d = int(d)
            w, h = d % 4 + 2, d % 5 + 3
            ct = _CTS[d % 4]
            n = w * h * _PNG_CHANNELS[ct]
            raw = bytes((d * 7 + i) % 256 for i in range(n))
            filters = [(d + r) % 5 for r in range(h)]
            out.append(
                encode_png(
                    w, h, raw, color_type=ct,
                    palette=_PAL if ct == 3 else None,
                    row_filters=filters,
                )
            )
        return pd.Series(out)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        _png_payload(F.col("doc_id")).alias("payload"),
        F.lit("image/png").alias("mime"),
        F.struct(
            F.lit(9999).alias("width"),
            F.lit(9999).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    st = pixel_stats(media, strict=True)
    is_pal = F.col("media_id") % 4 == 3
    return st.select(
        "media_id", "fmt", "width", "height", "channels",
        "px_count", "px_sum",
        F.when(~is_pal, F.col("px_min")).alias("px_min"),
        F.when(~is_pal, F.col("px_max")).alias("px_max"),
    ).orderBy("media_id")


DOC_MEDIA_PIXELS_ORACLE = """
WITH m AS (
  -- Planted-PNG geometry from doc_id; ch is the DECODED channel count
  -- (palette expands to 3). nraw = bytes in the pre-expansion plane.
  SELECT doc_id AS media_id,
         doc_id % 4 + 2 AS w, doc_id % 5 + 3 AS h, doc_id % 4 AS br,
         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 4
              ELSE 3 END AS ch,
         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 4
              ELSE 1 END AS chraw,
         (doc_id * 7) % 256 AS a0,
         (doc_id * 14) % 256 AS b0
  FROM documents
),
g AS (
  -- Ramp (a0+i) % 256 over n terms wraps at most once (n <= 140):
  -- k terms wrap, each contributing -256 vs the unwrapped sum.
  SELECT media_id, w, h, br, ch,
         w * h * chraw AS nraw, w * h AS p,
         a0, b0,
         GREATEST(0, a0 + w * h * chraw - 256) AS k,
         GREATEST(0, w * h - (256 - b0) // 2) AS k2
  FROM m
)
SELECT media_id, 'png' AS fmt,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(ch AS INT) AS channels,
       CAST(w * h * ch AS BIGINT) AS px_count,
       CAST(CASE WHEN br < 3
            THEN nraw * a0 + nraw * (nraw - 1) // 2 - 256 * k
            -- palette: each index j contributes j + (255-j) + 2j%256
            ELSE 255 * p + p * b0 + p * (p - 1) - 256 * k2
       END AS BIGINT) AS px_sum,
       CAST(CASE WHEN br = 3 THEN NULL
            WHEN k > 0 THEN 0 ELSE a0 END AS INT) AS px_min,
       CAST(CASE WHEN br = 3 THEN NULL
            WHEN k > 0 THEN 255 ELSE a0 + nraw - 1 END AS INT) AS px_max
FROM g ORDER BY media_id
"""


def doc_media_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver certification of the perceptual-hash + image near-dup
    path (multimodal.image_ahash / image_neardup_pairs over REAL
    decoded pixels) — staged under the r9 freeze, registered in r10.

    Planted geometry makes the whole pipeline closed-form: each doc is
    an RGB PNG, 8 rows tall and w = doc_id%5+8 wide (w >= 8 keeps the
    8x8 sample columns distinct), whose top b = doc_id%7+1 rows are a
    bright tone (200,100,50 — BT.601 luma 124) and the rest black;
    odd docs additionally brighten the single pixel the (7,7) sample
    cell reads, setting aHash bit 63 — which makes the signed long
    NEGATIVE and pins the shiftrightunsigned chunking. So
    ahash = (1 << 8b) - 1 (+ bit 63), hamming between docs is
    8*|b-b'| + parity, and the near-dup partners within hamming <= 5
    are exactly the same-b docs. Scanlines keep the rotating
    (doc_id+row)%5 filter so decode stays honest; strict=True means
    any undecodable plant fails loudly."""
    from hypermap_etl_spark.operators.multimodal import (
        encode_png,
        image_ahash,
        image_neardup_pairs,
    )

    BRIGHT = bytes([200, 100, 50])

    @F.pandas_udf("binary")
    def _payload(doc_id: pd.Series) -> pd.Series:
        out = []
        for d in doc_id:
            d = int(d)
            b, w, h = d % 7 + 1, d % 5 + 8, 8
            px = bytearray()
            for r in range(h):
                px += (BRIGHT if r < b else b"\x00\x00\x00") * w
            if d % 2:
                c = 7 * w // 8
                px[(7 * w + c) * 3:(7 * w + c) * 3 + 3] = BRIGHT
            filters = [(d + r) % 5 for r in range(h)]
            out.append(
                encode_png(w, h, bytes(px), color_type=2, row_filters=filters)
            )
        return pd.Series(out)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        _payload(F.col("doc_id")).alias("payload"),
        F.lit("image/png").alias("mime"),
        F.struct(
            F.lit(9999).alias("width"),
            F.lit(9999).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    sigs = image_ahash(media, strict=True)
    pairs = image_neardup_pairs(sigs, max_hamming=5)
    partners = (
        pairs.select(F.col("media_a").alias("media_id"))
        .unionAll(pairs.select(F.col("media_b").alias("media_id")))
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        sigs.join(partners, "media_id", "left")
        .select(
            "media_id",
            "fmt",
            "ahash",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_neardups"),
        )
        .orderBy("media_id")
    )


DOC_MEDIA_AHASH_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id, doc_id % 7 + 1 AS b, doc_id % 2 AS par
  FROM documents
),
g AS (
  -- bright top-b rows set sample bits 0..8b-1; the odd-doc pixel sets
  -- bit 63, which in two's complement shifts the value by -2^64
  SELECT media_id, b,
         CASE WHEN par = 1
              THEN ((1::BIGINT << (8 * b)) - 1) - 9223372036854775807 - 1
              ELSE (1::BIGINT << (8 * b)) - 1 END AS ahash
  FROM m
),
c AS (SELECT b, COUNT(*) AS n FROM m GROUP BY b)
SELECT g.media_id, 'png' AS fmt, g.ahash,
       CAST(c.n - 1 AS BIGINT) AS n_neardups
FROM g JOIN c USING (b) ORDER BY g.media_id
"""


def doc_media_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver certification of REAL PCM sample decode
    (multimodal.decode_wav_samples via audio_sample_stats) — NOT yet
    staged under the r9 registration freeze, registered in r10
    (VERDICT r9 task 1).

    Documents become GENUINE PCM WAV files built per row from doc_id:
    interleaved sample j is ((doc_id*11 + j) * 997) mod M - M/2 with
    M = 2048 for 16-bit rows and 256 for the 8-bit rows (doc_id%5==0),
    over n_frames = doc_id%24+8 frames and doc_id%2+1 channels;
    metadata sample_rate deliberately lies (9999). The DuckDB oracle
    regenerates the samples from the same formula over a bounded
    range() cross join (<= 62 samples/doc) and recomputes every
    aggregate — frames, peak, |sum|, energy, channel-0 sign flips — so
    only true frame decoding (endianness, interleave, 8-bit bias)
    matches."""
    from hypermap_etl_spark.operators.multimodal import (
        audio_sample_stats,
        encode_wav,
    )

    _RATES = {0: 8000, 1: 22050, 2: 44100}

    @F.pandas_udf("binary")
    def _wav_payload(doc_id: pd.Series) -> pd.Series:
        out = []
        for d in doc_id:
            d = int(d)
            rate = _RATES[d % 3]
            ch = d % 2 + 1
            bits = 8 if d % 5 == 0 else 16
            half = 128 if bits == 8 else 1024
            n = (d % 24 + 8) * ch
            samples = [
                ((d * 11 + j) * 997) % (2 * half) - half for j in range(n)
            ]
            out.append(encode_wav(rate, ch, bits, samples))
        return pd.Series(out)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        _wav_payload(F.col("doc_id")).alias("payload"),
        F.lit("audio/wav").alias("mime"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(9999).alias("sample_rate"),
        ).alias("meta"),
    )
    return audio_sample_stats(media, strict=True).orderBy("media_id")


DOC_MEDIA_PCM_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 22050
              ELSE 44100 END AS rate,
         doc_id % 2 + 1 AS ch,
         CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 16 END AS bits,
         CASE WHEN doc_id % 5 = 0 THEN 128 ELSE 1024 END AS half,
         doc_id % 24 + 8 AS n_frames
  FROM documents
),
s AS (
  -- regenerate every interleaved sample from the planting formula;
  -- bounded fan-out: n_frames*ch <= 62 rows per doc
  SELECT m.*, t.j,
         ((media_id * 11 + t.j) * 997) % (2 * half) - half AS v
  FROM m CROSS JOIN range(62) t(j)
  WHERE t.j < m.n_frames * m.ch
),
c0 AS (
  -- channel-0 stream in frame order: strict sign flips
  SELECT media_id,
         CASE WHEN v * LAG(v) OVER (PARTITION BY media_id ORDER BY j) < 0
              THEN 1 ELSE 0 END AS flip
  FROM s WHERE j % ch = 0
),
z AS (SELECT media_id, SUM(flip) AS zc FROM c0 GROUP BY media_id)
SELECT s.media_id, 'wav' AS fmt,
       CAST(MAX(m.rate) AS INT) AS sample_rate,
       CAST(MAX(m.ch) AS INT) AS channels,
       CAST(MAX(m.bits) AS INT) AS bits,
       CAST(MAX(m.n_frames) AS BIGINT) AS n_frames,
       CAST(MAX(ABS(s.v)) AS INT) AS peak_abs,
       CAST(SUM(ABS(s.v)) AS BIGINT) AS abs_sum,
       CAST(SUM(s.v * s.v) AS BIGINT) AS sq_sum,
       CAST(MAX(z.zc) AS INT) AS zero_cross
FROM s JOIN m ON m.media_id = s.media_id
       JOIN z ON z.media_id = s.media_id
GROUP BY s.media_id ORDER BY s.media_id
"""


def doc_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena share per source: the fraction of each source's
    vocabulary seen exactly once (and its share of token mass) — a
    Zipf-tail health signal (OCR noise and mojibake inflate hapax;
    templated/boilerplate text starves it). Two hash aggregates:
    corpus -> (source, word, n), then per-source counts; no windows."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda w: w != F.lit("")
    )
    sw = (
        docs.select("source", F.explode(ws).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        sw.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax"),
            F.sum("n").cast("long").alias("tokens"),
        )
        .select(
            "source",
            "vocab",
            "hapax",
            "tokens",
            F.round(
                F.col("hapax").cast("double") / F.col("vocab").cast("double"),
                6,
            ).alias("hapax_vocab_share"),
            F.round(
                F.col("hapax").cast("double") / F.col("tokens").cast("double"),
                6,
            ).alias("hapax_token_share"),
        )
        .orderBy("source")
    )


HAPAX_ORACLE = """
WITH sw AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY 1, 2
),
g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         CAST(SUM(n) AS BIGINT) AS tokens
  FROM sw GROUP BY 1
)
SELECT source, vocab, hapax, tokens,
       ROUND(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6)
         AS hapax_vocab_share,
       ROUND(CAST(hapax AS DOUBLE) / CAST(tokens AS DOUBLE), 6)
         AS hapax_token_share
FROM g ORDER BY source
"""




def doc_model_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains table of the quality-filter
    serving path (quality_model.lift_table over score_linear, same
    md5-derived weights and doc_id%3 pseudo-label as doc_model_auc):
    band assignment is ((global_rank-1)*10) div n over the unique
    (score desc, doc_id) order — pure int64, distributed rank, no
    single-partition ntile — so band boundaries cannot drift between
    engines."""
    import hashlib

    from hypermap_etl_spark.operators.quality_model import (
        lift_table,
        score_linear,
    )

    dim = 16
    weights = [
        (int(hashlib.md5(f"qw{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for i in range(dim)
    ]
    scored = score_linear(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        weights,
        bias=0.25,
    ).select(
        F.round("score", 6).alias("score"),
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    return lift_table(scored, n_bands=10)


MODEL_LIFT_ORACLE = (
    "WITH scores AS ("
    + MODEL_SCORES_ORACLE
    + """),
lab AS (
  SELECT doc_id, score,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label
  FROM scores
),
rk AS (
  SELECT label,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
         COUNT(*) OVER () AS nt
  FROM lab
),
bd AS (SELECT CAST(((rn - 1) * 10) // nt AS INT) AS band, label FROM rk),
per AS (
  SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(label) AS BIGINT) AS n_pos
  FROM bd GROUP BY 1
),
c AS (
  SELECT band, n, n_pos,
    SUM(n) OVER (ORDER BY band) AS cum_n,
    SUM(n_pos) OVER (ORDER BY band) AS cum_pos,
    SUM(n) OVER () AS tot_n,
    SUM(n_pos) OVER () AS tot_pos
  FROM per
)
SELECT band, n, n_pos,
  ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS resp_rate,
  ROUND((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
        / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)), 6) AS lift,
  CAST(cum_n AS BIGINT) AS cum_n,
  CAST(cum_pos AS BIGINT) AS cum_pos,
  ROUND(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE), 6) AS cum_gain,
  ROUND((CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE))
        / (CAST(cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE)), 6) AS cum_lift
FROM c ORDER BY band
"""
)




def doc_hellinger_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Hellinger distance from the corpus word distribution
    over the top-200 vocabulary (textstats.source_hellinger) — the
    metric companion of doc_js_divergence; each Bhattacharyya term is
    quantized to decimal before the cross-word sum, so the reduction
    is order-independent by construction."""
    from hypermap_etl_spark.operators.textstats import source_hellinger

    docs = load_table(spark, sf_dir, "documents")
    return source_hellinger(docs, top_v=200).orderBy("source")


HELLINGER_ORACLE = """
WITH sw AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY 1, 2
),
vocab AS (
  SELECT word FROM (SELECT word, SUM(n) AS cn FROM sw GROUP BY 1)
  ORDER BY cn DESC, word LIMIT 200
),
swv AS (SELECT sw.* FROM sw JOIN vocab USING (word)),
cwv AS (SELECT word, CAST(SUM(n) AS BIGINT) AS cn FROM swv GROUP BY 1),
tot_c AS (SELECT CAST(SUM(cn) AS DOUBLE) AS tc FROM cwv),
tot_s AS (
  SELECT source, CAST(SUM(n) AS DOUBLE) AS ts FROM swv GROUP BY 1
),
joint AS (
  SELECT v.source, v.word, v.n AS sn, c.cn, s.ts, tot_c.tc
  FROM swv v JOIN cwv c USING (word) JOIN tot_s s USING (source)
  CROSS JOIN tot_c
),
terms AS (
  SELECT source,
    CAST(ROUND(sqrt((CAST(sn AS DOUBLE) / ts)
                    * (CAST(cn AS DOUBLE) / tc)), 12)
         AS DECIMAL(14,12)) AS tq
  FROM joint
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vocab_hit,
         CAST(SUM(tq) AS DECIMAL(38,12)) AS bc
  FROM terms GROUP BY 1
),
srcs AS (SELECT DISTINCT source FROM sw)
SELECT s.source,
  COALESCE(a.n_vocab_hit, CAST(0 AS BIGINT)) AS n_vocab_hit,
  ROUND(COALESCE(CAST(a.bc AS DOUBLE), 0.0), 6) AS bhattacharyya,
  ROUND(sqrt(GREATEST(1.0 - COALESCE(CAST(a.bc AS DOUBLE), 0.0),
                      CAST(0 AS DOUBLE))), 6)
    AS hellinger
FROM srcs s LEFT JOIN agg a USING (source) ORDER BY s.source
"""




def doc_score_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization mapping table for the quality scores per
    source (scale.grouped_quantile_table twice + one join on q): each
    source's exact decile knots beside the pooled corpus knots — the
    batch-effect correction artifact that makes scores comparable
    across domains (map a source score to the pooled value at the
    same quantile). One running-sum pass per side, all deciles at
    once; every pick is integer-exact."""
    import hashlib

    from hypermap_etl_spark.operators.quality_model import score_linear
    from hypermap_etl_spark.operators.scale import grouped_quantile_table

    dim = 16
    weights = [
        (int(hashlib.md5(f"qw{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for i in range(dim)
    ]
    docs = load_table(spark, sf_dir, "documents")
    scored = score_linear(
        docs.select("doc_id", "text"), weights, bias=0.25
    ).join(docs.select("doc_id", "source"), "doc_id").select(
        "source", F.round("score", 6).alias("score")
    )
    per_src = grouped_quantile_table(scored, "score", ["source"]).select(
        "source", "q", F.col("value").alias("src_value"),
        F.col("n_rows").alias("n_src"),
    )
    pooled = grouped_quantile_table(
        scored.withColumn("__pool", F.lit(1)), "score", ["__pool"]
    ).select("q", F.col("value").alias("pooled_value"))
    return per_src.join(pooled, "q").select(
        "source", "q", "n_src", "src_value", "pooled_value",
        F.round(F.col("pooled_value") - F.col("src_value"), 6).alias("shift"),
    ).orderBy("source", "q")


QUANTILE_NORM_ORACLE = (
    "WITH scores AS ("
    + MODEL_SCORES_ORACLE
    + """),
sc AS (
  SELECT d.source, CAST(s.score AS DECIMAL(12,2)) AS v
  FROM scores s JOIN documents d USING (doc_id)
),
qs AS (SELECT * FROM (VALUES (0.1, 1, 10), (0.2, 1, 5), (0.3, 3, 10),
       (0.4, 2, 5), (0.5, 1, 2), (0.6, 3, 5), (0.7, 7, 10),
       (0.8, 4, 5), (0.9, 9, 10)) t(q, num, den)),
pv AS (
  SELECT source, v, CAST(COUNT(*) AS BIGINT) AS n
  FROM sc GROUP BY 1, 2
),
cum AS (
  SELECT source, v,
    SUM(n) OVER (PARTITION BY source ORDER BY v) AS c,
    SUM(n) OVER (PARTITION BY source) AS tot
  FROM pv
),
src_q AS (
  SELECT source, q, MIN(v) AS src_value, MAX(tot) AS n_src
  FROM cum CROSS JOIN qs
  WHERE c * den >= tot * num
  GROUP BY 1, 2
),
pcum AS (
  SELECT v, SUM(n) OVER (ORDER BY v) AS c, SUM(n) OVER () AS tot
  FROM (SELECT v, CAST(COUNT(*) AS BIGINT) AS n FROM sc GROUP BY 1)
),
pool_q AS (
  SELECT q, MIN(v) AS pooled_value
  FROM pcum CROSS JOIN qs
  WHERE c * den >= tot * num
  GROUP BY 1
)
SELECT s.source, CAST(s.q AS DOUBLE) AS q,
  CAST(s.n_src AS BIGINT) AS n_src,
  CAST(s.src_value AS DOUBLE) AS src_value,
  CAST(p.pooled_value AS DOUBLE) AS pooled_value,
  ROUND(CAST(p.pooled_value AS DOUBLE) - CAST(s.src_value AS DOUBLE), 6)
    AS shift
FROM src_q s JOIN pool_q p USING (q)
ORDER BY source, q
"""
)




def doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (operators/bpe.bpe_segment
    with the fixed BPE_ENCODE_MERGES): BPE tokens per whitespace word
    and characters per token — the multilingual-tokenizer health
    readout (a language whose fertility spikes is being shredded into
    bytes and will train poorly). Exact long counts per doc, one
    per-lang aggregate, two final divisions."""
    from hypermap_etl_spark.operators.bpe import bpe_segment

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    seg = bpe_segment(docs.select("doc_id", "text"), BPE_ENCODE_MERGES)
    ws = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda w: w != F.lit("")
    )
    base = docs.select(
        "doc_id",
        "lang",
        F.size(ws).cast("long").alias("__nw"),
        F.length(F.array_join(ws, "")).cast("long").alias("__nc"),
    ).join(seg.select("doc_id", "n_bpe_tokens"), "doc_id")
    # zero-word docs carry no fertility signal; dropping them keeps
    # the doc count aligned with the oracle's inner join on words
    base = base.filter(F.col("__nw") > 0)
    g = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nw").cast("long").alias("n_words"),
        F.sum("n_bpe_tokens").cast("long").alias("n_tokens"),
        F.sum("__nc").cast("long").alias("n_chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_tokens",
        F.round(
            F.try_divide(
                F.col("n_tokens").cast("double"),
                F.col("n_words").cast("double"),
            ),
            6,
        ).alias("fertility"),
        F.round(
            F.try_divide(
                F.col("n_chars").cast("double"),
                F.col("n_tokens").cast("double"),
            ),
            6,
        ).alias("chars_per_token"),
    ).orderBy("lang")


_BPE_TOKS_PREFIX = BPE_ENCODE_ORACLE[: BPE_ENCODE_ORACLE.index("agg AS (")]

FERTILITY_ORACLE = (
    _BPE_TOKS_PREFIX
    + """agg AS (
  SELECT w.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(t.nt) AS BIGINT) AS n_tokens,
         CAST(SUM(len(w.word)) AS BIGINT) AS n_chars
  FROM wpos w JOIN toks t ON w.doc_id = t.doc_id AND w.pos = t.pos
  GROUP BY 1
),
j AS (
  SELECT d.lang,
         COALESCE(a.n_words, 0) AS n_words,
         COALESCE(a.n_tokens, 0) AS n_tokens,
         COALESCE(a.n_chars, 0) AS n_chars
  FROM documents d JOIN agg a USING (doc_id)
),
g AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_words) AS BIGINT) AS n_words,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM j GROUP BY 1
)
SELECT lang, n_docs, n_words, n_tokens,
  ROUND(CASE WHEN n_words > 0
        THEN CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) END, 6)
    AS fertility,
  ROUND(CASE WHEN n_tokens > 0
        THEN CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END, 6)
    AS chars_per_token
FROM g ORDER BY lang
"""
)




def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor per label (similarity.centroid_drift):
    cosine and L2 between the centroids of the two id-parity halves —
    the A/A self-check of the class geometry. Components, means, and
    every cross-dim reduction are quantized decimals; only per-dim
    divisions and the final sqrt/divide are doubles."""
    from hypermap_etl_spark.operators.similarity import centroid_drift

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_drift(emb)


CENTROID_DRIFT_ORACLE = """
WITH e AS (
  SELECT label, vec_id % 2 AS h, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
),
d AS (
  SELECT label, h, i - 1 AS dim,
         CAST(ROUND(v[i], 9) AS DECIMAL(18,9)) AS x
  FROM (SELECT label, h, v, unnest(range(1, len(v) + 1)) AS i FROM e)
),
g AS (
  SELECT label, h, dim,
         CAST(SUM(x) AS DECIMAL(38,9)) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM d GROUP BY 1, 2, 3
),
m AS (
  SELECT label, h, dim,
         CAST(ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS mu
  FROM g
),
j AS (
  SELECT a.label, a.dim, a.mu AS ma, b.mu AS mb
  FROM m a JOIN m b ON a.label = b.label AND a.dim = b.dim
  WHERE a.h = 0 AND b.h = 1
),
per AS (
  SELECT label,
    CAST(SUM(ma * mb) AS DECIMAL(38,18)) AS dot,
    CAST(SUM(ma * ma) AS DECIMAL(38,18)) AS na,
    CAST(SUM(mb * mb) AS DECIMAL(38,18)) AS nb,
    CAST(SUM((ma - mb) * (ma - mb)) AS DECIMAL(38,18)) AS d2
  FROM j GROUP BY 1
),
cnt AS (
  SELECT label,
    CAST(COALESCE(SUM(CASE WHEN h = 0 THEN 1 END), 0) AS BIGINT) AS n_a,
    CAST(COALESCE(SUM(CASE WHEN h = 1 THEN 1 END), 0) AS BIGINT) AS n_b
  FROM e GROUP BY 1
)
SELECT p.label, c.n_a, c.n_b,
  ROUND(CASE WHEN sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)) <> 0
        THEN CAST(dot AS DOUBLE)
             / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        END, 6) AS centroid_cosine,
  ROUND(sqrt(CAST(d2 AS DOUBLE)), 6) AS centroid_l2
FROM per p JOIN cnt c USING (label)
ORDER BY p.label
"""




def doc_source_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity per source (textstats.source_simpson): the
    unbiased collision probability of each source's word distribution
    plus its effective-vocabulary face — integer-exact up to two final
    divisions, no vocabulary cap, no quantization needed."""
    from hypermap_etl_spark.operators.textstats import source_simpson

    docs = load_table(spark, sf_dir, "documents")
    return source_simpson(docs).orderBy("source")


SOURCE_SIMPSON_ORACLE = """
WITH sw AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY 1, 2
),
g AS (
  SELECT source,
    CAST(SUM(n) AS BIGINT) AS n_tokens,
    CAST(COUNT(*) AS BIGINT) AS n_types,
    CAST(SUM(CAST(n AS DECIMAL(19,0)) * CAST(n - 1 AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS s2
  FROM sw GROUP BY 1
),
f AS (
  SELECT source, n_tokens, n_types,
    CASE WHEN CAST(CAST(n_tokens AS DECIMAL(19,0))
                   * CAST(n_tokens - 1 AS DECIMAL(19,0)) AS DOUBLE) <> 0
      THEN CAST(s2 AS DOUBLE)
           / CAST(CAST(n_tokens AS DECIMAL(19,0))
                  * CAST(n_tokens - 1 AS DECIMAL(19,0)) AS DOUBLE)
    END AS lam
  FROM g WHERE n_tokens > 1
)
SELECT source, n_tokens, n_types,
  ROUND(lam, 6) AS simpson,
  ROUND(1.0 - lam, 6) AS gini_simpson,
  ROUND(CASE WHEN lam <> 0 THEN 1.0 / lam END, 6) AS inv_simpson
FROM f ORDER BY source
"""




def doc_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Jaccard between every source pair — the
    source-level near-duplicate screen (two feeds with ~identical
    vocabularies are probably the same crawl twice): distinct
    (source, word) index, one word-keyed self-join for intersection
    counts, set sizes by source, |A∩B| / (|A|+|B|−|A∩B|). Work is
    bounded by sources² per word (sources is small by definition);
    all integers up to one division."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda w: w != F.lit("")
    )
    sw = (
        docs.select(F.col("source"), F.explode(ws).alias("word"))
        .distinct()
    )
    sizes = sw.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = sw.select(F.col("source").alias("src_a"), "word")
    b = sw.select(F.col("source").alias("src_b"), "word")
    inter = (
        a.join(b, "word")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    j = (
        inter.join(
            sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a")),
            "src_a",
        )
        .join(
            sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b")),
            "src_b",
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return j.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_common",
        F.round(jac, 6).alias("jaccard"),
    ).orderBy("src_a", "src_b")


VOCAB_OVERLAP_ORACLE = """
WITH sw AS (
  SELECT DISTINCT source, word FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS word
    FROM documents
  ) WHERE word <> ''
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sw GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
  ROUND(CAST(i.n_common AS DOUBLE)
        / CAST(sa.n + sb.n - i.n_common AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.src_a
JOIN sizes sb ON sb.source = i.src_b
ORDER BY i.src_a, i.src_b
"""




def emb_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding norm profile per label — the norm-collapse /
    norm-explosion screen (a label whose vectors shrink toward the
    origin stops being searchable; one whose norms explode dominates
    every dot product): per-row L2 norms (ordered array fold, round
    6), then mean via quantized-decimal sums and exact p50/p90 via
    the one-pass grouped quantile table."""
    from hypermap_etl_spark.operators.scale import grouped_quantile_table

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        ),
        6,
    )
    norms = emb.select("label", norm.alias("norm"))
    stats = norms.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(
            F.sum(F.col("norm").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_norm"),
    )
    qt = grouped_quantile_table(norms, "norm", ["label"], qs=(0.5, 0.9))
    piv = qt.groupBy("label").agg(
        F.max(F.when(F.col("q") == 0.5, F.col("value"))).alias("p50_norm"),
        F.max(F.when(F.col("q") == 0.9, F.col("value"))).alias("p90_norm"),
    )
    return (
        stats.join(piv, "label")
        .select("label", "n_vecs", "mean_norm", "p50_norm", "p90_norm")
        .orderBy("label")
    )


NORM_PROFILE_ORACLE = """
WITH n AS (
  SELECT label,
    ROUND(sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                       x -> x * x))), 6) AS norm
  FROM embeddings WHERE embedding IS NOT NULL
),
stats AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
    ROUND(CAST(SUM(CAST(norm AS DECIMAL(18,6))) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS mean_norm
  FROM n GROUP BY 1
),
pv AS (
  SELECT label, CAST(norm AS DECIMAL(12,2)) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM n GROUP BY 1, 2
),
cum AS (
  SELECT label, v,
    SUM(c) OVER (PARTITION BY label ORDER BY v) AS cw,
    SUM(c) OVER (PARTITION BY label) AS tot
  FROM pv
),
q AS (
  SELECT label,
    MIN(CASE WHEN cw * 2 >= tot * 1 THEN v END) AS p50,
    MIN(CASE WHEN cw * 10 >= tot * 9 THEN v END) AS p90
  FROM cum GROUP BY 1
)
SELECT s.label, s.n_vecs, s.mean_norm,
  CAST(q.p50 AS DOUBLE) AS p50_norm,
  CAST(q.p90 AS DOUBLE) AS p90_norm
FROM stats s JOIN q USING (label)
ORDER BY s.label
"""




def emb_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-rebalancing sampler certification
    (curation.balanced_class_sample): every label downsampled toward
    the smallest class by the integer-exact md5 threshold — the gate
    reports per-label original vs kept counts, so the deterministic
    keep set is pinned end-to-end (counts change iff the hash rule
    changes)."""
    from hypermap_etl_spark.operators.curation import balanced_class_sample

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    kept = balanced_class_sample(emb, "label", "vec_id")
    orig = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_orig")
    )
    k = kept.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    return (
        orig.join(k, "label", "left")
        .select(
            "label",
            "n_orig",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("label")
    )


BALANCED_SAMPLE_ORACLE = """
WITH e AS (SELECT vec_id, label FROM embeddings),
sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_class FROM e GROUP BY 1
),
nm AS (SELECT MIN(n_class) AS n_min FROM sizes),
kept AS (
  SELECT e.label
  FROM e JOIN sizes USING (label) CROSS JOIN nm
  WHERE CAST(CAST('0x' || substr(md5('bal:' || CAST(vec_id AS VARCHAR)),
                  1, 8) AS BIGINT) AS DECIMAL(38,0))
        * CAST(n_class AS DECIMAL(38,0))
      < CAST(n_min AS DECIMAL(38,0)) * CAST(4294967296 AS DECIMAL(38,0))
),
k AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1)
SELECT s.label, s.n_class AS n_orig,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
FROM sizes s LEFT JOIN k USING (label)
ORDER BY s.label
"""




def doc_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram mass-coverage curve (scale.heavy_coverage over the
    corpus bigram table): the smallest number of distinct bigrams —
    heaviest first — covering 50/90/99% of all bigram occurrences,
    the LM-vocabulary planning readout (how Zipf-compressible is the
    phrase distribution). One explode→aggregate, then the distributed
    coverage construction over the aggregate."""
    from hypermap_etl_spark.operators.scale import heavy_coverage
    from hypermap_etl_spark.operators.textstats import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(word_shingles(F.lower(F.col("text")), 2)).alias("bigram")
    )
    return heavy_coverage(grams, ["bigram"]).orderBy("threshold")


BIGRAM_COVERAGE_ORACLE = """
WITH w AS (
  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT unnest(list_transform(range(1, len(ws)),
                i -> ws[i] || ' ' || ws[i + 1])) AS bigram
  FROM w
),
per AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS x FROM g GROUP BY 1),
r AS (
  SELECT x,
         SUM(x) OVER (ORDER BY x DESC, bigram ASC) AS cum,
         row_number() OVER (ORDER BY x DESC, bigram ASC) AS rk
  FROM per
),
tot AS (
  SELECT CAST(SUM(x) AS DOUBLE) AS t, CAST(COUNT(*) AS BIGINT) AS nk
  FROM per
),
th AS (SELECT CAST(u.t AS DOUBLE) AS threshold
       FROM unnest([0.5, 0.9, 0.99]) AS u(t))
SELECT th.threshold,
       CAST(MIN(r.rk) AS BIGINT) AS n_keys_needed,
       CAST(MAX(tot.nk) AS BIGINT) AS n_keys_total,
       ROUND(CAST(MIN(r.rk) AS DOUBLE) / CAST(MAX(tot.nk) AS DOUBLE), 6)
         AS key_fraction
FROM th CROSS JOIN tot JOIN r ON CAST(r.cum AS DOUBLE) >= th.threshold * tot.t
GROUP BY th.threshold ORDER BY th.threshold
"""




def doc_quality_length_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score vs document-length Spearman per language
    (profile.spearman_corr over score_linear + n_chars): the
    confounder screen every filter needs — a quality model whose
    score is rank-identical to raw length is just a length filter
    wearing a costume. Values compare at decimal(12,2) exactness
    (scores in [0,1] tie-group at 2 dp, identically in both engines);
    rank moments are exact decimals."""
    import hashlib

    from hypermap_etl_spark.operators.profile import spearman_corr
    from hypermap_etl_spark.operators.quality_model import score_linear

    dim = 16
    weights = [
        (int(hashlib.md5(f"qw{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for i in range(dim)
    ]
    docs = load_table(spark, sf_dir, "documents")
    scored = score_linear(
        docs.select("doc_id", "text"), weights, bias=0.25
    ).select("doc_id", F.round("score", 6).alias("score"))
    j = docs.select("doc_id", "lang", "n_chars").join(scored, "doc_id")
    return spearman_corr(j, "score", "n_chars", ["lang"]).orderBy("lang")


QUALITY_LENGTH_RHO_ORACLE = (
    "WITH scores AS ("
    + MODEL_SCORES_ORACLE
    + """),
base AS (
  SELECT d.lang AS g,
         CAST(s.score AS DECIMAL(12,2)) AS x,
         CAST(d.n_chars AS DECIMAL(12,2)) AS y
  FROM scores s JOIN documents d USING (doc_id)
  WHERE s.score IS NOT NULL AND d.n_chars IS NOT NULL
),
px AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS t FROM base GROUP BY 1, 2),
rx AS (
  SELECT g, x,
         2 * SUM(t) OVER (PARTITION BY g ORDER BY x) - (t - 1) AS rx2
  FROM px
),
py AS (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS t FROM base GROUP BY 1, 2),
ry AS (
  SELECT g, y,
         2 * SUM(t) OVER (PARTITION BY g ORDER BY y) - (t - 1) AS ry2
  FROM py
),
j AS (
  SELECT b.g, rx.rx2, ry.ry2
  FROM base b
  JOIN rx ON b.g = rx.g AND b.x = rx.x
  JOIN ry ON b.g = ry.g AND b.y = ry.y
),
a AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(rx2 AS DECIMAL(19,0))) AS sx,
         SUM(CAST(ry2 AS DECIMAL(19,0))) AS sy,
         SUM(CAST(rx2 AS DECIMAL(19,0)) * CAST(rx2 AS DECIMAL(19,0))) AS sxx,
         SUM(CAST(ry2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0))) AS syy,
         SUM(CAST(rx2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0))) AS sxy
  FROM j GROUP BY 1
)
SELECT g AS lang, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
FROM a ORDER BY 1
"""
)




def emb_class_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class separability per label (similarity.class_separability):
    mean cosine to the own-label centroid vs the global centroid and
    the margin — the silhouette proxy run before trusting labels as
    clusters. Fully quantized-decimal reductions."""
    from hypermap_etl_spark.operators.similarity import class_separability

    emb = load_table(spark, sf_dir, "embeddings")
    return class_separability(emb)


CLASS_SEPARABILITY_ORACLE = """
WITH e AS (
  SELECT label, vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
),
d AS (
  SELECT label, vec_id, i - 1 AS dim,
         CAST(ROUND(v[i], 9) AS DECIMAL(18,9)) AS x
  FROM (SELECT label, vec_id, v, unnest(range(1, len(v) + 1)) AS i FROM e)
),
own AS (
  SELECT label, dim,
         CAST(ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS mo
  FROM d GROUP BY 1, 2
),
gc AS (
  SELECT dim,
         CAST(ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS mg
  FROM d GROUP BY 1
),
pv AS (
  SELECT d.label, d.vec_id,
    CAST(SUM(d.x * o.mo) AS DECIMAL(38,18)) AS do_,
    CAST(SUM(d.x * g.mg) AS DECIMAL(38,18)) AS dg,
    CAST(SUM(d.x * d.x) AS DECIMAL(38,18)) AS xx,
    CAST(SUM(o.mo * o.mo) AS DECIMAL(38,18)) AS oo,
    CAST(SUM(g.mg * g.mg) AS DECIMAL(38,18)) AS gg
  FROM d
  JOIN own o ON d.label = o.label AND d.dim = o.dim
  JOIN gc g ON d.dim = g.dim
  GROUP BY 1, 2
),
q AS (
  SELECT label,
    CAST(ROUND(CASE WHEN sqrt(CAST(xx AS DOUBLE)) * sqrt(CAST(oo AS DOUBLE))
                         <> 0
               THEN CAST(do_ AS DOUBLE)
                    / (sqrt(CAST(xx AS DOUBLE)) * sqrt(CAST(oo AS DOUBLE)))
               END, 9) AS DECIMAL(12,9)) AS co,
    CAST(ROUND(CASE WHEN sqrt(CAST(xx AS DOUBLE)) * sqrt(CAST(gg AS DOUBLE))
                         <> 0
               THEN CAST(dg AS DOUBLE)
                    / (sqrt(CAST(xx AS DOUBLE)) * sqrt(CAST(gg AS DOUBLE)))
               END, 9) AS DECIMAL(12,9)) AS cg
  FROM pv
),
g2 AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(co) AS DECIMAL(38,9)) AS sco,
         CAST(SUM(cg) AS DECIMAL(38,9)) AS scg
  FROM q GROUP BY 1
)
SELECT label, n_vecs,
  ROUND(CAST(sco AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6) AS cos_own,
  ROUND(CAST(scg AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6) AS cos_global,
  ROUND(CAST(sco AS DOUBLE) / CAST(n_vecs AS DOUBLE)
        - CAST(scg AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6) AS margin
FROM g2 ORDER BY label
"""




def doc_pii_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII density per source (curation.tag_pii over the planted-PII
    fixture, rolled up by source): the compliance dashboard row —
    which feed is leaking emails/phones/SSNs and at what rate. Exact
    match counts, one aggregate, one division per source."""
    tagged = curation.tag_pii(_pii_docs(spark, sf_dir))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    j = tagged.join(docs, "doc_id")
    g = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("has_pii"), 1).otherwise(0))
        .cast("long")
        .alias("n_with_pii"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_phones").cast("long").alias("n_phones"),
        F.sum("n_ssns").cast("long").alias("n_ssns"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_with_pii",
        F.round(
            F.col("n_with_pii").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("pii_rate"),
        "n_emails",
        "n_phones",
        "n_ssns",
    ).orderBy("source")


PII_BY_SOURCE_ORACLE = f"""
WITH p AS ({_PII_AUG_SQL}),
t AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '{curation.EMAIL_RE}')) AS n_emails,
    len(regexp_extract_all(text, '{curation.PHONE_RE}')) AS n_phones,
    len(regexp_extract_all(text, '{curation.SSN_RE}')) AS n_ssns
  FROM p
),
j AS (
  SELECT d.source, t.n_emails, t.n_phones, t.n_ssns,
         (t.n_emails + t.n_phones + t.n_ssns) > 0 AS has_pii
  FROM t JOIN documents d USING (doc_id)
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COALESCE(SUM(CASE WHEN has_pii THEN 1 END), 0) AS BIGINT)
    AS n_with_pii,
  ROUND(CAST(COALESCE(SUM(CASE WHEN has_pii THEN 1 END), 0) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS pii_rate,
  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
  CAST(SUM(n_phones) AS BIGINT) AS n_phones,
  CAST(SUM(n_ssns) AS BIGINT) AS n_ssns
FROM j GROUP BY 1 ORDER BY source
"""


DOC_QUERIES: dict[str, tuple] = {
    "doc_calibration": (doc_calibration, CALIBRATION_ORACLE),
    "emb_hard_negatives": (emb_hard_negatives, HARD_NEGATIVES_ORACLE),
    "doc_hybrid_rrf": (doc_hybrid_rrf, HYBRID_RRF_ORACLE),
    "doc_pack_efficiency": (doc_pack_efficiency, PACK_EFFICIENCY_ORACLE),
    "doc_hash_embed": (doc_hash_embed, HASH_EMBED_ORACLE),
    "doc_model_scores": (doc_model_scores, MODEL_SCORES_ORACLE),
    "doc_snapshot_diff": (doc_snapshot_diff, SNAPSHOT_DIFF_ORACLE),
    "doc_bigram_logprob": (doc_bigram_logprob, BIGRAM_LOGPROB_ORACLE),
    "doc_ppl_buckets": (doc_ppl_buckets, PPL_BUCKETS_ORACLE),
    "doc_kn_logprob": (doc_kn_logprob, KN_LOGPROB_ORACLE),
    "doc_gopher_quality": (doc_gopher_quality, GOPHER_QUALITY_ORACLE),
    "doc_containment_pairs": (doc_containment_pairs, CONTAINMENT_ORACLE),
    "emb_pq_recall": (emb_pq_recall, PQ_RECALL_ORACLE),
    "doc_packed_strict": (doc_packed_strict, PACKED_STRICT_ORACLE),
    "emb_ivf_index_recall": (emb_ivf_index_recall, IVF_INDEX_RECALL_ORACLE),
    "doc_normalized": (doc_normalized, NORMALIZED_ORACLE),
    "doc_html_text": (doc_html_text, HTML_TEXT_ORACLE),
    "doc_sentence_dedup": (doc_sentence_dedup, SENTENCE_DEDUP_ORACLE),
    "doc_c4_clean": (doc_c4_clean, C4_CLEAN_ORACLE),
    "emb_decontam": (emb_decontam, EMB_DECONTAM_ORACLE),
    "doc_incremental_pairs": (doc_incremental_pairs, INCREMENTAL_PAIRS_ORACLE),
    "doc_token_stats": (doc_token_stats, TOKEN_ORACLE),
    "doc_quality": (doc_quality, QUALITY_ORACLE),
    "doc_langid": (doc_langid, _langid_oracle()),
    "doc_fingerprints": (doc_fingerprints, FP_ORACLE),
    "doc_exact_dedup": (doc_exact_dedup, EXACT_DEDUP_ORACLE),
    "doc_ngram_pairs": (doc_ngram_pairs, _EXACT_PAIRS_SQL),
    "doc_dup_clusters": (doc_dup_clusters, DUP_CLUSTERS_ORACLE),
    "doc_dedup_survivors": (doc_dedup_survivors, DEDUP_SURVIVORS_ORACLE),
    "doc_dup_spans": (doc_dup_spans, DUP_SPANS_ORACLE),
    "doc_dup_char_spans": (doc_dup_char_spans, DUP_CHAR_SPANS_ORACLE),
    "doc_despanned_char": (doc_despanned_char, DESPANNED_CHAR_ORACLE),
    "doc_suffix_array": (doc_suffix_array, SUFFIX_ARRAY_ORACLE),
    "doc_sa_lcp": (doc_sa_lcp, SA_LCP_ORACLE),
    "doc_bpe_first_merge": (doc_bpe_first_merge, BPE_FIRST_MERGE_ORACLE),
    "doc_bpe_encode": (doc_bpe_encode, BPE_ENCODE_ORACLE),
    "doc_unigram_seed": (doc_unigram_seed, UNIGRAM_SEED_ORACLE),
    "doc_boilerplate": (doc_boilerplate, BOILERPLATE_ORACLE),
    "doc_sentence_chunks": (doc_sentence_chunks, SENTENCE_CHUNKS_ORACLE),
    "doc_pmi_pairs": (doc_pmi_pairs, PMI_PAIRS_ORACLE),
    "doc_char_entropy": (doc_char_entropy, CHAR_ENTROPY_ORACLE),
    "doc_bff_dedup": (doc_bff_dedup, BFF_DEDUP_ORACLE),
    "doc_winnow_pairs": (doc_winnow_pairs, WINNOW_PAIRS_ORACLE),
    "doc_despanned": (doc_despanned, DESPANNED_ORACLE),
    "doc_split": (doc_split, SPLIT_ORACLE),
    "doc_group_split": (doc_group_split, GROUP_SPLIT_ORACLE),
    "doc_temperature_mix": (doc_temperature_mix, TEMPERATURE_MIX_ORACLE),
    "doc_chunks": (doc_chunks, CHUNKS_ORACLE),
    "doc_tfidf_top_terms": (doc_tfidf_top_terms, TFIDF_ORACLE),
    "doc_unigram_logprob": (doc_unigram_logprob, UNIGRAM_LOGPROB_ORACLE),
    "doc_bm25_search": (doc_bm25_search, BM25_ORACLE),
    "doc_length_percentiles": (doc_length_percentiles, _length_pct_oracle()),
    "doc_stratified_sample": (doc_stratified_sample, _stratified_oracle()),
    "doc_weighted_sample": (doc_weighted_sample, WEIGHTED_SAMPLE_ORACLE),
    "doc_top_bigrams": (doc_top_bigrams, TOP_BIGRAMS_ORACLE),
    "doc_packed": (doc_packed, PACKED_ORACLE),
    "doc_train_filter": (doc_train_filter, _train_filter_oracle()),
    "doc_vocab": (doc_vocab, VOCAB_ORACLE),
    "doc_source_mix": (doc_source_mix, SOURCE_MIX_ORACLE),
    "doc_source_caps": (doc_source_caps, SOURCE_CAPS_ORACLE),
    "doc_dedup_best": (doc_dedup_best, DEDUP_BEST_ORACLE),
    "doc_shards": (doc_shards, SHARDS_ORACLE),
    "doc_repetition": (doc_repetition, REPETITION_ORACLE),
    "doc_pii_tags": (doc_pii_tags, PII_TAGS_ORACLE),
    "doc_pii_redact": (doc_pii_redact, PII_REDACT_ORACLE),
    "doc_decontam": (doc_decontam, DECONTAM_ORACLE),
    "doc_dsir_weights": (doc_dsir_weights, DSIR_ORACLE),
    "doc_segment_dedup": (doc_segment_dedup, SEGMENT_DEDUP_ORACLE),
    "doc_minhash_pairs": (doc_minhash_pairs, _EXACT_PAIRS_SQL),
    "doc_simhash_pairs": (doc_simhash_pairs, _simhash_pairs_oracle()),
    "doc_simhash_sigs": (doc_simhash_sigs, _simhash_oracle()),
    "media_metadata": (media_metadata, MEDIA_META_ORACLE),
    "emb_ann_topk": (emb_ann_topk, ANN_ORACLE),
    "emb_neardup": (emb_neardup, NEARDUP_ORACLE),
    "emb_semantic_survivors": (emb_semantic_survivors, SEMANTIC_SURVIVORS_ORACLE),
    "emb_semdedup": (emb_semdedup, SEMDEDUP_ORACLE),
    "emb_label_centroids": (emb_label_centroids, LABEL_CENTROIDS_ORACLE),
    "emb_knn_label": (emb_knn_label, KNN_ORACLE),
    "emb_lsh_recall": (emb_lsh_recall, LSH_RECALL_ORACLE),
    "emb_ivf_recall": (emb_ivf_recall, IVF_RECALL_ORACLE),
    "emb_ivf_probe_sweep": (emb_ivf_probe_sweep, IVF_PROBE_SWEEP_ORACLE),
    "emb_quantized_recall": (emb_quantized_recall, QUANTIZED_RECALL_ORACLE),
    "emb_pca_variance": (emb_pca_variance, PCA_VARIANCE_ORACLE),
    "emb_kmeans_quality": (emb_kmeans_quality, KMEANS_QUALITY_ORACLE),
    "emb_quantize": (emb_quantize, QUANTIZE_ORACLE),
    "emb_covariance": (emb_covariance, EMB_COVARIANCE_ORACLE),
    "emb_outliers": (emb_outliers, EMB_OUTLIERS_ORACLE),
    "doc_balanced_shards": (doc_balanced_shards, BALANCED_SHARDS_ORACLE),
    "doc_shard_balance": (doc_shard_balance, SHARD_BALANCE_ORACLE),
    "emb_jl_project": (emb_jl_project, JL_PROJECT_ORACLE),
    "doc_js_divergence": (doc_js_divergence, JS_DIVERGENCE_ORACLE),
    "emb_matryoshka_recall": (emb_matryoshka_recall, MATRYOSHKA_ORACLE),
    "emb_ivfpq_recall": (emb_ivfpq_recall, IVFPQ_RECALL_ORACLE),
    "doc_kappa_models": (doc_kappa_models, KAPPA_ORACLE),
    "doc_model_auc": (doc_model_auc, MODEL_AUC_ORACLE),
    "doc_model_pr_sweep": (doc_model_pr_sweep, PR_SWEEP_ORACLE),
    "doc_model_brier": (doc_model_brier, BRIER_ORACLE),
    "doc_fleiss_models": (doc_fleiss_models, FLEISS_ORACLE),
    "doc_skipgram_cooc": (doc_skipgram_cooc, SKIPGRAM_ORACLE),
    "doc_sppmi_matrix": (doc_sppmi_matrix, SPPMI_ORACLE),
    "doc_negative_sampling": (doc_negative_sampling, NEG_SAMPLING_ORACLE),
    "doc_media_decode": (doc_media_decode, _media_decode_oracle()),
    "doc_media_audio": (doc_media_audio, DOC_MEDIA_AUDIO_ORACLE),
    # the four gates staged under the r9 registration freeze, now
    # registered (VERDICT r9 task 1)
    "doc_media_video": (doc_media_video, DOC_MEDIA_VIDEO_ORACLE),
    "doc_media_pixels": (doc_media_pixels, DOC_MEDIA_PIXELS_ORACLE),
    "doc_media_pcm": (doc_media_pcm, DOC_MEDIA_PCM_ORACLE),
    "doc_media_ahash": (doc_media_ahash, DOC_MEDIA_AHASH_ORACLE),
    "doc_hapax_ratio": (doc_hapax_ratio, HAPAX_ORACLE),
    "doc_epoch_plan": (doc_epoch_plan, EPOCH_PLAN_ORACLE),
    "doc_luhn_check": (doc_luhn_check, LUHN_ORACLE),
    "doc_script_profile": (doc_script_profile, SCRIPT_PROFILE_ORACLE),
    "doc_keyword_tags": (doc_keyword_tags, KEYWORD_TAGS_ORACLE),
    "doc_keyword_tags_ac": (doc_keyword_tags_ac, KEYWORD_TAGS_ORACLE),
    "doc_zipf_fit": (doc_zipf_fit, ZIPF_ORACLE),
    "doc_mojibake": (doc_mojibake, MOJIBAKE_ORACLE),
    "doc_dedup_sweep": (doc_dedup_sweep, DEDUP_SWEEP_ORACLE),
    "doc_langid_confusion": (doc_langid_confusion, _langid_confusion_oracle()),
    "doc_langid_report": (doc_langid_report, _langid_report_oracle()),
    "doc_source_dup_matrix": (doc_source_dup_matrix, SOURCE_DUP_MATRIX_ORACLE),
    "doc_bm25_snippets": (doc_bm25_snippets, BM25_SNIPPETS_ORACLE),
    "doc_apportion": (doc_apportion, APPORTION_ORACLE),
    "doc_token_pctrank": (doc_token_pctrank, TOKEN_PCTRANK_ORACLE),
    "doc_lexical_diversity": (doc_lexical_diversity, LEXDIV_ORACLE),
    "doc_ngram_novelty": (doc_ngram_novelty, NGRAM_NOVELTY_ORACLE),
    "doc_source_hhi": (doc_source_hhi, SOURCE_HHI_ORACLE),
    "doc_cdc_dedup": (doc_cdc_dedup, CDC_DEDUP_ORACLE),
    "doc_readability": (doc_readability, READABILITY_ORACLE),
    "doc_prefix_pairs": (doc_prefix_pairs, _EXACT_PAIRS_SQL),
    "doc_model_lift": (doc_model_lift, MODEL_LIFT_ORACLE),
    "doc_hellinger_sources": (doc_hellinger_sources, HELLINGER_ORACLE),
    "doc_score_quantile_norm": (doc_score_quantile_norm, QUANTILE_NORM_ORACLE),
    "doc_tokenizer_fertility": (doc_tokenizer_fertility, FERTILITY_ORACLE),
    "emb_centroid_drift": (emb_centroid_drift, CENTROID_DRIFT_ORACLE),
    "doc_source_simpson": (doc_source_simpson, SOURCE_SIMPSON_ORACLE),
    "doc_source_vocab_overlap": (doc_source_vocab_overlap, VOCAB_OVERLAP_ORACLE),
    "emb_norm_profile": (emb_norm_profile, NORM_PROFILE_ORACLE),
    "emb_balanced_sample": (emb_balanced_sample, BALANCED_SAMPLE_ORACLE),
    "doc_bigram_coverage": (doc_bigram_coverage, BIGRAM_COVERAGE_ORACLE),
    "doc_quality_length_rho": (doc_quality_length_rho, QUALITY_LENGTH_RHO_ORACLE),
    "emb_class_separability": (emb_class_separability, CLASS_SEPARABILITY_ORACLE),
    "doc_pii_by_source": (doc_pii_by_source, PII_BY_SOURCE_ORACLE),
}
