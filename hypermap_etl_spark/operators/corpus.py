"""Corpus-building operators: the steps BETWEEN analysis and a training
set. dedup.py / textstats.py / similarity.py mine signals; these
operators apply them — drop duplicates, split deterministically, chunk
to sequence length, and filter on quality — all with built-in
expressions (no Python on the hot path) and all independently
reproducible in SQL for the oracle gate.

Scale notes per op are inline; none shuffles more than once, and the
only joins are (small drop-set) anti-joins that AQE broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hypermap_etl_spark.operators.textstats import (
    language_scores,
    quality_expressions,
    words,
)


# ----------------------------------------------------------- keep list ----

def dedup_survivors(docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Documents surviving near-dup clustering: every doc that is not a
    non-representative member of some cluster (cluster reps and
    singletons survive).

    ``clusters`` is duplicate_clusters() output (doc_id, cluster_id).
    One anti-join on the (much smaller) drop set — at corpus scale the
    drop set is the duplicated fraction only, and AQE broadcasts it
    when it fits.
    """
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def dedup_survivors_best(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked variant of dedup_survivors: each near-dup cluster
    keeps its HIGHEST-``score_col`` member (ties → lowest id) instead of
    the lowest-id member — the production policy when a quality signal
    exists (keep the cleanest copy of the boilerplate, not an arbitrary
    one). Singletons (no cluster row) always survive.

    Plan: clusters is pairs-only (the duplicated fraction), so the
    per-cluster argmax is one map-combined ``max_by`` aggregate over
    cluster-fraction rows joined to their scores, then one anti-join of
    the corpus against the (cluster members − winners) drop set — the
    same two-small-frame shape as dedup_survivors, never a window over
    the full corpus.
    """
    members = clusters.select(F.col("doc_id").alias(id_col), "cluster_id")
    scored = members.join(docs.select(id_col, score_col), id_col)
    # max_by on a (score, -id) struct: highest score wins, ties break to
    # the LOWEST id (negate id inside the ordering struct)
    winners = scored.groupBy("cluster_id").agg(
        F.max_by(
            F.col(id_col), F.struct(F.col(score_col), -F.col(id_col))
        ).alias(id_col)
    )
    drop = members.join(winners.select(id_col), id_col, "left_anti").select(id_col)
    return docs.join(drop, id_col, "left_anti")


def cap_per_source(
    docs: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hot-domain downsampling (the C4/RefinedWeb recipe step): keep at
    most ``cap`` documents per source, selected by md5(id) order — a
    deterministic unbiased sample, bit-identical in any engine.

    Skew-aware plan (a hot domain is BY DEFINITION a skewed key):

      1. per-source counts — one map-combined aggregate, one tiny row
         per source, broadcast back; sources at-or-under the cap pass
         through with NO sort and NO shuffle of their rows (broadcast
         anti-join is map-side). On a real corpus that's the long tail
         — most of the data.
      2. over-cap sources only: one ranked window. Spark's
         InferWindowGroupLimit turns the rank-limit filter into a
         PARTIAL WindowGroupLimit before the exchange (top-``cap`` per
         source per map partition — verified in the plan snapshot,
         PLANS.md), so the per-source reduce task receives at most
         cap × map-partitions rows, never a whole hot domain.
    """
    key = F.md5(F.col(id_col).cast("string"))
    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    over = counts.filter(F.col("__n") > cap).select(source_col)
    under_docs = docs.join(F.broadcast(over), source_col, "left_anti")
    hot = docs.join(F.broadcast(over), source_col, "left_semi")
    from pyspark.sql.window import Window

    w = Window.partitionBy(source_col).orderBy(key, F.col(id_col))
    capped_hot = (
        hot.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= cap)
        .drop("__r")
    )
    return under_docs.unionByName(capped_hot)


# ------------------------------------------------- deterministic split ----

def hash_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    val_buckets: int = 3,
    test_buckets: int = 3,
) -> DataFrame:
    """Deterministic train/val/test assignment by content-free id hash.

    Bucket = first two hex chars of md5(id) → 256 uniform buckets; the
    top ``test_buckets`` are test, the next ``val_buckets`` val, the
    rest train (defaults ≈ 1.2% each). Purely per-row (no shuffle, no
    state), stable across runs/engines — the property a 100 TB corpus
    split needs so re-runs never migrate a document between splits.
    md5 (not xxhash64) because the oracle must reproduce it bit-for-bit
    in any SQL engine.
    """
    return docs.withColumn(
        "split", _md5_split(F.col(id_col), val_buckets, test_buckets)
    )


def _md5_split(key: Column, val_buckets: int, test_buckets: int) -> Column:
    bucket = F.substring(F.md5(key.cast("string")), 1, 2)
    hexes = [f"{i:02x}" for i in range(256)]
    test_lo = hexes[256 - test_buckets]
    val_lo = hexes[256 - test_buckets - val_buckets]
    return (
        F.when(bucket >= F.lit(test_lo), F.lit("test"))
        .when(bucket >= F.lit(val_lo), F.lit("val"))
        .otherwise(F.lit("train"))
    )


def group_split(
    docs: DataFrame,
    group_col: str,
    val_buckets: int = 3,
    test_buckets: int = 3,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: bucket by md5 of the
    GROUP key instead of the document id, so every member of a group
    lands in the SAME split — the GroupShuffleSplit discipline. Group
    by ``source``/domain to keep a site's boilerplate out of both
    sides, or join in ``dedup.duplicate_clusters``' cluster_id first
    to keep near-duplicates of every test document out of train (the
    split-leakage failure mode :func:`hash_split` cannot see, since it
    hashes ids that differ between near-dups).

    Same 256-bucket md5 math as :func:`hash_split`, still a pure
    per-row projection (the group key is a column — no shuffle, no
    join). NULL group keys fall through to train (md5(NULL) is NULL,
    which compares false to both bounds); group-key completeness is
    :mod:`constraints`'s business.
    """
    if group_col not in docs.columns:
        raise ValueError(f"group_split: column not in frame: {group_col}")
    return docs.withColumn(
        "split", _md5_split(F.col(group_col), val_buckets, test_buckets)
    )


# -------------------------------------------------------- token chunks ----

def _nonempty_words(text_col: str) -> Column:
    return F.filter(words(F.lower(F.col(text_col))), lambda w: w != F.lit(""))


def token_chunks(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    sequence-packing prep step of a training pipeline.

    chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk may be short; docs
    with no tokens emit nothing. One map-side explode per doc (array
    slicing of the already-split token array — the text is tokenized
    ONCE), no shuffle at all: the plan is scan → project → generate.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    ws = _nonempty_words(text_col)
    n = F.size(ws)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(float(stride))).cast("long") + 1
    )
    toks = F.slice(
        F.col("__ws"), (F.col("chunk_id").cast("int") * stride + 1), chunk_tokens
    )
    return (
        docs.select("doc_id", ws.alias("__ws"), n.alias("__n"), n_chunks.alias("__nc"))
        .filter(F.col("__n") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__nc") - 1)).alias("chunk_id"),
            F.col("__ws").alias("__ws"),
        )
        .withColumn("__toks", toks.cast("array<string>"))
        .select(
            "doc_id",
            "chunk_id",
            F.size("__toks").cast("long").alias("n_tokens"),
            F.array_join("__toks", " ").alias("chunk_text"),
        )
    )


# ------------------------------------------------------- quality filter ----

# keep-filter thresholds shared by train_filter and curate_pipeline
KEEP_MAX_PUNCT_RATIO = 0.2
KEEP_MIN_QUALITY = 0.5


def train_filter(
    docs: DataFrame,
    min_words: int = 20,
    max_punct_ratio: float = KEEP_MAX_PUNCT_RATIO,
    min_quality: float = KEEP_MIN_QUALITY,
    lang: str = "en",
    text_col: str = "text",
) -> DataFrame:
    """Composite keep/drop decision with reasons — the end of the text
    quality pipeline: language-ID + quality thresholds in one pass.

    Output: (doc_id, keep, reasons) where reasons is a comma-joined
    list of failed checks ('' when kept).

    ONE projection over one scan: the quality and
    language expressions come from the same shared definitions their
    standalone operators use (textstats.quality_expressions /
    language_scores), evaluated side by side per row — the previous
    shape ran quality_scores and language_id as two scans of the
    corpus joined back on doc_id (two exchanges + a join for columns
    of the same row). Values are identical by construction.
    """
    reasons = _filter_reasons(
        text_col,
        min_words=min_words,
        max_punct_ratio=max_punct_ratio,
        min_quality=min_quality,
        lang=lang,
    )
    return docs.select(
        "doc_id",
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


def _filter_reasons(
    text_col: str,
    min_words: int,
    max_punct_ratio: float,
    min_quality: float,
    lang: str,
) -> Column:
    """train_filter's comma-joined failed-check column as a bare
    row-local expression — shared with curate_pipeline, whose keep
    stage filters the corpus directly (`reasons == ''`) instead of
    semi-joining a separate filter frame back to it."""
    q = quality_expressions(text_col)
    _scores, lang_pred = language_scores(text_col)
    checks = [
        (lang_pred != lang, "lang"),
        (q["n_words"] < min_words, "short"),
        (q["punct_ratio"] > max_punct_ratio, "punct"),
        (q["quality_score"] < min_quality, "quality"),
    ]
    return F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for cond, name in checks]
    )


# ----------------------------------------------------- sequence packing ----

def _md5_bucket(col: Column, n_buckets: int) -> Column:
    """The packing family's bucket key: first md5 byte of the id mod
    n_buckets. ONE definition — pack_sequences, pack_sequences_strict
    and the PACKED/PACKED_STRICT oracles must stay byte-equivalent.
    """
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 2), 16, 10)
        .cast("long") % n_buckets
    )


def _md5_shard(col: Column, n_shards: int) -> Column:
    """shard_assignments' shard key as a bare expression — ONE
    definition shared with curate_pipeline, which attaches the shard as
    a row-local column instead of joining the assignment frame back to
    the corpus (the shard is content-free id hashing; only `pos` needs
    the window)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10)
        .cast("long") % n_shards
    )


_PACK_COLS = ("doc_id", "chunk_id", "bucket", "n_tokens", "pack_id")


def pack_sequences(
    chunks: DataFrame,
    max_tokens: int = 512,
    n_buckets: int = 32,
    carry: list[str] | None = None,
) -> DataFrame:
    """Assign token chunks to fixed-budget training sequences ("packs").

    Streaming first-fit in deterministic order: chunks are bucketed by
    md5(doc_id) (so the window partitions are uniform and the whole
    assignment parallelizes — a GLOBAL packing order would be a
    single-task window, the classic scale-killer), then within a bucket
    a running token total assigns each chunk to
    pack floor(tokens_before / max_tokens). A chunk may straddle a pack
    boundary by up to its own length — the standard streaming-packing
    approximation; exact bin packing is NP-hard and order-dependent.

    Everything is one window over (bucket, doc_id, chunk_id) — engine-
    reproducible (md5 bucketing, integer cumsum), no Python.

    ``carry`` threads extra chunk columns through unchanged (the
    cdc_chunks carry pattern): the assignment is a pure window-add, so
    a caller that needs pack_id NEXT TO the chunk payload (e.g.
    curate_pipeline's chunks output) can carry it row-locally instead
    of joining this frame back to the chunks corpus. Default output
    unchanged. A carried name that collides with an output column
    raises ValueError.
    """
    clash = sorted(set(carry or ()) & set(_PACK_COLS))
    if clash:
        raise ValueError(f"carry names collide with pack_sequences output: {clash}")
    bucket = _md5_bucket(F.col("doc_id"), n_buckets)
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w).cast("long")
    # explicit floor: a bare double→long CAST truncates in Spark but
    # ROUNDS in DuckDB — floor is identical in both engines
    pack = F.floor((cum - F.col("n_tokens")) / F.lit(max_tokens)).cast("long")
    return (
        chunks.withColumn("bucket", bucket)
        .withColumn("pack_id", pack)
        .select(*_PACK_COLS, *(carry or []))
    )


def pack_sequences_strict(
    chunks: DataFrame,
    max_tokens: int = 512,
    n_buckets: int = 32,
) -> DataFrame:
    """Capacity-RESPECTING sequence packing: greedy next-fit in
    deterministic (doc_id, chunk_id) order within each md5 bucket — a
    pack closes when the next chunk would overflow ``max_tokens``, so
    NO pack ever exceeds the budget (the hard cap a trainer's
    fixed-length batcher actually enforces; pack_sequences' cumsum
    splitter lets a chunk straddle the boundary and is the cheap
    approximation for loaders that re-split anyway).

    The running "reset at overflow" total is not a prefix scan (the
    reset makes it non-associative), so no built-in window expresses
    it: this is the documented Pandas-UDF case. One applyInPandas per
    bucket — Arrow-batched, parallel across the n_buckets uniform md5
    groups, O(chunks) per group; chunks with n_tokens > max_tokens get
    a pack of their own (next-fit still closes the previous pack).

    Output: (doc_id, chunk_id, bucket, n_tokens, pack_id) — the
    pack_sequences shape, so pack_efficiency reads either.
    """
    import pandas as pd

    bucket = _md5_bucket(F.col("doc_id"), n_buckets)
    keyed = chunks.select(
        "doc_id", "chunk_id", bucket.alias("bucket"), "n_tokens"
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "chunk_id"]).reset_index(drop=True)
        pack_ids, pid, fill = [], 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > max_tokens:
                pid += 1
                fill = 0
            pack_ids.append(pid)
            fill += n
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf

    return keyed.groupBy("bucket").applyInPandas(
        _pack,
        schema="doc_id long, chunk_id long, bucket long, n_tokens long, pack_id long",
    )


def pack_efficiency(
    packs: DataFrame, max_tokens: int = 512
) -> DataFrame:
    """Packing-quality report over pack_sequences output: per bucket,
    how full the training sequences actually are — the number a data
    engineer watches to size chunk/pack budgets (wasted pad tokens are
    wasted training FLOPs).

    Output per bucket: (bucket, n_chunks, n_packs, sum_tokens,
    capacity = n_packs * max_tokens, fill_ratio). fill_ratio can
    slightly exceed 1.0: a chunk may straddle its pack boundary by up
    to its own length (the documented streaming-packing approximation),
    so a pack can hold more than max_tokens.

    One map-combinable hash aggregate over (bucket); rows out = bucket
    count. No window, no second pass.
    """
    agg = packs.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.countDistinct("pack_id").cast("long").alias("n_packs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )
    cap = F.col("n_packs") * F.lit(max_tokens)
    return agg.select(
        "bucket",
        "n_chunks",
        "n_packs",
        "sum_tokens",
        cap.cast("long").alias("capacity"),
        F.round(F.col("sum_tokens") / cap, 6).alias("fill_ratio"),
    )


# ------------------------------------------------------ end-to-end curate ----

def curate_pipeline(
    docs: DataFrame,
    *,
    dedup_threshold: float = 0.8,
    min_words: int = 20,
    lang: str = "en",
    redact: bool = True,
    chunk_tokens: int = 64,
    overlap: int = 8,
    pack_tokens: int = 512,
    n_shards: int = 16,
    text_col: str = "text",
    cut_dup_spans: bool = False,
    span_words: int = 8,
    span_grain: str = "word",
    span_chars: int = 30,
    normalize: bool = False,
    c4: bool = False,
    html: bool = False,
    gopher: bool = False,
    strip_boiler: bool = False,
    boiler_min_docs: int = 3,
    source_col: str = "source",
    strict_packing: bool = False,
    model_weights: list[float] | None = None,
    model_bias: float = 0.0,
    model_threshold: float = 0.5,
    balanced_sharding: bool = False,
    with_report: bool = True,
) -> tuple[DataFrame, DataFrame, dict]:
    """The whole corpus build as one composition of the gated operators:

      [optional HTML tag-soup extraction] → [optional C4 line-grain
      page cleaning] → [optional Unicode normalization] →
      quality/language filter → [optional trained model filter] →
      MinHash near-dup dedup (keep cluster reps) → [optional
      ExactSubstr span surgery] → PII redaction → deterministic split
      → token chunking → sequence packing → shard assignment.

    ``html`` runs curation.html_to_text FIRST — markup must be gone
    before the C4 line rules (whose newline structure html_to_text
    produces from block tags) and before any word-grain statistics.

    ``model_weights`` (+ ``model_bias``, ``model_threshold``) enables
    the CCNet-style stage-two filter: documents surviving the
    heuristics are scored with quality_model.score_linear (pure
    column expressions over hash-embed features — the dim is
    len(model_weights)) and kept when score ≥ model_threshold. Train
    the weights once with quality_model.train_quality_classifier (or
    `cli quality`); the pipeline treats the model as plain data.

    ``gopher`` adds the full Gopher §A1.1 structural screens
    (curation.gopher_quality) after the heuristic quality gate.
    ``c4`` applies Raffel-style line rules and page kills BEFORE the
    document-level quality gate (single-line pages without terminal
    punctuation do not survive it — intended for corpora with real
    line structure). ``normalize`` then canonicalizes the surviving
    text (NFC + control strip + whitespace collapse —
    curation.normalize_text defaults, no accent strip / case fold so
    downstream semantics are unchanged for ASCII corpora). C4 runs
    FIRST because normalization's whitespace collapse erases the very
    line structure the C4 rules split on. ``strip_boiler`` removes
    cross-document boilerplate lines (curation.strip_boilerplate —
    requires ``source_col``) after HTML extraction and BEFORE the C4
    line rules, the CCNet ordering: recurrence is measured on raw
    extracted lines, before any per-line quality rule thins them.
    ``strict_packing`` swaps the
    cumsum straddle splitter for the capacity-respecting next-fit
    packer (no pack exceeds pack_tokens — the trainer-grade hard cap,
    at the cost of its one applyInPandas stage). All default off.

    ``cut_dup_spans`` removes duplicated runs that SURVIVE
    document-level dedup (boilerplate shared by otherwise distinct
    docs): spans are mined on the survivor set with spans of each
    text's FIRST surviving occurrence kept (min doc_id), so one copy
    of the repeated material remains in the corpus.
    ``span_grain="word"`` (default) mines ≥span_words-word shingle
    islands; ``span_grain="char"`` mines byte-exact ≥span_chars-char
    intervals (dup_char_spans — boundaries land mid-word where the
    duplication actually starts) and cuts with the char-grain surgery.

    Returns (documents, chunks, report):
      documents — doc_id, text (redacted when ``redact``), split, shard
      chunks    — train-split chunks: doc_id, chunk_id, chunk_text,
                  n_tokens, pack_id, shard
      report    — per-stage row counts; pass ``with_report=False`` to
                  skip the interim count jobs entirely (report is {})
                  when only the output frames matter (bench, pure
                  write-through runs).

    The two fan-out frames — ``kept`` (post-filter) and ``surv``
    (post-dedup) — are stage_boundary-persisted: every downstream
    branch (pair mining, span surgery's three self-references,
    redaction, split/chunk/pack) re-reads them from the columnar cache
    instead of re-running the filter/anti-join lineage per action.
    These are exactly the frames a production pipeline would write to
    storage between stages; release with util.release_persisted() after
    consuming the outputs.

    Every stage is the same operator the driver gate verifies one-by-one
    — this function adds composition, not new semantics.
    """
    from hypermap_etl_spark.operators import dedup
    from hypermap_etl_spark.operators.curation import (
        c4_clean,
        html_to_text,
        normalize_text,
    )
    from hypermap_etl_spark.util import fan_out, stage_boundary

    n_in = docs.count() if with_report else 0
    if html:
        # boundary: the 11-regexp extraction chain over full pages is
        # the scan-dominant stage — materialize once so the filter AND
        # its semi-join consumer (and C4, when on) read extracted text,
        # not re-run the chain
        docs = stage_boundary(
            html_to_text(docs, text_col=text_col, out_col=text_col),
            cut_lineage=True,
        )
    n_boiler_lines = 0
    if strip_boiler:
        if source_col not in docs.columns:
            raise ValueError(
                "curate_pipeline: strip_boiler needs the source column"
            )
        from hypermap_etl_spark.operators.curation import strip_boilerplate

        sb = stage_boundary(
            strip_boilerplate(
                docs,
                min_docs=boiler_min_docs,
                text_col=text_col,
                source_col=source_col,
            ),
            cut_lineage=True,
        )
        if with_report:
            n_boiler_lines = sb.agg(F.sum("n_dropped")).collect()[0][0] or 0
        docs = sb.select("doc_id", text_col)
    n_c4_dropped = 0
    if c4:
        # BEFORE normalize: whitespace collapse would erase the line
        # structure the C4 rules split on
        cleaned = c4_clean(docs, text_col=text_col)
        # boundary: the split/filter/array_join HOF scan would
        # otherwise re-execute for the report count AND once per
        # downstream consumer of `docs` (train_filter + the semi-join)
        docs = stage_boundary(
            cleaned.filter(F.col("page_kept")).select(
                "doc_id", F.col("clean_text").alias(text_col)
            ),
            cut_lineage=True,
        )
        if with_report:
            n_c4_dropped = n_in - docs.count()
    if normalize:
        # (doc_id, text) projection — normalization REPLACES the text
        docs = normalize_text(docs, text_col=text_col, out_col=text_col)
    # fan_out: language-ID alone is ~100 literal-replace scans over the
    # full text per row (LANG_MARKERS x count_occurrences) — on a small
    # parquet input that is ONE scan task doing all the string work
    # serially (measured 4s of the sf0.1 pipeline). At lake scale the
    # input arrives pre-split and the repartition is a no-op cost-wise.
    #
    # Filter the corpus DIRECTLY with train_filter's row-local keep
    # expression: the previous shape computed a
    # separate (doc_id, keep) frame and semi-joined it back, scanning
    # the corpus twice and paying a corpus-sized join for a per-row
    # decision. Same rows by construction (_filter_reasons is the one
    # shared definition train_filter serves).
    #
    # cut_lineage boundaries: eager materialization (so no downstream
    # branch recomputes the subtree) AND logical-plan truncation — in a
    # composition this long, per-transformation re-analysis of the full
    # upstream tree made driver-side plan construction the dominant
    # cost (~7 s of a 21 s sf0.1 run). See stage_boundary's docstring.
    reasons = _filter_reasons(
        text_col, min_words, KEEP_MAX_PUNCT_RATIO, KEEP_MIN_QUALITY, lang
    )
    kept = stage_boundary(fan_out(docs).where(reasons == ""), cut_lineage=True)
    n_kept = kept.count() if with_report else 0

    n_gopher_dropped = 0
    if gopher:
        # Gopher structural screens AFTER the heuristic quality gate
        # (same altitude: cheap per-doc rules), sharing the pipeline's
        # min_words so the two word-count gates agree
        from hypermap_etl_spark.operators.curation import gopher_quality

        gq = gopher_quality(kept, text_col=text_col, min_words=min_words)
        kept = stage_boundary(
            kept.join(
                gq.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
            ),
            cut_lineage=True,
        )
        if with_report:
            n_g = kept.count()
            n_gopher_dropped = n_kept - n_g
            n_kept = n_g

    n_model_dropped = 0
    if model_weights is not None:
        # CCNet stage two: the TRAINED filter prunes what the
        # heuristics pass; serving is pure column expressions
        # (quality_model.score_linear), so this stage adds one
        # hash-embed scan + one semi join, no Python
        from hypermap_etl_spark.operators.quality_model import score_linear

        scores = score_linear(
            kept.select("doc_id", text_col),
            model_weights,
            model_bias,
            text_col=text_col,
        )
        kept = stage_boundary(
            kept.join(
                scores.filter(F.col("score") >= model_threshold).select("doc_id"),
                "doc_id",
                "left_semi",
            ),
            cut_lineage=True,
        )
        if with_report:
            n_model_kept = kept.count()
            n_model_dropped = n_kept - n_model_kept
            n_kept = n_model_kept

    # kept is already fan_out-partitioned (the filter above runs on the
    # fanned corpus and the checkpoint preserves its partitioning), so
    # the signature pass reads it at full parallelism without the
    # extra round-robin exchange the old post-join shape needed here.
    # The optional gopher/model stages interpose semi-joins whose
    # post-AQE output can coalesce to one partition locally — re-fan
    # only then (the old comment's warning: a 1-partition input would
    # run the 128-perm min-aggregate on one core).
    refan = gopher or model_weights is not None
    pairs = dedup.minhash_dedup_pairs(
        fan_out(kept) if refan else kept, dedup_threshold, text_col=text_col
    )
    clusters = dedup.duplicate_clusters(pairs)
    surv = stage_boundary(dedup_survivors(kept, clusters), cut_lineage=True)
    n_surv = surv.count() if with_report else 0

    n_span_docs = 0
    if cut_dup_spans:
        # keep-first policy keyed on span CONTENT (the same duplicated
        # run sits at different positions in different docs): hash each
        # maximal span's text; the globally first occurrence —
        # min (doc_id, span_start) — keeps its text, every later
        # occurrence is cut. Partially-overlapping near-identical spans
        # hash apart and all survive; only exact maximal repeats cut.
        if span_grain == "char":
            spans = dedup.dup_char_spans(
                surv, min_len=span_chars, text_col=text_col
            )
            span_key = F.md5(
                F.expr(
                    f"substr(`{text_col}`, cast(span_start as int),"
                    " cast(span_end - span_start + 1 as int))"
                )
            )
        else:
            spans = dedup.dup_token_spans(surv, k=span_words, text_col=text_col)
            ws = F.split(F.lower(F.col(text_col)), " ")
            span_key = F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        ws,
                        F.col("span_start").cast("int"),
                        (F.col("span_end") - F.col("span_start") + 1).cast("int"),
                    ),
                )
            )
        sp_txt = spans.join(surv.select("doc_id", text_col), "doc_id").select(
            "doc_id", "span_start", "span_end", span_key.alias("__sh")
        )
        first = sp_txt.groupBy("__sh").agg(
            F.min(F.struct("doc_id", "span_start")).alias("__first")
        )
        to_cut = (
            sp_txt.join(first, "__sh")
            .filter(
                (F.col("doc_id") != F.col("__first.doc_id"))
                | (F.col("span_start") != F.col("__first.span_start"))
            )
            .select("doc_id", "span_start", "span_end")
        )
        if with_report:
            n_span_docs = to_cut.select("doc_id").distinct().count()
        cutter = (
            dedup.cut_char_spans if span_grain == "char" else dedup.cut_spans
        )
        n_cut_col = "n_cut_chars" if span_grain == "char" else "n_cut_words"
        surv = (
            cutter(surv, to_cut, text_col=text_col)
            .withColumnRenamed("clean_text", text_col)
            .drop(n_cut_col)
        )

    if redact:
        # row-local mask chain applied in place:
        # redact_pii is a pure projection, so joining its output back
        # to surv was a corpus-sized self-join for a per-row rewrite.
        # _pii_masked is the one shared mask definition redact_pii
        # serves — values identical.
        from hypermap_etl_spark.operators.curation import _pii_masked

        surv = surv.withColumn(text_col, _pii_masked(F.col(text_col)))

    if cut_dup_spans or redact:
        # third stage boundary: span surgery + redaction rewrite the
        # text column, and BOTH outputs (documents, chunks) plus the
        # report counts traverse the rewritten frame — without this the
        # cut/redact expressions re-execute once per consumer
        surv = stage_boundary(surv, cut_lineage=True)

    base = hash_split(surv.select("doc_id", text_col))
    if balanced_sharding:
        # token-mass-balanced shards (scale.balanced_shards): LPT
        # round-robin on the token-descending global rank — equal-WORK
        # shards for heavy-tailed length distributions, where the md5
        # assignment only balances counts
        from hypermap_etl_spark.operators.scale import balanced_shards as _bs

        from hypermap_etl_spark.operators.textstats import token_count

        weights = base.select(
            "doc_id",
            token_count(F.col(text_col)).cast("bigint").alias("__w"),
        )
        shards = _bs(weights, "__w", "doc_id", n_shards).select(
            "doc_id", "shard"
        )
        documents = base.join(shards.select("doc_id", "shard"), "doc_id")
    else:
        # the default shard is a row-local md5 bucket of doc_id —
        # attach it as a column instead of joining
        # shard_assignments' projection back to the corpus (the LPT
        # balanced variant above is a real computation and keeps its
        # join)
        shards = None
        documents = base.withColumn("shard", _md5_shard(F.col("doc_id"), n_shards))

    train = documents.filter(F.col("split") == "train")
    chunks = token_chunks(train, chunk_tokens=chunk_tokens, overlap=overlap, text_col=text_col)
    # pack_id is per-md5-bucket; the pipeline output drops the bucket
    # column, so fold it in (pack_id * n_buckets + bucket) — otherwise
    # a loader grouping by pack_id would merge unrelated sequences
    # whose buckets happen to share a pack ordinal
    if strict_packing:
        packed = pack_sequences_strict(
            chunks, max_tokens=pack_tokens, n_buckets=n_shards
        ).select(
            "doc_id",
            "chunk_id",
            (F.col("pack_id") * n_shards + F.col("bucket")).alias("pack_id"),
        )
        chunks_out = chunks.join(
            packed.select("doc_id", "chunk_id", "pack_id"), ["doc_id", "chunk_id"]
        )
    else:
        # pack_sequences is a pure window-add, so the pack id rides the
        # chunk rows via carry — no join back to the chunks frame
        # (the strict packer is an applyInPandas stage; carrying
        # chunk_text through Python would violate guide §4.1, so it
        # keeps the thin-frame join)
        chunks_out = pack_sequences(
            chunks,
            max_tokens=pack_tokens,
            n_buckets=n_shards,
            carry=["chunk_text"],
        ).select(
            "doc_id",
            "chunk_id",
            "n_tokens",
            "chunk_text",
            (F.col("pack_id") * n_shards + F.col("bucket")).alias("pack_id"),
        )
    if shards is not None:
        chunks_out = chunks_out.join(shards.select("doc_id", "shard"), "doc_id")
    else:
        chunks_out = chunks_out.withColumn(
            "shard", _md5_shard(F.col("doc_id"), n_shards)
        )
    report = (
        {
            "docs_in": n_in,
            "boilerplate_lines": n_boiler_lines,
            "dropped_c4": n_c4_dropped,
            "dropped_quality": n_in - n_c4_dropped - n_kept
                               - n_model_dropped - n_gopher_dropped,
            "dropped_gopher": n_gopher_dropped,
            "dropped_model": n_model_dropped,
            "dropped_dups": n_kept - n_surv,
            "span_cut_docs": n_span_docs,
            "docs_out": n_surv,
            "train_docs": train.count(),
            "chunks": chunks_out.count(),
        }
        if with_report
        else {}
    )
    return documents, chunks_out, report


# ------------------------------------------------------ vocabulary build ----

def vocab_table(docs: DataFrame, top_k: int = 500, text_col: str = "text") -> DataFrame:
    """Corpus term-frequency vocabulary (the BPE/WordPiece prep step):
    top_k terms by total count, totally tie-broken (count desc, term
    asc), with rank and cumulative coverage share.

    Scale shape: explode → ONE map-combinable hash aggregation keyed by
    term → global top-k via TakeOrderedAndProject (bounded per-partition
    heaps, no full sort). The cumulative share is a window over the
    top_k survivors only — driver-scale rows, not corpus-scale.
    """
    from pyspark.sql.window import Window

    terms = docs.select(F.explode(_nonempty_words(text_col)).alias("term"))
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    top = (
        counts.orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(top_k)
    )
    w = (
        Window.orderBy(F.col("n").desc(), F.col("term").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("cum_share", F.round(F.sum("n").over(w) / F.col("t"), 6))
        .select("term", F.col("n").cast("long").alias("n"), "rank", "cum_share")
    )


def ngram_table(
    docs: DataFrame, n: int = 2, top_k: int = 300, text_col: str = "text"
) -> DataFrame:
    """Corpus word n-gram frequency table (tokenizer-merge / collocation
    prep): top_k n-grams by total count, totally tie-broken (count
    desc, gram asc) with rank — the multi-token counterpart of
    vocab_table, sharing its scale shape: explode → one map-combinable
    hash aggregate keyed by gram → TakeOrderedAndProject top-k
    (bounded per-partition heaps, no corpus-scale sort). Shingling is
    the O(words) zip_with form (textstats.word_shingles)."""
    from hypermap_etl_spark.operators.textstats import word_shingles
    from pyspark.sql.window import Window

    grams = docs.select(
        F.explode(word_shingles(F.lower(F.col(text_col)), n)).alias("gram")
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("gram").asc()).limit(top_k)
    w = Window.orderBy(F.col("n").desc(), F.col("gram").asc())
    return top.select(
        "gram",
        F.col("n").cast("long").alias("n"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


# ------------------------------------------------------------ source mix ----

def source_mix(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-(source, lang) corpus composition: document and token counts
    plus each cell's token share of the whole corpus — the numbers a
    data-mixing/weighting decision reads.

    One hash aggregation over low-cardinality keys + a broadcast of the
    single-row total; no skew concern (group count is bounded by
    |sources|×|langs|, the aggregation is map-combined).
    """
    base = docs.select(
        "source", "lang", F.size(_nonempty_words(text_col)).alias("n_toks")
    )
    agg = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    total = agg.agg(F.sum("n_tokens").alias("t"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("t"), 6).alias("token_share"),
        )
    )


# --------------------------------------------------------- shard writing ----

def shard_assignments(
    docs: DataFrame, n_shards: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic training-shard assignment: shard = md5-bucket of
    the id, position = rank of the id hash within its shard — the
    reproducible global shuffle a training run reads (sharded files,
    shuffled within and across shards by a content-free hash).

    A single GLOBAL shuffle order would be one row_number window over
    one task — the classic driver-melting plan. Sharding first makes it
    n_shards independent windows that all run in parallel, which is
    exactly how sharded dataset writers lay out files anyway.
    """
    from pyspark.sql.window import Window

    key = F.md5(F.col(id_col).cast("string"))
    shard = _md5_shard(F.col(id_col), n_shards)
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        docs.select(
            F.col(id_col),
            shard.alias("shard"),
            key.alias("shuffle_key"),
        )
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select(id_col, "shard", "pos")
    )


# --------------------------------------------------- stratified sampling ----

def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the rebalancing step of
    corpus curation (e.g. cap an over-represented language).

    Row is kept iff its md5 bucket (256 uniform buckets, same content-
    free hash as hash_split) falls below ceil(rate*256); the realized
    rate is the nearest 1/256 step, documented rather than hidden.
    Purely per-row — no shuffle, no sampleBy nondeterminism (Spark's
    sampleBy draws from a seeded RNG over partition order, which
    changes with the split layout; the hash is layout-independent).
    """
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)

    def keep_for(rate: float) -> Column:
        import math

        k = min(256, max(0, math.ceil(rate * 256)))
        # rate 1.0 / 0.0 must be literal booleans: a 2-char hex bucket
        # compared against '100' would sort LEXICOGRAPHICALLY ('ff' >
        # '100') and silently drop most rows
        if k >= 256:
            return F.lit(True)
        if k == 0:
            return F.lit(False)
        return bucket < F.lit(f"{k:02x}")

    cond = None
    for value, rate in sorted(rates.items()):
        c = F.col(strata_col) == value
        cond = F.when(c, keep_for(rate)) if cond is None else cond.when(c, keep_for(rate))
    keep = cond.otherwise(keep_for(default_rate)) if cond is not None else keep_for(default_rate)
    return docs.filter(keep)


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    k: int = 100,
    id_col: str = "doc_id",
    n_salts: int = 32,
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of k rows —
    P(row in sample) proportional to its weight (Efraimidis-Spirakis
    A-ES, 2006): every row gets key = ln(u)/w for a uniform u and the
    k largest keys win. Upweighted curation uses this to pull a
    quality- or length-biased subcorpus in ONE pass — no per-stratum
    rate table, no rejection loop.

    u is the row id's md5 fraction shifted into (0, 1] ((h+1)/2^32 —
    u=0 would hit ln(0), which Spark NULLs and DuckDB -infs), so the
    draw is layout-independent and engine-reproducible; ln keeps A-ES'
    u^(1/w) ordering (ln is monotone; both engines evaluate IEEE
    doubles) without pow's overflow corners at tiny weights.

    Scale shape: map-side key projection, then the same two-stage
    top-k as kmv_distinct — stage 1 keeps k per deterministic salt
    cell (parallel), stage 2 merges <= n_salts*k survivors on one
    small task. No global sort of the corpus, no driver collect.
    Non-positive / NULL weights are excluded (A-ES is undefined
    there), matching the oracle's WHERE w > 0.
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    u = (
        (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("double")
            + F.lit(1.0)
        )
        / F.lit(float(1 << 32))
    )
    keyed = (
        docs.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__key", F.log(u) / F.col(weight_col).cast("double"))
        .withColumn("__salt", F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_salts)))
    )
    w1 = Window.partitionBy("__salt").orderBy(F.desc("__key"), F.col(id_col))
    stage1 = (
        keyed.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    w2 = Window.partitionBy().orderBy(F.desc("__key"), F.col(id_col))
    return (
        stage1.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .select(*docs.columns)
    )


def temperature_mix(
    docs: DataFrame,
    temperature: float = 2.0,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based corpus rebalancing (the mT5/XLM-R mixing rule):
    target share per stratum q_s ∝ n_s^(1/T) — T=1 keeps the natural
    mix, T→∞ pushes uniform. stratified_sample takes externally-chosen
    rates; this derives them FROM the corpus.

    Filter-only (no upsampling): the output size is the largest N with
    no stratum oversampled, N = min_s n_s/q_s, giving per-stratum keep
    fraction q_s·N/n_s (=1 for the binding stratum). A row is kept iff
    its layout-independent md5 fraction of the id falls below its
    stratum's fraction — deterministic, engine-reproducible, same hash
    family as hash_split/stratified_sample.

    Scale: one map-combined count per stratum, two broadcast
    single-row folds (Σ weights, min ratio), then a broadcast join of
    the |strata|-row fraction table into a map-side filter. The corpus
    never shuffles.
    """
    counts = docs.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__n"))
    weighted = counts.withColumn(
        "__w", F.pow(F.col("__n").cast("double"), F.lit(1.0 / temperature))
    )
    tot = weighted.agg(F.sum("__w").alias("__tw"))
    q = weighted.crossJoin(F.broadcast(tot)).withColumn(
        "__q", F.col("__w") / F.col("__tw")
    )
    nout = q.agg(F.min(F.col("__n") / F.col("__q")).alias("__nout"))
    fracs = (
        q.crossJoin(F.broadcast(nout))
        .select(
            stratum_col,
            F.least(
                F.lit(1.0), F.col("__q") * F.col("__nout") / F.col("__n")
            ).alias("__keep_frac"),
        )
    )
    frac = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(1 << 32))
    )
    return (
        docs.join(F.broadcast(fracs), stratum_col)
        .filter(frac < F.col("__keep_frac"))
        .select(*docs.columns, F.round("__keep_frac", 6).alias("keep_frac"))
    )


def sentence_chunks(
    docs: DataFrame,
    max_tokens: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-boundary-respecting chunking: greedily pack WHOLE
    sentences (curation.split_sentences' terminal-punct rule) into
    chunks of <= ``max_tokens`` whitespace tokens — the
    context-window prep that never cuts mid-sentence, trading exact
    fill for trainable coherence (token_chunks is the exact-budget
    sibling). A single sentence longer than the budget gets a chunk
    of its own (splitting it would defeat the operator's contract).

    Output: (id, chunk_id, chunk_text, n_tokens, n_sentences);
    sentence order is preserved, chunk_ids are 0-based and dense;
    docs with no sentences emit nothing.

    Scale shape: ZERO shuffles — the greedy next-fit walk is a JVM
    ``aggregate`` fold over the sentence array (sequential by nature,
    but per-ROW sequential: every document folds independently
    map-side), and chunks are reassembled in the same projection with
    a transform/filter over the assignment vector (O(sentences x
    chunks) per doc, pure CPU). The whole operator is one scan ->
    project; compare pack_sequences_strict, whose cross-doc packing
    genuinely needs its applyInPandas stage.
    """
    from hypermap_etl_spark.operators.curation import split_sentences

    if max_tokens < 1:
        raise ValueError("sentence_chunks: max_tokens must be >= 1")
    sents = split_sentences(F.col(text_col))
    counts = F.transform(
        sents,
        lambda s: F.size(F.filter(F.split(s, " "), lambda w: w != F.lit(""))),
    )
    acc0 = F.struct(
        F.lit(-1).cast("int").alias("idx"),
        F.lit(0).cast("int").alias("cur"),
        F.array().cast("array<int>").alias("ids"),
    )

    def step(acc, n):
        start_new = (acc["idx"] == F.lit(-1)) | (
            (acc["cur"] > F.lit(0)) & (acc["cur"] + n > F.lit(max_tokens))
        )
        new_idx = F.when(start_new, acc["idx"] + 1).otherwise(acc["idx"])
        new_cur = F.when(start_new, n).otherwise(acc["cur"] + n)
        return F.struct(
            new_idx.cast("int").alias("idx"),
            new_cur.cast("int").alias("cur"),
            F.concat(acc["ids"], F.array(new_idx.cast("int"))).alias("ids"),
        )

    base = docs.select(
        F.col(id_col),
        sents.alias("__s"),
        F.aggregate(counts, acc0, step).alias("__f"),
    ).filter(F.size("__s") > 0)

    def chunk_struct(k):
        members = F.filter(
            F.arrays_zip(F.col("__s").alias("s"), F.col("__f.ids").alias("i")),
            lambda p: p["i"] == k,
        )
        texts = F.transform(members, lambda p: p["s"])
        return F.struct(
            k.cast("long").alias("chunk_id"),
            F.array_join(texts, " ").alias("chunk_text"),
            F.aggregate(
                F.transform(
                    texts,
                    lambda s: F.size(
                        F.filter(F.split(s, " "), lambda w: w != F.lit(""))
                    ),
                ),
                F.lit(0).cast("long"),
                lambda a, b: a + b,
            ).alias("n_tokens"),
            F.size(members).cast("long").alias("n_sentences"),
        )

    chunks = F.transform(
        F.sequence(F.lit(0), F.col("__f.idx")), chunk_struct
    )
    return base.select(
        id_col, F.explode(chunks).alias("__c")
    ).select(id_col, "__c.*")


def epoch_plan(
    per_source: DataFrame,
    budget_tokens: float,
    source_col: str = "source",
    tokens_col: str = "tokens",
    cap_col: str = "max_epochs",
) -> DataFrame:
    """Token-budget allocation across sources with per-source epoch
    caps — the data-recipe waterfill (the LLaMA-style "web sees ~1
    epoch, books/code several" planner).

    Solves for the waterline t ≥ 0 with Σ_s min(c_s·t, c_s·e_s) =
    budget (c_s = source tokens, e_s = its epoch cap): every source
    repeats t epochs except those capped below the line. Closed form,
    no iteration: sort sources by cap ascending; for each prefix k of
    capped sources the candidate line is
    t_k = (budget − Σ_{i≤k} c_i·e_i) / Σ_{i>k} c_i, valid exactly when
    it lands inside [e_k, e_{k+1}]; the segments partition the budget
    axis so exactly one candidate is valid (the min guards boundary
    ties). A budget beyond total capacity saturates at t = max e.

    Emits per source: tokens, max_epochs, epochs = min(t, e_s) and
    alloc_tokens = c_s·epochs, both rounded 6 dp at the edge.

    Scale shape: the input is the per-source AGGREGATE (model-sized —
    tens of sources for a 100 TB corpus), so the ordered cumulative
    window here is a deliberate small-frame exception, same class as
    the vocab windows above; the corpus-sized work (token counting)
    happened in the caller's one hash aggregate. Downstream, the
    epochs column drives weighted_sample / cap_per_source rates.
    """
    from pyspark.sql.window import Window

    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    w = Window.orderBy(F.col("e").asc(), F.col(source_col).asc())
    d = per_source.select(
        source_col,
        F.col(tokens_col).cast("double").alias("c"),
        F.col(cap_col).cast("double").alias("e"),
    )
    d = (
        d.withColumn("cum_ce", F.sum(F.col("c") * F.col("e")).over(w))
        .withColumn("cum_c", F.sum("c").over(w))
        .withColumn("prev_e", F.coalesce(F.lag("e").over(w), F.lit(0.0)))
    )
    totals = d.groupBy().agg(
        F.sum(F.col("c") * F.col("e")).alias("total_ce"),
        F.sum("c").alias("total_c"),
        F.max("e").alias("max_e"),
    )
    d = d.join(F.broadcast(totals))
    # candidate line per row: everything STRICTLY before this row (in
    # cap order) is capped; this row and later float at t. try_divide:
    # a zero-token tail source makes the divisor 0 under ANSI mode, and
    # its NULL candidate simply fails the validity filter (a 0-token
    # source never constrains the waterline).
    cand = F.try_divide(
        F.lit(float(budget_tokens)) - (F.col("cum_ce") - F.col("c") * F.col("e")),
        F.col("total_c") - (F.col("cum_c") - F.col("c")),
    )
    valid = d.select(
        F.when(
            (cand >= F.col("prev_e")) & (cand <= F.col("e")), cand
        ).alias("t")
    ).agg(F.min("t").alias("t"))
    line = (
        F.broadcast(valid)
        .crossJoin(F.broadcast(totals))
        .select(
            F.when(
                F.lit(float(budget_tokens)) >= F.col("total_ce"),
                F.col("max_e"),
            )
            .otherwise(F.col("t"))
            .alias("t")
        )
    )
    return (
        per_source.select(
            source_col,
            F.col(tokens_col).cast("double").alias("tokens"),
            F.col(cap_col).cast("double").alias("max_epochs"),
        )
        .join(F.broadcast(line))
        .select(
            source_col,
            "tokens",
            "max_epochs",
            F.round(F.least(F.col("t"), F.col("max_epochs")), 6).alias(
                "epochs"
            ),
            F.round(
                F.col("tokens") * F.least(F.col("t"), F.col("max_epochs")), 6
            ).alias("alloc_tokens"),
        )
    )


def apportion(
    per_group: DataFrame,
    total: int,
    group_col: str = "source",
    weight_col: str = "weight",
) -> DataFrame:
    """Integer sample-size allocation by the largest-remainder method
    (Hamilton apportionment): split an EXACT total of ``total`` items
    across groups proportionally to weights — the integer complement
    of epoch_plan's continuous waterfill (an eval-set builder needs
    "exactly 10,000 docs, proportional to source sizes", and naive
    rounding of quotas over- or under-shoots by up to |groups|/2).

    quota = total·w/Σw; every group gets floor(quota); the leftover
    seats go one each to the largest fractional remainders (ties:
    group ascending — fully deterministic). Σ alloc == total exactly,
    and each alloc is within 1 of its real quota (the method's
    defining property).

    Scale shape: the input is the per-group AGGREGATE (model-sized);
    one broadcast totals join, one ordered window over |groups| rows.
    Zero/negative weights allocate 0 — leftovers go only to rows with
    a positive fractional remainder, so a degenerate all-zero-weight
    input allocates 0 everywhere (the total is unallocatable) rather
    than spraying seats across weightless groups.
    """
    from pyspark.sql.window import Window

    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    d = per_group.select(
        group_col, F.col(weight_col).cast("double").alias("w")
    )
    tw = d.agg(F.sum(F.when(F.col("w") > 0, F.col("w"))).alias("tw"))
    q = d.join(F.broadcast(tw)).select(
        group_col,
        "w",
        F.when(
            (F.col("w") > 0) & (F.col("tw") > 0),
            F.lit(float(total)) * F.col("w") / F.col("tw"),
        )
        .otherwise(F.lit(0.0))
        .alias("quota"),
    )
    q = q.withColumn("base", F.floor(F.col("quota")).cast("bigint"))
    q = q.withColumn("frac", F.col("quota") - F.col("base"))
    leftover = q.agg(
        (F.lit(total) - F.sum("base")).cast("bigint").alias("r")
    )
    w_rank = Window.orderBy(F.col("frac").desc(), F.col(group_col).asc())
    return (
        q.join(F.broadcast(leftover))
        .withColumn("__rk", F.row_number().over(w_rank))
        .select(
            group_col,
            F.col("w").alias("weight"),
            F.round("quota", 6).alias("quota"),
            (
                F.col("base")
                + F.when(
                    (F.col("__rk") <= F.col("r")) & (F.col("frac") > 0),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("alloc"),
        )
    )
