"""Similarity search over embedding columns.

Embeddings are `array<float>`; all kernels cast to double and use
zip_with/aggregate HOFs — JVM-evaluated, no Python on the hot path.

In-memory top-k, each returning (query_id, neighbor_id, sim, rank):

  brute_force_topk   exact cosine top-k: the correctness baseline.
                     Query side is small (sampled) and broadcast; the
                     corpus side streams — no shuffle of the big side.
  lsh_topk(_banded)  sign-random-projection buckets (deterministic
                     md5-derived hyperplanes): each query only scores
                     its buckets' corpus slice.
  ivf_topk           inverted lists around deterministic centroids;
                     each query probes its n_probe nearest lists.
  quantized_topk     coarse scan over int8 / product-quantized
  pq_topk            reconstructions, exact rescore of the candidates.

The persisted ANN index, ivf_index_write / search / append / compact /
stats: a centroid table plus inverted lists stored as ``cid=``
partition directories, so a search reads only its probed lists. Two
code types, chosen at build time and read back from the index:

  flat   lists hold the raw vectors (neighbor_id, cv, cn)
  PQ     lists hold product-quantization codes (neighbor_id, codes)
         against a codebooks.parquet beside the centroids; one list
         is the full-scan PQ index

Also here: near-duplicate pairs (cosine_neardup_pairs,
srp_neardup_pairs), kNN label vote, k-means and semdedup, PCA and JL
projections, and recall evaluators (topk_recall,
truncated_topk_recall).

Determinism: similarities are rounded to 6 dp and ranked by
(rounded sim desc, vec_id asc) so results are reproducible across
engines for the DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hypermap_etl_spark.util import fan_out, tracked_persist


def _vd(col) -> Column:
    return F.col(col).cast("array<double>")


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Precompute the L2 norm once per vector."""
    v = _vd(vec_col)
    return emb.withColumn(
        "__norm",
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)),
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Zero-norm-safe cosine (ANSI mode would raise on divide-by-zero;
    convention: similarity to a zero vector is 0)."""
    denom = norm_a * norm_b
    return F.when(denom != 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail for every ANN variant: rank scored
    (query_id, neighbor_id, sim) candidates per query by
    (sim desc, neighbor_id asc) — ONE tie-break definition, so a
    change here (rounding, ordering) cannot silently diverge between
    the exact, bucketed, banded, and IVF paths."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _sim() -> Column:
    """Rounded cosine of the query columns (qv, qn) against the
    candidate columns (cv, cn) — every top-k path's score."""
    return F.round(
        cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
    ).alias("sim")


def _query_rows(nq: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(query_id, qv, qn) from a with_norm'd query frame."""
    return nq.select(
        F.col(id_col).alias("query_id"),
        _vd(vec_col).alias("qv"),
        F.col("__norm").alias("qn"),
    )


def _score(pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, sim) of joined query and candidate rows:
    self-matches dropped, one row per pair — a vector stored twice
    scores once."""
    return (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _sim())
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def _rescore(
    cand: DataFrame, q: DataFrame, raw: DataFrame, k: int, vec_col: str, id_col: str
) -> DataFrame:
    """Exact re-rank of a candidate top-list (the FAISS refine stage):
    each (query_id, neighbor_id) candidate re-scored against the raw
    vectors of ``raw``, the exact-k ranking returned. Joins only
    queries × candidates rows."""
    exact = with_norm(fan_out(raw), vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        _vd(vec_col).alias("cv"),
        F.col("__norm").alias("cn"),
    )
    rescored = (
        cand.select("query_id", "neighbor_id")
        .join(q, "query_id")
        .join(exact, "neighbor_id")
        .select("query_id", "neighbor_id", _sim())
    )
    return _rank_topk(rescored, k)


def brute_force_topk(
    emb: DataFrame,
    k: int = 5,
    query_filter: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    allow_full_scan: bool = False,
) -> DataFrame:
    """Exact cosine top-k for each query vector against the corpus.

    queries ⨉ corpus via broadcast of the (small) query side; ranking by
    (rounded sim desc, id asc) inside a window keyed by query id.

    Without a ``query_filter`` every vector is a query — an N² score
    matrix. That's a deliberate choice on a small corpus, never an
    accident, so it must be opted into with ``allow_full_scan=True``;
    at scale use lsh_topk/ivf_topk instead.
    """
    if query_filter is None and not allow_full_scan:
        raise ValueError(
            "brute_force_topk without query_filter scores the full N x N "
            "matrix; pass query_filter or opt in with allow_full_scan=True "
            "(or use lsh_topk / ivf_topk at scale)"
        )
    nemb = with_norm(fan_out(emb), vec_col)
    q = nemb.filter(query_filter) if query_filter is not None else nemb
    c = nemb.select(
        F.col(id_col).alias("neighbor_id"),
        _vd(vec_col).alias("cv"),
        F.col("__norm").alias("cn"),
    )
    scored = (
        F.broadcast(_query_rows(q, vec_col, id_col))
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _sim())
    )
    return _rank_topk(scored, k)


def cosine_neardup_pairs(
    emb: DataFrame, threshold: float = 0.45, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact).

    O(n²) scoring — correct baseline; at corpus scale use lsh_topk's
    bucketing to restrict candidate generation first.
    """
    nemb = with_norm(fan_out(emb), vec_col).select(
        F.col(id_col).alias("id"), _vd(vec_col).alias("v"), F.col("__norm").alias("n")
    )
    sim = F.round(
        cosine(F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n")), 6
    ).alias("sim")
    return (
        nemb.alias("a")
        .join(nemb.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), sim)
        .filter(F.col("sim") >= threshold)
    )


def srp_banding(
    threshold: float, target_miss: float = 1e-6, max_planes: int = 512
) -> tuple[int, int]:
    """Pick (band_bits r, n_bands b) for banded sign-random-projection.

    Two SRP bits agree for a pair at angle θ with p = 1 - θ/π; a pair
    collides in a band of r bits with p^r and is missed by all b bands
    with (1-p^r)^b. Given the verify step makes precision exact, recall
    is the only knob: choose b = ceil(ln(1/target_miss) / -ln(1-p^r))
    and take the largest r whose plane budget r*b fits max_planes —
    larger r prunes harder (random-pair band collision is ~2^-r).

    At tight thresholds (≥0.8) this yields real pruning (e.g. t=0.9 →
    r=8, b=41: ~6x fewer candidates than exhaustive). At weak
    thresholds (the gate's adversarial 0.45 → r=4, b=72) near-all
    pairs become candidates — the cost of recall≈1 that close to
    orthogonal — but the plan stays an equi-join, never a cartesian.
    """
    import math

    p = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
    # degenerate thresholds (±1.0 → p ∈ {0, 1}) would hit log(0) /
    # division by zero below; clamp p into the open interval — banding
    # is meaningless that close to identical/antipodal anyway
    p = min(1.0 - 1e-9, max(1e-9, p))
    need = math.log(1.0 / target_miss)
    best = None
    for r in range(2, 17):
        b = max(1, int(math.ceil(need / -math.log1p(-(p**r)))))
        if best is None or r * b <= max_planes:
            best = (r, b)
    if best[0] * best[1] > max_planes:
        # even r=2 exceeds the plane budget (p≈0): cap the bands — the
        # recall target is unreachable within budget, degrade explicitly
        best = (best[0], max(1, max_planes // best[0]))
    return best


def _srp_bands_udf(planes: list[list[float]], r: int, b: int):
    """Arrow-batched band computation: the r*b sign projections are one
    numpy matmul per batch, then bits fold to per-band ints.

    A column-expression formulation (transform/aggregate/zip_with over a
    plane literal) evaluates the lambda per element interpreted — ~40x
    slower measured at 284 planes. The matmul is the textbook
    vectorized-Pandas-UDF case; planes ship once in the UDF closure.
    """
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64).T  # dim x (r*b)
    weights = 1 << np.arange(r - 1, -1, -1)

    @pandas_udf("array<int>")
    def srp_bands(vecs: pd.Series) -> pd.Series:
        V = np.vstack(vecs.to_numpy()).astype(np.float64)  # n x dim
        bits = (V @ P) > 0  # n x (r*b)
        vals = bits.reshape(len(V), b, r) @ weights  # n x b
        return pd.Series(list(vals.astype(np.int32)))

    return srp_bands


def srp_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    target_miss: float = 1e-6,
    max_planes: int = 512,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Near-duplicate pairs via banded-SRP blocking + exact cosine verify.

    The MinHash-LSH pattern (operators/dedup.py) applied to embeddings:

      1. signature: r*b deterministic hyperplane sign bits per vector
         (one Arrow-batched numpy matmul — see _srp_bands_udf),
      2. banding: b bands of r bits, band value = folded bit int,
      3. candidates: equi-join on (band, value) with id_a < id_b —
         shuffle-partitioned by band value, linear in corpus size at
         pruning-friendly thresholds; NEVER an O(n²) cartesian plan,
      4. verify: re-join the two vectors by id and keep exact
         cosine ≥ threshold (precision exact; recall 1-target_miss by
         the srp_banding math, empirically 1.0 on the gate fixtures).

    Replaces cosine_neardup_pairs (kept as the oracle baseline) as the
    shipped emb_neardup operator.
    """
    r, b = srp_banding(threshold, target_miss, max_planes)
    planes = _hyperplanes(dim, r * b)
    nemb = with_norm(fan_out(emb), vec_col).select(
        F.col(id_col).alias("id"), _vd(vec_col).alias("v"), F.col("__norm").alias("n")
    )
    # band values are consumed by both join sides — cache so the UDF
    # runs once per vector (at scale this is a written artifact)
    sigs = tracked_persist(
        nemb.withColumn("bands", _srp_bands_udf(planes, r, b)(F.col("v")))
    )
    banded = sigs.select(
        "id", F.posexplode("bands").alias("band", "val")
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = sigs.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = sigs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    sim = F.round(cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6).alias("sim")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim)
        .filter(F.col("sim") >= threshold)
    )


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — reproducible
    across runs/clusters with no RNG state."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"pl{p}_{d}".encode()).hexdigest()[:8], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id (one bit per plane)."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(x) for x in plane]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    query_filter: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only within the query's SRP bucket.

    2^n_planes buckets shrink each query's candidate set ~2^n_planes-fold;
    the bucket join is an equi-join (shuffle on bucket id), so total work
    scales linearly in corpus size instead of quadratically. Recall is
    approximate by design — the exact variant is the oracle baseline.
    """
    planes = _hyperplanes(dim, n_planes)
    nemb = with_norm(fan_out(emb), vec_col).withColumn("bucket", lsh_bucket(_vd(vec_col), planes))
    q = nemb.filter(query_filter) if query_filter is not None else nemb
    q = q.select(
        F.col(id_col).alias("query_id"),
        _vd(vec_col).alias("qv"),
        F.col("__norm").alias("qn"),
        "bucket",
    )
    c = nemb.select(
        F.col(id_col).alias("neighbor_id"),
        _vd(vec_col).alias("cv"),
        F.col("__norm").alias("cn"),
        "bucket",
    )
    sim = F.round(cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6).alias("sim")
    scored = (
        q.join(c, ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim)
    )
    return _rank_topk(scored, k)


def lsh_topk_banded(
    emb: DataFrame,
    k: int = 5,
    r: int = 4,
    b: int = 16,
    dim: int = 64,
    query_filter: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k with OR-amplified (banded) SRP candidates —
    the recall-tunable scale path.

    ``lsh_topk``'s single 2^n_planes bucket prunes hardest but a true
    neighbor must agree on EVERY plane sign to be found (recall ~10%
    on the 64-dim gate fixtures). Banding flips the failure mode:
    b bands of r bits each, a candidate only needs to match ONE whole
    band (miss probability (1-p^r)^b — the srp_banding math), then
    candidates are scored exactly and ranked. Same construction as
    srp_neardup_pairs, specialized to per-query top-k.

    Scale shape: signatures are one Arrow matmul per batch; the
    candidate step is an equi-join on (band, value) — shuffle
    partitioned by band value, linear in corpus size, never a
    cartesian; per-query candidate sets stay ~b·n/2^r.
    """
    planes = _hyperplanes(dim, r * b)
    nemb = with_norm(fan_out(emb), vec_col)
    is_q = (query_filter if query_filter is not None else F.lit(True)).alias(
        "is_q"
    )
    sigs = tracked_persist(
        nemb.select(
            F.col(id_col).alias("id"),
            _vd(vec_col).alias("v"),
            F.col("__norm").alias("n"),
            _srp_bands_udf(planes, r, b)(_vd(vec_col)).alias("bands"),
            is_q,
        )
    )
    banded = sigs.select("id", "is_q", F.posexplode("bands").alias("band", "val"))
    qb = banded.filter("is_q").select(
        F.col("id").alias("query_id"), "band", "val"
    )
    cand = (
        qb.join(
            banded.select(F.col("id").alias("neighbor_id"), "band", "val"),
            ["band", "val"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = sigs.filter("is_q").select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n").alias("qn"),
    )
    cv = sigs.select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("n").alias("cn"),
    )
    sim = F.round(
        cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
    ).alias("sim")
    scored = cand.join(qv, "query_id").join(cv, "neighbor_id").select(
        "query_id", "neighbor_id", sim
    )
    return _rank_topk(scored, k)


def topk_recall(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Mean recall@k of an approximate top-k result against the exact
    one: a single (n_queries, recall) row.

    Queries come from the EXACT side (an approx method that returns no
    rows for a query scores 0, not "absent"); hits are the intersection
    of (query_id, neighbor_id) pairs. Both inputs are small top-k
    frames (≤ queries·k rows), so the join is cheap at any corpus
    scale.
    """
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    hits = e.join(a, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__h")
    )
    per_q = (
        e.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            (F.coalesce(F.col("__h"), F.lit(0)) / F.lit(float(k))).alias("__r")
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("__r"), 4).alias("recall"),
    )


def _pick_centroids(nemb: DataFrame, n_centroids: int, vec_col: str, id_col: str):
    """Deterministic centroid pick shared by ivf_topk and the persisted
    index: the vector whose id ranks first in each of n_centroids
    uniform hash buckets — a k-means init without refinement. Returns
    driver-side [(cid, vector, norm)] (n_centroids x dim, model-sized).

    A min_by aggregate keyed by id, not a row_number window: the window
    would shuffle the WHOLE corpus into n_centroids partitions and sort
    each just to keep one row per bucket, while min_by combines
    map-side, so the exchange carries ≤ n_centroids partial rows per
    task and nothing sorts. Identical pick: ids are unique, so
    argmin-by-id IS the rank-1 row.
    """
    rows = (
        nemb.withColumn(
            "__cb", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_centroids))
        )
        .groupBy("__cb")
        .agg(
            F.min_by(
                F.struct(_vd(vec_col).alias("cv"), F.col("__norm").alias("cn")),
                F.col(id_col),
            ).alias("__m")
        )
        .select(
            F.col("__cb").alias("cid"),
            F.col("__m.cv").alias("cv"),
            F.col("__m.cn").alias("cn"),
        )
        .collect()
    )
    return [(int(r["cid"]), list(r["cv"]), float(r["cn"])) for r in rows]


def _model_df(spark, rows, schema: str) -> DataFrame:
    """Driver-side model-sized tables (centroids, codebooks) as ONE
    parallelize slice. createDataFrame's default split spreads a
    handful of rows over defaultParallelism Python-RDD slices; any
    later coalesce(1) then computes all those slices SEQUENTIALLY in
    one task, paying one Python-worker round trip EACH (~180 ms x 32
    measured, ~6 s of an sf0.1 index build). One slice = one round
    trip and one output file, no coalesce needed."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def _nearest_centroids(cent, vec: Column, norm: Column, n: int) -> Column:
    """ids of the n nearest centroids (broadcast literals) as an array
    column — the probe-selection expression, evaluated JVM-side."""
    sims = F.array(
        *[
            F.struct(
                cosine(
                    vec, F.array(*[F.lit(x) for x in cv]), norm, F.lit(cn)
                ).alias("s"),
                F.lit(cid).alias("cid"),
            )
            for cid, cv, cn in cent
        ]
    )
    top = F.slice(F.reverse(F.array_sort(sims)), 1, n)
    return F.transform(top, lambda t: t["cid"])


def _probes(q: DataFrame, cent, n_probe: int) -> DataFrame:
    """Query rows exploded to one row per probed list (cid)."""
    return q.withColumn(
        "cid",
        F.explode(_nearest_centroids(cent, F.col("qv"), F.col("qn"), n_probe)),
    )


def _list_rows(nemb: DataFrame, cent, books, vec_col: str, id_col: str) -> DataFrame:
    """One inverted-list row per vector: neighbor_id, the list payload
    — the raw vector and its norm (cv, cn) for a flat index, the PQ
    codes for a PQ one (``books`` set) — and the nearest centroid's
    cid. Build, append and ivf_topk share it, so an appended row is
    assigned and coded exactly like a built one."""
    vec = _vd(vec_col)
    payload = (
        [vec.alias("cv"), F.col("__norm").alias("cn")]
        if books is None
        else [_pq_codes(books, vec).alias("codes")]
    )
    return nemb.select(
        F.col(id_col).alias("neighbor_id"),
        *payload,
        _nearest_centroids(cent, vec, F.col("__norm"), 1).getItem(0).alias("cid"),
    )


def _write_lists(rows: DataFrame, path: str, files_per_list: int, mode: str) -> None:
    """Write list rows into the ``cid=`` directories, clustered by list.
    The assignment runs map-side at full scan parallelism, but writing
    from those tasks leaves one file per task per touched list
    (measured 256 files for an 8-list sf0.1 index — pure open/footer
    overhead for every probe scan, and each unclustered append added
    ~tasks more per list). One exchange keyed by (cid, salt) bounds it
    to files_per_list files per list; the salt derives from the row id,
    never rand(), so a retried task reproduces the layout.
    files_per_list=1 is right while a list fits one task's write; raise
    it when corpus_size/n_centroids outgrows a ~100 MB-1 GB file."""
    (
        rows.repartition(
            F.col("cid"),
            F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(files_per_list)),
        )
        .write.mode(mode)
        .partitionBy("cid")
        .parquet(f"{path}/lists")
    )


def _read_centroids(spark, path: str):
    return [
        (int(r["cid"]), list(r["cv"]), float(r["cn"]))
        for r in spark.read.parquet(f"{path}/centroids.parquet").collect()
    ]


def _read_codebooks(spark, path: str):
    """The index's PQ codebooks (books[j][code] = sub-centroid), or None
    for a flat index: the code type is whether codebooks.parquet
    exists."""
    src = f"{path}/codebooks.parquet"
    if not os.path.exists(src):
        return None
    by_j: dict = {}
    for r in spark.read.parquet(src).collect():
        by_j.setdefault(r["j"], {})[r["code"]] = [float(x) for x in r["cent"]]
    return [[by_j[j][c] for c in sorted(by_j[j])] for j in sorted(by_j)]


def ivf_index_write(
    emb: DataFrame,
    path: str,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    files_per_list: int = 1,
    m: int | None = None,
    k_codes: int = 16,
    n_iter: int = 3,
) -> None:
    """Build and PERSIST the ANN index — the embedding-side analog of
    the MinHash signature store: pay the corpus pass once, serve every
    later query batch from the standing index.

    Layout:
      path/centroids.parquet            (cid, cv, cn) — model-sized
      path/codebooks.parquet            (j, code, cent) — PQ only
      path/lists/cid=<c>/...parquet     the inverted lists as PARTITION
                                        DIRECTORIES, so a search
                                        probing n_probe lists scans
                                        ONLY those directories
                                        (partition pruning, the file-
                                        level analog of FAISS's list
                                        structure): (neighbor_id, cv,
                                        cn) flat, (neighbor_id, codes)
                                        PQ.

    ``m`` picks the code type: unset stores raw vectors (IVF-flat);
    set, :func:`pq_fit` fits ``m`` subspace codebooks of ``k_codes``
    codes and the lists store only m·log2(k_codes)-bit codes (IVF-PQ,
    FAISS's IVFPQ shape). Exact refinement joins back to wherever the
    raw vectors already live (``rescore_with`` in
    :func:`ivf_index_search`) instead of duplicating them into the
    index. n_centroids=1 is the full-scan PQ index.

    Deviation from FAISS: codes quantize the RAW vectors against global
    codebooks, not per-list residuals. Residual encoding buys precision
    at the same bit budget but couples codebooks to lists; global ones
    keep :func:`ivf_index_append` O(batch) against PINNED model files.

    Same deterministic centroid construction as ivf_topk (and the same
    fit and encoding as pq_topk), so a search over the persisted index
    returns bit-identical results to the in-memory operator (pinned by
    test).
    """
    nemb = with_norm(fan_out(emb), vec_col)
    cent = _pick_centroids(nemb, n_centroids, vec_col, id_col)
    books = None
    if m is not None:
        books = pq_fit(
            emb, m=m, k_codes=k_codes, n_iter=n_iter, vec_col=vec_col, id_col=id_col
        )
    spark = emb.sparkSession
    _model_df(spark, cent, "cid int, cv array<double>, cn double").write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids.parquet")
    if books is None:
        # a flat rebuild over a PQ index must not read back as PQ
        shutil.rmtree(f"{path}/codebooks.parquet", ignore_errors=True)
    else:
        _model_df(
            spark,
            [(j, c, cv) for j, book in enumerate(books) for c, cv in enumerate(book)],
            "j int, code int, cent array<double>",
        ).write.mode("overwrite").parquet(f"{path}/codebooks.parquet")
    _write_lists(
        _list_rows(nemb, cent, books, vec_col, id_col), path, files_per_list, "overwrite"
    )


def ivf_index_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    candidates: int = 128,
    rescore_with: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k over a PERSISTED index (ivf_index_write), of
    either code type.

    Probe selection evaluates against the (collected, model-sized)
    centroid table; the inverted-list scan is filtered to the distinct
    probed cids, which Spark turns into PartitionFilters — a small
    query batch reads only its probed list directories, not the corpus
    (plan-asserted in tests). The query batch is small and broadcast,
    so the lists side never shuffles. Flat lists score the raw vectors,
    PQ lists their codebook reconstructions (asymmetric distance).
    With ``rescore_with`` (a raw-vector frame — the FAISS refine stage)
    the top ``candidates`` per query are re-scored exactly and the
    exact-k ranking returned; without it a PQ index returns its ADC
    ranking (the memory-bound serving mode — lower recall, zero
    raw-vector storage).

    A flat search is bit-identical to ivf_topk, and a one-list PQ
    search with ``rescore_with`` to pq_topk (pinned by tests). A
    neighbor stored twice (a redelivered append) scores once.
    """
    cent = _read_centroids(spark, path)
    books = _read_codebooks(spark, path)
    base = _query_rows(with_norm(queries, vec_col), vec_col, id_col)
    # persisted: the probe expression (n_centroids cosines per query
    # row) would otherwise evaluate twice — once for the probed-cid
    # collect below and again in the scoring join
    q = tracked_persist(_probes(base, cent, n_probe))
    # distinct probed lists: ≤ n_centroids values, one tiny job — the
    # scan filter below is what prunes the list directories
    probed = [r["cid"] for r in q.select("cid").distinct().collect()]
    lists = spark.read.parquet(f"{path}/lists").filter(F.col("cid").isin(probed))
    if books is not None:
        lists = _reconstructed(lists, books)
    # the hint goes on a projection of q: a hint placed directly on a
    # cached frame is dropped when the cache substitutes the frame
    coarse = _score(F.broadcast(q.select("*")).join(lists, "cid"))
    if rescore_with is None:
        return _rank_topk(coarse, k)
    return _rescore(
        _rank_topk(coarse, candidates), base, rescore_with, k, vec_col, id_col
    )


def ivf_index_append(
    emb: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    files_per_list: int = 1,
) -> dict[str, int]:
    """Incremental maintenance: assign a NEW batch of vectors to the
    index's PINNED centroids (and, for a PQ index, encode it with the
    PINNED codebooks) and append parquet files to exactly the touched
    list directories — the 100 TB contract, where the standing index
    absorbs each arrival batch without a corpus re-pass and stays
    serveable throughout (appends are new files in existing cid=
    partitions; a concurrent search reads a consistent snapshot of
    whatever files it listed).

    The model is NOT retrained — assignment drift is the rebuild
    signal, surfaced by :func:`ivf_index_stats` (same posture as
    FAISS's add-vs-train split). Append-only contract mirrors the
    MinHash signature store: the caller routes only NEW ids here
    (re-appending an id stores it twice in its list; search scores it
    once).

    Returns {"appended": rows, "listsTouched": distinct cids}.
    """
    spark = emb.sparkSession
    cent = _read_centroids(spark, path)
    books = _read_codebooks(spark, path)
    batch = tracked_persist(
        _list_rows(with_norm(fan_out(emb), vec_col), cent, books, vec_col, id_col)
    )
    # write first (materializes the persisted batch), then ONE agg job
    # served from the cache for both counters — three batch passes
    # (count, distinct, write) collapse to two
    _write_lists(batch, path, files_per_list, "append")
    row = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cid").alias("touched"),
    ).collect()[0]
    return {"appended": int(row["n"]), "listsTouched": int(row["touched"])}


def ivf_index_compact(
    spark, path: str, max_files: int = 8
) -> dict[str, int]:
    """Posting-list defragmentation for a persisted index — the
    maintenance hook every append-only store here has (the MinHash
    signature store's signature_store_compact, the `compact` CLI's
    compact_partitions): each :func:`ivf_index_append` adds one file
    set to every touched ``cid=`` directory, so a long append tail
    turns the probed-list scan into parquet open/footer overhead.

    Delegates to the shared merge-lock compaction: only lists
    exceeding ``max_files`` files are rewritten (one file per cid),
    untouched lists are never opened, and a racing append fails
    loudly rather than reading deleted files. The model files are
    untouched and rows are rewritten as they are (a redelivered
    duplicate stays), so compaction never changes search results,
    only file counts (pinned by test)."""
    from hypermap_etl_spark.operators.merge import compact_partitions

    return compact_partitions(spark, f"{path}/lists", "cid", max_files)


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Per-list health of a persisted index: (cid, n_vectors, share,
    imbalance) where imbalance = n_vectors / mean list size. A list
    whose imbalance grows past ~a few × after appends is the
    retrain-and-rebuild signal — searches probing it scan that much
    more than the index's design point. One partition-pruned count
    aggregate over the lists table; vector and code payloads are never
    read.
    """
    lists = spark.read.parquet(f"{path}/lists").select("cid")
    per = lists.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    tot = per.agg(
        F.sum("n_vectors").alias("__t"), F.count(F.lit(1)).alias("__lists")
    )
    return (
        per.join(F.broadcast(tot))
        .select(
            "cid",
            "n_vectors",
            F.round(F.col("n_vectors") / F.col("__t"), 6).alias("share"),
            F.round(
                F.col("n_vectors")
                * F.col("__lists").cast("double")
                / F.col("__t"),
                6,
            ).alias("imbalance"),
        )
        .orderBy("cid")
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    query_filter: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into inverted
    lists around centroids, probe only the n_probe nearest lists per
    query.

    Centroids are chosen deterministically (the vectors whose id ranks
    first in each of n_centroids uniform hash buckets — a k-means init
    without iterative refinement; swap in real k-means offline when
    recall matters more). Corpus side shuffles once on centroid id;
    each query scores |corpus|·(n_probe/n_centroids) candidates. The
    in-memory form of a flat persisted index, which returns the same
    rows.
    """
    nemb = with_norm(fan_out(emb), vec_col)
    cent = _pick_centroids(nemb, n_centroids, vec_col, id_col)
    corpus = _list_rows(nemb, cent, None, vec_col, id_col)
    q = nemb.filter(query_filter) if query_filter is not None else nemb
    queries = _probes(_query_rows(q, vec_col, id_col), cent, n_probe)
    return _rank_topk(_score(queries.join(corpus, "cid")), k)


def knn_label_vote(
    emb: DataFrame,
    k: int = 5,
    query_filter: Column | None = None,
    label_col: str = "label",
) -> DataFrame:
    """Predict each query's label by majority vote of its exact top-k
    neighbors (ties → smaller label wins, deterministic)."""
    topk = brute_force_topk(emb, k, query_filter)
    labeled = topk.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col(label_col).alias("nlabel")),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "nlabel").agg(F.count(F.lit(1)).alias("votes"))
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("nlabel"))
    return (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("nlabel").alias("label_pred"), "votes")
    )


def quantize_int8(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector min/max int8 quantization: 4× less memory per vector,
    the standard compression step before a large ANN index ships to
    serving. q_i = round((v_i - min) / scale), scale = (max - min)/255;
    dequantization error ≤ scale/2 per component.

    Purely per-row (no shuffle); constant vectors (scale 0) quantize to
    all zeros. Emits (id, q_min, q_scale, q) with deterministic
    rounding so an independent SQL engine reproduces it exactly.
    """
    v = _vd(vec_col)
    vmin = F.array_min(v)
    vmax = F.array_max(v)
    scale = (vmax - vmin) / F.lit(255.0)
    q = F.when(
        scale == 0, F.transform(v, lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(v, lambda x: F.round((x - vmin) / scale).cast("long"))
    )
    return emb.select(
        F.col(id_col),
        F.round(vmin, 6).alias("q_min"),
        F.round(scale, 9).alias("q_scale"),
        q.alias("q"),
    )


def quantized_topk(
    emb: DataFrame,
    k: int = 5,
    candidates: int = 32,
    query_filter: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage ANN over the int8-quantized corpus: coarse-score
    queries (full precision) against DEQUANTIZED corpus vectors — the
    asymmetric-distance pattern of every RAM-bound quantized index
    (IVF-PQ/SQ): the index holds 4x-smaller int8 codes, queries stay
    exact — keep the top ``candidates`` per query, then rescore only
    those pairs against the original vectors and return the exact-k
    ranking of the candidate set.

    Recall loss is bounded by the scalar-quantization error (≤ scale/2
    per component, see quantize_int8) shrunk further by the
    candidates/k oversampling; the emb_quantized_recall gate pins it
    ≥ 0.9 against the exact top-k. Shapes: the coarse pass is the
    broadcast-query scan of brute_force_topk (the memory win is the
    point at this stage, not compute), the rescore joins only
    queries × candidates rows.
    """
    if query_filter is None:
        raise ValueError(
            "quantized_topk requires query_filter: the coarse stage "
            "scores every query against the corpus"
        )
    q8 = quantize_int8(emb, vec_col, id_col)
    deq = q8.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(
            "transform(q, x -> cast(x as double) * q_scale + q_min)"
        ).alias("cv"),
    ).withColumn(
        "cn",
        F.sqrt(
            F.aggregate(
                F.col("cv"), F.lit(0.0), lambda a, x: a + x * x
            )
        ),
    )
    q = _query_rows(with_norm(fan_out(emb), vec_col).filter(query_filter), vec_col, id_col)
    coarse = (
        F.broadcast(q)
        .join(deq, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _sim())
    )
    return _rescore(_rank_topk(coarse, candidates), q, emb, k, vec_col, id_col)


def pq_fit(
    emb: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search" — the compression layer
    of FAISS's IVF-PQ, the standard billion-vector ANN index): split
    every vector into ``m`` contiguous subvectors and run the
    deterministic Lloyd k-means (same md5 seeding as :func:`kmeans`)
    independently per subspace.

    Returns the model as plain data: m codebooks × k_codes
    sub-centroids × (dim/m) floats — m·k_codes·dim/m doubles on the
    driver, never data-sized. Memory story: codes store each vector
    in m·log2(k_codes) BITS (m=8, k=16 → 4 bytes vs 512 for 64
    float64s, 128×), while quantize_int8 stops at 4×.

    Scale shape: one collect of the k_codes md5-smallest FULL vectors
    seeds every subspace (md5 ranks ids, so each subspace's seeds are
    the same rows, sliced), then m independent fits, each the
    bounded-shuffle Lloyd loop of :func:`kmeans` over a SLICED
    (dim/m-wide) projection of the corpus — subspace fits see narrower
    rows, not more of them.
    """
    seeds = _md5_seeds(emb, k_codes, vec_col, id_col)
    dim = len(seeds[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        sliced = emb.select(
            F.col(id_col),
            F.slice(_vd(vec_col), j * sub + 1, sub).alias(vec_col),
        )
        _assigned, cents = _lloyd(
            sliced, [s[j * sub:(j + 1) * sub] for s in seeds], n_iter, vec_col, id_col
        )
        books.append([[float(x) for x in c] for c in cents])
    return books


def _pq_codes(books: list[list[list[float]]], vec: Column) -> Column:
    """Column: the PQ codes array of a vector column (see pq_encode)."""
    sub = len(books[0][0])
    codes = []
    for j, book in enumerate(books):
        sv = F.slice(vec, j * sub + 1, sub)
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        sv,
                        F.array(*[F.lit(x) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in book
            ]
        )
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return F.array(*codes)


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-encode every vector: per subspace, the index of the nearest
    sub-centroid (squared L2) — (id, codes array<int>), codes[j] ∈
    [0, k_codes). One pure projection against the broadcast codebook
    literals; no shuffle, no Python. Ties break to the lowest code
    (array_position finds the first minimum), so encoding is
    deterministic and layout-independent."""
    return emb.select(
        F.col(id_col), _pq_codes(codebooks, _vd(vec_col)).alias("codes")
    )


def _pq_reconstruct(books: list[list[list[float]]], codes_col: str = "codes"):
    """Column: the PQ reconstruction of a codes array — per subspace a
    literal codebook lookup (element_at), concatenated. All JVM."""
    parts = [
        F.element_at(
            F.array(*[F.array(*[F.lit(x) for x in c]) for c in book]),
            F.col(codes_col).getItem(j) + 1,
        )
        for j, book in enumerate(books)
    ]
    return F.flatten(F.array(*parts))


def _reconstructed(rows: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Code rows → scoring rows: ``codes`` replaced by the reconstruction
    ``cv`` and its norm ``cn``. Scoring an exact query against cv is
    the PQ paper's asymmetric distance computation; its per-query
    lookup table is a CPU-cache optimization of the same quantity."""
    return (
        rows.withColumn("cv", _pq_reconstruct(books))
        .withColumn(
            "cn",
            F.sqrt(F.aggregate(F.col("cv"), F.lit(0.0), lambda a, x: a + x * x)),
        )
        .drop("codes")
    )


def pq_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    n_iter: int = 3,
    candidates: int = 128,
    query_filter: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage ANN over the PQ-compressed corpus: coarse-score exact
    queries against RECONSTRUCTED corpus vectors (each vector replaced
    by its m sub-centroids, see _reconstructed), keep ``candidates``
    per query, rescore those pairs exactly — quantized_topk's shape
    with a 128×-smaller index payload instead of 4×. The in-memory form
    of a one-list PQ index (ivf_index_write(n_centroids=1, m=...)),
    which returns the same rows.

    The defaults (m=8, k_codes=16, candidates=128) are tuned on the
    near-isotropic fixture embeddings — PQ's worst case (a flat
    eigenspectrum spreads distortion across every subspace); measured
    recall@5 0.944 (sf0.001) / 0.928 (sf0.01). The emb_pq_recall gate
    pins recall@5 ≥ 0.85 against the exact top-k; codebooks and
    encoding are deterministic end to end.
    """
    if query_filter is None:
        raise ValueError(
            "pq_topk requires query_filter: the coarse stage scores "
            "every query against the corpus"
        )
    books = pq_fit(emb, m=m, k_codes=k_codes, n_iter=n_iter, vec_col=vec_col, id_col=id_col)
    corpus = _reconstructed(
        pq_encode(emb, books, vec_col=vec_col, id_col=id_col).withColumnRenamed(
            id_col, "neighbor_id"
        ),
        books,
    )
    q = _query_rows(with_norm(fan_out(emb), vec_col).filter(query_filter), vec_col, id_col)
    coarse = _score(F.broadcast(q).crossJoin(corpus))
    return _rescore(_rank_topk(coarse, candidates), q, emb, k, vec_col, id_col)


def label_centroids(
    emb: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label centroid vectors — the vector-aggregation shape behind
    IVF coarse quantizers, class prototypes, and k-means steps.

    Scale-first: posexplode is map-side; the (label, dim) partial
    average combines before the shuffle, so shuffle volume is bounded
    by labels × dims × tasks, never rows × dims. Reassembly sorts each
    label's dims into an array in one final label-keyed aggregate.
    The `+ 0.0` normalizes IEEE -0.0 (round can produce it on either
    engine, and the value-hash compares strings).
    """
    d = emb.select(
        label_col, F.posexplode(F.col(vec_col).cast("array<double>")).alias("__dim", "__x")
    )
    c = d.groupBy(label_col, "__dim").agg(
        (F.round(F.avg("__x"), 6) + F.lit(0.0)).alias("__m")
    )
    cent = c.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__dim", "__m"))), lambda s: s["__m"]
        ).alias("centroid")
    )
    n = emb.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_vecs"))
    return cent.join(n, label_col)


def _md5_seeds(emb: DataFrame, k: int, vec_col: str, id_col: str) -> list[list[float]]:
    """The k vectors whose md5(id) ranks smallest — the deterministic,
    layout-independent k-means init. One collect of k rows."""
    md5rank = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    return [
        [float(x) for x in r[0]]
        for r in emb.select(_vd(vec_col).alias("__v"), md5rank.alias("__r"))
        .orderBy("__r")
        .limit(k)
        .select("__v")
        .collect()
    ]


def _lloyd(
    emb: DataFrame, cents: list[list[float]], n_iter: int, vec_col: str, id_col: str
) -> tuple[DataFrame, list[list[float]]]:
    """n_iter Lloyd rounds from the given initial centroids (see
    :func:`kmeans`). Returns (assignments (id, cluster), centroids); a
    cluster left empty keeps its previous centroid."""
    vec = _vd(vec_col)
    assigned = None
    for _ in range(n_iter):
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(vec, F.array(*[F.lit(x) for x in c]), lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in cents
            ]
        )
        assigned = emb.select(
            id_col,
            vec.alias("__v"),
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("cluster"),
        )
        d = assigned.select("cluster", F.posexplode("__v").alias("__dim", "__x"))
        new = (
            d.groupBy("cluster", "__dim")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__dim", "__m"))),
                    lambda s: s["__m"],
                ).alias("c")
            )
            .collect()
        )
        by_cluster = {r["cluster"]: list(r["c"]) for r in new}
        cents = [by_cluster.get(i, c) for i, c in enumerate(cents)]
    return assigned.select(id_col, "cluster"), cents


def kmeans(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means over the embedding column, Spark-first:

      init       k seeds = the vectors whose md5(id) ranks smallest
                 (deterministic, layout-independent)
      assign     map-side argmin of squared L2 against the k broadcast
                 centroid literals — one projection, no shuffle
      recompute  (cluster, dim) partial-averaged posexplode, the same
                 bounded-shuffle shape as label_centroids
      repeat     centroids collect to the driver between rounds
                 (k × dim floats — bytes, not data)

    Returns (assignments DataFrame (id, cluster), final centroids).
    Per iteration: one narrow projection + one shuffle bounded by
    k × dims × tasks. The iteration count is fixed (no convergence
    probe actions); callers needing convergence run another call from
    the returned centroids. Unit-tested on planted blobs; approximate
    and iterative, so exercised by recall tests rather than a SQL
    oracle (same policy as lsh_topk/ivf_topk).
    """
    return _lloyd(emb, _md5_seeds(emb, k, vec_col, id_col), n_iter, vec_col, id_col)


def semdedup(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering then INTRA-cluster cosine
    pruning — the embedding-space analog of MinHash near-dup, catching
    paraphrases exact n-gram methods miss.

    Keep rule (deterministic, distributed): within a cluster, a vector
    is dropped iff some cluster-mate with cosine >= threshold
    DOMINATES it — smaller (centroid_sim, id) lexicographically — so
    exactly one member of every near-dup clique survives, and the
    survivor is the one farthest from the centroid (the paper's
    low-centroid-similarity preference), ties broken by id. For
    similarity CHAINS (a~b, b~c, a!~c) the local dominance rule may
    keep both endpoints — documented behavior, matching the paper's
    per-pair (not connected-component) dedup.

    Scale shape: clustering bounds the quadratic stage — pairs are an
    equi-join ON CLUSTER, never a corpus cross join; cost is
    sum(|C_i|^2), which ``k`` controls (the paper uses ~50k clusters
    at web scale). Centroids broadcast as k model-sized literals; the
    dominance check and keep flag are one join + one anti-join.

    Returns (id, cluster, centroid_sim, keep)."""
    spark = emb.sparkSession
    assigned, cents = kmeans(emb, k, n_iter, vec_col, id_col)
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cluster int, cent array<double>"
    )
    cent_norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("cent"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nemb = with_norm(fan_out(emb), vec_col)
    scored = (
        nemb.join(assigned.select(id_col, "cluster"), id_col)
        .join(F.broadcast(cdf), "cluster")
        .select(
            F.col(id_col).alias("id"),
            "cluster",
            _vd(vec_col).alias("v"),
            F.col("__norm").alias("n"),
            F.round(
                cosine(_vd(vec_col), F.col("cent"), F.col("__norm"), cent_norm),
                9,
            ).alias("centroid_sim"),
        )
    )
    sim = cosine(F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n"))
    dominated = (
        scored.alias("a")
        .join(
            scored.alias("b"),
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") != F.col("b.id"))
            & (
                (F.col("b.centroid_sim") < F.col("a.centroid_sim"))
                | (
                    (F.col("b.centroid_sim") == F.col("a.centroid_sim"))
                    & (F.col("b.id") < F.col("a.id"))
                )
            ),
        )
        .filter(sim >= threshold)
        .select(F.col("a.id").alias("id"))
        .distinct()
    )
    return (
        scored.join(dominated.withColumn("__drop", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            F.round("centroid_sim", 6).alias("centroid_sim"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )


# ------------------------------------------------ covariance matrix ----

def kmeans_inertia(
    emb: DataFrame,
    assigned: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """Mean squared distance of every vector to its assigned centroid —
    the quantity Lloyd iterations minimize. Centroids broadcast as a
    k-row frame (model-sized); the distance is one JVM zip_with fold
    per row; the driver sees one float."""
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cluster int, cent array<double>"
    )
    j = (
        assigned.join(emb.select(id_col, vec_col), id_col)
        .join(F.broadcast(cdf), "cluster")
    )
    d2 = F.aggregate(
        F.zip_with(_vd(vec_col), F.col("cent"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return float(j.agg(F.avg(d2)).collect()[0][0])


def _moment_partials(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One-pass per-partition moment reduction: each Arrow batch folds
    to a single (n, sum_x[d], sum_xx[d*d]) row via one BLAS gramian -
    the shared building block of covariance_matrix and pca_fit. The
    output is partition-count-sized, never row-sized."""

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(V)],
                    "sum_x": [V.sum(axis=0).tolist()],
                    "sum_xx": [(V.T @ V).ravel().tolist()],
                }
            )

    return emb.select(_vd(vec_col).alias("__v")).mapInPandas(
        partials, schema="n long, sum_x array<double>, sum_xx array<double>"
    )


def centroid_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    z_thresh: float = 2.0,
) -> DataFrame:
    """Embedding-space outlier screen: distance-to-global-centroid
    z-score per vector — the curation signal that flags mojibake,
    truncated pages, and off-distribution junk whose EMBEDDING sits far
    from the corpus mass even when surface heuristics pass. Output:
    (id, dist, z, is_outlier) with dist/z rounded at 6 and the flag
    computed on the ROUNDED z in both engines (so the verdict can
    never hinge on a cross-engine ulp).

    Scale shape: pass 1 aggregates the per-dim means (posexplode is
    map-side; partial averages combine before the shuffle, so it
    carries dims × tasks rows) and collects the d-vector to the driver
    — the :func:`pca_fit` data/model split, driver sees O(d). Pass 2
    scores every row against the broadcast centroid literal with a JVM
    ``zip_with``/``aggregate`` fold (no Python, no shuffle) and takes
    two scalar moments; pass 3 projects the z-scores. Three scans of
    the embedding column, never a row-wise shuffle. σ = 0 (all vectors
    identical) degenerates to z = 0 everywhere, flag false.
    """
    vec = F.col(vec_col).cast("array<double>")
    el = emb.select(F.posexplode(vec).alias("__d", "__x"))
    cen = {
        r["__d"]: r["__m"]
        for r in el.groupBy("__d").agg(F.avg("__x").alias("__m")).collect()
    }
    if not cen:
        raise ValueError("centroid_outliers: no vectors")
    ms = [cen[i] for i in range(len(cen))]
    lit_c = F.array(*[F.lit(float(m)) for m in ms])
    ss = F.aggregate(
        F.zip_with(vec, lit_c, lambda x, m: (x - m) * (x - m)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = emb.select(F.col(id_col), F.sqrt(ss).alias("__dist"))
    st = scored.agg(
        F.avg("__dist").alias("mu"), F.stddev_pop("__dist").alias("sg")
    ).collect()[0]
    mu, sg = float(st["mu"]), float(st["sg"])
    z = (
        F.lit(0.0)
        if sg == 0.0
        else (F.col("__dist") - F.lit(mu)) / F.lit(sg)
    )
    z_r = F.round(z, 6) + F.lit(0.0)
    return scored.select(
        F.col(id_col),
        (F.round(F.col("__dist"), 6) + F.lit(0.0)).alias("dist"),
        z_r.alias("z"),
        (z_r > F.lit(float(z_thresh))).alias("is_outlier"),
    )


def covariance_matrix(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Distributed d x d population covariance of an embedding column -
    the PCA / whitening building block: cov[i][j] = E[x_i x_j] - mu_i
    mu_j, upper triangle only (i <= j), rounded to 6 dp.

    Scale shape (the treeAggregate idea in DataFrame clothes): an
    Arrow-batched ``mapInPandas`` reduces each PARTITION to one partial
    row (n, sum_x[d], sum_xx[d*d]) with a single BLAS gramian (V.T @ V)
    per batch - the corpus never shuffles and nothing row-scale leaves
    an executor. The partials (one per partition, not per row) then
    posexplode into (index, value) and merge in one tiny hash
    aggregate; the driver sees d*(d+1)/2 floats. float32 -> float64
    widening is exact, so per-product values match any SQL engine
    bit-for-bit; only summation ORDER differs across partition layouts,
    which the 6 dp rounding absorbs (partial-sum error ~1e-12 here).

    The moment form (E[xy] - mu mu) can cancel catastrophically when
    |mu| >> sigma; embeddings are centered near 0 where it is stable.
    For wild means, shift by a broadcast first-pass mean before calling.
    """
    dim = len(emb.select(vec_col).first()[0])
    parts = _moment_partials(emb, vec_col)
    sums = (
        parts.select("n", F.posexplode("sum_xx").alias("__ij", "__xx"))
        .groupBy("__ij")
        .agg(F.sum("__xx").alias("sxy"), F.sum("n").alias("n"))
        .select(
            (F.col("__ij") / dim).cast("int").alias("i"),
            F.pmod("__ij", F.lit(dim)).cast("int").alias("j"),
            "sxy",
            "n",
        )
        .filter(F.col("i") <= F.col("j"))
    )
    means = (
        parts.select(F.posexplode("sum_x").alias("__d", "__sx"))
        .groupBy("__d")
        .agg(F.sum("__sx").alias("sx"))
    )
    mi = means.select(F.col("__d").alias("i"), F.col("sx").alias("sx_i"))
    mj = means.select(F.col("__d").alias("j"), F.col("sx").alias("sx_j"))
    return (
        sums.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            F.round(
                F.col("sxy") / F.col("n")
                - (F.col("sx_i") / F.col("n")) * (F.col("sx_j") / F.col("n")),
                6,
            ).alias("cov"),
        )
    )


# --------------------------------------------------------------- PCA ----

def pca_fit(
    emb: DataFrame, k: int = 4, vec_col: str = "embedding"
) -> tuple[list[list[float]], list[float], list[float]]:
    """Fit a k-component PCA: returns (components[k][d], explained
    variance[k], mean[d]).

    Scale split, same as broadcast joins: the DATA-sized work (the d x d
    covariance) runs distributed via covariance_matrix's one-pass
    partition gramians; the MODEL-sized work (eigendecomposition of a
    d x d symmetric matrix — d is 64 here, a few KB) runs on the driver
    with numpy.linalg.eigh. This is how Spark MLlib itself computes PCA
    (RowMatrix.computePrincipalComponents: distributed gramian, local
    eigen). Sign convention: each component's largest-|weight| entry is
    made positive, so results are deterministic across eigen libraries
    (eigenvectors are defined up to sign).

    ONE corpus pass: the per-partition moment partials (n, sum_x,
    sum_xx) already hold everything the covariance AND the mean need.
    The partials frame is persisted (partition-count-sized) and folded
    elementwise in Spark, so the driver receives O(d²) floats total —
    independent of the partition count.
    """
    parts = tracked_persist(_moment_partials(emb, vec_col))
    n = parts.agg(F.sum("n")).collect()[0][0]
    if not n:
        raise ValueError("pca_fit: empty embedding frame")

    def _fold(col: str) -> np.ndarray:
        rows = (
            parts.select(F.posexplode(col).alias("__i", "__x"))
            .groupBy("__i")
            .agg(F.sum("__x").alias("s"))
            .orderBy("__i")
            .collect()
        )
        return np.array([r["s"] for r in rows])

    sum_x, sum_xx = _fold("sum_x"), _fold("sum_xx")
    dim = len(sum_x)
    mu = sum_x / n
    C = sum_xx.reshape(dim, dim) / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(C)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps, ev = [], []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
        ev.append(float(vals[idx]))
    return comps, ev, [float(x) for x in mu]


def pca_project(
    emb: DataFrame,
    components: list[list[float]],
    mean: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Project each embedding onto the fitted components: map-side only
    (the components are broadcast as literal arrays; each projection is
    one zip_with multiply + aggregate sum per component). Output
    (id, p0..p{k-1}), rounded; + 0.0 canonicalizes IEEE -0.0."""
    d = emb.select(id_col, _vd(vec_col).alias("__v"))
    mean_lit = "array({})".format(", ".join(f"{m!r}D" for m in mean))
    projs = []
    for c, comp in enumerate(components):
        comp_lit = "array({})".format(", ".join(f"{w!r}D" for w in comp))
        projs.append(
            "round(aggregate(zip_with(zip_with(__v, {mean} , (x, m) -> x - m), {comp},"
            " (x, w) -> x * w), 0.0D, (acc, y) -> acc + y), {dp}) + 0.0D AS p{c}".format(
                mean=mean_lit, comp=comp_lit, dp=round_dp, c=c
            )
        )
    sql = "SELECT {id}, {projs} FROM {{src}}".format(id=id_col, projs=", ".join(projs))
    return d.sparkSession.sql(sql, src=d)


def jl_project(
    emb: DataFrame,
    in_dim: int,
    out_dim: int,
    seed: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a
    DETERMINISTIC Rademacher (±1/√k) projection — the cheap pre-pass
    that shrinks vectors before clustering / LSH at corpus scale
    (Achlioptas 2001: ±1 entries preserve pairwise distances with the
    same JL guarantee as Gaussian ones, and multiply-free).

    Sign(j, i) = +1 iff the first hex nibble of md5("jl:{seed}:{j}:{i}")
    is < 8 — reproducible from (seed, dims) alone in ANY engine, so an
    oracle can replay the exact projection; no stored model, no RNG
    state.

    Scale shape: the out_dim×in_dim sign matrix is folded into the plan
    as literal arrays (model-sized, like pca_project); each output dim
    is one zip_with multiply + ordered aggregate fold, ALL inside
    whole-stage codegen — map-side only, no shuffle, no UDF, no driver
    data. Downstream cost (k-means assign, LSH banding) then scales by
    out_dim/in_dim. Output: (id, proj array<double>) UNROUNDED — gates
    explode + round at the edge (round-final-only).
    """
    import hashlib
    import math

    if out_dim <= 0 or in_dim <= 0:
        raise ValueError(f"dims must be positive, got {in_dim}->{out_dim}")
    signs = [
        [
            1.0
            if int(
                hashlib.md5(f"jl:{seed}:{j}:{i}".encode()).hexdigest()[0], 16
            )
            < 8
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]
    scale = 1.0 / math.sqrt(out_dim)
    vec = _vd(vec_col)
    # one-int guard per row: a vector of the wrong width would silently
    # zip_with-truncate, corrupting the projection. assert_true lives
    # in a FILTER (it returns NULL on success) — a projected-then-
    # dropped column would be pruned by the optimizer and never fire.
    guard = F.assert_true(
        F.size(F.col(vec_col)) == in_dim,
        f"jl_project expects {in_dim}-dim vectors",
    )
    cols = [
        (
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(s) for s in signs[j]]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale)
        ).alias(f"jd{j}")
        for j in range(out_dim)
    ]
    return emb.filter(guard.isNull()).select(
        F.col(id_col), F.array(*cols).alias("proj")
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    complement of curation.decontaminate's 13-gram collision test: a
    corpus item is contaminated when its embedding's cosine similarity
    to ANY benchmark embedding reaches ``threshold`` (catches
    paraphrased/reformatted eval leakage that n-gram overlap misses).

    Output, for EVERY corpus row (same auditable shape as the n-gram
    op): (vec_id, max_sim, n_hits, contaminated) — max_sim the highest
    benchmark similarity (rounded 6 dp), n_hits how many benchmark
    items clear the threshold.

    Scale shape: eval suites are small and fixed, so the benchmark side
    is BROADCAST and the corpus streams map-side through one
    zip_with/aggregate cosine kernel per (row, probe) — no shuffle of
    the corpus, no Python, aggregation keyed by the near-unique id.
    With a large probe set, pre-filter candidates with srp_banding and
    decontaminate only bucket collisions.
    """
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("__cid"), _vd(vec_col).alias("__cv"),
        F.col("__norm").alias("__cn"),
    )
    b = with_norm(bench, vec_col).select(
        _vd(vec_col).alias("__bv"), F.col("__norm").alias("__bn")
    )
    sim = F.round(
        cosine(F.col("__cv"), F.col("__bv"), F.col("__cn"), F.col("__bn")), 6
    )
    scored = c.join(F.broadcast(b)).select("__cid", sim.alias("__sim"))
    agg = scored.groupBy("__cid").agg(
        F.max("__sim").alias("max_sim"),
        F.sum(
            F.when(F.col("__sim") >= threshold, 1).otherwise(0)
        ).cast("long").alias("n_hits"),
    )
    # one row per corpus doc even when the probe set is EMPTY (a filter
    # that matches nothing must read as "no contamination", not as an
    # empty frame that an inner-join consumer would drop the corpus on):
    # left-join the aggregate back onto the corpus ids with zero
    # defaults. The ids projection is column-pruned; no extra shuffle —
    # both sides are already keyed by the unique id.
    return (
        c.select("__cid")
        .join(agg, "__cid", "left")
        .select(
            F.col("__cid").alias(id_col),
            F.coalesce("max_sim", F.lit(0.0)).alias("max_sim"),
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0).cast("long")) > 0).alias(
                "contaminated"
            ),
        )
    )


def hard_negative_pairs(
    emb: DataFrame,
    k: int = 3,
    query_filter: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    anchor vector, the top-``k`` most-similar vectors with a DIFFERENT
    label — the negatives a contrastive or reranker objective learns
    the most from (they sit just across the decision boundary; random
    negatives are trivially separable and teach nothing).

    Exact construction: anchors (the sampled ``query_filter`` side,
    broadcast) join the corpus on (id ≠, label ≠); per-anchor ranking
    by (rounded sim desc, neighbor_id asc) — the stack's one tie-break
    convention. The corpus side streams map-side: no shuffle of the
    big side, no UDF, rank window keyed by anchor over ≤ |corpus|
    candidates cut to k by WindowGroupLimit.

    At 100 TB the same contract composes with the ANN paths instead:
    mine candidates via lsh_topk/ivf_topk with a widened k, then
    post-filter label ≠ and re-rank — this exact operator is the
    recall oracle for that pipeline, query-sampled exactly like
    brute_force_topk (and like it, refuses the accidental N² run).

    Output: (query_id, anchor_label, neighbor_id, neighbor_label,
    sim, rank).
    """
    if query_filter is None:
        raise ValueError(
            "hard_negative_pairs without query_filter scores the full "
            "N x N matrix; pass a sampled anchor predicate (at scale, "
            "mine candidates with lsh_topk/ivf_topk and post-filter)"
        )
    nemb = with_norm(fan_out(emb), vec_col)
    q = nemb.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("anchor_label"),
        _vd(vec_col).alias("qv"),
        F.col("__norm").alias("qn"),
    )
    c = nemb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        _vd(vec_col).alias("cv"),
        F.col("__norm").alias("cn"),
    )
    sim = F.round(
        cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
    ).alias("sim")
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("anchor_label") != F.col("neighbor_label")),
        )
        .select("query_id", "anchor_label", "neighbor_id", "neighbor_label", sim)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            "sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def truncated_topk_recall(
    emb: DataFrame,
    dims: int = 16,
    k: int = 5,
    query_filter: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of TRUNCATED-dimension search against the full-width
    exact top-k — the matryoshka/MRL evaluation (Kusupati et al.
    2022): if the first ``dims`` coordinates carry the geometry,
    serving can run k-NN on the prefix at dims/D of the memory
    bandwidth and re-rank the shortlist at full width. This measures
    exactly what that costs in recall, per query.

    Both legs are the same deterministic exact construction
    (brute_force_topk: rounded cosine, (sim DESC, id ASC) total order)
    so the recall is engine-reproducible — no probabilistic argument,
    unlike LSH/IVF recall gates which certify a lower BOUND.

    Output: (query_id, n_hit, recall) with recall = |∩|/k exact.

    Scale shape: two broadcast-query scoring passes over the corpus
    (the truncated leg reading dims/D of each vector... after a
    column-pruned prefix slice); the overlap join runs on query×k
    rows. At corpus scale the full leg is the one you replace with
    the IVF/PQ index — the measurement stays the same shape.
    """
    if dims < 1:
        raise ValueError("dims must be >= 1")
    full = brute_force_topk(
        emb, k=k, query_filter=query_filter, vec_col=vec_col, id_col=id_col
    ).select("query_id", "neighbor_id")
    trunc_emb = emb.withColumn(vec_col, F.slice(F.col(vec_col), 1, dims))
    trunc = brute_force_topk(
        trunc_emb, k=k, query_filter=query_filter, vec_col=vec_col,
        id_col=id_col,
    ).select("query_id", "neighbor_id")
    hits = full.join(trunc, ["query_id", "neighbor_id"], "left_semi")
    n_hit = (
        hits.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    base = full.select("query_id").distinct()
    return base.join(n_hit, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.lit(float(k)),
            6,
        ).alias("recall"),
    )


def centroid_drift(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space drift monitor: per label, the cosine and L2
    distance between the centroids of the two deterministic corpus
    halves (id parity) — the vector-space answer to "did this class's
    representation move", the screen run before trusting an index or
    classifier built on yesterday's embedding geometry (an A/A-style
    self-check on one snapshot; across snapshots, pass the halves as
    epochs via the id column).

    Determinism discipline: components quantize to decimal(18,9)
    before the (label, half, dim) sum; per-dim means re-quantize; the
    cosine/L2 reductions over dims sum exact decimal products and
    squared diffs — the ONLY doubles are per-dim divisions and the
    final sqrt/divide, so no cross-row or cross-dim float
    accumulation exists anywhere.

    Scale shape: posexplode is map-side and the (label, half, dim)
    partial aggregate combines before the shuffle (bounded by
    labels × 2 × dims × tasks, never rows × dims); everything after
    runs on labels × dims rows.
    """
    half = F.pmod(F.col(id_col), F.lit(2)).alias("__h")
    d = emb.filter(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        label_col,
        half,
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "__dim", "__x"
        ),
    )
    comp = F.round(F.col("__x"), 9).cast("decimal(18,9)")
    g = d.groupBy(label_col, "__h", "__dim").agg(
        F.sum(comp).cast("decimal(38,9)").alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    mean = F.round(
        F.col("__s").cast("double") / F.col("__n").cast("double"), 9
    ).cast("decimal(18,9)")
    m = g.select(label_col, "__h", "__dim", mean.alias("__m"))
    a = m.filter(F.col("__h") == 0).select(
        label_col, "__dim", F.col("__m").alias("__ma")
    )
    b = m.filter(F.col("__h") == 1).select(
        label_col, "__dim", F.col("__m").alias("__mb")
    )
    j = a.join(b, [label_col, "__dim"])
    diff = F.col("__ma") - F.col("__mb")
    per = j.groupBy(label_col).agg(
        F.sum(F.col("__ma") * F.col("__mb")).cast("decimal(38,18)").alias("__dot"),
        F.sum(F.col("__ma") * F.col("__ma")).cast("decimal(38,18)").alias("__na"),
        F.sum(F.col("__mb") * F.col("__mb")).cast("decimal(38,18)").alias("__nb"),
        F.sum(diff * diff).cast("decimal(38,18)").alias("__d2"),
    )
    counts = (
        emb.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())
        .groupBy(label_col)
        .agg(
            F.sum(
                F.when(F.pmod(F.col(id_col), F.lit(2)) == 0, 1).otherwise(0)
            ).cast("long").alias("n_a"),
            F.sum(
                F.when(F.pmod(F.col(id_col), F.lit(2)) == 1, 1).otherwise(0)
            ).cast("long").alias("n_b"),
        )
    )
    cos = F.try_divide(
        F.col("__dot").cast("double"),
        F.sqrt(F.col("__na").cast("double"))
        * F.sqrt(F.col("__nb").cast("double")),
    )
    return (
        per.join(counts, label_col)
        .select(
            label_col,
            "n_a",
            "n_b",
            F.round(cos, 6).alias("centroid_cosine"),
            F.round(F.sqrt(F.col("__d2").cast("double")), 6).alias(
                "centroid_l2"
            ),
        )
        .orderBy(label_col)
    )


def class_separability(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Class separability of a labeled embedding space — the cheap
    silhouette proxy run before training a classifier on the
    geometry: per label, the mean cosine of its vectors to their OWN
    centroid vs to the GLOBAL centroid, and the margin between them
    (margin ≈ 0: the label is not a cluster, it is a relabeling of
    the blob).

    Same determinism discipline as :func:`centroid_drift`: components
    and centroid means quantize to decimal(18,9); per-vector dot
    products sum exact decimal products over dims; per-vector cosines
    round to 9 dp and quantize before the per-label mean — no float
    accumulation crosses a row or dim boundary anywhere.

    Scale shape: posexplode is map-side; the (label, dim) and (dim)
    centroid aggregates are bounded by labels × dims; the dot-product
    pass joins the exploded frame to BROADCAST centroid tables and
    folds back to one row per vector, then one per label.
    """
    d = emb.filter(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        label_col,
        F.col(id_col).alias("__id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "__dim", "__x"
        ),
    )
    comp = F.round(F.col("__x"), 9).cast("decimal(18,9)")
    dq = d.select(label_col, "__id", "__dim", comp.alias("__xq"))
    own = dq.groupBy(label_col, "__dim").agg(
        F.round(
            F.sum("__xq").cast("double") / F.count(F.lit(1)).cast("double"),
            9,
        )
        .cast("decimal(18,9)")
        .alias("__mo")
    )
    glob = dq.groupBy("__dim").agg(
        F.round(
            F.sum("__xq").cast("double") / F.count(F.lit(1)).cast("double"),
            9,
        )
        .cast("decimal(18,9)")
        .alias("__mg")
    )
    j = dq.join(F.broadcast(own), [label_col, "__dim"]).join(
        F.broadcast(glob), "__dim"
    )
    per_vec = j.groupBy(label_col, "__id").agg(
        F.sum(F.col("__xq") * F.col("__mo")).cast("decimal(38,18)").alias("__do"),
        F.sum(F.col("__xq") * F.col("__mg")).cast("decimal(38,18)").alias("__dg"),
        F.sum(F.col("__xq") * F.col("__xq")).cast("decimal(38,18)").alias("__xx"),
        F.sum(F.col("__mo") * F.col("__mo")).cast("decimal(38,18)").alias("__oo"),
        F.sum(F.col("__mg") * F.col("__mg")).cast("decimal(38,18)").alias("__gg"),
    )
    cos_o = F.try_divide(
        F.col("__do").cast("double"),
        F.sqrt(F.col("__xx").cast("double"))
        * F.sqrt(F.col("__oo").cast("double")),
    )
    cos_g = F.try_divide(
        F.col("__dg").cast("double"),
        F.sqrt(F.col("__xx").cast("double"))
        * F.sqrt(F.col("__gg").cast("double")),
    )
    q = per_vec.select(
        label_col,
        F.round(cos_o, 9).cast("decimal(12,9)").alias("__co"),
        F.round(cos_g, 9).cast("decimal(12,9)").alias("__cg"),
    )
    g = q.groupBy(label_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("__co").cast("decimal(38,9)").alias("__sco"),
        F.sum("__cg").cast("decimal(38,9)").alias("__scg"),
    )
    mo = F.col("__sco").cast("double") / F.col("n_vecs").cast("double")
    mg = F.col("__scg").cast("double") / F.col("n_vecs").cast("double")
    return g.select(
        label_col,
        "n_vecs",
        F.round(mo, 6).alias("cos_own"),
        F.round(mg, 6).alias("cos_global"),
        F.round(mo - mg, 6).alias("margin"),
    ).orderBy(label_col)
