"""Small engine utilities."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def shuffle_partitions(spark, default: int = 32) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``default`` when the conf is unset or non-numeric ("auto" on
    AQE-tuned clusters) — a bare int() there raises ValueError and
    takes the whole query down over a tuning knob."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (ValueError, TypeError):
        return default


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition a narrow input before CPU-heavy per-row work.

    A single small parquet file scans as ONE task (maxPartitionBytes
    sizing), which would serialize compute-bound stages (hashing,
    similarity kernels, ABI decode) no matter how many cores exist. At
    lake scale inputs arrive in thousands of splits and this shuffle is
    skipped by the caller or costs ~nothing relative to the work it
    parallelizes — the round-robin exchange moves only the narrow input
    rows once.
    """
    sc = df.sparkSession.sparkContext
    n = partitions or sc.defaultParallelism
    return df.repartition(n)


# beyond this many rows, TakeOrderedAndProject's per-partition heaps
# (page*limit rows held in executor memory) stop being a win — fall
# back to the spillable global-sort window plan for adversarially deep
# pages (user-facing endpoints must not let `page` drive memory)
MAX_HEAP_TOP = 10_000


def paginate(df: DataFrame, order_by: list[Column], page: int, limit: int) -> DataFrame:
    """Skip/limit pagination without a global single-partition sort.

    A bare ``row_number() OVER (ORDER BY ...)`` window shuffles every
    filtered row to ONE task — the classic deep-pagination scale-killer.
    Since skip+limit is known and small (pages are user-facing), the
    scale-safe plan is:

      1. ``orderBy(...).limit(skip+limit)`` → TakeOrderedAndProject:
         each partition keeps its local top-(skip+limit), the driver
         merges bounded heaps — no full sort, no single-task shuffle.
      2. row_number over the ≤ skip+limit survivors (trivially small)
         to drop the first ``skip``.

    Pages deeper than MAX_HEAP_TOP rows take the window plan instead:
    slower (one sorted partition) but spillable, so a hostile ``page``
    value cannot drive unbounded executor/driver memory.

    ``order_by`` must be a total order (tie-broken) for stable pages.
    """
    page, limit = max(1, int(page)), int(limit)
    skip = (page - 1) * limit
    w = Window.orderBy(*order_by)
    if page * limit > MAX_HEAP_TOP:
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") > skip) & (F.col("__rn") <= skip + limit))
            .drop("__rn")
        )
    top = df.orderBy(*order_by).limit(page * limit)
    if page == 1:
        return top
    return (
        top.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > skip)
        .drop("__rn")
    )


# DataFrames persisted by operators in service of a single query, so a
# long-lived session (notebook, server) can release them deterministically
# instead of waiting for LRU eviction — VERDICT r2 task 5
_TRACKED_PERSISTS: list[DataFrame] = []

# localCheckpoint-ed frames (iterative operators). These do NOT go
# through the CacheManager — Dataset.unpersist() can't free them; the
# storage blocks belong to the internal RDD under the LogicalRDD plan
# node, and unlike persist() there is no lineage to recompute from, so
# a released frame is dead. Kept in a separate registry because release
# is a different (JVM-side) call — VERDICT r3 task 3.
_TRACKED_CHECKPOINTS: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + register for release_persisted()."""
    _TRACKED_PERSISTS.append(df.persist())
    return df


def tracked_local_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager=True) + register for release_persisted().

    For checkpointed frames the RESULT plan still references (e.g. the
    converged cluster frame, a tree walk's per-level frontiers): they
    must stay alive until the query result is consumed, then
    release_persisted() frees their blocks deterministically. Frames a
    loop SUPERSEDES should instead be freed immediately with
    release_local_checkpoint()."""
    out = df.localCheckpoint(eager=True)
    _TRACKED_CHECKPOINTS.append(out)
    return out


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free a localCheckpoint-ed frame's storage blocks NOW.

    The frame is unreadable afterwards (no lineage to recompute) — only
    call on frames nothing references anymore (round N-1 of an
    iterative operator once round N is materialized eagerly)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return True
    except Exception:  # not a LogicalRDD / session stopped
        return False


def release_persisted() -> int:
    """Release every operator-persisted/checkpointed frame; returns
    count released.

    Call after consuming a query's result (bench.py does per query;
    gates rely on LRU for the cache side). Safe to call repeatedly.
    Checkpointed frames are DEAD after release (no lineage), so callers
    must not reuse previously returned DataFrames past this point."""
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    while _TRACKED_CHECKPOINTS:
        if release_local_checkpoint(_TRACKED_CHECKPOINTS.pop()):
            n += 1
    # a memoized plan may reference a just-released checkpoint, which is
    # unrecomputable — invalidate the memo so the next call rebuilds
    # (persisted frames would merely recompute; checkpoints would throw)
    clear_plan_cache()
    return n


class persist_scope:
    """Context manager releasing ONLY the frames tracked inside it.

    release_persisted() empties the session-global registries — correct
    for bench/gates where one query owns the session, WRONG inside a
    long-lived component (a streaming micro-batch, a server handler)
    that shares the session with other live computations: it would kill
    checkpoints the other computation still references. persist_scope
    snapshots both registries on entry and on exit releases exactly the
    frames appended since — the scope's own persists/checkpoints —
    leaving everything older untouched. (Frames tracked by OTHER
    threads during the scope are also swept; the registries are
    session-global, so scope concurrent work accordingly.) The plan
    cache is left alone: memoized plans referencing older checkpoints
    stay valid.
    """

    def __enter__(self) -> "persist_scope":
        self._n_persists = len(_TRACKED_PERSISTS)
        self._n_ckpts = len(_TRACKED_CHECKPOINTS)
        return self

    def __exit__(self, *exc) -> None:
        while len(_TRACKED_PERSISTS) > self._n_persists:
            try:
                _TRACKED_PERSISTS.pop().unpersist()
            except Exception:
                pass
        while len(_TRACKED_CHECKPOINTS) > self._n_ckpts:
            release_local_checkpoint(_TRACKED_CHECKPOINTS.pop())


def stage_boundary(df: DataFrame, cut_lineage: bool = False) -> DataFrame:
    """Hard plan barrier: materialize ``df`` and cut lineage.

    Catalyst fuses adjacent projections (CollapseProject) and pushes
    filters through exchanges all the way into the scan. When a frame is
    produced by one heavy expression pipeline and consumed by another
    (e.g. ABI *encode* feeding the ABI *decode* operator in the
    roundtrip fixture), that fusion substitutes the producer's whole
    expression tree into every consumer expression — the generated
    method blows janino's 64 KB limit and the stage silently falls back
    to interpreted eval (observed: BENCH_r01 hm_decode_roundtrip, 4.5 s
    of a 13.4 s bench).

    ``persist()`` puts an InMemoryRelation between producer and
    consumer: the consumer plans against the cache's opaque output
    attributes, so neither projection collapse nor pushdown
    substitution can cross it — exactly the shape production has,
    where encode writes to storage and decode reads raw logs back.
    Measured against the alternatives at sf0.1 (roundtrip wall time):
    persist 0.97 s, temp-parquet write/read 1.6 s, localCheckpoint
    3.1 s (InternalRow serialization dominates). The columnar cache is
    LRU-evicted, so not unpersisting per-query frames is safe; the
    tracked registry additionally lets long sessions release eagerly.

    ``cut_lineage=True`` additionally truncates the LOGICAL plan
    (localCheckpoint, eager): persist() inserts an InMemoryRelation at
    PHYSICAL planning only, so every DataFrame built downstream still
    re-analyzes the whole upstream logical tree — in a long composed
    pipeline (curate_pipeline: filter → LSH → fixpoint → span surgery
    → chunk/pack) that made driver-side plan CONSTRUCTION the dominant
    cost (~7 s of a 21 s sf0.1 run, growing with pipeline length).
    Checkpointing swaps the boundary's plan for a LogicalRDD leaf, so
    downstream analysis is O(downstream). Use for MULTI-stage
    compositions; for a single producer→consumer barrier plain persist
    is cheaper (no InternalRow serialization of the boundary frame).
    """
    if cut_lineage:
        return tracked_local_checkpoint(df)
    return tracked_persist(df)


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple],
    salt: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed keys.

    Stage 1 groups by (key, random-salt) so one hot key fans out over
    ``salt`` reducers; stage 2 re-combines the partials per key. AQE's
    skew-join splitting covers joins, but a single monster group in a
    groupBy still lands on one task without this.

    aggs: output_name → (column, partial_fn, combine_fn), e.g.
    {"n": (F.lit(1), F.count, F.sum), "total": (F.col("v"), F.sum, F.sum)}
    — each partial/combine pair must be algebraic (count→sum, sum→sum,
    min→min, max→max).
    """
    salted = df.withColumn("__salt", (F.rand(seed=0) * salt).cast("int"))
    partial = salted.groupBy(*key_cols, "__salt").agg(
        *[pf(col).alias(f"__p_{name}") for name, (col, pf, _cf) in aggs.items()]
    )
    return partial.groupBy(*key_cols).agg(
        *[cf(F.col(f"__p_{name}")).alias(name) for name, (_col, _pf, cf) in aggs.items()]
    )


def salted_join(
    big: DataFrame,
    other: DataFrame,
    on: list[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the big (skewed) side, replicate the
    other side once per salt value, join on (keys + salt) — one hot key
    fans out over ``salt`` reducer tasks instead of landing on one.

    The static counterpart of AQE's skew-join splitting, for the cases
    AQE does not cover: a deterministic plan shape regardless of
    runtime stats, clusters running with AQE off, and downstream
    operators that must inherit the (key, salt) distribution. Prefer
    ``F.broadcast(other)`` when the other side fits in memory — salting
    only pays when BOTH sides must shuffle; it costs a ``salt``×
    replication of ``other``'s shuffle volume to debottleneck the big
    side, so size ``salt`` to the hot key's excess, not to 1000.

    ``how``: 'inner' or 'left' (a left row joins exactly its own salt
    replica, so multiplicities match the plain join). 'right'/'full'
    would emit unmatched OTHER-side rows once per replica — rejected.
    The salt is data-independent (seeded per-partition PRNG, the
    salted_agg convention): correct for ANY assignment, so layout
    nondeterminism cannot change the result set.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join: how must be 'inner' or 'left'")
    if salt < 1:
        raise ValueError("salted_join: need salt >= 1")
    if salt == 1:
        return big.join(other, on, how)
    sc = "__salt"
    while sc in big.columns or sc in other.columns:
        sc += "_"
    b = big.withColumn(sc, (F.rand(seed=0) * salt).cast("int"))
    o = other.withColumn(
        sc, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return b.join(o, [*on, sc], how).drop(sc)


# ------------------------------------------------------------- plan cache ----

# (module, qualname, session, sf_dir) → built DataFrame. A DataFrame is
# an immutable logical plan, so reusing it across calls is safe; the
# value keeps a strong ref to its SparkSession so a dead session's id()
# can never alias a live entry.
_PLAN_CACHE: dict = {}


def plan_cache(fn):
    """Memoize a ``(spark, sf_dir) -> DataFrame`` query builder.

    The prepared-statement analog: building a wide query's Column tree
    costs real driver time (hundreds of py4j round trips — up to ~1 s
    for the M1-M9 fold, measured), while the DataFrame itself is a
    reusable immutable plan. Serving layers and repeated bench runs get
    the build for free; correctness is unaffected because builders are
    pure functions of (session, sf_dir).
    """
    import functools

    @functools.wraps(fn)
    def wrapper(spark, sf_dir):
        key = (fn.__module__, fn.__qualname__, id(spark), sf_dir)
        hit = _PLAN_CACHE.get(key)
        if hit is not None and hit[0] is spark:
            return hit[1]
        df = fn(spark, sf_dir)
        _PLAN_CACHE[key] = (spark, df)
        return df

    return wrapper


def clear_plan_cache() -> int:
    n = len(_PLAN_CACHE)
    _PLAN_CACHE.clear()
    return n


# key → (py4j gateway, value). Each value holds handles to JVM objects
# of the gateway it was built on; keeping that gateway alongside means a
# restarted gateway is never handed another's (dead) objects, and the
# strong reference keeps its identity from being reused.
_JVM_CACHE: dict = {}


def jvm_cached(key, build):
    """``build()``, memoized per ``key`` for the life of the JVM gateway.

    For Column expressions that are pure functions of ``key``: building
    a wide expression tree costs one py4j round trip per node (thousands
    for the decode projection and the entries fold), while a Column is an
    immutable, session-independent expression that every DataFrame built
    from it resolves afresh. Per-batch code that rebuilds the same trees
    pays that cost once per JVM instead of once per call.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    hit = _JVM_CACHE.get(key)
    if hit is not None and hit[0] is gateway:
        return hit[1]
    value = build()
    _JVM_CACHE[key] = (gateway, value)
    return value
