"""Relational operator inventory over the driver's star schema.

Each entry: name → (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql).
The Spark side is idiomatic DataFrame code; the oracle is independently
written DuckDB SQL. Conventions that make the value-hash comparison
engine-proof:

  - every computed column is aliased identically (snake_case) on both
    sides;
  - money math runs in DECIMAL with explicit small scales so both
    engines compute the exact same value (no float-sum order issues),
    cast to DOUBLE only at the end;
  - timestamps are emitted as epoch microseconds (BIGINT) or formatted
    date strings — never raw timestamp objects;
  - every ranking has a total tie-break (unique id last).

Operator coverage mapping to SURVEY.md §2: A1-A7 (aggregations), P8-P12
(filters), O1-O4 (sort/limit/pagination), J1-J4 (join family: broadcast
inner/left, semi, anti), set ops, windows (beyond-reference extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hypermap_etl_spark.sources.tables import load_table
from hypermap_etl_spark.util import plan_cache, paginate


def _dec(col: str, p: int = 12, s: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal({p},{s})")


def _one_minus(col: str) -> F.Column:
    return F.lit(1).cast("decimal(6,4)") - F.col(col).cast("decimal(6,4)")


def _one_plus(col: str) -> F.Column:
    return F.lit(1).cast("decimal(6,4)") + F.col(col).cast("decimal(6,4)")


# Hub-order guard for _copurchase_pairs (r11, VERDICT r10 #6 / guide
# §2.5): an order's pair expansion is quadratic in its distinct-part
# count, and a single-HOF pair build materializes ALL n·(n-1)/2 pair
# structs of one order inside one row's evaluation — bounded executor
# memory only while orders stay small. The chunked expansion below
# bounds every row's evaluation to ≤ cap² pair structs (~1 MB at 256)
# whatever the order size. TPC-H orders hold ≤ 7 parts and web baskets
# rarely exceed dozens, so real rows take the m=1 path identical to
# the r10 shape; raising the cap trades per-row memory for fewer
# chunk rows on pathological hubs.
_HUB_ORDER_CAP = 256


def _copurchase_pairs(li: DataFrame, count_col: str = "c") -> DataFrame:
    """Distinct co-purchased part pairs (p1 < p2) with the number of
    orders containing both — the shared edge build of every co-purchase
    graph query.

    ONE corpus exchange instead of four (r10, guide §2.4): the previous
    shape was distinct → self-join on l_orderkey → pair aggregate,
    which exchanges the projected lineitem for the distinct, twice more
    for the sort-merge self-join, and once for the pair counts. Here
    each order's DISTINCT part set is collected in one map-combinable
    aggregate (collect_set dedups, subsuming the distinct), pairs are
    generated per order with array HOFs, and only the pair aggregate
    shuffles after that.

    Hub-order bound (r11, guide §2.5): the sorted set is processed in
    ≤ _HUB_ORDER_CAP-element chunks — each order explodes into one row
    per chunk pair (i ≤ j) carrying ONLY its two slices, and a row
    expands to the triangle within chunk i (i = j) or the cross
    product chunk_i × chunk_j (i < j). Per-row evaluation memory is
    ≤ cap² structs regardless of order size, with no extra aggregate
    branch, join or union; orders within the cap take exactly one
    (0,0) row — the r10 single-HOF shape.

    Equivalence (oracle-checked per query): slices of the sorted
    distinct array are strictly increasing and disjoint, so
    within-chunk triangles plus cross-chunk products enumerate exactly
    the p1 < p2 pairs once per order; NULL partkeys vanish from
    collect_set just as they failed p1 < p2 in the join shape; NULL
    orderkeys are filtered as equi-join keys never match.
    """
    cap = int(_HUB_ORDER_CAP)
    sets = (
        li.filter(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("__ps"))
    )
    arr = F.col("__ps")
    # m chunk count (≥ 1 so empty sets still form one no-op row rather
    # than a descending sequence); chunk-pair index rows (i ≤ j)
    m = F.greatest(F.ceil(F.size(arr) / F.lit(cap)).cast("int"), F.lit(1))
    ij = F.flatten(
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda i: F.transform(
                F.sequence(i, m - 1),
                lambda j: F.struct(i.alias("i"), j.alias("j")),
            ),
        )
    )
    chunked = sets.select(
        F.explode(ij).alias("__ij"), arr.alias("__ps")
    ).select(
        F.slice(arr, F.col("__ij.i") * cap + 1, cap).alias("__a"),
        F.slice(arr, F.col("__ij.j") * cap + 1, cap).alias("__b"),
        (F.col("__ij.i") == F.col("__ij.j")).alias("__diag"),
    )
    a, b = F.col("__a"), F.col("__b")
    triangle = F.flatten(
        F.transform(
            a,
            lambda x, i: F.transform(
                F.slice(a, i + F.lit(2), F.size(a)),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    cross = F.flatten(
        F.transform(
            a,
            lambda x: F.transform(
                b, lambda y: F.struct(x.alias("p1"), y.alias("p2"))
            ),
        )
    )
    pairs = F.when(F.col("__diag"), triangle).otherwise(cross)
    return (
        chunked.select(F.explode(pairs).alias("__pr"))
        .select("__pr.p1", "__pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias(count_col))
    )


# --------------------------------------------------------------- pricing ----

@plan_cache
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical wide hash aggregate.
    Exercises A1/A3 (grouped sums/counts) with exact decimal math."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    charge = disc_price * _one_plus("l_tax")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).alias("__sq"),
        F.sum(_dec("l_extendedprice")).alias("__sb"),
        F.sum(disc_price).alias("__sd"),
        F.sum(charge).alias("__sc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("__sq").cast("double").alias("sum_qty"),
        F.col("__sb").cast("double").alias("sum_base_price"),
        F.col("__sd").cast("double").alias("sum_disc_price"),
        F.col("__sc").cast("double").alias("sum_charge"),
        F.round(F.col("__sq").cast("double") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("__sb").cast("double") / F.col("count_order"), 6).alias("avg_price"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
       * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@plan_cache
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective filters → 3-way join → agg → top-10.
    customer is broadcast (dim); lineitem⋈orders shuffles on orderkey."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    revenue = F.sum(_dec("l_extendedprice") * _one_minus("l_discount"))
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("__rev"))
        .select(
            "l_orderkey",
            F.col("__rev").cast("double").alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_ORACLE = """
SELECT
  l_orderkey,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


@plan_cache
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-style multi-join chain: fact ⋈ broadcast dim pyramid, revenue
    per customer nation inside one region."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    revenue = F.sum(_dec("l_extendedprice") * _one_minus("l_discount"))
    return (
        joined.groupBy("n_name")
        .agg(revenue.alias("__rev"))
        .select("n_name", F.col("__rev").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_ORACLE = """
SELECT
  n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# --------------------------------------------------------------- windows ----

def top3_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window row_number (O1/O4 generalization)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rank")
        .orderBy("c_mktsegment", "rank")
    )


TOP3_ORACLE = """
SELECT c_mktsegment, c_custkey, c_acctbal, rank FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer
) WHERE rank <= 3
ORDER BY c_mktsegment, rank
"""


def events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative sum (decimal-exact) — window frame aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.sum(_dec("value")).over(w).cast("double").alias("cum_value"),
    )


RUNNING_ORACLE = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CAST(SUM(CAST(value AS DECIMAL(12,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value
FROM events
"""


@plan_cache
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min) via lag + running flag-sum — the
    batch equivalent of a session window; streaming variant lives in
    streaming/scan.py."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flag = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id",
        "event_id",
        us.alias("ts_us"),
        F.sum(flag).over(wrun).alias("session_id"),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        )
        .orderBy("user_id", "session_id")
    )


SESSIONS_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS flag
  FROM events
),
sess AS (
  SELECT user_id, event_id, ts_us,
         CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MAX(ts_us) - MIN(ts_us) AS duration_us
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


# ---------------------------------------------------- events serving ops ----

def events_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3/A4 on the star events table: single hash aggregate with
    percent-of-total via broadcast total (no global window)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "cnt",
            F.round(F.col("cnt") * 100.0 / F.col("__t"), 2).alias("pct"),
        )
        .orderBy(F.desc("cnt"), F.asc("event_type"))
    )


STATUS_ORACLE = """
SELECT event_type, COUNT(*) AS cnt,
       ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM events), 2) AS pct
FROM events
GROUP BY event_type
ORDER BY cnt DESC, event_type ASC
"""


def events_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/O4 arg-max: latest event by (ts, event_id) → TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(1)
        .select("event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_type", "user_id")
    )


LAST_ORACLE = """
SELECT event_id, epoch_us(ts) AS ts_us, event_type, user_id
FROM events ORDER BY ts DESC, event_id DESC LIMIT 1
"""


def events_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 pagination: filters + sort desc + skip/limit (page 2, 20/page)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "click")
        & (F.col("ts") >= F.lit("2024-01-02 00:00:00").cast("timestamp"))
    )
    # util.paginate: TakeOrderedAndProject over 40 rows, no global sort
    return paginate(ev, [F.desc("ts"), F.desc("event_id")], page=2, limit=20).select(
        "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "user_id", "value"
    )


PAGE2_ORACLE = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, value
FROM events
WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-02 00:00:00'
ORDER BY ts DESC, event_id DESC
LIMIT 20 OFFSET 20
"""


def events_page_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 pagination, HOSTILE-DEPTH path: page×limit beyond
    util.MAX_HEAP_TOP (10 200 rows deep) takes the spillable
    global-window plan instead of per-partition heaps — a user-facing
    endpoint must not let `page` drive executor memory. Empty below
    ~10k qualifying rows (sf0.001); non-trivial at the sf0.01 gate."""
    ev = load_table(spark, sf_dir, "events")
    return paginate(ev, [F.desc("ts"), F.desc("event_id")], page=510, limit=20).select(
        "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "user_id", "event_type"
    )


PAGE_DEEP_ORACLE = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
FROM events
ORDER BY ts DESC, event_id DESC
LIMIT 20 OFFSET 10180
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct
    active users per (cohort_day, day_offset). The canonical
    product-analytics query — a first-seen argmin per user (one hash
    agg on user_id), a broadcast-friendly self-enrichment of each
    event with its user's cohort, then one distinct-count aggregate.
    The fact table shuffles once on user_id and once for the final
    (cohort, offset) aggregate; nothing quadratic."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.date_trunc("day", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(day).alias("__first_day"))
    enriched = ev.select("user_id", day.alias("__day")).join(first, "user_id")
    return (
        enriched.groupBy(
            F.date_format("__first_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("__day"), F.col("__first_day")).cast("bigint").alias(
                "day_offset"
            ),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
)
SELECT strftime(f.first_day, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', f.first_day, date_trunc('day', e.ts)) AS BIGINT)
         AS day_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN f USING (user_id)
WHERE e.user_id IS NOT NULL
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): each stage is the
    user's earliest qualifying event STRICTLY AFTER the previous
    stage — three keyed min-aggregates chained by user_id joins, so
    every shuffle shares the user_id key and AQE reuses the exchange;
    no window over the whole event stream."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())

    def first_after(event_type: str, prev: DataFrame | None, prev_col: str | None):
        step = ev.filter(F.col("event_type") == event_type)
        if prev is not None:
            step = step.join(prev, "user_id").filter(F.col("ts") > F.col(prev_col))
        return step.groupBy("user_id").agg(F.min("ts").alias(f"t_{event_type}"))

    v = first_after("view", None, None)
    c = first_after("click", v, "t_view")
    p = first_after("purchase", c, "t_click")
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.unix_micros("t_view").alias("t_view_us"),
            F.unix_micros("t_click").alias("t_click_us"),
            F.unix_micros("t_purchase").alias("t_purchase_us"),
            F.col("t_purchase").isNotNull().alias("converted"),
        )
        .orderBy("user_id")
    )


FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id
)
SELECT v.user_id,
       epoch_us(v.t_view) AS t_view_us,
       epoch_us(c.t_click) AS t_click_us,
       epoch_us(p.t_purchase) AS t_purchase_us,
       p.t_purchase IS NOT NULL AS converted
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
ORDER BY v.user_id
"""


def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-user event counts spread across one
    column per event type. The value list is EXPLICIT, which keeps the
    plan a single hash aggregate with conditional counts — an
    unlisted pivot would force a distinct-values pre-query (an extra
    scan + a driver collect) before the plan can even be built."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
                for t in types
            ],
        )
        .orderBy("user_id")
    )


PIVOT_ORACLE = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events WHERE user_id IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


def events_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): melt the pivoted per-user counts back to
    (user_id, event_type, n) rows with stack() — a pure projection
    (generator, no shuffle) over the pivot's aggregate. Round-trips
    the long→wide→long path end to end."""
    wide = events_type_pivot(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    stack_args = ", ".join(f"'{t}', n_{t}" for t in types)
    return wide.select(
        "user_id",
        F.expr(f"stack({len(types)}, {stack_args}) AS (event_type, n)"),
    ).orderBy("user_id", "event_type")


UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
)
SELECT user_id, event_type, n FROM (
  SELECT user_id, 'click' AS event_type, n_click AS n FROM wide
  UNION ALL SELECT user_id, 'error', n_error FROM wide
  UNION ALL SELECT user_id, 'purchase', n_purchase FROM wide
  UNION ALL SELECT user_id, 'signup', n_signup FROM wide
  UNION ALL SELECT user_id, 'view', n_view FROM wide
)
ORDER BY user_id, event_type
"""


def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| > 3): one pass computes each
    type's mean/stddev (map-combined), the small stats table joins
    back broadcast, and the flag is a map-side expression — the
    standard data-quality screen with no second shuffle of the facts."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("__mu"), F.stddev_samp("value").alias("__sd")
    )
    z = (F.col("value") - F.col("__mu")) / F.col("__sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3.0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("z_score"),
        )
        .orderBy("event_id")
    )


OUTLIERS_ORACLE = """
WITH s AS (
  SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       ROUND((value - mu) / sd, 6) AS z_score
FROM events e JOIN s ON e.event_type = s.event_type
WHERE value IS NOT NULL AND ABS((value - mu) / sd) > 3.0
ORDER BY event_id
"""


def parts_size_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() vs dense_rank() vs row_number() in one window — the
    tie-semantics triple on a tie-heavy key (integer sizes per brand).
    Gap-ranking keeps ALL peers of a qualifying rank, so the top-3
    cut admits more than 3 rows per brand; the existing top-k gates
    pin only the row_number semantics."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_size").desc())
    wt = w.orderBy(F.col("p_size").desc(), F.col("p_partkey").asc())
    return (
        part.withColumn("size_rank", F.rank().over(w).cast("bigint"))
        .withColumn("size_dense", F.dense_rank().over(w).cast("bigint"))
        .withColumn("size_rownum", F.row_number().over(wt).cast("bigint"))
        .filter(F.col("size_rank") <= 3)
        .select("p_brand", "p_partkey", "p_size", "size_rank", "size_dense", "size_rownum")
        .orderBy("p_brand", "size_rownum")
    )


RANK_TIES_ORACLE = """
SELECT p_brand, p_partkey, p_size,
       rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS size_rank,
       dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS size_dense,
       row_number() OVER (PARTITION BY p_brand
                          ORDER BY p_size DESC, p_partkey ASC) AS size_rownum
FROM part
QUALIFY size_rank <= 3
ORDER BY p_brand, size_rownum
"""


def customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT between query results (beyond-reference §2.6
    completion): customers who bought in BOTH halves of the date range
    vs ONLY the first half. Each set op plans as a distinct-aggregate +
    join (left_semi/left_anti under the hood) on the bare key — no
    full-row shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    first_half = orders.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_custkey")
    second_half = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select("o_custkey")
    both = first_half.intersect(second_half).select(
        "o_custkey", F.lit("both").alias("cohort")
    )
    # subtract = EXCEPT DISTINCT; exceptAll would be MULTISET
    # subtraction, leaking every repeat buyer's extra copies into the
    # "first only" cohort
    only_first = first_half.subtract(second_half).select(
        "o_custkey", F.lit("first_only").alias("cohort")
    )
    return both.unionByName(only_first).orderBy("cohort", "o_custkey")


SET_OPS_ORACLE = """
WITH f AS (SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
s AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
SELECT o_custkey, 'both' AS cohort FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM s)
UNION ALL
SELECT o_custkey, 'first_only' AS cohort FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM s)
ORDER BY cohort, o_custkey
"""


def events_type_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-sequence mining: counts of consecutive event-type
    transitions per user stream (the Markov-chain edge table). One
    user-keyed window (lag) + one hash aggregate on the (from, to)
    pair — same single-exchange shape as sessionization, with
    event_id as the total within-timestamp tie-break."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    pairs = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("from_type", "to_type")
    )


BIGRAMS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS from_type
  FROM events WHERE user_id IS NOT NULL
)
SELECT from_type, event_type AS to_type, COUNT(*) AS n
FROM seq WHERE from_type IS NOT NULL
GROUP BY from_type, to_type
ORDER BY from_type, to_type
"""


def lineitem_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of extended prices: the min/max come from
    one map-combined aggregate, broadcast as a single row, and the
    binning is exact integer math on DECIMAL cents (floor((x-min)/w))
    — no float bin-edge drift between engines. Top bin is closed so
    the max lands in bin 9, not a phantom bin 10."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (_dec("l_extendedprice") * 100).cast("bigint")
    bounds = li.agg(
        F.min(cents).alias("__lo"), F.max(cents).alias("__hi")
    )
    n_bins = 10
    width = (F.col("__hi") - F.col("__lo") + n_bins) / n_bins  # ceil-ish, >0
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.floor((cents - F.col("__lo")) / width),
    ).cast("bigint")
    return (
        li.crossJoin(F.broadcast(bounds))
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.min(cents) / 100.0, 2)).alias("bin_min"),
            (F.round(F.max(cents) / 100.0, 2)).alias("bin_max"),
        )
        .orderBy("bin")
    )


HISTOGRAM_ORACLE = """
WITH c AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM lineitem
),
b AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM c)
SELECT LEAST(9, CAST(FLOOR((cents - lo) / ((hi - lo + 10) / 10.0)) AS BIGINT)) AS bin,
       COUNT(*) AS n,
       ROUND(MIN(cents) / 100.0, 2) AS bin_min,
       ROUND(MAX(cents) / 100.0, 2) AS bin_max
FROM c CROSS JOIN b
GROUP BY bin ORDER BY bin
"""


def events_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation (tumbling day window, batch form)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "day")
    )


DAILY_ORACLE = """
SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id, date_trunc('day', ts)
ORDER BY user_id, day
"""


# ------------------------------------------------------------- join zoo ----

def customer_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim joins + grouped stats (J1 analog over star dims)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_acctbal"
            ),
            F.max("c_acctbal").alias("max_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


CUSTNATION_ORACLE = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_acctbal,
       MAX(c_acctbal) AS max_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def orders_with_big_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-semi: orders having ≥1 lineitem with quantity ≥ 45 (EXISTS)."""
    orders = load_table(spark, sf_dir, "orders")
    big = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


SEMI_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def nations_without_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-anti: dimension keys absent from the fact side."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer").select("c_nationkey").distinct()
    return (
        nation.join(cust, nation.n_nationkey == cust.c_nationkey, "left_anti")
        .select("n_name")
        .orderBy("n_name")
    )


ANTI_ORACLE = """
SELECT n_name FROM nation
WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
ORDER BY n_name
"""


def top_orders_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 orders by price, denormalized with the customer name —
    TakeOrderedAndProject then a broadcast join of just 20 rows."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    top = orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(20)
    return (
        top.join(F.broadcast(cust), top.o_custkey == cust.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_name")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


DENORM_ORACLE = """
SELECT o_orderkey, o_totalprice, c_name
FROM (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20)
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
"""


def parts_size_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9-style predicate + LIKE, pushed into the parquet scan."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(
            F.col("p_size").between(10, 20) & F.col("p_type").startswith("PROMO")
        )
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .orderBy("p_partkey")
    )


PARTS_ORACLE = """
SELECT p_partkey, p_name, p_brand, p_retailprice
FROM part
WHERE p_size BETWEEN 10 AND 20 AND p_type LIKE 'PROMO%'
ORDER BY p_partkey
"""


def activity_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op (union all) + distinct-count aggregate."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.lit("purchase").alias("src")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.lit("click").alias("src")
    )
    return (
        purchases.unionAll(clicks)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_actions"),
            F.countDistinct("src").alias("n_kinds"),
        )
        .orderBy("user_id")
    )


UNION_ORACLE = """
SELECT user_id, COUNT(*) AS n_actions, COUNT(DISTINCT src) AS n_kinds
FROM (
  SELECT user_id, 'purchase' AS src FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, 'click' AS src FROM events WHERE event_type = 'click'
)
GROUP BY user_id
ORDER BY user_id
"""


def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-style: tight filter + single global sum — the pure-pushdown
    query (all three predicates reach the scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.sum(_dec("l_extendedprice") * F.col("l_discount").cast("decimal(6,4)"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(rev.alias("__r"), F.count(F.lit(1)).alias("n_items"))
        .select(F.col("__r").cast("double").alias("revenue"), "n_items")
    )


Q6_ORACLE = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-style conditional aggregation: promo revenue share."""
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(load_table(spark, sf_dir, "part"))
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    agg = joined.agg(
        F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0).cast("decimal(20,6)"))).alias("__p"),
        F.sum(rev).alias("__t"),
    )
    return agg.select(
        F.round(F.col("__p").cast("double") * 100.0 / F.col("__t").cast("double"), 6).alias(
            "promo_share_pct"
        )
    )


Q14_ORACLE = """
SELECT ROUND(
  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
        THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
        ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) * 100.0
  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE),
  6) AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals over (status, priority) — beyond-reference
    grouping-sets coverage (SURVEY §2.3 notes the reference has none)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column access: extract props.k from the JSON
    string column and aggregate it."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", k.alias("k"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"), F.max("k").alias("max_k"))
        .orderBy("user_id")
    )


JSON_ORACLE = """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY user_id
"""


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window tumbling aggregation (batch form of the streaming op;
    same operator Structured Streaming uses with a watermark)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_dec("value")).cast("double").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start_us", "event_type")
    )


TUMBLING_ORACLE = """
SELECT epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS window_start_us,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY time_bucket(INTERVAL '10 minutes', ts), event_type
ORDER BY window_start_us, event_type
"""


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): for each purchase, the user's most
    recent click at-or-before it. Oracle = DuckDB's native ASOF JOIN;
    ours is the union-sort-window composition (one shuffle, no range
    explosion)."""
    from hypermap_etl_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", "ts", "click_id", F.unix_micros(F.col("ts")).alias("click_ts_us"))
    )
    joined = asof_join(
        purchases, clicks, ["user_id"], "ts", "ts", ["click_id", "click_ts_us"], suffix=""
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("click_id"),
        (F.unix_micros(F.col("ts")) - F.col("click_ts_us")).alias("gap_us"),
    ).orderBy("event_id")


ASOF_ORACLE = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, MAX(event_id) AS click_id, epoch_us(ts) AS click_ts_us
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       c.click_id, epoch_us(p.ts) - c.click_ts_us AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


def events_interval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (operators/rangejoin.py): every 100th event anchors
    a 1-hour window [ts, ts+1h]; count the events each window contains.
    The naive BETWEEN join is a BroadcastNestedLoopJoin — ours buckets
    the time axis (1 h buckets ≈ the window length, ≤ 2 bucket rows per
    window) and equi-joins, re-checking bounds exactly."""
    from hypermap_etl_spark.operators.rangejoin import interval_join

    ev = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    windows = ev.filter(F.col("event_id") % 100 == 0).select(
        F.col("event_id").alias("window_id"),
        F.unix_micros(F.col("ts")).alias("lo"),
        (F.unix_micros(F.col("ts")) + hour_us).alias("hi"),
    )
    points = ev.select("event_id", F.unix_micros(F.col("ts")).alias("ts_us"))
    return (
        interval_join(points, windows, "ts_us", "lo", "hi", bucket_width=hour_us)
        .groupBy("window_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("window_id")
    )


INTERVAL_ORACLE = """
WITH w AS (
  SELECT event_id AS window_id, epoch_us(ts) AS lo, epoch_us(ts) + 3600000000 AS hi
  FROM events WHERE event_id % 100 = 0
),
p AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events)
SELECT window_id, COUNT(*) AS n_events
FROM w JOIN p ON p.ts_us BETWEEN w.lo AND w.hi
GROUP BY window_id ORDER BY window_id
"""


def events_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation (util.salted_agg): events grouped by the
    5-value event_type — exactly the hot-key shape where a plain
    groupBy lands a monster group on one task. The two-stage
    (key, salt) → key plan must produce values identical to the plain
    aggregate (algebraic partials: count→sum, decimal sum→sum), which
    is what the plain-SQL oracle verifies."""
    from hypermap_etl_spark.util import salted_agg

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", _dec("value").alias("v")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n": (F.lit(1), F.count, F.sum),
            "total_value": (F.col("v"), F.sum, F.sum),
        },
    )
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("total_value").cast("double").alias("total_value"),
    ).orderBy("event_type")


SALTED_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe join (util.salted_join, salt=8): events (the big,
    potentially hot-keyed side) against customer on user_id, revenue
    rolled up per market segment. Salting must be invisible in the
    result — each left row joins exactly its own salt replica — which
    is what the plain-SQL join oracle verifies; sums are decimal-exact
    so reducer order cannot wobble the values."""
    from hypermap_etl_spark.util import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), _dec("value").alias("v")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        salted_join(ev, cust, ["c_custkey"], salt=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("double").alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


SALTED_JOIN_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded sliding frame (ROWS 6 PRECEDING): 7-event moving average
    of value per user — decimal-exact sum over the frame, divided by
    the actual frame row count so the leading edge is correct."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round(
            (F.sum(_dec("value")).over(w) / F.count(F.lit(1)).over(w)).cast("double"), 6
        ).alias("avg7"),
    )


MOVING_AVG_ORACLE = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        AS DOUBLE), 6) AS avg7
FROM events
"""


def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (status, priority): all four aggregation
    levels in one pass (rollup's sibling; both engines define the NULL
    super-aggregate markers identically, surfaced as 'ALL' labels)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


def customer_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension fold (operators/scd2.py): customer blessed at
    t=1000, then an update snapshot at t=2000 that moves every
    custkey % 7 == 3 into a PROMO-MOVED segment — those keys get a
    closed v0 row plus a new current version; everyone else stays
    single-row current. The oracle reconstructs the fold with
    IS DISTINCT FROM change detection, so the md5-fingerprint shortcut
    in scd2_apply is itself under test (the table_diff discipline)."""
    from hypermap_etl_spark.operators.scd2 import scd2_apply, scd2_init

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    dim0 = scd2_init(cust, ["c_custkey"], ts_us=1000)
    upd = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 3, F.lit("PROMO-MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    return scd2_apply(dim0, upd, ["c_custkey"], ts_us=2000).orderBy(
        "c_custkey", "valid_from_us"
    )


SCD2_ORACLE = """
WITH cust AS (SELECT c_custkey, c_mktsegment FROM customer),
upd AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 3 THEN 'PROMO-MOVED'
              ELSE c_mktsegment END AS new_seg
  FROM cust
),
j AS (
  SELECT c.c_custkey, c.c_mktsegment, u.new_seg,
         c.c_mktsegment IS DISTINCT FROM u.new_seg AS changed
  FROM cust c JOIN upd u USING (c_custkey)
)
SELECT c_custkey, c_mktsegment,
       CAST(1000 AS BIGINT) AS valid_from_us,
       CAST(NULL AS BIGINT) AS valid_to_us, TRUE AS is_current
FROM j WHERE NOT changed
UNION ALL
SELECT c_custkey, c_mktsegment, CAST(1000 AS BIGINT),
       CAST(2000 AS BIGINT), FALSE
FROM j WHERE changed
UNION ALL
SELECT c_custkey, new_seg, CAST(2000 AS BIGINT),
       CAST(NULL AS BIGINT), TRUE
FROM j WHERE changed
ORDER BY c_custkey, valid_from_us
"""


def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with a custom set list — {(type, day), (type),
    (day)} but NOT the grand total, a shape neither ROLLUP nor CUBE can
    express (cube adds the () set; rollup can't produce (day) alone).
    Completes the multi-level aggregation family next to orders_cube /
    orders_rollup; one Expand + one hash aggregate, still a single
    scan. Value sums in exact decimal, cast at the end."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        _dec("value").alias("v"),
    )
    return (
        ev.groupingSets(
            [["event_type", "day"], ["event_type"], ["day"]],
            "event_type",
            "day",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("double").alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n",
            "total_value",
        )
        .orderBy("event_type", "day")
    )


GROUPING_SETS_ORACLE = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY GROUPING SETS ((event_type, strftime(ts, '%Y-%m-%d')),
                        (event_type),
                        (strftime(ts, '%Y-%m-%d')))
ORDER BY event_type, day
"""


CUBE_ORACLE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries frequent items (sketch.mg_topk, k=16) over a
    deliberately skewed stream: half the events map to 'heavy', 1/14th
    to 'warm', the rest to their (high-cardinality) user id — so the
    sketch must compress, and the two true heavy hitters (> n/17) must
    survive it. est_count depends on the merge layout, so the gate
    certifies the layout-invariant DERIVED property (the emb_lsh_recall
    pattern): every true hitter is present with
    true - n/(k+1) ≤ est ≤ true; the oracle computes the true hitters
    exactly and asserts the booleans as literals."""
    from hypermap_etl_spark.operators.sketch import mg_topk

    ev = load_table(spark, sf_dir, "events")
    stream = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.lit("heavy"))
        .when(F.col("event_id") % 7 == 1, F.lit("warm"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("item")
    )
    k = 16
    n = stream.count()
    thr = n / float(k + 1)
    sk = mg_topk(stream, "item", k=k)
    exact = stream.groupBy("item").agg(F.count(F.lit(1)).alias("true_cnt"))
    return (
        exact.filter(F.col("true_cnt") > thr)
        .join(sk, "item", "left")
        .select(
            "item",
            "true_cnt",
            F.col("est_count").isNotNull().alias("found"),
            (
                F.col("est_count").isNotNull()
                & (F.col("est_count") <= F.col("true_cnt"))
                & (F.col("est_count") >= F.col("true_cnt") - F.lit(thr))
            ).alias("within_bound"),
        )
        .orderBy("item")
    )


HEAVY_HITTERS_ORACLE = """
WITH s AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'heavy'
              WHEN event_id % 7 = 1 THEN 'warm'
              ELSE CAST(user_id AS VARCHAR) END AS item
  FROM events
),
n AS (SELECT COUNT(*) AS n FROM s),
e AS (SELECT item, COUNT(*) AS true_cnt FROM s GROUP BY item)
SELECT item, true_cnt, TRUE AS found, TRUE AS within_bound
FROM e WHERE true_cnt > (SELECT n FROM n) / CAST(17 AS DOUBLE)
ORDER BY item
"""


def events_topk_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming heavy-hitter STORE's read contract
    (streaming/topk.topk_store_read over a three-pseudo-batch store
    in the foreachBatch sink's batch_id= layout — the drift-store
    gate pattern applied to the top-k family): merging the per-batch
    Misra-Gries summaries must preserve the global guarantee, every
    item with true count > n/(k+1) present with
    true − n/(k+1) ≤ est ≤ true (Agarwal et al. 2012), no matter how
    the stream was chopped. Estimates are layout-dependent, so the
    gate certifies the derived booleans (the events_heavy_hitters
    pattern); the oracle computes the true hitters exactly."""
    import os
    import shutil
    import tempfile

    from hypermap_etl_spark.operators.sketch import mg_topk
    from hypermap_etl_spark.streaming.topk import topk_store_read

    k = 16
    ev = load_table(spark, sf_dir, "events")
    stream = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.lit("heavy"))
        .when(F.col("event_id") % 7 == 1, F.lit("warm"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("item"),
        F.coalesce(F.col("user_id"), F.lit(0)).alias("uid"),
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    store = os.path.join(tempfile.gettempdir(), f"gate_topk_store_{sf_tag}")
    shutil.rmtree(store, ignore_errors=True)
    for b in range(3):
        mg_topk(
            stream.filter(F.col("uid") % 3 == b).select("item"), "item", k=k
        ).write.mode("overwrite").parquet(
            os.path.join(store, f"batch_id={b}")
        )
    merged = topk_store_read(spark, store, k=k)
    n = stream.count()
    thr = n / float(k + 1)
    exact = stream.groupBy("item").agg(F.count(F.lit(1)).alias("true_cnt"))
    return (
        exact.filter(F.col("true_cnt") > thr)
        .join(merged, "item", "left")
        .select(
            "item",
            "true_cnt",
            F.col("est_count").isNotNull().alias("found"),
            (
                F.col("est_count").isNotNull()
                & (F.col("est_count") <= F.col("true_cnt"))
                & (F.col("est_count") >= F.col("true_cnt") - F.lit(thr))
            ).alias("within_bound"),
        )
        .orderBy("item")
    )


def events_quantile_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming EXACT-quantile store (streaming/quantiles.py)
    driver-certified end-to-end — the last uncertified additive store
    (VERDICT r7 task 6): three deterministic pseudo-batches of
    per-(event_type, value[decimal(12,2)]) histogram partials written
    in the foreachBatch sink's batch_id= layout, then quantile_verdict
    recovers the exact lower p50/p90/p99 from the summed store via the
    integer cum*den >= tot*num pick rule. Counts are additive, so the
    live quantiles must equal one-shot batch processing no matter how
    the stream was chopped — the oracle replays the split explicitly
    and sums it back."""
    import os
    import shutil
    import tempfile

    from hypermap_etl_spark.streaming.quantiles import quantile_verdict

    ev = load_table(spark, sf_dir, "events")
    rows = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.col("value").cast("decimal(12,2)").alias("v"),
        F.coalesce(F.col("user_id"), F.lit(0)).alias("uid"),
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    store = os.path.join(
        tempfile.gettempdir(), f"gate_quantile_store_{sf_tag}"
    )
    shutil.rmtree(store, ignore_errors=True)
    for b in range(3):
        (
            rows.filter(F.col("uid") % 3 == b)
            .groupBy("event_type", "v")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .write.mode("overwrite")
            .parquet(os.path.join(store, f"batch_id={b}"))
        )
    return quantile_verdict(
        spark, store, ["event_type"], qs=(0.5, 0.9, 0.99)
    ).orderBy("event_type", "q")


QUANTILE_STORE_ORACLE = """
WITH parts AS (
  SELECT event_type, COALESCE(user_id, 0) % 3 AS b,
         CAST(value AS DECIMAL(12,2)) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
),
hist AS (
  SELECT event_type, v, CAST(SUM(c) AS BIGINT) AS c
  FROM parts GROUP BY 1, 2
),
cum AS (
  SELECT event_type, v, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cumc,
         SUM(c) OVER (PARTITION BY event_type) AS tot
  FROM hist
),
qs(q, num, den) AS (VALUES (0.5, 1, 2), (0.9, 9, 10), (0.99, 99, 100))
SELECT c.event_type, CAST(q AS DOUBLE) AS q,
       CAST(MIN(c.v) AS DOUBLE) AS value,
       CAST(MAX(c.tot) AS BIGINT) AS n_rows
FROM cum c CROSS JOIN qs
WHERE c.cumc * den >= c.tot * num
GROUP BY 1, 2 ORDER BY 1, 2
"""


TOPK_STORE_ORACLE = """
WITH s AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'heavy'
              WHEN event_id % 7 = 1 THEN 'warm'
              ELSE CAST(user_id AS VARCHAR) END AS item
  FROM events
),
n AS (SELECT COUNT(*) AS n FROM s),
e AS (SELECT item, COUNT(*) AS true_cnt FROM s GROUP BY item)
SELECT item, true_cnt, TRUE AS found, TRUE AS within_bound
FROM e WHERE true_cnt > (SELECT n FROM n) / CAST(17 AS DOUBLE)
ORDER BY item
"""


def events_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift screen (profile.psi_drift, 10 equal-width bins in
    exact integer cents): even-id events play the old snapshot, odd-id
    events play a new drop whose values shifted by +50 — a real
    distribution move the per-bin PSI terms must quantify. Bin
    membership is pure integer math (engine-identical); only the final
    per-bin term touches floats, rounded at 6."""
    from hypermap_etl_spark.operators.profile import psi_drift

    ev = load_table(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 2 == 0).select("value")
    new = ev.filter(F.col("event_id") % 2 == 1).select(
        (F.col("value") + 50).alias("value")
    )
    return psi_drift(old, new, "value", n_bins=10)


PSI_ORACLE = """
WITH o AS (
  SELECT CAST(CAST(value AS DECIMAL(38,2)) * 100 AS BIGINT) AS c
  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL
),
n AS (
  SELECT CAST(CAST(value + 50 AS DECIMAL(38,2)) * 100 AS BIGINT) AS c
  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL
),
ext AS (
  SELECT MIN(c) AS lo, MAX(c) AS hi
  FROM (SELECT c FROM o UNION ALL SELECT c FROM n)
),
grid AS (SELECT unnest(range(10)) AS bin),
ob AS (
  SELECT ((c - (SELECT lo FROM ext)) * 10)
           // ((SELECT hi - lo + 1 FROM ext)) AS bin, COUNT(*) AS n_old
  FROM o GROUP BY 1
),
nb AS (
  SELECT ((c - (SELECT lo FROM ext)) * 10)
           // ((SELECT hi - lo + 1 FROM ext)) AS bin, COUNT(*) AS n_new
  FROM n GROUP BY 1
),
counts AS (
  SELECT g.bin, COALESCE(ob.n_old, 0) AS n_old, COALESCE(nb.n_new, 0) AS n_new
  FROM grid g LEFT JOIN ob ON ob.bin = g.bin LEFT JOIN nb ON nb.bin = g.bin
),
tot AS (SELECT (SELECT COUNT(*) FROM o) AS t_old, (SELECT COUNT(*) FROM n) AS t_new)
SELECT bin, n_old, n_new,
       ROUND(
         (GREATEST(n_new / CAST((SELECT t_new FROM tot) AS DOUBLE),
                   CAST(0.000001 AS DOUBLE))
          - GREATEST(n_old / CAST((SELECT t_old FROM tot) AS DOUBLE),
                     CAST(0.000001 AS DOUBLE)))
         * ln(GREATEST(n_new / CAST((SELECT t_new FROM tot) AS DOUBLE),
                       CAST(0.000001 AS DOUBLE))
              / GREATEST(n_old / CAST((SELECT t_old FROM tot) AS DOUBLE),
                         CAST(0.000001 AS DOUBLE))),
         6) AS psi_term
FROM counts ORDER BY bin
"""


def events_pseudonymized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization (curation.pseudonymize): user ids become
    sha256(salt||id) prefixes, and the gate proves LINKAGE SURVIVES —
    grouping by the token reproduces exactly the per-user aggregates
    of the raw ids (decimal-exact sums). The oracle recomputes the
    tokens bit-for-bit with DuckDB's sha256."""
    from hypermap_etl_spark.operators.curation import pseudonymize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", _dec("value").alias("v")
    )
    ps = pseudonymize(ev, ["user_id"], salt="gate-salt-r5", prefix_len=16)
    return (
        ps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("v").cast("double").alias("total_value"),
        )
        .orderBy("user_id")
    )


PSEUDONYMIZED_ORACLE = """
SELECT substring(sha256('gate-salt-r5' || CAST(user_id AS VARCHAR)), 1, 16)
         AS user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1 ORDER BY 1
"""


def orders_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite
    (operators/constraints.py, the Deequ-style drop-admission screen):
    nine checks over ``orders`` — completeness, key uniqueness,
    set/range/pattern membership, row count, and referential integrity
    against ``customer`` — evaluated in ONE scan plus one anti-join,
    reported long-format. One check (totalprice <= 1000 for >= half
    the rows) is deliberately failing so the report's verdict column
    is exercised in both polarities. Observed fractions are ratios of
    exact integer counts (engine-identical IEEE division)."""
    from hypermap_etl_spark.operators.constraints import (
        check_constraints,
        completeness,
        in_range,
        in_set,
        matches,
        not_null,
        references,
        row_count,
        unique,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    checks = [
        not_null("o_orderkey"),
        unique("o_orderkey"),
        completeness("o_custkey", 0.9),
        in_set("o_orderstatus", ["O", "F", "P"]),
        in_range("o_totalprice", lo=0, hi=1000000),
        in_range("o_totalprice", lo=0, hi=1000, at_least=0.5),
        matches("o_orderpriority", "^[1-5]-"),
        row_count(at_least=1),
        references("o_custkey", "customer", "c_custkey"),
    ]
    rep = check_constraints(orders, checks, refs={"customer": cust})
    return rep.orderBy("constraint")


CONSTRAINTS_ORACLE = """
WITH m AS (
  SELECT COUNT(*) AS n,
         COUNT(o_orderkey) AS nn_key,
         COUNT(DISTINCT o_orderkey) AS d_key,
         COUNT(o_custkey) AS nn_cust,
         COUNT(o_orderstatus) AS nn_status,
         COUNT(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END) AS ok_status,
         COUNT(o_totalprice) AS nn_price,
         COUNT(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 1000000
               THEN 1 END) AS ok_wide,
         COUNT(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 1000
               THEN 1 END) AS ok_tight,
         COUNT(o_orderpriority) AS nn_prio,
         COUNT(CASE WHEN regexp_matches(CAST(o_orderpriority AS VARCHAR),
                                        '^[1-5]-') THEN 1 END) AS ok_prio
  FROM orders
),
orph AS (
  SELECT COUNT(*) AS orphans FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND o.o_custkey NOT IN
        (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
)
SELECT * FROM (
  SELECT 'not_null(o_orderkey)' AS "constraint", 'not_null' AS kind,
         'o_orderkey' AS "column",
         CAST(nn_key AS DOUBLE) / CAST(n AS DOUBLE) AS observed,
         CAST(1.0 AS DOUBLE) AS threshold,
         CAST(nn_key AS DOUBLE) / CAST(n AS DOUBLE) >= CAST(1.0 AS DOUBLE)
           AS passed
  FROM m
  UNION ALL
  SELECT 'unique(o_orderkey)', 'unique', 'o_orderkey',
         CASE WHEN nn_key = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(d_key AS DOUBLE) / CAST(nn_key AS DOUBLE) END,
         CAST(1.0 AS DOUBLE), d_key = nn_key
  FROM m
  UNION ALL
  SELECT 'completeness(o_custkey)', 'completeness', 'o_custkey',
         CAST(nn_cust AS DOUBLE) / CAST(n AS DOUBLE),
         CAST(0.9 AS DOUBLE),
         CAST(nn_cust AS DOUBLE) / CAST(n AS DOUBLE) >= CAST(0.9 AS DOUBLE)
  FROM m
  UNION ALL
  SELECT 'in_set(o_orderstatus)', 'in_set', 'o_orderstatus',
         CASE WHEN nn_status = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(ok_status AS DOUBLE) / CAST(nn_status AS DOUBLE) END,
         CAST(1.0 AS DOUBLE),
         CASE WHEN nn_status = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(ok_status AS DOUBLE) / CAST(nn_status AS DOUBLE) END
           >= CAST(1.0 AS DOUBLE)
  FROM m
  UNION ALL
  SELECT 'in_range(o_totalprice,0,1000000)', 'in_range', 'o_totalprice',
         CASE WHEN nn_price = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(ok_wide AS DOUBLE) / CAST(nn_price AS DOUBLE) END,
         CAST(1.0 AS DOUBLE),
         CASE WHEN nn_price = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(ok_wide AS DOUBLE) / CAST(nn_price AS DOUBLE) END
           >= CAST(1.0 AS DOUBLE)
  FROM m
  UNION ALL
  SELECT 'in_range(o_totalprice,0,1000)', 'in_range', 'o_totalprice',
         CASE WHEN nn_price = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(ok_tight AS DOUBLE) / CAST(nn_price AS DOUBLE) END,
         CAST(0.5 AS DOUBLE),
         CASE WHEN nn_price = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(ok_tight AS DOUBLE) / CAST(nn_price AS DOUBLE) END
           >= CAST(0.5 AS DOUBLE)
  FROM m
  UNION ALL
  SELECT 'matches(o_orderpriority)', 'matches', 'o_orderpriority',
         CASE WHEN nn_prio = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(ok_prio AS DOUBLE) / CAST(nn_prio AS DOUBLE) END,
         CAST(1.0 AS DOUBLE),
         CASE WHEN nn_prio = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(ok_prio AS DOUBLE) / CAST(nn_prio AS DOUBLE) END
           >= CAST(1.0 AS DOUBLE)
  FROM m
  UNION ALL
  SELECT 'row_count(1,None)', 'row_count', '',
         CAST(n AS DOUBLE), CAST(1.0 AS DOUBLE), n >= 1
  FROM m
  UNION ALL
  SELECT 'references(o_custkey->customer.c_custkey)', 'references',
         'o_custkey', CAST(orphans AS DOUBLE), CAST(0.0 AS DOUBLE),
         orphans = 0
  FROM orph
)
ORDER BY "constraint"
"""


def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill (asof.resample_ffill): per event type, the
    latest value carried forward onto a shared 6-hour grid spanning
    the global extent — grid instants before a type's first
    observation stay NULL. Observations are first deduped per
    (type, microsecond) with max(value) so the carried representative
    is deterministic (the events_asof_join discipline); the oracle is
    DuckDB's native ASOF JOIN over an identical generate_series grid."""
    from hypermap_etl_spark.operators.asof import resample_ffill

    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.select(
            "event_type", F.unix_micros(F.col("ts")).alias("t"), "value"
        )
        .filter(F.col("t").isNotNull())
        .groupBy("event_type", "t")
        .agg(F.max("value").alias("v"))
    )
    step = 6 * 3600 * 1_000_000
    return resample_ffill(obs, ["event_type"], "t", ["v"], step=step).orderBy(
        "event_type", "t"
    )


RESAMPLE_ORACLE = """
WITH obs AS (
  SELECT event_type, epoch_us(ts) AS t, MAX(value) AS v
  FROM events WHERE ts IS NOT NULL GROUP BY event_type, epoch_us(ts)
),
ext AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM obs),
grid AS (
  SELECT d.event_type, CAST(g.ts AS BIGINT) AS t
  FROM (SELECT DISTINCT event_type FROM obs) d,
       LATERAL unnest(generate_series((SELECT lo FROM ext),
                                      (SELECT hi FROM ext),
                                      21600000000)) AS g(ts)
)
SELECT g.event_type, g.t, o.v
FROM grid g ASOF LEFT JOIN obs o
  ON g.event_type = o.event_type AND g.t >= o.t
ORDER BY g.event_type, g.t
"""


def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (curation.k_anonymity, Sweeney 2002) over the
    (nation, market-segment) quasi-identifier: one summary row — group
    count, smallest group, rows/groups below k=10, and the verdict.
    The audit half of the privacy family next to events_pseudonymized."""
    from hypermap_etl_spark.operators.curation import k_anonymity

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity(cust, ["c_nationkey", "c_mktsegment"], k=10)


K_ANON_ORACLE = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(10 AS BIGINT) AS k,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(n) AS BIGINT) AS min_group_size,
       CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_at_risk,
       MIN(n) >= 10 AS is_k_anonymous
FROM g
"""


def events_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native approximate percentiles (percentile_approx, the
    Greenwald-Khanna sketch) certified by their rank guarantee
    (sketch.approx_quantile_bounds): the true CDF at each estimate
    must sit within p ± 2/accuracy. Estimates are layout-dependent
    (the Misra-Gries rule) so the gate projects only the derived
    boolean; the oracle asserts the guarantee holds literally."""
    from hypermap_etl_spark.operators.sketch import approx_quantile_bounds

    ev = load_table(spark, sf_dir, "events")
    return approx_quantile_bounds(
        ev, "value", [0.25, 0.5, 0.75, 0.95], accuracy=1000
    ).select("p", "within_bound").orderBy("p")


APPROX_PCTL_ORACLE = """
SELECT CAST(0.25 AS DOUBLE) AS p, TRUE AS within_bound
UNION ALL SELECT CAST(0.5 AS DOUBLE), TRUE
UNION ALL SELECT CAST(0.75 AS DOUBLE), TRUE
UNION ALL SELECT CAST(0.95 AS DOUBLE), TRUE
ORDER BY p
"""


def events_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketch.py): estimated
    distinct users per event_type from the 64 smallest md5 fractions —
    the mergeable sketch a 100 TB incremental pipeline stores per
    partition instead of rescanning history; md5-based so the oracle
    reproduces the estimate bit-for-bit."""
    from hypermap_etl_spark.operators.sketch import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct(ev, "user_id", ["event_type"], k=64).orderBy("event_type")


KMV_ORACLE = """
WITH d AS (
  SELECT DISTINCT event_type, user_id FROM events WHERE user_id IS NOT NULL
),
h AS (
  SELECT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
           / 4294967296.0 AS frac
  FROM d
),
kept AS (
  SELECT event_type, frac,
         row_number() OVER (PARTITION BY event_type ORDER BY frac) AS rn
  FROM h
)
SELECT event_type,
       COUNT(*) AS n_kept,
       ROUND(MAX(frac), 9) AS kth_frac,
       CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                 ELSE FLOOR(63 / ROUND(MAX(frac), 9)) END AS BIGINT) AS est_distinct
FROM kept WHERE rn <= 64
GROUP BY event_type ORDER BY event_type
"""


def events_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketch.sampled_quantiles):
    p50/p90/p99 of value per event_type over a deterministic 25% md5
    sample of event_ids — hash sampling commutes with union, so
    per-day samples fold without rescans."""
    from hypermap_etl_spark.operators.sketch import sampled_quantiles

    ev = load_table(spark, sf_dir, "events")
    return sampled_quantiles(
        ev, "value", ["event_type"], "event_id", rate=0.25
    ).orderBy("event_type")


SAMPLED_QUANTILES_ORACLE = """
WITH s AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL
    AND CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
        / 4294967296.0 < 0.25
)
SELECT event_type,
       ROUND(quantile_cont(value::DOUBLE, 0.5), 6) AS q_0_5,
       ROUND(quantile_cont(value::DOUBLE, 0.9), 6) AS q_0_9,
       ROUND(quantile_cont(value::DOUBLE, 0.99), 6) AS q_0_99,
       COUNT(*) AS n_sample
FROM s GROUP BY event_type ORDER BY event_type
"""


def events_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Bloom-filter sketch (operators/sketch.bloom_build):
    252-bit/4-hash filter over purchasing users, then every distinct
    user probed map-side against the broadcast one-row sketch. No
    false negatives; false positives at the designed deterministic
    rate — md5 double hashing makes the oracle reproduce every bit."""
    from hypermap_etl_spark.operators.sketch import bloom_build, bloom_contains

    ev = load_table(spark, sf_dir, "events")
    bloom = bloom_build(
        ev.filter(F.col("event_type") == "purchase"), "user_id"
    ).drop("n_values")
    users = ev.select("user_id").filter(F.col("user_id").isNotNull()).distinct()
    return bloom_contains(users, bloom, "user_id").orderBy("user_id")


def _bloom_pos_sql(i: int) -> str:
    h1 = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)"
    h2 = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8) AS BIGINT)"
    return f"(({h1} + {i} * {h2}) % 252)"


def _bloom_word_sql(j: int) -> str:
    terms = " | ".join(
        f"(CASE WHEN CAST(FLOOR({_bloom_pos_sql(i)} / 63.0) AS INT) = {j} "
        f"THEN (1::BIGINT << CAST({_bloom_pos_sql(i)} % 63 AS INT)) ELSE 0::BIGINT END)"
        for i in range(4)
    )
    return f"({terms})"


def _bloom_test_sql(i: int) -> str:
    word = " ".join(
        f"WHEN CAST(FLOOR({_bloom_pos_sql(i)} / 63.0) AS INT) = {j} THEN w{j}"
        for j in range(4)
    )
    return (
        f"((CASE {word} END) & (1::BIGINT << CAST({_bloom_pos_sql(i)} % 63 AS INT))) <> 0"
    )


BLOOM_ORACLE = f"""
WITH b AS (
  SELECT {", ".join(f"bit_or({_bloom_word_sql(j)}) AS w{j}" for j in range(4))}
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
SELECT user_id, ({" AND ".join(_bloom_test_sql(i) for i in range(4))}) AS in_bloom
FROM u CROSS JOIN b
ORDER BY user_id
"""


def customer_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-resolution join (operators/fuzzy): all customer
    pairs within edit distance 1, blocked by exact deletion
    neighborhoods (FastSS) — an equi-join on O(n·L) generated keys,
    never a cartesian; the oracle IS the quadratic form Spark avoids."""
    from hypermap_etl_spark.operators.fuzzy import edit_distance_pairs

    cust = load_table(spark, sf_dir, "customer")
    return edit_distance_pairs(cust, "c_custkey", "c_name").orderBy("id1", "id2")


def parts_phonetic_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soundex blocking plan over the part nouns (fuzzy.phonetic_blocks
    on p_name's last word): per phonetic key the member count, distinct
    spellings, and the quadratic within-block candidate cost — pricing
    a phonetic ER blocking before running it. The key is a pure
    expression chain reproduced verbatim in the oracle."""
    from hypermap_etl_spark.operators.fuzzy import phonetic_blocks

    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.element_at(F.split(F.col("p_name"), " "), -1).alias("noun"),
    )
    return phonetic_blocks(parts, "p_partkey", "noun").orderBy("skey")


PHONETIC_BLOCKS_ORACLE = """
WITH nouns AS (
  SELECT p_partkey, ws[len(ws)] AS noun
  FROM (SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part)
),
kx AS (
  SELECT p_partkey, noun,
         upper(regexp_replace(noun, '[^A-Za-z]', '', 'g')) AS u
  FROM nouns WHERE noun IS NOT NULL
),
m AS (
  SELECT p_partkey, noun, u,
         translate(substr(u, 1, 1)
                   || regexp_replace(substr(u, 2), '[HW]', '', 'g'),
                   'ABCDEFGIJKLMNOPQRSTUVXYZ',
                   '012301202245501262301202') AS mapped
  FROM kx
),
c AS (
  SELECT p_partkey, noun, u,
         regexp_replace(mapped, '(\\d)\\1+', '\\1', 'g') AS collapsed
  FROM m
),
k AS (
  SELECT p_partkey, noun,
         CASE WHEN length(u) = 0 THEN '' ELSE
           rpad(substr(u, 1, 1)
                || substr(replace(substr(collapsed, 2), '0', ''), 1, 3),
                4, '0') END AS skey
  FROM c
),
g AS (
  SELECT skey, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT noun) AS BIGINT) AS n_names
  FROM k GROUP BY 1
)
SELECT skey, n_rows, n_names,
       CAST(n_rows * (n_rows - 1) // 2 AS BIGINT) AS n_candidate_pairs
FROM g ORDER BY skey
"""


def customer_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking candidates
    (fuzzy.sorted_neighborhood_pairs, window 3) over the customer
    names: every pair within two positions of the global name order —
    the skew-proof third blocking beside the deletion-neighborhood
    and phonetic gates. The total order is the distributed
    global_rank; the pairing is the delta-join, O(n·window) rows."""
    from hypermap_etl_spark.operators.fuzzy import sorted_neighborhood_pairs

    cust = load_table(spark, sf_dir, "customer")
    return sorted_neighborhood_pairs(cust, "c_custkey", "c_name", window=3).orderBy(
        "id1", "id2"
    )


SORTED_NEIGHBORHOOD_ORACLE = """
WITH r AS (
  SELECT c_custkey AS id, c_name AS key,
         row_number() OVER (ORDER BY c_name, c_custkey) AS rk
  FROM customer WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
)
SELECT a.id AS id1, b.id AS id2, a.key AS key1, b.key AS key2,
       CAST(b.rk - a.rk AS BIGINT) AS rank_gap
FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 2
ORDER BY id1, id2
"""


FUZZY_PAIRS_ORACLE = """
SELECT a.c_custkey AS id1, b.c_custkey AS id2,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
ORDER BY id1, id2
"""


def events_lead_lag_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset + bucketing window breadth: lag/lead/ntile share ONE
    window spec (per-user event timeline, total order via event_id
    tie-break), so Spark evaluates all three in a single Window node
    over a single user_id shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & (F.col("user_id") % 101 == 0)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.lag("value").over(w).alias("prev_value"),
            F.lead("event_type").over(w).alias("next_type"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("event_id")
    )


LEAD_LAG_NTILE_ORACLE = """
WITH e AS (
  SELECT * FROM events WHERE user_id IS NOT NULL AND user_id % 101 = 0
)
SELECT event_id, user_id,
       lag(value) OVER w AS prev_value,
       lead(event_type) OVER w AS next_type,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""


def events_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/sketch.cms_build/cms_estimate):
    per-user event-frequency estimates for a deterministic probe set
    (user_id % 97 == 0) from a 4×512 sketch. The long-format rows are
    the mergeable state a 100 TB pipeline sums per day; md5 double
    hashing lets the oracle reproduce every bucket, so the gate checks
    the ESTIMATES (collisions included) bit-for-bit."""
    from hypermap_etl_spark.operators.sketch import cms_build, cms_estimate

    ev = load_table(spark, sf_dir, "events")
    cms = cms_build(ev, "user_id", depth=4, width=512)
    probes = (
        ev.select("user_id")
        .filter(F.col("user_id").isNotNull() & (F.col("user_id") % 97 == 0))
        .distinct()
    )
    return cms_estimate(probes, cms, "user_id", depth=4, width=512).orderBy("user_id")


def events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via Apache DataSketches HLL
    (operators/sketch.hll_build/hll_merge/hll_estimate, Spark-native
    hll_sketch_agg) — built at the (event_type, day) grain and rolled
    up to event_type with hll_union_agg, the store-daily-sketches /
    fold-at-query-time shape a 100 TB pipeline uses for distinct
    telemetry.

    The Datasketches estimate is not reproducible in another SQL
    engine, so the driver gates the DERIVED property (emb_lsh_recall
    pattern): the oracle reproduces the exact distinct count and
    asserts the tolerance as a literal — the value hash only matches
    if every type's HLL estimate lands within 5% of exact (lg_k=12
    gives ~1.6% standard error; measured error 0 at sf0.001/sf0.01
    where per-type users number 15/150). The estimate can wobble
    ~1% with the partition layout (union trees drop the HIP
    estimator — see operators/sketch.py), which the 5% bound absorbs
    with a wide margin: stable, not flaky."""
    from hypermap_etl_spark.operators.sketch import (
        hll_build,
        hll_estimate,
        hll_merge,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = hll_build(ev, "user_id", ["event_type", "day"], lg_k=12)
    est = hll_estimate(hll_merge(daily, ["event_type"])).select(
        "event_type", "est_distinct"
    )
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("est_distinct") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("est_ok"),
        )
        .orderBy("event_type")
    )


HLL_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS est_ok
FROM events WHERE user_id IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def events_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.pagerank, 3 iterations, damping
    0.85) over the user-level event-type transition graph: edges are
    consecutive (prev_type → type) pairs per user ordered by
    (ts, event_id), weighted by transition count. The centrality
    ranking a curation pipeline uses as a link-graph quality prior.

    Fixed-iteration power iteration is engine-reproducible, so the
    oracle unrolls the SAME three iterations as SQL CTEs; ranks are
    rounded to 9 dp only at the end (intermediate double ops are
    identical expression trees in both engines — the ~1e-16 summation
    wobble sits eight orders below the rounding grain, and the
    partition-invariance sweep covers this gate)."""
    from hypermap_etl_spark.operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = pagerank(trans, n_iter=3, damping=0.85, weight="w")
    return ranks.select(
        "node", F.round("rank", 9).alias("rank")
    ).orderBy("node")


def _pagerank_oracle(n_iter: int) -> str:
    """Unroll the fixed power iterations as CTEs (r0 → r{n}); every
    arithmetic step mirrors graph.pagerank's expression tree in
    DOUBLE so the engines agree bit-for-bit before the final 9 dp
    round. CAST(0.85 AS DOUBLE) keeps DuckDB off its DECIMAL
    arithmetic path (decimal 0.15 and double 1.0-0.85 differ by one
    ulp)."""
    d = "CAST(0.85 AS DOUBLE)"
    parts = [
        """WITH e AS (
  SELECT prev AS src, event_type AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM (
    SELECT event_type,
           LAG(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
  ) t WHERE prev IS NOT NULL
  GROUP BY prev, event_type
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
ow AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
f AS (SELECT e.src, e.dst, e.w / ow.out_w AS frac FROM e JOIN ow USING (src)),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
c{i} AS (SELECT f.dst, SUM(r.rank * f.frac) AS c
       FROM f JOIN r{i - 1} r ON r.node = f.src GROUP BY f.dst),
t{i} AS (SELECT COALESCE(SUM(c), 0.0) AS tc FROM c{i}),
r{i} AS (SELECT n.node,
            (1.0 - {d}) / nn.n
            + {d} * (COALESCE(c{i}.c, 0.0) + (1.0 - t{i}.tc) / nn.n) AS rank
       FROM nodes n LEFT JOIN c{i} ON c{i}.dst = n.node, nn, t{i})"""
        )
    parts.append(
        f"\nSELECT node, ROUND(rank, 9) AS rank FROM r{n_iter} ORDER BY node"
    )
    return "".join(parts)


PAGERANK_ORACLE = _pagerank_oracle(3)


CMS_ORACLE = """
WITH h AS (
  SELECT user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8) AS BIGINT) AS h2
  FROM events WHERE user_id IS NOT NULL
),
ds AS (SELECT unnest(generate_series(0, 3)) AS d),
cms AS (
  SELECT d, (h1 + d * h2) % 512 AS bucket, COUNT(*) AS cnt
  FROM h CROSS JOIN ds GROUP BY d, bucket
),
p AS (
  SELECT DISTINCT user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8) AS BIGINT) AS h2
  FROM events WHERE user_id IS NOT NULL AND user_id % 97 = 0
),
pe AS (SELECT user_id, d, (h1 + d * h2) % 512 AS bucket FROM p CROSS JOIN ds)
SELECT pe.user_id, MIN(COALESCE(cms.cnt, 0)) AS est_count
FROM pe LEFT JOIN cms USING (d, bucket)
GROUP BY pe.user_id ORDER BY pe.user_id
"""


def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profiler (operators/profile.profile_table):
    per-column null / exact-distinct counts + numeric min/max over
    lineitem in ONE scan (multi-distinct via Expand, map-side
    partials). The pre-training data-quality screen; timestamps and
    strings profile counts only (no engine-specific string formatting
    in the output)."""
    from hypermap_etl_spark.operators.profile import profile_table

    li = load_table(spark, sf_dir, "lineitem")
    return profile_table(li).orderBy("col_name")


def _profile_col_sql(c: str, numeric: bool) -> str:
    mn = f"CAST(MIN({c}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
    mx = f"CAST(MAX({c}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
    return (
        f"SELECT '{c}' AS col_name, "
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
        f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        f"{mn} AS min_num, {mx} AS max_num FROM lineitem"
    )


PROFILE_ORACLE = (
    " UNION ALL ".join(
        _profile_col_sql(c, numeric)
        for c, numeric in [
            ("l_orderkey", True), ("l_partkey", True), ("l_suppkey", True),
            ("l_linenumber", True), ("l_quantity", True),
            ("l_extendedprice", True), ("l_discount", True), ("l_tax", True),
            ("l_returnflag", False), ("l_linestatus", False),
            ("l_shipdate", False),
        ]
    )
    + " ORDER BY col_name"
)


def supplier_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier dimension coverage: broadcast dim join + grouped stats."""
    sup = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        sup.join(nation, sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(_dec("s_acctbal")).cast("double").alias("total_acctbal"),
            F.min("s_name").alias("first_supplier"),
        )
        .orderBy("n_name")
    )


SUPPLIER_ORACLE = """
SELECT n_name, COUNT(*) AS n_suppliers,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal,
       MIN(s_name) AS first_supplier
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


# ------------------------------------------------- join-shape breadth ------
# TPC-H-style shapes not already in the inventory: left-outer-preserving
# double aggregation (Q13), min join-back (Q2/Q15), HAVING-sum key set
# (Q18), scalar-aggregate subquery + anti join (Q22), double-correlated
# EXISTS / NOT EXISTS (Q21), dual dimension paths (Q7), correlated
# per-group average (Q17), and an ntile quantile window. All money /
# quantity math runs in DECIMAL; correlated comparisons are
# cross-multiplied into exact integer math so both engines agree.


@plan_cache
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: a left outer join whose NULL-extended rows must
    survive the first aggregation (customers with zero qualifying orders
    count as c_count=0), then a second aggregation over the computed
    count. The order-side filter lives before the join, not after it —
    a WHERE would silently turn the join inner."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    counts = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@plan_cache
def part_min_price_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2/Q15-style min join-back: per-part minimum sale price computed
    once, then joined back to recover the exact lines achieving it. The
    aggregate side is part-dimension-sized, so it broadcasts; min() is a
    selection (no arithmetic), so the double equality is engine-safe."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    li = load_table(spark, sf_dir, "lineitem")
    sold = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    mins = sold.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("l_extendedprice").alias("best_price")
    )
    return (
        sold.join(
            F.broadcast(mins),
            (sold.p_partkey == mins.mk)
            & (sold.l_extendedprice == mins.best_price),
        )
        .select("p_partkey", "p_name", "l_suppkey", "best_price")
        .distinct()
        .orderBy("p_partkey", "l_suppkey")
    )


Q2_ORACLE = """
SELECT DISTINCT p_partkey, p_name, l_suppkey, l_extendedprice AS best_price
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size < 10
  AND l_extendedprice = (
    SELECT MIN(l2.l_extendedprice) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey)
ORDER BY p_partkey, l_suppkey
"""


@plan_cache
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-style: HAVING over a grouped sum builds a small key set that
    is broadcast back against orders; quantities sum in DECIMAL(12,0)
    (integral in this data) so the HAVING cut is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity", 12, 0)).alias("__q"))
        .filter(F.col("__q") > 300)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            F.col("__q").cast("bigint").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_ORACLE = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,0))) AS BIGINT) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
GROUP BY c_name, c_custkey, o_orderkey, order_date, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(12,0))) > 300
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@plan_cache
def rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-style: a scalar-aggregate subquery (global positive-balance
    average) broadcast as a one-row cross join, then an anti join
    against urgent orders. The avg comparison is cross-multiplied
    (bal * n > sum) so it stays in exact DECIMAL×BIGINT math instead of
    engine-specific decimal division scales."""
    cust = load_table(spark, sf_dir, "customer")
    stats = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).alias("__sum"),
        F.count(F.lit(1)).alias("__n"),
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.crossJoin(F.broadcast(stats))
        .filter(_dec("c_acctbal") * F.col("__n") > F.col("__sum"))
        .join(urgent, F.col("c_custkey") == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


Q22_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM customer
WHERE CAST(c_acctbal AS DECIMAL(12,2))
      * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer
         WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@plan_cache
def exclusive_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-style double correlation: suppliers with a returned ('R')
    line in a multi-supplier order where no OTHER supplier in the same
    order returned anything. EXISTS compiles to a left-semi self-join
    and NOT EXISTS to a left-anti, both keyed on l_orderkey with the
    supplier inequality as a residual condition."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    members = li.select("l_orderkey", "l_suppkey").distinct()
    with_other = returned.alias("a").join(
        members.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        "left_semi",
    )
    exclusive = with_other.alias("w").join(
        returned.alias("c"),
        (F.col("w.l_orderkey") == F.col("c.l_orderkey"))
        & (F.col("w.l_suppkey") != F.col("c.l_suppkey")),
        "left_anti",
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        exclusive.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select("s_name", "s_suppkey", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
    )


Q21_ORACLE = """
WITH r AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
           WHERE l_returnflag = 'R'),
     m AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s_name, s_suppkey, COUNT(*) AS numwait
FROM r JOIN supplier ON r.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM m
              WHERE m.l_orderkey = r.l_orderkey
                AND m.l_suppkey <> r.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM r r2
                  WHERE r2.l_orderkey = r.l_orderkey
                    AND r2.l_suppkey <> r.l_suppkey)
GROUP BY s_name, s_suppkey
ORDER BY numwait DESC, s_name
"""


@plan_cache
def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-style: one fact with two independent dimension paths — the
    customer's nation via orders and the supplier's nation directly —
    both broadcast, grouped by (supplier nation, customer nation, year).
    The only shuffle is lineitem⋈orders on orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("cnk"))
        .join(F.broadcast(n2), sup.s_nationkey == F.col("snk"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.date_format("o_orderdate", "yyyy").alias("order_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "order_year")
    )


Q7_ORACLE = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       strftime(o_orderdate, '%Y') AS order_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE o_orderdate >= TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, order_year
ORDER BY supp_nation, cust_nation, order_year
"""


@plan_cache
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-style correlated per-group average: revenue from lines below
    half their part's mean quantity. The avg comparison is
    cross-multiplied (2·qty·n < sum) into exact DECIMAL×BIGINT math;
    the per-part aggregate is dimension-sized and broadcast."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = load_table(spark, sf_dir, "lineitem")
    sold = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    stats = sold.groupBy(F.col("p_partkey").alias("pk")).agg(
        F.sum(_dec("l_quantity", 12, 0)).alias("__sq"),
        F.count(F.lit(1)).alias("__n"),
    )
    low = sold.join(
        F.broadcast(stats),
        (F.col("p_partkey") == F.col("pk"))
        & (_dec("l_quantity", 12, 0) * F.col("__n") * 2 < F.col("__sq")),
    )
    return low.agg(
        F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 6).alias(
            "avg_yearly"
        )
    )


Q17_ORACLE = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly
FROM lineitem l JOIN part ON l.l_partkey = p_partkey
WHERE p_brand = 'Brand#3'
  AND CAST(l.l_quantity AS DECIMAL(12,0))
      * (SELECT COUNT(*) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey) * 2
      < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(12,0)))
         FROM lineitem l3
         WHERE l3.l_partkey = l.l_partkey)
"""


@plan_cache
def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quantile window: balance quartiles within each market
    segment. The window order carries a unique tie-break (custkey) so
    both engines draw identical quartile boundaries."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        cust.withColumn("quartile", F.ntile(4).over(w).cast("bigint"))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


NTILE_ORACLE = """
SELECT c_mktsegment, quartile, COUNT(*) AS n_cust,
       MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM (
  SELECT c_mktsegment, c_acctbal,
         NTILE(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
GROUP BY c_mktsegment, quartile
ORDER BY c_mktsegment, quartile
"""


# ------------------------------------------- remaining TPC-H join shapes ----
# The round-2 sweep covered Q1/Q2/Q3/Q5/Q6/Q7/Q13/Q14/Q17/Q18/Q21/Q22
# analogs; these close out the rest of the classic shapes, adapted to
# the fixture schema (no partsupp / l_commitdate / l_shipmode columns —
# the JOIN/subquery shape is what each query exercises, not the missing
# column).

@plan_cache
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS-correlated semi join with a non-equi residual
    (lineitem shipped after its order date), then priority counts.
    The semi join hashes on the equi key (orderkey); the date
    comparison stays a residual filter, so no cartesian anywhere."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@plan_cache
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: national market share — two independent dimension
    pyramids hang off the fact (customer→nation→region for the market,
    supplier→nation for the share test), conditional sum / total sum
    per order year. All dims broadcast; the only shuffle is
    lineitem⋈orders on orderkey, then one hash agg on year."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_nat = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    supp_nat = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_nat), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nat), supp.s_nationkey == F.col("sn_key"))
    )
    agg = joined.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))).alias(
            "__num"
        ),
        F.sum(rev).alias("__den"),
    )
    return agg.select(
        "o_year",
        F.round(F.col("__num").cast("double") / F.col("__den").cast("double"), 6).alias(
            "mkt_share"
        ),
    ).orderBy("o_year")


Q8_ORACLE = """
SELECT
  CAST(year(o_orderdate) AS BIGINT) AS o_year,
  ROUND(
    CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
             THEN CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
             ELSE 0 END) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE),
    6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
GROUP BY o_year
ORDER BY o_year
"""


@plan_cache
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: LIKE-filtered part dimension, profit rollup by
    supplier nation × order year. The LIKE predicate prunes part
    before the broadcast; fact-side shuffle is lineitem⋈orders only."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(rev).cast("double").alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


Q9_ORACLE = """
SELECT
  n_name AS nation,
  CAST(year(o_orderdate) AS BIGINT) AS o_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE)
    AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)
ORDER BY n_name ASC, o_year DESC
"""


@plan_cache
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-revenue ranking — selective returnflag +
    date-window filters, customer/nation enrichment, top-20 via
    TakeOrderedAndProject (never a global sort)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_ORACLE = """
SELECT c_custkey, c_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE)
    AS revenue,
  c_acctbal, n_name
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


@plan_cache
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: groups above a fraction of the grand total — the
    scalar-subquery threshold becomes a broadcast single-row cross
    join, so the per-part values are scanned once and compared
    map-side (no second shuffle). Comparison is cross-multiplied
    (val·2000 > total) to stay in exact DECIMAL math."""
    li = load_table(spark, sf_dir, "lineitem")
    val = _dec("l_extendedprice") * _dec("l_quantity", 12, 0)
    per_part = li.groupBy("l_partkey").agg(F.sum(val).alias("__val"))
    total = per_part.agg(F.sum("__val").alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__val") * F.lit(2000) > F.col("__total"))
        .select(
            "l_partkey",
            F.col("__val").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


Q11_ORACLE = """
WITH v AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_quantity AS DECIMAL(12,0))) AS val
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
FROM v
WHERE val * 2000 > (SELECT SUM(val) FROM v)
ORDER BY part_value DESC, l_partkey ASC
"""


@plan_cache
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: join with a date-arithmetic residual (shipped within
    60 days of ordering) + two conditional counts per line status.
    The join stays an equi hash join on orderkey; the interval
    comparison is a residual."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    joined = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_ORACLE = """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
    AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate >= o_orderdate
  AND l_shipdate < o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@plan_cache
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) achieving the max windowed revenue — the
    view + scalar-max subquery becomes one agg, a broadcast single-row
    max, and an exact-DECIMAL equality (ties all surface, as in the
    spec). supplier is a broadcast dim."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("__rev"))
    mx = per_supp.agg(F.max("__rev").alias("__mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("__rev") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("__rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_ORACLE = """
WITH r AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE rev = (SELECT MAX(rev) FROM r)
ORDER BY s_suppkey
"""


@plan_cache
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per part attribute with a
    NOT-IN exclusion — the subquery becomes a broadcast anti join
    (NULL-safe here because s_suppkey is a key), then one
    count-distinct agg keyed (brand, size)."""
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    ok = li.join(
        F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
    ).join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
    return (
        ok.groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size"))
    )


Q16_ORACLE = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC
"""


@plan_cache
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: three OR-blocks mixing part attributes and line
    quantities. The join key stays the equi partkey hash; the
    disjunction is a residual predicate — Catalyst also extracts the
    common brand-membership filter below the join."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    blocks = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10) & qty.between(1, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(11, 25) & qty.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(26, 50) & qty.between(20, 50))
    )
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(blocks)
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


Q19_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE)
  AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


@plan_cache
def q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested IN subqueries — suppliers who moved > 60 units
    of any widget part in 1996. Both INs become semi joins: part
    filter broadcast into lineitem, then the qualifying supplier key
    set semi-joined against supplier. No subquery is ever collected."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1996)
    bulky = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity", 12, 0)).alias("__q"))
        .filter(F.col("__q") > 60)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(bulky, supp.s_suppkey == bulky.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q20_ORACLE = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
    AND year(l_shipdate) = 1996
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,0))) > 60)
ORDER BY s_suppkey
"""


@plan_cache
def orders_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped percentiles (median + p90 of order value per
    status) via F.percentile — the sort-based exact aggregate, the
    complement of the MERGEABLE sampled-quantile sketch
    (events_sampled_quantiles): exact answers when a per-group sort is
    affordable, sketches when it is not. Linear interpolation between
    adjacent order statistics is the same formula in both engines
    (percentile_cont); 6 dp rounding absorbs the one multiply of float
    noise."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90_price"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


MEDIAN_ORACLE = """
SELECT o_orderstatus,
  ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6)
    AS median_price,
  ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 6)
    AS p90_price,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@plan_cache
def parts_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist per brand over retail price — the two
    relative-rank window functions (the rest of the rank family is
    gated by parts_size_rank_ties). Values are exact rationals
    ((rank-1)/(n-1), peers/n) so the 6 dp rounding is engine-stable;
    ordering inside the window is totally tie-broken by partkey."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return (
        part.select(
            "p_partkey",
            "p_brand",
            "p_retailprice",
            (F.round(F.percent_rank().over(w), 6) + F.lit(0.0)).alias("pct_rank"),
            (F.round(F.cume_dist().over(w), 6) + F.lit(0.0)).alias("cume"),
        )
        .filter(F.col("p_retailprice") > 1500)
        .orderBy("p_partkey")
    )


PRICE_PERCENTILES_ORACLE = """
SELECT * FROM (
  SELECT p_partkey, p_brand, p_retailprice,
    ROUND(percent_rank() OVER (PARTITION BY p_brand
      ORDER BY p_retailprice, p_partkey), 6) + 0.0 AS pct_rank,
    ROUND(cume_dist() OVER (PARTITION BY p_brand
      ORDER BY p_retailprice, p_partkey), 6) + 0.0 AS cume
  FROM part
)
WHERE p_retailprice > 1500
ORDER BY p_partkey
"""


@plan_cache
def events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key OLS trend: slope/intercept of value over time for every
    user, via the closed-form normal equations on plain grouped sums —
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). Entirely JVM-side
    (one two-phase hash aggregate, map-side partial sums; no UDF, no
    window), the distributed shape of "fit a tiny model per key" that
    a feature pipeline runs per user/entity at 100 TB.

    x is hours since 2024-01-01 (the fixture epoch): keeping |x| small
    (0..720 here) avoids catastrophic float cancellation in n·Σx²−(Σx)²
    that raw epoch microseconds (~1e15) would hit; the oracle uses the
    same origin so both engines sum the same well-conditioned values.
    Degenerate keys (all events at one instant) yield NULL slope and
    intercept — detected on min(x) = max(x), NOT on the denominator
    reaching exactly 0.0: for n >= 3 float cancellation leaves
    n·Σx²−(Σx)² at ~1e-13 instead of zero, so a NULLIF(den, 0) guard
    silently passes rounding noise through as a garbage slope. Results
    rounded to 6 decimals on both sides (float sums commute only
    approximately across partitionings)."""
    ev = load_table(spark, sf_dir, "events")
    base_us = 1704067200000000  # 2024-01-01T00:00:00Z
    x = (F.unix_micros(F.col("ts")) - F.lit(base_us)).cast("double") / F.lit(3.6e9)
    y = F.col("value")
    g = ev.select(F.col("user_id"), x.alias("__x"), y.alias("__y")).groupBy(
        "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.min("__x").alias("__mnx"),
        F.max("__x").alias("__mxx"),
    )
    n = F.col("n_events").cast("double")
    den = F.when(
        F.col("__mnx") < F.col("__mxx"),
        n * F.col("__sxx") - F.col("__sx") * F.col("__sx"),
    )  # NULL (not rounding noise) when the key has zero time spread
    slope = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / den
    # + 0.0 canonicalizes IEEE -0.0 (a slope that rounds to zero can
    # carry a different sign bit per engine; the value hash is
    # bit-sensitive)
    return g.select(
        "user_id",
        "n_events",
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round((F.col("__sy") - slope * F.col("__sx")) / n, 6) + F.lit(0.0)).alias(
            "intercept"
        ),
    ).orderBy("user_id")


TREND_ORACLE = """
WITH s AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*y) AS sxy, SUM(x*x) AS sxx,
         CASE WHEN MIN(x) < MAX(x)
              THEN COUNT(*)*SUM(x*x) - SUM(x)*SUM(x) END AS den
  FROM (
    SELECT user_id,
           (epoch_us(ts) - 1704067200000000) / 3.6e9 AS x,
           value AS y
    FROM events
  )
  GROUP BY user_id
)
SELECT user_id, n_events,
  ROUND((n_events*sxy - sx*sy) / den, 6) + 0.0 AS slope,
  ROUND((sy - ((n_events*sxy - sx*sy) / den) * sx) / n_events, 6) + 0.0
    AS intercept
FROM s
ORDER BY user_id
"""


def events_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size pre-flight: CM-sketch inner product estimate of
    |click ⋈ purchase on user_id| (sketch.cms_join_estimate) next to
    the exact size, with the overestimate + ε·N_A·N_B bound verdicts —
    the planner probe that costs two sketch scans instead of the join."""
    import math

    from hypermap_etl_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    est = sketch.cms_join_estimate(
        sketch.cms_build(a, "user_id", depth=4, width=512),
        sketch.cms_build(b, "user_id", depth=4, width=512),
        depth=4,
    )
    exact = a.join(b, "user_id").agg(
        F.count(F.lit(1)).alias("exact_join_rows")
    )
    sizes = a.agg(F.count(F.lit(1)).alias("n_a")).crossJoin(
        b.agg(F.count(F.lit(1)).alias("n_b"))
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(sizes))
        .select(
            "est_join_rows",
            "exact_join_rows",
            (F.col("est_join_rows") >= F.col("exact_join_rows")).alias(
                "is_overestimate"
            ),
            (
                F.col("est_join_rows")
                <= F.col("exact_join_rows")
                + F.ceil(
                    F.lit(math.e) / 512 * F.col("n_a") * F.col("n_b")
                )
            ).alias("within_bound"),
        )
    )


JOIN_ESTIMATE_ORACLE = """
WITH a AS (SELECT user_id FROM events WHERE event_type = 'click'),
b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
ds AS (SELECT unnest(generate_series(0, 3)) AS d),
ha AS (
  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8) AS BIGINT) AS h2
  FROM a WHERE user_id IS NOT NULL
),
hb AS (
  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8) AS BIGINT) AS h2
  FROM b WHERE user_id IS NOT NULL
),
cms_a AS (
  SELECT d, (h1 + d * h2) % 512 AS bucket, COUNT(*) AS cnt
  FROM ha CROSS JOIN ds GROUP BY d, bucket
),
cms_b AS (
  SELECT d, (h1 + d * h2) % 512 AS bucket, COUNT(*) AS cnt
  FROM hb CROSS JOIN ds GROUP BY d, bucket
),
ip AS (
  SELECT ds.d,
         COALESCE(SUM(cms_a.cnt * cms_b.cnt), 0) AS ip
  FROM ds
  LEFT JOIN cms_a ON cms_a.d = ds.d
  LEFT JOIN cms_b ON cms_b.d = ds.d AND cms_b.bucket = cms_a.bucket
  GROUP BY ds.d
),
est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_join_rows FROM ip),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_rows
  FROM a JOIN b USING (user_id)
),
sz AS (
  SELECT (SELECT COUNT(*) FROM a) AS n_a, (SELECT COUNT(*) FROM b) AS n_b
)
SELECT est_join_rows, exact_join_rows,
       est_join_rows >= exact_join_rows AS is_overestimate,
       est_join_rows <= exact_join_rows
         + CAST(ceil(exp(1) / 512 * n_a * n_b) AS BIGINT) AS within_bound
FROM est CROSS JOIN ex CROSS JOIN sz
"""


def events_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen on the per-type daily count series
    (profile.cusum_drift): standardized cumulative deviations, max|S|
    vs the 3·√n random-walk bound — the single-series ingestion-drift
    monitor (PSI compares two snapshots; this watches one feed)."""
    from hypermap_etl_spark.operators.profile import cusum_drift

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return cusum_drift(ev, "day", ["event_type"]).orderBy("event_type")


CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM daily GROUP BY 1
),
z AS (
  SELECT d.event_type, d.day, n_days, sc, scc,
         (d.c - sc * 1.0 / n_days)
           / sqrt(scc * 1.0 / n_days
                  - (sc * 1.0 / n_days) * (sc * 1.0 / n_days)) AS z
  FROM daily d JOIN st USING (event_type)
),
cs AS (
  SELECT event_type, n_days, sc, scc,
         ABS(SUM(z) OVER (PARTITION BY event_type ORDER BY day)) AS abs_s
  FROM z
)
SELECT event_type, n_days,
       ROUND(sc * 1.0 / n_days, 6) AS mean_daily,
       ROUND(sqrt(scc * 1.0 / n_days
                  - (sc * 1.0 / n_days) * (sc * 1.0 / n_days)), 6)
         AS std_daily,
       ROUND(MAX(abs_s), 6) AS max_cusum,
       COALESCE(MAX(abs_s) > 3.0 * sqrt(n_days), FALSE) AS drifted
FROM cs GROUP BY event_type, n_days, sc, scc
ORDER BY event_type
"""




def _build_gate_drift_store(spark: SparkSession, sf_dir: str) -> str:
    """Shared fixture-store builder for the drift-store gates: three
    deterministic pseudo-batches (user_id mod 3) of per-(type, day)
    partial counts, written in the foreachBatch sink's batch_id=
    layout. Rebuilt per call — cheap (three aggregate writes of a
    groups x days frame) and immune to stale state."""
    import os
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.coalesce(F.col("user_id"), F.lit(0)).alias("uid"),
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    store = os.path.join(tempfile.gettempdir(), f"gate_drift_store_{sf_tag}")
    shutil.rmtree(store, ignore_errors=True)
    for b in range(3):
        (
            ev.filter(F.col("uid") % 3 == b)
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .write.mode("overwrite")
            .parquet(os.path.join(store, f"batch_id={b}"))
        )
    return store


def events_drift_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift store's per-day face (streaming/drift.ewma_verdict):
    same pseudo-batch store as events_drift_verdict, re-derived
    through ewma_anomaly — certifying that the THIRD consumer of the
    summed partials (which single days are off, vs CUSUM's level
    shift and autocorr's cycle) also agrees with one-shot batch
    processing regardless of how the stream was chopped."""
    from hypermap_etl_spark.streaming.drift import ewma_verdict

    store = _build_gate_drift_store(spark, sf_dir)
    return ewma_verdict(spark, store, "day", ["event_type"]).orderBy(
        "event_type", "day"
    )


def events_drift_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming drift monitor's STORE → VERDICT contract
    (streaming/drift.py), driver-certified end-to-end: the gate chops
    events into three deterministic pseudo-batches, writes each
    batch's per-(type, day) partial counts into its own batch_id=
    partition exactly like the foreachBatch sink does, then re-derives
    the CUSUM verdict from the summed store. Because partials are
    additive, the verdict must equal the one-shot batch CUSUM no
    matter how the stream was chopped — the oracle replays the split
    explicitly and sums it back (the store's whole design claim)."""
    from hypermap_etl_spark.streaming.drift import drift_verdict

    store = _build_gate_drift_store(spark, sf_dir)
    return drift_verdict(spark, store, "day", ["event_type"]).orderBy(
        "event_type"
    )


DRIFT_VERDICT_ORACLE = """
WITH parts AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         COALESCE(user_id, 0) % 3 AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3
),
daily AS (
  SELECT event_type, day, CAST(SUM(c) AS BIGINT) AS c
  FROM parts GROUP BY 1, 2
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM daily GROUP BY 1
),
z AS (
  SELECT d.event_type, d.day, n_days, sc, scc,
         (d.c - sc * 1.0 / n_days)
           / sqrt(scc * 1.0 / n_days
                  - (sc * 1.0 / n_days) * (sc * 1.0 / n_days)) AS z
  FROM daily d JOIN st USING (event_type)
),
cs AS (
  SELECT event_type, n_days, sc, scc,
         ABS(SUM(z) OVER (PARTITION BY event_type ORDER BY day)) AS abs_s
  FROM z
)
SELECT event_type, n_days,
       ROUND(sc * 1.0 / n_days, 6) AS mean_daily,
       ROUND(sqrt(scc * 1.0 / n_days
                  - (sc * 1.0 / n_days) * (sc * 1.0 / n_days)), 6)
         AS std_daily,
       ROUND(MAX(abs_s), 6) AS max_cusum,
       COALESCE(MAX(abs_s) > 3.0 * sqrt(n_days), FALSE) AS drifted
FROM cs GROUP BY event_type, n_days, sc, scc
ORDER BY event_type
"""




def _drift_ewma_oracle() -> str:
    # same exact-double weight embedding as _ewma_oracle, over the
    # pseudo-batch store sum instead of the raw corpus
    ws = [repr((1.0 - 0.3) ** (j - 1)) for j in range(1, 8)]
    lag_cols = ", ".join(f"lag(cnt, {j}) OVER w AS l{j}" for j in range(1, 8))
    num = " + ".join(
        f"COALESCE(CAST(l{j} AS DOUBLE), CAST(0 AS DOUBLE))"
        f" * CAST('{w}' AS DOUBLE)"
        for j, w in enumerate(ws, 1)
    )
    den = " + ".join(
        f"CASE WHEN l{j} IS NOT NULL THEN CAST('{w}' AS DOUBLE)"
        f" ELSE CAST(0 AS DOUBLE) END"
        for j, w in enumerate(ws, 1)
    )
    return f"""
WITH parts AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         COALESCE(user_id, 0) % 3 AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3
),
daily AS (
  SELECT event_type, day, CAST(SUM(c) AS BIGINT) AS cnt
  FROM parts GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day, cnt, {lag_cols}
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
e AS (
  SELECT event_type, day, cnt,
         CAST(0 AS DOUBLE) + {num} AS num,
         CAST(0 AS DOUBLE) + {den} AS den
  FROM lagged
),
r AS (
  SELECT event_type, day, cnt,
         CASE WHEN den > 0 THEN num / den END AS ewma,
         CASE WHEN den > 0 THEN
           abs(CAST(cnt AS DOUBLE) - num / den)
             / GREATEST(num / den, CAST(1 AS DOUBLE))
         END AS rel
  FROM e
)
SELECT event_type, day, cnt,
       ROUND(ewma, 6) AS ewma_prior,
       ROUND(rel, 6) AS rel_dev,
       COALESCE(rel > CAST('0.5' AS DOUBLE), FALSE) AS is_anomaly
FROM r ORDER BY event_type, day
"""


DRIFT_EWMA_ORACLE = _drift_ewma_oracle()


def events_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U over the deterministic A/A hash split
    (profile.mann_whitney_u): rank-sum comparison per event type with
    tie-corrected normal approximation — the nonparametric companion
    to events_ab_welch, built without a corpus ranking window (ranks
    from a running sum over each group's distinct values)."""
    from hypermap_etl_spark.operators.profile import mann_whitney_u

    ev = load_table(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", "user_id", ["event_type"]).orderBy(
        "event_type"
    )


MANNWHITNEY_ORACLE = """
WITH base AS (
  SELECT event_type,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
),
pv AS (
  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ta
  FROM base GROUP BY 1, 2
),
rk AS (
  SELECT *, SUM(t) OVER (PARTITION BY event_type ORDER BY v) AS cum
  FROM pv
),
g AS (
  SELECT event_type,
         CAST(SUM(ta) AS BIGINT) AS n_a,
         CAST(SUM(t - ta) AS BIGINT) AS n_b,
         SUM(CAST(ta AS DOUBLE)
             * (CAST(cum AS DOUBLE) - (CAST(t AS DOUBLE) - 1.0) / 2.0)) AS ra,
         SUM(CAST(t AS DOUBLE) * t * t - CAST(t AS DOUBLE)) AS ties
  FROM rk GROUP BY 1
),
s AS (
  SELECT event_type, n_a, n_b,
         ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0 AS u_a,
         CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
           * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
              - ties / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                        * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))
           AS sigma2
  FROM g WHERE n_a > 0 AND n_b > 0
),
f AS (
  SELECT event_type, n_a, n_b, u_a,
         CASE WHEN sqrt(sigma2) > 0 THEN
           (u_a - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
             / sqrt(sigma2) END AS z
  FROM s
)
SELECT event_type, n_a, n_b,
       ROUND(u_a, 6) AS u_stat, ROUND(z, 6) AS z_stat,
       COALESCE(abs(z) > CAST('1.96' AS DOUBLE), FALSE) AS significant
FROM f ORDER BY event_type
"""


def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of each type's daily count series
    (profile.theil_sen_trend): median of all pairwise slopes over the
    (group, day) AGGREGATE — the calendar bounds the O(days²) join,
    so corpus size never touches it."""
    from hypermap_etl_spark.operators.profile import theil_sen_trend

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return theil_sen_trend(ev, "day", ["event_type"]).orderBy("event_type")


THEILSEN_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, c,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
slopes AS (
  SELECT a.event_type AS event_type,
         CAST(b.c - a.c AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS s
  FROM idx a JOIN idx b
    ON a.event_type = b.event_type AND a.i < b.i
)
SELECT event_type, ROUND(MEDIAN(s), 6) AS ts_slope,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM slopes GROUP BY 1 ORDER BY 1
"""


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint localization per event type
    (profile.changepoint_screen): the standardized mean-shift scan
    statistic at its argmax split. The statistic is built only from
    integer cumulative sums via correctly-rounded double ops, so the
    argmax day is engine-exact — safe under a value-hash oracle."""
    from hypermap_etl_spark.operators.profile import changepoint_screen

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return changepoint_screen(ev, "day", ["event_type"]).orderBy("event_type")


CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, day,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
         SUM(c) OVER (PARTITION BY event_type ORDER BY day) AS sk,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(c) OVER (PARTITION BY event_type) AS sn,
         SUM(c * c) OVER (PARTITION BY event_type) AS ssn
  FROM daily
),
scored AS (
  SELECT event_type, day AS change_day, CAST(n AS BIGINT) AS n_days,
    (abs(CAST(n AS DOUBLE) * CAST(sk AS DOUBLE)
         - CAST(k AS DOUBLE) * CAST(sn AS DOUBLE)) / CAST(n AS DOUBLE))
    / (sqrt(GREATEST(CAST(ssn AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(sn AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(sn AS DOUBLE) / CAST(n AS DOUBLE)),
            CAST(0 AS DOUBLE)))
       * sqrt(CAST(k AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
              / CAST(n AS DOUBLE))) AS stat
  FROM cum WHERE k < n
),
pick AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type
    ORDER BY stat DESC NULLS LAST, change_day ASC) AS rn
  FROM scored
)
SELECT event_type, n_days, change_day,
       ROUND(stat, 6) AS cp_stat,
       COALESCE(stat > CAST(3 AS DOUBLE), FALSE) AS shifted
FROM pick WHERE rn = 1 ORDER BY event_type
"""


def orders_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest of the monthly order count series
    (profile.seasonal_naive_backtest): forecast(m) = count(m − 12),
    absolute-percentage error per month — the forecasting floor
    (and MASE denominator) computed from one calendar-bounded
    aggregate."""
    from hypermap_etl_spark.operators.profile import seasonal_naive_backtest

    o = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate")
        ).cast("long").alias("midx"),
    )
    return seasonal_naive_backtest(
        o, "month", period_index_col="midx"
    ).orderBy("month")


SEASONAL_NAIVE_ORACLE = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(CAST(strftime(o_orderdate, '%Y') AS BIGINT) * 12
              + CAST(strftime(o_orderdate, '%m') AS BIGINT) AS BIGINT)
           AS midx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
),
l AS (
  SELECT a.month, a.n, b.n AS forecast
  FROM m a LEFT JOIN m b ON b.midx + 12 = a.midx
)
SELECT month, n, forecast,
       CASE WHEN forecast IS NOT NULL THEN
         ROUND(CAST(abs(n - forecast) AS DOUBLE) / CAST(n AS DOUBLE), 6)
       END AS ape
FROM l ORDER BY month
"""




def events_heavy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage curve (scale.heavy_coverage): how many of the heaviest
    users cover 50/90/99% of all events — per-user aggregate, then the
    distributed total-order running sum (range shuffle + slice offsets,
    never a one-task ORDER BY window)."""
    from hypermap_etl_spark.operators.scale import heavy_coverage

    ev = load_table(spark, sf_dir, "events")
    return heavy_coverage(ev, ["user_id"]).orderBy("threshold")


HEAVY_COVERAGE_ORACLE = """
WITH per AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
r AS (
  SELECT x,
         SUM(x) OVER (ORDER BY x DESC, user_id ASC) AS cum,
         row_number() OVER (ORDER BY x DESC, user_id ASC) AS rk
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


def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts
    (scale.gini_concentration): the engagement-inequality scalar —
    rank over the per-user AGGREGATE via the distributed construction."""
    from hypermap_etl_spark.operators import scale

    g = scale.gini_concentration(
        load_table(spark, sf_dir, "events").filter(
            F.col("user_id").isNotNull()
        ),
        ["user_id"],
    )
    # operator keeps `total` exact decimal(38,0) (bytes-scale weights);
    # the gate's totals are event counts — bigint is exact and
    # driver-hash-safe (no DECIMAL outputs in gates)
    return g.withColumn("total", F.col("total").cast("bigint"))


USER_GINI_ORACLE = """
WITH per AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
r AS (
  SELECT x, row_number() OVER (ORDER BY x ASC, user_id ASC) AS rk FROM per
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(x) AS BIGINT) AS total,
         CAST(SUM(rk * x) AS DECIMAL(38,0)) AS srx
  FROM r
)
SELECT n_keys, total,
       ROUND(CASE WHEN n_keys > 1 THEN
         CAST(2 AS DOUBLE) * CAST(srx AS DOUBLE)
           / (CAST(n_keys AS DOUBLE) * CAST(total AS DOUBLE))
         - CAST(n_keys + 1 AS DOUBLE) / CAST(n_keys AS DOUBLE)
       END, 6) AS gini
FROM m
"""


def orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto 80/20 check on customer revenue (scale.pareto_share):
    the share of total order value held by the top 20% of customers;
    percent rank from the distributed construction."""
    from hypermap_etl_spark.operators import scale

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("double").alias("v")
    )
    return scale.pareto_share(o, ["o_custkey"], "v", top_fraction=0.2)


PARETO_ORACLE = """
WITH per AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DOUBLE)) AS w
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT w,
         percent_rank() OVER (ORDER BY w DESC, o_custkey ASC) AS p
  FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN ROUND(p, 6) <= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_top,
       ROUND(SUM(CASE WHEN ROUND(p, 6) <= 0.2 THEN w END) / SUM(w), 6)
         AS top_share
FROM r
"""


def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count autocorrelation at lags 1 and 7 per event type
    (profile.autocorr_daily) — the seasonality screen beside the CUSUM
    level monitor; calendar-matched pairs, integer-exact moments."""
    from hypermap_etl_spark.operators.profile import autocorr_daily

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return autocorr_daily(ev, "day", ["event_type"], lags=[1, 7]).orderBy(
        "event_type", "lag"
    )


AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(strftime(ts, '%Y-%m-%d') AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
lags AS (SELECT CAST(unnest([1, 7]) AS INT) AS lag),
pairs AS (
  SELECT a.event_type, lag, a.c AS x, b.c AS y
  FROM daily a CROSS JOIN lags
  JOIN daily b ON b.event_type = a.event_type
              AND a.d = b.d + CAST(lag AS INT)
),
m AS (
  SELECT event_type, lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, lag, n_pairs,
       ROUND((n_pairs * sxy - sx * sy)
             / sqrt((n_pairs * sxx - sx * sx)
                    * (n_pairs * syy - sy * sy)), 6) AS autocorr
FROM m ORDER BY event_type, lag
"""


def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics (lag over the user-keyed
    window — partitioned, never global): count, mean/min/max gap
    seconds for a deterministic user subset. The engagement-cadence
    profile next to events_sessions."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & (F.col("user_id") % 97 == 0)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w))
            / F.lit(1_000_000.0)
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.round(F.avg("gap_s"), 6).alias("mean_gap_s"),
            F.round(F.min("gap_s"), 6).alias("min_gap_s"),
            F.round(F.max("gap_s"), 6).alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - lag(epoch_us(ts))
            OVER (PARTITION BY user_id ORDER BY ts, event_id))
           / 1000000.0 AS gap_s
  FROM events WHERE user_id IS NOT NULL AND user_id % 97 = 0
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(AVG(gap_s), 6) AS mean_gap_s,
       ROUND(MIN(gap_s), 6) AS min_gap_s,
       ROUND(MAX(gap_s), 6) AS max_gap_s
FROM g WHERE gap_s IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


def events_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day
    (asof.sliding_distinct_actives) — the DAU/WAU family via
    contribution explosion: one distinct-pair aggregate, a bounded ×7
    map-side explode, one count-distinct per day. Never re-scans the
    corpus per report day."""
    from hypermap_etl_spark.operators.asof import sliding_distinct_actives

    return sliding_distinct_actives(
        load_table(spark, sf_dir, "events").select("ts", "user_id"),
        "ts",
        "user_id",
        window_days=7,
    )


WAU_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT user_id AS k, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
span AS (SELECT MAX(d) AS last_day FROM pairs),
contrib AS (
  SELECT k, CAST(d + CAST(i AS INT) AS DATE) AS day
  FROM pairs CROSS JOIN span
  CROSS JOIN range(7) t(i)
  WHERE d + CAST(i AS INT) <= last_day
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS n_active,
       7 AS window_days
FROM contrib GROUP BY day ORDER BY day
"""


def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the classic engagement ratio,
    composed from two sliding_distinct_actives passes (window 1 and
    window 28) joined on the report day. Both passes are the
    contribution-explosion construction, so no per-day corpus rescans;
    days without activity have no DAU row and drop from the ratio."""
    from hypermap_etl_spark.operators.asof import sliding_distinct_actives

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    dau = sliding_distinct_actives(ev, "ts", "user_id", window_days=1).select(
        "day", F.col("n_active").alias("dau")
    )
    mau = sliding_distinct_actives(ev, "ts", "user_id", window_days=28).select(
        "day", F.col("n_active").alias("mau")
    )
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            F.round(
                F.try_divide(
                    F.col("dau").cast("double"), F.col("mau").cast("double")
                ),
                6,
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


STICKINESS_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT user_id AS k, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
span AS (SELECT MAX(d) AS last_day FROM pairs),
dau AS (
  SELECT CAST(d AS VARCHAR) AS day, CAST(COUNT(DISTINCT k) AS BIGINT) AS dau
  FROM pairs GROUP BY 1
),
mcontrib AS (
  SELECT k, CAST(d + CAST(i AS INT) AS DATE) AS day
  FROM pairs CROSS JOIN span
  CROSS JOIN range(28) t(i)
  WHERE d + CAST(i AS INT) <= last_day
),
mau AS (
  SELECT CAST(day AS VARCHAR) AS day,
         CAST(COUNT(DISTINCT k) AS BIGINT) AS mau
  FROM mcontrib GROUP BY 1
)
SELECT day, dau, mau,
       ROUND(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6) AS stickiness
FROM dau JOIN mau USING (day) ORDER BY day
"""


def events_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor of each type's daily counts (profile.fano_factor):
    count-dispersion burstiness — the complement of the gap-CV bot
    screen. Exact decimal count moments, one fixed-order double
    tail."""
    from hypermap_etl_spark.operators.profile import fano_factor

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return fano_factor(ev, "day", ["event_type"]).orderBy("event_type")


FANO_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS ss
  FROM daily GROUP BY 1
)
SELECT event_type, n_days, CAST(s AS BIGINT) AS total,
       ROUND(CASE WHEN CAST(n_days AS DOUBLE) * CAST(s AS DOUBLE) <> 0
                  THEN (CAST(n_days AS DOUBLE) * CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(n_days AS DOUBLE) * CAST(s AS DOUBLE)) END,
             6) AS fano
FROM g ORDER BY event_type
"""


def events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov entropy rate of per-user event-type
    sequences (profile.markov_entropy_rate): how predictable the next
    action is given the current one — the sequence-grained
    predictability screen beside the per-day burstiness and gap
    views. Transitions order by (ts, event_id) inside a user-
    partitioned window; entropy terms round to 9 dp into decimal
    sums."""
    from hypermap_etl_spark.operators.profile import markov_entropy_rate

    # NULL order keys would sort differently across engines (Spark
    # NULLS FIRST vs DuckDB NULLS LAST) — exclude them explicitly
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    return markov_entropy_rate(
        ev, "user_id", "event_type", ["ts", "event_id"]
    )


MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL
),
trans AS (
  SELECT prev, event_type AS next, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
),
pm AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS np FROM trans GROUP BY 1),
nm AS (SELECT next, CAST(SUM(n) AS BIGINT) AS nn FROM trans GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
               CAST(COUNT(DISTINCT next) AS BIGINT) AS states
        FROM trans),
hr AS (
  SELECT SUM(CAST(ROUND(
           -(CAST(tr.n AS DOUBLE) / CAST(tot.t AS DOUBLE))
           * (ln(CAST(tr.n AS DOUBLE)) - ln(CAST(pm.np AS DOUBLE))),
           9) AS DECIMAL(28,9))) AS hrd,
         CAST(MAX(tot.t) AS BIGINT) AS n_transitions,
         CAST(MAX(tot.states) AS BIGINT) AS n_states
  FROM trans tr JOIN pm ON tr.prev = pm.prev CROSS JOIN tot
),
hn AS (
  SELECT SUM(CAST(ROUND(
           -(CAST(nm.nn AS DOUBLE) / CAST(tot.t AS DOUBLE))
           * (ln(CAST(nm.nn AS DOUBLE)) - ln(CAST(tot.t AS DOUBLE))),
           9) AS DECIMAL(28,9))) AS hnd
  FROM nm CROSS JOIN tot
)
SELECT n_transitions, n_states,
       ROUND(CAST(hrd AS DOUBLE), 6) AS h_rate,
       ROUND(CAST(hnd AS DOUBLE), 6) AS h_next,
       ROUND(1.0 - CASE WHEN CAST(hnd AS DOUBLE) <> 0
                        THEN CAST(hrd AS DOUBLE) / CAST(hnd AS DOUBLE) END,
             6) AS predictability
FROM hr CROSS JOIN hn
"""


def events_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over (user, day) baskets of event
    types (profile.basket_rules): support, both confidences, and lift
    per co-occurring pair — the probabilistic market-basket view next
    to the structural co-purchase graph gates. Presence semantics
    (distinct basket-item), exact-long ratios."""
    from hypermap_etl_spark.operators.profile import basket_rules

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
    )
    return basket_rules(ev, ["user_id", "day"], "event_type", min_support=5).orderBy(
        "item_a", "item_b"
    )


BASKET_RULES_ORACLE = """
WITH items AS (
  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day, event_type
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
       (SELECT DISTINCT user_id, day FROM items)),
marg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m FROM items GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS item_a, b.event_type AS item_b,
         CAST(COUNT(*) AS BIGINT) AS np
  FROM items a JOIN items b
    ON a.user_id = b.user_id AND a.day = b.day
   AND a.event_type < b.event_type
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT item_a, item_b, np AS n_baskets_pair,
       ROUND(CAST(np AS DOUBLE) / CAST(nb.n AS DOUBLE), 6) AS support,
       ROUND(CAST(np AS DOUBLE) / CAST(ma.m AS DOUBLE), 6) AS conf_a_to_b,
       ROUND(CAST(np AS DOUBLE) / CAST(mb.m AS DOUBLE), 6) AS conf_b_to_a,
       ROUND(CAST(np AS DOUBLE) * CAST(nb.n AS DOUBLE)
             / (CAST(ma.m AS DOUBLE) * CAST(mb.m AS DOUBLE)), 6) AS lift
FROM pairs
JOIN marg ma ON pairs.item_a = ma.event_type
JOIN marg mb ON pairs.item_b = mb.event_type
CROSS JOIN nb
ORDER BY item_a, item_b
"""


def events_sequence_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional order probabilities per event-type pair: within
    each (user, day) basket where BOTH types occur, which came first
    (first occurrence = min (ts, event_id), a total order, so the
    winner is engine-exact)? The pairwise-order complement of the
    fixed-step funnel and the full path prefixes — 'do carts precede
    purchases, and how often?'. One first-occurrence aggregate, a
    within-basket pair join bounded by basket sizes, exact-long
    ratios."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    firsts = (
        ev.select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.struct(F.col("ts"), F.col("event_id")).alias("occ"),
        )
        .groupBy("user_id", "day", "event_type")
        .agg(F.min("occ").alias("first_occ"))
    )
    a = firsts.select(
        "user_id", "day",
        F.col("event_type").alias("item_a"), F.col("first_occ").alias("fa"),
    )
    b = firsts.select(
        "user_id", "day",
        F.col("event_type").alias("item_b"), F.col("first_occ").alias("fb"),
    )
    pairs = a.join(b, ["user_id", "day"]).filter(
        F.col("item_a") < F.col("item_b")
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_both"),
            F.sum(F.when(F.col("fa") < F.col("fb"), 1).otherwise(0))
            .cast("long")
            .alias("n_a_first"),
        )
        .select(
            "item_a",
            "item_b",
            "n_both",
            "n_a_first",
            (F.col("n_both") - F.col("n_a_first")).alias("n_b_first"),
            F.round(
                F.col("n_a_first").cast("double") / F.col("n_both").cast("double"),
                6,
            ).alias("p_a_first"),
        )
        .orderBy("item_a", "item_b")
    )


SEQUENCE_ORDER_ORACLE = """
WITH f AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, event_type,
         MIN(ROW(ts, event_id)) AS occ
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT a.event_type AS item_a, b.event_type AS item_b,
       CAST(COUNT(*) AS BIGINT) AS n_both,
       CAST(SUM(CASE WHEN a.occ < b.occ THEN 1 ELSE 0 END) AS BIGINT)
         AS n_a_first,
       CAST(SUM(CASE WHEN a.occ < b.occ THEN 0 ELSE 1 END) AS BIGINT)
         AS n_b_first,
       ROUND(CAST(SUM(CASE WHEN a.occ < b.occ THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS p_a_first
FROM f a JOIN f b
  ON a.user_id = b.user_id AND a.day = b.day
 AND a.event_type < b.event_type
GROUP BY 1, 2 ORDER BY 1, 2
"""


def events_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal profile per event type: the peak hour (ties to the
    earliest hour — a total order), its share, and the hour-of-day
    entropy in nats (24 cells, terms rounded to 9 dp into decimal
    sums — order-free). Humans are diurnal (entropy well below
    ln 24≈3.18, clear peaks); uniform-clock bots aren't — the
    time-of-day face of the bot-screen family."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        "event_type",
        F.date_format("ts", "H").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("hour")
    )
    tot = hourly.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("__t")
    )
    ent_term = F.round(
        -(F.col("n").cast("double") / F.col("__t").cast("double"))
        * (
            F.log(F.col("n").cast("double"))
            - F.log(F.col("__t").cast("double"))
        ),
        9,
    ).cast("decimal(28,9)")
    enriched = hourly.join(F.broadcast(tot), "event_type")
    ent = enriched.groupBy("event_type").agg(
        F.sum(ent_term).alias("__h"), F.first("__t").alias("n_events")
    )
    peak = (
        hourly.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_type", F.col("hour").alias("peak_hour"),
                F.col("n").alias("__pn"))
    )
    return (
        ent.join(peak, "event_type")
        .select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            "peak_hour",
            F.round(
                F.col("__pn").cast("double") / F.col("n_events").cast("double"),
                6,
            ).alias("peak_share"),
            F.round(F.col("__h").cast("double"), 6).alias("hour_entropy"),
        )
        .orderBy("event_type")
    )


HOUR_PROFILE_ORACLE = """
WITH h AS (
  SELECT event_type, CAST(strftime(ts, '%H') AS INT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tt FROM h GROUP BY 1),
e AS (
  SELECT h.event_type,
         SUM(CAST(ROUND(
           -(CAST(h.n AS DOUBLE) / CAST(t.tt AS DOUBLE))
           * (ln(CAST(h.n AS DOUBLE)) - ln(CAST(t.tt AS DOUBLE))),
           9) AS DECIMAL(28,9))) AS hd,
         CAST(MAX(t.tt) AS BIGINT) AS n_events
  FROM h JOIN t ON h.event_type = t.event_type GROUP BY 1
),
p AS (
  SELECT event_type, hour AS peak_hour, n AS pn FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY n DESC, hour ASC) AS rn
    FROM h
  ) WHERE rn = 1
)
SELECT e.event_type, e.n_events, p.peak_hour,
       ROUND(CAST(p.pn AS DOUBLE) / CAST(e.n_events AS DOUBLE), 6)
         AS peak_share,
       ROUND(CAST(e.hd AS DOUBLE), 6) AS hour_entropy
FROM e JOIN p ON e.event_type = p.event_type
ORDER BY e.event_type
"""


def events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the A/A hash split with a fixed
    mid-month cutoff (profile.did_estimate): the parallel-trends
    estimator — on an A/A split the true effect is 0, so this doubles
    as the pipeline's DiD sanity check. Four exact-decimal cells, one
    double tail."""
    from hypermap_etl_spark.operators.profile import did_estimate

    ev = load_table(spark, sf_dir, "events").withColumn(
        "post",
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).cast("int"),
    )
    return did_estimate(ev, "value", "user_id", "post")


DID_ORACLE = """
WITH base AS (
  SELECT CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS post,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
),
c AS (
  SELECT arm, post, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(v) AS s, SUM(v * v) AS ss
  FROM base GROUP BY 1, 2
),
g AS (
  SELECT
    MAX(CASE WHEN arm = 0 AND post = 0 THEN n END) AS n00,
    MAX(CASE WHEN arm = 0 AND post = 1 THEN n END) AS n01,
    MAX(CASE WHEN arm = 1 AND post = 0 THEN n END) AS n10,
    MAX(CASE WHEN arm = 1 AND post = 1 THEN n END) AS n11,
    MAX(CASE WHEN arm = 0 AND post = 0 THEN s END) AS s00,
    MAX(CASE WHEN arm = 0 AND post = 1 THEN s END) AS s01,
    MAX(CASE WHEN arm = 1 AND post = 0 THEN s END) AS s10,
    MAX(CASE WHEN arm = 1 AND post = 1 THEN s END) AS s11,
    MAX(CASE WHEN arm = 0 AND post = 0 THEN ss END) AS q00,
    MAX(CASE WHEN arm = 0 AND post = 1 THEN ss END) AS q01,
    MAX(CASE WHEN arm = 1 AND post = 0 THEN ss END) AS q10,
    MAX(CASE WHEN arm = 1 AND post = 1 THEN ss END) AS q11
  FROM c
),
f AS (
  SELECT n00, n01, n10, n11,
    (CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)
     - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
    - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)
       - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) AS did,
    sqrt(
      (CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) * CAST(s00 AS DOUBLE)
         / CAST(n00 AS DOUBLE)) / (CAST(n00 AS DOUBLE) - 1.0)
        / CAST(n00 AS DOUBLE)
      + (CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) * CAST(s01 AS DOUBLE)
         / CAST(n01 AS DOUBLE)) / (CAST(n01 AS DOUBLE) - 1.0)
        / CAST(n01 AS DOUBLE)
      + (CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE)
         / CAST(n10 AS DOUBLE)) / (CAST(n10 AS DOUBLE) - 1.0)
        / CAST(n10 AS DOUBLE)
      + (CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s11 AS DOUBLE)
         / CAST(n11 AS DOUBLE)) / (CAST(n11 AS DOUBLE) - 1.0)
        / CAST(n11 AS DOUBLE)
    ) AS se
  FROM g
)
SELECT n00 AS n_pre_a, n01 AS n_post_a, n10 AS n_pre_b, n11 AS n_post_b,
       ROUND(did, 6) AS did,
       ROUND(CASE WHEN n00 >= 2 AND n01 >= 2 AND n10 >= 2 AND n11 >= 2
                   AND se <> 0 THEN did / se END, 6) AS z_stat,
       COALESCE(abs(CASE WHEN n00 >= 2 AND n01 >= 2 AND n10 >= 2
                          AND n11 >= 2 AND se <> 0 THEN did / se END)
                > CAST('1.96' AS DOUBLE), FALSE) AS significant
FROM f
"""


def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/A effect (profile.cuped_adjust): per-user
    pre-period spend (before the mid-month cutoff, zero-filled) as
    the covariate for post-period spend — on the A/A split the true
    effect is 0 and the adjustment must keep it there while the
    variance-reduction ratio reports the covariate's strength. Unit
    aggregates are exact decimal(18,2) sums; all moments decimal."""
    from hypermap_etl_spark.operators.profile import cuped_adjust

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    )
    v = F.col("value").cast("decimal(12,2)")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cut, v)), F.lit(0))
        .cast("decimal(18,2)")
        .alias("pre"),
        F.coalesce(F.sum(F.when(F.col("ts") >= cut, v)), F.lit(0))
        .cast("decimal(18,2)")
        .alias("post"),
    )
    return cuped_adjust(per_user, "pre", "post", "user_id")


CUPED_ORACLE = """
WITH pu AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                THEN CAST(value AS DECIMAL(12,2)) END), 0)
              AS DECIMAL(18,2)) AS x,
         CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                THEN CAST(value AS DECIMAL(12,2)) END), 0)
              AS DECIMAL(18,2)) AS y
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1
),
b AS (
  SELECT CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm, x, y
  FROM pu
),
pa AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS syy
  FROM b GROUP BY 1
),
g AS (
  SELECT
    MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
    MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
    MAX(CASE WHEN arm = 0 THEN CAST(sx AS DOUBLE) END) AS sxa,
    MAX(CASE WHEN arm = 1 THEN CAST(sx AS DOUBLE) END) AS sxb,
    MAX(CASE WHEN arm = 0 THEN CAST(sy AS DOUBLE) END) AS sya,
    MAX(CASE WHEN arm = 1 THEN CAST(sy AS DOUBLE) END) AS syb,
    MAX(CASE WHEN arm = 0 THEN CAST(sxy AS DOUBLE) END) AS sxya,
    MAX(CASE WHEN arm = 1 THEN CAST(sxy AS DOUBLE) END) AS sxyb,
    MAX(CASE WHEN arm = 0 THEN CAST(sxx AS DOUBLE) END) AS sxxa,
    MAX(CASE WHEN arm = 1 THEN CAST(sxx AS DOUBLE) END) AS sxxb,
    MAX(CASE WHEN arm = 0 THEN CAST(syy AS DOUBLE) END) AS syya,
    MAX(CASE WHEN arm = 1 THEN CAST(syy AS DOUBLE) END) AS syyb
  FROM pa
),
f AS (
  SELECT n_a, n_b,
    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS n,
    sxa + sxb AS sx, sya + syb AS sy, sxya + sxyb AS sxy,
    sxxa + sxxb AS sxx, syya + syyb AS syy,
    sxa, sxb, sya, syb, sxya, sxyb, sxxa, sxxb, syya, syyb
  FROM g
),
t AS (
  SELECT *,
    CASE WHEN sxx - sx * sx / n <> 0
         THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) END AS theta
  FROM f
),
e AS (
  SELECT *,
    syb / nb - sya / na AS effect_raw,
    (syb / nb - theta * (sxb / nb - sx / n))
      - (sya / na - theta * (sxa / na - sx / n)) AS effect_adj,
    ((syya - sya * sya / na) - 2.0 * theta * (sxya - sxa * sya / na)
      + theta * theta * (sxxa - sxa * sxa / na)) / (na - 1.0) AS va,
    ((syyb - syb * syb / nb) - 2.0 * theta * (sxyb - sxb * syb / nb)
      + theta * theta * (sxxb - sxb * sxb / nb)) / (nb - 1.0) AS vb,
    ((syya + syyb) - sy * sy / n) / (n - 1.0) AS vy_pool,
    ((syya + syyb) - 2.0 * theta * sxy + theta * theta * sxx
      - (sy - theta * sx) * (sy - theta * sx) / n) / (n - 1.0) AS vadj_pool
  FROM t
),
z AS (
  SELECT *,
    CASE WHEN n_a >= 2 AND n_b >= 2 AND sqrt(va / na + vb / nb) <> 0
         THEN effect_adj / sqrt(va / na + vb / nb) END AS zz
  FROM e
)
SELECT n_a, n_b, ROUND(theta, 6) AS theta,
       ROUND(effect_raw, 6) AS effect_raw,
       ROUND(effect_adj, 6) AS effect_adj,
       ROUND(zz, 6) AS z_adj,
       ROUND(1.0 - CASE WHEN vy_pool <> 0
                        THEN vadj_pool / vy_pool END, 6) AS var_reduction,
       COALESCE(abs(zz) > CAST('1.96' AS DOUBLE), FALSE) AS significant
FROM z
"""


def events_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check of the md5 hash split
    (profile.srm_check) — certifies the very unit assignment every
    A/B gate in this registry reads: distinct users per arm vs 50/50,
    z at the conventional |z| > 3 SRM bar."""
    from hypermap_etl_spark.operators.profile import srm_check

    return srm_check(load_table(spark, sf_dir, "events"), "user_id")


SRM_ORACLE = """
WITH u AS (
  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(CASE WHEN CAST('0x' || substr(
                md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a
  FROM u
)
SELECT n_units, n_a, n_units - n_a AS n_b,
       ROUND(CASE WHEN sqrt(CAST(n_units AS DOUBLE) / 4.0) <> 0
                  THEN (CAST(n_a AS DOUBLE)
                        - CAST(n_units AS DOUBLE) / 2.0)
                       / sqrt(CAST(n_units AS DOUBLE) / 4.0) END, 6)
         AS z_stat,
       COALESCE(abs(CASE WHEN sqrt(CAST(n_units AS DOUBLE) / 4.0) <> 0
                         THEN (CAST(n_a AS DOUBLE)
                               - CAST(n_units AS DOUBLE) / 2.0)
                              / sqrt(CAST(n_units AS DOUBLE) / 4.0) END)
                > CAST('3.0' AS DOUBLE), FALSE) AS srm_suspected
FROM a
"""


def events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-retention curve (profile.km_survival):
    per-user lifetime = days between first and last activity, right-
    censored for users still active on the corpus's final observed
    day — the censoring-correct churn view. The survival product runs
    as an exact decimal cumulative sum of 9-dp-rounded log terms, so
    the curve is engine-identical."""
    from hypermap_etl_spark.operators.profile import km_survival

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    horizon = per_user.agg(F.max("last_day").alias("__max_day"))
    life = per_user.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_day", "first_day").cast("long").alias("duration"),
        (F.col("last_day") < F.col("__max_day")).cast("int").alias("event"),
    )
    return km_survival(life, "duration", "event")


SURVIVAL_ORACLE = """
WITH pu AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1
),
hz AS (SELECT MAX(l) AS mx FROM pu),
life AS (
  SELECT CAST(l - f AS BIGINT) AS t,
         CASE WHEN l < hz.mx THEN 1 ELSE 0 END AS e
  FROM pu CROSS JOIN hz
),
per_t AS (
  SELECT t, CAST(SUM(e) AS BIGINT) AS d,
         CAST(SUM(1 - e) AS BIGINT) AS c
  FROM life GROUP BY 1
),
tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n FROM per_t),
risk AS (
  SELECT t, d, c,
         tot.n - COALESCE(SUM(d + c) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS at_risk
  FROM per_t CROSS JOIN tot
),
lt AS (
  SELECT *,
         CASE WHEN d < at_risk THEN
           CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE)
                         / CAST(at_risk AS DOUBLE)), 9)
                AS DECIMAL(38,9)) END AS term
  FROM risk
),
cum AS (
  SELECT *,
         SUM(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS ls,
         MAX(CASE WHEN term IS NULL THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead
  FROM lt
)
SELECT t, CAST(at_risk AS BIGINT) AS n_at_risk, d AS n_events,
       c AS n_censored_at_t,
       ROUND(CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
                  ELSE exp(CAST(ls AS DOUBLE)) END, 6) AS survival
FROM cum WHERE d > 0 ORDER BY t
"""


def events_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank comparison of the hash-split arms' retention
    (profile.logrank_test over the same lifetimes as
    events_survival): on the A/A split the survival curves share a
    truth, so this is the survival family's standing sanity check.
    All per-time counts exact; expectation and variance terms round
    to 9 dp into decimal sums."""
    from hypermap_etl_spark.operators.profile import logrank_test

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    horizon = per_user.agg(F.max("last_day").alias("__max_day"))
    arm = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    life = per_user.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_day", "first_day").cast("long").alias("duration"),
        (F.col("last_day") < F.col("__max_day")).cast("int").alias("event"),
        arm.cast("int").alias("arm"),
    )
    return logrank_test(life, "duration", "event", "arm")


LOGRANK_ORACLE = """
WITH pu AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1
),
hz AS (SELECT MAX(l) AS mx FROM pu),
life AS (
  SELECT CAST(l - f AS BIGINT) AS t,
         CASE WHEN l < hz.mx THEN 1 ELSE 0 END AS e,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS g
  FROM pu CROSS JOIN hz
),
per_t AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(e) AS BIGINT) AS d,
         CAST(SUM(g) AS BIGINT) AS m1, CAST(SUM(e * g) AS BIGINT) AS d1
  FROM life GROUP BY 1
),
tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
               CAST(SUM(m1) AS BIGINT) AS n1g FROM per_t),
risk AS (
  SELECT *,
         tot.n - COALESCE(SUM(m) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS nt,
         tot.n1g - COALESCE(SUM(m1) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS nt1
  FROM per_t CROSS JOIN tot
),
a AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS observed_1,
         SUM(CAST(ROUND(CAST(d AS DOUBLE) * CAST(nt1 AS DOUBLE)
                        / CAST(nt AS DOUBLE), 9) AS DECIMAL(38,9))) AS e1,
         SUM(CASE WHEN nt > 1 THEN
               CAST(ROUND(CAST(d AS DOUBLE)
                    * (CAST(nt1 AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (1.0 - CAST(nt1 AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (CAST(nt AS DOUBLE) - CAST(d AS DOUBLE))
                    / (CAST(nt AS DOUBLE) - 1.0), 9) AS DECIMAL(38,9))
             ELSE CAST(0 AS DECIMAL(38,9)) END) AS v
  FROM risk WHERE d > 0
)
SELECT tot.n - tot.n1g AS n_group_0, tot.n1g AS n_group_1, observed_1,
       ROUND(CAST(e1 AS DOUBLE), 6) AS expected_1,
       ROUND(CASE WHEN CAST(v AS DOUBLE) > 0
                  THEN (CAST(observed_1 AS DOUBLE) - CAST(e1 AS DOUBLE))
                       / sqrt(CAST(v AS DOUBLE)) END, 6) AS z_stat,
       COALESCE(abs(CASE WHEN CAST(v AS DOUBLE) > 0
                         THEN (CAST(observed_1 AS DOUBLE)
                               - CAST(e1 AS DOUBLE))
                              / sqrt(CAST(v AS DOUBLE)) END)
                > CAST('1.96' AS DOUBLE), FALSE) AS significant
FROM a CROSS JOIN tot
"""


def events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of the value column
    (profile.benford_profile): per-digit observed vs log10(1+1/d)
    shares + chi-square terms — the fabricated-feed screen."""
    from hypermap_etl_spark.operators.profile import benford_profile

    return benford_profile(
        load_table(spark, sf_dir, "events").select("value"), "value"
    )


def _benford_oracle() -> str:
    ladder = "CASE "
    for e in range(18, -10, -1):
        lo = float(10.0 ** e)
        ladder += (
            f"WHEN abs(CAST(value AS DOUBLE)) >= {lo!r} "
            f"THEN abs(CAST(value AS DOUBLE)) / {lo!r} "
        )
    ladder += "END"
    return f"""
WITH d AS (
  SELECT CAST(floor({ladder}) AS INT) AS digit
  FROM events
  WHERE value IS NOT NULL AND abs(CAST(value AS DOUBLE)) > 0
),
c AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d
  WHERE digit BETWEEN 1 AND 9 GROUP BY digit
),
t AS (SELECT SUM(n_obs) AS n FROM c),
base AS (SELECT CAST(unnest(generate_series(1, 9)) AS INT) AS digit)
SELECT base.digit,
       CAST(COALESCE(n_obs, 0) AS BIGINT) AS n_obs,
       ROUND(COALESCE(n_obs, 0) * 1.0 / n, 6) AS obs_share,
       ROUND(log10(1.0 + 1.0 / base.digit), 6) AS exp_share,
       ROUND(pow(COALESCE(n_obs, 0) - n * log10(1.0 + 1.0 / base.digit), 2.0)
             / (n * log10(1.0 + 1.0 / base.digit)), 6) AS chi2_term
FROM base LEFT JOIN c ON base.digit = c.digit CROSS JOIN t
ORDER BY base.digit
"""


def events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile clamp (profile.winsorize, p01/p99 per event type):
    the repair counterpart of the outlier screens; summary per type
    proves means stabilized and counts the clamped tail."""
    from hypermap_etl_spark.operators.profile import winsorize

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    w = winsorize(ev, "value", 0.01, 0.99, ["event_type"])
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("was_clamped").cast("int")).cast("bigint").alias(
                "n_clamped"
            ),
            F.round(F.avg("value"), 6).alias("mean_raw"),
            F.round(F.avg("value_w"), 6).alias("mean_w"),
        )
        .orderBy("event_type")
    )


WINSORIZE_ORACLE = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS lo,
         quantile_cont(value, 0.99) AS hi
  FROM events GROUP BY event_type
),
w AS (
  SELECT e.event_type, e.value,
         ROUND(LEAST(GREATEST(CAST(e.value AS DOUBLE), lo), hi), 6) AS value_w,
         (e.value IS NOT NULL AND (e.value < lo OR e.value > hi))
           AS was_clamped
  FROM events e JOIN b USING (event_type)
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN was_clamped THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped,
       ROUND(AVG(value), 6) AS mean_raw,
       ROUND(AVG(value_w), 6) AS mean_w
FROM w GROUP BY event_type ORDER BY event_type
"""


def events_fd_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freedman-Diaconis auto-binned histogram of the value column
    (profile.fd_histogram) — no bin-count knob, robust width from
    the IQR."""
    from hypermap_etl_spark.operators.profile import fd_histogram

    return fd_histogram(
        load_table(spark, sf_dir, "events").select("value"), "value"
    )


FD_HISTOGRAM_ORACLE = """
WITH st AS (
  SELECT quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3,
         CAST(MIN(value) AS DOUBLE) AS lo_all,
         CAST(MAX(value) AS DOUBLE) AS hi_all,
         COUNT(value) AS n
  FROM events
),
wd AS (
  SELECT *, CASE
    WHEN 2.0 * (q3 - q1) / pow(CAST(n AS DOUBLE), 1.0 / 3.0) > 0
      THEN 2.0 * (q3 - q1) / pow(CAST(n AS DOUBLE), 1.0 / 3.0)
    WHEN hi_all > lo_all THEN hi_all - lo_all
    ELSE 1.0 END AS w
  FROM st
),
b AS (
  SELECT GREATEST(LEAST(
           CAST(floor((CAST(value AS DOUBLE) - lo_all) / w) AS BIGINT),
           CAST(ceil((hi_all - lo_all) / w) AS BIGINT) - 1), 0) AS bin,
         lo_all, w
  FROM events CROSS JOIN wd
)
SELECT bin, ROUND(lo_all + bin * w, 6) AS lo,
       ROUND(lo_all + (bin + 1) * w, 6) AS hi,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM b GROUP BY bin, lo_all, w ORDER BY bin
"""


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outlier screen per event type (profile.mad_outliers)
    — the heavy-tail-safe twin of events_value_outliers' mean/std
    z-score; top 20 by robust z."""
    from hypermap_etl_spark.operators.profile import mad_outliers

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    scored = mad_outliers(ev, "value", ["event_type"], k=3.0)
    return (
        scored.select(
            "event_type",
            "event_id",
            F.round("value", 6).alias("value"),
            "med",
            "mad",
            "robust_z",
            "is_outlier",
        )
        .orderBy(F.col("robust_z").desc(), F.col("event_id").asc())
        .limit(20)
    )


MAD_ORACLE = """
WITH med AS (
  SELECT event_type,
         percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
  FROM events GROUP BY 1
),
wm AS (
  SELECT e.event_type, e.event_id, e.value, med.med
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type,
         percentile_cont(0.5) WITHIN GROUP (ORDER BY ABS(value - med))
           AS mad
  FROM wm GROUP BY 1
)
SELECT event_type, event_id, ROUND(value, 6) AS value,
       ROUND(med, 6) AS med, ROUND(mad, 6) AS mad,
       ROUND(ABS(value - med) / (1.4826 * mad), 6) AS robust_z,
       COALESCE(CASE WHEN mad <> 0 THEN ABS(value - med) / (1.4826 * mad) > 3.0 END, FALSE) AS is_outlier
FROM wm JOIN mad USING (event_type)
ORDER BY robust_z DESC, event_id ASC
LIMIT 20
"""


def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis on the events type key: heaviest
    keys with share, per-key salt factor, and distribution entropy —
    the pre-flight report run before committing a 100 TB join/groupBy
    to this key (operators/scale.key_skew_report)."""
    from hypermap_etl_spark.operators import scale

    return scale.key_skew_report(
        load_table(spark, sf_dir, "events"), ["event_type"], top=5
    ).orderBy(F.col("cnt").desc(), F.col("event_type").asc())


KEY_SKEW_ORACLE = """
WITH c AS (
  SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS n_rows
  FROM c
),
e AS (
  SELECT ROUND(-SUM((cnt * 1.0 / n_rows) * ln(cnt * 1.0 / n_rows)), 6)
           AS key_entropy
  FROM c CROSS JOIN t
)
SELECT event_type, cnt,
       ROUND(cnt * 1.0 / n_rows, 6) AS share,
       CAST(ceil(cnt * 1.0 / n_rows * n_keys) AS BIGINT) AS key_salt,
       n_keys, n_rows, key_entropy
FROM c CROSS JOIN t CROSS JOIN e
ORDER BY cnt DESC, event_type ASC
LIMIT 5
"""


def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (curation.l_diversity, Machanavajjhala et al.
    2007) over the (nation, segment) quasi-identifier with the balance
    quartile as the sensitive attribute — the disclosure check
    k-anonymity misses when a group's sensitive value is uniform."""
    from hypermap_etl_spark.operators.curation import l_diversity

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band",
        F.expr(
            "least(cast(cast(c_acctbal as decimal(38,2)) * 100 as long)"
            " div 250000, 3L)"
        ),
    )
    return l_diversity(cust, ["c_nationkey", "c_mktsegment"], "bal_band", l=3)


def customer_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (curation.t_closeness, Li et al. 2007) over
    the same (nation, segment) quasi-identifier and balance-band
    sensitive attribute as the k-anonymity / l-diversity gates — the
    distribution-skew disclosure those two miss. The distance and the
    at-risk comparison are pure integer arithmetic; only the reported
    max rounds."""
    from hypermap_etl_spark.operators.curation import t_closeness

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band",
        F.expr(
            "least(cast(cast(c_acctbal as decimal(38,2)) * 100 as long)"
            " div 250000, 3L)"
        ),
    )
    return t_closeness(cust, ["c_nationkey", "c_mktsegment"], "bal_band", t=0.2)


T_CLOSENESS_ORACLE = """
WITH b AS (
  SELECT c_nationkey, c_mktsegment,
         LEAST(CAST(CAST(c_acctbal AS DECIMAL(38,2)) * 100 AS BIGINT)
               // 250000, 3) AS bal_band
  FROM customer
),
gs AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(COUNT(*) AS BIGINT) AS ngs
  FROM b WHERE bal_band IS NOT NULL GROUP BY 1, 2, 3
),
pg AS (
  SELECT c_nationkey, c_mktsegment, CAST(SUM(ngs) AS BIGINT) AS ng
  FROM gs GROUP BY 1, 2
),
gl AS (SELECT bal_band, CAST(SUM(ngs) AS BIGINT) AS ns FROM gs GROUP BY 1),
tt AS (SELECT CAST(SUM(ns) AS BIGINT) AS n FROM gl),
grid AS (
  SELECT pg.c_nationkey, pg.c_mktsegment, pg.ng, tt.n,
         ABS(CAST(COALESCE(gs.ngs, 0) AS DECIMAL(38,0))
               * CAST(tt.n AS DECIMAL(38,0))
             - CAST(gl.ns AS DECIMAL(38,0))
               * CAST(pg.ng AS DECIMAL(38,0))) AS term
  FROM pg CROSS JOIN gl
  LEFT JOIN gs ON gs.c_nationkey = pg.c_nationkey
              AND gs.c_mktsegment = pg.c_mktsegment
              AND gs.bal_band = gl.bal_band
  CROSS JOIN tt
),
perg AS (
  SELECT c_nationkey, c_mktsegment, ng, n, SUM(term) AS d
  FROM grid GROUP BY 1, 2, 3, 4
),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM gl),
s AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         ROUND(MAX(CAST(d AS DOUBLE)
                   / (CAST(2 AS DOUBLE) * CAST(ng AS DOUBLE)
                      * CAST(n AS DOUBLE))), 6) AS max_t_distance,
         CAST(SUM(CASE WHEN d * 5 > 2 * CAST(ng AS DECIMAL(38,0))
                                       * CAST(n AS DECIMAL(38,0))
                       THEN 1 ELSE 0 END) AS BIGINT) AS groups_at_risk,
         CAST(SUM(CASE WHEN d * 5 > 2 * CAST(ng AS DECIMAL(38,0))
                                       * CAST(n AS DECIMAL(38,0))
                       THEN ng ELSE 0 END) AS BIGINT) AS rows_at_risk
  FROM perg
)
SELECT ROUND(CAST('0.2' AS DOUBLE), 6) AS t, n_rows, n_groups,
       v.nv AS n_sensitive_values, max_t_distance, groups_at_risk,
       rows_at_risk, groups_at_risk = 0 AS is_t_close
FROM s CROSS JOIN v
"""


L_DIVERSITY_ORACLE = """
WITH b AS (
  SELECT c_nationkey, c_mktsegment,
         LEAST(CAST(CAST(c_acctbal AS DECIMAL(38,2)) * 100 AS BIGINT)
               // 250000, 3) AS bal_band
  FROM customer
),
per AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS d
  FROM b GROUP BY 1, 2
)
SELECT CAST(3 AS BIGINT) AS l,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(d) AS BIGINT) AS min_diversity,
       CAST(SUM(CASE WHEN d < 3 THEN n ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(SUM(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_at_risk,
       MIN(d) >= 3 AS is_l_diverse
FROM per
"""


def customer_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter linkage scoring (fuzzy.linkage_scores) over the
    FastSS candidate pairs: name distance + nation/segment agreement +
    exact-cent balance proximity sum to a dyadic log-likelihood weight
    and a match/possible/non_match verdict — candidates from the
    blocked equi-join, attributes via two keyed joins, scoring pure
    column arithmetic."""
    from hypermap_etl_spark.operators.fuzzy import linkage_scores

    cust = load_table(spark, sf_dir, "customer")
    return linkage_scores(
        cust,
        "c_custkey",
        "c_name",
        cat_fields=[("c_nationkey", 2.25, -1.5), ("c_mktsegment", 1.25, -0.75)],
        num_col="c_acctbal",
    ).orderBy("id1", "id2")


LINKAGE_ORACLE = """
WITH pairs AS (
  SELECT a.c_custkey AS id1, b.c_custkey AS id2,
         CAST(levenshtein(a.c_name, b.c_name) AS INT) AS name_dist,
         a.c_nationkey = b.c_nationkey AS same_c_nationkey,
         a.c_mktsegment = b.c_mktsegment AS same_c_mktsegment,
         abs(CAST(CAST(a.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
             - CAST(CAST(b.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
           <= 50000 AS close_c_acctbal
  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
),
w AS (
  SELECT *,
    (CASE WHEN name_dist = 0 THEN CAST('6.5' AS DOUBLE)
          ELSE CAST('3.5' AS DOUBLE) END
     + CASE WHEN same_c_nationkey THEN CAST('2.25' AS DOUBLE)
            ELSE CAST('-1.5' AS DOUBLE) END
     + CASE WHEN same_c_mktsegment THEN CAST('1.25' AS DOUBLE)
            ELSE CAST('-0.75' AS DOUBLE) END
     + CASE WHEN close_c_acctbal THEN CAST('1.5' AS DOUBLE)
            ELSE CAST('-1.0' AS DOUBLE) END) AS weight
  FROM pairs
)
SELECT id1, id2, name_dist, same_c_nationkey, same_c_mktsegment,
       close_c_acctbal, ROUND(weight, 6) AS weight,
       CASE WHEN weight >= 8.0 THEN 'match'
            WHEN weight >= 4.0 THEN 'possible'
            ELSE 'non_match' END AS verdict
FROM w ORDER BY id1, id2
"""


def customer_linkage2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter linkage at candidate radius τ=2 (VERDICT r6 #4):
    the ≤2-deletion FastSS neighborhood blocks completely for
    levenshtein <= 2 (verified against the oracle's quadratic scan),
    and dist-2 names carry their own agreement weight (6.5 / 3.5 /
    1.5 for exact / one edit / two edits). Everything else matches
    customer_linkage — candidates from the blocked equi-join, exact
    bounded-levenshtein verification, pure column scoring."""
    from hypermap_etl_spark.operators.fuzzy import linkage_scores

    cust = load_table(spark, sf_dir, "customer")
    return linkage_scores(
        cust,
        "c_custkey",
        "c_name",
        cat_fields=[("c_nationkey", 2.25, -1.5), ("c_mktsegment", 1.25, -0.75)],
        num_col="c_acctbal",
        max_dist=2,
    ).orderBy("id1", "id2")


LINKAGE2_ORACLE = """
WITH pairs AS (
  SELECT a.c_custkey AS id1, b.c_custkey AS id2,
         CAST(levenshtein(a.c_name, b.c_name) AS INT) AS name_dist,
         a.c_nationkey = b.c_nationkey AS same_c_nationkey,
         a.c_mktsegment = b.c_mktsegment AS same_c_mktsegment,
         abs(CAST(CAST(a.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
             - CAST(CAST(b.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
           <= 50000 AS close_c_acctbal
  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 2
),
w AS (
  SELECT *,
    (CASE WHEN name_dist = 0 THEN CAST('6.5' AS DOUBLE)
          WHEN name_dist = 1 THEN CAST('3.5' AS DOUBLE)
          ELSE CAST('1.5' AS DOUBLE) END
     + CASE WHEN same_c_nationkey THEN CAST('2.25' AS DOUBLE)
            ELSE CAST('-1.5' AS DOUBLE) END
     + CASE WHEN same_c_mktsegment THEN CAST('1.25' AS DOUBLE)
            ELSE CAST('-0.75' AS DOUBLE) END
     + CASE WHEN close_c_acctbal THEN CAST('1.5' AS DOUBLE)
            ELSE CAST('-1.0' AS DOUBLE) END) AS weight
  FROM pairs
)
SELECT id1, id2, name_dist, same_c_nationkey, same_c_mktsegment,
       close_c_acctbal, ROUND(weight, 6) AS weight,
       CASE WHEN weight >= 8.0 THEN 'match'
            WHEN weight >= 4.0 THEN 'possible'
            ELSE 'non_match' END AS verdict
FROM w ORDER BY id1, id2
"""




def customer_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship fusion after linkage (fuzzy.golden_records): the
    'match'-verdict pairs feed connected components (the same
    large-star/small-star machinery as near-dup clustering), every
    customer lands in a cluster (singletons included), and each
    cluster fuses to one golden record — max balance, majority
    nation/segment with smallest-value tie-break. Closes the MDM loop
    the linkage gates open: pairs -> clusters -> master table."""
    from hypermap_etl_spark.operators.dedup import duplicate_clusters
    from hypermap_etl_spark.operators.fuzzy import golden_records, linkage_scores

    cust = load_table(spark, sf_dir, "customer")
    pairs = (
        linkage_scores(
            cust,
            "c_custkey",
            "c_name",
            cat_fields=[
                ("c_nationkey", 2.25, -1.5),
                ("c_mktsegment", 1.25, -0.75),
            ],
            num_col="c_acctbal",
        )
        .filter(F.col("verdict") == "match")
        .select(F.col("id1").alias("doc_a"), F.col("id2").alias("doc_b"))
    )
    clusters = duplicate_clusters(pairs)
    out = golden_records(
        cust,
        clusters,
        "c_custkey",
        max_cols=["c_acctbal"],
        mode_cols=["c_nationkey", "c_mktsegment"],
    )
    return out.select(
        "cluster_id",
        "n_members",
        F.round(F.col("max_c_acctbal"), 2).alias("max_acctbal"),
        "mode_c_nationkey",
        "mode_c_mktsegment",
    ).orderBy("cluster_id")


GOLDEN_RECORD_ORACLE = """
WITH RECURSIVE p AS (
  SELECT a.c_custkey AS s, b.c_custkey AS d,
    (CASE WHEN levenshtein(a.c_name, b.c_name) = 0 THEN CAST('6.5' AS DOUBLE)
          ELSE CAST('3.5' AS DOUBLE) END
     + CASE WHEN a.c_nationkey = b.c_nationkey THEN CAST('2.25' AS DOUBLE)
            ELSE CAST('-1.5' AS DOUBLE) END
     + CASE WHEN a.c_mktsegment = b.c_mktsegment THEN CAST('1.25' AS DOUBLE)
            ELSE CAST('-0.75' AS DOUBLE) END
     + CASE WHEN abs(CAST(CAST(a.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                     - CAST(CAST(b.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
                <= 50000 THEN CAST('1.5' AS DOUBLE)
            ELSE CAST('-1.0' AS DOUBLE) END) AS weight
  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
),
m AS (SELECT s, d FROM p WHERE weight >= CAST(8 AS DOUBLE)),
edges AS (SELECT s, d FROM m UNION SELECT d AS s, s AS d FROM m),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
),
comp AS (SELECT s AS id, LEAST(s, MIN(d)) AS cluster_id FROM reach GROUP BY s),
asg AS (
  SELECT c.c_custkey, COALESCE(comp.cluster_id, c.c_custkey) AS cluster_id,
         c.c_acctbal, c.c_nationkey, c.c_mktsegment
  FROM customer c LEFT JOIN comp ON comp.id = c.c_custkey
),
base AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         ROUND(MAX(c_acctbal), 2) AS max_acctbal
  FROM asg GROUP BY 1
),
nk AS (
  SELECT cluster_id, c_nationkey, COUNT(*) AS n FROM asg GROUP BY 1, 2
),
nkp AS (
  SELECT cluster_id, c_nationkey AS mode_c_nationkey FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster_id
      ORDER BY n DESC, c_nationkey ASC) AS rn FROM nk) WHERE rn = 1
),
sg AS (
  SELECT cluster_id, c_mktsegment, COUNT(*) AS n FROM asg GROUP BY 1, 2
),
sgp AS (
  SELECT cluster_id, c_mktsegment AS mode_c_mktsegment FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster_id
      ORDER BY n DESC, c_mktsegment ASC) AS rn FROM sg) WHERE rn = 1
)
SELECT b.cluster_id, b.n_members, b.max_acctbal,
       nkp.mode_c_nationkey, sgp.mode_c_mktsegment
FROM base b JOIN nkp USING (cluster_id) JOIN sgp USING (cluster_id)
ORDER BY b.cluster_id
"""




def lineitem_pref_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-preference extraction — the relational half of the
    Bradley-Terry pipeline (quality_model.bradley_terry fits the
    model-sized MM loop on this aggregate, unit-certified under the
    documented no-SQL-oracle policy): within every order, the line
    with the higher extended price beats each cheaper line; ties drop.
    Output is the (winner, loser, n) judgment matrix keyed by line
    number — bounded by lines-per-order squared, computed by one
    keyed self-join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln_a"),
        F.col("l_extendedprice").alias("p_a"),
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln_b"),
        F.col("l_extendedprice").alias("p_b"),
    )
    return (
        a.join(b, "ok")
        .filter(F.col("p_a") > F.col("p_b"))
        .groupBy(
            F.col("ln_a").alias("winner"), F.col("ln_b").alias("loser")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("winner", "loser")
    )


PREF_MATRIX_ORACLE = """
SELECT a.l_linenumber AS winner, b.l_linenumber AS loser,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_extendedprice > b.l_extendedprice
GROUP BY 1, 2 ORDER BY 1, 2
"""




def events_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal threshold per event type
    (quality_model.conformal_threshold, alpha = 0.1): the
    k = ceil(0.9(n+1))-th smallest value — exact integer rank
    selection over the (group, distinct value) running sum, the
    finite-sample-valid accept cut for risk-controlled filtering."""
    from hypermap_etl_spark.operators.quality_model import conformal_threshold

    ev = load_table(spark, sf_dir, "events")
    return conformal_threshold(ev, "value", ["event_type"], alpha=0.1).orderBy(
        "event_type"
    )


CONFORMAL_ORACLE = """
WITH base AS (
  SELECT event_type, CAST(value AS DOUBLE) AS s
  FROM events WHERE value IS NOT NULL
),
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1),
k AS (SELECT event_type, n,
             CAST((9 * (n + 1) + 9) // 10 AS BIGINT) AS k FROM n),
r AS (
  SELECT event_type, s,
         row_number() OVER (PARTITION BY event_type ORDER BY s ASC) AS rn
  FROM base
)
SELECT k.event_type, k.n, k.k,
       CASE WHEN k.k <= k.n THEN r.s END AS q_hat
FROM k LEFT JOIN r ON r.event_type = k.event_type AND r.rn = k.k
ORDER BY k.event_type
"""




def customer_blocking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality report (fuzzy.blocking_metrics) for the
    tau=1 name-linkage pipeline: reduction ratio vs the quadratic
    comparison space and candidate->match precision. The oracle
    REBUILDS the deletion neighborhood in SQL and counts matches from
    a quadratic levenshtein scan, so both the candidate-set size and
    the completeness-by-theorem claim are independently certified."""
    from hypermap_etl_spark.operators.fuzzy import blocking_metrics

    cust = load_table(spark, sf_dir, "customer")
    return blocking_metrics(cust, "c_custkey", "c_name")


BLOCKING_METRICS_ORACLE = """
WITH keys AS (
  SELECT c_custkey AS id, c_name AS k FROM customer
  UNION
  SELECT c_custkey AS id,
         substr(c_name, 1, CAST(t.i AS INT) - 1)
           || substr(c_name, CAST(t.i AS INT) + 1) AS k
  FROM customer,
       LATERAL unnest(generate_series(1, length(c_name))) AS t(i)
),
kd AS (SELECT DISTINCT id, k FROM keys),
cand AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM kd a JOIN kd b ON a.k = b.k AND a.id < b.id
),
counts AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_records,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidate_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT)
     FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
     WHERE levenshtein(a.c_name, b.c_name) <= 1) AS n_matched_pairs
)
SELECT n_records, n_candidate_pairs, n_matched_pairs,
  ROUND(CAST(1 AS DOUBLE)
        - CAST(n_candidate_pairs AS DOUBLE)
          / (CAST(n_records AS DOUBLE)
             * (CAST(n_records AS DOUBLE) - CAST(1 AS DOUBLE))
             / CAST(2 AS DOUBLE)), 6) AS reduction_ratio,
  ROUND(CASE WHEN n_candidate_pairs > 0 THEN
          CAST(n_matched_pairs AS DOUBLE)
            / CAST(n_candidate_pairs AS DOUBLE) END, 6) AS match_precision
FROM counts
"""




def events_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism release plumbing (curation.dp_noisy_counts,
    epsilon = 1): per-type counts plus inverse-CDF Laplace noise from
    the deterministic md5 seed — certifying the b = sens/eps
    calibration and the transform; the honesty note in the operator
    docstring covers why a fixed seed is reproducible-but-not-DP."""
    from hypermap_etl_spark.operators.curation import dp_noisy_counts

    ev = load_table(spark, sf_dir, "events")
    return dp_noisy_counts(ev, ["event_type"], epsilon=1.0).orderBy(
        "event_type"
    )


DP_COUNTS_ORACLE = """
WITH per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1
),
nz AS (
  SELECT event_type, n,
    CAST('0x' || substr(md5('dp:' || COALESCE(CAST(event_type AS VARCHAR), ' ')), 1, 8)
         AS BIGINT) / CAST(4294967296 AS DOUBLE) AS u
  FROM per
)
SELECT event_type,
  ROUND(CAST(n AS DOUBLE)
        + (-CAST(1 AS DOUBLE)) * sign(u - CAST('0.5' AS DOUBLE))
          * ln(CAST(1 AS DOUBLE)
               - CAST(2 AS DOUBLE) * abs(u - CAST('0.5' AS DOUBLE))), 6)
    AS noisy_n,
  CAST(1 AS DOUBLE) AS laplace_b
FROM nz ORDER BY event_type
"""




def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indexes + deseasonalized outliers per
    event type (profile.seasonal_index_outliers): the screen that
    stops a weekly cycle from tripping the level monitors. Pure
    integer day sums through one fixed-order double expression —
    flags are engine-exact."""
    from hypermap_etl_spark.operators.profile import seasonal_index_outliers

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "E").alias("dow"),
    )
    return seasonal_index_outliers(
        ev, "day", "dow", ["event_type"]
    ).orderBy("event_type", "day")


DOW_SEASONALITY_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         strftime(ts, '%a') AS dow, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
),
e AS (
  SELECT event_type, day, dow, n,
         SUM(n) OVER (PARTITION BY event_type, dow) AS s_sum,
         COUNT(*) OVER (PARTITION BY event_type, dow) AS s_n,
         SUM(n) OVER (PARTITION BY event_type) AS t_sum,
         COUNT(*) OVER (PARTITION BY event_type) AS t_n
  FROM daily
),
r AS (
  SELECT event_type, day, dow, n,
    (CAST(s_sum AS DOUBLE) / CAST(s_n AS DOUBLE))
      / (CAST(t_sum AS DOUBLE) / CAST(t_n AS DOUBLE)) AS idx,
    CAST(n AS DOUBLE)
      / ((CAST(s_sum AS DOUBLE) / CAST(s_n AS DOUBLE))
         / (CAST(t_sum AS DOUBLE) / CAST(t_n AS DOUBLE))) AS deseason,
    CAST(t_sum AS DOUBLE) / CAST(t_n AS DOUBLE) AS tmean
  FROM e
)
SELECT event_type, day, dow, n,
       ROUND(idx, 6) AS seasonal_index,
       ROUND(deseason, 6) AS deseasonalized,
       ROUND(abs(deseason - tmean) / tmean, 6) AS rel_dev,
       COALESCE(CASE WHEN tmean <> 0 THEN abs(deseason - tmean) / tmean > CAST('0.5' AS DOUBLE) END, FALSE) AS is_outlier
FROM r ORDER BY event_type, day
"""




def events_bot_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation screen (profile.bot_regularity_screen): per-user
    inter-arrival coefficient of variation from exact integer
    microsecond gaps (squares in decimal(38,0) — int64 overflows at
    gap² ~1e22); near-constant tickers flag as regular. Gap multisets
    are tie-order-invariant, so no tie-break column is needed and the
    flags are engine-exact."""
    from hypermap_etl_spark.operators.profile import bot_regularity_screen

    ev = load_table(spark, sf_dir, "events")
    return bot_regularity_screen(ev, "user_id", min_events=20).orderBy(
        "user_id"
    )


BOT_SCREEN_ORACLE = """
WITH g AS (
  SELECT user_id, epoch_us(ts) AS us
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
l AS (
  SELECT user_id,
         us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
  FROM g
),
a AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(gap) AS BIGINT) AS sg,
         SUM(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0))) AS sgg
  FROM l WHERE gap IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 19
),
s AS (
  SELECT user_id, ng, sg,
         CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS mean,
         GREATEST(CAST(sgg AS DOUBLE) / CAST(ng AS DOUBLE)
                  - (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
                    * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)),
                  CAST(0 AS DOUBLE)) AS var
  FROM a
)
SELECT user_id, CAST(ng + 1 AS BIGINT) AS n_events,
       ROUND(mean / CAST(1000000 AS DOUBLE), 6) AS mean_gap_s,
       ROUND(CASE WHEN mean <> 0 THEN sqrt(var) / mean END, 6) AS gap_cv,
       COALESCE(CASE WHEN mean <> 0 THEN sqrt(var) / mean END
                  < CAST('0.3' AS DOUBLE), FALSE) AS is_regular
FROM s ORDER BY user_id
"""




def events_ks_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS on the A/A hash split (profile.ks_two_sample):
    the ECDF-difference maximum in pure integer arithmetic over the
    distinct-value running sums — engine-exact D, asymptotic 5%
    critical value; on an A/A split this is the shape-sensitive
    sanity check next to events_ab_welch (location) and
    events_mannwhitney (rank)."""
    from hypermap_etl_spark.operators.profile import ks_two_sample

    ev = load_table(spark, sf_dir, "events")
    return ks_two_sample(ev, "value", "user_id", ["event_type"]).orderBy(
        "event_type"
    )


KS_SPLIT_ORACLE = """
WITH base AS (
  SELECT event_type,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
),
pv AS (
  SELECT event_type, v,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ta,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tb
  FROM base GROUP BY 1, 2
),
cum AS (
  SELECT event_type,
         SUM(ta) OVER (PARTITION BY event_type ORDER BY v) AS ca,
         SUM(tb) OVER (PARTITION BY event_type ORDER BY v) AS cb,
         SUM(ta) OVER (PARTITION BY event_type) AS na,
         SUM(tb) OVER (PARTITION BY event_type) AS nb
  FROM pv
),
g AS (
  SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_a,
         CAST(MAX(nb) AS BIGINT) AS n_b,
         MAX(abs(ca * nb - cb * na)) AS dmax
  FROM cum GROUP BY 1
)
SELECT event_type, n_a, n_b,
  ROUND(CAST(dmax AS DOUBLE)
        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks_d,
  ROUND(CAST('1.36' AS DOUBLE)
        * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6) AS ks_crit,
  CAST(dmax AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
    > CAST('1.36' AS DOUBLE)
      * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
    AS distributions_differ
FROM g WHERE n_a > 0 AND n_b > 0
ORDER BY event_type
"""




def orders_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the naive-1 forecast against the seasonal-naive
    denominator on the monthly order series — the scale-free
    forecast-accuracy metric (Hyndman & Koehler 2006) every model
    must beat: MASE < 1 means naive-1 out-forecasts last-year-same-
    month on this series. Calendar-bounded lag windows over one
    aggregate; one output row."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    )
    m = o.groupBy("month").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # single series: the window runs over the months aggregate (dozens
    # of rows), not corpus rows — bounded, the documented exception to
    # the no-unpartitioned-window rule (seasonal_naive's frame)
    lagged = m.select(
        "month",
        "n",
        F.lag("n", 1).over(W.partitionBy().orderBy("month")).alias("f1"),
        F.lag("n", 12).over(W.partitionBy().orderBy("month")).alias("f12"),
    )
    both = lagged.filter(F.col("f1").isNotNull() & F.col("f12").isNotNull())
    return both.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.round(
            F.avg(F.abs(F.col("n") - F.col("f1")).cast("double")), 6
        ).alias("mae_naive1"),
        F.round(
            F.avg(F.abs(F.col("n") - F.col("f12")).cast("double")), 6
        ).alias("mae_seasonal"),
        F.round(
            F.try_divide(
                F.avg(F.abs(F.col("n") - F.col("f1")).cast("double")),
                F.avg(F.abs(F.col("n") - F.col("f12")).cast("double")),
            ),
            6,
        ).alias("mase"),
    )


MASE_ORACLE = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
),
l AS (
  SELECT month, n,
         lag(n, 1) OVER (ORDER BY month) AS f1,
         lag(n, 12) OVER (ORDER BY month) AS f12
  FROM m
),
b AS (SELECT * FROM l WHERE f1 IS NOT NULL AND f12 IS NOT NULL)
SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
  ROUND(AVG(CAST(abs(n - f1) AS DOUBLE)), 6) AS mae_naive1,
  ROUND(AVG(CAST(abs(n - f12) AS DOUBLE)), 6) AS mae_seasonal,
  ROUND(CASE WHEN AVG(CAST(abs(n - f12) AS DOUBLE)) <> 0 THEN
          AVG(CAST(abs(n - f1) AS DOUBLE))
            / AVG(CAST(abs(n - f12) AS DOUBLE)) END, 6) AS mase
FROM b
"""


def events_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/A split + Welch t per event type
    (profile.welch_ab_test): users hash into two arms, the unequal-
    variance t statistic and Welch-Satterthwaite df come from exact
    decimal sums in one fixed-order double expression — on an A/A
    split this is the pipeline's statistical sanity check."""
    from hypermap_etl_spark.operators.profile import welch_ab_test

    ev = load_table(spark, sf_dir, "events")
    return welch_ab_test(
        ev, "value", "user_id", ["event_type"]
    ).orderBy("event_type")


WELCH_ORACLE = """
WITH base AS (
  SELECT event_type,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
),
agg AS (
  SELECT event_type, arm, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(v) AS s, SUM(v * v) AS ss
  FROM base GROUP BY 1, 2
),
j AS (
  SELECT a.event_type,
         a.n AS n_a, a.s AS s_a, a.ss AS ss_a,
         b.n AS n_b, b.s AS s_b, b.ss AS ss_b
  FROM agg a JOIN agg b ON a.event_type = b.event_type
  WHERE a.arm = 0 AND b.arm = 1 AND a.n > 1 AND b.n > 1
),
c AS (
  SELECT event_type, n_a, n_b,
    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
    GREATEST((CAST(ss_a AS DOUBLE)
              - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                / CAST(n_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) - 1.0), CAST(0 AS DOUBLE))
      / CAST(n_a AS DOUBLE) AS se2_a,
    GREATEST((CAST(ss_b AS DOUBLE)
              - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                / CAST(n_b AS DOUBLE))
             / (CAST(n_b AS DOUBLE) - 1.0), CAST(0 AS DOUBLE))
      / CAST(n_b AS DOUBLE) AS se2_b
  FROM j
),
f AS (
  SELECT event_type, n_a, n_b, m_a, m_b,
    CASE WHEN se2_a + se2_b > 0
         THEN (m_a - m_b) / sqrt(se2_a + se2_b) END AS t,
    CASE WHEN se2_a * se2_a / (CAST(n_a AS DOUBLE) - 1.0)
            + se2_b * se2_b / (CAST(n_b AS DOUBLE) - 1.0) > 0
         THEN (se2_a + se2_b) * (se2_a + se2_b)
              / (se2_a * se2_a / (CAST(n_a AS DOUBLE) - 1.0)
                 + se2_b * se2_b / (CAST(n_b AS DOUBLE) - 1.0)) END AS dof
  FROM c
)
SELECT event_type, n_a, n_b,
       ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
       ROUND(t, 6) AS t_stat, ROUND(dof, 6) AS welch_df,
       COALESCE(abs(t) > CAST('1.96' AS DOUBLE), FALSE) AS significant
FROM f ORDER BY event_type
"""


def events_ab_welch_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust A/B: Welch's t over the p05/p95-WINSORIZED value per
    event type — the composed heavy-tail discipline (clamp first,
    then compare means) that keeps a single whale from deciding an
    experiment. Composition of two certified operators
    (profile.winsorize → profile.welch_ab_test); the clamped value is
    rounded to 6 dp then re-quantized at decimal(12,2) by the Welch
    machinery, identically in both engines."""
    from hypermap_etl_spark.operators.profile import welch_ab_test, winsorize

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    w = winsorize(ev, "value", 0.05, 0.95, ["event_type"])
    return welch_ab_test(w, "value_w", "user_id", ["event_type"]).orderBy(
        "event_type"
    )


WELCH_ROBUST_ORACLE = """
WITH src AS (
  SELECT event_type, user_id, value FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM src GROUP BY event_type
),
w AS (
  SELECT s.event_type, s.user_id,
         ROUND(LEAST(GREATEST(CAST(s.value AS DOUBLE), lo), hi), 6)
           AS value_w
  FROM src s JOIN b USING (event_type)
),
base AS (
  SELECT event_type,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         CAST(value_w AS DECIMAL(12,2)) AS v
  FROM w
),
agg AS (
  SELECT event_type, arm, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(v) AS s, SUM(v * v) AS ss
  FROM base GROUP BY 1, 2
),
j AS (
  SELECT a.event_type,
         a.n AS n_a, a.s AS s_a, a.ss AS ss_a,
         b.n AS n_b, b.s AS s_b, b.ss AS ss_b
  FROM agg a JOIN agg b ON a.event_type = b.event_type
  WHERE a.arm = 0 AND b.arm = 1 AND a.n > 1 AND b.n > 1
),
c AS (
  SELECT event_type, n_a, n_b,
    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
    GREATEST((CAST(ss_a AS DOUBLE)
              - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                / CAST(n_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) - 1.0), CAST(0 AS DOUBLE))
      / CAST(n_a AS DOUBLE) AS se2_a,
    GREATEST((CAST(ss_b AS DOUBLE)
              - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                / CAST(n_b AS DOUBLE))
             / (CAST(n_b AS DOUBLE) - 1.0), CAST(0 AS DOUBLE))
      / CAST(n_b AS DOUBLE) AS se2_b
  FROM j
),
f AS (
  SELECT event_type, n_a, n_b, m_a, m_b,
    CASE WHEN se2_a + se2_b > 0
         THEN (m_a - m_b) / sqrt(se2_a + se2_b) END AS t,
    CASE WHEN se2_a * se2_a / (CAST(n_a AS DOUBLE) - 1.0)
            + se2_b * se2_b / (CAST(n_b AS DOUBLE) - 1.0) > 0
         THEN (se2_a + se2_b) * (se2_a + se2_b)
              / (se2_a * se2_a / (CAST(n_a AS DOUBLE) - 1.0)
                 + se2_b * se2_b / (CAST(n_b AS DOUBLE) - 1.0)) END AS dof
  FROM c
)
SELECT event_type, n_a, n_b,
       ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
       ROUND(t, 6) AS t_stat, ROUND(dof, 6) AS welch_df,
       COALESCE(abs(t) > CAST('1.96' AS DOUBLE), FALSE) AS significant
FROM f ORDER BY event_type
"""


def events_poststrat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified A/A estimate with event_type strata
    (profile.poststrat_ab): the covariate-free variance reducer —
    truth 0 on the hash split, the stratified z quiet. Exact decimal
    cells; per-stratum effect/variance terms round to 9 dp into
    decimal sums."""
    from hypermap_etl_spark.operators.profile import poststrat_ab

    ev = load_table(spark, sf_dir, "events")
    return poststrat_ab(ev, "value", "user_id", "event_type")


POSTSTRAT_ORACLE = """
WITH base AS (
  SELECT event_type AS s,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL
),
cells AS (
  SELECT s, arm, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(v) AS sm, SUM(v * v) AS ss
  FROM base GROUP BY 1, 2
),
strat AS (
  SELECT s, CAST(SUM(n) AS BIGINT) AS w,
         CAST(MIN(n) AS BIGINT) AS minn,
         CAST(COUNT(*) AS BIGINT) AS arms,
         MAX(CASE WHEN arm = 0 THEN n END) AS na,
         MAX(CASE WHEN arm = 1 THEN n END) AS nb,
         MAX(CASE WHEN arm = 0 THEN sm END) AS sa,
         MAX(CASE WHEN arm = 1 THEN sm END) AS sb,
         MAX(CASE WHEN arm = 0 THEN ss END) AS qa,
         MAX(CASE WHEN arm = 1 THEN ss END) AS qb
  FROM cells GROUP BY 1
),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS n_strata_total FROM strat),
used AS (
  SELECT strat.*, tot.t,
         CAST(w AS DOUBLE) / CAST(t AS DOUBLE) AS ws,
         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
           - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS diff,
         (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
            / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) AS va,
         (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
            / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0) AS vb
  FROM strat CROSS JOIN tot WHERE arms = 2
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata_used,
         CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b,
         SUM(sa) AS tsa, SUM(sb) AS tsb,
         SUM(CAST(ROUND(ws * diff, 9) AS DECIMAL(38,9))) AS eff,
         SUM(CASE WHEN minn >= 2 THEN
               CAST(ROUND(ws * ws * (va / CAST(na AS DOUBLE)
                                     + vb / CAST(nb AS DOUBLE)), 9)
                    AS DECIMAL(38,9)) END) AS var,
         CAST(MIN(minn) AS BIGINT) AS cellmin
  FROM used
)
SELECT tot.n_strata_total, n_strata_used, n_a, n_b,
       ROUND(CAST(tsb AS DOUBLE) / CAST(n_b AS DOUBLE)
             - CAST(tsa AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS effect_raw,
       ROUND(CAST(eff AS DOUBLE), 6) AS effect_strat,
       ROUND(CASE WHEN cellmin >= 2 AND CAST(var AS DOUBLE) > 0
                  THEN CAST(eff AS DOUBLE) / sqrt(CAST(var AS DOUBLE))
             END, 6) AS z_strat,
       COALESCE(abs(CASE WHEN cellmin >= 2 AND CAST(var AS DOUBLE) > 0
                         THEN CAST(eff AS DOUBLE)
                              / sqrt(CAST(var AS DOUBLE)) END)
                > CAST('1.96' AS DOUBLE), FALSE) AS significant
FROM g CROSS JOIN tot
"""


def events_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects on the hash split: per event type,
    the p50 and p90 of each arm's value and their differences — where
    in the distribution an effect lives (means can hide a pure
    tail move; QTE can't). Exact percentiles (the certified
    F.percentile ≡ quantile_cont pair); on the A/A split both gaps
    are near zero by construction."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    arm = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    per = ev.select("event_type", arm.alias("__arm"), "value").groupBy(
        "event_type", "__arm"
    ).agg(
        F.percentile("value", 0.5).alias("__p50"),
        F.percentile("value", 0.9).alias("__p90"),
    )
    a = per.filter(F.col("__arm") == 0).select(
        "event_type",
        F.col("__p50").alias("__p50a"), F.col("__p90").alias("__p90a"),
    )
    b = per.filter(F.col("__arm") == 1).select(
        "event_type",
        F.col("__p50").alias("__p50b"), F.col("__p90").alias("__p90b"),
    )
    return (
        a.join(b, "event_type")
        .select(
            "event_type",
            F.round("__p50a", 6).alias("p50_a"),
            F.round("__p50b", 6).alias("p50_b"),
            F.round(F.col("__p50b") - F.col("__p50a"), 6).alias("qte_p50"),
            F.round("__p90a", 6).alias("p90_a"),
            F.round("__p90b", 6).alias("p90_b"),
            F.round(F.col("__p90b") - F.col("__p90a"), 6).alias("qte_p90"),
        )
        .orderBy("event_type")
    )


QTE_ORACLE = """
WITH base AS (
  SELECT event_type,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         value
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
),
per AS (
  SELECT event_type, arm,
         quantile_cont(value, 0.5) AS p50,
         quantile_cont(value, 0.9) AS p90
  FROM base GROUP BY 1, 2
)
SELECT a.event_type,
       ROUND(a.p50, 6) AS p50_a, ROUND(b.p50, 6) AS p50_b,
       ROUND(b.p50 - a.p50, 6) AS qte_p50,
       ROUND(a.p90, 6) AS p90_a, ROUND(b.p90, 6) AS p90_b,
       ROUND(b.p90 - a.p90, 6) AS qte_p90
FROM per a JOIN per b ON a.event_type = b.event_type
WHERE a.arm = 0 AND b.arm = 1
ORDER BY a.event_type
"""


def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles per
    customer) on the DISTRIBUTED percent-rank stack — three
    global_percent_rank passes over the per-customer aggregate, never
    a single-task `ntile() OVER (ORDER BY ...)`. Wall-clock dates make
    recency session-zone-independent; quintile edges come from the
    ROUNDED percent rank (mirrored in the oracle), total-ordered by
    customer key so ties cannot straddle an edge."""
    from hypermap_etl_spark.operators.scale import global_percent_rank

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    )
    per = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("__last_d"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("__spent"),
    )
    mx = orders.agg(F.max(F.to_date("o_orderdate")).alias("__mxd"))
    base = per.crossJoin(F.broadcast(mx)).select(
        "c_custkey",
        F.datediff(F.col("__mxd"), F.col("__last_d"))
        .cast("long")
        .alias("recency_days"),
        "n_orders",
        "__spent",
    )
    ck = F.col("c_custkey").asc()
    r = global_percent_rank(
        base, [F.col("recency_days").desc(), ck], "__pr_r"
    )
    f = global_percent_rank(r, [F.col("n_orders").asc(), ck], "__pr_f")
    m = global_percent_rank(f, [F.col("__spent").asc(), ck], "__pr_m")

    def score(pr: str):
        return F.least(
            F.floor(F.col(pr) * 5) + 1, F.lit(5)
        ).cast("int")

    out = m.select(
        "c_custkey",
        "recency_days",
        "n_orders",
        F.col("__spent").cast("double").alias("monetary"),
        score("__pr_r").alias("r_score"),
        score("__pr_f").alias("f_score"),
        score("__pr_m").alias("m_score"),
    )
    return out.withColumn(
        "rfm_cell",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("int"),
    ).orderBy("c_custkey")


RFM_ORACLE = """
WITH per AS (
  SELECT o_custkey AS c_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_d,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spent
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
),
mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
base AS (
  SELECT c_custkey, date_diff('day', last_d, mxd) AS recency_days,
         n_orders, spent
  FROM per, mx
),
pr AS (
  SELECT *,
    ROUND(percent_rank() OVER (ORDER BY recency_days DESC, c_custkey), 6)
      AS pr_r,
    ROUND(percent_rank() OVER (ORDER BY n_orders, c_custkey), 6) AS pr_f,
    ROUND(percent_rank() OVER (ORDER BY spent, c_custkey), 6) AS pr_m
  FROM base
),
sc AS (
  SELECT c_custkey, CAST(recency_days AS BIGINT) AS recency_days, n_orders,
         CAST(spent AS DOUBLE) AS monetary,
         CAST(LEAST(FLOOR(pr_r * 5) + 1, 5) AS INTEGER) AS r_score,
         CAST(LEAST(FLOOR(pr_f * 5) + 1, 5) AS INTEGER) AS f_score,
         CAST(LEAST(FLOOR(pr_m * 5) + 1, 5) AS INTEGER) AS m_score
  FROM pr
)
SELECT *, CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS rfm_cell
FROM sc ORDER BY c_custkey
"""


def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower weighted median (scale.grouped_weighted_median):
    the median extended price per UNIT SOLD (weight = quantity in
    exact centi-units) per return flag — mass-weighted, interpolation-
    free, integer-compared, so the oracle matches bit-for-bit. The
    cumulative window runs over distinct values per group, not rows."""
    from hypermap_etl_spark.operators.scale import grouped_weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return grouped_weighted_median(
        li, "l_extendedprice", "l_quantity", ["l_returnflag"]
    ).orderBy("l_returnflag")


def lineitem_weighted_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower weighted p90 (scale.grouped_weighted_quantile,
    q = 9/10 as an exact Fraction): the price under which 90% of sold
    UNITS fall, per return flag — the SLA view of the weighted
    distribution, same distributed running-sum machinery as the
    certified median and the same bit-exact integer comparisons
    (10·cum >= 9·tot)."""
    from hypermap_etl_spark.operators.scale import grouped_weighted_quantile

    li = load_table(spark, sf_dir, "lineitem")
    return grouped_weighted_quantile(
        li, "l_extendedprice", "l_quantity", ["l_returnflag"],
        q=0.9, out_col="p90_w",
    ).orderBy("l_returnflag")


WEIGHTED_P90_ORACLE = """
WITH pv AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
         SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS w,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, v, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cumw
  FROM pv
),
t AS (
  SELECT l_returnflag, SUM(w) AS tot, CAST(SUM(n) AS BIGINT) AS nrows
  FROM pv GROUP BY 1
)
SELECT c.l_returnflag,
       CAST(MIN(c.v) AS DOUBLE) AS p90_w,
       CAST(t.tot AS BIGINT) AS total_weight_c,
       t.nrows AS n_rows
FROM c JOIN t USING (l_returnflag)
WHERE 10 * c.cumw >= 9 * t.tot
GROUP BY c.l_returnflag, t.tot, t.nrows
ORDER BY c.l_returnflag
"""


WEIGHTED_MEDIAN_ORACLE = """
WITH pv AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
         SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS w,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, v, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cumw
  FROM pv
),
t AS (
  SELECT l_returnflag, SUM(w) AS tot, CAST(SUM(n) AS BIGINT) AS nrows
  FROM pv GROUP BY 1
)
SELECT c.l_returnflag,
       CAST(MIN(c.v) AS DOUBLE) AS median_w,
       CAST(t.tot AS BIGINT) AS total_weight_c,
       t.nrows AS n_rows
FROM c JOIN t USING (l_returnflag)
WHERE 2 * c.cumw >= t.tot
GROUP BY c.l_returnflag, t.tot, t.nrows
ORDER BY c.l_returnflag
"""


def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (30-minute gap) — the
    Catalyst-fused sessionization (SessionWindowing node, mergeable in
    streaming with watermark state) vs events_sessions' manual
    lag+flag construction. Native semantics: a session's window is
    [first_ts, last_ts + gap], and an event at exactly last_ts + gap
    still MERGES (inclusive boundary, diff > gap splits — verified by
    the boundary unit test; same split rule as the manual gate).

    Outputs are shift-invariant (per-user session sequence, count,
    duration, value sum) so the gate is independent of the session
    timezone the driver runs under."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", F.col("value").cast("decimal(12,2)").alias("v"))
    )
    sw = ev.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("v").alias("__sv"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("session_window.start"))
    return (
        sw.select(
            "user_id",
            F.row_number().over(w).alias("session_seq"),
            "n_events",
            (
                F.unix_micros(F.col("session_window.end"))
                - F.unix_micros(F.col("session_window.start"))
            ).alias("duration_us"),
            F.round(F.col("__sv").cast("double"), 6).alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


SESSION_WINDOW_ORACLE = """
WITH e AS (
  SELECT user_id, ts, CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE user_id IS NOT NULL
),
m AS (
  SELECT *,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
),
agg AS (
  SELECT user_id, sid, MIN(ts) AS t0,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) + 1800000000 AS duration_us,
         ROUND(CAST(SUM(v) AS DOUBLE), 6) AS total_value
  FROM s GROUP BY user_id, sid
)
SELECT user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY t0) AS INTEGER)
         AS session_seq,
       n_events, duration_us, total_value
FROM agg ORDER BY user_id, session_seq
"""


def parts_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts (graph.triangle_count) over the
    co-purchase graph — parts are adjacent when they appear in the
    same order. The local-clustering screen (tight communities vs
    isolated cross-sells); canonical low→high orientation bounds
    wedge fan-out by the low endpoint's degree."""
    from hypermap_etl_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # triangle_count canonicalizes/dedups its input, so the counted
    # pair set (multiplicity collapsed) is the same graph
    edges = _copurchase_pairs(li).select("p1", "p2")
    return triangle_count(edges, "p1", "p2").orderBy("node")


def parts_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80-core of the co-purchase graph (graph.k_core): surviving
    parts and their in-core degrees after iterative peeling — the
    dense-subgraph screen next to the triangle counts. The operator
    early-exits on stability; the oracle unrolls the same 8 fixed
    peel rounds, which provably computes the identical frame (peels
    past stability are no-ops)."""
    from hypermap_etl_spark.operators.graph import k_core

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # k_core canonicalizes/dedups its input, so the counted pair set
    # (multiplicity collapsed) is the same graph
    edges = _copurchase_pairs(li).select("p1", "p2")
    return k_core(edges, k=80, src="p1", dst="p2", n_iter=8).orderBy("node")


def _kcore_oracle(k: int, t: int) -> str:
    parts = [
        """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""
    ]
    for i in range(1, t + 1):
        parts.append(
            f""",
d{i} AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS node FROM e{i - 1}
        UNION ALL SELECT b FROM e{i - 1}) GROUP BY 1
),
k{i} AS (SELECT node FROM d{i} WHERE d >= {k}),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i - 1} e
  JOIN k{i} ka ON e.a = ka.node
  JOIN k{i} kb ON e.b = kb.node
)"""
        )
    parts.append(
        f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT a AS node FROM e{t} UNION ALL SELECT b FROM e{t})
GROUP BY 1 ORDER BY node"""
    )
    return "".join(parts)


KCORE_ORACLE = _kcore_oracle(80, 8)


def parts_seed_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank-style seed distance (graph.seed_distance): hop count
    from the vetted seed parts (p_partkey % 100 = 0) over the
    REPEAT-co-purchase graph (pairs bought together in ≥ 2 orders —
    the thresholded, sparse graph where distance is meaningful),
    capped at 4 hops. The operator early-exits at the BFS fixpoint;
    the oracle unrolls the same 4 relaxation rounds, provably
    identical."""
    from hypermap_etl_spark.operators.graph import seed_distance

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        _copurchase_pairs(li)
        .filter(F.col("c") >= 2)
        .select("p1", "p2")
    )
    seeds = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 100 == 0)
        .select(F.col("p_partkey").alias("node"))
    )
    return seed_distance(edges, seeds, max_hops=4, src="p1", dst="p2").orderBy(
        "node"
    )


def _seed_distance_oracle(t: int) -> str:
    parts = [
        """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
e AS MATERIALIZED (
  SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
),
d0 AS MATERIALIZED (
  SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
  FROM part WHERE p_partkey % 100 = 0
)"""
    ]
    for i in range(1, t + 1):
        parts.append(
            f""",
d{i} AS MATERIALIZED (
  SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.b AS node, d.dist + 1 AS dist
    FROM e JOIN d{i - 1} d ON e.a = d.node
  ) GROUP BY 1
)"""
        )
    parts.append(f"\nSELECT node, dist FROM d{t} ORDER BY node")
    return "".join(parts)


SEED_DISTANCE_ORACLE = _seed_distance_oracle(4)


def parts_copurchase_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation
    (graph.label_propagation, smallest-label tie-break) over the
    repeat-co-purchase graph, 4 rounds — the cheap community detector
    beside the k-core and triangle screens. Fixed rounds are the
    contract (synchronous LPA may two-cycle); the oracle unrolls the
    identical 4 rounds."""
    from hypermap_etl_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        _copurchase_pairs(li)
        .filter(F.col("c") >= 2)
        .select("p1", "p2")
    )
    return label_propagation(edges, n_iter=4, src="p1", dst="p2").orderBy("node")


def _lpa_oracle(t: int, final: str | None = None) -> str:
    parts = [
        """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
e AS MATERIALIZED (
  SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
),
l0 AS MATERIALIZED (
  SELECT DISTINCT a AS node, a AS community FROM e
)"""
    ]
    for i in range(1, t + 1):
        parts.append(
            f""",
c{i} AS MATERIALIZED (
  SELECT e.b AS node, d.community, CAST(COUNT(*) AS BIGINT) AS c
  FROM e JOIN l{i - 1} d ON e.a = d.node GROUP BY 1, 2
),
p{i} AS MATERIALIZED (
  SELECT node, community FROM (
    SELECT node, community,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, community ASC) AS rn
    FROM c{i}
  ) WHERE rn = 1
),
l{i} AS MATERIALIZED (
  SELECT l.node, COALESCE(p.community, l.community) AS community
  FROM l{i - 1} l LEFT JOIN p{i} p ON l.node = p.node
)"""
        )
    parts.append(final if final is not None
                 else f"\nSELECT node, community FROM l{t} ORDER BY node")
    return "".join(parts)


LPA_ORACLE = _lpa_oracle(4)


TRIANGLES_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
wedges AS (
  SELECT e1.a AS pivot, e1.b AS x, e2.b AS y
  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
),
tris AS (
  SELECT w.pivot AS v1, w.x AS v2, w.y AS v3
  FROM wedges w JOIN e ON e.a = w.x AND e.b = w.y
),
corners AS (
  SELECT v1 AS node FROM tris
  UNION ALL SELECT v2 FROM tris
  UNION ALL SELECT v3 FROM tris
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node ORDER BY node
"""


def events_type_value_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and value band
    (profile.categorical_mi): per-cell MI terms in nats — does the
    event type carry information about the spend band? Bands are
    exact integer-cent 50-unit buckets capped at 9 (pure integer
    `div`, bit-identical in any engine)."""
    from hypermap_etl_spark.operators.profile import categorical_mi

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.least(
                F.expr(
                    "cast(cast(value as decimal(38,2)) * 100 as long) div 5000"
                ),
                F.lit(9).cast("long"),
            ).alias("value_band"),
        )
    )
    return categorical_mi(ev, "event_type", "value_band").orderBy(
        "event_type", "value_band"
    )


MI_ORACLE = """
WITH b AS (
  SELECT event_type,
         LEAST(CAST(CAST(value AS DECIMAL(38,2)) * 100 AS BIGINT) // 5000,
               9) AS value_band
  FROM events WHERE value IS NOT NULL
),
joint AS (
  SELECT event_type, value_band, CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM b GROUP BY 1, 2
),
jx AS (SELECT event_type, CAST(SUM(n_xy) AS BIGINT) AS n_x
       FROM joint GROUP BY 1),
jy AS (SELECT value_band, CAST(SUM(n_xy) AS BIGINT) AS n_y
       FROM joint GROUP BY 1),
tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM joint)
SELECT j.event_type, j.value_band, j.n_xy,
       ROUND(
         (CAST(j.n_xy AS DOUBLE) / CAST(t.n AS DOUBLE))
         * (ln(CAST(j.n_xy AS DOUBLE)) + ln(CAST(t.n AS DOUBLE))
            - ln(CAST(x.n_x AS DOUBLE)) - ln(CAST(y.n_y AS DOUBLE))),
         6) AS mi_term
FROM joint j
JOIN jx x ON j.event_type = x.event_type
JOIN jy y ON j.value_band = y.value_band
CROSS JOIN tot t
ORDER BY j.event_type, j.value_band
"""


def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence test between event type and
    the integer-cent value band (profile.chi2_independence, same band
    prep as events_type_value_mi): chi2, dof, and Cramér's V in one
    row — MI's significance companion. Per-cell terms are rounded to
    6 and summed in decimal(18,6), so the cross-cell sum is exact and
    summation-order-free in both engines."""
    from hypermap_etl_spark.operators.profile import chi2_independence

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.least(
                F.expr(
                    "cast(cast(value as decimal(38,2)) * 100 as long) div 5000"
                ),
                F.lit(9).cast("long"),
            ).alias("value_band"),
        )
    )
    return chi2_independence(ev, "event_type", "value_band")


CHI2_ORACLE = """
WITH b AS (
  SELECT event_type,
         LEAST(CAST(CAST(value AS DECIMAL(38,2)) * 100 AS BIGINT) // 5000,
               9) AS value_band
  FROM events WHERE value IS NOT NULL
),
joint AS (
  SELECT event_type, value_band, CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM b GROUP BY 1, 2
),
jx AS (SELECT event_type, CAST(SUM(n_xy) AS BIGINT) AS n_x
       FROM joint GROUP BY 1),
jy AS (SELECT value_band, CAST(SUM(n_xy) AS BIGINT) AS n_y
       FROM joint GROUP BY 1),
tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT value_band) AS BIGINT) AS c
        FROM joint),
cells AS (
  SELECT CAST(ROUND(
           (CAST(COALESCE(j.n_xy, 0) AS DOUBLE)
            - CAST(x.n_x AS DOUBLE) * CAST(y.n_y AS DOUBLE)
              / CAST(t.n AS DOUBLE))
           * (CAST(COALESCE(j.n_xy, 0) AS DOUBLE)
              - CAST(x.n_x AS DOUBLE) * CAST(y.n_y AS DOUBLE)
                / CAST(t.n AS DOUBLE))
           / (CAST(x.n_x AS DOUBLE) * CAST(y.n_y AS DOUBLE)
              / CAST(t.n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term,
         t.n, t.r, t.c
  FROM jx x
  CROSS JOIN jy y
  LEFT JOIN joint j
    ON j.event_type = x.event_type AND j.value_band = y.value_band
  CROSS JOIN tot t
),
a AS (SELECT n, r, c, SUM(term) AS chi2d FROM cells GROUP BY 1, 2, 3)
SELECT n, r AS n_x_cats, c AS n_y_cats,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       ROUND(CAST(chi2d AS DOUBLE), 6) AS chi2,
       ROUND(CASE WHEN CAST(n AS DOUBLE)
                       * CAST(LEAST(r - 1, c - 1) AS DOUBLE) > 0
                  THEN sqrt(CAST(chi2d AS DOUBLE)
                            / (CAST(n AS DOUBLE)
                               * CAST(LEAST(r - 1, c - 1) AS DOUBLE)))
             END, 6) AS cramers_v
FROM a
"""


def lineitem_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    per return flag (profile.spearman_corr) — the monotone-association
    screen, tie-corrected via average ranks. Ranks come from running
    sums over each group's DISTINCT decimal(12,2) values joined back
    to rows; every rank moment accumulates in exact decimal, the rho
    tail is one fixed-order double expression."""
    from hypermap_etl_spark.operators.profile import spearman_corr

    li = load_table(spark, sf_dir, "lineitem")
    return spearman_corr(
        li, "l_quantity", "l_extendedprice", ["l_returnflag"]
    ).orderBy("l_returnflag")


SPEARMAN_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS g,
         CAST(l_quantity AS DECIMAL(12,2)) AS x,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
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
SELECT g AS l_returnflag, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
FROM a ORDER BY 1
"""


def events_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency profile over the events table
    (profile.fd_confidence): g3 confidence for three candidate FDs —
    event_id → event_type (exact: ids are unique), user_id →
    event_type and event_type → user_id (both far from holding). The
    discovery half of the constraints family: two map-combined
    aggregates per pair, all counts exact longs."""
    from hypermap_etl_spark.operators.profile import fd_confidence

    ev = load_table(spark, sf_dir, "events")
    return fd_confidence(
        ev,
        [
            ("event_id", "event_type"),
            ("user_id", "event_type"),
            ("event_type", "user_id"),
        ],
    ).orderBy("det_col", "dep_col")


def _fd_oracle_block(det: str, dep: str) -> str:
    return f"""
SELECT '{det}' AS det_col, '{dep}' AS dep_col, n_rows, n_det_keys,
       n_rows - kept AS n_violations,
       ROUND(CASE WHEN n_rows > 0
                  THEN CAST(kept AS DOUBLE) / CAST(n_rows AS DOUBLE) END,
             6) AS confidence
FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_det_keys,
         CAST(SUM(tot) AS BIGINT) AS n_rows,
         CAST(SUM(mx) AS BIGINT) AS kept
  FROM (
    SELECT {det} AS k, MAX(c) AS mx, SUM(c) AS tot
    FROM (SELECT {det}, {dep}, CAST(COUNT(*) AS BIGINT) AS c FROM events
          WHERE {det} IS NOT NULL AND {dep} IS NOT NULL GROUP BY 1, 2)
    GROUP BY 1
  )
)"""


FD_PROFILE_ORACLE = (
    " UNION ALL ".join(
        _fd_oracle_block(d, p)
        for d, p in [
            ("event_id", "event_type"),
            ("user_id", "event_type"),
            ("event_type", "user_id"),
        ]
    )
    + "\nORDER BY det_col, dep_col"
)


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey prefixes: per (user, day), the first four
    event types in (ts, event_id) order joined into a path string,
    then the 20 most common paths — the product-analytics view
    beside the funnel (which fixes the steps; this DISCOVERS them).
    Ordered-sequence aggregation done deterministically: array_sort
    over (ts, event_id, type) structs gives a total order, so the
    path strings are engine-identical (the oracle's string_agg
    ORDER BY mirrors it). One (user, day) aggregate, then a
    path-cardinality count and TakeOrdered top-20."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    e = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("event_id"),
        F.col("event_type").alias("t"),
    )
    paths = (
        ev.select(
            "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"), e.alias("e")
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_list("e")), 1, 4),
                    lambda x: x["t"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_journeys"))
        .orderBy(F.desc("n_journeys"), F.asc("path"))
        .limit(20)
    )


TOP_PATHS_ORACLE = """
WITH e AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, ts, event_id,
         event_type,
         row_number() OVER (
           PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
           ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL
),
p AS (
  SELECT user_id, day,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM e WHERE rn <= 4 GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_journeys
FROM p GROUP BY 1
ORDER BY n_journeys DESC, path ASC LIMIT 20
"""


def lineitem_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between the quantity band and the price band
    (profile.kendall_tau_b): concordance on a heavily tied ordinal
    scale, beside Spearman's rank view. Bands are exact integer
    division; C/D come from the cells² join (bounded by the band
    product), every pair count exact decimal."""
    from hypermap_etl_spark.operators.profile import kendall_tau_b

    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("cast(l_quantity as long) div 10").alias("qband"),
        F.expr(
            "cast(cast(l_extendedprice as decimal(38,2)) * 100 as long)"
            " div 2000000"
        ).alias("pband"),
    )
    return kendall_tau_b(li, "qband", "pband")


KENDALL_ORACLE = """
WITH b AS (
  SELECT CAST(l_quantity AS BIGINT) // 10 AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100 AS BIGINT)
           // 2000000 AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2
),
cd AS (
  SELECT
    CAST(SUM(CASE WHEN a.x < c.x AND a.y < c.y
                  THEN CAST(a.n AS DECIMAL(19,0))
                       * CAST(c.n AS DECIMAL(19,0)) ELSE 0 END)
         AS DECIMAL(38,0)) AS cc,
    CAST(SUM(CASE WHEN a.x < c.x AND a.y > c.y
                  THEN CAST(a.n AS DECIMAL(19,0))
                       * CAST(c.n AS DECIMAL(19,0)) ELSE 0 END)
         AS DECIMAL(38,0)) AS dd
  FROM cells a CROSS JOIN cells c
),
mx AS (SELECT x, CAST(SUM(n) AS BIGINT) AS m FROM cells GROUP BY 1),
my AS (SELECT y, CAST(SUM(n) AS BIGINT) AS m FROM cells GROUP BY 1),
tx AS (SELECT CAST(SUM(CAST(m AS DECIMAL(19,0))
                       * CAST(m - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0))
              AS t2, CAST(SUM(m) AS BIGINT) AS n FROM mx),
ty AS (SELECT CAST(SUM(CAST(m AS DECIMAL(19,0))
                       * CAST(m - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0))
              AS t2 FROM my)
SELECT tx.n,
       CAST(CAST(tx.n AS DECIMAL(19,0)) * CAST(tx.n - 1 AS DECIMAL(19,0))
            / 2 AS BIGINT) AS n_pairs,
       CAST(cd.cc AS BIGINT) AS concordant,
       CAST(cd.dd AS BIGINT) AS discordant,
       ROUND((CAST(cd.cc AS DOUBLE) - CAST(cd.dd AS DOUBLE))
             / (sqrt(CAST(tx.n AS DOUBLE) * (CAST(tx.n AS DOUBLE) - 1.0)
                     / 2.0 - CAST(tx.t2 AS DOUBLE) / 2.0)
                * sqrt(CAST(tx.n AS DOUBLE) * (CAST(tx.n AS DOUBLE) - 1.0)
                       / 2.0 - CAST(ty.t2 AS DOUBLE) / 2.0)), 6) AS tau_b
FROM cd CROSS JOIN tx CROSS JOIN ty
"""


def events_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(value_band | event_type)
    (profile.theils_u, same integer-cent bands as the MI/chi2 gates):
    the directional association — how much of the spend band's
    entropy the event type removes. Per-term 9-dp rounding into
    decimal sums keeps the cross-cell accumulation order-free."""
    from hypermap_etl_spark.operators.profile import theils_u

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.least(
                F.expr(
                    "cast(cast(value as decimal(38,2)) * 100 as long) div 5000"
                ),
                F.lit(9).cast("long"),
            ).alias("value_band"),
        )
    )
    return theils_u(ev, "event_type", "value_band")


THEILS_U_ORACLE = """
WITH b AS (
  SELECT event_type,
         LEAST(CAST(CAST(value AS DECIMAL(38,2)) * 100 AS BIGINT) // 5000,
               9) AS value_band
  FROM events WHERE value IS NOT NULL
),
joint AS (
  SELECT event_type, value_band, CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM b GROUP BY 1, 2
),
jx AS (SELECT event_type, CAST(SUM(n_xy) AS BIGINT) AS n_x
       FROM joint GROUP BY 1),
jy AS (SELECT value_band, CAST(SUM(n_xy) AS BIGINT) AS n_y
       FROM joint GROUP BY 1),
tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM joint),
mi AS (
  SELECT SUM(CAST(ROUND(
           (CAST(j.n_xy AS DOUBLE) / CAST(t.n AS DOUBLE))
           * (ln(CAST(j.n_xy AS DOUBLE)) + ln(CAST(t.n AS DOUBLE))
              - ln(CAST(x.n_x AS DOUBLE)) - ln(CAST(y.n_y AS DOUBLE))),
           9) AS DECIMAL(28,9))) AS mi_d,
         CAST(MAX(t.n) AS BIGINT) AS n
  FROM joint j
  JOIN jx x ON j.event_type = x.event_type
  JOIN jy y ON j.value_band = y.value_band
  CROSS JOIN tot t
),
hy AS (
  SELECT SUM(CAST(ROUND(
           -(CAST(y.n_y AS DOUBLE) / CAST(t.n AS DOUBLE))
           * (ln(CAST(y.n_y AS DOUBLE)) - ln(CAST(t.n AS DOUBLE))),
           9) AS DECIMAL(28,9))) AS hy_d
  FROM jy y CROSS JOIN tot t
)
SELECT n, ROUND(CAST(mi_d AS DOUBLE), 6) AS mi_nats,
       ROUND(CAST(hy_d AS DOUBLE), 6) AS h_y,
       ROUND(CASE WHEN CAST(hy_d AS DOUBLE) <> 0
                  THEN CAST(mi_d AS DOUBLE) / CAST(hy_d AS DOUBLE) END,
             6) AS u_y_given_x
FROM mi CROSS JOIN hy
"""


def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA per-day anomaly screen on the per-type daily count series
    (profile.ewma_anomaly): each day vs the exponentially weighted
    mean of its prior 7 days, flagged at 50% relative deviation — the
    day-grain companion of events_cusum_daily. The lag-chain closed
    form makes every row a literal-weight double expression the
    oracle reproduces bit-for-bit."""
    from hypermap_etl_spark.operators.profile import ewma_anomaly

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return ewma_anomaly(ev, "day", ["event_type"]).orderBy(
        "event_type", "day"
    )


def _ewma_oracle() -> str:
    # weights must be the EXACT doubles the operator computes
    # ((1-alpha)**(j-1) in Python float math), embedded via repr —
    # 0.7**2 is 0.48999999999999994, not the decimal 0.49
    ws = [repr((1.0 - 0.3) ** (j - 1)) for j in range(1, 8)]
    lag_cols = ", ".join(f"lag(cnt, {j}) OVER w AS l{j}" for j in range(1, 8))
    num = " + ".join(
        f"COALESCE(CAST(l{j} AS DOUBLE), CAST(0 AS DOUBLE))"
        f" * CAST('{w}' AS DOUBLE)"
        for j, w in enumerate(ws, 1)
    )
    den = " + ".join(
        f"CASE WHEN l{j} IS NOT NULL THEN CAST('{w}' AS DOUBLE)"
        f" ELSE CAST(0 AS DOUBLE) END"
        for j, w in enumerate(ws, 1)
    )
    return f"""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day, cnt, {lag_cols}
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
e AS (
  SELECT event_type, day, cnt,
         CAST(0 AS DOUBLE) + {num} AS num,
         CAST(0 AS DOUBLE) + {den} AS den
  FROM lagged
),
r AS (
  SELECT event_type, day, cnt,
         CASE WHEN den > 0 THEN num / den END AS ewma,
         CASE WHEN den > 0 THEN
           abs(CAST(cnt AS DOUBLE) - num / den)
             / GREATEST(num / den, CAST(1 AS DOUBLE))
         END AS rel
  FROM e
)
SELECT event_type, day, cnt,
       ROUND(ewma, 6) AS ewma_prior,
       ROUND(rel, 6) AS rel_dev,
       COALESCE(rel > CAST('0.5' AS DOUBLE), FALSE) AS is_anomaly
FROM r ORDER BY event_type, day
"""


EWMA_ORACLE = _ewma_oracle()


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution. Journeys are
    segmented per user by conversion events ('purchase'): journey j =
    the events between conversion j-1 and conversion j (cumulative-
    conversion-count window, minus one on the conversion row itself so
    it CLOSES journey j rather than opening j+1). Each closed journey
    credits its first and last non-conversion touch; a journey with no
    touches credits 'direct'.

    Scale shape: ONE exchange keyed by user_id feeds the cumulative
    window, the per-journey first/last window, and the (user, journey)
    join — AQE reuses the partitioning; the final credit counts
    aggregate |touch types| rows. No corpus-wide window, no collect.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_conv"),
        )
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = ev.withColumn(
        "journey", F.sum("is_conv").over(w_cum) - F.col("is_conv")
    )
    convs = j.filter(F.col("is_conv") == 1).select("user_id", "journey").distinct()
    w_j = (
        Window.partitionBy("user_id", "journey")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    touches = (
        j.filter(F.col("is_conv") == 0)
        .select(
            "user_id",
            "journey",
            F.first("event_type").over(w_j).alias("first_t"),
            F.last("event_type").over(w_j).alias("last_t"),
        )
        .distinct()
    )
    closed = convs.join(touches, ["user_id", "journey"], "left").select(
        F.coalesce("first_t", F.lit("direct")).alias("first_t"),
        F.coalesce("last_t", F.lit("direct")).alias("last_t"),
    )
    first = closed.groupBy(F.col("first_t").alias("touch_type")).agg(
        F.count(F.lit(1)).cast("long").alias("first_touch_convs")
    )
    last = closed.groupBy(F.col("last_t").alias("touch_type")).agg(
        F.count(F.lit(1)).cast("long").alias("last_touch_convs")
    )
    return (
        first.join(last, "touch_type", "full_outer")
        .select(
            "touch_type",
            F.coalesce("first_touch_convs", F.lit(0)).cast("long").alias(
                "first_touch_convs"
            ),
            F.coalesce("last_touch_convs", F.lit(0)).cast("long").alias(
                "last_touch_convs"
            ),
        )
        .orderBy("touch_type")
    )


ATTRIBUTION_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
  FROM events WHERE user_id IS NOT NULL
),
j AS (
  SELECT *,
         SUM(is_conv) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) - is_conv AS journey
  FROM e
),
convs AS (SELECT DISTINCT user_id, journey FROM j WHERE is_conv = 1),
touches AS (
  SELECT DISTINCT user_id, journey,
         first_value(event_type) OVER (
           PARTITION BY user_id, journey ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS first_t,
         last_value(event_type) OVER (
           PARTITION BY user_id, journey ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS last_t
  FROM j WHERE is_conv = 0
),
closed AS (
  SELECT COALESCE(t.first_t, 'direct') AS first_t,
         COALESCE(t.last_t, 'direct') AS last_t
  FROM convs c LEFT JOIN touches t USING (user_id, journey)
),
f AS (
  SELECT first_t AS touch_type, CAST(COUNT(*) AS BIGINT) AS first_touch_convs
  FROM closed GROUP BY first_t
),
l AS (
  SELECT last_t AS touch_type, CAST(COUNT(*) AS BIGINT) AS last_touch_convs
  FROM closed GROUP BY last_t
)
SELECT COALESCE(f.touch_type, l.touch_type) AS touch_type,
       CAST(COALESCE(f.first_touch_convs, 0) AS BIGINT) AS first_touch_convs,
       CAST(COALESCE(l.last_touch_convs, 0) AS BIGINT) AS last_touch_convs
FROM f FULL OUTER JOIN l ON f.touch_type = l.touch_type
ORDER BY touch_type
"""


def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap (profile.bootstrap_ci): 95% CI
    for the per-type mean value from 50 deterministic hash-seeded
    replicates — the no-shuffle resampling scheme (each row draws a
    Poisson(1) weight per replicate; partial aggregation folds the ×R
    expansion map-side). md5-seeded, so the oracle reproduces every
    replicate mean bit-for-bit."""
    from hypermap_etl_spark.operators.profile import bootstrap_ci

    ev = load_table(spark, sf_dir, "events")
    return bootstrap_ci(
        ev, "value", ["event_type"], "event_id", n_replicates=50
    ).orderBy("event_type")


_P1 = [
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.9999167588507119",
]
_P1_CASE = "CASE " + " ".join(
    f"WHEN u < CAST('{t}' AS DOUBLE) THEN {j}" for j, t in enumerate(_P1)
) + " ELSE 7 END"

BOOTSTRAP_ORACLE = f"""
WITH base AS (
  SELECT event_type, CAST(event_id AS VARCHAR) AS id,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE value IS NOT NULL
),
rep AS (
  SELECT b.event_type, b.id, b.v, r.r
  FROM base b CROSS JOIN (SELECT unnest(range(50)) AS r) r
),
wts AS (
  SELECT event_type, r, v, {_P1_CASE} AS w
  FROM (
    SELECT event_type, r, v,
           CAST('0x' || substr(md5(id || ':' || CAST(r AS VARCHAR)), 1, 8)
                AS BIGINT) / 4294967296.0 AS u
    FROM rep
  )
),
means AS (
  SELECT event_type, r,
         CAST(SUM(w * v) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
  FROM wts GROUP BY event_type, r
  HAVING SUM(w) > 0
),
ci AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_reps,
         ROUND(percentile_cont(0.025) WITHIN GROUP (ORDER BY m), 6) AS ci_lo,
         ROUND(percentile_cont(0.975) WITHIN GROUP (ORDER BY m), 6) AS ci_hi
  FROM means GROUP BY event_type
),
pt AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS mean_value
  FROM base GROUP BY event_type
)
SELECT p.event_type, p.n, p.mean_value, c.ci_lo, c.ci_hi, c.n_reps
FROM pt p JOIN ci c USING (event_type) ORDER BY p.event_type
"""


def events_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra (sketch.kmv_set_ops, Beyer et al. 2007): for
    every event-type pair, union / intersection / Jaccard ESTIMATES of
    the two user-id sets computed from the 64-minimum-value sketches
    alone — the summary-only overlap report an incremental 100 TB
    pipeline runs on stored sketches without rescanning history.
    md5-based fractions make every estimate bit-reproducible in SQL."""
    from hypermap_etl_spark.operators.sketch import kmv_set_ops, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "user_id", ["event_type"], k=64)
    return kmv_set_ops(sk, "event_type", k=64).orderBy("g_a", "g_b")


KMV_OVERLAP_ORACLE = """
WITH d AS (
  SELECT DISTINCT event_type, user_id FROM events WHERE user_id IS NOT NULL
),
h AS (
  SELECT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
           / 4294967296.0 AS frac
  FROM d
),
sk AS (
  SELECT event_type, frac FROM (
    SELECT event_type, frac,
           row_number() OVER (PARTITION BY event_type ORDER BY frac) AS rn
    FROM h
  ) WHERE rn <= 64
),
gs AS (SELECT DISTINCT event_type FROM sk),
pairs AS (
  SELECT a.event_type AS g_a, b.event_type AS g_b
  FROM gs a JOIN gs b ON a.event_type < b.event_type
),
u AS (
  SELECT p.g_a, p.g_b, s.frac,
         MAX(CASE WHEN s.event_type = p.g_a THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.event_type = p.g_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.event_type IN (p.g_a, p.g_b)
  GROUP BY p.g_a, p.g_b, s.frac
),
t AS (
  SELECT g_a, g_b, frac, in_a, in_b,
         row_number() OVER (PARTITION BY g_a, g_b ORDER BY frac) AS rn
  FROM u
),
agg AS (
  SELECT g_a, g_b,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         ROUND(MAX(frac), 9) AS kth,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_common
  FROM t WHERE rn <= 64 GROUP BY g_a, g_b
),
est AS (
  SELECT g_a, g_b, n_kept, n_common,
         CAST(CASE WHEN n_kept < 64 THEN n_kept
                   ELSE FLOOR(63 / kth) END AS BIGINT) AS union_est
  FROM agg
)
SELECT g_a, g_b, n_kept, union_est, n_common,
       ROUND(n_common / CAST(n_kept AS DOUBLE), 6) AS jaccard_est,
       CAST(ROUND(n_common * CAST(union_est AS DOUBLE) / n_kept, 0) AS BIGINT)
         AS inter_est
FROM est ORDER BY g_a, g_b
"""



def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume — the (supplier nation,
    customer nation) pair filter is DISJUNCTIVE across the two
    directions, so it can't be pushed into either dim alone; both
    nation dims broadcast and the predicate evaluates on the joined
    row. One lineitem⋈orders shuffle on orderkey, then a 3-key hash
    agg (two nations × year). Revenue accumulates in exact decimal and
    surfaces as DOUBLE at the final projection only (exact below 2^53
    — the driver-safe width; DECIMAL(38,*) is HUGEINT-backed in the
    oracle engine). Unlike nation_pair_volume's all-pairs matrix, the
    bilateral filter makes this the true TPC-H Q7 shape."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") <= "1996-12-31")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_VOLUME_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
           AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""



def events_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the A/A hash-split mean difference per
    event type (profile.permutation_test, R=199): md5-seeded
    re-randomizations, exact decimal sums, add-one p-value from exact
    replicate counts — the assumption-free significance check that
    composes with bh_fdr below."""
    from hypermap_etl_spark.operators.profile import permutation_test

    ev = load_table(spark, sf_dir, "events")
    return permutation_test(
        ev, "value", "user_id", ["event_type"], n_permutations=199
    ).orderBy("event_type")


_PERM_CTE = """
WITH base AS (
  SELECT event_type,
         CAST(user_id AS VARCHAR) AS u,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
),
rep AS (
  SELECT event_type, u, v, CAST(t.r AS INT) AS r
  FROM base, range(0, 200) t(r)
),
armd AS (
  SELECT event_type, r,
    CASE WHEN r = 0
      THEN CAST('0x' || substr(md5('ab:' || u), 1, 8) AS BIGINT) % 2
      ELSE CAST('0x' || substr(md5('perm:' || CAST(r AS VARCHAR)
                || ':' || u), 1, 8) AS BIGINT) % 2
    END AS arm, v
  FROM rep
),
g AS (
  SELECT event_type, r,
    COUNT(CASE WHEN arm = 0 THEN 1 END) AS n_a,
    COUNT(CASE WHEN arm = 1 THEN 1 END) AS n_b,
    SUM(CASE WHEN arm = 0 THEN v END) AS s_a,
    SUM(CASE WHEN arm = 1 THEN v END) AS s_b
  FROM armd GROUP BY 1, 2
),
d AS (
  SELECT event_type, r, n_a, n_b,
    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS diff
  FROM g WHERE n_a > 0 AND n_b > 0
),
obs AS (SELECT event_type, n_a, n_b, diff AS d_obs FROM d WHERE r = 0),
perm AS (SELECT event_type, diff FROM d WHERE r > 0),
ptab AS (
  SELECT o.event_type,
    CAST(o.n_a AS BIGINT) AS n_a, CAST(o.n_b AS BIGINT) AS n_b,
    ROUND(o.d_obs, 6) AS diff_obs,
    CAST(COUNT(p.diff) AS BIGINT) AS n_perms,
    CAST(COALESCE(SUM(CASE WHEN abs(p.diff) >= abs(o.d_obs)
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS cnt_ge
  FROM obs o LEFT JOIN perm p USING (event_type)
  GROUP BY o.event_type, o.n_a, o.n_b, o.d_obs
)
"""

PERMUTATION_ORACLE = (
    _PERM_CTE
    + """
SELECT event_type, n_a, n_b, diff_obs, n_perms, cnt_ge,
  ROUND((cnt_ge + 1.0) / (n_perms + 1.0), 6) AS p_value
FROM ptab ORDER BY event_type
"""
)


def events_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up over the per-event-type permutation
    p-values at q = 1/10 (profile.permutation_test -> profile.bh_fdr):
    the reject decision is pure int64 arithmetic on exact replicate
    counts — (cnt+1)*10*m <= rank*(R+1) — so no float threshold
    comparison can ever diverge between engines. On the A/A split the
    expected outcome is an empty reject set; the gate pins the whole
    multiple-testing epilogue either way."""
    from hypermap_etl_spark.operators.profile import bh_fdr, permutation_test

    ev = load_table(spark, sf_dir, "events")
    p = permutation_test(
        ev, "value", "user_id", ["event_type"], n_permutations=199
    )
    return bh_fdr(p, ["event_type"], q_num=1, q_den=10)


FDR_BH_ORACLE = (
    _PERM_CTE
    + """
, ranked AS (
  SELECT event_type, cnt_ge, n_perms,
    ROUND((cnt_ge + 1.0) / (n_perms + 1.0), 6) AS p_value,
    CAST(row_number() OVER (
      ORDER BY (cnt_ge + 1.0) / (n_perms + 1.0), event_type
    ) AS BIGINT) AS rank,
    CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM ptab
),
marked AS (
  SELECT *,
    ((cnt_ge + 1) * 10 * m <= rank * (n_perms + 1)) AS passed
  FROM ranked
),
kk AS (
  SELECT *, MAX(CASE WHEN passed THEN rank END) OVER () AS k
  FROM marked
)
SELECT event_type, p_value, rank,
  ROUND(CAST(rank AS DOUBLE) / (10.0 * CAST(m AS DOUBLE)), 6) AS bh_cutoff,
  (rank <= COALESCE(k, 0)) AS reject
FROM kk ORDER BY rank
"""
)




def events_delta_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method ratio-metric test (value per event, clustered by
    user) on the A/A hash split (profile.ratio_metric_ab): per-user
    totals first, then exact moment sums, then one fixed-order double
    expression per arm — the estimator that is valid when rows within
    a user are correlated and the metric is a ratio of totals."""
    from hypermap_etl_spark.operators.profile import ratio_metric_ab

    ev = load_table(spark, sf_dir, "events")
    return ratio_metric_ab(
        ev, "value", "user_id", ["event_type"]
    ).orderBy("event_type")


DELTA_RATIO_ORACLE = """
WITH per_unit AS (
  SELECT event_type,
    CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
         AS BIGINT) % 2 AS arm,
    CAST(user_id AS VARCHAR) AS u,
    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS x,
    CAST(COUNT(*) AS DECIMAL(18,0)) AS y
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2, 3
),
agg AS (
  SELECT event_type, arm, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
    CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
    CAST(SUM(x * x) AS DECIMAL(38,4)) AS sxx,
    CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy,
    CAST(SUM(x * y) AS DECIMAL(38,2)) AS sxy
  FROM per_unit GROUP BY 1, 2
),
j AS (
  SELECT a.event_type,
    a.n AS n_a, a.sx AS sx_a, a.sy AS sy_a,
    a.sxx AS sxx_a, a.syy AS syy_a, a.sxy AS sxy_a,
    b.n AS n_b, b.sx AS sx_b, b.sy AS sy_b,
    b.sxx AS sxx_b, b.syy AS syy_b, b.sxy AS sxy_b
  FROM agg a JOIN agg b ON a.event_type = b.event_type
  WHERE a.arm = 0 AND b.arm = 1 AND a.n > 1 AND b.n > 1
    AND a.sy > 0 AND b.sy > 0
),
c AS (
  SELECT event_type, n_a, n_b,
    CAST(sx_a AS DOUBLE) / CAST(sy_a AS DOUBLE) AS r_a,
    CAST(sx_b AS DOUBLE) / CAST(sy_b AS DOUBLE) AS r_b,
    CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ybar_a,
    CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS ybar_b,
    GREATEST((CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE)
              * CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) - 1.0), CAST(0 AS DOUBLE)) AS vx_a,
    GREATEST((CAST(syy_a AS DOUBLE) - CAST(sy_a AS DOUBLE)
              * CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) - 1.0), CAST(0 AS DOUBLE)) AS vy_a,
    (CAST(sxy_a AS DOUBLE) - CAST(sx_a AS DOUBLE)
     * CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE))
      / (CAST(n_a AS DOUBLE) - 1.0) AS cxy_a,
    GREATEST((CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE)
              * CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / (CAST(n_b AS DOUBLE) - 1.0), CAST(0 AS DOUBLE)) AS vx_b,
    GREATEST((CAST(syy_b AS DOUBLE) - CAST(sy_b AS DOUBLE)
              * CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / (CAST(n_b AS DOUBLE) - 1.0), CAST(0 AS DOUBLE)) AS vy_b,
    (CAST(sxy_b AS DOUBLE) - CAST(sx_b AS DOUBLE)
     * CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      / (CAST(n_b AS DOUBLE) - 1.0) AS cxy_b
  FROM j
),
v AS (
  SELECT event_type, n_a, n_b, r_a, r_b,
    GREATEST((vx_a - 2.0 * r_a * cxy_a + r_a * r_a * vy_a)
             / (CAST(n_a AS DOUBLE) * ybar_a * ybar_a),
             CAST(0 AS DOUBLE)) AS var_a,
    GREATEST((vx_b - 2.0 * r_b * cxy_b + r_b * r_b * vy_b)
             / (CAST(n_b AS DOUBLE) * ybar_b * ybar_b),
             CAST(0 AS DOUBLE)) AS var_b
  FROM c
)
SELECT event_type, n_a, n_b,
  ROUND(r_a, 6) AS ratio_a, ROUND(r_b, 6) AS ratio_b,
  ROUND(sqrt(var_a + var_b), 6) AS se,
  ROUND(CASE WHEN sqrt(var_a + var_b) <> 0
             THEN (r_a - r_b) / sqrt(var_a + var_b) END, 6) AS z_stat,
  COALESCE(abs((r_a - r_b) / sqrt(var_a + var_b))
           > CAST('1.96' AS DOUBLE), FALSE) AS significant
FROM v ORDER BY event_type
"""


def events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect of the events hash split per event
    type (profile.power_mde): the 5%-two-sided / 80%-power MDE from
    the split's own exact-decimal moments, absolute and relative to
    the pooled mean — the design readout teams consult before trusting
    a flat experiment result."""
    from hypermap_etl_spark.operators.profile import power_mde

    ev = load_table(spark, sf_dir, "events")
    return power_mde(ev, "value", "user_id", ["event_type"]).orderBy(
        "event_type"
    )


POWER_MDE_ORACLE = """
WITH base AS (
  SELECT event_type,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
),
agg AS (
  SELECT event_type, arm, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(v) AS s, SUM(v * v) AS ss
  FROM base GROUP BY 1, 2
),
j AS (
  SELECT a.event_type,
         a.n AS n_a, a.s AS s_a, a.ss AS ss_a,
         b.n AS n_b, b.s AS s_b, b.ss AS ss_b
  FROM agg a JOIN agg b ON a.event_type = b.event_type
  WHERE a.arm = 0 AND b.arm = 1 AND a.n > 1 AND b.n > 1
),
c AS (
  SELECT event_type, n_a, n_b, s_a, s_b,
    GREATEST((CAST(ss_a AS DOUBLE)
              - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                / CAST(n_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) - 1.0), CAST(0 AS DOUBLE))
      / CAST(n_a AS DOUBLE) AS se2_a,
    GREATEST((CAST(ss_b AS DOUBLE)
              - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                / CAST(n_b AS DOUBLE))
             / (CAST(n_b AS DOUBLE) - 1.0), CAST(0 AS DOUBLE))
      / CAST(n_b AS DOUBLE) AS se2_b
  FROM j
),
f AS (
  SELECT event_type, n_a, n_b,
    CAST(s_a + s_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS mean_all,
    (CAST('1.959964' AS DOUBLE) + CAST('0.841621' AS DOUBLE))
      * sqrt(se2_a + se2_b) AS mde
  FROM c
)
SELECT event_type, n_a, n_b,
  ROUND(mean_all, 6) AS mean_all,
  ROUND(mde, 6) AS mde_abs,
  ROUND(CASE WHEN mean_all <> 0 THEN mde / mean_all END, 6) AS mde_rel
FROM f ORDER BY event_type
"""




def orders_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast of the monthly order count per
    priority (profile.holt_linear_forecast, alpha=beta=0.5): the
    corpus collapses to a (priority, month) aggregate, then the
    inherently sequential level/trend recursion runs per group in
    applyInPandas — and the oracle replays the IDENTICAL op sequence
    in a DuckDB recursive CTE, pinning the whole float64 recursion
    bit-for-bit."""
    from hypermap_etl_spark.operators.profile import holt_linear_forecast

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    return holt_linear_forecast(
        o, "month", ["o_orderpriority"]
    ).orderBy("o_orderpriority")


HOLT_ORACLE = """
WITH RECURSIVE m AS (
  SELECT o_orderpriority AS pr, strftime(o_orderdate, '%Y-%m') AS mo,
         CAST(COUNT(*) AS BIGINT) AS yc
  FROM orders GROUP BY 1, 2
),
r AS (
  SELECT pr, mo, CAST(yc AS DOUBLE) AS y,
         CAST(row_number() OVER (PARTITION BY pr ORDER BY mo) AS INT) AS rn
  FROM m
),
mx AS (SELECT pr, MAX(rn) AS nt FROM r GROUP BY 1),
rec AS (
  SELECT r2.pr, 2 AS rn, r2.y AS l, r2.y - r1.y AS b,
         CAST(0 AS DOUBLE) AS es, CAST(0 AS BIGINT) AS k
  FROM r r1 JOIN r r2 ON r1.pr = r2.pr AND r1.rn = 1 AND r2.rn = 2
  UNION ALL
  SELECT rec.pr, rec.rn + 1,
         0.5 * r.y + 0.5 * (rec.l + rec.b),
         0.5 * ((0.5 * r.y + 0.5 * (rec.l + rec.b)) - rec.l)
           + 0.5 * rec.b,
         rec.es + abs(r.y - (rec.l + rec.b)),
         rec.k + 1
  FROM rec JOIN r ON r.pr = rec.pr AND r.rn = rec.rn + 1
)
SELECT rec.pr AS o_orderpriority,
  CAST(rec.rn AS BIGINT) AS n_periods,
  ROUND(rec.l, 6) AS level,
  ROUND(rec.b, 6) AS trend,
  ROUND(rec.l + rec.b, 6) AS forecast_next,
  ROUND(CASE WHEN rec.k > 0 THEN rec.es / rec.k END, 6) AS mae
FROM rec JOIN mx ON mx.pr = rec.pr AND rec.rn = mx.nt
ORDER BY o_orderpriority
"""




def parts_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 4-round LPA communities over the
    repeat-co-purchase graph (graph.label_propagation ->
    graph.modularity): Q = (4·m·Σe_c − Σd_c²)/(4m²) with every
    numerator/denominator term an exact integer — the quality number
    that says whether the detected communities beat random."""
    from hypermap_etl_spark.operators.graph import (
        label_propagation,
        modularity,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        _copurchase_pairs(li)
        .filter(F.col("c") >= 2)
        .select("p1", "p2")
    )
    comm = label_propagation(edges, n_iter=4, src="p1", dst="p2")
    return modularity(edges, comm, src="p1", dst="p2")


MODULARITY_ORACLE = _lpa_oracle(
    4,
    final="""
, eu AS (SELECT a AS ea, b AS eb FROM pairs),
ej AS (
  SELECT eu.ea, eu.eb, ca.community AS ca, cb.community AS cb
  FROM eu JOIN l4 ca ON eu.ea = ca.node JOIN l4 cb ON eu.eb = cb.node
),
eagg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
    CAST(COALESCE(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS intra_edges
  FROM ej
),
deg AS (
  SELECT n, c, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT ea AS n, ca AS c FROM ej
    UNION ALL SELECT eb AS n, cb AS c FROM ej
  ) GROUP BY 1, 2
),
dcs AS (SELECT c, CAST(SUM(d) AS DECIMAL(19,0)) AS dc FROM deg GROUP BY 1),
dagg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
    CAST(SUM(dc * dc) AS DECIMAL(38,0)) AS sd2
  FROM dcs
),
nn AS (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) AS n_nodes FROM deg)
SELECT n_edges, n_nodes, n_communities, intra_edges,
  ROUND(CASE WHEN n_edges > 0 THEN
    CAST(CAST(4 AS DECIMAL(19,0)) * n_edges * intra_edges
         - sd2 AS DOUBLE)
    / CAST(CAST(4 AS DECIMAL(19,0)) * n_edges * n_edges AS DOUBLE)
  END, 6) AS modularity
FROM eagg, dagg, nn
""",
)




def events_funnel_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% intervals on the funnel's step conversions
    (events_funnel -> profile.wilson_ci): the per-user funnel frame
    collapses to three (step, entered, converted) rows — strictly-
    ordered stages, so k/n are exact integers — and the interval is
    one fixed-order double expression per row. Wilson, not Wald,
    because funnel tails live at small n / extreme p where Wald's
    interval escapes [0, 1]."""
    from hypermap_etl_spark.operators.profile import wilson_ci

    fu = events_funnel(spark, sf_dir)
    agg = fu.agg(
        F.count("t_view_us").cast("long").alias("n_view"),
        F.count("t_click_us").cast("long").alias("n_click"),
        F.count("t_purchase_us").cast("long").alias("n_purchase"),
    )
    steps = agg.select(
        F.expr(
            "stack(3, "
            "'1_view_to_click', n_view, n_click, "
            "'2_click_to_purchase', n_click, n_purchase, "
            "'3_view_to_purchase', n_view, n_purchase"
            ") AS (step, n, k)"
        )
    )
    return wilson_ci(steps, "k", "n").orderBy("step")


FUNNEL_WILSON_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id
),
cnt AS (
  SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
         CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click,
         CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase
),
steps AS (
  SELECT '1_view_to_click' AS step, n_view AS n, n_click AS k FROM cnt
  UNION ALL
  SELECT '2_click_to_purchase', n_click, n_purchase FROM cnt
  UNION ALL
  SELECT '3_view_to_purchase', n_view, n_purchase FROM cnt
),
w AS (
  SELECT step, n, k,
    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS phat,
    CAST('1.959964' AS DOUBLE) AS z,
    CAST(n AS DOUBLE) AS nd
  FROM steps
),
f AS (
  SELECT step, n, k, phat,
    (phat + (z * z) / (2.0 * nd)) / (1.0 + (z * z) / nd) AS center,
    z * sqrt(phat * (1.0 - phat) / nd + (z * z) / ((4.0 * nd) * nd))
      / (1.0 + (z * z) / nd) AS half
  FROM w
)
SELECT step, n, k,
  CASE WHEN n > 0 THEN ROUND(phat, 6) END AS p_hat,
  CASE WHEN n > 0 THEN ROUND(GREATEST(center - half, CAST(0 AS DOUBLE)), 6)
  END AS ci_lo,
  CASE WHEN n > 0 THEN ROUND(LEAST(center + half, CAST(1 AS DOUBLE)), 6)
  END AS ci_hi
FROM f ORDER BY step
"""




def events_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage diagnostics of per-user value means
    per event type (profile.eb_shrink_means): method-of-moments
    within/between variance split and the average James-Stein shrink
    factor — cross-unit reductions sum quantized decimals, never raw
    doubles, so the whole two-stage estimate is engine-exact."""
    from hypermap_etl_spark.operators.profile import eb_shrink_means

    ev = load_table(spark, sf_dir, "events")
    return eb_shrink_means(ev, "value", "user_id", ["event_type"]).orderBy(
        "event_type"
    )


EB_SHRINK_ORACLE = """
WITH pu AS (
  SELECT event_type, user_id AS u, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(value AS DECIMAL(12,2))) AS s,
         SUM(CAST(value AS DECIMAL(12,2))
             * CAST(value AS DECIMAL(12,2))) AS ss
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
),
uq AS (
  SELECT event_type, n,
    CAST(ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS DECIMAL(18,6)) AS mq,
    CAST(CASE WHEN n > 1 THEN
           ROUND(GREATEST(CAST(ss AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE),
                          CAST(0 AS DOUBLE)), 6)
         ELSE 0.0 END AS DECIMAL(18,6)) AS wq,
    CAST(ROUND(1.0 / CAST(n AS DOUBLE), 9) AS DECIMAL(18,9)) AS iq
  FROM pu
),
gg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_units,
    CAST(SUM(n) AS BIGINT) AS n_rows,
    CAST(SUM(mq) AS DECIMAL(38,6)) AS sm,
    CAST(SUM(mq * mq) AS DECIMAL(38,12)) AS smm,
    CAST(SUM(wq) AS DECIMAL(38,6)) AS sw,
    CAST(SUM(n - 1) AS BIGINT) AS sdf,
    CAST(SUM(iq) AS DECIMAL(38,9)) AS sinv
  FROM uq GROUP BY 1 HAVING COUNT(*) > 1
),
st AS (
  SELECT event_type, n_units, n_rows,
    CAST(sm AS DOUBLE) / CAST(n_units AS DOUBLE) AS grand,
    (CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
       / CAST(n_units AS DOUBLE))
      / (CAST(n_units AS DOUBLE) - 1.0) AS var_means,
    CASE WHEN sdf > 0 THEN CAST(sw AS DOUBLE) / CAST(sdf AS DOUBLE)
         ELSE 0.0 END AS s2w,
    CAST(sinv AS DOUBLE) / CAST(n_units AS DOUBLE) AS minv
  FROM gg
),
s2 AS (
  SELECT event_type, n_units, n_rows, grand, s2w,
    GREATEST(var_means - s2w * minv, CAST(0 AS DOUBLE)) AS tau2
  FROM st
),
bb AS (
  SELECT uq.event_type,
    CAST(ROUND(CASE WHEN s2.tau2 + s2.s2w / CAST(uq.n AS DOUBLE) > 0
               THEN s2.tau2
                    / (s2.tau2 + s2.s2w / CAST(uq.n AS DOUBLE))
               ELSE 1.0 END, 9) AS DECIMAL(18,9)) AS bq
  FROM uq JOIN s2 USING (event_type)
),
av AS (
  SELECT event_type,
         CAST(SUM(bq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_b
  FROM bb GROUP BY 1
)
SELECT s2.event_type, n_units, n_rows,
  ROUND(grand, 6) AS grand_mean,
  ROUND(s2w, 6) AS s2_within,
  ROUND(tau2, 6) AS tau2,
  ROUND(avg_b, 6) AS avg_shrink
FROM s2 JOIN av USING (event_type)
ORDER BY s2.event_type
"""


def events_weighted_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of the events stream weighted by
    value, per event type (profile.weighted_ess): (Σw)²/Σw² from
    exact decimal moments plus the design effect n/ESS — how much a
    value-weighted estimator really knows."""
    from hypermap_etl_spark.operators.profile import weighted_ess

    ev = load_table(spark, sf_dir, "events")
    return weighted_ess(ev, "value", ["event_type"]).orderBy("event_type")


WEIGHTED_ESS_ORACLE = """
WITH base AS (
  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS w
  FROM events
  WHERE value IS NOT NULL AND CAST(value AS DECIMAL(12,2)) > 0
),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(w) AS sw, SUM(w * w) AS sww
  FROM base GROUP BY 1
)
SELECT event_type, n,
  ROUND(CASE WHEN CAST(sww AS DOUBLE) <> 0
        THEN CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
             / CAST(sww AS DOUBLE) END, 6) AS ess,
  ROUND(CASE WHEN CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
             / CAST(sww AS DOUBLE) <> 0
        THEN CAST(n AS DOUBLE)
             / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                / CAST(sww AS DOUBLE)) END, 6) AS design_effect
FROM g ORDER BY event_type
"""




def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative value per cohort member by day
    age — the monetary sibling of events_retention_cohorts (retention
    says who came back; LTV says what they were worth by then).
    First-seen argmin per user, datediff for the age (calendar-exact,
    no row lags), ONE (cohort, age) aggregate of exact decimal
    revenue, then a running sum over the calendar-bounded aggregate
    partitioned by cohort. LTV divides by the FIXED cohort size, so
    curves are comparable across cohorts."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    day = F.date_trunc("day", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(day).alias("__cd"))
    sizes = first.groupBy("__cd").agg(
        F.countDistinct("user_id").cast("long").alias("cohort_users")
    )
    enriched = ev.select(
        "user_id",
        day.alias("__day"),
        F.col("value").cast("decimal(12,2)").alias("__v"),
    ).join(first, "user_id")
    per = enriched.groupBy(
        "__cd",
        F.datediff(F.col("__day"), F.col("__cd")).cast("long").alias(
            "age_days"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("__v").cast("decimal(38,2)").alias("__rev"),
    )
    w = (
        Window.partitionBy("__cd")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per.withColumn("__cum", F.sum("__rev").over(w).cast("decimal(38,2)"))
    return (
        cum.join(sizes, ["__cd"])
        .select(
            F.date_format("__cd", "yyyy-MM-dd").alias("cohort_day"),
            F.col("age_days").cast("bigint").alias("age_days"),
            "cohort_users",
            "n_events",
            F.col("__rev").cast("double").alias("rev"),
            F.col("__cum").cast("double").alias("cum_rev"),
            F.round(
                F.col("__cum").cast("double")
                / F.col("cohort_users").cast("double"),
                6,
            ).alias("ltv"),
        )
        .orderBy("cohort_day", "age_days")
    )


COHORT_LTV_ORACLE = """
WITH f AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS cd
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
sizes AS (
  SELECT cd, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cohort_users
  FROM f GROUP BY 1
),
en AS (
  SELECT e.user_id, date_trunc('day', e.ts) AS day,
         CAST(e.value AS DECIMAL(12,2)) AS v, f.cd
  FROM events e JOIN f USING (user_id)
  WHERE e.value IS NOT NULL
),
per AS (
  SELECT cd, CAST(datediff('day', cd, day) AS BIGINT) AS age_days,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(v) AS DECIMAL(38,2)) AS rev
  FROM en GROUP BY 1, 2
),
cum AS (
  SELECT cd, age_days, n_events, rev,
         CAST(SUM(rev) OVER (PARTITION BY cd ORDER BY age_days)
              AS DECIMAL(38,2)) AS cum_rev
  FROM per
)
SELECT strftime(c.cd, '%Y-%m-%d') AS cohort_day,
  c.age_days, s.cohort_users, c.n_events,
  CAST(c.rev AS DOUBLE) AS rev,
  CAST(c.cum_rev AS DOUBLE) AS cum_rev,
  ROUND(CAST(c.cum_rev AS DOUBLE) / CAST(s.cohort_users AS DOUBLE), 6)
    AS ltv
FROM cum c JOIN sizes s ON c.cd = s.cd
ORDER BY cohort_day, age_days
"""




def events_type_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain
    (events_type_bigrams transitions -> graph.markov_stationary, 8
    fixed power iterations): where a long session spends its time.
    Each v·M product quantizes to decimal before the per-state sum
    and each renormalization divides exact totals once — the oracle
    unrolls the identical 8 steps (its CTEs MATERIALIZED: each step is
    read twice, and inlined they re-run the transition lineage 2^8
    times)."""
    from hypermap_etl_spark.operators.graph import markov_stationary

    tr = events_type_bigrams(spark, sf_dir)
    return markov_stationary(tr, n_iter=8)


EVENTS_STATIONARY_ORACLE = """WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS from_type
  FROM events WHERE user_id IS NOT NULL
),
tr AS MATERIALIZED (
  SELECT from_type, event_type AS to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
),
ot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS ci FROM tr GROUP BY 1),
m AS MATERIALIZED (
  SELECT tr.from_type, tr.to_type,
         CAST(tr.n AS DOUBLE) / CAST(ot.ci AS DOUBLE) AS pij
  FROM tr JOIN ot USING (from_type)
),
states AS (SELECT from_type AS st, ci FROM ot),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM states),
v0 AS (
  SELECT st, CAST(ROUND(1.0 / CAST(s AS DOUBLE), 12) AS DECIMAL(38,12)) AS p
  FROM states CROSS JOIN ns
),
u1 AS MATERIALIZED (
  SELECT m.to_type AS st,
    CAST(SUM(CAST(ROUND(CAST(v0.p AS DOUBLE) * m.pij, 12)
                  AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS p
  FROM v0 JOIN m ON v0.st = m.from_type GROUP BY 1
),
t1 AS (SELECT CAST(SUM(p) AS DECIMAL(38,12)) AS tot FROM u1),
v1 AS (
  SELECT st, CAST(ROUND(CAST(p AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS p
  FROM u1 CROSS JOIN t1
),
u2 AS MATERIALIZED (
  SELECT m.to_type AS st,
    CAST(SUM(CAST(ROUND(CAST(v1.p AS DOUBLE) * m.pij, 12)
                  AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS p
  FROM v1 JOIN m ON v1.st = m.from_type GROUP BY 1
),
t2 AS (SELECT CAST(SUM(p) AS DECIMAL(38,12)) AS tot FROM u2),
v2 AS (
  SELECT st, CAST(ROUND(CAST(p AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS p
  FROM u2 CROSS JOIN t2
),
u3 AS MATERIALIZED (
  SELECT m.to_type AS st,
    CAST(SUM(CAST(ROUND(CAST(v2.p AS DOUBLE) * m.pij, 12)
                  AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS p
  FROM v2 JOIN m ON v2.st = m.from_type GROUP BY 1
),
t3 AS (SELECT CAST(SUM(p) AS DECIMAL(38,12)) AS tot FROM u3),
v3 AS (
  SELECT st, CAST(ROUND(CAST(p AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS p
  FROM u3 CROSS JOIN t3
),
u4 AS MATERIALIZED (
  SELECT m.to_type AS st,
    CAST(SUM(CAST(ROUND(CAST(v3.p AS DOUBLE) * m.pij, 12)
                  AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS p
  FROM v3 JOIN m ON v3.st = m.from_type GROUP BY 1
),
t4 AS (SELECT CAST(SUM(p) AS DECIMAL(38,12)) AS tot FROM u4),
v4 AS (
  SELECT st, CAST(ROUND(CAST(p AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS p
  FROM u4 CROSS JOIN t4
),
u5 AS MATERIALIZED (
  SELECT m.to_type AS st,
    CAST(SUM(CAST(ROUND(CAST(v4.p AS DOUBLE) * m.pij, 12)
                  AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS p
  FROM v4 JOIN m ON v4.st = m.from_type GROUP BY 1
),
t5 AS (SELECT CAST(SUM(p) AS DECIMAL(38,12)) AS tot FROM u5),
v5 AS (
  SELECT st, CAST(ROUND(CAST(p AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS p
  FROM u5 CROSS JOIN t5
),
u6 AS MATERIALIZED (
  SELECT m.to_type AS st,
    CAST(SUM(CAST(ROUND(CAST(v5.p AS DOUBLE) * m.pij, 12)
                  AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS p
  FROM v5 JOIN m ON v5.st = m.from_type GROUP BY 1
),
t6 AS (SELECT CAST(SUM(p) AS DECIMAL(38,12)) AS tot FROM u6),
v6 AS (
  SELECT st, CAST(ROUND(CAST(p AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS p
  FROM u6 CROSS JOIN t6
),
u7 AS MATERIALIZED (
  SELECT m.to_type AS st,
    CAST(SUM(CAST(ROUND(CAST(v6.p AS DOUBLE) * m.pij, 12)
                  AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS p
  FROM v6 JOIN m ON v6.st = m.from_type GROUP BY 1
),
t7 AS (SELECT CAST(SUM(p) AS DECIMAL(38,12)) AS tot FROM u7),
v7 AS (
  SELECT st, CAST(ROUND(CAST(p AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS p
  FROM u7 CROSS JOIN t7
),
u8 AS MATERIALIZED (
  SELECT m.to_type AS st,
    CAST(SUM(CAST(ROUND(CAST(v7.p AS DOUBLE) * m.pij, 12)
                  AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS p
  FROM v7 JOIN m ON v7.st = m.from_type GROUP BY 1
),
t8 AS (SELECT CAST(SUM(p) AS DECIMAL(38,12)) AS tot FROM u8),
v8 AS (
  SELECT st, CAST(ROUND(CAST(p AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS p
  FROM u8 CROSS JOIN t8
)
SELECT s.st AS state, s.ci AS n_out,
  ROUND(COALESCE(CAST(v8.p AS DOUBLE), CAST(0 AS DOUBLE)), 6) AS pi
FROM states s LEFT JOIN v8 ON s.st = v8.st
ORDER BY state"""




def events_sequential_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential monitoring of the A/A split per event type
    (profile.sequential_welch): five equally-spaced calendar looks,
    cumulative exact-moment Welch z at each, compared against the
    O'Brien-Fleming boundaries — the peeking correction, replayed
    deterministically. Look assignment is pure int64 over the
    observed day span."""
    from hypermap_etl_spark.operators.profile import sequential_welch

    ev = load_table(spark, sf_dir, "events")
    return sequential_welch(
        ev, "value", "user_id", "ts", ["event_type"]
    )


SEQUENTIAL_WELCH_ORACLE = """
WITH base AS (
  SELECT event_type,
    CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
         AS BIGINT) % 2 AS arm,
    date_trunc('day', ts) AS day,
    CAST(value AS DECIMAL(12,2)) AS v
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
),
span AS (
  SELECT MIN(day) AS d0,
         CAST(datediff('day', MIN(day), MAX(day)) + 1 AS BIGINT) AS nd
  FROM base
),
lk AS (
  SELECT event_type, arm,
    LEAST(CAST((CAST(datediff('day', d0, day) AS BIGINT) * 5) // nd
               AS INT), 4) AS look,
    v
  FROM base CROSS JOIN span
),
per AS (
  SELECT event_type, arm, look, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(v) AS s, SUM(v * v) AS ss
  FROM lk GROUP BY 1, 2, 3
),
cum AS (
  SELECT event_type, arm, look,
    CAST(SUM(n) OVER (PARTITION BY event_type, arm ORDER BY look)
         AS BIGINT) AS cn,
    SUM(s) OVER (PARTITION BY event_type, arm ORDER BY look) AS cs,
    SUM(ss) OVER (PARTITION BY event_type, arm ORDER BY look) AS css
  FROM per
),
j AS (
  SELECT a.event_type, a.look,
    a.cn AS n_a, a.cs AS s_a, a.css AS ss_a,
    b.cn AS n_b, b.cs AS s_b, b.css AS ss_b
  FROM cum a JOIN cum b
    ON a.event_type = b.event_type AND a.look = b.look
  WHERE a.arm = 0 AND b.arm = 1 AND a.cn > 1 AND b.cn > 1
),
c AS (
  SELECT event_type, look, n_a, n_b,
    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
    GREATEST((CAST(ss_a AS DOUBLE)
              - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                / CAST(n_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) - 1.0), CAST(0 AS DOUBLE))
      / CAST(n_a AS DOUBLE) AS se2_a,
    GREATEST((CAST(ss_b AS DOUBLE)
              - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                / CAST(n_b AS DOUBLE))
             / (CAST(n_b AS DOUBLE) - 1.0), CAST(0 AS DOUBLE))
      / CAST(n_b AS DOUBLE) AS se2_b
  FROM j
),
f AS (
  SELECT event_type, look, n_a, n_b,
    CASE WHEN se2_a + se2_b > 0
         THEN (m_a - m_b) / sqrt(se2_a + se2_b) END AS z,
    CASE look WHEN 0 THEN CAST('4.877' AS DOUBLE)
              WHEN 1 THEN CAST('3.357' AS DOUBLE)
              WHEN 2 THEN CAST('2.68' AS DOUBLE)
              WHEN 3 THEN CAST('2.29' AS DOUBLE)
              ELSE CAST('2.031' AS DOUBLE) END AS boundary
  FROM c
)
SELECT event_type, CAST(look AS BIGINT) AS look, n_a, n_b,
  ROUND(z, 6) AS z_stat,
  ROUND(boundary, 6) AS boundary,
  COALESCE(abs(z) > boundary, FALSE) AS crossed
FROM f ORDER BY event_type, look
"""




def parts_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the repeat-co-purchase graph
    (graph.link_prediction_aa): the top 50 non-adjacent part pairs
    ranked by summed 1/ln(deg) over common neighbors — which products
    the graph says will be co-bought next. Each term quantizes to
    decimal before the per-pair sum; ties on score break by ids."""
    from hypermap_etl_spark.operators.graph import link_prediction_aa

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        _copurchase_pairs(li)
        .filter(F.col("c") >= 2)
        .select("p1", "p2")
    )
    return link_prediction_aa(edges, src="p1", dst="p2", top_k=50)


LINK_PREDICTION_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
piv AS (SELECT a, d FROM deg WHERE d >= 2 AND d <= 1000),
adj AS (
  SELECT sym.a AS v, sym.b AS x, piv.d FROM sym JOIN piv USING (a)
),
wp AS (
  SELECT l.x AS na, r.x AS nb, l.d
  FROM adj l JOIN adj r ON l.v = r.v AND l.x < r.x
),
scored AS (
  SELECT na, nb, CAST(COUNT(*) AS BIGINT) AS n_common,
    CAST(SUM(CAST(ROUND(1.0 / ln(CAST(d AS DOUBLE)), 12)
                  AS DECIMAL(14,12))) AS DECIMAL(38,12)) AS s
  FROM wp GROUP BY 1, 2
),
ne AS (
  SELECT sc.* FROM scored sc
  LEFT JOIN pairs p ON sc.na = p.a AND sc.nb = p.b
  WHERE p.a IS NULL
)
SELECT na AS node_a, nb AS node_b, n_common,
  ROUND(CAST(s AS DOUBLE), 6) AS aa_score
FROM ne
ORDER BY aa_score DESC, node_a ASC, node_b ASC
LIMIT 50
"""




def events_ab_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orthogonality certification of two concurrent experiment
    layers over the events users (profile.layer_orthogonality): the
    joint md5('ab:u') x md5('layer2:u') assignment table and the
    closed-form 2x2 chi-squared, exact integers up to one division —
    layered experimentation is valid only if this stays flat."""
    from hypermap_etl_spark.operators.profile import layer_orthogonality

    ev = load_table(spark, sf_dir, "events")
    return layer_orthogonality(ev, "user_id")


AB_LAYERS_ORACLE = """
WITH units AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS u
  FROM events WHERE user_id IS NOT NULL
),
assigned AS (
  SELECT
    CAST('0x' || substr(md5('ab:' || u), 1, 8) AS BIGINT) % 2 AS a,
    CAST('0x' || substr(md5('layer2:' || u), 1, 8) AS BIGINT) % 2 AS b
  FROM units
),
g AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 END), 0)
         AS BIGINT) AS n00,
    CAST(COALESCE(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 END), 0)
         AS BIGINT) AS n01,
    CAST(COALESCE(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 END), 0)
         AS BIGINT) AS n10,
    CAST(COALESCE(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 END), 0)
         AS BIGINT) AS n11
  FROM assigned
),
c AS (
  SELECT n00, n01, n10, n11,
    CAST(n00 + n01 + n10 + n11 AS DECIMAL(38,0)) AS ntot,
    CAST(CAST(n00 AS DECIMAL(38,0)) * n11
         - CAST(n01 AS DECIMAL(38,0)) * n10 AS DECIMAL(38,0)) AS det
  FROM g
),
f AS (
  SELECT n00, n01, n10, n11, ntot,
    CASE WHEN (CAST(n00 + n01 AS DOUBLE) * CAST(n10 + n11 AS DOUBLE)
               * CAST(n00 + n10 AS DOUBLE) * CAST(n01 + n11 AS DOUBLE)) <> 0
      THEN CAST(ntot AS DOUBLE)
           * (CAST(det AS DOUBLE) * CAST(det AS DOUBLE))
           / (CAST(n00 + n01 AS DOUBLE) * CAST(n10 + n11 AS DOUBLE)
              * CAST(n00 + n10 AS DOUBLE) * CAST(n01 + n11 AS DOUBLE))
    END AS chi2
  FROM c
)
SELECT CAST(ntot AS BIGINT) AS n_units, n00, n01, n10, n11,
  ROUND(chi2, 6) AS chi2,
  COALESCE(chi2 < CAST('3.841' AS DOUBLE), FALSE) AS orthogonal
FROM f
"""




def events_srm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented sample-ratio-mismatch check (profile.srm_check with
    group_cols): the global 50/50 can hold while one surface silently
    drops an arm's logs — per event type, distinct (segment, unit)
    pairs, exact longs, one double tail per segment."""
    from hypermap_etl_spark.operators.profile import srm_check

    ev = load_table(spark, sf_dir, "events")
    return srm_check(ev, "user_id", group_cols=["event_type"]).orderBy(
        "event_type"
    )


SRM_SEGMENTS_ORACLE = """
WITH units AS (
  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u
  FROM events WHERE user_id IS NOT NULL
),
armd AS (
  SELECT event_type,
    CAST('0x' || substr(md5('ab:' || u), 1, 8) AS BIGINT) % 2 AS arm
  FROM units
),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_units,
    CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_a
  FROM armd GROUP BY 1
),
f AS (
  SELECT event_type, n_units, n_a,
    CASE WHEN sqrt(CAST(n_units AS DOUBLE) / 4.0) <> 0
         THEN (CAST(n_a AS DOUBLE) - CAST(n_units AS DOUBLE) / 2.0)
              / sqrt(CAST(n_units AS DOUBLE) / 4.0) END AS z
  FROM g
)
SELECT event_type, n_units, n_a,
  n_units - n_a AS n_b,
  ROUND(z, 6) AS z_stat,
  COALESCE(abs(z) > CAST('3.0' AS DOUBLE), FALSE) AS srm_suspected
FROM f ORDER BY event_type
"""




def events_user_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of per-user activity per event type
    (profile.powerlaw_alpha, CSN continuous MLE at x_min=1): the
    heavy-tail one-number check beside Fano/Gini — each ln(x) term
    quantizes to decimal before the cross-user sum."""
    from hypermap_etl_spark.operators.profile import powerlaw_alpha

    ev = load_table(spark, sf_dir, "events")
    return powerlaw_alpha(ev, "user_id", ["event_type"]).orderBy(
        "event_type"
    )


POWERLAW_ORACLE = """
WITH per AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
),
g AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n_units,
    CAST(COALESCE(SUM(CASE WHEN x >= 1 THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_tail,
    CAST(SUM(CASE WHEN x >= 1 THEN
          CAST(ROUND(ln(CAST(x AS DOUBLE) / 1.0), 12) AS DECIMAL(18,12))
        END) AS DECIMAL(38,12)) AS sl,
    CAST(SUM(CASE WHEN x >= 1 THEN x END) AS BIGINT) AS sx
  FROM per GROUP BY 1
)
SELECT event_type, n_units, n_tail,
  ROUND(CASE WHEN CAST(sl AS DOUBLE) <> 0
        THEN 1.0 + CAST(n_tail AS DOUBLE) / CAST(sl AS DOUBLE) END, 6)
    AS alpha,
  ROUND(CASE WHEN CAST(n_tail AS DOUBLE) <> 0
        THEN CAST(sx AS DOUBLE) / CAST(n_tail AS DOUBLE) END, 6)
    AS tail_mean
FROM g ORDER BY event_type
"""




def events_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift decile table on the A/A hash split
    (profile.uplift_deciles): users ranked by a deterministic pseudo
    model score (user_id mod 97), each band split by arm,
    treatment-minus-control mean per band — on the A/A split the
    uplift column is the pipeline's own placebo test."""
    from hypermap_etl_spark.operators.profile import uplift_deciles

    ev = load_table(spark, sf_dir, "events").withColumn(
        "score", F.pmod(F.col("user_id"), F.lit(97)).cast("double")
    )
    return uplift_deciles(ev, "value", "user_id", "score")


UPLIFT_ORACLE = """
WITH units AS (
  SELECT CAST(user_id AS VARCHAR) AS u,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS x,
         MAX(CAST(user_id % 97 AS DOUBLE)) AS score
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1
),
rk AS (
  SELECT u, x,
         row_number() OVER (ORDER BY score DESC, u) AS rn,
         COUNT(*) OVER () AS nt
  FROM units
),
bd AS (
  SELECT CAST(((rn - 1) * 10) // nt AS INT) AS band,
         CAST('0x' || substr(md5('ab:' || u), 1, 8) AS BIGINT) % 2 AS arm,
         x
  FROM rk
),
per AS (
  SELECT band, arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,2)) AS s
  FROM bd GROUP BY 1, 2
),
j AS (
  SELECT t.band, t.n AS n_t, t.s AS s_t, c.n AS n_c, c.s AS s_c
  FROM per t JOIN per c ON t.band = c.band
  WHERE t.arm = 1 AND c.arm = 0 AND t.n > 0 AND c.n > 0
)
SELECT band, n_t, n_c,
  ROUND(CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6) AS mean_t,
  ROUND(CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS mean_c,
  ROUND(CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS uplift
FROM j ORDER BY band
"""




def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel step (events_funnel ->
    scale.grouped_quantile_table): exact p50/p90 seconds from view to
    click and click to purchase — conversion RATES say how many, this
    says how long, and the exact quantile construction means no
    t-digest approximation error at any scale."""
    from hypermap_etl_spark.operators.scale import grouped_quantile_table

    fu = events_funnel(spark, sf_dir)
    lat = fu.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("1_view_to_click").alias("step"),
                    (
                        (F.col("t_click_us") - F.col("t_view_us"))
                        / F.lit(1000000.0)
                    ).alias("sec"),
                ),
                F.struct(
                    F.lit("2_click_to_purchase").alias("step"),
                    (
                        (F.col("t_purchase_us") - F.col("t_click_us"))
                        / F.lit(1000000.0)
                    ).alias("sec"),
                ),
            )
        ).alias("s")
    ).select("s.step", "s.sec").filter(F.col("sec").isNotNull())
    qt = grouped_quantile_table(lat, "sec", ["step"], qs=(0.5, 0.9))
    return qt.groupBy("step").agg(
        F.max("n_rows").cast("long").alias("n"),
        F.max(F.when(F.col("q") == 0.5, F.col("value"))).alias("p50_sec"),
        F.max(F.when(F.col("q") == 0.9, F.col("value"))).alias("p90_sec"),
    ).orderBy("step")


FUNNEL_LATENCY_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id
),
lat AS (
  SELECT '1_view_to_click' AS step,
    CAST((epoch_us(c.t_click) - epoch_us(v.t_view)) / 1000000.0
         AS DECIMAL(12,2)) AS sec
  FROM c JOIN v USING (user_id)
  UNION ALL
  SELECT '2_click_to_purchase',
    CAST((epoch_us(p.t_purchase) - epoch_us(c.t_click)) / 1000000.0
         AS DECIMAL(12,2))
  FROM p JOIN c USING (user_id)
),
pv AS (
  SELECT step, sec, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lat GROUP BY 1, 2
),
cum AS (
  SELECT step, sec,
    SUM(cnt) OVER (PARTITION BY step ORDER BY sec) AS cw,
    SUM(cnt) OVER (PARTITION BY step) AS tot
  FROM pv
)
SELECT step, CAST(MAX(tot) AS BIGINT) AS n,
  CAST(MIN(CASE WHEN cw * 2 >= tot * 1 THEN sec END) AS DOUBLE) AS p50_sec,
  CAST(MIN(CASE WHEN cw * 10 >= tot * 9 THEN sec END) AS DOUBLE) AS p90_sec
FROM cum GROUP BY step ORDER BY step
"""




def lineitem_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All nine exact price deciles per return flag in ONE
    distributed running-sum pass (scale.grouped_quantile_table) —
    the big-fact consumer of the quantile-table primitive and its
    bench subject; every knot pick is integer-exact."""
    from hypermap_etl_spark.operators.scale import grouped_quantile_table

    li = load_table(spark, sf_dir, "lineitem")
    return grouped_quantile_table(
        li, "l_extendedprice", ["l_returnflag"]
    ).orderBy("l_returnflag", "q")


PRICE_DECILES_ORACLE = """
WITH pv AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, v,
    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cw,
    SUM(c) OVER (PARTITION BY l_returnflag) AS tot
  FROM pv
),
qs AS (SELECT * FROM (VALUES (0.1, 1, 10), (0.2, 1, 5), (0.3, 3, 10),
       (0.4, 2, 5), (0.5, 1, 2), (0.6, 3, 5), (0.7, 7, 10),
       (0.8, 4, 5), (0.9, 9, 10)) t(q, num, den))
SELECT l_returnflag, CAST(q AS DOUBLE) AS q,
  CAST(MIN(CASE WHEN cw * den >= tot * num THEN v END) AS DOUBLE) AS value,
  CAST(MAX(tot) AS BIGINT) AS n_rows
FROM cum CROSS JOIN qs
GROUP BY 1, 2 ORDER BY l_returnflag, q
"""




def events_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study table: the per-DAY Welch comparison of the hash
    split (profile.welch_ab_test with the day as the group) — the
    launch-readout that shows whether an effect grows, decays, or
    never existed (A/A here: a flat panel of insignificant days is
    the expected picture). Same exact-moment machinery, day grain."""
    from hypermap_etl_spark.operators.profile import welch_ab_test

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    return welch_ab_test(ev, "value", "user_id", ["day"]).orderBy("day")


EVENT_STUDY_ORACLE = """
WITH base AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
),
agg AS (
  SELECT day, arm, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(v) AS s, SUM(v * v) AS ss
  FROM base GROUP BY 1, 2
),
j AS (
  SELECT a.day,
         a.n AS n_a, a.s AS s_a, a.ss AS ss_a,
         b.n AS n_b, b.s AS s_b, b.ss AS ss_b
  FROM agg a JOIN agg b ON a.day = b.day
  WHERE a.arm = 0 AND b.arm = 1 AND a.n > 1 AND b.n > 1
),
c AS (
  SELECT day, n_a, n_b,
    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
    GREATEST((CAST(ss_a AS DOUBLE)
              - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                / CAST(n_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) - 1.0), CAST(0 AS DOUBLE))
      / CAST(n_a AS DOUBLE) AS se2_a,
    GREATEST((CAST(ss_b AS DOUBLE)
              - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                / CAST(n_b AS DOUBLE))
             / (CAST(n_b AS DOUBLE) - 1.0), CAST(0 AS DOUBLE))
      / CAST(n_b AS DOUBLE) AS se2_b
  FROM j
),
f AS (
  SELECT day, n_a, n_b, m_a, m_b,
    CASE WHEN se2_a + se2_b > 0
         THEN (m_a - m_b) / sqrt(se2_a + se2_b) END AS t,
    CASE WHEN se2_a * se2_a / (CAST(n_a AS DOUBLE) - 1.0)
            + se2_b * se2_b / (CAST(n_b AS DOUBLE) - 1.0) > 0
         THEN (se2_a + se2_b) * (se2_a + se2_b)
              / (se2_a * se2_a / (CAST(n_a AS DOUBLE) - 1.0)
                 + se2_b * se2_b / (CAST(n_b AS DOUBLE) - 1.0)) END AS dof
  FROM c
)
SELECT day, n_a, n_b,
       ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
       ROUND(t, 6) AS t_stat, ROUND(dof, 6) AS welch_df,
       COALESCE(abs(t) > CAST('1.96' AS DOUBLE), FALSE) AS significant
FROM f ORDER BY day
"""




def supplier_nation_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per nation: the Herfindahl index of
    lineitem volume across a nation's suppliers — the supply-risk
    screen (HHI near 1: one supplier owns the nation's flow), with
    the effective-supplier count as its readable face. Broadcast dims
    onto the fact, one (nation, supplier) aggregate, then pure
    integers up to two divisions (the Simpson construction)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    per = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name", "s_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    d = "decimal(19,0)"
    g = per.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("__c").cast("long").alias("n_lines"),
        F.sum(F.col("__c").cast(d) * F.col("__c").cast(d))
        .cast("decimal(38,0)")
        .alias("__s2"),
    )
    nn = F.col("n_lines").cast(d)
    hhi = F.try_divide(
        F.col("__s2").cast("double"), (nn * nn).cast("decimal(38,0)").cast("double")
    )
    return g.select(
        "n_name",
        "n_suppliers",
        "n_lines",
        F.round(hhi, 6).alias("hhi"),
        F.round(F.try_divide(F.lit(1.0), hhi), 6).alias("effective_suppliers"),
    ).orderBy("n_name")


SUPPLIER_HHI_ORACLE = """
WITH per AS (
  SELECT n.n_name, s.s_suppkey, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
g AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
    CAST(SUM(c) AS BIGINT) AS n_lines,
    CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS s2
  FROM per GROUP BY 1
),
f AS (
  SELECT n_name, n_suppliers, n_lines,
    CASE WHEN CAST(CAST(n_lines AS DECIMAL(19,0))
                   * CAST(n_lines AS DECIMAL(19,0)) AS DOUBLE) <> 0
      THEN CAST(s2 AS DOUBLE)
           / CAST(CAST(n_lines AS DECIMAL(19,0))
                  * CAST(n_lines AS DECIMAL(19,0)) AS DOUBLE) END AS hhi
  FROM g
)
SELECT n_name, n_suppliers, n_lines,
  ROUND(hhi, 6) AS hhi,
  ROUND(CASE WHEN hhi <> 0 THEN 1.0 / hhi END, 6) AS effective_suppliers
FROM f ORDER BY n_name
"""




def parts_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity: for co-purchased
    part pairs, cooc / sqrt(n_a·n_b) — the classic recommender score
    ("customers who bought X also bought Y", normalized so popular
    parts don't win by default). Complements parts_link_prediction,
    which ranks NON-adjacent pairs; this scores the observed edges.
    Exact integer counts; one fixed-order double expression per pair;
    top-50 with total tie-breaks."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    deg = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    pairs = _copurchase_pairs(li, count_col="cooc").filter(
        F.col("cooc") >= 2
    )
    j = (
        pairs.join(
            deg.select(F.col("l_partkey").alias("p1"), F.col("n_orders").alias("n_a")),
            "p1",
        )
        .join(
            deg.select(F.col("l_partkey").alias("p2"), F.col("n_orders").alias("n_b")),
            "p2",
        )
    )
    score = F.col("cooc").cast("double") / (
        F.sqrt(F.col("n_a").cast("double")) * F.sqrt(F.col("n_b").cast("double"))
    )
    return (
        j.select(
            "p1",
            "p2",
            "cooc",
            "n_a",
            "n_b",
            F.round(score, 6).alias("cf_score"),
        )
        .orderBy(F.col("cf_score").desc(), F.col("p1").asc(), F.col("p2").asc())
        .limit(50)
    )


ITEM_CF_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM li GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
         CAST(COUNT(*) AS BIGINT) AS cooc
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT p.p1, p.p2, p.cooc,
  da.n_orders AS n_a, db.n_orders AS n_b,
  ROUND(CAST(p.cooc AS DOUBLE)
        / (sqrt(CAST(da.n_orders AS DOUBLE))
           * sqrt(CAST(db.n_orders AS DOUBLE))), 6) AS cf_score
FROM pairs p
JOIN deg da ON da.l_partkey = p.p1
JOIN deg db ON db.l_partkey = p.p2
ORDER BY cf_score DESC, p1 ASC, p2 ASC
LIMIT 50
"""




def orders_repeat_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cycle distribution per market segment: exact p50/p90
    days between a customer's consecutive orders — the repeat-rhythm
    number replenishment planning runs on. One customer-keyed lag
    window (total order: date then key), one broadcast segment
    enrich, then the one-pass grouped quantile table."""
    from hypermap_etl_spark.operators.scale import grouped_quantile_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    gaps = (
        o.withColumn("__prev", F.lag("o_orderdate").over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            "o_custkey",
            F.datediff(F.col("o_orderdate"), F.col("__prev"))
            .cast("double")
            .alias("gap_days"),
        )
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    seg = gaps.join(F.broadcast(cust), "o_custkey")
    qt = grouped_quantile_table(
        seg, "gap_days", ["c_mktsegment"], qs=(0.5, 0.9)
    )
    return qt.groupBy("c_mktsegment").agg(
        F.max("n_rows").cast("long").alias("n_gaps"),
        F.max(F.when(F.col("q") == 0.5, F.col("value"))).alias("p50_days"),
        F.max(F.when(F.col("q") == 0.9, F.col("value"))).alias("p90_days"),
    ).orderBy("c_mktsegment")


REPEAT_CYCLE_ORACLE = """
WITH g AS (
  SELECT o_custkey,
    CAST(datediff('day',
         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate ASC, o_orderkey ASC),
         o_orderdate) AS BIGINT) AS gap
  FROM orders
),
seg AS (
  SELECT c.c_mktsegment, CAST(g.gap AS DECIMAL(12,2)) AS v
  FROM g JOIN customer c ON g.o_custkey = c.c_custkey
  WHERE g.gap IS NOT NULL
),
pv AS (
  SELECT c_mktsegment, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM seg GROUP BY 1, 2
),
cum AS (
  SELECT c_mktsegment, v,
    SUM(c) OVER (PARTITION BY c_mktsegment ORDER BY v) AS cw,
    SUM(c) OVER (PARTITION BY c_mktsegment) AS tot
  FROM pv
)
SELECT c_mktsegment, CAST(MAX(tot) AS BIGINT) AS n_gaps,
  CAST(MIN(CASE WHEN cw * 2 >= tot * 1 THEN v END) AS DOUBLE) AS p50_days,
  CAST(MIN(CASE WHEN cw * 10 >= tot * 9 THEN v END) AS DOUBLE) AS p90_days
FROM cum GROUP BY 1 ORDER BY c_mktsegment
"""




def events_topk_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard churn: overlap of each day's top-20 users (by event
    count, total tie-break) with the PREVIOUS day's top-20 — rank
    stability is the cheap drift alarm for engagement surfaces (a
    leaderboard that reshuffles daily is noise; one that never moves
    is stale). Day ranks come from day-partitioned windows over the
    (day, user) aggregate; consecutive days meet in one equi-join on
    the user, keyed by a calendar day index (gap-safe)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    day = F.date_trunc("day", F.col("ts"))
    per = ev.groupBy(
        F.date_format(day, "yyyy-MM-dd").alias("day"),
        (F.unix_date(F.to_date(day))).cast("long").alias("didx"),
        "user_id",
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("day").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    topk = per.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= 20
    )
    cur = topk.select("day", "didx", "user_id")
    prev = topk.select(
        (F.col("didx") + 1).alias("didx"), F.col("user_id").alias("pu")
    )
    hits = (
        cur.join(prev, (cur["didx"] == prev["didx"]) & (cur["user_id"] == prev["pu"]))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    sizes = cur.groupBy("day", "didx").agg(
        F.count(F.lit(1)).cast("long").alias("k_today")
    )
    psizes = sizes.select(
        (F.col("didx") + 1).alias("didx"), F.col("k_today").alias("k_prev")
    )
    out = (
        sizes.join(psizes, "didx")
        .join(hits, "day", "left")
        .select(
            "day",
            "k_today",
            "k_prev",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double")
                / (
                    F.col("k_today") + F.col("k_prev")
                    - F.coalesce(F.col("n_overlap"), F.lit(0))
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return out.orderBy("day")


TOPK_STABILITY_ORACLE = """
WITH per AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
           AS didx,
         user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2, 3
),
topk AS (
  SELECT day, didx, user_id FROM (
    SELECT day, didx, user_id,
           row_number() OVER (PARTITION BY day
                              ORDER BY n DESC, user_id ASC) AS r
    FROM per
  ) WHERE r <= 20
),
hits AS (
  SELECT c.day, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM topk c JOIN topk p
    ON c.didx = p.didx + 1 AND c.user_id = p.user_id
  GROUP BY 1
),
sizes AS (
  SELECT day, didx, CAST(COUNT(*) AS BIGINT) AS k_today
  FROM topk GROUP BY 1, 2
),
j AS (
  SELECT s.day, s.k_today, ps.k_today AS k_prev,
         CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap
  FROM sizes s
  JOIN sizes ps ON s.didx = ps.didx + 1
  LEFT JOIN hits h ON h.day = s.day
)
SELECT day, k_today, k_prev, n_overlap,
  ROUND(CAST(n_overlap AS DOUBLE)
        / CAST(k_today + k_prev - n_overlap AS DOUBLE), 6) AS jaccard
FROM j ORDER BY day
"""




def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every active day classified as new (first
    ever), retained (also active the previous calendar day), or
    resurrected (returning after a gap) — plus churned = the previous
    day's actives who did not return today. The DAU decomposition
    growth teams actually steer by. One (user, day) distinct
    aggregate, one user-partitioned lag over it (calendar datediff,
    not row offsets), one day aggregate; churn comes from the same
    frame shifted by the day index."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    day = F.date_trunc("day", F.col("ts"))
    ud = ev.select(
        "user_id",
        F.date_format(day, "yyyy-MM-dd").alias("day"),
        F.unix_date(F.to_date(day)).cast("long").alias("didx"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("didx")
    lagged = ud.withColumn("__prev", F.lag("didx").over(w))
    cls = lagged.select(
        "day",
        "didx",
        F.when(F.col("__prev").isNull(), F.lit("new"))
        .when(F.col("didx") - F.col("__prev") == 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("kind"),
    )
    per = cls.groupBy("day", "didx").agg(
        F.count(F.lit(1)).cast("long").alias("dau"),
        F.sum(F.when(F.col("kind") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    # churned on day d = actives(d-1) - retained(d); join by day index
    prev = per.select(
        (F.col("didx") + 1).alias("didx"), F.col("dau").alias("__prev_dau")
    )
    out = per.join(prev, "didx", "left").select(
        "day",
        "dau",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(
            F.col("__prev_dau") - F.col("n_retained"), F.lit(0)
        ).cast("long").alias("n_churned"),
    )
    return out.orderBy("day")


GROWTH_ACCOUNTING_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id,
    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
    CAST(datediff('day', DATE '1970-01-01',
                  CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS didx
  FROM events WHERE user_id IS NOT NULL
),
lg AS (
  SELECT day, didx,
    lag(didx) OVER (PARTITION BY user_id ORDER BY didx) AS prev
  FROM ud
),
cls AS (
  SELECT day, didx,
    CASE WHEN prev IS NULL THEN 'new'
         WHEN didx - prev = 1 THEN 'retained'
         ELSE 'resurrected' END AS kind
  FROM lg
),
per AS (
  SELECT day, didx, CAST(COUNT(*) AS BIGINT) AS dau,
    CAST(COALESCE(SUM(CASE WHEN kind = 'new' THEN 1 END), 0)
         AS BIGINT) AS n_new,
    CAST(COALESCE(SUM(CASE WHEN kind = 'retained' THEN 1 END), 0)
         AS BIGINT) AS n_retained,
    CAST(COALESCE(SUM(CASE WHEN kind = 'resurrected' THEN 1 END), 0)
         AS BIGINT) AS n_resurrected
  FROM cls GROUP BY 1, 2
)
SELECT p.day, p.dau, p.n_new, p.n_retained, p.n_resurrected,
  CAST(COALESCE(q.dau - p.n_retained, 0) AS BIGINT) AS n_churned
FROM per p LEFT JOIN per q ON p.didx = q.didx + 1
ORDER BY p.day
"""




def events_daily_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p50/p90 value bands (scale.grouped_quantile_table grouped
    by calendar day): the percentile-trend dashboard query — exact at
    every point, so a moving p90 line never wobbles from sketch error.
    One corpus aggregate to the (day, value) grid, knots in one
    pass."""
    from hypermap_etl_spark.operators.scale import grouped_quantile_table

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "value",
    )
    qt = grouped_quantile_table(ev, "value", ["day"], qs=(0.5, 0.9))
    return qt.groupBy("day").agg(
        F.max("n_rows").cast("long").alias("n"),
        F.max(F.when(F.col("q") == 0.5, F.col("value"))).alias("p50"),
        F.max(F.when(F.col("q") == 0.9, F.col("value"))).alias("p90"),
    ).orderBy("day")


DAILY_QUANTILES_ORACLE = """
WITH base AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE value IS NOT NULL
),
pv AS (
  SELECT day, v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
),
cum AS (
  SELECT day, v,
    SUM(c) OVER (PARTITION BY day ORDER BY v) AS cw,
    SUM(c) OVER (PARTITION BY day) AS tot
  FROM pv
)
SELECT day, CAST(MAX(tot) AS BIGINT) AS n,
  CAST(MIN(CASE WHEN cw * 2 >= tot * 1 THEN v END) AS DOUBLE) AS p50,
  CAST(MIN(CASE WHEN cw * 10 >= tot * 9 THEN v END) AS DOUBLE) AS p90
FROM cum GROUP BY 1 ORDER BY day
"""




def events_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift trend: the Theil-Sen slope of each event type's
    DAILY SHARE (parts-per-million, so the series is integer and the
    slope is volume-deconfounded) — a type whose raw count trends up
    with overall traffic is boring; one whose SHARE trends is a
    product change. Shares quantize to ppm with one rounded double
    division (engine-identical); the robust slope machinery then runs
    on the calendar-bounded integer series."""
    from hypermap_etl_spark.operators.profile import theil_sen_trend

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = daily.groupBy("day").agg(F.sum("c").cast("long").alias("t"))
    shares = daily.join(F.broadcast(tot), "day").select(
        "event_type",
        "day",
        F.round(
            F.lit(1000000.0) * F.col("c").cast("double")
            / F.col("t").cast("double"),
            0,
        )
        .cast("long")
        .alias("ppm"),
    )
    return theil_sen_trend(
        shares, "day", ["event_type"], count_col="ppm"
    ).orderBy("event_type")


MIX_SHIFT_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
tot AS (SELECT day, CAST(SUM(c) AS BIGINT) AS t FROM daily GROUP BY 1),
shares AS (
  SELECT d.event_type, d.day,
    CAST(ROUND(1000000.0 * CAST(d.c AS DOUBLE) / CAST(t.t AS DOUBLE), 0)
         AS BIGINT) AS ppm
  FROM daily d JOIN tot t USING (day)
),
idx AS (
  SELECT event_type, ppm AS c,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM shares
),
slopes AS (
  SELECT a.event_type AS event_type,
         CAST(b.c - a.c AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS s
  FROM idx a JOIN idx b
    ON a.event_type = b.event_type AND a.i < b.i
)
SELECT event_type, ROUND(MEDIAN(s), 6) AS ts_slope,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM slopes GROUP BY 1 ORDER BY 1
"""



STAR_QUERIES: dict[str, tuple] = {
    "q7_volume_shipping": (q7_volume_shipping, Q7_VOLUME_ORACLE),
    "q4_order_priority": (q4_order_priority, Q4_ORACLE),
    "q8_market_share": (q8_market_share, Q8_ORACLE),
    "q9_product_profit": (q9_product_profit, Q9_ORACLE),
    "q10_returned_items": (q10_returned_items, Q10_ORACLE),
    "q11_important_stock": (q11_important_stock, Q11_ORACLE),
    "q12_priority_shipping": (q12_priority_shipping, Q12_ORACLE),
    "q15_top_supplier": (q15_top_supplier, Q15_ORACLE),
    "q16_supplier_variety": (q16_supplier_variety, Q16_ORACLE),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_ORACLE),
    "q20_bulk_suppliers": (q20_bulk_suppliers, Q20_ORACLE),
    "customer_order_distribution": (customer_order_distribution, Q13_ORACLE),
    "part_min_price_line": (part_min_price_line, Q2_ORACLE),
    "large_order_customers": (large_order_customers, Q18_ORACLE),
    "rich_inactive_customers": (rich_inactive_customers, Q22_ORACLE),
    "exclusive_return_suppliers": (exclusive_return_suppliers, Q21_ORACLE),
    "nation_pair_volume": (nation_pair_volume, Q7_ORACLE),
    "small_quantity_revenue": (small_quantity_revenue, Q17_ORACLE),
    "customer_balance_quartiles": (customer_balance_quartiles, NTILE_ORACLE),
    "supplier_nation_balance": (supplier_nation_balance, SUPPLIER_ORACLE),
    "q6_revenue_delta": (q6_revenue_delta, Q6_ORACLE),
    "q14_promo_share": (q14_promo_share, Q14_ORACLE),
    "orders_rollup": (orders_rollup, ROLLUP_ORACLE),
    "events_json_extract": (events_json_extract, JSON_ORACLE),
    "events_tumbling_window": (events_tumbling_window, TUMBLING_ORACLE),
    "events_asof_join": (events_asof_join, ASOF_ORACLE),
    "events_interval_counts": (events_interval_counts, INTERVAL_ORACLE),
    "events_salted_counts": (events_salted_counts, SALTED_ORACLE),
    "events_kmv_users": (events_kmv_users, KMV_ORACLE),
    "events_heavy_hitters": (events_heavy_hitters, HEAVY_HITTERS_ORACLE),
    "events_topk_store": (events_topk_store, TOPK_STORE_ORACLE),
    "events_quantile_store": (events_quantile_store, QUANTILE_STORE_ORACLE),
    "events_salted_join": (events_salted_join, SALTED_JOIN_ORACLE),
    "events_pseudonymized": (events_pseudonymized, PSEUDONYMIZED_ORACLE),
    "events_value_psi": (events_value_psi, PSI_ORACLE),
    "orders_constraints": (orders_constraints, CONSTRAINTS_ORACLE),
    "events_grouping_sets": (events_grouping_sets, GROUPING_SETS_ORACLE),
    "events_approx_percentiles": (events_approx_percentiles, APPROX_PCTL_ORACLE),
    "customer_k_anonymity": (customer_k_anonymity, K_ANON_ORACLE),
    "events_resample_ffill": (events_resample_ffill, RESAMPLE_ORACLE),
    "customer_scd2": (customer_scd2, SCD2_ORACLE),
    "events_bloom_probe": (events_bloom_probe, BLOOM_ORACLE),
    "events_cms_counts": (events_cms_counts, CMS_ORACLE),
    "events_hll_users": (events_hll_users, HLL_ORACLE),
    "events_type_pagerank": (events_type_pagerank, PAGERANK_ORACLE),
    "lineitem_profile": (lineitem_profile, PROFILE_ORACLE),
    "events_lead_lag_ntile": (events_lead_lag_ntile, LEAD_LAG_NTILE_ORACLE),
    "customer_fuzzy_pairs": (customer_fuzzy_pairs, FUZZY_PAIRS_ORACLE),
    "parts_phonetic_blocks": (parts_phonetic_blocks, PHONETIC_BLOCKS_ORACLE),
    "customer_sorted_neighborhood": (customer_sorted_neighborhood,
                                     SORTED_NEIGHBORHOOD_ORACLE),
    "events_sampled_quantiles": (events_sampled_quantiles, SAMPLED_QUANTILES_ORACLE),
    "events_moving_avg": (events_moving_avg, MOVING_AVG_ORACLE),
    "orders_cube": (orders_cube, CUBE_ORACLE),
    "q1_pricing_summary": (q1_pricing_summary, Q1_ORACLE),
    "q3_shipping_priority": (q3_shipping_priority, Q3_ORACLE),
    "q5_region_revenue": (q5_region_revenue, Q5_ORACLE),
    "top3_customers_per_segment": (top3_customers_per_segment, TOP3_ORACLE),
    "events_running_total": (events_running_total, RUNNING_ORACLE),
    "events_sessions": (events_sessions, SESSIONS_ORACLE),
    "events_status_counts": (events_status_counts, STATUS_ORACLE),
    "events_last_event": (events_last_event, LAST_ORACLE),
    "events_page2": (events_page2, PAGE2_ORACLE),
    "events_page_deep": (events_page_deep, PAGE_DEEP_ORACLE),
    "events_user_daily": (events_user_daily, DAILY_ORACLE),
    "events_retention_cohorts": (events_retention_cohorts, RETENTION_ORACLE),
    "events_funnel": (events_funnel, FUNNEL_ORACLE),
    "events_type_pivot": (events_type_pivot, PIVOT_ORACLE),
    "events_type_unpivot": (events_type_unpivot, UNPIVOT_ORACLE),
    "events_value_outliers": (events_value_outliers, OUTLIERS_ORACLE),
    "parts_size_rank_ties": (parts_size_rank_ties, RANK_TIES_ORACLE),
    "customer_set_ops": (customer_set_ops, SET_OPS_ORACLE),
    "events_type_bigrams": (events_type_bigrams, BIGRAMS_ORACLE),
    "events_user_trend": (events_user_trend, TREND_ORACLE),
    "parts_price_percentiles": (parts_price_percentiles, PRICE_PERCENTILES_ORACLE),
    "orders_median_price": (orders_median_price, MEDIAN_ORACLE),
    "lineitem_price_histogram": (lineitem_price_histogram, HISTOGRAM_ORACLE),
    "customer_nation_stats": (customer_nation_stats, CUSTNATION_ORACLE),
    "orders_with_big_lineitem": (orders_with_big_lineitem, SEMI_ORACLE),
    "nations_without_customers": (nations_without_customers, ANTI_ORACLE),
    "top_orders_denorm": (top_orders_denorm, DENORM_ORACLE),
    "parts_size_filter": (parts_size_filter, PARTS_ORACLE),
    "activity_union": (activity_union, UNION_ORACLE),
    "events_key_skew": (events_key_skew, KEY_SKEW_ORACLE),
    "events_join_estimate": (events_join_estimate, JOIN_ESTIMATE_ORACLE),
    "events_cusum_daily": (events_cusum_daily, CUSUM_ORACLE),
    "events_drift_verdict": (events_drift_verdict, DRIFT_VERDICT_ORACLE),
    "events_drift_ewma": (events_drift_ewma, DRIFT_EWMA_ORACLE),
    "events_mannwhitney": (events_mannwhitney, MANNWHITNEY_ORACLE),
    "events_theilsen_trend": (events_theilsen_trend, THEILSEN_ORACLE),
    "events_changepoint": (events_changepoint, CHANGEPOINT_ORACLE),
    "orders_seasonal_naive": (orders_seasonal_naive, SEASONAL_NAIVE_ORACLE),
    "events_heavy_coverage": (events_heavy_coverage, HEAVY_COVERAGE_ORACLE),
    "events_mad_outliers": (events_mad_outliers, MAD_ORACLE),
    "events_fd_histogram": (events_fd_histogram, FD_HISTOGRAM_ORACLE),
    "events_winsorized": (events_winsorized, WINSORIZE_ORACLE),
    "events_benford": (events_benford, _benford_oracle()),
    "events_wau": (events_wau, WAU_ORACLE),
    "events_stickiness": (events_stickiness, STICKINESS_ORACLE),
    "events_fano": (events_fano, FANO_ORACLE),
    "events_basket_rules": (events_basket_rules, BASKET_RULES_ORACLE),
    "events_sequence_order": (events_sequence_order, SEQUENCE_ORDER_ORACLE),
    "events_hour_profile": (events_hour_profile, HOUR_PROFILE_ORACLE),
    "events_did": (events_did, DID_ORACLE),
    "events_cuped": (events_cuped, CUPED_ORACLE),
    "events_srm": (events_srm, SRM_ORACLE),
    "events_survival": (events_survival, SURVIVAL_ORACLE),
    "events_logrank": (events_logrank, LOGRANK_ORACLE),
    "events_markov_entropy": (events_markov_entropy, MARKOV_ORACLE),
    "events_interarrival": (events_interarrival, INTERARRIVAL_ORACLE),
    "events_autocorr": (events_autocorr, AUTOCORR_ORACLE),
    "events_user_gini": (events_user_gini, USER_GINI_ORACLE),
    "orders_pareto": (orders_pareto, PARETO_ORACLE),
    "events_kmv_overlap": (events_kmv_overlap, KMV_OVERLAP_ORACLE),
    "events_bootstrap_ci": (events_bootstrap_ci, BOOTSTRAP_ORACLE),
    "events_attribution": (events_attribution, ATTRIBUTION_ORACLE),
    "events_ewma_daily": (events_ewma_daily, EWMA_ORACLE),
    "events_type_value_mi": (events_type_value_mi, MI_ORACLE),
    "events_chi2_independence": (events_chi2_independence, CHI2_ORACLE),
    "events_theils_u": (events_theils_u, THEILS_U_ORACLE),
    "lineitem_kendall_tau": (lineitem_kendall_tau, KENDALL_ORACLE),
    "events_top_paths": (events_top_paths, TOP_PATHS_ORACLE),
    "lineitem_spearman": (lineitem_spearman, SPEARMAN_ORACLE),
    "events_fd_profile": (events_fd_profile, FD_PROFILE_ORACLE),
    "parts_copurchase_triangles": (parts_copurchase_triangles, TRIANGLES_ORACLE),
    "parts_copurchase_kcore": (parts_copurchase_kcore, KCORE_ORACLE),
    "parts_seed_distance": (parts_seed_distance, SEED_DISTANCE_ORACLE),
    "parts_copurchase_lpa": (parts_copurchase_lpa, LPA_ORACLE),
    "events_session_windows": (events_session_windows, SESSION_WINDOW_ORACLE),
    "lineitem_weighted_median": (lineitem_weighted_median, WEIGHTED_MEDIAN_ORACLE),
    "lineitem_weighted_p90": (lineitem_weighted_p90, WEIGHTED_P90_ORACLE),
    "customer_rfm": (customer_rfm, RFM_ORACLE),
    "events_ab_welch": (events_ab_welch, WELCH_ORACLE),
    "events_ab_welch_robust": (events_ab_welch_robust, WELCH_ROBUST_ORACLE),
    "events_qte": (events_qte, QTE_ORACLE),
    "events_poststrat": (events_poststrat, POSTSTRAT_ORACLE),
    "customer_linkage": (customer_linkage, LINKAGE_ORACLE),
    "customer_linkage2": (customer_linkage2, LINKAGE2_ORACLE),
    "customer_golden_record": (customer_golden_record, GOLDEN_RECORD_ORACLE),
    "lineitem_pref_matrix": (lineitem_pref_matrix, PREF_MATRIX_ORACLE),
    "events_conformal": (events_conformal, CONFORMAL_ORACLE),
    "customer_blocking_metrics": (customer_blocking_metrics, BLOCKING_METRICS_ORACLE),
    "events_dp_counts": (events_dp_counts, DP_COUNTS_ORACLE),
    "events_dow_seasonality": (events_dow_seasonality, DOW_SEASONALITY_ORACLE),
    "events_bot_screen": (events_bot_screen, BOT_SCREEN_ORACLE),
    "events_ks_split": (events_ks_split, KS_SPLIT_ORACLE),
    "orders_mase": (orders_mase, MASE_ORACLE),
    "customer_l_diversity": (customer_l_diversity, L_DIVERSITY_ORACLE),
    "customer_t_closeness": (customer_t_closeness, T_CLOSENESS_ORACLE),
    "events_permutation_test": (events_permutation_test, PERMUTATION_ORACLE),
    "events_fdr_bh": (events_fdr_bh, FDR_BH_ORACLE),
    "events_delta_ratio": (events_delta_ratio, DELTA_RATIO_ORACLE),
    "events_ab_power": (events_ab_power, POWER_MDE_ORACLE),
    "orders_holt_forecast": (orders_holt_forecast, HOLT_ORACLE),
    "parts_community_modularity": (parts_community_modularity, MODULARITY_ORACLE),
    "events_funnel_wilson": (events_funnel_wilson, FUNNEL_WILSON_ORACLE),
    "events_eb_shrinkage": (events_eb_shrinkage, EB_SHRINK_ORACLE),
    "events_weighted_ess": (events_weighted_ess, WEIGHTED_ESS_ORACLE),
    "events_cohort_ltv": (events_cohort_ltv, COHORT_LTV_ORACLE),
    "events_type_stationary": (events_type_stationary, EVENTS_STATIONARY_ORACLE),
    "events_sequential_welch": (events_sequential_welch, SEQUENTIAL_WELCH_ORACLE),
    "parts_link_prediction": (parts_link_prediction, LINK_PREDICTION_ORACLE),
    "events_ab_layers": (events_ab_layers, AB_LAYERS_ORACLE),
    "events_srm_segments": (events_srm_segments, SRM_SEGMENTS_ORACLE),
    "events_user_powerlaw": (events_user_powerlaw, POWERLAW_ORACLE),
    "events_uplift_deciles": (events_uplift_deciles, UPLIFT_ORACLE),
    "events_funnel_latency": (events_funnel_latency, FUNNEL_LATENCY_ORACLE),
    "lineitem_price_deciles": (lineitem_price_deciles, PRICE_DECILES_ORACLE),
    "events_event_study": (events_event_study, EVENT_STUDY_ORACLE),
    "supplier_nation_hhi": (supplier_nation_hhi, SUPPLIER_HHI_ORACLE),
    "parts_item_cf": (parts_item_cf, ITEM_CF_ORACLE),
    "orders_repeat_cycle": (orders_repeat_cycle, REPEAT_CYCLE_ORACLE),
    "events_topk_stability": (events_topk_stability, TOPK_STABILITY_ORACLE),
    "events_growth_accounting": (events_growth_accounting, GROWTH_ACCOUNTING_ORACLE),
    "events_daily_quantiles": (events_daily_quantiles, DAILY_QUANTILES_ORACLE),
    "events_mix_shift": (events_mix_shift, MIX_SHIFT_ORACLE),
}
