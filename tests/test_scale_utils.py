"""Scale-posture utilities: partitioned tables prune, salted aggregation
matches plain aggregation, duplicate delivery is a no-op, uint256/
namehash UDFs round-trip.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from hypermap_etl_spark.functions.hexutils import register_udfs
from hypermap_etl_spark.functions.keccak import keccak256_hex
from hypermap_etl_spark.operators.materialize import materialize_entries
from hypermap_etl_spark.operators.merge import (
    merge_into_parquet,
    with_block_bucket,
)
from hypermap_etl_spark.util import salted_agg
from tests.helpers import ev, events_df, h
from tests.test_materialize import _fixture_rows


def test_keccak256_matches_public_vectors():
    """Pin keccak to the published Ethereum vectors, breaking the
    encode→decode circularity: a silent keccak regression would
    otherwise keep every roundtrip test green while diverging from
    real-chain topic0 values."""
    from hypermap_etl_spark.functions.keccak import event_topic0, keccak256_hex

    # Keccak-256 of empty input (NOT sha3-256's a7ffc6f8...)
    assert (
        keccak256_hex(b"")
        == "0xc5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
    )
    # the canonical ERC-20 Transfer topic0
    assert (
        event_topic0("Transfer(address,address,uint256)")
        == "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
    )
    # 'abc' — published Keccak-256 test vector
    assert (
        keccak256_hex(b"abc")
        == "0x4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45"
    )


def test_partitioned_table_prunes(spark):
    path = tempfile.mkdtemp() + "/events"
    rows = [
        ev(eventType="Zero", blockNumber=b, logIndex=0, zeroTba=h(b))
        for b in (5, 150_000, 250_000, 305_000)
    ]
    df = with_block_bucket(events_df(spark, rows))
    merge_into_parquet(spark, path, df, ["event_id"], partition_col="block_bucket")

    tbl = spark.read.parquet(path)
    q = tbl.filter(F.col("block_bucket") == 2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(block_bucket" in plan
    assert q.count() == 1

    # merging one new row only touches its partition's data correctness-wise
    new = with_block_bucket(
        events_df(spark, [ev(eventType="Zero", blockNumber=260_000, logIndex=1, zeroTba=h(1))])
    )
    res = merge_into_parquet(spark, path, new, ["event_id"], partition_col="block_bucket")
    assert res == {"upsertedCount": 1, "modifiedCount": 0}
    assert spark.read.parquet(path).filter(F.col("block_bucket") == 2).count() == 2


def test_salted_agg_matches_plain(spark):
    # skewed: one key holds 90% of rows
    rows = [("hot" if i % 10 else f"k{i}", float(i % 7)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, v double")
    plain = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in salted_agg(
            df,
            ["k"],
            {
                "n": (F.lit(1), F.count, F.sum),
                "total": (F.col("v"), F.sum, F.sum),
                "mx": (F.col("v"), F.max, F.max),
            },
            salt=8,
        ).collect()
    }
    assert salted == plain


def test_duplicate_injection_is_noop(spark):
    """SURVEY §5.2#4: re-delivering any subset of events must not change
    the materialized state (idempotency T3 + pure fold)."""
    rows = _fixture_rows()
    base = {r["namehash"]: r for r in materialize_entries(events_df(spark, rows)).collect()}
    path = tempfile.mkdtemp() + "/ev"
    for batch in (rows, rows[::3]):  # then re-deliver every third event
        merge_into_parquet(
            spark, path, with_block_bucket(events_df(spark, batch)),
            ["event_id"], "block_bucket",
        )
    redone = {
        r["namehash"]: r
        for r in materialize_entries(spark.read.parquet(path)).collect()
    }
    assert redone == base


def test_uint256_and_namehash_udfs(spark):
    register_udfs(spark)
    row = spark.sql(
        """SELECT
             uint256_hex_to_dec('0x00000000000000000000000000000000000000000000000000000000000000ff') AS dec,
             uint256_dec_to_hex('255') AS hexv,
             uint256_hex_to_dec(uint256_dec_to_hex(
               '115792089237316195423570985008687907853269984665640564039457584007913129639935')) AS roundtrip,
             namehash('0x') AS empty_hash
           """
    ).collect()[0]
    assert row["dec"] == "255"
    assert row["hexv"] == "0x" + "0" * 62 + "ff"
    # max uint256 survives the round trip (LongType/Decimal could not)
    assert row["roundtrip"] == "115792089237316195423570985008687907853269984665640564039457584007913129639935"
    assert row["empty_hash"] == keccak256_hex(b"")


def test_plan_cache_hit_and_session_isolation(spark):
    """plan_cache returns the same DataFrame object for repeated calls
    with the same (session, sf_dir), rebuilds per sf_dir, and never
    serves an entry built for a different session object."""
    from hypermap_etl_spark.util import clear_plan_cache, plan_cache

    clear_plan_cache()
    calls = []

    @plan_cache
    def q(s, sf_dir):
        calls.append(sf_dir)
        return s.range(3)

    a = q(spark, "/x")
    assert q(spark, "/x") is a
    q(spark, "/y")
    assert calls == ["/x", "/y"]

    class FakeSession:  # same id() impossible, but prove identity check
        pass

    fake = FakeSession()
    from hypermap_etl_spark import util

    # poison the cache entry with a frame "built" by another session
    key = (q.__module__, q.__qualname__, id(spark), "/x")
    util._PLAN_CACHE[key] = (fake, "stale")
    assert q(spark, "/x") is not "stale"
    assert clear_plan_cache() >= 1


def test_persist_scope_releases_only_inner_frames(spark):
    """persist_scope frees exactly the frames tracked inside it; an
    outer tracked checkpoint stays alive and readable (the streaming
    micro-batch must not kill a co-tenant computation's state)."""
    from hypermap_etl_spark import util

    outer = util.tracked_local_checkpoint(
        spark.range(10).selectExpr("id", "id * 2 AS v")
    )
    n_p, n_c = len(util._TRACKED_PERSISTS), len(util._TRACKED_CHECKPOINTS)
    with util.persist_scope():
        inner_p = util.tracked_persist(spark.range(5).selectExpr("id"))
        inner_c = util.tracked_local_checkpoint(spark.range(3).selectExpr("id"))
        assert inner_p.count() == 5 and inner_c.count() == 3
    # registries restored to the pre-scope state, outer untouched
    assert len(util._TRACKED_PERSISTS) == n_p
    assert len(util._TRACKED_CHECKPOINTS) == n_c
    assert util._TRACKED_CHECKPOINTS[-1] is outer
    assert outer.count() == 10  # still readable (blocks not freed)
    assert inner_p.storageLevel.useMemory is False  # unpersisted
    util.release_persisted()


# --------------------------------------------------------- salted_join ----

def test_salted_join_matches_plain_join(spark):
    import pytest
    from hypermap_etl_spark.util import salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 3 else f"k{i}") for i in range(300)], "i long, k string"
    )
    dim = spark.createDataFrame(
        [("hot", 1)] + [(f"k{i}", i) for i in range(300)], "k string, v int"
    )
    for how in ("inner", "left"):
        plain = sorted(tuple(r) for r in big.join(dim, ["k"], how).collect())
        salted = sorted(
            tuple(r) for r in salted_join(big, dim, ["k"], salt=8, how=how).collect()
        )
        assert salted == plain, how
    # salt=1 degenerates to the plain join; bad args rejected
    assert sorted(
        tuple(r) for r in salted_join(big, dim, ["k"], salt=1).collect()
    ) == sorted(tuple(r) for r in big.join(dim, ["k"]).collect())
    with pytest.raises(ValueError):
        salted_join(big, dim, ["k"], how="full")
    with pytest.raises(ValueError):
        salted_join(big, dim, ["k"], salt=0)


def test_salted_join_left_keeps_unmatched_once(spark):
    from hypermap_etl_spark.util import salted_join

    big = spark.createDataFrame([(1, "a"), (2, "zzz")], "i long, k string")
    dim = spark.createDataFrame([("a", 10)], "k string, v int")
    out = sorted(
        tuple(r) for r in salted_join(big, dim, ["k"], salt=16, how="left").collect()
    )
    assert out == [("a", 1, 10), ("zzz", 2, None)]  # NOT 16 copies of the miss


def test_salted_join_shuffle_carries_the_salt(spark):
    from hypermap_etl_spark.util import salted_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.createDataFrame([(i, "hot") for i in range(50)], "i long, k string")
        dim = spark.createDataFrame([("hot", 1)], "k string, v int")
        plan = (
            salted_join(big, dim, ["k"], salt=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the join exchange must hash on (k, __salt): the hot key fans
        # out over salt reducers instead of one
        assert "__salt" in plan
        import re
        assert re.search(r"hashpartitioning\(k#\d+, __salt#\d+", plan), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_never_shadows_user_salt_column(spark):
    from hypermap_etl_spark.util import salted_join

    big = spark.createDataFrame([(1, "a", 9)], "i long, k string, __salt int")
    dim = spark.createDataFrame([("a", 10)], "k string, v int")
    out = salted_join(big, dim, ["k"], salt=4).collect()
    assert out[0]["__salt"] == 9  # user column intact
