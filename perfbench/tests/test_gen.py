"""The generator: deterministic per seed, planted truth as declared, and
its ABI encoder equal to the program's build_raw_logs."""

import os

import duckdb
import pyarrow.parquet as pq
import pytest

import gen
from hypermap_etl_spark.plans.hm_derive import hm_events_sql

RAW_COLS = ["address", "blockNumber", "blockHash", "transactionHash",
            "transactionIndex", "logIndex", "topics", "data"]


def _rows(path):
    return pq.read_table(path).to_pylist()


def test_same_seed_same_inputs(tmp_path):
    # enough events for two whole CHUNK_BLOCKS spans after the base
    a = gen.hypermap_inputs(3, 14_000, str(tmp_path / "a"), n_chunks=2)
    b = gen.hypermap_inputs(3, 14_000, str(tmp_path / "b"), n_chunks=2)
    c = gen.hypermap_inputs(4, 14_000, str(tmp_path / "c"), n_chunks=2)
    for name in ["base.parquet", "blocks.parquet", "star_events.parquet",
                 "chunks/chunk-000.parquet", "chunks/chunk-001.parquet"]:
        assert _rows(os.path.join(a["dir"], name)) == _rows(os.path.join(b["dir"], name))
    assert _rows(os.path.join(a["dir"], "base.parquet")) != _rows(os.path.join(c["dir"], "base.parquet"))
    ca = gen.corpus_inputs(3, 200, str(tmp_path / "ca"))
    cb = gen.corpus_inputs(3, 200, str(tmp_path / "cb"))
    assert _rows(ca["path"]) == _rows(cb["path"]) and ca["clusters"] == cb["clusters"]


def test_planted_truth(tmp_path):
    t = gen.hypermap_inputs(5, 5000, str(tmp_path))
    assert t["golden_hist"] == gen.GOLDEN
    raw = pq.read_table(os.path.join(t["dir"], "raw")).to_pylist()
    assert len(raw) == t["raw_rows"]
    foreign = sum(r["address"] == gen.FOREIGN for r in raw)
    unknown = sum(r["topics"] == [gen.UNKNOWN_TOPIC0] for r in raw)
    dups = len(raw) - len({(r["transactionHash"], r["logIndex"], r["address"]) for r in raw})
    assert foreign > 0 and unknown > 0 and dups > 0
    assert t["target_rows"] == len(raw) - foreign
    assert t["decoded_rows"] == t["n_events"] + dups
    assert 0 < t["null_ts_events"] < t["n_events"]
    # the golden window holds nothing but the 14 golden events
    lo = t["golden_lo"]
    window = [r for r in raw if lo <= r["blockNumber"] < lo + gen.GOLDEN_BLOCKS]
    assert len({(r["transactionHash"], r["logIndex"]) for r in window
                if r["address"] == gen.CONTRACT and r["topics"] != [gen.UNKNOWN_TOPIC0]}) == 14


def test_stream_layout_is_block_aligned(tmp_path):
    from hypermap_etl_spark.streaming.scan import source_layout_block_aligned
    from workloads import land

    t = gen.hypermap_inputs(6, 14_000, str(tmp_path / "in"), n_chunks=2)
    src = str(tmp_path / "src")
    land([os.path.join(t["dir"], "base.parquet")] + t["files"], src, 1_000_000_000)
    assert source_layout_block_aligned(src)
    assert sum(t["chunk_events"]) > 0


def test_corpus_truth(tmp_path):
    t = gen.corpus_inputs(8, 400, str(tmp_path))
    docs = _rows(t["path"])
    assert len(docs) == t["docs_in"]
    assert len(t["bad_ids"]) == t["bad"]
    texts = {r["doc_id"]: r["text"] for r in docs}
    for members in t["clusters"]:
        base = texts[members[0]].split()
        for m in members[1:]:
            other = texts[m].split()
            assert len(other) == len(base) and sum(a != b for a, b in zip(base, other)) <= 1


def test_hm_derivation_is_pinned():
    assert gen.hm_sql_digest() == gen.HM_EVENTS_SQL_SHA256


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from hypermap_etl_spark.session import get_spark

    s = get_spark("perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


def test_encoder_matches_build_raw_logs(spark):
    """The benchmark's own encoder and the program's agree exactly."""
    from hypermap_etl_spark.sources.raw_logs import build_raw_logs

    star, _ = gen.star_events(7, 3000)
    con = duckdb.connect()
    con.register("events", star)
    con.execute(f"CREATE TABLE hm AS {hm_events_sql('events')}")
    ours = {
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in con.execute(f"SELECT {gen.RAW_COLS} FROM ({gen.encode_sql('hm')})").fetchall()
    }
    hm = con.execute("SELECT * FROM hm").fetchdf()
    hm = hm.rename(columns={"from_addr": "from", "to_addr": "to"})
    theirs = {
        tuple(tuple(r[c]) if c == "topics" else r[c] for c in RAW_COLS)
        for r in build_raw_logs(spark.createDataFrame(hm)).collect()
    }
    assert len(ours) == star.num_rows
    assert ours == theirs
