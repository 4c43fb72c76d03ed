"""Every output check passes on the program's real output and fails on a
deliberately corrupted copy of it."""

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen
from spans import Tracer
from workloads import SERVE_KINDS, backfill_pass, oracle_keys, serve_call


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from hypermap_etl_spark.session import get_spark

    yield get_spark("perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"})


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("backfill")
    truth = gen.hypermap_inputs(11, 3000, str(d / "in"))
    events, entries = str(d / "out" / "events"), str(d / "out" / "entries")
    backfill_pass(spark, Tracer(False), os.path.join(truth["dir"], "raw"),
                  os.path.join(truth["dir"], "blocks.parquet"), events, entries, 0)
    con = checks.connect(truth["dir"])
    yield truth, events, entries, con
    con.close()


def _rewrite(src: str, dst: str, sql: str) -> str:
    """Copy a table through a DuckDB query over it (relation ``t``)."""
    os.makedirs(dst)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM {checks._table(src)}")
    con.execute(f"COPY ({sql}) TO '{dst}/part-0.parquet' (FORMAT parquet)")
    return dst


def test_entries_check(built, tmp_path):
    truth, _, entries, con = built
    assert checks.entries_mismatches(con, entries) == 0
    relabel = _rewrite(entries, str(tmp_path / "relabel"),
                       "SELECT * REPLACE (CASE WHEN namehash = (SELECT min(namehash) FROM t)"
                       " THEN label || 'x' ELSE label END AS label) FROM t")
    assert checks.entries_mismatches(con, relabel) == 2
    dropped = _rewrite(entries, str(tmp_path / "dropped"),
                       "SELECT * FROM t WHERE namehash <> (SELECT max(namehash) FROM t)")
    assert checks.entries_mismatches(con, dropped) == 1


def test_events_check(built, tmp_path):
    truth, events, _, con = built
    assert checks.events_mismatches(con, events, truth, True) == 0
    lo = truth["golden_lo"]
    golden = _rewrite(events, str(tmp_path / "golden"),
                      f"SELECT * FROM t WHERE NOT (blockNumber >= {lo} AND eventType = 'Mint'"
                      f" AND blockNumber < {lo + gen.GOLDEN_BLOCKS})")
    assert checks.events_mismatches(con, golden, truth, True) >= 3
    no_ts = _rewrite(events, str(tmp_path / "no_ts"),
                     "SELECT * REPLACE (CASE WHEN event_id = (SELECT min(event_id) FROM t"
                     " WHERE timestamp IS NOT NULL) THEN NULL ELSE timestamp END AS timestamp) FROM t")
    assert checks.events_mismatches(con, no_ts, truth, True) == 1
    assert checks.events_mismatches(con, no_ts, truth, False) == 0


def test_serve_checks(spark, built):
    truth, events_path, entries_path, con = built
    events, entries = spark.read.parquet(events_path), spark.read.parquet(entries_path)
    key = oracle_keys(truth["dir"])[0]
    cases = {
        "get_status": {},
        "get_events": {"event_type": "Note", "page": 2, "limit": 5},
        "count_events": {"event_type": "Mint"},
        "get_events_for_entry": {"namehash": key},
        "get_entry": {"namehash": key},
    }
    assert set(cases) == set(SERVE_KINDS)
    for kind, args in cases.items():
        res = serve_call(events, entries, kind, args)
        assert not checks.serve_mismatch(con, kind, args, res), kind
        if kind == "get_status":
            bad = dict(res, totalEvents=res["totalEvents"] + 1)
        elif kind == "count_events":
            bad = res + 1
        elif kind == "get_entry":
            bad = [dict(r.asDict(), label=r["label"] + "x") for r in res]
        else:
            assert len(res) > 1
            bad = res[1:]
        assert checks.serve_mismatch(con, kind, args, bad), kind


def test_share_pct_rounds_half_up_like_spark(spark):
    """get_status's percentage is Spark's round, half up: 1 of 8 is
    12.5% and reads 13, 1 of 40 is 2.5% and reads 3."""
    from pyspark.sql import functions as F

    cases = [(1, 8), (1, 40), (3, 8), (1, 3), (2, 3), (7, 1000), (1, 200)]
    df = spark.createDataFrame(cases, "n long, total long")
    got = df.select(F.round(F.col("n") * 100.0 / F.col("total"), 0).cast("long")).collect()
    assert [checks.share_pct(n, t) for n, t in cases] == [r[0] for r in got]
    assert checks.share_pct(1, 8) == 13 and checks.share_pct(1, 40) == 3


def _curate_outputs(out: str, truth: dict, extra: list[int] = ()) -> dict:
    """What a correct curation leaves behind for this corpus: every doc
    but the gate's drops and all but one member of each cluster."""
    docs = pq.read_table(truth["path"]).to_pylist()
    dropped = set(truth["bad_ids"]) | {d for c in truth["clusters"] for d in c[1:]}
    keep = [r for r in docs if r["doc_id"] not in dropped or r["doc_id"] in extra]
    os.makedirs(os.path.join(out, "documents.parquet"))
    os.makedirs(os.path.join(out, "chunks.parquet"))
    pq.write_table(pa.table({
        "doc_id": [r["doc_id"] for r in keep], "text": [r["text"] for r in keep],
        "split": ["train"] * len(keep), "shard": [0] * len(keep),
    }), os.path.join(out, "documents.parquet", "part-0.parquet"))
    pq.write_table(pa.table({
        "doc_id": [r["doc_id"] for r in keep], "chunk_id": [0] * len(keep),
        "n_tokens": [len(r["text"].split()) for r in keep],
        "chunk_text": [r["text"] for r in keep], "pack_id": [0] * len(keep),
        "shard": [0] * len(keep),
    }), os.path.join(out, "chunks.parquet", "part-0.parquet"))
    n_out = len(docs) - len(dropped)
    return {
        "docs_in": len(docs), "boilerplate_lines": 0, "dropped_c4": 0,
        "dropped_quality": truth["bad"], "dropped_gopher": 0, "dropped_model": 0,
        "dropped_dups": truth["dup_copies"], "span_cut_docs": truth["span_cut_docs"],
        "docs_out": n_out, "train_docs": n_out, "chunks": n_out,
    }


def test_curate_check(tmp_path):
    truth = gen.corpus_inputs(9, 300, str(tmp_path / "in"))
    report = _curate_outputs(str(tmp_path / "good"), truth)
    bad, digest = checks.curate_mismatches(report, str(tmp_path / "good"), truth)
    assert bad == 0
    # report arithmetic that does not add up
    assert checks.curate_mismatches(dict(report, dropped_dups=report["dropped_dups"] - 1),
                                    str(tmp_path / "good"), truth)[0] > 0
    # a planted cluster with two survivors
    second = truth["clusters"][0][1]
    _curate_outputs(str(tmp_path / "two"), truth, extra=[second])
    bad2, digest2 = checks.curate_mismatches(report, str(tmp_path / "two"), truth)
    assert bad2 > 0 and digest2 != digest
