"""End-to-end CLI flows (S8 console sink / T6 orchestration shapes):
extract → status → events → sql → compact, driven in-process so the
JSON report shapes are pinned by tests instead of manual runs."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from hypermap_etl_spark.cli import main
from hypermap_etl_spark.sources.raw_logs import build_raw_logs
from tests.helpers import ev, events_df, h
from tests.test_merge_serving import _ent_flat


def _write_raw(spark, path, n=6):
    rows = [
        ev(eventType="Mint", blockNumber=100 + i, logIndex=0, parenthash=h(1),
           childhash=h(10 + i), labelhash=h(2), label=f"e{i}",
           transactionHash="0x" + format(i, "064x"))
        for i in range(n)
    ]
    build_raw_logs(events_df(spark, rows)).write.mode("overwrite").parquet(path)


def test_cli_extract_status_events_sql_compact(spark, capsys):
    base = tempfile.mkdtemp()
    raw, tbl = f"{base}/raw", f"{base}/table"
    _write_raw(spark, raw)

    main(["extract", "--raw", raw, "--table", tbl])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["counts"] == {"Mint": 6}
    assert rep["upsertedCount"] == 6 and rep["modifiedCount"] == 0

    # re-run: idempotent (T3 shape), 6 modified, 0 new
    main(["extract", "--raw", raw, "--table", tbl])
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["upsertedCount"] == 0 and rep2["modifiedCount"] == 6

    main(["status", "--table", tbl])
    status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["totalEvents"] == 6 and status["lastBlock"] == 105

    main(["events", "--table", tbl, "--limit", "3"])
    page = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert page["totalCount"] == 6 and len(page["events"]) == 3
    assert page["events"][0]["blockNumber"] == 105  # desc order

    main(["sql", "SELECT count(*) AS n FROM documents", "--data",
          "/root/testdata/sf0.001"])
    sql_out = [json.loads(line) for line in
               capsys.readouterr().out.strip().splitlines() if line.startswith("{")]
    assert sql_out and sql_out[0]["n"] > 0

    main(["compact", "--table", tbl])
    comp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert comp["partitions_compacted"] == 0  # one small bucket: no-op


def test_cli_stream_index_mode(spark, capsys):
    """`stream --entries --once`: the continuous index-events mode
    catches up a raw dir, materializes entries incrementally, prints
    per-batch progress, and `compact --entries` maintains the bucketed
    entries table."""
    base = tempfile.mkdtemp()
    raw, tbl, ent, ckpt = f"{base}/raw", f"{base}/tbl", f"{base}/ent", f"{base}/ckpt"
    _write_raw(spark, raw)

    main(["stream", "--raw", raw, "--table", tbl, "--entries", ent,
          "--checkpoint", ckpt, "--once", "--timeout", "240"])
    captured = capsys.readouterr()
    import glob

    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession() or spark
    # 6 mints + the placeholder parent
    assert s.read.parquet(ent).count() == 7
    assert glob.glob(f"{ent}/entry_bucket=*"), "entries must be bucketed"
    # per-batch sink telemetry (T5) prints synchronously to stderr; the
    # listener's stdout status line is async (listener bus) so not
    # asserted here
    prog = [json.loads(line) for line in captured.err.splitlines()
            if line.startswith('{"progress"')]
    assert prog and prog[-1]["progress"]["rows"] == 6

    main(["compact", "--entries", ent])
    comp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert comp["entries"]["partitions_compacted"] >= 0

    # --sort-by with a column present only in the EVENTS table must not
    # abort the entries rewrite (partial maintenance run): the absent
    # column is skipped per-table with a warning, both reports print
    main(["compact", "--table", tbl, "--entries", ent,
          "--sort-by", "blockNumber"])
    captured = capsys.readouterr()
    comp2 = json.loads(captured.out.strip().splitlines()[-1])
    assert "entries" in comp2  # second rewrite ran
    assert "skipping sort column" in captured.err

    # a sort column present in NO targeted table is a typo: abort
    # before any rewrite instead of silently compacting unsorted
    import pytest

    with pytest.raises(SystemExit, match="no targeted table"):
        main(["compact", "--table", tbl, "--entries", ent,
              "--sort-by", "blockNumbre"])


def test_cli_curate_end_to_end(spark, capsys):
    """The curate pipeline over the fixture documents: writes both
    outputs, reports consistent per-stage counts, and the redactor +
    dedup actually fire (report fields are internally consistent)."""
    out = tempfile.mkdtemp()
    main([
        "curate",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", out,
        "--min-words", "5",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_in"] == 500
    assert rep["docs_out"] == rep["docs_in"] - rep["dropped_quality"] - rep["dropped_dups"]
    assert 0 < rep["train_docs"] <= rep["docs_out"]
    assert rep["chunks"] > 0

    docs = spark.read.parquet(os.path.join(out, "documents.parquet"))
    assert docs.count() == rep["docs_out"]
    assert set(docs.columns) == {"doc_id", "text", "split", "shard"}
    chunks = spark.read.parquet(os.path.join(out, "chunks.parquet"))
    assert set(chunks.columns) == {
        "doc_id", "chunk_id", "n_tokens", "chunk_text", "pack_id", "shard"
    }
    assert chunks.count() == rep["chunks"]


def test_cli_curate_jsonl_export(spark, capsys):
    """--format jsonl: per-shard JSONL dirs a training loader streams
    directly; rows round-trip through the JSON codec."""
    import glob
    import json as _json

    out = tempfile.mkdtemp()
    main([
        "curate",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", out, "--min-words", "5", "--shards", "4",
        "--format", "jsonl",
    ])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    shard_dirs = glob.glob(os.path.join(out, "chunks.jsonl", "shard=*"))
    assert shard_dirs, "expected per-shard JSONL dirs"
    n = 0
    for d in shard_dirs:
        for f in glob.glob(os.path.join(d, "part-*")):
            with open(f) as fh:
                for line in fh:
                    rec = _json.loads(line)
                    assert {"doc_id", "chunk_id", "chunk_text"} <= set(rec)
                    n += 1
    assert n == rep["chunks"]


def test_cli_curate_orc_export(spark, capsys):
    """--format orc: per-shard ORC dirs with the same layout contract;
    rows round-trip through the schema-contracted reader."""
    import glob
    import json as _json

    out = tempfile.mkdtemp()
    main([
        "curate",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", out, "--min-words", "5", "--shards", "4",
        "--format", "orc",
    ])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    shard_dirs = glob.glob(os.path.join(out, "chunks.orc", "shard=*"))
    assert shard_dirs, "expected per-shard ORC dirs"
    back = spark.read.orc(os.path.join(out, "chunks.orc"))
    assert back.count() == rep["chunks"]
    assert {"doc_id", "chunk_id", "chunk_text"} <= set(back.columns)


def test_cli_search(spark, capsys):
    import json

    from hypermap_etl_spark.cli import main

    main(["search", "--docs", "/root/testdata/sf0.001/documents.parquet",
          "join window scan", "--k", "3"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 3
    assert all(l["score"] > 0 for l in lines)
    assert lines[0]["score"] >= lines[1]["score"] >= lines[2]["score"]


def test_cli_search_hybrid(spark, capsys):
    import json

    from hypermap_etl_spark.cli import main

    main(["search", "--hybrid", "--docs",
          "/root/testdata/sf0.001/documents.parquet",
          "join window scan", "--k", "5"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 5
    assert lines[0]["rrf_score"] >= lines[-1]["rrf_score"]
    # fused score is the reciprocal-rank sum of the leg ranks
    for l in lines:
        exp = (1.0 / (60 + l["lex_rank"]) if l["lex_rank"] else 0.0) + (
            1.0 / (60 + l["sem_rank"]) if l["sem_rank"] else 0.0
        )
        assert abs(l["rrf_score"] - round(exp, 6)) < 1e-12


@pytest.mark.parametrize(
    "code_args", [[], ["--pq", "--pq-m", "2", "--pq-codes", "4"]], ids=["flat", "pq"]
)
def test_cli_ann_append_and_stats(spark, capsys, tmp_path, code_args):
    import json

    import numpy as np

    from hypermap_etl_spark.cli import main

    rng = np.random.RandomState(3)
    base = str(tmp_path / "base.parquet")
    more = str(tmp_path / "more.parquet")
    spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(4)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    ).write.parquet(base)
    spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(4)]) for i in range(60, 80)],
        "vec_id long, embedding array<float>",
    ).write.parquet(more)
    idx = str(tmp_path / "idx")
    main(["ann", "--index", idx, "--build", "--embeddings", base,
          "--centroids", "4", *code_args])
    capsys.readouterr()
    if code_args:
        with pytest.raises(SystemExit, match="code type from the index"):
            main(["ann", "--index", idx, "--stats", "--pq"])
    main(["ann", "--index", idx, "--append", "--embeddings", more])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["appended"] == 20 and rep["listsTouched"] >= 1
    main(["ann", "--index", idx, "--stats"])
    stats = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert sum(s["n_vectors"] for s in stats) == 80
    # the maintenance hook — defragment the append tail, then the
    # stats (and any search) still see every vector
    main(["ann", "--index", idx, "--compact"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["files_after"] <= rep["files_before"]
    main(["ann", "--index", idx, "--stats"])
    stats = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert sum(s["n_vectors"] for s in stats) == 80


def test_cli_reorg(spark, capsys, tmp_path):
    """`reorg` on the tables `index` writes, with the CLI defaults."""
    from hypermap_etl_spark.constants import ROOT_HASH

    P, C = h(1), h(2)
    rows = [
        ev(eventType="Mint", blockNumber=10, logIndex=0,
           parenthash=ROOT_HASH, childhash=P, labelhash=h(31), label="alpha"),
        ev(eventType="Mint", blockNumber=150_005, logIndex=0,
           parenthash=P, childhash=C, labelhash=h(32), label="c2"),
    ]
    raw = str(tmp_path / "raw")
    epath, npath = str(tmp_path / "events"), str(tmp_path / "entries")
    build_raw_logs(events_df(spark, rows)).write.parquet(raw)
    main(["index", "--raw", raw, "--table", epath, "--entries", npath])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {
        "entries": 2
    }

    main(["reorg", "--table", epath, "--fork-block", "100000",
          "--entries", npath])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["eventsDeleted"] == 1 and rep["entriesDeleted"] == 1
    assert rep["bucketsDropped"] == 1
    assert spark.read.parquet(epath).count() == 1
    left = spark.read.parquet(npath).collect()
    assert [r["namehash"] for r in left] == [P] and left[0]["children"] == []


def _full_fold(spark, rows):
    from hypermap_etl_spark.operators.decode import parse_raw_logs
    from hypermap_etl_spark.operators.materialize import materialize_entries

    events = parse_raw_logs(build_raw_logs(events_df(spark, rows)))
    return _ent_flat(materialize_entries(events))


_HANDOFF_BLOCK = 16


@pytest.fixture(scope="module")
def handoff_tables(spark, tmp_path_factory):
    """`index` over blocks <= _HANDOFF_BLOCK, then `stream --entries
    --once` over the later blocks (one block-ordered source file, the
    chain-scan layout) on the same --table/--entries paths."""
    from tests.test_materialize import _fixture_rows

    base = str(tmp_path_factory.mktemp("handoff"))
    rows = _fixture_rows()
    raw, src = f"{base}/raw", f"{base}/src"
    build_raw_logs(events_df(spark, rows)).write.parquet(raw)
    later = [r for r in rows if r["blockNumber"] > _HANDOFF_BLOCK]
    build_raw_logs(events_df(spark, later)).coalesce(1).write.parquet(src)
    tbl, ent = f"{base}/events", f"{base}/entries"
    main(["index", "--raw", raw, "--to-block", str(_HANDOFF_BLOCK),
          "--table", tbl, "--entries", ent])
    main(["stream", "--raw", src, "--table", tbl, "--entries", ent,
          "--checkpoint", f"{base}/ckpt", "--once", "--timeout", "240"])
    return rows, tbl, ent


def test_cli_index_then_stream_share_tables(spark, handoff_tables):
    """A stream following `index` on the same paths merges into the
    tables `index` wrote: together they hold every event and the full
    fold of the whole log."""
    from hypermap_etl_spark.operators.decode import parse_raw_logs

    rows, tbl, ent = handoff_tables
    want_ids = parse_raw_logs(build_raw_logs(events_df(spark, rows)))
    assert sorted(r["event_id"] for r in spark.read.parquet(tbl).collect()) == sorted(
        r["event_id"] for r in want_ids.collect()
    )
    assert _ent_flat(spark.read.parquet(ent)) == _full_fold(spark, rows)


def test_cli_reorg_defaults_on_index_then_stream_tables(spark, capsys, tmp_path,
                                                         handoff_tables):
    """`reorg --entries` with the CLI defaults on index-then-stream
    tables leaves the events at or below the fork and the fold of that
    surviving log."""
    import shutil

    rows, tbl, ent = handoff_tables
    epath, npath = str(tmp_path / "events"), str(tmp_path / "entries")
    shutil.copytree(tbl, epath)
    shutil.copytree(ent, npath)
    fork = 18
    main(["reorg", "--table", epath, "--fork-block", str(fork),
          "--entries", npath])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    surviving = [r for r in rows if r["blockNumber"] <= fork]
    assert rep["eventsDeleted"] == len(rows) - len(surviving)
    assert spark.read.parquet(epath).count() == len(surviving)
    assert _ent_flat(spark.read.parquet(npath)) == _full_fold(spark, surviving)


def test_cli_calibrate(spark, capsys, tmp_path):
    import json

    from hypermap_etl_spark.cli import main

    rows = [(0, 0.85, 1), (1, 0.85, 0), (2, 0.25, 0), (3, 0.25, 0),
            (4, 0.25, 1), (5, 0.25, 0), (6, 1.0, 1)]
    p = str(tmp_path / "scored.parquet")
    spark.createDataFrame(rows, "doc_id long, score double, label int") \
        .write.parquet(p)
    main(["calibrate", "--scored", p])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    bins = {l["bin"]: l for l in lines[:-1]}
    assert set(bins) == {2, 8, 9}
    assert bins[8]["abs_gap"] == 0.35
    assert abs(lines[-1]["ece"] - 0.1) < 1e-6


def test_cli_search_hybrid_snippets_conflict():
    import pytest as _pt

    from hypermap_etl_spark.cli import main

    with _pt.raises(SystemExit):
        main(["search", "--hybrid", "--snippets", "--docs", "x.parquet", "q"])


def test_cli_layout_and_dsir(spark, capsys):
    base = tempfile.mkdtemp()
    out = f"{base}/clustered"
    main([
        "layout", "--table", "/root/testdata/sf0.001/events.parquet",
        "--out", out, "--cluster-by", "user_id", "--files", "4",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep["files"]) == 4
    assert rep["pruning_factor"] > 0.5
    # stat ranges non-overlapping (may touch at sampled split keys)
    ranges = sorted((int(f["min"]), int(f["max"])) for f in rep["files"])
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert lo >= hi

    wout = f"{base}/weights"
    main([
        "dsir", "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--target", "/root/testdata/sf0.001/documents.parquet",
        "--out", wout,
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # target == raw: every weight collapses to ~0 under identical
    # distributions (the smoothing denominators differ by < 1e-7)
    assert rep["docs"] == 500 and rep["min"] == 0.0 and rep["max"] == 0.0
    assert spark.read.parquet(wout).count() == 500


def test_cli_pca(spark, capsys):
    out = tempfile.mkdtemp() + "/proj"
    main([
        "pca", "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--out", out, "--k", "3",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == 500 and len(rep["explained_variance"]) == 3
    ev = rep["explained_variance"]
    assert ev == sorted(ev, reverse=True) and ev[-1] > 0
    assert spark.read.parquet(out).columns == ["vec_id", "p0", "p1", "p2"]


def test_cli_bpe(spark, capsys):
    base = tempfile.mkdtemp()
    merges_out, seg_out = f"{base}/merges", f"{base}/seg"
    main([
        "bpe", "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", merges_out, "--segmented", seg_out, "--merges", "20",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["merges"] == 20 and rep["first_merge"] is not None
    m = spark.read.parquet(merges_out)
    assert m.count() == 20
    assert m.columns == ["rank", "left", "right", "merged", "pair_count"]
    seg = spark.read.parquet(seg_out)
    assert seg.count() == 500
    assert rep["total_tokens"] > 0 and rep["segmented_docs"] == 500


def test_cli_decontam_ngram_and_semantic(spark, capsys, tmp_path):
    """decontam: n-gram collisions + embedding-cosine hits combine into
    one per-doc flags parquet with a summary line."""
    import json as _json

    from hypermap_etl_spark.cli import main

    phrase = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lambda mu nu xi")
    docs = spark.createDataFrame(
        [
            (1, "clean text " + "filler words " * 10),
            (2, "prefix " + phrase + " suffix words here"),   # 13-gram hit
            (3, "semantically leaked but reworded benchmark item x"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, phrase + " and a tail")], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [0.0, 1.0]), (3, [0.96, 0.28])],
        "vec_id long, embedding array<float>",
    )
    bemb = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    d = str(tmp_path)
    docs.write.parquet(d + "/docs"); bench.write.parquet(d + "/bench")
    emb.write.parquet(d + "/emb"); bemb.write.parquet(d + "/bemb")
    main([
        "decontam", "--docs", d + "/docs", "--bench", d + "/bench",
        "--out", d + "/flags", "--embeddings", d + "/emb",
        "--bench-embeddings", d + "/bemb", "--cos-threshold", "0.95",
    ])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "ngram+semantic" and rep["docs"] == 3
    got = {r["doc_id"]: r.asDict() for r in spark.read.parquet(d + "/flags").collect()}
    assert not got[1]["contaminated"]
    assert got[2]["ngram_contaminated"] and got[2]["contaminated"]
    assert not got[1]["semantic_contaminated"]
    assert got[3]["semantic_contaminated"] and not got[3]["ngram_contaminated"]
    assert rep["contaminated"] == sum(1 for v in got.values() if v["contaminated"])


def test_cli_ann_build_and_search(spark, capsys, tmp_path):
    import json as _json

    from hypermap_etl_spark.cli import main

    d = str(tmp_path)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").write.parquet(
        d + "/emb"
    )
    spark.read.parquet(d + "/emb").filter("vec_id % 50 = 0").write.parquet(
        d + "/q"
    )
    main(["ann", "--build", "--index", d + "/ivf", "--embeddings", d + "/emb"])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["vectors"] == spark.read.parquet(d + "/emb").count()

    main(["ann", "--index", d + "/ivf", "--queries", d + "/q",
          "--out", d + "/res", "--k", "3", "--probe", "2"])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    res = spark.read.parquet(d + "/res")
    assert rep["results"] == res.count() > 0
    assert set(res.columns) == {"query_id", "neighbor_id", "sim", "rank"}
    # every query got <= k neighbors, ranked 1..n
    import pyspark.sql.functions as F2
    mx = res.groupBy("query_id").agg(F2.max("rank").alias("m"), F2.count("*").alias("c"))
    assert all(r["m"] == r["c"] <= 3 for r in mx.collect())


def test_cli_dedup_index_build_and_check(spark, capsys, tmp_path):
    import json as _json

    from hypermap_etl_spark.cli import main

    d = str(tmp_path)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    docs.filter("doc_id % 2 = 0").write.parquet(d + "/old")
    docs.filter("doc_id % 2 = 1").write.parquet(d + "/new")
    store = "cli_dedup_store_test"
    spark.sql(f"DROP TABLE IF EXISTS {store}")

    main(["dedup-index", "--build", "--store", store, "--docs", d + "/old",
          "--store-path", d + "/store"])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["store_rows"] == rep["indexed_docs"] * 32

    main(["dedup-index", "--store", store, "--docs", d + "/old",
          "--batch", d + "/new", "--out", d + "/pairs"])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # matches the doc_incremental_pairs gate's fixture truth: both pair
    # kinds present at sf0.001 (16 pairs: 11 store + 5 batch)
    assert rep["pairs"] == rep["store_pairs"] + rep["batch_pairs"]
    assert rep["store_pairs"] > 0 and rep["batch_pairs"] > 0
    spark.sql(f"DROP TABLE IF EXISTS {store}")


def test_cli_embed_then_ann(spark, capsys, tmp_path):
    """The model-free loop: embed a docs parquet, build the IVF index
    on it, search it with a query subset."""
    import json as _json

    from hypermap_etl_spark.cli import main

    d = str(tmp_path)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).write.parquet(d + "/docs")
    main(["embed", "--docs", d + "/docs", "--out", d + "/emb", "--dim", "32"])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == rep["docs"] and rep["dim"] == 32

    main(["ann", "--build", "--index", d + "/ivf", "--embeddings", d + "/emb"])
    capsys.readouterr()
    spark.read.parquet(d + "/emb").filter("vec_id % 100 = 0").write.parquet(d + "/q")
    main(["ann", "--index", d + "/ivf", "--queries", d + "/q",
          "--out", d + "/res", "--k", "3"])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["results"] > 0


def test_cli_quality_filter(spark, capsys, tmp_path):
    """Reference-vs-corpus trained filter: plant a separable corpus
    (half clean prose, half spam), use the clean half as the
    reference; the scored output must rank clean docs above spam."""
    import json as _json

    from hypermap_etl_spark.cli import main

    d = str(tmp_path)
    rows = []
    for i in range(120):
        if i % 2 == 0:
            rows.append((i, f"measured prose about topic {i} written plainly"))
        else:
            rows.append((i, f"win cash now {i} click free jackpot spam deal"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(d + "/docs")
    docs.filter("doc_id % 2 = 0").write.parquet(d + "/ref")
    main(["quality", "--docs", d + "/docs", "--reference", d + "/ref",
          "--out", d + "/scores", "--dim", "64", "--threshold", "0.5"])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 120 and rep["n_reference"] == 60
    scored = {r["doc_id"]: r["score"] for r in
              spark.read.parquet(d + "/scores").collect()}
    clean = [scored[i] for i in range(0, 120, 2)]
    spam = [scored[i] for i in range(1, 120, 2)]
    # the negative sample contains ~half clean docs (label noise), so
    # demand separation, not perfection: every spam doc below the
    # lowest clean doc is too strict — compare means and the kept set
    assert sum(clean) / len(clean) > sum(spam) / len(spam) + 0.2
    assert min(clean) > max(spam) - 0.3


def test_cli_buckets(spark, capsys):
    base = tempfile.mkdtemp()
    docs = f"{base}/docs.parquet"
    rows = [(i, f"w{i % 7} common words here " * (2 + i % 5), "en" if i % 2 else "de")
            for i in range(24)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string")\
         .write.parquet(docs)

    main(["buckets", "--docs", docs, "--out", f"{base}/bkt"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 24 and rep["method"] == "ntile"
    assert sum(rep["bucket_counts"].values()) == 24
    # per-lang ntile(3): 12 docs per lang → 4 per bucket per lang
    assert rep["bucket_counts"] == {"1": 8, "2": 8, "3": 8}

    main(["buckets", "--docs", docs, "--out", f"{base}/bkt2",
          "--method", "threshold", "--n-buckets", "2"])
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["docs"] == 24 and sum(rep2["bucket_counts"].values()) == 24


def test_cli_curate_html(spark, capsys):
    base = tempfile.mkdtemp()
    docs = f"{base}/docs.parquet"
    body = ("the quick brown fox and the lazy dog are in the house "
            "with a view of the lake and it is a fine day for a walk ") * 5
    rows = [(i, f"<html><body><p>{body}doc {i}</p><script>x()</script></body>")
            for i in range(30)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs)

    main(["curate", "--docs", docs, "--out", f"{base}/out", "--html",
          "--min-words", "5"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_in"] == 30 and rep["docs_out"] >= 1
    out = spark.read.parquet(f"{base}/out/documents.parquet")
    assert out.filter(out.text.contains("<")).count() == 0  # markup gone


def test_cli_snapshot_lifecycle(spark, capsys):
    """Manifest versions as corpus snapshots: two writes, a diff of the
    two versions, then a rollback that re-publishes v1 as v3."""
    base = tempfile.mkdtemp()
    src1, src2, tbl = f"{base}/v1src", f"{base}/v2src", f"{base}/tbl"
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    ).write.parquet(src1)
    spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c")], "doc_id long, text string"
    ).write.parquet(src2)

    main(["manifest", "write", "--table", tbl, "--data", src1])
    main(["manifest", "write", "--table", tbl, "--data", src2])
    outs = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
            if l.startswith("{")]
    assert [o["version"] for o in outs] == [1, 2]

    main(["manifest", "diff", "--table", tbl, "--keys", "doc_id"])
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d["old"] == 1 and d["new"] == 2
    assert d["summary"] == {"unchanged": 1, "changed": 1, "added": 1}

    main(["manifest", "rollback", "--table", tbl, "--version", "1"])
    main(["manifest", "status", "--table", tbl])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["version"] == 3 and st["versions"] == [1, 2, 3]
    from hypermap_etl_spark.sources.manifest import read_table

    def rows(version=None):
        return sorted(tuple(r) for r in read_table(spark, tbl, version).collect())

    assert rows() == rows(1)


def test_cli_curate_gopher(spark, capsys):
    base = tempfile.mkdtemp()
    docs = f"{base}/docs.parquet"
    prose = ("the quick brown fox and the lazy dog are in the house "
             "with a view of the lake and it is a fine day for a walk ") * 5
    rows = [(i, prose + f"ending number {i}") for i in range(20)] + [
        (100, "data " * 80),  # no Gopher stop words → screened out
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs)

    main(["curate", "--docs", docs, "--out", f"{base}/out",
          "--min-words", "5", "--gopher"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_in"] == 21
    assert rep["dropped_gopher"] >= 1  # the stopword-free doc
    assert rep["docs_out"] >= 1
    assert rep["docs_out"] == (rep["docs_in"] - rep["dropped_quality"]
                               - rep["dropped_gopher"] - rep["dropped_dups"])


def test_cli_snapshot_diff_psi(spark, capsys):
    """``manifest diff --psi-col`` between two identical versions, then
    a missing side, a vacuumed side and no ``--keys``: each exits with
    a message naming the problem."""
    import pytest

    from hypermap_etl_spark.sources.manifest import vacuum_table, write_table

    base = tempfile.mkdtemp()
    tbl = f"{base}/tbl"
    a = spark.createDataFrame(
        [(i, float(i % 20)) for i in range(200)], "doc_id long, value double"
    )
    write_table(a, tbl)
    write_table(a, tbl)  # identical second drop
    main(["manifest", "diff", "--table", tbl, "--keys", "doc_id",
          "--psi-col", "value"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["summary"] == {"unchanged": 200}
    assert rep["psi"]["value"] == 0.0 and rep["psi"]["verdict"] == "stable"

    with pytest.raises(SystemExit, match="old version 0 .* no manifest"):
        main(["manifest", "diff", "--table", tbl, "--keys", "doc_id",
              "--version", "1"])
    vacuum_table(tbl, keep=1)
    with pytest.raises(SystemExit, match="old version 1 .* vacuumed"):
        main(["manifest", "diff", "--table", tbl, "--keys", "doc_id"])
    with pytest.raises(SystemExit, match="--keys required"):
        main(["manifest", "diff", "--table", tbl])


def test_cli_check(spark, capsys, tmp_path):
    import pytest

    spec = [
        {"kind": "not_null", "column": "o_orderkey"},
        {"kind": "unique", "column": "o_orderkey"},
        {"kind": "references", "column": "o_custkey",
         "ref": "customer", "ref_column": "c_custkey"},
    ]
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps(spec))
    out = str(tmp_path / "report")
    main([
        "check", "--table", "/root/testdata/sf0.001/orders.parquet",
        "--spec", str(spec_file),
        "--ref", "customer=/root/testdata/sf0.001/customer.parquet",
        "--out", out,
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["passed"] is True and rep["checks"] == 3
    assert spark.read.parquet(out).count() == 3

    # a failing suite exits 1 (the admission-gate contract)
    with pytest.raises(SystemExit) as exc:
        main([
            "check", "--table", "/root/testdata/sf0.001/orders.parquet",
            "--spec",
            '[{"kind":"in_range","column":"o_totalprice","lo":0,"hi":1}]',
        ])
    assert exc.value.code == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["failures"] == ["in_range(o_totalprice,0,1)"]


def test_cli_bpe_unigram(spark, capsys, tmp_path):
    out, seg = str(tmp_path / "pieces"), str(tmp_path / "seg")
    main([
        "bpe", "--algo", "unigram",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", out, "--segmented", seg, "--vocab-size", "300",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["algo"] == "unigram"
    assert 0 < rep["vocab"] <= 300 + 100  # singles floor can exceed target
    assert rep["multi_char_pieces"] > 0
    assert rep["segmented_docs"] == 500 and rep["total_tokens"] > 0
    pieces = spark.read.parquet(out)
    assert pieces.count() == rep["vocab"]


def test_cli_report(capsys):
    main(["report", "--docs", "/root/testdata/sf0.001/documents.parquet"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 500
    assert rep["total_tokens_ws"] > 0 and rep["total_chars"] > 0
    assert rep["len_p10"] <= rep["len_p50"] <= rep["len_p90"]
    assert sum(rep["lang_mix"].values()) == 500
    assert rep["exact_dup_rate"] == 0.0
    assert {p["col"] for p in rep["profile"]} == {
        "doc_id", "lang", "source", "n_chars"
    }
    assert all(p["nulls"] == 0 for p in rep["profile"])
    # naturalness block: the synthetic fixture is templated (tiny
    # vocabulary, flat rank-frequency curve) and pure ASCII — exactly
    # what the diagnostics should say
    assert rep["vocab_terms"] > 0
    assert -0.5 < rep["zipf_slope"] <= 0.0
    assert rep["script_mix"] == {"latin": 500}


def test_cli_report_no_lang_column(spark, capsys, tmp_path):
    # docs parquet WITHOUT a lang column: the report must fall back to
    # the language_id heuristic (its output column is lang_pred, not
    # lang — the branch crashed unresolved-column before being tested)
    path = str(tmp_path / "nolang")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .drop("lang")
        .write.parquet(path)
    )
    main(["report", "--docs", path])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 500
    assert sum(rep["lang_mix"].values()) == 500
    assert all(isinstance(k, str) for k in rep["lang_mix"])


def test_cli_bff_incremental(spark, capsys, tmp_path):
    state = str(tmp_path / "bloom_state")
    docs = "/root/testdata/sf0.001/documents.parquet"
    main(["bff", "--docs", docs, "--state", state,
          "--out", str(tmp_path / "o1")])
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r1["survivors"] == 500 and r1["dropped"] == 0
    assert r1["state_keys"] == 500
    # replaying the same batch: every doc is a historical duplicate,
    # and the state does not double-count
    main(["bff", "--docs", docs, "--state", state,
          "--out", str(tmp_path / "o2")])
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2["survivors"] == 0 and r2["dropped"] == 500
    assert r2["state_keys"] == 500
    assert spark.read.parquet(state).count() == 1


def test_cli_skew(capsys):
    main(["skew", "--table", "/root/testdata/sf0.001/events.parquet",
          "--keys", "event_type", "--top", "2"])
    r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r["n_keys"] == 5 and r["n_rows"] == 1000
    assert len(r["top"]) == 2
    assert r["top"][0]["cnt"] >= r["top"][1]["cnt"]
    assert 0 < r["key_entropy"] <= 1.609438  # <= ln(5)


def test_cli_skew_rejects_missing_key(capsys):
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="not in table"):
        main(["skew", "--table", "/root/testdata/sf0.001/events.parquet",
              "--keys", "no_such_col"])


def test_cli_plan_epochs(capsys):
    main(["plan-epochs", "--docs", "/root/testdata/sf0.001/documents.parquet",
          "--budget-ratio", "1.5", "--default-cap", "2"])
    r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert abs(r["allocated_tokens"] - r["budget_tokens"]) < 1.0
    assert all(s["epochs"] <= s["max_epochs"] for s in r["sources"])
    assert len(r["sources"]) == 20


def test_cli_tag_both_paths(capsys, tmp_path):
    for i, extra in enumerate(([], ["--large"])):
        main(["tag", "--docs", "/root/testdata/sf0.001/documents.parquet",
              "--out", str(tmp_path / f"t{i}"),
              "--keywords", "data,join"] + extra)
        r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert r["hits_per_keyword"] == {"data": 896, "join": 936}


def test_cli_curate_balanced_shards(spark, capsys, tmp_path):
    out = str(tmp_path / "cur")
    main(["curate", "--docs", "/root/testdata/sf0.001/documents.parquet",
          "--out", out, "--balanced-shards", "--shards", "4"])
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    docs = spark.read.parquet(f"{out}/documents.parquet")
    per = {
        r["shard"]: r["toks"]
        for r in docs.selectExpr(
            "shard", "size(split(text, ' ')) as t"
        ).groupBy("shard").agg({"t": "sum"}).withColumnRenamed(
            "sum(t)", "toks"
        ).collect()
    }
    assert len(per) == 4
    # LPT round-robin: spread bounded far tighter than hash sharding —
    # within 10% of the mean on this corpus
    mean = sum(per.values()) / 4
    assert all(abs(v - mean) / mean < 0.10 for v in per.values())


def test_cli_search_snippets(capsys):
    main(["search", "--docs", "/root/testdata/sf0.001/documents.parquet",
          "join window", "--k", "3", "--snippets"])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 3
    assert all({"doc_id", "score", "first_pos", "snippet"} <= set(x) for x in lines)
    assert lines[0]["score"] >= lines[-1]["score"]


def test_cli_hist(capsys):
    main(["hist", "--table", "/root/testdata/sf0.001/events.parquet",
          "--column", "value"])
    r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r["n_bins"] > 3
    assert sum(b["cnt"] for b in r["bins"]) == 1000

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="column not in table"):
        main(["hist", "--table", "/root/testdata/sf0.001/events.parquet",
              "--column", "nope"])


def test_cli_drift(capsys, tmp_path):
    main(["drift", "--events", "/root/testdata/sf0.001/events.parquet",
          "--store", str(tmp_path / "store"),
          "--checkpoint", str(tmp_path / "ckpt"), "--compact"])
    r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(r["level"]) == {"click", "error", "purchase", "signup", "view"}
    assert all(v["n_days"] == 30 for v in r["level"].values())
    assert all(isinstance(v["drifted"], bool) for v in r["level"].values())
    assert "click@lag7" in r["seasonality"]
    assert set(r["ewma"]) == set(r["level"])
    assert all(v["days_flagged"] >= 0 for v in r["ewma"].values())


def test_cli_cdc_report(capsys):
    main(["cdc", "--docs", "/root/testdata/sf0.001/documents.parquet"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 500
    assert rep["chunks"] >= rep["distinct_chunks"] > 0
    assert 0.0 <= rep["dup_ratio"] < 1.0
    assert rep["words"] > 0 and rep["mean_chunk_words"] > 0


def test_cli_link_with_golden(spark, capsys, tmp_path):
    """End-to-end ER CLI: planted near-duplicate names must match and
    fuse into one golden record; the blocking report rides along."""
    import json

    from hypermap_etl_spark.cli import main

    rows = [
        (1, "acme corp", 3, "AUTO", 100.0),
        (2, "acme corpx", 3, "AUTO", 150.0),   # dist 1, same cats, close bal
        (3, "acme korpx", 3, "AUTO", 140.0),   # dist 1 of 2
        (4, "zebra inc", 7, "RETAIL", 10.0),
    ]
    p = str(tmp_path / "ents.parquet")
    spark.createDataFrame(
        rows, "id long, name string, nation int, seg string, bal double"
    ).write.parquet(p)
    golden = str(tmp_path / "golden")
    main([
        "link", "--table", p, "--id-col", "id", "--name-col", "name",
        "--cat", "nation:2.25:-1.5,seg:1.25:-0.75", "--num-col", "bal",
        "--golden", golden,
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["records"] == 4
    assert out["verdicts"].get("match", 0) >= 2  # (1,2) and (2,3)
    assert out["golden_records"] == 2  # {1,2,3} fused + singleton 4
    fused = {r["cluster_id"]: r for r in spark.read.parquet(golden).collect()}
    assert fused[1]["n_members"] == 3
    assert fused[1]["max_bal"] == 150.0
    assert fused[1]["mode_nation"] == 3
    assert fused[4]["n_members"] == 1


def test_cli_eval_card(spark, capsys, tmp_path):
    """eval prints one JSON card with AUC, ECE, and the best-F1
    operating point from the threshold sweep."""
    import json

    from hypermap_etl_spark.cli import main

    # perfectly separating scores: AUC 1, best F1 = 1 at tau <= 0.8
    rows = [(i, 0.9, 1) for i in range(5)] + [(i + 5, 0.1, 0) for i in range(5)]
    p = str(tmp_path / "scored.parquet")
    spark.createDataFrame(rows, "doc_id long, score double, label int") \
        .write.parquet(p)
    main(["eval", "--scored", p, "--steps", "10", "--lift-bands", "5"])
    card = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert card["auc"] == 1.0
    assert card["n_pos"] == 5 and card["n_neg"] == 5
    assert card["best_f1"]["f1"] == 1.0
    # ties on f1 resolve to the HIGHEST threshold (tightest cut)
    assert card["best_f1"]["threshold"] == 0.9
    assert card["n_thresholds"] == 10
    assert abs(card["ece"] - 0.1) < 1e-9  # |0.9-1|*0.5 + |0.1-0|*0.5
    assert card["brier"] == 0.01  # (0.1^2)*10/10 exactly
    # 5 bands over 10 rows: band 0 = the 2 best-scored rows, all
    # positive -> lift 2, gains 0.4; last band captures everything
    assert len(card["lift"]) == 5
    assert card["lift"][0]["lift"] == 2.0
    assert card["lift"][0]["cum_gain"] == 0.4
    assert card["lift"][-1]["cum_gain"] == 1.0


def test_cli_graph_ops(spark, capsys, tmp_path):
    """The graph command runs each op over an edge parquet and prints
    a one-line JSON summary; seed-distance consumes a seeds parquet
    and --out lands the per-node frame."""
    import json

    from hypermap_etl_spark.cli import main

    # two triangles sharing node 2, plus a tail
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4), (4, 5)]
    ep = str(tmp_path / "edges.parquet")
    spark.createDataFrame(edges, "src long, dst long").write.parquet(ep)

    main(["graph", "--edges", ep, "--op", "triangles"])
    tri = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert tri["n_triangles"] == 2

    main(["graph", "--edges", ep, "--op", "kcore", "--k", "2"])
    kc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert kc["n_core_nodes"] == 5 and kc["min_core_degree"] == 2

    main(["graph", "--edges", ep, "--op", "lpa", "--iters", "4"])
    lpa = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert lpa["n_nodes"] == 6

    main(["graph", "--edges", ep, "--op", "modularity", "--iters", "4"])
    mod = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert mod["n_edges"] == 7 and "modularity" in mod

    sp = str(tmp_path / "seeds.parquet")
    spark.createDataFrame([(0,)], "node long").write.parquet(sp)
    op = str(tmp_path / "dist.parquet")
    main(["graph", "--edges", ep, "--op", "seed-distance", "--seeds", sp,
          "--hops", "2", "--out", op])
    sd = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sd["n_reached"] == 5 and sd["max_dist"] == 2  # node 5 is 3 hops
    got = {r["node"]: r["dist"] for r in spark.read.parquet(op).collect()}
    assert got[0] == 0 and got[4] == 2 and 5 not in got

    main(["graph", "--edges", ep, "--op", "pagerank", "--iters", "5"])
    pr = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert pr["n_nodes"] == 6 and pr["max_rank"] > 0


def test_cli_assoc_ops(spark, capsys, tmp_path):
    """The assoc command answers which-columns-relate for every op in
    one JSON line each."""
    import json

    from hypermap_etl_spark.cli import main

    rows = [(i, "a" if i < 50 else "b", i % 2, float(i), float(i * i))
            for i in range(100)]
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(rows, "id long, g string, y long, u double, v double") \
        .write.parquet(p)

    def run(*a):
        main(["assoc", "--table", p, *a])
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    chi2 = run("--op", "chi2", "--x", "g", "--y", "y")
    assert chi2["dof"] == 1 and chi2["chi2"] == 0.0  # g independent of parity
    sp = run("--op", "spearman", "--x", "u", "--y", "v")
    assert sp["rho"] == 1.0  # monotone
    fd = run("--op", "fd", "--x", "id", "--y", "g")
    assert fd["confidence"] == 1.0  # id determines g
    tu = run("--op", "theils-u", "--x", "g", "--y", "y")
    assert tu["u_y_given_x"] == 0.0
    mi = run("--op", "mi", "--x", "g", "--y", "y", "--top", "4")
    assert len(mi["top_cells"]) == 4 and abs(mi["mi_nats"]) < 1e-6


def test_cli_ab_card(spark, capsys, tmp_path):
    """The ab command prints the full stack: SRM healthy, an A/A
    value column quiet on all tests, DiD present with --period-col,
    CUPED present with --pre-col."""
    import json

    from hypermap_etl_spark.cli import main

    import datetime

    rows = [(uid, float(uid % 13), uid % 2, float(uid % 7),
             datetime.datetime(2024, 3, 1 + uid % 10))
            for uid in range(600)]
    p = str(tmp_path / "ab.parquet")
    spark.createDataFrame(
        rows, "user_id long, value double, post int, pre double, ts timestamp"
    ).write.parquet(p)
    main(["ab", "--table", p, "--period-col", "post", "--pre-col", "pre",
          "--robust", "--permutations", "19", "--power", "--ratio",
          "--sequential-col", "ts"])
    card = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert card["srm"]["srm_suspected"] is False
    assert card["welch"]["significant"] is False
    assert card["mann_whitney"]["significant"] is False
    assert card["ks"]["distributions_differ"] is False
    assert "did" in card and "cuped" in card
    assert card["welch_winsorized"]["significant"] is False
    assert card["did"]["significant"] is False
    # A/A: permutation p comfortably above the floor, ratio test quiet,
    # MDE positive and finite
    assert card["permutation"]["n_perms"] == 19
    assert float(card["permutation"]["p_value"]) > 0.05
    assert card["ratio_metric"]["significant"] is False
    assert float(card["power"]["mde_abs"]) > 0
    # A/A sequential replay: five looks, none crossing its boundary
    assert [l["look"] for l in card["sequential"]] == [0, 1, 2, 3, 4]
    assert not any(l["crossed"] for l in card["sequential"])


def test_cli_survival(spark, capsys, tmp_path):
    """KM rows print per event time; --group-col appends the log-rank
    line."""
    import json

    from hypermap_etl_spark.cli import main

    rows = [(1.0, 1, 0), (2.0, 0, 1), (3.0, 1, 0), (4.0, 0, 1), (5.0, 1, 0)]
    p = str(tmp_path / "life.parquet")
    spark.createDataFrame(rows, "duration double, event int, g int") \
        .write.parquet(p)
    main(["survival", "--lifetimes", p, "--group-col", "g"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    km = [l for l in lines if "logrank" not in l]
    assert [l["t"] for l in km] == [1, 3, 5]
    assert km[0]["n_at_risk"] == 5
    assert "z_stat" in lines[-1]["logrank"]


def test_cli_abmon(spark, capsys, tmp_path):
    """abmon folds the events dir into the arm-moment store and prints
    the per-group Welch verdict; a second run resumes idempotently."""
    import json

    from hypermap_etl_spark.cli import main

    store = str(tmp_path / "store")
    args = [
        "abmon", "--events", "/root/testdata/sf0.001/events.parquet",
        "--store", store, "--checkpoint", str(tmp_path / "ck"),
    ]
    main(args)
    card = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert card["n_groups"] == 5
    first = card["groups"]
    # resume with nothing new: the verdict is unchanged (no re-count)
    main(args)
    card2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert card2["groups"] == first


def test_cli_manifest_lifecycle(spark, capsys, tmp_path):
    """manifest write → merge → status/count → rollback → vacuum, each
    printing one JSON line; the merge keeps the merge_into_parquet
    count contract and rollback is pointer-only."""
    d1, d2, tbl = str(tmp_path / "d1"), str(tmp_path / "d2"), str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "k long, v string, b int"
    ).write.parquet(d1)
    spark.createDataFrame(
        [(2, "B", 1), (3, "c", 0)], "k long, v string, b int"
    ).write.parquet(d2)

    main(["manifest", "write", "--table", tbl, "--data", d1,
          "--partition-col", "b"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["version"] == 1

    main(["manifest", "merge", "--table", tbl, "--data", d2,
          "--keys", "k", "--partition-col", "b"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["upsertedCount"] == 1 and rep["modifiedCount"] == 1
    assert rep["version"] == 2

    main(["manifest", "status", "--table", tbl])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["version"] == 2 and rep["partition_col"] == "b"
    assert rep["n_partitions"] == 2

    main(["manifest", "count", "--table", tbl])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == 3

    main(["manifest", "rollback", "--table", tbl, "--version", "1"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["version"] == 3

    main(["manifest", "count", "--table", tbl])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == 2

    main(["manifest", "vacuum", "--table", tbl, "--keep", "2"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["version"] == 3
    main(["manifest", "count", "--table", tbl])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == 2


def test_cli_media_ops(spark, capsys, tmp_path):
    """media command: synth real PNG/WAV payloads from documents, then
    every op end-to-end — pixel stats decode the even (image) half,
    audio/spectral the odd (audio) half, and neardup emits pairs (the
    synth ramp makes same-shape images near-identical)."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 41)], "doc_id long, text string"
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    out = str(tmp_path / "px")
    main(["media", "--docs", src, "--op", "pixels", "--out", out])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == 40 and rep["decoded"] == 20  # even ids only
    assert rep["mean_brightness"] is not None

    main(["media", "--docs", src, "--op", "audio",
          "--out", str(tmp_path / "au")])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["decoded"] == 20 and rep["total_frames"] > 0

    main(["media", "--docs", src, "--op", "spectral",
          "--out", str(tmp_path / "sp")])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["decoded"] == 20 and rep["mean_dominant_hz"] > 0

    main(["media", "--docs", src, "--op", "frames",
          "--out", str(tmp_path / "fr")])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == 40 and rep["decoded"] == 0  # synth has no video

    main(["media", "--docs", src, "--op", "neardup",
          "--out", str(tmp_path / "nd")])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["images"] == 40 and rep["hashed"] == 20
    assert rep["pairs"] > 0
