"""Output checks, all in DuckDB over the program's written files.

Each check returns the number of mismatches it found (0 = pass); the
runner counts every check as one attempted operation and every check
with mismatches as one failed operation.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb

from gen import GOLDEN, GOLDEN_BLOCKS


def connect(truth_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB over the generator's truth: ``events`` (star), ``hm`` (the
    derived hypermap log) and ``oracle`` (hm_entries_oracle_sql)."""
    from hypermap_etl_spark.plans.hm_derive import hm_entries_oracle_sql, hm_events_sql

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    star = os.path.join(truth_dir, "star_events.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{star}'")
    con.execute(f"CREATE TABLE hm AS {hm_events_sql('events')}")
    con.execute(f"CREATE TABLE oracle AS {hm_entries_oracle_sql('events')}")
    return con


def _table(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


# the program's entries table projected like the oracle; maps and the
# children set rendered as sorted strings (materialize.entries_flat)
_FLAT = """
SELECT namehash, label, parentHash AS parent_hash, owner, gene,
  coalesce(array_to_string(list_sort(list_transform(map_entries(notes), e -> e.key || '=' || e.value)), ';'), '') AS notes_kv,
  coalesce(array_to_string(list_sort(list_transform(map_entries(facts), e -> e.key || '=' || e.value)), ';'), '') AS facts_kv,
  coalesce(array_to_string(list_sort(children), ';'), '') AS children_list,
  len(children) AS n_children,
  creationBlock AS creation_block, lastUpdateBlock AS last_update_block
FROM {src}
"""


def entries_mismatches(con, entries_path: str) -> int:
    """Rows in the symmetric difference of the entries table and the
    full-fold oracle."""
    got = _FLAT.format(src=_table(entries_path))
    return con.execute(
        f"""
SELECT (SELECT count(*) FROM (({got}) EXCEPT ALL (SELECT * FROM oracle)))
     + (SELECT count(*) FROM ((SELECT * FROM oracle) EXCEPT ALL ({got})))
"""
    ).fetchone()[0]


def events_mismatches(con, events_path: str, truth: dict, enriched: bool) -> int:
    """Events table against the truth: one row per distinct event with
    the truth's ids and types, the golden window's histogram and, when
    enriched, exactly the truth's null-timestamp rows."""
    src = _table(events_path)
    bad = con.execute(
        f"""
SELECT (SELECT count(*) FROM ((SELECT event_id, eventType, blockNumber FROM {src})
          EXCEPT ALL (SELECT event_id, eventType, blockNumber FROM hm)))
     + (SELECT count(*) FROM ((SELECT event_id, eventType, blockNumber FROM hm)
          EXCEPT ALL (SELECT event_id, eventType, blockNumber FROM {src})))
"""
    ).fetchone()[0]
    lo = truth["golden_lo"]
    hist = dict(
        con.execute(
            f"SELECT eventType, count(*) FROM {src} WHERE blockNumber >= {lo}"
            f" AND blockNumber < {lo + GOLDEN_BLOCKS} GROUP BY 1"
        ).fetchall()
    )
    bad += hist != GOLDEN
    if enriched:
        nulls = con.execute(f"SELECT count(*) FROM {src} WHERE timestamp IS NULL").fetchone()[0]
        bad += nulls != truth["null_ts_events"]
    return bad


# ---------------------------------------------------------------- serving --

def share_pct(n: int, total: int) -> int:
    """n as a whole percentage of total, half rounded up as Spark's
    ``round`` does (Python's ``round`` rounds half to even)."""
    return int(Decimal(repr(n * 100.0 / total)).quantize(Decimal(1), ROUND_HALF_UP))


def serve_mismatch(con, kind: str, args: dict, result) -> bool:
    """One serving response against DuckDB over the truth log."""
    if kind == "get_status":
        counts = dict(con.execute("SELECT eventType, count(*) FROM hm GROUP BY 1").fetchall())
        total = sum(counts.values())
        want = sorted(
            ((t, n, share_pct(n, total)) for t, n in counts.items()),
            key=lambda r: (-r[1], r[0]),
        )
        got = [(r["eventType"], r["count"], r["percentage"]) for r in result["eventCounts"]]
        last = con.execute(
            "SELECT blockNumber FROM hm ORDER BY blockNumber DESC, logIndex DESC LIMIT 1"
        ).fetchone()[0]
        return got != want or result["totalEvents"] != total or result["lastBlock"] != last
    if kind in ("get_events", "count_events"):
        where = f"WHERE eventType = '{args['event_type']}'" if args.get("event_type") else ""
        if kind == "count_events":
            return result != con.execute(f"SELECT count(*) FROM hm {where}").fetchone()[0]
        off = (args["page"] - 1) * args["limit"]
        want = [r[0] for r in con.execute(
            f"SELECT event_id FROM hm {where} ORDER BY blockNumber DESC, logIndex DESC"
            f" LIMIT {args['limit']} OFFSET {off}"
        ).fetchall()]
        return [r["event_id"] for r in result] != want
    if kind == "get_events_for_entry":
        h = args["namehash"]
        want = [r[0] for r in con.execute(
            f"""SELECT event_id FROM hm WHERE
              (eventType = 'Mint' AND (parenthash = '{h}' OR childhash = '{h}'))
           OR (eventType = 'Fact' AND (parenthash = '{h}' OR facthash = '{h}'))
           OR (eventType = 'Note' AND (parenthash = '{h}' OR notehash = '{h}'))
           OR (eventType = 'Gene' AND entry = '{h}')
           OR (eventType = 'Transfer' AND id = '{h}')
            ORDER BY blockNumber, logIndex"""
        ).fetchall()]
        return [r["event_id"] for r in result] != want
    if kind == "get_entry":
        want = con.execute(
            "SELECT label, parent_hash, owner, gene, creation_block, last_update_block"
            f" FROM oracle WHERE namehash = '{args['namehash']}'"
        ).fetchall()
        got = [(r["label"], r["parentHash"], r["owner"], r["gene"], r["creationBlock"],
                r["lastUpdateBlock"]) for r in result]
        return got != want
    raise ValueError(kind)


# ----------------------------------------------------------------- curate --

def curate_mismatches(report: dict, out_dir: str, truth: dict) -> tuple[int, str]:
    """Report arithmetic, planted truth, and the written outputs.

    Returns (mismatches, content digest of the written outputs)."""
    bad = 0
    drops = sum(report[k] for k in ("dropped_c4", "dropped_quality", "dropped_gopher",
                                    "dropped_model", "dropped_dups"))
    bad += report["docs_in"] != drops + report["docs_out"]
    bad += report["docs_in"] != truth["docs_in"]
    bad += report["dropped_quality"] != truth["bad"]
    bad += report["dropped_dups"] != truth["dup_copies"]
    bad += report["span_cut_docs"] != truth["span_cut_docs"]
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    docs = f"read_parquet('{out_dir}/documents.parquet/*.parquet')"
    chunks = f"read_parquet('{out_dir}/chunks.parquet/*.parquet')"
    n_docs, n_train = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE split = 'train') FROM {docs}"
    ).fetchone()
    bad += n_docs != report["docs_out"]
    bad += n_train != report["train_docs"]
    bad += con.execute(f"SELECT count(*) FROM {chunks}").fetchone()[0] != report["chunks"]
    con.execute(f"CREATE TABLE ids AS SELECT doc_id FROM {docs}")
    con.execute("CREATE TABLE planted (cluster INTEGER, doc_id BIGINT)")
    con.executemany("INSERT INTO planted VALUES (?, ?)",
                    [(c, d) for c, members in enumerate(truth["clusters"]) for d in members])
    bad += con.execute(
        "SELECT count(*) FROM (SELECT cluster, count(ids.doc_id) AS n FROM planted"
        " LEFT JOIN ids USING (doc_id) GROUP BY cluster) WHERE n <> 1"
    ).fetchone()[0]
    digest = con.execute(
        f"""SELECT md5(string_agg(r, '|' ORDER BY r)) FROM (
              SELECT doc_id::VARCHAR || split || shard::VARCHAR || md5(text) AS r FROM {docs}
              UNION ALL
              SELECT doc_id::VARCHAR || '#' || chunk_id::VARCHAR || pack_id::VARCHAR
                     || n_tokens::VARCHAR || md5(chunk_text) FROM {chunks})"""
    ).fetchone()[0]
    con.close()
    return bad, digest
