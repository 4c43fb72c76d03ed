"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed and the size arguments.
The program only ever sees the files written here; the benchmark keeps
the truth tables next to them for the output checks.

Hypermap inputs start from a star-shaped ``events`` table
(event_id, ts, user_id, event_type, value, props) — the shape of the
star-schema fixtures in TESTDATA.md — so ``plans.hm_derive`` derives the hypermap log from it
and ``hm_entries_oracle_sql`` gives the expected entries verbatim in
DuckDB. The raw logs are ABI-encoded here, in DuckDB SQL, not with the
program's own ``sources.raw_logs.build_raw_logs``: a change to the
program's encoder cannot change the inputs. ``tests/test_gen.py``
cross-checks the two encoders once.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTRACT = "0x000000000044c6b8cb4d8f0f889a3e47664eaeda"
FOREIGN = "0x00000000000000000000000000000000deadbeef"
UNKNOWN_TOPIC0 = "0x" + "ab" * 32

# keccak256 of the seven event signatures (hypermap ABI)
TOPIC0 = {
    "Mint": "0xb59dae5eda69178326b6517bb1aa33e208bf2ac347e30d3a5daf0ecb6249f7b1",
    "Fact": "0x6df41fff09a97e34e341514998993ce9f4542c3fa8358931a96c9fff178c3adb",
    "Note": "0xe40d9f1ec78dfc3c5a94c3edae28058ba092a8f65ce8a199731840a3d20f82f4",
    "Gene": "0xde0ec2494e561683ac09b109d8c4c4a08b4ddbd4fcd23b609fe107e63176ef5a",
    "Transfer": "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef",
    "Zero": "0xa7dcba07b3032d87953767c0eed546a5eb7e52648856b776ba4ad8a1ff1bf3c0",
    "Upgraded": "0xbc7cd75a20ee27fd9adebab32041f755214dbc6bffa90cc0225b39da2e5c2d3b",
}

# hm_derive maps event_id e to block BLOCK0 + e div 5, five logs per block
BLOCK0 = 27_270_000
EVENTS_PER_BLOCK = 5
TS0 = 1_700_000_000

# event ids advance by geometric gaps of this mean: ~20 blocks per event,
# so a CHUNK_BLOCKS bucket (and stream chunk) holds about 5000 events
ID_GAP = 100
# the program's block-bucket size; every stream chunk is one bucket
CHUNK_BLOCKS = 100_000
# files of the bulk (extract dump) layout
BULK_FILES = 8

# the reference's golden sanity range: one 5000-block window whose
# decoded histogram is exactly this (FIXTURES.md §1)
GOLDEN_BLOCKS = 5000
GOLDEN = {"Note": 8, "Transfer": 4, "Mint": 2}
_GOLDEN_STAR = {"click": 8, "signup": 4, "purchase": 2}

# star event_type mix: click→Note > signup→Transfer > purchase→Mint ≫
# view→Fact, other→Gene/Zero/Upgraded
_TYPES = np.array(["click", "signup", "purchase", "view", "refund"])
_TYPE_P = np.array([0.38, 0.22, 0.20, 0.12, 0.08])

# junk share per raw log, by kind
JUNK_FOREIGN = 0.02
JUNK_UNKNOWN = 0.02
REDELIVERED = 0.01
BLOCK_GAPS = 0.01

# sha256 of plans.hm_derive.hm_events_sql("events"): the derivation is
# part of the input definition, so a change to it must show
HM_EVENTS_SQL_SHA256 = "8408ffc05c929a321c78136b384bc4c5b3dba80ee56207b94318c7dbe339d51e"


def hm_sql_digest() -> str:
    from hypermap_etl_spark.plans.hm_derive import hm_events_sql

    return hashlib.sha256(hm_events_sql("events").encode()).hexdigest()


# ------------------------------------------------------------- star table --

def star_events(seed: int, n_events: int) -> tuple[pa.Table, int]:
    """Star ``events`` rows plus the first block of the golden window.

    Event ids advance by geometric gaps of mean ID_GAP, except for a
    hole of GOLDEN_BLOCKS blocks in the middle, which holds only the 14
    golden events. User ids mix a uniform body with a Zipf head, so some
    parents and owners are hot.
    """
    rng = np.random.default_rng([seed, 1])
    eids = np.cumsum(rng.geometric(1.0 / ID_GAP, size=n_events)).astype(np.int64) - 1
    g0 = (int(eids[n_events // 2]) // EVENTS_PER_BLOCK + 1) * EVENTS_PER_BLOCK
    hole = GOLDEN_BLOCKS * EVENTS_PER_BLOCK
    eids[eids >= g0] += hole
    types = rng.choice(_TYPES, size=n_events, p=_TYPE_P)

    g_ids = np.sort(rng.choice(np.arange(g0, g0 + hole), size=14, replace=False))
    g_types = np.array([t for t, k in _GOLDEN_STAR.items() for _ in range(k)])
    rng.shuffle(g_types)
    eids = np.concatenate([eids, g_ids])
    types = np.concatenate([types, g_types])
    n = len(eids)

    n_users = max(64, n // 4)
    uniform = rng.integers(0, n_users, size=n)
    head = (rng.zipf(1.5, size=n) - 1) % n_users
    user = np.where(rng.random(n) < 0.3, head, uniform).astype(np.int64)
    value = np.round(rng.random(n) * 100.0, 3)
    order = np.argsort(eids, kind="stable")
    tbl = pa.table(
        {
            "event_id": eids[order],
            "ts": pa.array((TS0 + eids[order] * 2) * 1_000_000, pa.timestamp("us")),
            "user_id": user[order],
            "event_type": types[order],
            "value": value[order],
            "props": np.char.add("p", (user[order] % 97).astype(str)),
        }
    )
    return tbl, BLOCK0 + g0 // EVENTS_PER_BLOCK


# ----------------------------------------------------------- ABI encoding --

def _word(n: str) -> str:
    return f"lpad(lower(format('{{:x}}', CAST({n} AS BIGINT))), 64, '0')"


def _padded(p: str) -> str:
    return f"rpad({p}, CAST(ceil(length({p}) / 64.0) * 64 AS INTEGER), '0')"


def _utf8_hex(col: str) -> str:
    return f"lower(hex(encode(coalesce({col}, ''))))"


def _addr_topic(col: str) -> str:
    return f"('0x' || lpad(substr({col}, 3), 64, '0'))"


def encode_sql(hm: str) -> str:
    """DuckDB SQL: derived hypermap rows (relation ``hm``) → raw logs.

    Mint data is ABI (bytes label); Fact/Note data is ABI (bytes label,
    bytes data); the indexed arguments ride in topics 1..3.
    """
    lbl = _utf8_hex("label")
    dat = "substr(data, 3)"
    one = f"'0x' || {_word('32')} || {_word(f'length({lbl}) / 2')} || {_padded(lbl)}"
    off2 = f"(96 + CAST(ceil(length({lbl}) / 64.0) AS BIGINT) * 32)"
    two = (
        f"'0x' || {_word('64')} || {_word(off2)} || {_word(f'length({lbl}) / 2')}"
        f" || {_padded(lbl)} || {_word(f'length({dat}) / 2')} || {_padded(dat)}"
    )
    t = TOPIC0
    return f"""
SELECT eid,
  '{CONTRACT}' AS address,
  CAST(blockNumber AS BIGINT) AS blockNumber,
  blockHash, transactionHash,
  CAST(transactionIndex AS INTEGER) AS transactionIndex,
  CAST(logIndex AS INTEGER) AS logIndex,
  CASE eventType
    WHEN 'Mint' THEN ['{t["Mint"]}', parenthash, childhash, labelhash]
    WHEN 'Fact' THEN ['{t["Fact"]}', parenthash, facthash, labelhash]
    WHEN 'Note' THEN ['{t["Note"]}', parenthash, notehash, labelhash]
    WHEN 'Gene' THEN ['{t["Gene"]}', entry, {_addr_topic("gene")}]
    WHEN 'Transfer' THEN ['{t["Transfer"]}', {_addr_topic("from_addr")},
                          {_addr_topic("to_addr")}, id]
    WHEN 'Zero' THEN ['{t["Zero"]}', {_addr_topic("zeroTba")}]
    WHEN 'Upgraded' THEN ['{t["Upgraded"]}', {_addr_topic("implementation")}]
  END AS topics,
  CASE
    WHEN eventType = 'Mint' THEN {one}
    WHEN eventType IN ('Fact', 'Note') THEN {two}
    ELSE '0x'
  END AS data
FROM {hm}
"""


RAW_COLS = "address, blockNumber, blockHash, transactionHash, transactionIndex, logIndex, topics, data"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    return con


def hypermap_inputs(seed: int, n_events: int, out_dir: str, n_chunks: int = 0) -> dict:
    """Write raw logs, the blocks dim and the truth tables under out_dir.

    Layouts:
      - bulk (``n_chunks`` 0): ``raw/`` holds BULK_FILES files split
        by block range, the shape of an extract dump;
      - stream: ``chunks/chunk-NNN.parquet`` hold the last ``n_chunks``
        whole spans of CHUNK_BLOCKS blocks (aligned to multiples of
        it; events past the last whole span are not generated) and
        ``base.parquet`` everything before them. Each file is sorted by
        block, the shape of a chain scan landing one file per fetched
        range, and every chunk covers the same blocks whatever the seed.

    Junk rides in every file: foreign-address copies and unknown-topic0
    logs (both undecodable) and exact re-deliveries of a share of the
    logs, always within the same block, so a chunk stays block-aligned.
    Returns the truth counts the checks compare against.
    """
    os.makedirs(out_dir, exist_ok=True)
    star, golden_lo = star_events(seed, n_events)
    edges = None
    if n_chunks:
        blocks_of = BLOCK0 + star.column("event_id").to_numpy() // EVENTS_PER_BLOCK
        end = (int(blocks_of.max()) + 1) // CHUNK_BLOCKS * CHUNK_BLOCKS
        star = star.filter(pa.array(blocks_of < end))
        edges = [end - (n_chunks - i) * CHUNK_BLOCKS for i in range(n_chunks + 1)]
    rng = np.random.default_rng([seed, 2])
    u = rng.random(star.num_rows)
    kind = np.where(
        u < JUNK_FOREIGN, 1,
        np.where(u < JUNK_FOREIGN + JUNK_UNKNOWN, 2,
                 np.where(u < JUNK_FOREIGN + JUNK_UNKNOWN + REDELIVERED, 3, 0)),
    ).astype(np.int8)
    junk = pa.table({"eid": star.column("event_id"), "kind": kind})

    from hypermap_etl_spark.plans.hm_derive import hm_events_sql

    con = _connect()
    con.register("star_src", star)
    con.register("junk_src", junk)
    con.execute("CREATE TABLE events AS SELECT * FROM star_src")
    con.execute(f"CREATE TABLE hm AS {hm_events_sql('events')}")
    con.execute(f"CREATE TABLE logs AS {encode_sql('hm')}")
    con.execute(
        f"""
CREATE TABLE raw AS
SELECT eid, 0 AS k, {RAW_COLS} FROM logs
UNION ALL
SELECT l.eid, 1, '{FOREIGN}', blockNumber, blockHash, transactionHash || 'ee',
       transactionIndex, logIndex + 200, topics, data
FROM logs l JOIN junk_src j ON j.eid = l.eid WHERE j.kind = 1
UNION ALL
SELECT l.eid, 2, '{CONTRACT}', blockNumber, blockHash, transactionHash || 'ff',
       transactionIndex, logIndex + 100, ['{UNKNOWN_TOPIC0}'], '0x'
FROM logs l JOIN junk_src j ON j.eid = l.eid WHERE j.kind = 2
UNION ALL
SELECT l.eid, 3, {RAW_COLS}
FROM logs l JOIN junk_src j ON j.eid = l.eid WHERE j.kind = 3
"""
    )
    lo, hi = con.execute("SELECT min(blockNumber), max(blockNumber) FROM logs").fetchone()

    # blocks dim: every block that carries logs (what an indexer fetches
    # a timestamp for), ~1% of them missing
    blocks = np.asarray(
        con.execute("SELECT DISTINCT blockNumber FROM raw ORDER BY 1").fetchnumpy()["blockNumber"],
        dtype=np.int64,
    )
    keep = np.random.default_rng([seed, 3]).random(len(blocks)) >= BLOCK_GAPS
    con.register(
        "blocks_src",
        pa.table({"blockNumber": blocks[keep], "timestamp": TS0 + (blocks[keep] - BLOCK0) * 2}),
    )
    con.execute("CREATE TABLE blocks AS SELECT * FROM blocks_src")

    def copy(sql: str, path: str) -> None:
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 100000)")

    copy("SELECT * FROM blocks ORDER BY blockNumber", os.path.join(out_dir, "blocks.parquet"))
    copy("SELECT * FROM events ORDER BY event_id", os.path.join(out_dir, "star_events.parquet"))

    sorted_raw = f"SELECT {RAW_COLS} FROM raw WHERE blockNumber BETWEEN {{a}} AND {{b}} ORDER BY blockNumber, k, logIndex"
    files = []
    if edges is None:
        os.makedirs(os.path.join(out_dir, "raw"), exist_ok=True)
        cuts = np.linspace(lo, hi + 1, BULK_FILES + 1).astype(np.int64)
        for i in range(BULK_FILES):
            p = os.path.join(out_dir, "raw", f"part-{i:03d}.parquet")
            copy(sorted_raw.format(a=cuts[i], b=cuts[i + 1] - 1), p)
            files.append(p)
        base_hi = hi
    else:
        base_hi = edges[0] - 1
        copy(sorted_raw.format(a=lo, b=base_hi), os.path.join(out_dir, "base.parquet"))
        os.makedirs(os.path.join(out_dir, "chunks"), exist_ok=True)
        for i in range(n_chunks):
            p = os.path.join(out_dir, "chunks", f"chunk-{i:03d}.parquet")
            copy(sorted_raw.format(a=edges[i], b=edges[i + 1] - 1), p)
            files.append(p)

    def scalar(sql: str):
        return con.execute(sql).fetchone()[0]

    truth = {
        "n_events": star.num_rows,
        "raw_rows": scalar("SELECT count(*) FROM raw"),
        "target_rows": scalar(f"SELECT count(*) FROM raw WHERE address = '{CONTRACT}'"),
        "decoded_rows": scalar("SELECT count(*) FROM raw WHERE k IN (0, 3)"),
        "null_ts_events": scalar(
            "SELECT count(*) FROM logs WHERE blockNumber NOT IN (SELECT blockNumber FROM blocks)"
        ),
        "type_counts": dict(con.execute("SELECT eventType, count(*) FROM hm GROUP BY 1").fetchall()),
        "golden_lo": golden_lo,
        "golden_hist": dict(
            con.execute(
                f"SELECT eventType, count(*) FROM hm WHERE blockNumber >= {golden_lo}"
                f" AND blockNumber < {golden_lo + GOLDEN_BLOCKS} GROUP BY 1"
            ).fetchall()
        ),
        "block_lo": lo,
        "block_hi": hi,
        "base_hi": base_hi,
        "chunk_events": [
            scalar(f"SELECT count(*) FROM logs WHERE blockNumber BETWEEN {edges[i]} AND {edges[i + 1] - 1}")
            for i in range(n_chunks)
        ] if edges is not None else [],
        "files": files,
        "dir": out_dir,
    }
    con.close()
    return truth


# ----------------------------------------------------------------- corpus --

_STOP = ["the", "and", "of", "is", "to", "in", "a", "on", "for", "with"]
_GERMAN = ["der", "und", "die", "das"]


def _vocab(n: int = 1200) -> list[str]:
    """Fixed pseudo-word vocabulary (independent of the run seed)."""
    rng = np.random.default_rng(7)
    syl = ["ka", "to", "ri", "mon", "sel", "var", "lu", "pe", "dra", "qui",
           "zan", "bo", "fel", "nor", "tis", "gar", "vo", "shi", "len", "mur"]
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(syl, size=rng.integers(2, 4))))
    return sorted(out)


def _sentence_words(rng, vocab, n: int) -> list[str]:
    ws = []
    for _ in range(n):
        ws.append(_STOP[rng.integers(len(_STOP))] if rng.random() < 0.3 else vocab[rng.integers(len(vocab))])
    return ws


def corpus_inputs(seed: int, n_docs: int, out_dir: str) -> dict:
    """Documents (doc_id, text) with planted near-duplicate clusters,
    repeated spans shared by distinct documents, and documents the
    quality/language gate must drop. Returns the planted truth."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab()
    n_bad = n_docs // 12
    n_clusters = n_docs // 25
    n_spans = n_docs // 40
    texts: list[str] = []
    role: list[tuple] = []

    def body(k):
        ws = _sentence_words(rng, vocab, k)
        for j in range(11, len(ws), 12):
            ws[j] = ws[j] + "."
        return ws

    n_base = n_docs - n_bad
    bases = [body(int(rng.integers(80, 160))) for _ in range(n_base)]

    # repeated spans: a 16-word run spliced into 3 distinct plain docs,
    # fenced by words unique to the doc so the repeat is exactly the run
    span_docs = rng.choice(np.arange(n_clusters, n_base), size=(n_spans, 3), replace=False)
    for s in range(n_spans):
        span = [vocab[rng.integers(len(vocab))] for _ in range(16)]
        for d in span_docs[s]:
            at = int(rng.integers(0, len(bases[d])))
            bases[d][at:at] = [f"fence{d}a"] + span + [f"fence{d}b"]

    clusters = []
    for i, ws in enumerate(bases):
        texts.append(" ".join(ws))
        role.append(("base", i))
    # near-dup clusters: docs 0..n_clusters-1 get 1-3 copies, exact or
    # with one word replaced
    for c in range(n_clusters):
        members = [c]
        for _ in range(int(rng.integers(1, 4))):
            ws = list(bases[c])
            if rng.random() < 0.5:
                ws[int(rng.integers(len(ws)))] = vocab[rng.integers(len(vocab))]
            texts.append(" ".join(ws))
            role.append(("copy", c))
            members.append(len(texts) - 1)
        clusters.append(members)
    for i in range(n_bad):
        if i % 2:
            ws = _sentence_words(rng, vocab, int(rng.integers(5, 15)))
        else:
            ws = [(_GERMAN[rng.integers(4)] if rng.random() < 0.3 else vocab[rng.integers(len(vocab))])
                  for _ in range(int(rng.integers(80, 140)))]
        texts.append(" ".join(ws))
        role.append(("bad", i))

    perm = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[perm] = np.arange(len(texts), dtype=np.int64) * 7 + 3
    tbl = pa.table({"doc_id": doc_id, "text": texts}).take(pa.array(np.argsort(doc_id)))
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(tbl, path, row_group_size=max(1, len(texts) // 8))
    return {
        "path": path,
        "docs_in": len(texts),
        "bad": n_bad,
        "bad_ids": sorted(int(doc_id[i]) for i, r in enumerate(role) if r[0] == "bad"),
        "dup_copies": sum(len(m) - 1 for m in clusters),
        "clusters": [[int(doc_id[m]) for m in members] for members in clusters],
        "span_cut_docs": 2 * n_spans,
    }
