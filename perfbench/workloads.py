"""The workloads. Each drives the program only through its public
functions and keeps the truth it needs to check the outputs.

Every workload follows generate → setup → measure → check. ``measure``
repeats whole operations until at least ``seconds`` have passed; an
operation is a backfill pass or a catch-up run. The end-to-end metrics
have the same names on every workload; README.md says what each means
where. The serving and curation layers are measured by probes at the
end of the traced runs.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import threading
import time

import numpy as np

import checks
import gen
from spans import Tracer, self_times

# Input sizes keep one run of a listed workload under a minute on a
# 4-core host, so the full run schedule (4 + 22 runs per listed workload)
# fits the benchmark's 3420 s budget.
BACKFILL_EVENTS = 80_000
CATCHUP_EVENTS = 40_000
# the first chunk is the set-up's warm-up batch, the others are timed
CATCHUP_CHUNKS = 3
PROBE_REQUESTS = 30
PROBE_DOCS = 300

END_TO_END = [
    ("setup_s", "s"),
    ("items_per_s", "1/s"),
    ("op_p50_ms", "ms"),
]

PER_LAYER = [
    ("failed_ratio", "ratio"),
    ("process.peak_rss_mb", "MB"),
    ("sources.bytes_read", "B/op"),
    ("sources.files_read", "count/op"),
    ("decode.busy_s", "s/op"),
    ("decode.yield", "ratio"),
    ("enrich.busy_s", "s/op"),
    ("enrich.null_ts_rows", "count"),
    ("merge.wall_s", "s/call"),
    ("merge.jobs", "count/call"),
    ("merge.files_written", "count/call"),
    ("merge.partitions_rewritten", "count/call"),
    ("merge.bytes_written_per_user_byte", "ratio"),
    ("fold.wall_s", "s/call"),
    ("fold.shuffle_write_bytes", "B/call"),
    ("fold.spill_bytes", "B/call"),
    ("fold.peak_exec_mem_mb", "MB"),
    ("delta.wall_s", "s/call"),
    ("delta.jobs", "count/call"),
    ("delta.driver_s", "s/call"),
    ("delta.stored_rows_touched", "count/call"),
    ("stream.trigger_ms", "ms"),
    ("stream.add_batch_ms", "ms"),
    ("stream.overhead_ms", "ms"),
    ("stream.glue_s", "s/batch"),
    ("serve.get_status.p50_ms", "ms"),
    ("serve.get_events.p50_ms", "ms"),
    ("serve.count_events.p50_ms", "ms"),
    ("serve.get_events_for_entry.p50_ms", "ms"),
    ("serve.get_entry.p50_ms", "ms"),
    ("serve.jobs_per_request", "count"),
    ("curate.pipeline_s", "s/op"),
    ("curate.write_s", "s/op"),
    ("curate.jobs", "count/op"),
    ("curate.shuffle_write_bytes", "B/op"),
    ("curate.dedup_yield", "ratio"),
    ("spark.jobs", "count/op"),
    ("spark.stages", "count/op"),
    ("spark.tasks", "count/op"),
    ("spark.executor_run_s", "s/op"),
    ("spark.gc_s", "s/op"),
    ("spark.shuffle_read_bytes", "B/op"),
    ("spark.shuffle_write_bytes", "B/op"),
    ("spark.spill_bytes", "B/op"),
    ("spark.peak_exec_mem_mb", "MB"),
    ("spark.driver_s", "s/op"),
    ("trace.op_p50_ms", "ms"),
    ("trace.overhead_ms", "ms"),
]

SERVE_KINDS = ["get_status", "get_events", "count_events", "get_events_for_entry", "get_entry"]


def p50(xs):
    return statistics.median(xs)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(f))


# ------------------------------------------------------------ peak memory --

def _tree_rss_kb(root: int) -> int:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


class RssSampler:
    """Peak RSS of this process and its descendants (the Spark JVM and
    any Python workers), sampled every 100 ms while running."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = None

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(0.1)

    def __enter__(self):
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))


# ------------------------------------------------------------------ base --

class Workload:
    def __init__(self, seed: int, work: str, trace: bool):
        self.seed = seed
        self.work = work
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.lat_s: list[float] = []  # per-operation latency
        self.items = 0  # items completed in the timed phase
        self.busy_s = 0.0  # wall the items took
        self.setup_s = 0.0
        self.peak_rss_mb = 0.0
        self.untraced_p50 = None
        self.notes: dict = {}
        self.spark = None

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark, session_s: float) -> None:
        self.spark = spark
        self.tracer.spark = spark
        t = time.perf_counter()
        self._setup()
        self.setup_s = session_s + (time.perf_counter() - t)

    def measure(self, seconds: float) -> None:
        if not self.tracer.enabled:
            self._measure(seconds)
            return
        # the traced window sits between two untraced ones, so the
        # warm-up drift over the three cancels out of the overhead
        untraced = []
        with RssSampler() as rss:
            for traced in (False, True, False):
                self.lat_s, self.items, self.busy_s = [], 0, 0.0
                self.tracer.enabled = traced
                if traced:
                    self._wrap()
                    try:
                        with self.tracer.span("measure"):
                            self._measure(seconds)
                    finally:
                        self.tracer.unwrap()
                    window = (self.lat_s, self.items, self.busy_s)
                else:
                    self._measure(seconds)
                    untraced.append(p50(self.lat_s))
        self.lat_s, self.items, self.busy_s = window
        self.untraced_p50 = statistics.mean(untraced)
        self.tracer.enabled = True
        self.peak_rss_mb = rss.peak_kb / 1024.0

    def check(self) -> None:
        raise NotImplementedError

    def record(self, ok: bool, what: str = "op") -> None:
        """One attempted operation or check; failures are named in notes."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.setdefault("failed", []).append(what)

    def _setup(self) -> None:
        raise NotImplementedError

    def _measure(self, seconds: float) -> None:
        raise NotImplementedError

    def _wrap(self) -> None:
        """Wrap the program's module attributes for the traced window."""

    def probe(self) -> None:
        """Traced run only: extra layer measurements after the window."""

    def e2e_metrics(self) -> dict:
        vals = {
            "setup_s": self.setup_s,
            "items_per_s": self.items / self.busy_s,
            "op_p50_ms": p50(self.lat_s) * 1000.0,
        }
        return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}

    def layer_metrics(self, stats: dict) -> dict:
        """Per-layer table from the traced run's spans and parsed event
        log. Layers a workload does not reach read 0."""
        spans = self.tracer.spans
        by = stats["by_span"]
        slots = int(os.environ["SPARK_GRAFT_CPUS"])
        n_ops = max(1, len(self.lat_s))
        measure = [s for s in spans if s["name"] == "measure"][-1]
        sub = _subtree(spans, measure["id"])
        tot = _sum_stats([by.get(i, {}) for i in sub])
        ops = [s for s in spans if s["name"] == "op" and s["id"] in sub] or [measure]
        wall = sum(s["end"] - s["start"] for s in ops)
        v = {name: 0.0 for name, _ in PER_LAYER}
        v["failed_ratio"] = self.failed / max(1, self.attempted)
        v["process.peak_rss_mb"] = self.peak_rss_mb
        v["sources.bytes_read"] = tot["bytes_read"] / n_ops
        v["sources.files_read"] = tot["files_read"] / n_ops
        v["spark.jobs"] = tot["jobs"] / n_ops
        v["spark.stages"] = tot["stages"] / n_ops
        v["spark.tasks"] = tot["tasks"] / n_ops
        v["spark.executor_run_s"] = tot["executor_run_ms"] / 1000.0 / n_ops
        v["spark.gc_s"] = tot["gc_ms"] / 1000.0 / n_ops
        v["spark.shuffle_read_bytes"] = tot["shuffle_read_bytes"] / n_ops
        v["spark.shuffle_write_bytes"] = tot["shuffle_write_bytes"] / n_ops
        v["spark.spill_bytes"] = tot["spill_bytes"] / n_ops
        v["spark.peak_exec_mem_mb"] = tot["peak_exec_mem"] / 2**20
        v["spark.driver_s"] = (wall - tot["executor_run_ms"] / 1000.0 / slots) / n_ops
        v["trace.op_p50_ms"] = p50(self.lat_s) * 1000.0
        v["trace.overhead_ms"] = (p50(self.lat_s) - self.untraced_p50) * 1000.0

        def layer(name, anywhere=False):
            """Spans of one layer in the traced window; with ``anywhere``,
            those of the probes after it when the window has none."""
            ss = [s for s in spans if s["name"] == name and s["id"] in sub]
            if anywhere and not ss:
                ss = [s for s in spans if s["name"] == name and s["id"] not in sub
                      and s["start"] > measure["end"]]
            st = _sum_stats([by.get(i, {}) for s in ss for i in _subtree(spans, s["id"])])
            return ss, st, sum(s["end"] - s["start"] for s in ss)

        ss, st, w = layer("merge")
        if ss:
            n = len(ss)
            user = sum(s.get("user_bytes", 0) for s in ss)
            v["merge.wall_s"] = w / n
            v["merge.jobs"] = st["jobs"] / n
            v["merge.files_written"] = st["files_written"] / n
            v["merge.partitions_rewritten"] = st["partitions_written"] / n
            v["merge.bytes_written_per_user_byte"] = st["bytes_written"] / user if user else 0.0
        ss, st, w = layer("fold")
        if ss:
            n = len(ss)
            v["fold.wall_s"] = w / n
            v["fold.shuffle_write_bytes"] = st["shuffle_write_bytes"] / n
            v["fold.spill_bytes"] = st["spill_bytes"] / n
            v["fold.peak_exec_mem_mb"] = st["peak_exec_mem"] / 2**20
        ss, st, w = layer("delta")
        if ss:
            n = len(ss)
            v["delta.wall_s"] = w / n
            v["delta.jobs"] = st["jobs"] / n
            v["delta.driver_s"] = (w - st["executor_run_ms"] / 1000.0 / slots) / n
            v["delta.stored_rows_touched"] = sum(
                s.get("stored_rows", 0) for s in layer("delta.merge")[0]) / n
        ss, st, _ = layer("serve", anywhere=True)
        if ss:
            v["serve.jobs_per_request"] = st["jobs"] / len(ss)
        for kind in SERVE_KINDS:
            lat = [s["end"] - s["start"] for s in ss if s["kind"] == kind]
            if lat:
                v[f"serve.{kind}.p50_ms"] = p50(lat) * 1000.0
        ss, _, _ = layer("curate", anywhere=True)
        if ss:
            per = [_sum_stats([by.get(i, {}) for i in _subtree(spans, s["id"])]) for s in ss]
            rep = ss[-1]["report"]
            v["curate.pipeline_s"] = p50([s["pipeline_s"] for s in ss])
            v["curate.write_s"] = p50([s["write_s"] for s in ss])
            v["curate.jobs"] = p50([p["jobs"] for p in per])
            v["curate.shuffle_write_bytes"] = p50([p["shuffle_write_bytes"] for p in per])
            v["curate.dedup_yield"] = rep["docs_out"] / max(1, rep["docs_out"] + rep["dropped_dups"])
        self._layer_extra(v, spans, sub)
        self.notes["self_time_s"] = _self_time_by_name(spans, sub)
        return {name: {"value": v[name], "unit": u} for name, u in PER_LAYER}

    def _layer_extra(self, v, spans, sub) -> None:
        pass


def _subtree(spans, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


def _sum_stats(items: list[dict]) -> dict:
    keys = ("jobs", "stages", "tasks", "executor_run_ms", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "files_written",
            "bytes_written", "partitions_written", "files_read", "bytes_read")
    out = {k: sum(d.get(k, 0) for d in items) for k in keys}
    out["peak_exec_mem"] = max([d.get("peak_exec_mem", 0) for d in items] or [0])
    return out


def _self_time_by_name(spans, sub) -> dict:
    st = self_times([s for s in spans if s["id"] in sub])
    out: dict[str, float] = {}
    for s in spans:
        if s["id"] in st:
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return {k: round(x, 4) for k, x in sorted(out.items())}


# ------------------------------------------------------- hypermap shared --

def backfill_pass(spark, tracer, raw_dir: str, blocks: str, events_path: str,
                  entries_path: str, user_bytes: int) -> dict:
    """One cold indexer pass with cli.cmd_index's data flow: cmd_extract's
    persisted decode, skipped count, timestamp enrich, per-type counts
    and MERGE (here into a block-bucketed events table), then the full
    fold and an entry-bucketed entries write. Returns the skipped count
    and the per-type counts.

    Read, decode and enrich only build lazy plans. The decode runs in the
    skipped count, which fills the persisted frame; the enrich join runs
    in the per-type counts and again inside the MERGE. So the ``extract``
    span covers read through MERGE, and its ``merge`` child covers the
    enrich join from the persisted decode plus the MERGE's dedupe, write
    and, on the cold path, a row count that runs that plan once more.
    The traced run's noop-sink differentials measure decode and enrich
    on their own."""
    from pyspark.sql import functions as F

    from hypermap_etl_spark.operators.decode import decode_raw_logs
    from hypermap_etl_spark.operators.enrich import enrich_timestamps
    from hypermap_etl_spark.operators.materialize import materialize_entries, with_entry_bucket
    from hypermap_etl_spark.operators.merge import merge_into_parquet, with_block_bucket
    from hypermap_etl_spark.sources.raw_logs import read_raw_logs

    with tracer.span("extract"):
        decoded = decode_raw_logs(read_raw_logs(spark, raw_dir)).persist()
        try:
            skipped = decoded.filter(F.col("eventType").isNull()).count()
            events = with_block_bucket(enrich_timestamps(
                decoded.filter(F.col("eventType").isNotNull()), spark.read.parquet(blocks)))
            counts = {r["eventType"]: r["count"]
                      for r in events.groupBy("eventType").count().collect()}
            with tracer.span("merge", user_bytes=user_bytes):
                merge_into_parquet(spark, events_path, events, ["event_id"],
                                   partition_col="block_bucket")
        finally:
            decoded.unpersist()
    with tracer.span("fold"):
        entries = materialize_entries(spark.read.parquet(events_path))
        (with_entry_bucket(entries).write.mode("overwrite")
         .partitionBy("entry_bucket").parquet(entries_path))
    return {"skipped": skipped, "counts": counts}


def land(files: list[str], dst_dir: str, mtime0: float) -> None:
    """Copy chunk files into a stream source with strictly increasing
    mtimes in block order (the chain-scan writer's layout)."""
    os.makedirs(dst_dir, exist_ok=True)
    for i, f in enumerate(files):
        dst = os.path.join(dst_dir, os.path.basename(f))
        shutil.copyfile(f, dst)
        os.utime(dst, (mtime0 + i, mtime0 + i))


def run_index_stream(spark, state: str):
    """start_index_stream over ``state/src`` with availableNow and one
    file per trigger; returns (wall seconds, data-batch progresses)."""
    from hypermap_etl_spark.streaming import scan

    t = time.perf_counter()
    q = scan.start_index_stream(
        spark, os.path.join(state, "src"), os.path.join(state, "events"),
        os.path.join(state, "entries"), os.path.join(state, "ckpt"),
        trigger={"availableNow": True}, max_files_per_trigger=1,
    )
    q.awaitTermination()
    wall = time.perf_counter() - t
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return wall, [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]


def wrap_stream_layers(tracer: Tracer, user_bytes) -> None:
    """Spans around the calls start_index_stream makes per batch.
    ``user_bytes()`` gives the raw bytes of the batch the next events
    MERGE writes."""
    from hypermap_etl_spark.operators import materialize, merge
    from hypermap_etl_spark.streaming import scan

    tracer.wrap(scan, "merge_into_parquet", "merge",
                before=lambda: {"user_bytes": user_bytes()})
    tracer.wrap(scan, "rebuild_key_index", "keyidx.rebuild")
    tracer.wrap(materialize, "incremental_entries_delta", "delta")
    tracer.wrap(materialize, "incremental_entries_update", "replay")
    tracer.wrap(merge, "merge_into_parquet", "delta.merge",
                annotate=lambda res: {"stored_rows": res.get("modifiedCount", 0)})
    tracer.wrap(merge, "compact_small_table", "compact")
    tracer.wrap(merge, "compact_partitions", "compact")


def check_hypermap(wl: Workload, events_path: str, entries_path: str, enriched: bool) -> None:
    con = checks.connect(wl.truth["dir"])
    wl.record(checks.events_mismatches(con, events_path, wl.truth, enriched) == 0, "events")
    wl.record(checks.entries_mismatches(con, entries_path) == 0, "entries")
    con.close()
    wl.record(gen.hm_sql_digest() == gen.HM_EVENTS_SQL_SHA256, "hm_sql_pin")


# ------------------------------------------------------------ serving API --

def serve_requests(rng, keys: list[str], n: int) -> list[tuple]:
    """n (kind, args) requests: status, type-filtered first pages and
    unfiltered deep pages of events, counts and entry views, entry keys
    Zipf-skewed."""
    kinds = rng.choice(
        ["get_status", "get_events", "get_events_deep", "count_events",
         "get_events_for_entry", "get_entry"],
        size=n, p=[0.1, 0.25, 0.15, 0.15, 0.2, 0.15],
    )
    zipf = (rng.zipf(1.2, size=n) - 1) % len(keys)
    types = rng.choice(list(gen.TOPIC0), size=n)
    pages = rng.integers(20, 200, size=n)
    out = []
    for i in range(n):
        k = str(kinds[i])
        if k == "get_events":
            args = {"event_type": str(types[i]), "page": 1, "limit": 20}
        elif k == "get_events_deep":
            k, args = "get_events", {"event_type": None, "page": int(pages[i]), "limit": 20}
        elif k == "count_events":
            args = {"event_type": str(types[i]) if i % 2 else None}
        elif k in ("get_events_for_entry", "get_entry"):
            args = {"namehash": keys[int(zipf[i])]}
        else:
            args = {}
        out.append((k, args))
    return out


def serve_call(events, entries, kind: str, args: dict):
    """One request through plans.serving, response fully collected."""
    from hypermap_etl_spark.plans import serving

    if kind == "get_status":
        return serving.get_status(events)
    if kind == "get_events":
        return serving.get_events(events, args["event_type"], None, args["page"], args["limit"]).collect()
    if kind == "count_events":
        return serving.count_events(events, args["event_type"])
    if kind == "get_events_for_entry":
        return serving.get_events_for_entry(events, args["namehash"]).collect()
    return serving.get_entry(entries, args["namehash"]).collect()


def oracle_keys(truth_dir: str) -> list[str]:
    con = checks.connect(truth_dir)
    keys = [r[0] for r in con.execute("SELECT namehash FROM oracle ORDER BY namehash").fetchall()]
    con.close()
    return keys


# --------------------------------------------------------------- backfill --

class Backfill(Workload):
    """Cold indexer runs over a bulk extract dump."""

    def generate(self):
        self.truth = gen.hypermap_inputs(self.seed, BACKFILL_EVENTS, os.path.join(self.work, "in"))
        self.raw_bytes = _dir_bytes(os.path.join(self.work, "in", "raw"))
        self.out = os.path.join(self.work, "out")

    def _pass(self, inputs: dict, out: str) -> dict:
        shutil.rmtree(out, ignore_errors=True)
        return backfill_pass(self.spark, self.tracer, os.path.join(inputs["dir"], "raw"),
                      os.path.join(inputs["dir"], "blocks.parquet"),
                      os.path.join(out, "events"), os.path.join(out, "entries"),
                      self.raw_bytes)

    def _setup(self):
        # the warm-up pass runs over the same input as the timed passes
        self._pass(self.truth, os.path.join(self.work, "warm_out"))

    def _measure(self, seconds):
        # at least two passes, so that a run whose first pass overruns
        # ``seconds`` still reports the median of two
        t0 = time.perf_counter()
        while len(self.lat_s) < 2 or time.perf_counter() - t0 < seconds:
            shutil.rmtree(self.out, ignore_errors=True)
            t = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    rep = self._pass(self.truth, self.out)
                # the pass's own report: undecodable contract logs and
                # decoded rows (re-deliveries included, before the MERGE
                # dedupes them)
                ok = (rep["skipped"] == self.truth["target_rows"] - self.truth["decoded_rows"]
                      and sum(rep["counts"].values()) == self.truth["decoded_rows"])
            except Exception as e:  # counted as a failed operation
                self.notes.setdefault("errors", []).append(repr(e)[:300])
                ok = False
            d = time.perf_counter() - t
            self.record(ok, "pass")
            self.lat_s.append(d)
            self.items += self.truth["n_events"]
            self.busy_s += d

    def check(self):
        check_hypermap(self, os.path.join(self.out, "events"), os.path.join(self.out, "entries"), True)

    def probe(self):
        """Noop-sink differentials for the lazy scan/decode/enrich layers
        (read, read+decode, read+decode+enrich, each fully executed),
        their counts against the generator, and two curation runs over a
        small corpus for the corpus layer, whose outputs must match."""
        from pyspark.sql import functions as F

        from hypermap_etl_spark.operators.decode import decode_raw_logs
        from hypermap_etl_spark.operators.enrich import enrich_timestamps
        from hypermap_etl_spark.sources.raw_logs import read_raw_logs

        dim = self.spark.read.parquet(os.path.join(self.truth["dir"], "blocks.parquet"))

        def timed(df, reps=3):
            ts = []
            for _ in range(reps):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t)
            return p50(ts)

        raw = read_raw_logs(self.spark, os.path.join(self.truth["dir"], "raw"))
        dec = decode_raw_logs(raw)
        t_read = timed(raw)
        t_dec = timed(dec)
        t_enr = timed(enrich_timestamps(dec.filter(F.col("eventType").isNotNull()), dim))
        self.diff = {"decode": t_dec - t_read, "enrich": t_enr - t_dec}
        rows_in = raw.count()
        decoded = dec.filter(F.col("eventType").isNotNull()).count()
        self.yield_ = decoded / rows_in
        self.record(rows_in == self.truth["target_rows"] and decoded == self.truth["decoded_rows"],
                    "decode_yield")
        ev = self.spark.read.parquet(os.path.join(self.out, "events"))
        self.null_ts = ev.filter(F.col("timestamp").isNull()).count()
        self.record(self.null_ts == self.truth["null_ts_events"], "null_ts")

        corpus = gen.corpus_inputs(self.seed, PROBE_DOCS, os.path.join(self.work, "probe_in"))
        digests = set()
        for i in range(2):
            run = curate_run(self.spark, self.tracer, corpus["path"],
                             os.path.join(self.work, f"probe_out{i}"))
            bad, digest = checks.curate_mismatches(run["report"], run["out"], corpus)
            self.record(bad == 0, "curate_report")
            digests.add(digest)
        # the same seed must give the same outputs, run after run
        self.record(len(digests) == 1, "curate_same_output")

    def _layer_extra(self, v, spans, sub):
        v["decode.busy_s"] = self.diff["decode"]
        v["enrich.busy_s"] = self.diff["enrich"]
        v["decode.yield"] = self.yield_
        v["enrich.null_ts_rows"] = self.null_ts


# ---------------------------------------------------------------- catchup --

class Catchup(Workload):
    """Continuous mode catching up: block-aligned chunk files through
    start_index_stream (availableNow, one file per trigger, delta path),
    every iteration from an identical restored post-setup state."""

    def generate(self):
        self.truth = gen.hypermap_inputs(self.seed, CATCHUP_EVENTS, os.path.join(self.work, "in"),
                                         n_chunks=CATCHUP_CHUNKS)
        self.warm_chunk, *self.chunks = self.truth["files"]
        self.chunk_bytes = [os.path.getsize(f) for f in self.chunks]
        self.state = os.path.join(self.work, "state")
        self.snap = os.path.join(self.work, "snap")

    def _setup(self):
        # the base lands as one file and the stream indexes it (delta
        # bootstrap), then one chunk batch warms the catch-up path: the
        # first timed batch after the bootstrap alone ran 5-25% slower
        # than the second
        self.mtime0 = time.time() - 3600
        land([os.path.join(self.truth["dir"], "base.parquet"), self.warm_chunk],
             os.path.join(self.state, "src"), self.mtime0)
        self.notes["bootstrap_s"] = run_index_stream(self.spark, self.state)[0]
        shutil.copytree(self.state, self.snap)

    def _measure(self, seconds):
        t0 = time.perf_counter()
        while not self.lat_s or time.perf_counter() - t0 < seconds:
            shutil.rmtree(self.state)
            shutil.copytree(self.snap, self.state)
            land(self.chunks, os.path.join(self.state, "src"), self.mtime0 + 2)
            self._user_bytes = iter(self.chunk_bytes)
            t = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    wall, prog = run_index_stream(self.spark, self.state)
                ok = len(prog) == len(self.chunks)
            except Exception as e:  # counted as a failed operation
                self.notes.setdefault("errors", []).append(repr(e)[:300])
                wall, prog, ok = time.perf_counter() - t, [], False
            self.record(ok, "batches")
            if self.tracer.enabled:
                self.progress = prog
            self.lat_s.extend(p["durationMs"]["triggerExecution"] / 1000.0 for p in prog)
            self.items += sum(self.truth["chunk_events"][1:])
            self.busy_s += wall

    def _wrap(self):
        wrap_stream_layers(self.tracer, lambda: next(self._user_bytes, 0))

    def check(self):
        check_hypermap(self, os.path.join(self.state, "events"),
                       os.path.join(self.state, "entries"), False)

    def probe(self):
        """A closed-loop burst of serving requests over the tables the
        catch-up left behind, for the serving layer; every response is
        checked against DuckDB over the truth log."""
        events = self.spark.read.parquet(os.path.join(self.state, "events"))
        entries = self.spark.read.parquet(os.path.join(self.state, "entries"))
        pool = serve_requests(np.random.default_rng([self.seed, 7]),
                              oracle_keys(self.truth["dir"]), 20 * PROBE_REQUESTS)
        per_kind = PROBE_REQUESTS // len(SERVE_KINDS)
        reqs = [r for k in SERVE_KINDS for r in [r for r in pool if r[0] == k][:per_kind]]
        done = []
        for kind, args in reqs:
            with self.tracer.span("serve", kind=kind):
                done.append((kind, args, serve_call(events, entries, kind, args)))
        con = checks.connect(self.truth["dir"])
        for kind, args, res in done:
            self.record(not checks.serve_mismatch(con, kind, args, res), f"serve:{kind}")
        con.close()

    def _layer_extra(self, v, spans, sub):
        prog = self.progress
        trig = [p["durationMs"]["triggerExecution"] for p in prog]
        add = [p["durationMs"].get("addBatch", 0) for p in prog]
        v["stream.trigger_ms"] = p50(trig)
        v["stream.add_batch_ms"] = p50(add)
        v["stream.overhead_ms"] = p50([t - a for t, a in zip(trig, add)])
        last_op = [s for s in spans if s["name"] == "op" and s["id"] in sub][-1]
        in_op = _subtree(spans, last_op["id"])
        inner = sum(s["end"] - s["start"] for s in spans
                    if s["id"] in in_op and s["name"] in ("merge", "delta"))
        v["stream.glue_s"] = (sum(add) / 1000.0 - inner) / max(1, len(prog))


# ----------------------------------------------------------------- curate --

def curate_run(spark, tracer, path: str, out: str) -> dict:
    """curate_pipeline with its report (CLI defaults, cut_dup_spans=True),
    writing documents and chunks parquet as cli.cmd_curate does."""
    from hypermap_etl_spark.operators.corpus import curate_pipeline
    from hypermap_etl_spark.util import release_persisted

    shutil.rmtree(out, ignore_errors=True)
    docs = spark.read.parquet(path)
    with tracer.span("curate") as rec:
        t = time.perf_counter()
        documents, chunks, report = curate_pipeline(
            docs.select("doc_id", "text"), cut_dup_spans=True, with_report=True)
        t1 = time.perf_counter()
        documents.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
        chunks.write.mode("overwrite").parquet(os.path.join(out, "chunks.parquet"))
        t2 = time.perf_counter()
        run = {"report": report, "pipeline_s": t1 - t, "write_s": t2 - t1, "out": out}
        if rec is not None:
            rec.update(run)
    release_persisted()
    return run


WORKLOADS = {"backfill": Backfill, "catchup": Catchup}
