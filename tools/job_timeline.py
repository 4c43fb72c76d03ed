"""Per-job timeline of a Spark event log.

    python3 tools/job_timeline.py <event-log> [--jobs FIRST-LAST]

Reads an uncompressed event log (``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false``; a single file or a rolling-log
directory) and prints one line per job, in submission order:

  job     the Spark job id
  exec    its SQL execution id ("-" for a job outside SQL)
  submit  submission time in ms after the first listed job's
  dur     wall time from submission to completion, ms
  tasks   tasks the job ran
  exec_ms executor run time summed over those tasks, ms
  files   files written by the job's SQL execution, printed on the
          execution's last job (the write job)
  plan    the first physical-plan node of its SQL execution (below
          the AdaptiveSparkPlan wrapper); for a write, the written
          table's directory name

Jobs whose submit time falls before an earlier job's completion ran
concurrently with it. A summary line gives the listed jobs' wall span,
the summed executor time and how many jobs were submitted while
another listed job was still running.
"""

from __future__ import annotations

import argparse
import json
import os
import re


def _log_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n)
            for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]


def _first_node(info: dict) -> str:
    """Name of the first plan node below AdaptiveSparkPlan; a write
    names the directory it writes."""
    while info.get("nodeName") == "AdaptiveSparkPlan" and info.get("children"):
        info = info["children"][0]
    name = info.get("nodeName", "?")
    m = re.search(r"file:(\S+?),", info.get("simpleString", ""))
    if "InsertInto" in name and m:
        name += f" {os.path.basename(m.group(1).rstrip('/'))}"
    return name


def read_jobs(path: str) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, str] = {}
    acc_names: dict[int, str] = {}
    files: dict[int, int] = {}

    def names(node):
        for m in node.get("metrics", []):
            acc_names[m["accumulatorId"]] = m["name"]
        for c in node.get("children", []):
            names(c)

    for p in _log_files(path):
        with open(p) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = {
                        "job": ev["Job ID"], "submit": ev["Submission Time"],
                        "end": None, "tasks": 0, "exec_ms": 0,
                        "exec": int(eid) if eid is not None else None,
                    }
                    for st in ev.get("Stage IDs", []):
                        stage_job[st] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"]))
                    if j is not None:
                        j["tasks"] += 1
                        j["exec_ms"] += (ev.get("Task Metrics") or {}).get(
                            "Executor Run Time", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[ev["executionId"]] = _first_node(ev.get("sparkPlanInfo", {}))
                    names(ev.get("sparkPlanInfo", {}))
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    names(ev.get("sparkPlanInfo", {}))
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, val in ev.get("accumUpdates", []):
                        if acc_names.get(acc) == "number of written files":
                            eid = ev["executionId"]
                            files[eid] = files.get(eid, 0) + val
    out = sorted(jobs.values(), key=lambda j: (j["submit"], j["job"]))
    last_of_exec = {j["exec"]: j["job"] for j in out if j["exec"] is not None}
    for j in out:
        j["plan"] = plans.get(j["exec"], "-")
        j["files"] = (files.get(j["exec"])
                      if last_of_exec.get(j["exec"]) == j["job"] else None)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("event_log")
    ap.add_argument("--jobs", help="FIRST-LAST job id range (either end may be empty)")
    args = ap.parse_args(argv)
    jobs = read_jobs(args.event_log)
    if args.jobs:
        lo, _, hi = args.jobs.partition("-")
        jobs = [j for j in jobs
                if (not lo or j["job"] >= int(lo)) and (not hi or j["job"] <= int(hi))]
    if not jobs:
        print("no jobs")
        return 1
    t0 = jobs[0]["submit"]
    print(f"{'job':>5} {'exec':>5} {'submit':>7} {'dur':>6} {'tasks':>5} "
          f"{'exec_ms':>7} {'files':>5}  plan")
    overlapped, busy_until = 0, None
    for j in jobs:
        end = j["end"] if j["end"] is not None else j["submit"]
        if busy_until is not None and j["submit"] < busy_until:
            overlapped += 1
        busy_until = end if busy_until is None else max(busy_until, end)
        print(f"{j['job']:>5} {'-' if j['exec'] is None else j['exec']:>5} "
              f"{j['submit'] - t0:>7} {end - j['submit']:>6} {j['tasks']:>5} "
              f"{j['exec_ms']:>7} {'' if j['files'] is None else j['files']:>5}  "
              f"{j['plan']}")
    print(f"# {len(jobs)} jobs, wall {busy_until - t0} ms, executor "
          f"{sum(j['exec_ms'] for j in jobs)} ms, {overlapped} submitted while "
          "another listed job ran")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
