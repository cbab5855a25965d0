#!/usr/bin/env python3
"""Per-job ledger of a Spark event log, one block per job group.

    python3 tools/job_ledger.py EVENT_LOG [--group TEXT]

EVENT_LOG is what Spark wrote with spark.eventLog.enabled=true: one
application's log file, its rolling log directory (`eventlog_v2_<app>`,
whose `events_<n>_<app>` parts are read in order), or the event log
directory itself (its newest log is read). A file whose name ends in .zstd
or .zst is read through the `zstd` binary. --group keeps the groups whose
id or description contains TEXT.

For each job group (`SparkContext.setJobGroup`; perfbench runs every span,
the timed iteration included, under a group of its own) it prints each job
in submission order: its final stage's name, the shuffle bytes its tasks
wrote and their peak execution memory. A stage counts toward the first job
that lists it, as perfbench's listener counts it. A stage that AQE submits
on its own thread is named by the SQL query's description and the operator
it runs. The group's last line holds the totals perfbench reports for it:
spark_jobs, shuffle_mb and peak_task_mem_mb.
"""

import argparse
import json
import os
import re
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def log_files(path):
    """The files of one application's event log, in order."""
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if not n.startswith(".")]
    parts = [n for n in names if n.startswith("events_")]
    if parts:
        return [os.path.join(path, n)
                for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    if not names:
        sys.exit(f"job_ledger: no event log in {path}")
    return log_files(max((os.path.join(path, n) for n in names), key=os.path.getmtime))


def events(path):
    for f in log_files(path):
        if f.endswith((".zstd", ".zst")):
            text = subprocess.run(["zstd", "-dcq", f], check=True,
                                  capture_output=True).stdout.decode("utf-8")
        else:
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
        for line in text.splitlines():
            if line.strip():
                yield json.loads(line)


class Job:
    def __init__(self, job_id, name):
        self.id = job_id
        self.name = name
        self.shuffle_bytes = 0
        self.peak_bytes = 0


def job_name(e, queries):
    infos = e.get("Stage Infos", [])
    if not infos:
        return "a job of no partitions"
    name = max(infos, key=lambda s: s["Stage ID"])["Stage Name"]
    if "withThreadLocalCaptured" not in name:
        return name
    props = e.get("Properties") or {}
    op = re.search(r'"name":"([^"]*)"', props.get("spark.rdd.scope", ""))
    query = queries.get(str(props.get("spark.sql.execution.id")), "a cache fill")
    return f"{op.group(1) if op else '?'} stage of {query}"


def ledger(evs):
    """(group id, description, [Job]) per group, in order of first job."""
    queries, groups, stage_job = {}, {}, {}
    for e in evs:
        kind = e.get("Event")
        if kind == SQL_START:
            queries[str(e["executionId"])] = e.get("description", "")
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            gid = props.get("spark.jobGroup.id", "")
            desc = props.get("spark.job.description", "")
            group = groups.setdefault(gid, (gid, desc, []))
            job = Job(e["Job ID"], job_name(e, queries))
            group[2].append(job)
            for s in e.get("Stage IDs", []):
                stage_job.setdefault(s, job)
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e.get("Stage ID"))
            m = e.get("Task Metrics")
            if job is None or not m:
                continue
            job.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            job.peak_bytes = max(job.peak_bytes, m.get("Peak Execution Memory", 0))
    return list(groups.values())


def render(groups, match=None):
    out = []
    for gid, desc, jobs in groups:
        if match and match not in gid and match not in desc:
            continue
        out.append(f"group {gid or '(none)'}" + (f" ({desc})" if desc else ""))
        for i, j in enumerate(jobs, 1):
            out.append(f"  {i:3d}  job {j.id:<5d} shuffle {j.shuffle_bytes:>10d} B"
                       f"  peak {j.peak_bytes:>10d} B  {j.name}")
        shuffle = sum(j.shuffle_bytes for j in jobs)
        peak = max((j.peak_bytes for j in jobs), default=0)
        out.append(f"  spark_jobs {len(jobs)}  shuffle_mb {shuffle / 1e6:.6f}"
                   f"  peak_task_mem_mb {peak / 1e6:.6f}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--group", help="keep groups whose id or description contains this")
    a = ap.parse_args()
    print(render(ledger(events(a.log)), a.group))


if __name__ == "__main__":
    main()
