#!/usr/bin/env python3
"""Self-test for the event-log ledger (run from the repo root:
`python3 tools/test_job_ledger.py`). Writes a small event log and checks
that `tools/job_ledger.py`:

  1. groups jobs by job group, in submission order, with the group's
     description;
  2. names a job by its final stage, an AQE stage by its operator and the
     SQL query's description, and a job of no partitions as such;
  3. counts a stage toward the first job that lists it, so a skipped
     stage's tasks are not counted twice;
  4. totals spark_jobs, shuffle_mb and peak_task_mem_mb per group as
     perfbench does;
  5. reads the same log through `zstd`, as a rolling log directory split
     in two parts, and as the newest log of an event log directory, and
     keeps only the groups --group names.

Exit 0 when every case holds, else 1 with the failing case named.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

TOOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "job_ledger.py")


def job(job_id, stages, group=None, desc=None, props=None):
    p = dict(props or {})
    if group:
        p["spark.jobGroup.id"] = group
        p["spark.job.description"] = desc
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage Infos": [{"Stage ID": s, "Stage Name": n} for s, n in stages],
            "Stage IDs": [s for s, _ in stages], "Properties": p}


def task(stage, shuffle, peak):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Peak Execution Memory": peak,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


AQE = "withThreadLocalCaptured at SQLExecution.scala:1"
EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 7, "description": "collect at Curate.scala:184"},
    job(0, [(0, "treeAggregate at Dedup.scala:393")], "perfbench-span-4", "iteration"),
    task(0, 0, 100), task(0, 0, 300),
    job(1, [(1, AQE)], "perfbench-span-4", "iteration",
        {"spark.rdd.scope": '{"id":"12","name":"Exchange"}', "spark.sql.execution.id": "7"}),
    # job 2 lists stage 1 too (a stage it waits for, or skips): stage 1's
    # tasks stay with job 1, also those that end after job 2 started
    task(1, 1000, 50),
    job(2, [(1, AQE), (2, "collect at Curate.scala:184")], "perfbench-span-4", "iteration"),
    task(1, 2000, 40), task(2, 0, 67000000),
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": None},
    job(3, [], "perfbench-span-4", "iteration"),
    job(4, [(3, "count at Main.scala:9")], "perfbench-span-5", "warm-up"),
    task(3, 5, 0),
    job(5, [(4, "parquet at Gen.scala:3")]),
]

WANT = """group perfbench-span-4 (iteration)
    1  job 0     shuffle          0 B  peak        300 B  treeAggregate at Dedup.scala:393
    2  job 1     shuffle       3000 B  peak         50 B  Exchange stage of collect at Curate.scala:184
    3  job 2     shuffle          0 B  peak   67000000 B  collect at Curate.scala:184
    4  job 3     shuffle          0 B  peak          0 B  a job of no partitions
  spark_jobs 4  shuffle_mb 0.003000  peak_task_mem_mb 67.000000
group perfbench-span-5 (warm-up)
    1  job 4     shuffle          5 B  peak          0 B  count at Main.scala:9
  spark_jobs 1  shuffle_mb 0.000005  peak_task_mem_mb 0.000000
group (none)
    1  job 5     shuffle          0 B  peak          0 B  parquet at Gen.scala:3
  spark_jobs 1  shuffle_mb 0.000000  peak_task_mem_mb 0.000000"""


def run(*args):
    r = subprocess.run([sys.executable, TOOL, *args], capture_output=True, text=True)
    if r.returncode != 0:
        return f"exit {r.returncode}: {r.stderr}"
    return r.stdout.rstrip("\n")


def main():
    failures = []

    def check(case, got, want):
        if got != want:
            failures.append(f"{case}:\n--- got\n{got}\n--- want\n{want}")

    tmp = tempfile.mkdtemp(prefix="job_ledger_")
    try:
        log = os.path.join(tmp, "logs", "local-1")
        os.makedirs(os.path.dirname(log))
        with open(log, "w") as f:
            f.write("".join(json.dumps(e) + "\n" for e in EVENTS))
        check("cases 1-4: plain log", run(log), WANT)
        # a rolling log: its parts in numeric order (10 sorts before 9 as text)
        rolling = os.path.join(os.path.dirname(log), "eventlog_v2_local-2")
        os.makedirs(rolling)
        open(os.path.join(rolling, "appstatus_local-2"), "w").close()
        cut = len(EVENTS) // 2
        for n, chunk in ((9, EVENTS[:cut]), (10, EVENTS[cut:])):
            with open(os.path.join(rolling, f"events_{n}_local-2"), "w") as f:
                f.write("".join(json.dumps(e) + "\n" for e in chunk))
        check("case 5: a rolling log directory", run(rolling), WANT)
        os.utime(log, (0, 0))  # the rolling log is the newest
        check("case 5: the newest log of a directory", run(os.path.dirname(log)), WANT)
        os.utime(rolling, (0, 0))
        check("case 5: the newest log of a directory, a file", run(os.path.dirname(log)), WANT)
        check("case 5: --group", run(log, "--group", "warm"),
              "\n".join(WANT.splitlines()[6:9]))
        if shutil.which("zstd"):
            subprocess.run(["zstd", "-q", log, "-o", log + ".zstd"], check=True)
            check("case 5: zstd log", run(log + ".zstd"), WANT)
        else:
            print("test_job_ledger: no zstd binary, the compressed case is skipped")
    finally:
        shutil.rmtree(tmp)
    for f in failures:
        print(f"FAIL {f}")
    print(f"test_job_ledger: {len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
