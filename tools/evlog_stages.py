#!/usr/bin/env python3
"""Per-job, per-stage timeline of a Spark event log.

Write an event log from any graft JVM run (the perfbench harness, a test,
a driver main) without touching its code: SparkConf picks up every `spark.*`
JVM system property, so

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev" \\
        python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

writes one log per session under /tmp/ev (Spark 4: a directory
`eventlog_v2_<app-id>/` of `events_<n>_<app-id>[.zstd]` parts). Then

    python3 tools/evlog_stages.py /tmp/ev/eventlog_v2_<app-id>

prints one line per job and, under it, one line per stage: submission time
(seconds since the log's first job), wall seconds, task count, and the sums
over the stage's tasks of executor run time, executor CPU time and executor
deserialize time (seconds). `--grep TEXT` keeps the jobs whose description
or call site contains TEXT.

`--tasks JOB` prints, for each stage of job JOB, one line per task instead:
its launch offset (seconds since the job's submission), duration, and
executor deserialize, run and CPU times (milliseconds), then the records it
read from input, wrote to output, and read and wrote through the shuffle.
The view that shows what each task pays before it runs, e.g.

    python3 tools/evlog_stages.py /tmp/ev/eventlog_v2_<app-id> --tasks 42

Reads plain JSON-lines logs and zstd-compressed ones (the Spark 4 default)
through the `zstd` command.
"""

import argparse
import json
import os
import re
import shutil
import subprocess
import sys


def log_parts(path):
    """The event-log files at `path`: a file, or a directory's parts in order."""
    if os.path.isfile(path):
        return [path]
    # events_<n>_<app-id>[.zstd]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    if not names:
        sys.exit(f"evlog_stages: no event log parts in {path}")
    return [os.path.join(path, n)
            for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def read_lines(path):
    """The JSON lines of one part, decompressing a `.zstd` file."""
    if not path.endswith(".zstd"):
        with open(path, encoding="utf-8") as f:
            return f.readlines()
    if shutil.which("zstd") is None:
        sys.exit(f"evlog_stages: {path} is zstd-compressed and the zstd "
                 "command is not available")
    out = subprocess.run(["zstd", "-dcq", path], check=True,
                         stdout=subprocess.PIPE).stdout
    return out.decode("utf-8").splitlines()


def load(path):
    """Jobs and stages of a log: (jobs by id, stages by (id, attempt))."""
    jobs, stages = {}, {}

    def stage(info):
        key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
        s = stages.setdefault(key, {"name": "", "tasks": 0, "submit": None,
                                    "done": None, "run_ms": 0, "cpu_ns": 0,
                                    "deser_ms": 0, "task_list": []})
        s["name"] = info.get("Stage Name", s["name"])
        s["tasks"] = info.get("Number of Tasks", s["tasks"])
        s["submit"] = info.get("Submission Time", s["submit"])
        s["done"] = info.get("Completion Time", s["done"])
        return s

    for part in log_parts(path):
        for line in read_lines(part):
            line = line.strip()
            if not line:
                continue
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                # a streaming job's description spans lines (query name,
                # id, runId, batch): keep the name and batch on one line
                desc = re.sub(r"\b(id|runId) = [0-9a-f-]{36}", "",
                              props.get("spark.job.description") or "")
                jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"], "done": None,
                    "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                    "desc": " ".join(desc.split()),
                    "site": props.get("callSite.short", ""),
                }
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["done"] = e["Completion Time"]
            elif kind in ("SparkListenerStageSubmitted",
                          "SparkListenerStageCompleted"):
                stage(e["Stage Info"])
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                s = stage({"Stage ID": e["Stage ID"],
                           "Stage Attempt ID": e.get("Stage Attempt ID", 0)})
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["cpu_ns"] += m.get("Executor CPU Time", 0)
                s["deser_ms"] += m.get("Executor Deserialize Time", 0)
                info = e.get("Task Info") or {}
                s["task_list"].append({
                    "id": info.get("Task ID"), "index": info.get("Index"),
                    "attempt": info.get("Attempt", 0),
                    "launch": info.get("Launch Time"),
                    "finish": info.get("Finish Time"),
                    "deser_ms": m.get("Executor Deserialize Time", 0),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "in": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "out": (m.get("Output Metrics") or {}).get("Records Written", 0),
                    "shuf_r": (m.get("Shuffle Read Metrics") or {}).get(
                        "Total Records Read", 0),
                    "shuf_w": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Records Written", 0),
                })
    return jobs, stages


def secs(start, end):
    return "-" if start is None or end is None else f"{(end - start) / 1000:.3f}"


def print_tasks(jobs, stages, jid):
    """One line per task of each stage of job `jid`."""
    if jid not in jobs:
        sys.exit(f"evlog_stages: no job {jid} in the log")
    j = jobs[jid]
    print(f"job {jid}: {(j['desc'] or j['site'])[:120]}")
    print(f"{'stage':>8} {'task':>6} {'index':>6} {'launch_s':>9} {'dur_ms':>7} "
          f"{'deser_ms':>8} {'run_ms':>7} {'cpu_ms':>7} {'in_recs':>9} "
          f"{'out_recs':>9} {'shuf_r':>9} {'shuf_w':>9}")
    for key in sorted(k for k in stages if k[0] in j["stages"]):
        s = stages[key]
        name = str(key[0]) + ("." + str(key[1]) if key[1] else "")
        for t in sorted(s["task_list"], key=lambda t: (t["launch"] or 0, t["id"] or 0)):
            launch = "-" if t["launch"] is None else \
                f"{(t['launch'] - j['submit']) / 1000:.3f}"
            dur = "-" if t["launch"] is None or t["finish"] is None else \
                str(t["finish"] - t["launch"])
            index = f"{t['index']}" + (f".{t['attempt']}" if t["attempt"] else "")
            print(f"{name:>8} {t['id']:>6} {index:>6} {launch:>9} {dur:>7} "
                  f"{t['deser_ms']:>8} {t['run_ms']:>7} {t['cpu_ns'] / 1e6:7.1f} "
                  f"{t['in']:>9} {t['out']:>9} {t['shuf_r']:>9} {t['shuf_w']:>9}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log", help="an event-log file or eventlog_v2_* directory")
    ap.add_argument("--grep", default=None,
                    help="keep jobs whose description or call site contains this")
    ap.add_argument("--tasks", type=int, default=None, metavar="JOB",
                    help="print one line per task of this job's stages")
    args = ap.parse_args()
    jobs, stages = load(args.log)
    if not jobs:
        sys.exit(f"evlog_stages: no jobs in {args.log}")
    if args.tasks is not None:
        print_tasks(jobs, stages, args.tasks)
        return
    t0 = min(j["submit"] for j in jobs.values())
    print(f"{'job/stage':>12} {'submit_s':>9} {'wall_s':>8} {'tasks':>6} "
          f"{'run_s':>8} {'cpu_s':>8} {'deser_s':>8}  description / stage name")
    for jid in sorted(jobs, key=lambda j: (jobs[j]["submit"], j)):
        j = jobs[jid]
        text = f"{j['desc']} {j['site']}"
        if args.grep and args.grep not in text:
            continue
        print(f"{'job ' + str(jid):>12} {(j['submit'] - t0) / 1000:9.3f} "
              f"{secs(j['submit'], j['done']):>8} {'':>6} {'':>8} {'':>8} "
              f"{'':>8}  {(j['desc'] or j['site'])[:120]}")
        for key in sorted(k for k in stages if k[0] in j["stages"]):
            s = stages[key]
            if s["submit"] is None:
                continue  # skipped: its map output was reused
            print(f"{'stage ' + str(key[0]) + ('.' + str(key[1]) if key[1] else ''):>12} "
                  f"{(s['submit'] - t0) / 1000:9.3f} {secs(s['submit'], s['done']):>8} "
                  f"{s['tasks']:6d} {s['run_ms'] / 1000:8.3f} "
                  f"{s['cpu_ns'] / 1e9:8.3f} {s['deser_ms'] / 1000:8.3f}  "
                  f"{s['name'][:80]}")


if __name__ == "__main__":
    main()
