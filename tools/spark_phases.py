#!/usr/bin/env python3
"""Per-batch phase medians of a streaming query, read from a Spark event log.

    python3 tools/spark_phases.py <event log file or directory> [--skip N]

Record an event log without changing the program that runs the query, e.g.
for the benchmark:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:/tmp/ev" \\
      python3 perfbench/run.py --workload mysql_drain_2k_fanout --seed 1 --seconds 8 --trace 0
    python3 tools/spark_phases.py /tmp/ev

A file is one application's log; a directory means every log in it (Spark 4
writes each application's log as a rolling `eventlog_v2_*` directory, and a
benchmark run starts one application per round). A `.zstd` file is read
through `unzstd`, any other as plain JSON lines.

For every micro-batch the tool reports, in milliseconds:
  - the trigger phases of the query's progress event (triggerExecution,
    latestOffset, walCommit, getBatch, queryPlanning, addBatch,
    commitOffsets);
  - inside addBatch (the SQL execution that runs the foreachBatch body):
    `pre_freeze` (its start to the first nested SQL execution, which is the
    batch's freeze) and `freeze` (that execution's wall time), split into
    `freeze.plan` (the execution's start to its job's submission),
    `freeze.jobs`, `freeze.job_wall` (submission to completion, summed over
    its jobs) and the summed task run, CPU and deserialize time of its jobs;
  - for each sink: wall time, plan time (the sink's start to its first
    job), the number of jobs, the submit-to-launch time (each job's
    submission to its first task's launch, summed over its jobs), the AQE
    gap (idle time between one job's end and the next job's start, where
    adaptive execution re-plans), and the summed task run, CPU and
    deserialize time of its jobs.
A sink is found by its job tag: `CdcPipeline.processBatch` runs each sink's
work under `graft:<pipeline>:sink:<id>`, reported as `sink:<id>`; its start
is the first of its tagged SQL executions' starts and its jobs'
submissions. A log without such tags (an older build) falls back to
telling each later nested execution apart by
`InsertIntoHadoopFsRelationCommand` in its physical plan (`file sink`) or
its absence (`other sink`), so logs of both builds can be compared.
Each line is the median over all applications' batches, after skipping
each application's first `--skip` (default 1, the warm-up batch).
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
TRIGGER_PHASES = ("triggerExecution", "latestOffset", "walCommit", "getBatch",
                  "queryPlanning", "addBatch", "commitOffsets")
BATCH_RE = re.compile(r"batch = (\d+)")
SINK_TAG_RE = re.compile(r"^graft:.*:sink:(.+)$")


def read_file(path):
    if path.endswith(".zstd"):
        out = subprocess.run(["unzstd", "-c", path], check=True, capture_output=True).stdout
        return out.decode("utf-8").splitlines()
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def app_logs(path):
    """The lines of each application's event log under `path`: a file is
    one log; a rolling log (an `eventlog_v2_*` directory) is one log made
    of its `events_<n>_*` files in order; any other directory holds logs."""
    if os.path.isfile(path):
        return [read_file(path)]
    if os.path.basename(os.path.normpath(path)).startswith("eventlog_v2_"):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        return [[line for f in parts for line in read_file(os.path.join(path, f))]]
    return [log for f in sorted(os.listdir(path)) if not f.startswith(".")
            for log in app_logs(os.path.join(path, f))]


def sink_of(tags):
    """The sink id of the first `graft:<pipeline>:sink:<id>` tag in `tags`, or None."""
    for t in tags:
        m = SINK_TAG_RE.match(t)
        if m:
            return m.group(1)
    return None


def read(lines):
    execs = {}  # execution id -> dict(start, end, desc, plan, root, sink)
    jobs = {}  # job id -> dict(start, end, exec, stages, sink)
    # stage id -> [run ms, cpu ms, deserialize ms, first task launch]
    stage_tasks = defaultdict(lambda: [0.0, 0.0, 0.0, None])
    progress = {}  # batch id -> durationMs
    for line in lines:
        try:
            e = json.loads(line)
        except ValueError:
            continue  # a log cut mid-line by a killed run
        kind = e.get("Event")
        if kind == SQL_START:
            eid = e["executionId"]
            execs[eid] = {"start": e["time"], "end": None, "desc": e.get("description") or "",
                          "plan": e.get("physicalPlanDescription") or "",
                          "root": e.get("rootExecutionId", eid),
                          "sink": sink_of(e.get("jobTags") or [])}
        elif kind == SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None,
                                 "exec": int(eid) if eid is not None else None,
                                 "stages": e.get("Stage IDs", []),
                                 "sink": sink_of((props.get("spark.job.tags") or "").split(","))}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            acc = stage_tasks[e["Stage ID"]]
            acc[0] += m.get("Executor Run Time", 0)
            acc[1] += m.get("Executor CPU Time", 0) / 1e6
            acc[2] += m.get("Executor Deserialize Time", 0)
            launch = (e.get("Task Info") or {}).get("Launch Time")
            if launch is not None and (acc[3] is None or launch < acc[3]):
                acc[3] = launch
        elif kind == PROGRESS:
            p = e.get("progress") or {}
            if "batchId" in p:
                progress[p["batchId"]] = p.get("durationMs") or {}
    return execs, jobs, stage_tasks, progress


def sink_phases(children, js, stage_tasks):
    """Phases of one sink: its executions `children` and its jobs `js`."""
    js = sorted(js, key=lambda j: j["start"])
    start = min([x["start"] for _, x in children] + [j["start"] for j in js])
    end = max([(x["end"] or x["start"]) for _, x in children] +
              [(j["end"] or j["start"]) for j in js])
    gap = sum(max(0, b["start"] - a["end"]) for a, b in zip(js, js[1:]) if a["end"] is not None)
    run = cpu = deser = launch = 0.0
    for j in js:
        first = None
        for s in j["stages"]:
            r, c, d, t = stage_tasks.get(s, (0.0, 0.0, 0.0, None))
            run, cpu, deser = run + r, cpu + c, deser + d
            if t is not None and (first is None or t < first):
                first = t
        if first is not None:
            launch += first - j["start"]
    return {"wall": end - start, "plan": (js[0]["start"] - start) if js else 0.0,
            "jobs": len(js), "submit_launch": launch, "aqe_gap": gap, "task_run": run,
            "task_cpu": cpu, "task_deserialize": deser}


def batches(execs, jobs, stage_tasks, progress):
    """batch id -> {phase name: ms} for every addBatch execution with nested ones."""
    nested = defaultdict(list)
    for eid, x in execs.items():
        if x["root"] != eid and x["root"] in execs:
            nested[x["root"]].append((eid, x))
    out = {}
    for root, children in nested.items():
        outer = execs[root]
        m = BATCH_RE.search(outer["desc"])
        if not m:
            continue
        bid = int(m.group(1))
        children.sort(key=lambda c: c[1]["start"])
        (_, freeze), sinks = children[0], children[1:]
        row = {f"trigger.{k}": float(v) for k, v in progress.get(bid, {}).items()
               if k in TRIGGER_PHASES}
        row["addBatch.pre_freeze"] = freeze["start"] - outer["start"]
        row["addBatch.freeze"] = (freeze["end"] or freeze["start"]) - freeze["start"]
        freeze_jobs = [j for j in jobs.values() if j["exec"] == children[0][0]]
        split = sink_phases(children[:1], freeze_jobs, stage_tasks)
        split["job_wall"] = sum((j["end"] or j["start"]) - j["start"] for j in freeze_jobs)
        for k in ("plan", "jobs", "job_wall", "task_run", "task_cpu", "task_deserialize"):
            row[f"addBatch.freeze.{k}"] = float(split[k])
        ids = {root} | {c for c, _ in children}
        batch_jobs = [j for j in jobs.values() if j["exec"] in ids]
        groups = defaultdict(lambda: ([], []))  # sink name -> (executions, jobs)
        if any(j["sink"] for j in batch_jobs):
            for c in sinks:
                if c[1]["sink"]:
                    groups[f"sink:{c[1]['sink']}"][0].append(c)
            for j in batch_jobs:
                if j["sink"]:
                    groups[f"sink:{j['sink']}"][1].append(j)
        else:
            for c in sinks:
                file_sink = "InsertIntoHadoopFsRelationCommand" in c[1]["plan"]
                groups["file sink" if file_sink else "other sink"][0].append(c)
            for cs, js in groups.values():
                own = {c for c, _ in cs}
                js.extend(j for j in batch_jobs if j["exec"] in own)
        for name, (cs, js) in sorted(groups.items()):
            for k, v in sink_phases(cs, js, stage_tasks).items():
                row[f"{name}.{k}"] = float(v)
        out[bid] = row
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", help="event log file, or a directory of logs")
    ap.add_argument("--skip", type=int, default=1, help="leading batches to leave out")
    args = ap.parse_args()
    logs = app_logs(args.log)
    kept = []
    for lines in logs:
        per_batch = batches(*read(lines))
        kept += [per_batch[b] for b in sorted(per_batch)[args.skip:]]
    if not kept:
        sys.exit("no micro-batch with nested SQL executions found")
    names = []
    for row in kept:
        names += [k for k in row if k not in names]
    medians = {k: statistics.median(r[k] for r in kept if k in r) for k in names}
    print(f"{len(kept)} batches from {len(logs)} applications (the first {args.skip} of each "
          "skipped); medians, ms unless a count")
    for k in names:
        print(f"  {k:36s} {medians[k]:10.1f}")


if __name__ == "__main__":
    main()
