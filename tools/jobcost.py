#!/usr/bin/env python3
"""Executor cost of each layerbench span, read from a Spark event log.

A traced layerbench run (`--trace 1`) sets the job group
`graftbench-<span id>` around every span, and writes one JSON line per
span to `.bench_build/work/<workload>/spans-seed<N>.jsonl`. With Spark's
event log switched on, the same run also records every task's metrics.
This tool joins the two and prints, per span that ran a job: its jobs,
their tasks, the largest job's task count, and the summed executor
deserialize CPU, executor CPU and executor run time.

The deserialize column is why it exists. Spark's executor run time (the
benchmark's `task_s`) starts after the task is deserialized, so a job of
many cheap tasks whose cost is deserializing their closure shows almost
no run time there; the event log's `Executor Deserialize CPU Time` shows
it.

Record both files with:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false \
      -Dspark.eventLog.dir=file://<dir>" \
      python3 layerbench/run.py --workload pipeline_tall --trace 1

Usage: python3 tools/jobcost.py <event log> <spans file>
The event log is a file, a rolling log's directory, or the directory given
as `spark.eventLog.dir`, which means the newest log in it. The last lines give the totals
of the traced spans, of the jobs no span claimed (the untraced set-up and
cold pass), and of the whole log.
"""
import json
import os
import sys
from collections import defaultdict

GROUP = "spark.jobGroup.id"
PREFIX = "graftbench-"


def event_files(path):
    """The files of one application's event log, in write order. `path` is
    a log file, a rolling log's `eventlog_v2_<app>` directory (Spark's
    default: `events_<n>_<app>` files), or the log directory, which means
    its newest entry."""
    if not os.path.isdir(path):
        return [path]
    entries = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith(".")]
    rolled = sorted((int(os.path.basename(f).split("_")[1]), f) for f in entries
                    if os.path.basename(f).startswith("events_"))
    if rolled:
        return [f for _, f in rolled]
    entries = [f for f in entries if os.path.isdir(f) or os.path.isfile(f)]
    if not entries:
        sys.exit(f"no event log in {path}")
    return event_files(max(entries, key=os.path.getmtime))


class Cost:
    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.max_job_tasks = 0
        self.deser_cpu_s = 0.0
        self.cpu_s = 0.0
        self.run_s = 0.0

    def add(self, other):
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.max_job_tasks = max(self.max_job_tasks, other.max_job_tasks)
        self.deser_cpu_s += other.deser_cpu_s
        self.cpu_s += other.cpu_s
        self.run_s += other.run_s


def events(files):
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def job_costs(files):
    """Cost per job id, and the job group (None if unset) of each job."""
    group_of, stage_job = {}, {}
    costs = defaultdict(Cost)
    for e in events(files):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job = e["Job ID"]
            group_of[job] = (e.get("Properties") or {}).get(GROUP)
            costs[job].jobs = 1
            for stage in e["Stage IDs"]:
                # a stage a later job reuses (skipped there) ran in the first
                stage_job.setdefault(stage, job)
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if job is None or not m:
                continue
            c = costs[job]
            c.tasks += 1
            c.deser_cpu_s += m["Executor Deserialize CPU Time"] / 1e9
            c.cpu_s += m["Executor CPU Time"] / 1e9
            c.run_s += m["Executor Run Time"] / 1e3
    for c in costs.values():
        c.max_job_tasks = c.tasks
    return costs, group_of


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    costs, group_of = job_costs(event_files(sys.argv[1]))
    with open(sys.argv[2]) as f:
        spans = [json.loads(line) for line in f if line.strip()]

    by_span = defaultdict(Cost)
    unclaimed = Cost()
    for job, c in costs.items():
        g = group_of.get(job)
        if g and g.startswith(PREFIX):
            by_span[int(g[len(PREFIX):])].add(c)
        else:
            unclaimed.add(c)

    cols = ("jobs", "tasks", "max_job_tasks", "deser_cpu_s", "cpu_s", "run_s")
    head = f"{'span':>5} {'pass':>4} {'name':<44}" + "".join(f" {c:>13}" for c in cols)
    print(head)

    def row(span_id, pass_no, name, c):
        vals = (c.jobs, c.tasks, c.max_job_tasks)
        secs = (c.deser_cpu_s, c.cpu_s, c.run_s)
        print(f"{span_id:>5} {pass_no:>4} {name:<44}" + "".join(f" {v:>13}" for v in vals)
              + "".join(f" {v:>13.3f}" for v in secs))

    for s in spans:
        if s["id"] in by_span:
            row(s["id"], s["pass"], s["name"], by_span[s["id"]])
    traced = Cost()
    for c in by_span.values():
        traced.add(c)
    total = Cost()
    total.add(traced)
    total.add(unclaimed)
    row("", "", "traced spans", traced)
    row("", "", "no span (set-up, cold pass)", unclaimed)
    row("", "", "whole log", total)


if __name__ == "__main__":
    main()
