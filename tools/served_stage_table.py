#!/usr/bin/env python
"""Per-template Spark cost of the served read/write mix.

Runs serve_rw cycles (perfbench's request stream and engine set-up) in
this process, calling ``HelixSparkServer.handle`` directly, with the Spark
event log on. Each request's jobs carry its template as their job
description. After one untimed warm-up cycle it times CYCLES cycles and
prints, per template: requests, median wall ms, and per request the
Spark jobs, tasks and job-busy ms (the union of its jobs' run time).

Usage: python tools/served_stage_table.py SF_DIR [--seed N] [--cycles N]
                                          [--work DIR]
"""

from __future__ import annotations

import argparse
import collections
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf", help="TPC-H-style data directory, e.g. sf0.1")
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--cycles", type=int, default=3)
    ap.add_argument("--work", default=None,
                    help="directory for Spark's files and the event log "
                         "(default: a temporary directory, removed after)")
    args = ap.parse_args()
    work = args.work or tempfile.mkdtemp(prefix="served_stage_table_")
    try:
        table(args, work)
    finally:
        if args.work is None:
            shutil.rmtree(work, ignore_errors=True)


def table(args, work: str) -> None:
    from perfbench import oracle, serve, session, trace

    orc = oracle.ServedOracle(args.sf, work)
    sched = serve.Schedule(args.seed, orc.customer_keys(), orc.vocabulary(),
                           orc.embeddings())
    spark, _ = session.start(work, event_log=True)
    sc = spark.sparkContext
    wall = {}  # op id -> (template, ms)
    try:
        srv, _ = serve.engine_setup(spark, args.sf)
        for c in range(serve.WARM_CYCLES + args.cycles):
            for i, op in enumerate(sched.cycle(c)):
                op_id = f"c{c}.{i}"
                headers = ({"x-helix-await-durable": "true"} if op.write
                           else {})
                sc.setJobGroup(op_id, op.kind)
                t0 = time.perf_counter()
                status, body = srv.handle(op.path, op.body, headers)
                ms = (time.perf_counter() - t0) * 1e3
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setJobDescription(None)
                if status != 200:
                    raise RuntimeError(f"{op.kind}: HTTP {status}: {body}")
                if c >= serve.WARM_CYCLES:
                    wall[op_id] = (op.kind, ms)
        srv.stop()
    finally:
        session.stop(spark)

    log = trace.read_event_log(os.path.join(work, "eventlog"))
    jobs = collections.defaultdict(list)
    for job in log.jobs:
        if job.group in wall:
            jobs[job.group].append(job)
    rows = collections.defaultdict(list)
    for op_id, (kind, ms) in wall.items():
        js = jobs[op_id]
        busy = trace._union((j.t0, j.t1) for j in js) * 1e3
        rows[kind].append((ms, len(js), sum(j.stats["tasks"] for j in js),
                           busy))
    print(f"| template | n | wall ms (median) | jobs | tasks | job-busy ms |")
    print("|---|---|---|---|---|---|")
    for kind in sorted(rows):
        r = rows[kind]
        print(f"| {kind} | {len(r)} | {statistics.median(x[0] for x in r):.0f}"
              f" | {statistics.mean(x[1] for x in r):.1f}"
              f" | {statistics.mean(x[2] for x in r):.1f}"
              f" | {statistics.mean(x[3] for x in r):.0f} |")


if __name__ == "__main__":
    main()
