#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_rw|batch_curation \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The data is the sf0.1 testdata
(``$SPARK_GRAFT_SF_DIR`` overrides it). Earlier lines of standard output
are a readable report; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = os.path.join(ROOT, ".perfbench_work")  # emptied by every run
CACHE = os.path.join(ROOT, ".perfbench_cache")  # oracle hashes, kept


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve_rw", "batch_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "helix_db_spark")):
        print(f"perfbench: no helix_db_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(SF_DIR):
        print(f"perfbench: data directory {SF_DIR} is missing",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)  # the metric names and units to report
    sys.path.insert(0, ROOT)
    from perfbench import batch, serve

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        if args.workload == "serve_rw":
            res = serve.run(SF_DIR, WORK, args.seed, args.seconds,
                            bool(args.trace))
        else:
            res = batch.run(SF_DIR, WORK, args.seed, args.seconds,
                            bool(args.trace), CACHE)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"({time.perf_counter() - T_PROCESS:.1f} s wall)")
    for name, value, unit, note in res.table:
        print(f"# {name:<14} {value:>12.4f} {unit:<6} {note}")
    if args.trace:  # a layer the workload leaves idle reads 0
        metrics = {m["name"]: {"value": res.per_layer.get(m["name"], 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
        for k, m in metrics.items():
            print(f"# {k:<40} {m['value']:>16.4f} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": res.metrics[m["name"]],
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": res.failed == 0 and res.attempted > 0,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
