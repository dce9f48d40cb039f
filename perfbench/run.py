"""Lineage-store benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload lineage_rw --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints a provenance line, then as the
last line one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Exits non-zero when any
correctness check fails. Everything the run writes goes under
``.perfbench_run/`` in the repository root; stores and generated data
are removed at the end, the result and the spans are kept.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, REPO)
    try:
        import lineage_store_database_management_system_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {REPO}: {exc}", file=sys.stderr)
        return 2
    from perfbench import harness, report
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    workdir = os.path.join(REPO, ".perfbench_run", run_id)
    os.makedirs(workdir)
    bench = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace), workdir)
    try:
        bench.start_session()
        result, detail = report.run_workload(bench, WORKLOADS[args.workload])
    finally:
        bench.stop_session()
        for d in os.listdir(workdir):
            p = os.path.join(workdir, d)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
    with open(os.path.join(workdir, "result.json"), "w") as fh:
        json.dump({"result": result, **detail}, fh, indent=1)
    print(json.dumps({"provenance": bench.provenance, "failures": bench.failures[:10]}))
    if "layers" in detail:
        print(json.dumps({"layers": detail["layers"]}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
