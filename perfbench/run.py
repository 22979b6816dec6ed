#!/usr/bin/env python3
"""Benchmark of the jsschema_spark validation engine.

One workload per process:

    python3 perfbench/run.py --workload clips_typed --seed 1 --seconds 20 --trace 0

prints the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
traced run (``--trace 1``) and, as its last line, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

Without ``--workload`` it runs every workload as a fresh process, untraced
and traced, and prints one table: every end-to-end metric, the error rate,
the tracing overhead and every per-layer metric. ``--pin-digests`` re-pins the engine_mix
query digests in ``digests.json``. See ``README.md`` in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def _import_engine():
    """Make the benchmark and the engine importable; exit 2 when the engine
    sources are not beside this directory."""
    sys.path.insert(0, HERE)
    if not (os.path.isfile(os.path.join(CHECKOUT, "jsschema_spark", "__init__.py"))
            and os.path.isfile(os.path.join(CHECKOUT, "__spark_entry__.py"))):
        print(f"perfbench: jsschema_spark sources not found in {CHECKOUT}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, CHECKOUT)


def run_one(args) -> int:
    import harness
    from workloads import WORKLOADS

    b = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace), CHECKOUT)
    b.run_dir = os.path.join(CHECKOUT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    try:
        result = harness.run_workload(WORKLOADS[args.workload](), b)
    finally:
        harness.clean_run_dir(b)
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} error_rate {result.pop('error_rate'):.6g} ratio "
          f"({result['failed']} of {result['attempted']} operations)")
    print(json.dumps(result))
    return 0


def pin_digests(args) -> int:
    """Run every queries() entry of engine_mix once and write its digest."""
    import harness
    import workloads

    b = harness.Bench("engine_mix", args.seed, 0, False, CHECKOUT)
    b.run_dir = os.path.join(CHECKOUT, ".perfbench_run", f"pin-{os.getpid()}")
    b.tree = harness.ProcTree().start()
    try:
        b.start_session(len(os.sched_getaffinity(0)))
        out = {name: workloads.rows_digest(workloads.EngineMix.run_query(b, name))
               for name in workloads.QUERIES}
        b.stop_session()
    finally:
        b.tree.stop()
        harness.clean_run_dir(b)
    with open(workloads.DIGESTS, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(out)} digests in {workloads.DIGESTS}")
    return 0


def run_all(args) -> int:
    """Every workload as a fresh process, untraced then traced."""
    import harness
    from workloads import WORKLOADS

    results = {}
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{name} trace={trace}: exit {proc.returncode}")
                return 1
            results[(name, trace)] = json.loads(lines[-1])
    names = list(WORKLOADS)
    print(f"{'metric (unit)':36s}" + "".join(f"{n:>16s}" for n in names))
    rows = [(f"{m} ({u})", [results[(n, 0)]["metrics"][m]["value"] for n in names])
            for m, u in harness.END_TO_END.items()]
    rows.append(("error_rate (ratio)", [
        (results[(n, 0)]["failed"] + results[(n, 1)]["failed"])
        / (results[(n, 0)]["attempted"] + results[(n, 1)]["attempted"]) for n in names]))
    rows.append(("tracing overhead (% of rows_per_s)", [
        100 * (results[(n, 1)]["metrics"]["trace.rows_per_s"]["value"]
               / results[(n, 0)]["metrics"]["rows_per_s"]["value"] - 1) for n in names]))
    rows += [(f"{m} ({u})", [results[(n, 1)]["metrics"][m]["value"] for n in names])
             for m, u in harness.PER_LAYER_UNITS.items()]
    for label, values in rows:
        print(f"{label:36s}" + "".join(f"{v:16.6g}" for v in values))
    return 0 if all(r["correct"] for r in results.values()) else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", help="one workload; omit to run all of them")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin-digests", action="store_true")
    args = p.parse_args()
    _import_engine()
    if args.pin_digests:
        return pin_digests(args)
    if args.workload is None:
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)}")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
