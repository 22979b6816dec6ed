#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into plans/r07/.

Usage: python scripts/capture_plans.py <suffix> q1 q2 ...
Writes plans/r07/<q>_<suffix>.txt (suffix = before|after). No timing —
plan capture only, so it is safe to run against the slow round-start tree.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""
from __future__ import annotations

import os
import sys


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[1] not in ("before", "after"):
        print("usage: python scripts/capture_plans.py {before|after} q1 [q2 ...]",
              file=sys.stderr)
        sys.exit(2)
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entry_mod
    from jsschema_spark.session import build_session

    out_dir = os.environ.get("PLANS_DIR", os.path.join(repo, "plans", "r07"))
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(
        app_name="jsschema-capture-plans", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(
                p for p in [repo, os.environ.get("PYTHONPATH", "")] if p
            ),
        },
    )
    qs = entry_mod.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not a declared query", file=sys.stderr)
            continue
        try:
            df = qs[name](spark, sf_dir)
            text = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001 - record, keep going
            text = f"EXPLAIN FAILED: {exc!r}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
