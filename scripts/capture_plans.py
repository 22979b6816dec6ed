#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into plans/r07/.

Usage: python scripts/capture_plans.py <suffix> q1 q2 ...
Writes plans/r07/<q>_<suffix>.txt (suffix = before|after). No timing —
plan capture only, so it is safe to run against the slow round-start tree.
Expression ids, plan ids and lambda-variable counters are masked
(``mask_ids``), so two captures of the same plan are byte-identical and a
before/after ``diff`` shows only real plan changes.
Env: SPARK_GRAFT_SF_DIR (the scale-factor data directory), SPARK_GRAFT_CPUS
(default: the machine's CPU count), PLANS_DIR.
"""
from __future__ import annotations

import os
import re
import sys

# (pattern, replacement) pairs for the ids a Spark session hands out in
# creation order: `vec_id#174L`, `[plan_id=801]`, `lambda x_27#148`
_IDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(lambda [A-Za-z]\w*?)_\d+\b"), r"\1_N"),
]


def mask_ids(text: str) -> str:
    """``text`` with every expression id, plan id and lambda-variable
    counter replaced by ``N``."""
    for pat, repl in _IDS:
        text = pat.sub(repl, text)
    return text


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[1] not in ("before", "after"):
        print("usage: python scripts/capture_plans.py {before|after} q1 [q2 ...]",
              file=sys.stderr)
        sys.exit(2)
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
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
            f.write(mask_ids(text))
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
