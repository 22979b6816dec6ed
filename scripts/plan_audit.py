#!/usr/bin/env python
"""Physical-plan audit over every driver query: one row per query with
the plan features that matter at 100 TB — shuffle count, window count,
Python/Arrow stages, join strategies, whether scans carry pushed filters
— plus flags for the anti-patterns (CartesianProduct, row-at-a-time
BatchEvalPython). Writes BENCH/PLAN_AUDIT.md.

The session is ``session.build_session``'s, so the audited plans are the
ones the engine runs.

Run: python scripts/plan_audit.py [sf_dir]
Env: SPARK_GRAFT_CPUS (default: the machine's CPU count).
"""

from __future__ import annotations

import os
import re
import sys


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry_mod
    from jsschema_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = build_session(
        app_name="plan-audit", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(
                p for p in [repo, os.environ.get("PYTHONPATH", "")] if p
            ),
        },
    )
    try:
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        rows = []
        for name, q in entry_mod.queries().items():
            try:
                df = q(spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(mode)
            except Exception as exc:  # noqa: BLE001 - audit must cover all rows
                rows.append((name, "ERROR", str(exc)[:80], "", "", "", ""))
                continue
            n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
            n_win = len(re.findall(r"\(\d+\) Window", plan))
            n_arrow = len(re.findall(r"ArrowEval|MapInPandas|FlatMapGroupsInPandas", plan))
            n_rowpy = len(re.findall(r"BatchEvalPython", plan))
            joins = "+".join(
                sorted(
                    {
                        j.replace("Exec", "")
                        for j in re.findall(
                            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                            r"BroadcastNestedLoopJoin|CartesianProduct)",
                            plan,
                        )
                    }
                )
            )
            pushed = "y" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
            flags = []
            if n_rowpy:
                flags.append("ROW-PYTHON")
            if "CartesianProduct" in plan:
                flags.append("CARTESIAN")
            rows.append(
                (name, n_ex, n_win, n_arrow, joins or "-", pushed, ",".join(flags) or "-")
            )

        out = os.path.join(repo, "BENCH", "PLAN_AUDIT.md")
        with open(out, "w", encoding="utf-8") as f:
            f.write(
                "# Physical-plan audit (driver queries, pre-execution plans)\n\n"
                f"sf_dir: `{sf_dir}` — regenerate with "
                "`python scripts/plan_audit.py`.\n\n"
                "Columns: Exchanges (shuffles), Window operators, Arrow-batched\n"
                "Python stages, join strategies in plan, filter pushdown reaching\n"
                "a scan, and anti-pattern flags (row-at-a-time Python, cartesian).\n"
                "Note: iterative operators (connected components) and index\n"
                "builders run driver-side loops/writes during CONSTRUCTION; this\n"
                "table shows the final result-plan only.\n\n"
                "| query | exch | win | arrow | joins | pushdown | flags |\n"
                "|---|---|---|---|---|---|---|\n"
            )
            for r in rows:
                f.write("| " + " | ".join(str(x) for x in r) + " |\n")
        print(f"wrote {out} ({len(rows)} queries)")
        bad = [r for r in rows if r[6] != "-" and r[1] != "ERROR"]
        if bad:
            print("FLAGGED:", [r[0] for r in bad])
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
