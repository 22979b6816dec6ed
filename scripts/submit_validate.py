#!/usr/bin/env python
"""spark-submit entrypoint (north_rule packaging contract):

    zip -r jsschema_spark.zip jsschema_spark
    spark-submit --master <cluster> --py-files jsschema_spark.zip \\
        scripts/submit_validate.py --table /path/clips.parquet \\
        --schema clips_schema.json --violations /out/viol \\
        --metrics /out/metrics --manifest /out/manifest

Runs the resumable validation pipeline: pruned scan → compiled predicate
DAG → per-bucket manifest (skip completed on restart) → violation/metrics
sinks. Exit code 0 = all rows valid, 2 = violations found.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--schema", required=True, help="draft-04 schema JSON file")
    ap.add_argument("--violations", default=None)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--manifest", default=None, help="enable resumable bucket manifest")
    ap.add_argument("--id-col", default="clip_id")
    ap.add_argument("--n-buckets", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from jsschema_spark import read_file
    from jsschema_spark.compiler import TableValidator
    from jsschema_spark.sources import read_for_validation, write_metrics, write_violations

    spark = SparkSession.builder.appName("jsschema-validate").getOrCreate()
    try:
        schema = read_file(args.schema)
        df = read_for_validation(spark, args.table, schema, id_col=args.id_col)
        tv = TableValidator(schema, df.schema)

        # resume buckets hash the id column — fall back to the table's first
        # column when the default clip_id isn't in this table
        id_col = args.id_col
        if id_col not in df.columns:
            id_col = df.columns[0]
            print(f"id column {args.id_col!r} not in table; bucketing on {id_col!r}",
                  file=sys.stderr)

        if args.manifest:
            from jsschema_spark.manifest import Manifest, ResumableValidation

            run = ResumableValidation(tv, args.manifest, id_col=id_col, n_buckets=args.n_buckets)
            run.run(df)
            recs = Manifest(args.manifest).records()
            n_rows = sum(r["n_rows"] for r in recs)
            n_valid = sum(r["n_valid"] for r in recs)
        else:
            from pyspark.sql import functions as F

            counts = tv.apply(df, with_violations=False).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col("valid"), 1)).alias("n_valid"),
            ).first()
            n_rows, n_valid = counts["n_rows"], counts["n_valid"]

        if args.violations:
            ids = [id_col] if id_col in df.columns else []
            write_violations(tv.violation_details(df, id_cols=ids), args.violations)
        summary = tv.summary(df)
        if args.metrics:
            write_metrics(summary, args.metrics)

        print(json.dumps({"n_rows": n_rows, "n_valid": n_valid, "n_invalid": n_rows - n_valid}))
        return 0 if n_valid == n_rows else 2
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
