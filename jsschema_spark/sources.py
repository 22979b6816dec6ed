"""Table sources and result sinks.

The reference's only I/O is schema files (SURVEY.md §2.1); the engine adds
the table-side sources/sinks the north_rule requires: partition-pruned scans
of parquet/Iceberg clip tables, and violation / metrics / manifest sinks.

Scale notes:

* ``read_table`` pushes column pruning explicitly: a validation job only
  needs the constrained columns + id (the compiler knows which), so a 100-
  column table reads as a handful of parquet column chunks.
* Iceberg loads go through the catalog (``spark.read.format("iceberg")``/
  ``spark.table``) when the runtime has the Iceberg extension on the
  classpath; this sandbox ships no Iceberg jar, so ``read_table`` degrades
  to parquet with identical engine semantics (import-try gate, no hard dep).
* ``write_violations`` partitions detail rows by keyword — violation
  consumers query by keyword, so partition pruning serves them; at 10^12
  rows violations are a tiny skewed slice, hence the repartition by keyword
  before write to avoid small-file spray.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsschema_spark.compiler import TableValidator
from jsschema_spark.schema import SchemaNode


def constrained_columns(schema: SchemaNode, available: Sequence[str]) -> list[str]:
    """The columns a schema actually constrains (properties ∪ required ∪
    patternProperties matches) — the projection a validation scan needs."""
    cols = set(schema.required) | set(schema.properties)
    for _src, (rx, _s) in schema.pattern_properties.items():
        cols |= {c for c in available if rx.search(c)}
    return [c for c in available if c in cols]


def read_table(
    spark: SparkSession,
    path_or_table: str,
    fmt: str = "parquet",
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Load a clip table. ``fmt='iceberg'`` uses the catalog when present
    (import-try gate); otherwise parquet. ``columns`` prunes the projection
    at the source."""
    if fmt == "iceberg":
        try:
            df = spark.table(path_or_table)
        except Exception:  # no Iceberg catalog in this runtime — parquet fallback
            df = spark.read.parquet(path_or_table)
    else:
        df = spark.read.format(fmt).load(path_or_table)
    if columns:
        df = df.select(*columns)
    return df


def read_for_validation(
    spark: SparkSession, path_or_table: str, schema: SchemaNode,
    id_col: str = "clip_id", fmt: str = "parquet",
) -> DataFrame:
    """Scan with the projection pruned to id + constrained columns."""
    full = read_table(spark, path_or_table, fmt)
    cols = constrained_columns(schema, full.columns)
    if id_col in full.columns and id_col not in cols:
        cols = [id_col] + cols
    return full.select(*cols)


def write_violations(
    details: DataFrame, path: str, by_keyword: bool = True,
    files_per_keyword: int = 4,
) -> None:
    """Violation detail sink: parquet partitioned by keyword (pruning for
    consumers), repartitioned by (keyword, salt) before the write. The
    write overwrites ``path``, so re-running a validation replaces its
    violations instead of doubling them.

    Plain ``repartition("keyword")`` avoids small-file spray but funnels a
    dominant keyword (violations are usually one failure mode) through ONE
    writer task; the salt spreads each keyword over ``files_per_keyword``
    writers while keeping the file count per directory bounded."""
    out = details
    if by_keyword and "keyword" in details.columns:
        salt = (F.rand(7) * files_per_keyword).cast("int")
        out = details.repartition(F.col("keyword"), salt)
        out.write.mode("overwrite").partitionBy("keyword").parquet(path)
    else:
        out.write.mode("overwrite").parquet(path)


def write_metrics(summary: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Per-keyword metrics sink (tiny — one file)."""
    summary.coalesce(1).write.mode(mode).json(path)


def validate_table(
    spark: SparkSession,
    path_or_table: str,
    schema: SchemaNode,
    violations_path: Optional[str] = None,
    metrics_path: Optional[str] = None,
    id_col: str = "clip_id",
    fmt: str = "parquet",
) -> DataFrame:
    """One-call scan → compile → validate → sinks. Returns the summary."""
    df = read_for_validation(spark, path_or_table, schema, id_col, fmt)
    tv = TableValidator(schema, df.schema)
    if violations_path:
        ids = [id_col] if id_col in df.columns else []
        write_violations(tv.violation_details(df, id_cols=ids), violations_path)
    summary = tv.summary(df)
    if metrics_path:
        write_metrics(summary, metrics_path)
    return summary


def write_bucketed(
    df: DataFrame, table: str, bucket_cols: Sequence[str], n_buckets: int,
    sort_cols: Optional[Sequence[str]] = None, mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by join key —
    the co-located-join primitive for repeated big-to-big joins at 100 TB.

    Two tables bucketed by the same key into the same bucket count join
    WITHOUT a shuffle: each task reads matching bucket files from both
    sides (Spark's bucketing uses ``Murmur3Hash(key) pmod n`` on both the
    write and read path, so bucket i on one side only ever matches bucket
    i on the other). Referential checks that run per-ingest against the
    same dimension amortize their shuffle to zero this way. Requires a
    session catalog (``saveAsTable``) — bucket metadata lives in the
    metastore, not the parquet footer."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
