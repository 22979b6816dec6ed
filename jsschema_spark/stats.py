"""Single-pass column statistics + distribution drift.

The reference has no aggregation operators (SURVEY.md §2.5) — these come
from the north_rule: "column stats ... via HLL sketches, KS/PSI histograms
for distribution drift".

Scale design:

* ``column_stats`` is ONE ``df.agg(...)`` — Catalyst hash-aggregates with
  map-side partial aggregation, so at 10^12 rows each executor reduces its
  partitions locally and ships one row of partials; no groupBy shuffle at
  all (global agg = single-partition final reduce of tiny partials).
* distinct counts use ``approx_count_distinct`` (HyperLogLog++, fixed-size
  sketch, mergeable) — exact distinct at this scale would shuffle the world.
* histograms bucketize with arithmetic (``floor((x-lo)/w)``) then hash-agg
  on the bucket id: shuffle width = nbins rows per executor, independent of
  table size.
* KS / PSI are computed driver-side from the two binned count vectors
  (O(nbins) — trivial), per SURVEY.md §4.
* percentiles via ``percentile_approx`` (KLL-style mergeable sketch) on the
  default path, exact ``percentile`` for oracle parity at test scale.
* categorical drift bounds its output with a baseline top-K + __OTHER__
  rollup, so high-cardinality columns cost two count aggregations and a
  (top_k+1)-row join, never a per-category explosion.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def grouped_range_check(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    min_allowed: Optional[float] = None,
    max_allowed: Optional[float] = None,
) -> DataFrame:
    """Per-group range-violation summary — the grouped form of a numeric
    min/max constraint (north-rule per-partition pass/fail rows keyed by a
    grouping column instead of a physical partition).

    Output: ``*group_cols, n_rows, n_below, n_above, min_val, max_val``
    (``n_below``/``n_above`` only when the corresponding bound is given).
    One hash aggregate with map-side combine: each task pre-reduces its
    rows, so shuffle width is #groups, never #rows — the plan that holds
    at 100 TB with any group cardinality."""
    col = F.col(value_col)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min(col).alias("min_val"),
        F.max(col).alias("max_val"),
    ]
    # coalesce: an all-NULL group sums to NULL, but "no violations" is 0
    if min_allowed is not None:
        aggs.insert(1, F.coalesce(F.sum((col < F.lit(min_allowed)).cast("long")), F.lit(0)).cast("long").alias("n_below"))
    if max_allowed is not None:
        aggs.insert(2 if min_allowed is not None else 1,
                    F.coalesce(F.sum((col > F.lit(max_allowed)).cast("long")), F.lit(0)).cast("long").alias("n_above"))
    return df.groupBy(*group_cols).agg(*aggs)


def column_stats(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    rsd: float = 0.02,
    exact_distinct: bool = False,
    percentile_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Per-column profile in one aggregation pass.

    Output: ``column, n_rows, n_null, n_distinct, min_num, max_num,
    min_str, max_str, mean, stddev, p25, p50, p75`` (numeric fields null
    for non-numerics).

    ``exact_distinct=True`` swaps HLL for ``count_distinct`` and the
    KLL-style ``percentile_approx`` sketch for exact ``percentile`` — use
    only for oracle comparisons at test scale; at 100 TB keep the sketches
    (both are fixed-size and mergeable, so the whole profile still ships
    one partial row per task).

    ``percentile_cols``: restrict percentiles to these columns (default:
    every numeric column). Exact ``percentile`` cost grows with the
    column's distinct-value count, so in exact mode limit it to
    low-cardinality columns; the sketch path is cardinality-independent.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    if cols is None:
        cols = [n for n, dt in fields.items() if not isinstance(dt, (T.BinaryType, T.ArrayType, T.MapType, T.StructType))]

    aggs = [F.count(F.lit(1)).alias("__n")]
    pct_aggs: list = []
    for c in cols:
        dt = fields[c]
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__null"))
        if exact_distinct:
            aggs.append(F.count_distinct(col).alias(f"{c}__dist"))
        else:
            aggs.append(F.approx_count_distinct(col, rsd).alias(f"{c}__dist"))
        if isinstance(dt, _NUMERIC):
            aggs.extend(
                [
                    F.min(col).cast("double").alias(f"{c}__min"),
                    F.max(col).cast("double").alias(f"{c}__max"),
                    F.avg(col).alias(f"{c}__mean"),
                    F.stddev(col).alias(f"{c}__std"),
                ]
            )
            if percentile_cols is None or c in percentile_cols:
                pct = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
                # exact mode: keep percentile aggregates OUT of the main agg —
                # multi-count_distinct plans via Expand (row multiplication),
                # and a TypedImperativeAggregate in the same stage forces the
                # whole expanded stream through sort-based aggregation
                # (measured 2×+). A second scan of the pruned columns is
                # cheaper. Sketch mode stays single-pass: no Expand, and
                # percentile_approx hash-aggregates fine.
                (pct_aggs if exact_distinct else aggs).append(
                    (
                        F.percentile(col, pct)
                        if exact_distinct
                        else F.percentile_approx(col.cast("double"), pct, 10000)
                    ).alias(f"{c}__pct")
                )
        else:
            str_col = col.cast("string")
            aggs.extend(
                [F.min(str_col).alias(f"{c}__smin"), F.max(str_col).alias(f"{c}__smax")]
            )
    row = df.agg(*aggs).collect()[0].asDict()
    if pct_aggs:
        row.update(df.agg(*pct_aggs).collect()[0].asDict())

    out_rows = []
    for c in cols:
        dt = fields[c]
        numeric = isinstance(dt, _NUMERIC)
        pct = (row.get(f"{c}__pct") or [None, None, None]) if numeric else [None, None, None]
        out_rows.append(
            {
                "column": c,
                "n_rows": row["__n"],
                "n_null": row[f"{c}__null"] or 0,
                "n_distinct": row[f"{c}__dist"],
                "min_num": row.get(f"{c}__min") if numeric else None,
                "max_num": row.get(f"{c}__max") if numeric else None,
                "min_str": row.get(f"{c}__smin") if not numeric else None,
                "max_str": row.get(f"{c}__smax") if not numeric else None,
                "mean": row.get(f"{c}__mean") if numeric else None,
                "stddev": row.get(f"{c}__std") if numeric else None,
                "p25": float(pct[0]) if pct[0] is not None else None,
                "p50": float(pct[1]) if pct[1] is not None else None,
                "p75": float(pct[2]) if pct[2] is not None else None,
            }
        )
    schema = T.StructType(
        [
            T.StructField("column", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_null", T.LongType()),
            T.StructField("n_distinct", T.LongType()),
            T.StructField("min_num", T.DoubleType()),
            T.StructField("max_num", T.DoubleType()),
            T.StructField("min_str", T.StringType()),
            T.StructField("max_str", T.StringType()),
            T.StructField("mean", T.DoubleType()),
            T.StructField("stddev", T.DoubleType()),
            T.StructField("p25", T.DoubleType()),
            T.StructField("p50", T.DoubleType()),
            T.StructField("p75", T.DoubleType()),
        ]
    )
    from jsschema_spark.localdf import local_df

    return local_df(df.sparkSession, out_rows, schema)


def _bin(col: Column, lo: float, hi: float, nbins: int) -> Column:
    """Fixed-width bucket id (int) of ``col`` over ``nbins`` bins of
    [lo, hi); values outside clamp into the edge buckets. Raises
    ``ValueError`` for an empty range or no bins."""
    if hi <= lo or nbins <= 0:
        raise ValueError("need hi > lo and nbins > 0")
    w = (hi - lo) / nbins
    return F.least(
        F.greatest(F.floor((col - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(nbins - 1),
    ).cast("int")


def histogram(df: DataFrame, col: str, lo: float, hi: float, nbins: int = 32) -> DataFrame:
    """Fixed-width histogram: arithmetic bucketize → hash-agg on bucket id.

    Values outside [lo, hi) clamp into the edge buckets so counts always sum
    to the non-null row count. Returns ``bucket, lo, hi, n`` sorted.
    """
    bucket = _bin(F.col(col), lo, hi, nbins)
    w = (hi - lo) / nbins
    out = (
        df.where(F.col(col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return out.select(
        "bucket",
        (F.lit(lo) + F.col("bucket") * F.lit(w)).alias("lo"),
        (F.lit(lo) + (F.col("bucket") + 1) * F.lit(w)).alias("hi"),
        "n",
    ).orderBy("bucket")


def _dense_counts(hist_rows, nbins: int) -> list[float]:
    dense = [0.0] * nbins
    for r in hist_rows:
        dense[r["bucket"]] = float(r["n"])
    return dense


def psi(hist_expected, hist_actual, nbins: int, eps: float = 1e-6) -> float:
    """Population Stability Index from two binned count vectors
    (driver-side, O(nbins)). <0.1 stable, 0.1-0.25 moderate, >0.25 drifted."""
    e = _dense_counts(hist_expected, nbins)
    a = _dense_counts(hist_actual, nbins)
    te, ta = sum(e) or 1.0, sum(a) or 1.0
    total = 0.0
    for i in range(nbins):
        pe = max(e[i] / te, eps)
        pa = max(a[i] / ta, eps)
        total += (pa - pe) * math.log(pa / pe)
    return total


def ks_statistic(hist_expected, hist_actual, nbins: int) -> float:
    """Two-sample Kolmogorov–Smirnov D over binned counts (upper bound of
    the exact statistic at bin resolution)."""
    e = _dense_counts(hist_expected, nbins)
    a = _dense_counts(hist_actual, nbins)
    te, ta = sum(e) or 1.0, sum(a) or 1.0
    ce = ca = 0.0
    d = 0.0
    for i in range(nbins):
        ce += e[i] / te
        ca += a[i] / ta
        d = max(d, abs(ce - ca))
    return d


def drift_report(
    df_baseline: DataFrame, df_current: DataFrame, col: str,
    lo: float, hi: float, nbins: int = 32,
) -> dict:
    """Distribution drift of ``col`` between two tables: two histogram jobs
    (each one shuffle of ≤nbins rows per executor) + driver-side math."""
    hb = [r.asDict() for r in histogram(df_baseline, col, lo, hi, nbins).collect()]
    hc = [r.asDict() for r in histogram(df_current, col, lo, hi, nbins).collect()]
    return {
        "column": col,
        "nbins": nbins,
        "psi": psi(hb, hc, nbins),
        "ks": ks_statistic(hb, hc, nbins),
        "baseline_n": int(sum(r["n"] for r in hb)),
        "current_n": int(sum(r["n"] for r in hc)),
    }


def categorical_counts(df: DataFrame, col: str, null_label: str = "__NULL__") -> DataFrame:
    """Per-category counts (nulls as ``null_label``): one hash aggregation
    with map-side combine — shuffle width = #categories, not #rows.

    ``null_label`` (and ``categorical_drift``'s ``other_label``) are
    sentinels: a data value equal to the sentinel merges with it. If the
    column can legitimately contain the default strings, pass sentinels
    that cannot collide with the data."""
    return (
        df.groupBy(F.coalesce(F.col(col).cast("string"), F.lit(null_label)).alias("category"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def categorical_drift(
    df_baseline: DataFrame,
    df_current: DataFrame,
    col: str,
    top_k: int = 50,
    eps: float = 1e-6,
    null_label: str = "__NULL__",
    other_label: str = "__OTHER__",
) -> DataFrame:
    """Category-frequency drift of ``col`` between two tables, the
    categorical sibling of the numeric histogram PSI/KS.

    Categories = the ``top_k`` most frequent baseline values (deterministic
    tie-break on the value); everything else rolls into ``other_label``, so
    the output is bounded at top_k+1 rows no matter how high-cardinality
    the column is. Per category: baseline/current counts, frequencies and
    the PSI term ``(p_cur − p_base)·ln(p_cur/p_base)`` (eps-floored).
    Row with both counts zero (an all-zero __OTHER__) is dropped.

    Scale shape: two hash aggregations (map-side combined, shuffle width =
    #categories per side), a top-k collect of ``top_k`` rows on the driver,
    a re-aggregation of the tiny count tables, and a full outer join of at
    most top_k+1 rows per side. The input tables are each scanned once.
    """
    b = categorical_counts(df_baseline, col, null_label)
    c = categorical_counts(df_current, col, null_label)
    top = [
        r["category"]
        for r in b.orderBy(F.desc("n"), F.asc("category")).limit(top_k).collect()
    ]

    def rollup(counts: DataFrame) -> DataFrame:
        cat = (
            F.when(F.col("category").isin(top), F.col("category"))
            .otherwise(F.lit(other_label))
            .alias("category")
        )
        return counts.groupBy(cat).agg(F.sum("n").alias("n"))

    bm = rollup(b).withColumnRenamed("n", "n_base")
    cm = rollup(c).withColumnRenamed("n", "n_cur")
    j = (
        bm.join(cm, "category", "full_outer")
        .select(
            "category",
            F.coalesce(F.col("n_base"), F.lit(0)).alias("n_base"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        )
        .where((F.col("n_base") > 0) | (F.col("n_cur") > 0))
    )
    from pyspark.sql import Window

    tot = Window.partitionBy()
    pe = F.greatest(F.col("n_base") / F.sum("n_base").over(tot), F.lit(eps))
    pa = F.greatest(F.col("n_cur") / F.sum("n_cur").over(tot), F.lit(eps))
    return j.select(
        "category", "n_base", "n_cur",
        pe.alias("p_base"), pa.alias("p_cur"),
        ((pa - pe) * F.log(pa / pe)).alias("psi_term"),
    )


def categorical_drift_report(
    df_baseline: DataFrame, df_current: DataFrame, col: str,
    top_k: int = 50, eps: float = 1e-6,
) -> dict:
    """Driver-side rollup: total PSI and a Pearson chi-square statistic
    over the (top_k+1)-category table (expected = baseline frequencies
    scaled to the current total)."""
    rows = [r.asDict() for r in categorical_drift(df_baseline, df_current, col, top_k, eps).collect()]
    total_cur = sum(r["n_cur"] for r in rows) or 1
    chi2 = 0.0
    for r in rows:
        expected = r["p_base"] * total_cur
        if expected > 0:
            chi2 += (r["n_cur"] - expected) ** 2 / expected
    return {
        "column": col,
        "n_categories": len(rows),
        "psi": sum(r["psi_term"] for r in rows),
        "chi2": chi2,
        "baseline_n": int(sum(r["n_base"] for r in rows)),
        "current_n": int(sum(r["n_cur"] for r in rows)),
    }


def _joined_histograms(
    df_baseline: DataFrame,
    df_current: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Full-outer join of both tables' fixed-width histograms on bucket
    with zero-filled counts — the shared input of the per-bin drift
    DataFrames. Two map-side-combined aggregations (≤nbins rows per
    executor cross each shuffle) + an nbins-row join."""
    hb = histogram(df_baseline, col, lo, hi, nbins).select(
        "bucket", F.col("n").alias("n_base")
    )
    hc = histogram(df_current, col, lo, hi, nbins).select(
        "bucket", F.col("n").alias("n_cur")
    )
    return hb.join(hc, "bucket", "full_outer").select(
        "bucket",
        F.coalesce(F.col("n_base"), F.lit(0)).alias("n_base"),
        F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
    )


def ks_drift(
    df_baseline: DataFrame,
    df_current: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int = 32,
) -> DataFrame:
    """Binned two-sample Kolmogorov–Smirnov drift as a DataFrame: per-bin
    ECDFs of both tables and their absolute gap — ``max(cdf_gap)`` is the
    binned KS D statistic (the engine-side sibling of the driver-side
    ``ks_statistic`` scalar; it divides exact integer cumsums where the
    scalar accumulates float ratios, so they agree to ~1e-15, not
    necessarily bit-for-bit).

    Scale shape: identical to ``numeric_drift`` — the inputs are scanned
    once each by map-side-combined histogram aggs; the cumulative window
    orders ≤``nbins`` result rows, never data rows."""
    j = _joined_histograms(df_baseline, df_current, col, lo, hi, nbins)
    from pyspark.sql import Window

    cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    cdf_b = F.sum("n_base").over(cum) / F.sum("n_base").over(tot)
    cdf_c = F.sum("n_cur").over(cum) / F.sum("n_cur").over(tot)
    return j.select(
        "bucket", "n_base", "n_cur",
        cdf_b.alias("cdf_base"), cdf_c.alias("cdf_cur"),
        F.abs(cdf_b - cdf_c).alias("cdf_gap"),
    )


def numeric_drift(
    df_baseline: DataFrame,
    df_current: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int = 32,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-bin numeric drift as a DataFrame (the engine-side sibling of the
    driver-side ``drift_report`` scalars): fixed-width histogram of both
    tables, full-outer joined on bucket, with eps-floored frequencies and
    the PSI term per bin. ``sum(psi_term)`` = PSI; the binned KS statistic
    is the running max of ``|cum(p_base) − cum(p_cur)|``.

    Scale shape: two histogram aggregations (map-side combined, ≤nbins rows
    per executor cross the shuffle) + an nbins-row join. Each input is
    scanned once."""
    j = _joined_histograms(df_baseline, df_current, col, lo, hi, nbins)
    from pyspark.sql import Window

    tot = Window.partitionBy()
    pe = F.greatest(F.col("n_base") / F.sum("n_base").over(tot), F.lit(eps))
    pa = F.greatest(F.col("n_cur") / F.sum("n_cur").over(tot), F.lit(eps))
    return j.select(
        "bucket", "n_base", "n_cur",
        pe.alias("p_base"), pa.alias("p_cur"),
        ((pa - pe) * F.log(pa / pe)).alias("psi_term"),
    )


def grouped_column_stats(
    df: DataFrame,
    group_cols: "Sequence[str]",
    col: str,
) -> DataFrame:
    """Per-group numeric profile of one column in a single map-side-
    combined aggregation: ``*group_cols, n_rows, n_null, n_distinct,
    min_num, max_num, mean, stddev`` — the time-bucketed / per-segment
    sibling of ``column_stats`` (pass an event-date or segment column as
    the group). Distinct is exact ``count_distinct`` here: per-group
    cardinalities are the point of the query, and the group already
    bounds the shuffle; swap in a sketch upstream if groups are huge."""
    c = F.col(col)
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(c.isNull().cast("long")).cast("long").alias("n_null"),
        F.count_distinct(c).cast("long").alias("n_distinct"),
        F.min(c.cast("double")).alias("min_num"),
        F.max(c.cast("double")).alias("max_num"),
        F.avg(c.cast("double")).alias("mean"),
        F.stddev_samp(c.cast("double")).alias("stddev"),
    )


def anomalous_groups(
    df: DataFrame,
    group_cols: "Sequence[str]",
    col: str,
    z_threshold: float = 3.0,
    min_group_rows: int = 30,
) -> DataFrame:
    """Groups whose mean of ``col`` deviates anomalously from the corpus
    of group means: z-score each group against the across-group mean/std
    and keep |z| ≥ ``z_threshold`` (classic segment-level anomaly screen
    — a partition, day, or source whose metric went sideways). Groups
    under ``min_group_rows`` are excluded (their means are noise).

    Scale shape: the heavy step is one map-side-combined grouped agg
    (shuffle width = #groups); the z-scoring runs over the group-level
    rows with window aggregates — #groups rows, never data rows.

    Output: ``*group_cols, n_rows, group_mean, z`` for anomalous groups."""
    from pyspark.sql import Window

    groups = list(group_cols)
    g = (
        df.groupBy(*groups)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.avg(F.col(col).cast("double")).alias("group_mean"),
        )
        .where(
            (F.col("n_rows") >= min_group_rows) & F.col("group_mean").isNotNull()
        )
    )
    tot = Window.partitionBy()
    mu = F.avg("group_mean").over(tot)
    sd = F.stddev_samp("group_mean").over(tot)
    z = F.when(sd > 0, (F.col("group_mean") - mu) / sd).otherwise(F.lit(0.0))
    return (
        g.withColumn("z", z)
        .where(F.abs(F.col("z")) >= z_threshold)
        .select(*groups, "n_rows", "group_mean", "z")
    )


# --------------------------------------------------------------------------
# mergeable profiles — incremental monitoring state (DataSketches HLL)

def mergeable_profile(df: DataFrame, cols: "Optional[Sequence[str]]" = None) -> DataFrame:
    """Per-column MERGEABLE profile: ``(column, n_rows, n_nulls, min_num,
    max_num, hll)`` where ``hll`` is a DataSketches HLL sketch binary.
    Profiles are monitoring STATE, not just reports: profile each landed
    batch/partition once, persist the rows, and fold any set of them with
    ``merge_profiles`` — counts and min/max merge exactly, distinct
    merges at sketch accuracy — so day-N corpus stats never rescan days
    0..N-1. ``min_num``/``max_num`` are the try_cast-double range (null for
    non-castable columns — string ranges are profiled by the schema
    inferrer instead).

    One aggregate pass, all columns at once (map-side combined; sketches
    merge associatively on the combiners). Values are sketched via their
    canonical string form so every column type is admissible."""
    names = list(cols) if cols else [f.name for f in df.schema.fields]
    aggs = []
    for c in names:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(col.try_cast("double")).alias(f"{c}__min"),
            F.max(col.try_cast("double")).alias(f"{c}__max"),
            F.hll_sketch_agg(col.cast("string")).alias(f"{c}__hll"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__min").alias("min_num"),
            F.col(f"{c}__max").alias("max_num"),
            F.col(f"{c}__hll").alias("hll"),
        )
        for c in names
    ])
    return one.select(F.explode(per_col).alias("p")).select("p.*")


def merge_profiles(profiles: DataFrame) -> DataFrame:
    """Fold any union of ``mergeable_profile`` outputs into one profile
    per column: counts sum, ranges min/max, sketches union — all exact
    merges of the stored state, no data rescans. Output schema matches
    ``mergeable_profile``."""
    return profiles.groupBy("column").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_nulls").alias("n_nulls"),
        F.min("min_num").alias("min_num"),
        F.max("max_num").alias("max_num"),
        F.hll_union_agg("hll").alias("hll"),
    )


def profile_estimates(profile: DataFrame) -> DataFrame:
    """Readable view of a profile: sketch binaries become distinct-count
    estimates (``n_distinct_est``)."""
    return profile.select(
        "column", "n_rows", "n_nulls", "min_num", "max_num",
        F.hll_sketch_estimate("hll").cast("long").alias("n_distinct_est"),
    )


# log10(1 + 1/d) for d = 1..9, spelled as literals so the Spark plan and
# any SQL oracle share bit-identical expectations (no libm log in either).
_BENFORD_P = [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]


def benford_report(df: DataFrame, col: str, scale: int = 2) -> DataFrame:
    """First-significant-digit audit against Benford's law — the classic
    fabricated-numbers screen for positive broad-range measures (ledger
    amounts, populations). Output one row per digit 1-9:
    ``(digit, n, p_obs, p_exp, dev)`` with ``dev = p_obs - p_exp``; a
    large ``sum(dev²/p_exp)`` flags a synthetic or truncated distribution
    (uniform generators — like this repo's test data — fail loudly).

    Digit extraction goes through ``DECIMAL(38, scale)`` → string, NOT
    float formatting (engines disagree on double rendering; decimal
    rendering is exact and universal). One map-side-combined 9-group
    aggregate; expectations are compile-time literals, division is IEEE
    and portable."""
    from pyspark.sql import Window

    # try_cast: DECIMAL(38,scale) overflow (|x| >= 1e36 at scale=2) must
    # yield a null digit under ANSI mode too (plain cast would throw),
    # which the classify-or-exclude filter below then drops
    digit = F.substring(
        F.abs(F.col(col)).try_cast(f"decimal(38,{scale})").cast("string"), 1, 1
    ).cast("int")
    counts = (
        df.where(F.col(col).isNotNull() & (F.abs(F.col(col)) >= 1))
        .select(digit.alias("digit"))
        # classify-or-exclude BEFORE aggregating: a DECIMAL(38,scale)
        # overflow (|x| >= 1e36 at scale=2) yields a null digit, which
        # must not reach the denominator (or the agg) at all
        .where(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy())
    p_exp = F.element_at(F.array(*[F.lit(p) for p in _BENFORD_P]), F.col("digit"))
    return (
        counts
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / total.cast("double")).alias("p_obs"),
            p_exp.alias("p_exp"),
        )
        .withColumn("dev", F.col("p_obs") - F.col("p_exp"))
    )


def psi_by_period(
    df_baseline: DataFrame,
    df_current: DataFrame,
    col: str,
    period_col: str,
    period: str,
    lo: float,
    hi: float,
    nbins: int = 32,
    eps: float = 1e-6,
) -> DataFrame:
    """Drift TREND: per-bin PSI terms of ``col`` for every time period of
    the current table against one static baseline — "when did the feed
    start drifting", not just "has it". Output one row per
    ``(period_start, bucket)``: counts, eps-floored frequencies and the
    PSI term; ``sum(psi_term) GROUP BY period_start`` is the per-period
    PSI a monitor alerts on.

    Scale shape: the current side collapses in ONE map-side-combined
    ``(period, bucket)`` aggregate — shuffle width = #periods × nbins,
    never #rows; the baseline histogram (≤nbins rows) joins in via AQE
    broadcast. Per-period totals are windows OVER THE AGGREGATED ROWS
    (#periods × nbins), so no data row ever meets a window. Every period
    reports all nbins buckets (zero-filled via a period×bucket spine) —
    an empty bin is drift evidence, not an absent row."""
    bucket = _bin(F.col(col), lo, hi, nbins)
    from pyspark.sql import Window

    cur = (
        df_current.where(F.col(col).isNotNull() & F.col(period_col).isNotNull())
        .groupBy(
            F.date_trunc(period, F.col(period_col)).alias("period_start"),
            bucket.alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    # dense spine: every observed period × every bucket
    periods = cur.select("period_start").distinct()
    spine = periods.crossJoin(
        df_current.sparkSession.range(nbins).select(F.col("id").cast("int").alias("bucket"))
    )
    cur_dense = spine.join(cur, ["period_start", "bucket"], "left").select(
        "period_start", "bucket", F.coalesce("n_cur", F.lit(0)).alias("n_cur")
    )
    base = histogram(df_baseline, col, lo, hi, nbins).select(
        "bucket", F.col("n").alias("n_base")
    )
    j = cur_dense.join(base, "bucket", "left").select(
        "period_start", "bucket", "n_cur",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
    )
    per_tot = Window.partitionBy("period_start")
    pe = F.greatest(F.col("n_base") / F.sum("n_base").over(per_tot), F.lit(eps))
    pa = F.greatest(F.col("n_cur") / F.sum("n_cur").over(per_tot), F.lit(eps))
    return j.select(
        "period_start", "bucket", "n_base", "n_cur",
        pe.alias("p_base"), pa.alias("p_cur"),
        ((pa - pe) * F.log(pa / pe)).alias("psi_term"),
    )


def emd_drift(
    df_baseline: DataFrame,
    df_current: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int = 32,
) -> DataFrame:
    """Binned Wasserstein-1 (earth mover's) drift as per-bin rows: the
    running mass surplus ``cum(p_base − p_cur)`` and its contribution
    ``|cum| · bin_width`` — ``sum(emd_term)`` is the 1-D EMD between the
    two distributions. EMD complements PSI/KS in a drift suite: PSI
    explodes on empty bins, KS sees only the worst single gap, EMD weighs
    HOW FAR the mass moved (a 1-bin shift and a 10-bin shift have equal
    KS but 10× different EMD), which is what a retraining trigger should
    threshold on.

    Scale shape: identical to ``ks_drift`` — two map-side-combined
    histogram aggregations (≤nbins rows per executor cross the shuffle),
    an nbins-row join, and windows over the ≤nbins joined rows only.
    Doubles are exact-integer cumsums divided by totals, so both engines
    agree bit-for-bit."""
    j = _joined_histograms(df_baseline, df_current, col, lo, hi, nbins)
    from pyspark.sql import Window

    width = (hi - lo) / nbins
    cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    surplus = (
        F.sum("n_base").over(cum) / F.sum("n_base").over(tot)
        - F.sum("n_cur").over(cum) / F.sum("n_cur").over(tot)
    )
    return j.select(
        "bucket", "n_base", "n_cur",
        surplus.alias("mass_surplus"),
        (F.abs(surplus) * F.lit(width)).alias("emd_term"),
    )


def chisq_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-square test of independence between two categorical columns as
    a contingency DataFrame: one row per observed ``(a, b)`` cell with the
    observed count, the independence-expected count
    ``row_total · col_total / n`` and the cell's χ² term
    ``(obs − exp)² / exp`` — ``sum(chisq_term)`` vs the χ² quantile at
    ``(|A|−1)(|B|−1)`` dof is the dependence verdict. The cross-COLUMN
    sibling of the engine's cross-TABLE drift checks: a validation suite
    uses it to detect when two fields that should be independent (shard ↔
    label) or dependent (status ↔ priority) change their relationship.

    Scale shape: ONE map-side-combined ``(a, b)`` aggregation — shuffle
    width = #observed cells, never #rows; marginals are windows over the
    aggregated cell rows partitioned by each side, so no data row meets a
    window. Null categories participate as real cells (dropping them
    would hide a null-correlated dependence)."""
    from pyspark.sql import Window

    cells = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    row_tot = F.sum("n_obs").over(Window.partitionBy("a"))
    col_tot = F.sum("n_obs").over(Window.partitionBy("b"))
    grand = F.sum("n_obs").over(Window.partitionBy())
    expected = row_tot.cast("double") * col_tot.cast("double") / grand.cast("double")
    return cells.select(
        "a", "b", "n_obs",
        expected.alias("n_exp"),
        ((F.col("n_obs") - expected) * (F.col("n_obs") - expected) / expected).alias(
            "chisq_term"
        ),
    )


def quantile_range_check(
    df: DataFrame,
    group_cols: "Sequence[str]",
    col: str,
    bounds: "dict[float, tuple[Optional[float], Optional[float]]]",
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """The draft-04 ``minimum``/``maximum`` keywords lifted from VALUES to
    DISTRIBUTION quantiles — the SLO-style contract ("p99 latency ≤ 2s",
    "median price in [lo, hi]") per group. ``bounds`` maps each quantile
    to its ``(lo, hi)`` (either side None = unbounded). Output one row per
    (group, quantile): the measured value, both bounds, and ``ok``.

    ``exact=True`` uses Spark's interpolated ``percentile`` — verified
    bit-identical to DuckDB's ``quantile_cont`` (both R-7), which is what
    lets the driver oracle hash-match; it buffers each group's values on
    its reducer, so reserve it for oracle parity and bounded groups. The
    default is the ``percentile_approx`` KLL-style sketch (bounded memory
    at any group size) — rank error ≤ 1/accuracy, the 100-TB path.

    Scale shape: ONE aggregation (map-side combined in sketch mode),
    shuffle width = #groups; the per-quantile explosion happens on the
    #groups result rows."""
    qs = sorted(bounds)
    if not qs:
        raise ValueError("bounds must name at least one quantile")
    q_arr = "array(" + ", ".join(str(q) for q in qs) + ")"
    agg = (
        F.expr(f"percentile({col}, {q_arr})")
        if exact
        else F.expr(f"percentile_approx({col}, {q_arr}, {accuracy})")
    ).alias("__vals")
    per = df.groupBy(*group_cols).agg(agg)
    rows = per.select(
        *group_cols,
        F.posexplode("__vals").alias("__i", "value"),
    ).select(
        *group_cols,
        F.element_at(
            F.array(*[F.lit(q) for q in qs]), F.col("__i") + 1
        ).alias("quantile"),
        "value",
    )
    lo_arr = F.array(*[F.lit(bounds[q][0]).cast("double") for q in qs])
    hi_arr = F.array(*[F.lit(bounds[q][1]).cast("double") for q in qs])
    idx = F.array_position(F.array(*[F.lit(q) for q in qs]), F.col("quantile"))
    lo = F.element_at(lo_arr, idx.cast("int"))
    hi = F.element_at(hi_arr, idx.cast("int"))
    return rows.select(
        *group_cols,
        "quantile",
        "value",
        lo.alias("lo"),
        hi.alias("hi"),
        (
            (lo.isNull() | (F.col("value") >= lo))
            & (hi.isNull() | (F.col("value") <= hi))
        ).alias("ok"),
    )


def categorical_entropy(df: DataFrame, group_col: str, cat_col: str) -> DataFrame:
    """Per-group Shannon entropy of a categorical column — the balance
    audit for training mixes: entropy ≈ 0 means a stratum (source, shard,
    day) is single-category (e.g. one language swamped a source), entropy
    near ``ln(k)`` means it is uniform. Output one row per group:
    ``(group, n_rows, n_cats, entropy, entropy_norm)`` with
    ``entropy_norm = entropy / ln(n_cats)`` ∈ [0,1] comparable across
    groups with different category counts (single-category groups get 0).

    Scale shape: ONE map-side-combined (group, cat) aggregation — shuffle
    width = #observed cells — then a second #cells → #groups aggregation;
    no window ever sees a data row. Nulls count as a real category."""
    cells = df.groupBy(
        F.col(group_col).alias("grp"), F.col(cat_col).alias("cat")
    ).agg(F.count(F.lit(1)).alias("n"))
    per = cells.groupBy("grp").agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_cats"),
        # sum(n ln n) lets entropy come out of ONE pass over the cells:
        # H = ln(N) − Σ n·ln(n) / N
        F.sum(F.col("n").cast("double") * F.log(F.col("n").cast("double"))).alias(
            "__sum_nlogn"
        ),
    )
    ent = F.log(F.col("n_rows").cast("double")) - F.col("__sum_nlogn") / F.col(
        "n_rows"
    ).cast("double")
    return per.select(
        F.col("grp").alias(group_col),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_cats").cast("long").alias("n_cats"),
        ent.alias("entropy"),
        F.when(F.col("n_cats") > 1, ent / F.log(F.col("n_cats").cast("double")))
        .otherwise(F.lit(0.0))
        .alias("entropy_norm"),
    )


def rolling_count_anomaly(
    df: DataFrame,
    ts_col: str,
    period: str = "day",
    trailing: int = 7,
    min_history: int = 3,
) -> DataFrame:
    """Volume-anomaly screen on the event feed itself: per-period row
    counts with a trailing-window mean/stddev (the ``trailing`` periods
    strictly BEFORE each one — the period never scores against itself)
    and the resulting z-score. The per-PERIOD sibling of
    ``anomalous_groups`` (which z-scores entities against the population);
    this is the "did ingest double or halve today" monitor. Periods with
    fewer than ``min_history`` predecessors emit a null z (cold start is
    not evidence).

    Scale shape: the input collapses in ONE map-side-combined per-period
    count — shuffle width = #periods, never #rows; the trailing window
    orders the #period result rows only (a year of days is 365 rows), the
    classic agg-then-window monitor plan."""
    from pyspark.sql import Window

    counts = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.date_trunc(period, F.col(ts_col)).alias("period_start"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return score_period_counts(counts, trailing, min_history)


def score_period_counts(
    counts: DataFrame, trailing: int = 7, min_history: int = 3
) -> DataFrame:
    """The scoring half of ``rolling_count_anomaly``, over an already-
    aggregated ``(period_start, n)`` DataFrame — shared by the batch
    operator and the streaming volume monitor (which accumulates counts
    in a batch_id-partitioned state dir and re-scores the merged totals
    per micro-batch). The trailing window orders #period rows only."""
    from pyspark.sql import Window

    w = Window.orderBy("period_start").rowsBetween(-trailing, -1)
    mean = F.avg(F.col("n").cast("double")).over(w)
    sd = F.stddev_samp(F.col("n").cast("double")).over(w)
    hist = F.count(F.lit(1)).over(w)
    return counts.select(
        "period_start", "n",
        F.when(hist >= min_history, mean).alias("trail_mean"),
        F.when(hist >= min_history, sd).alias("trail_std"),
        F.when(
            (hist >= min_history) & (sd > 0),
            (F.col("n").cast("double") - mean) / sd,
        ).alias("z"),
    )


def winsorize(
    df: DataFrame,
    col: str,
    group_cols: "Optional[Sequence[str]]" = None,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    exact: bool = False,
    accuracy: int = 10000,
    out_col: "Optional[str]" = None,
) -> DataFrame:
    """Outlier capping: clamp ``col`` into its per-group ``[lo_q, hi_q]``
    quantile band — the standard pre-training / pre-aggregation tail
    treatment (a fat-finger price or a sensor spike should dent, not
    dominate, downstream statistics). Returns the input rows plus the
    clamped column (``out_col``, default ``<col>_w``) and the applied
    ``__lo``/``__hi`` bounds; rows in-band pass through bit-unchanged.

    Same exactness contract as ``quantile_range_check``: the default is
    the ``percentile_approx`` sketch (map-side-combined, bounded memory —
    the 100-TB path); ``exact=True`` is R-7 interpolated, bit-identical
    to external SQL engines for oracle parity.

    Scale shape: one bounds aggregation (shuffle width = #groups), one
    AQE-broadcast join of the #groups bounds table back onto the stream,
    one codegen clamp — the data is scanned twice and never shuffled."""
    gcols = list(group_cols or [])
    out_col = out_col or f"{col}_w"
    q_arr = f"array({lo_q}, {hi_q})"
    agg = (
        F.expr(f"percentile({col}, {q_arr})")
        if exact
        else F.expr(f"percentile_approx({col}, {q_arr}, {accuracy})")
    ).alias("__b")
    bounds = df.groupBy(*gcols).agg(agg).select(
        *gcols,
        F.element_at("__b", 1).alias("__lo"),
        F.element_at("__b", 2).alias("__hi"),
    )
    joined = df.join(F.broadcast(bounds), gcols) if gcols else df.crossJoin(
        F.broadcast(bounds)
    )
    return joined.withColumn(
        out_col,
        F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi")),
    )


def robust_outliers(
    df: DataFrame,
    col: str,
    group_cols: "Optional[Sequence[str]]" = None,
    k: float = 3.5,
    exact: bool = False,
    accuracy: int = 10000,
    consistency: float = 1.4826,
) -> DataFrame:
    """Median/MAD robust outlier screen: flag rows whose deviation from
    the per-group median exceeds ``k`` robust standard deviations, where
    the robust sd is ``consistency * MAD`` (1.4826 makes MAD consistent
    with σ under normality — the Iglewicz-Hoban modified z-score). Unlike
    a mean/std screen (``anomalous_groups``), a single fat-finger value
    cannot inflate the yardstick that is supposed to catch it: median and
    MAD both have a 50% breakdown point, which is what a screen running
    unattended over 10^12 rows needs.

    Adds ``__med``, ``__mad``, ``robust_z`` (null when MAD = 0) and
    ``is_outlier``; a degenerate group (MAD = 0) flags any row that
    deviates from the median at all.

    Same exactness contract as ``quantile_range_check``/``winsorize``:
    default is the ``percentile_approx`` sketch (bounded memory, the
    100-TB path); ``exact=True`` is R-7 interpolated, bit-identical to
    DuckDB ``median``/``mad`` for oracle parity.

    Scale shape: two #groups-wide aggregations (median, then MAD of the
    residuals) + two AQE-broadcast joins of #groups-row tables back onto
    the stream — the data is scanned three times and never shuffled."""
    gcols = list(group_cols or [])
    pfn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else f", {accuracy}"

    med = df.groupBy(*gcols).agg(
        F.expr(f"{pfn}({col}, 0.5{acc})").alias("__med")
    )
    with_med = (
        df.join(F.broadcast(med), gcols)
        if gcols
        else df.crossJoin(F.broadcast(med))
    )
    dev = F.abs(F.col(col) - F.col("__med"))
    mad = with_med.groupBy(*gcols, "__med").agg(
        F.expr(f"{pfn}(abs({col} - __med), 0.5{acc})").alias("__mad")
    )
    join_cols = gcols + ["__med"]
    out = with_med.join(F.broadcast(mad), join_cols)
    scale = F.lit(consistency) * F.col("__mad")
    return out.withColumns(
        {
            "robust_z": F.when(F.col("__mad") > 0, dev / scale),
            "is_outlier": dev > F.lit(k) * scale,
        }
    )


def correlation_matrix(
    df: DataFrame,
    cols: Sequence[str],
    null_indicators: bool = False,
) -> DataFrame:
    """All pairwise Pearson correlations in ONE aggregation — the
    multivariate extension of ``column_stats``: a correlation that jumps
    between snapshots signals a broken upstream join or a unit change
    even when every per-column marginal looks healthy. Returns long form
    ``(col_a, col_b, corr, n)`` for the C(k,2) unordered pairs
    (``col_a < col_b`` lexicographically); ``corr`` is null for a
    degenerate (zero-variance) side, ``n`` counts rows where BOTH sides
    are non-null — exactly SQL ``corr`` semantics, so the DuckDB oracle
    is the same function name.

    ``null_indicators=True`` correlates the is-null FLAGS instead of the
    values (any column type): structurally-linked missingness — two
    fields that go null together point at one upstream failure, not two.

    Scale shape: one map-side-combined agg producing a single 2·C(k,2)-
    value row (corr + count per pair), unpivoted driver-side via a
    literal stack — zero joins, zero windows, one scan; k is schema-
    sized (tens), never data-sized."""
    cs = sorted(cols)
    src = [
        F.col(c).isNull().cast("double").alias(c) if null_indicators else F.col(c).cast("double").alias(c)
        for c in cs
    ]
    base = df.select(*src)
    pairs = [
        (a, b) for i, a in enumerate(cs) for b in cs[i + 1:]
    ]
    aggs = []
    for a, b in pairs:
        # pairwise-complete Pearson r, null (not an ANSI divide-by-zero
        # error, and not a marginal-stddev mismatch) on degenerate sides:
        # restrict BOTH columns to rows where both are non-null, exactly
        # SQL corr semantics
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        av = F.when(both, F.col(a))
        bv = F.when(both, F.col(b))
        aggs.append(
            F.try_divide(
                F.covar_samp(av, bv),
                F.stddev_samp(av) * F.stddev_samp(bv),
            ).alias(f"__c_{a}_{b}")
        )
        aggs.append(F.count(F.when(both, 1)).cast("long").alias(f"__n_{a}_{b}"))
    wide = base.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', `__c_{a}_{b}`, `__n_{a}_{b}`" for a, b in pairs
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr, n)"
    )


def group_trend(
    df: DataFrame,
    y_col: str,
    x_col: str,
    group_cols: "Optional[Sequence[str]]" = None,
) -> DataFrame:
    """Per-group least-squares trend of ``y`` over ``x`` (typically a
    day number): slope, intercept, r², and the pair count — drift as a
    DIRECTION, complementing the distribution detectors (PSI/KS/EMD flag
    that a column moved; the slope says which way and how fast, e.g. a
    per-segment revenue decay or a sensor baseline creeping up). All
    four are SQL regression aggregates, so the whole screen is ONE
    map-side-combined aggregation — shuffle width = #groups, no joins,
    no windows, one scan; slope/intercept are null for a degenerate
    group (zero x-variance or < 2 pairs), never an error."""
    gcols = list(group_cols or [])
    y, x = F.col(y_col), F.col(x_col)
    return df.groupBy(*gcols).agg(
        F.regr_slope(y, x).alias("slope"),
        F.regr_intercept(y, x).alias("intercept"),
        F.regr_r2(y, x).alias("r2"),
        F.regr_count(y, x).cast("long").alias("n_pairs"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns, plus
    both marginal entropies and the normalized score — the
    strength-of-association companion to ``chisq_independence`` (χ²
    answers "are they dependent?"; MI answers "how many bits of one does
    the other leak?", which is the question for quasi-identifier and
    label-leakage screens). NMI = MI / min(H_a, H_b) ∈ [0, 1]; 1 means
    one column is a function of the other.

    Output (one row): ``mi_nats, h_a, h_b, nmi, n_rows, n_cells``.
    Nulls are categories (SQL GROUP BY semantics) — "missing" can leak
    information too.

    Scale shape: ONE row-scale aggregation to the (a, b) contingency
    cells (map-side-combined, shuffle width = #cells); marginals and the
    Σ p·ln(p/(pa·pb)) fold are re-aggregations OVER THE CELL TABLE
    (windows over #cells rows, never row-scale data)."""
    from pyspark.sql import Window

    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).cast("double").alias("__n"))
    w_all = Window.partitionBy()
    w_a = Window.partitionBy("__a")
    w_b = Window.partitionBy("__b")
    tot = F.sum("__n").over(w_all)
    p = F.col("__n") / tot
    pa = F.sum("__n").over(w_a) / tot
    pb = F.sum("__n").over(w_b) / tot
    terms = cells.select(
        p.alias("__p"),
        pa.alias("__pa"),
        pb.alias("__pb"),
        tot.alias("__tot"),
    )
    agg = terms.agg(
        F.sum(F.col("__p") * F.log(F.col("__p") / (F.col("__pa") * F.col("__pb")))).alias("mi_nats"),
        # each marginal's -Σ p log p, summed over cells with the cell's
        # share of its marginal: Σ_cells p·(-log pa) = -Σ_a pa·log pa
        F.sum(-F.col("__p") * F.log("__pa")).alias("h_a"),
        F.sum(-F.col("__p") * F.log("__pb")).alias("h_b"),
        F.first("__tot").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    return agg.withColumn(
        "nmi",
        F.when(
            F.least("h_a", "h_b") > 0,
            F.col("mi_nats") / F.least("h_a", "h_b"),
        ).otherwise(F.lit(0.0)),
    ).select("mi_nats", "h_a", "h_b", "nmi", "n_rows", "n_cells")


def decimal_grid_check(
    df: DataFrame,
    col: str,
    scale: int = 2,
    group_cols: "Optional[Sequence[str]]" = None,
    tol: float = 1e-9,
) -> DataFrame:
    """Monetary-grid integrity: a currency column must sit on the cent
    grid — values off ``10^-scale`` multiples mean a float division or
    unit conversion corrupted it upstream (the classic ``price / 3``
    bug), which a min/max range check can never see. Per group:
    ``n_rows, n_off_grid, off_grid_frac, max_abs_residual`` where the
    residual is the distance to the nearest grid point (compared against
    ``tol`` to ignore float representation noise: 19.99 stored as a
    double is ~1e-15 off its grid point, not a violation).

    One map-side-combined aggregation — shuffle width = #groups. The
    residual is computed floor-based (distance to the nearest multiple of
    the grid step), not via ``round`` — half-even vs half-up conventions
    differ across engines and this formula is independent of both."""
    x = F.col(col).cast("double")
    step = float(10**scale)
    scaled = x * F.lit(step)
    frac = scaled - F.floor(scaled)
    resid = F.least(frac, F.lit(1.0) - frac) / F.lit(step)
    off = (resid > F.lit(tol)).cast("long")
    gcols = list(group_cols or [])
    out = df.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum(off), F.lit(0)).cast("long").alias("n_off_grid"),
        F.max(resid).alias("max_abs_residual"),
    )
    return out.withColumn(
        "off_grid_frac", F.col("n_off_grid") / F.col("n_rows")
    )


def mask_profile(
    df: DataFrame,
    col: str,
    k: int = 50,
    collapse_runs: bool = True,
) -> DataFrame:
    """Format-shape profile of a string column: map every value to its
    character-class mask (digits→``9``, lowercase→``a``, uppercase→``A``,
    everything else kept verbatim) and count the top-``k`` masks — the
    structure detector for identifier-ish columns. A phone column is
    healthy when one or two masks own the distribution; a new mask
    appearing between snapshots IS the format regression (the "+49
    prefix started arriving" class of bug), long before any length or
    null check fires. ``collapse_runs=True`` folds repeated class
    symbols (``999-99`` → ``9-9``), profiling shape rather than width.

    Output: ``(mask, n)`` ordered (n desc, mask asc), deterministic
    cutoff. Nulls profile as the ``__NULL__`` mask.

    Scale shape: three regexp projections + hash agg with map-side
    combine (shuffle width = #masks, bounded by format diversity, not
    rows) + TakeOrdered top-k — same shape as ``top_tokens``."""
    m = F.regexp_replace(F.col(col).cast("string"), "[0-9]", "9")
    m = F.regexp_replace(m, "[a-z]", "a")
    m = F.regexp_replace(m, "[A-Z]", "A")
    if collapse_runs:
        m = F.regexp_replace(m, "9+", "9")
        m = F.regexp_replace(m, "a+", "a")
        m = F.regexp_replace(m, "A+", "A")
    mask = F.coalesce(m, F.lit("__NULL__"))
    counts = df.select(mask.alias("mask")).groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return counts.orderBy(F.desc("n"), F.asc("mask")).limit(k)


def null_rate_by_period(
    df: DataFrame,
    ts_col: str,
    cols: Sequence[str],
    period: str = "day",
) -> DataFrame:
    """Per-period null-rate matrix: for each period and each listed
    column, the fraction of rows where it is null — the "field X stopped
    being populated on day D" detector. ``completeness_by_period`` sees
    volume gaps; this sees a column going dark while row counts stay
    perfectly healthy (the classic silent upstream-schema change).

    Output: ``(period, column, n_rows, n_null, null_frac)`` long form.

    Scale shape: ONE aggregation keyed by period computing every
    column's null count in the same pass (map-side combined; shuffle
    width = #periods), then a literal unpivot over the #periods × k
    result rows — the row stream is scanned once regardless of how many
    columns are profiled."""
    p = F.date_trunc(period, F.col(ts_col))
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0))
            .cast("long")
            .alias(f"__null_{c}")
        )
    wide = df.groupBy(p.alias("period")).agg(*aggs)
    stack_args = ", ".join(f"'{c}', `__null_{c}`" for c in cols)
    return wide.selectExpr(
        "period",
        "__n AS n_rows",
        f"stack({len(cols)}, {stack_args}) AS (column, n_null)",
    ).select(
        "period",
        F.col("column"),
        "n_rows",
        "n_null",
        (F.col("n_null") / F.col("n_rows")).alias("null_frac"),
    )


def concentration_report(
    df: DataFrame,
    group_col: str,
    weight_col: "Optional[str]" = None,
    top_frac: float = 0.01,
) -> DataFrame:
    """Corpus-balance screen: how concentrated is the mass (rows, or
    ``weight_col`` — tokens, bytes, revenue) across groups (sources,
    domains, speakers)? "80% of training tokens come from 2% of sources"
    is a diversity failure no per-source mean can express. One row:

    * ``gini`` — 0 = perfectly even, →1 = one group owns everything;
    * ``hhi`` — Herfindahl index Σ share² (1/#groups when even, 1 when
      monopolized);
    * ``top_share`` — mass fraction held by the top ``top_frac`` of
      groups (⌈top_frac·k⌉, at least 1);
    * ``n_groups``, ``total_weight``.

    Scale shape: ONE row-scale aggregation to per-group masses (map-side
    combined, shuffle width = #groups); Gini/HHI/top-share are then
    window math over the #groups-row table — group cardinality is the
    bounded quantity, row count never matters. Gini uses the rank
    formula G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over masses sorted
    ascending (deterministic ties by group value)."""
    from pyspark.sql import Window

    w_expr = (
        F.count(F.lit(1)).cast("double")
        if weight_col is None
        else F.coalesce(F.sum(F.col(weight_col).cast("double")), F.lit(0.0))
    )
    masses = df.groupBy(F.col(group_col).alias("__g")).agg(w_expr.alias("__w"))
    w_rank = Window.orderBy(F.asc("__w"), F.asc("__g"))
    w_all = Window.partitionBy()
    ranked = (
        masses.withColumn("__i", F.row_number().over(w_rank))
        .withColumn("__k", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "__topn",
            F.greatest(F.ceil(F.lit(float(top_frac)) * F.col("__k")), F.lit(1)),
        )
    )
    agg = ranked.agg(
        F.max("__k").cast("long").alias("n_groups"),
        F.sum("__w").alias("__tot"),
        F.sum(F.col("__i") * F.col("__w")).alias("__iw"),
        F.sum(F.col("__w") * F.col("__w")).alias("__w2"),
        F.coalesce(
            F.sum(
                F.when(F.col("__i") > F.col("__k") - F.col("__topn"), F.col("__w"))
            ),
            F.lit(0.0),
        ).alias("__top_w"),
    )
    return agg.select(
        "n_groups",
        F.col("__tot").alias("total_weight"),
        (
            F.lit(2.0) * F.col("__iw") / (F.col("n_groups") * F.col("__tot"))
            - (F.col("n_groups") + F.lit(1.0)) / F.col("n_groups")
        ).alias("gini"),
        (F.col("__w2") / (F.col("__tot") * F.col("__tot"))).alias("hhi"),
        (F.col("__top_w") / F.col("__tot")).alias("top_share"),
    )


def multi_drift(
    df_base: DataFrame,
    df_cur: DataFrame,
    bounds: "dict[str, tuple[float, float]]",
    nbins: int = 32,
    eps: float = 1e-6,
) -> DataFrame:
    """Whole-table drift battery in ONE scan per side: every numeric
    column's PSI and KS against the baseline, not one aggregation per
    column. The k-column unpivot (``stack``) runs inside the scan
    projection, so the row stream is read once and hash-aggregated on
    ``(column, bucket)`` — shuffle width k·nbins, independent of row
    count; the per-column KS/PSI folds then run over the bin table.
    ``bounds`` maps column → (lo, hi) fixed bucketing range (fixed
    buckets are what make partial aggregation and cross-side comparison
    valid — the same contract as ``histogram``).

    Output: ``(column, n_base, n_cur, psi, ks)`` — rank by either to
    triage which columns moved; out-of-range values clamp into the edge
    buckets (a shifted tail lands in bucket 0/nbins−1 and still drifts).
    """
    def binned(df: DataFrame, side: str) -> DataFrame:
        parts = []
        for c, (lo, hi) in bounds.items():
            b = _bin(F.col(c).cast("double"), lo, hi, nbins)
            parts.append(
                F.when(F.col(c).isNotNull(), F.struct(F.lit(c).alias("column"), b.alias("bucket")))
            )
        ex = df.select(F.explode(F.array(*parts)).alias("cb")).where(
            F.col("cb").isNotNull()
        )
        return ex.groupBy("cb.column", "cb.bucket").agg(
            F.count(F.lit(1)).cast("double").alias(f"n_{side}")
        )
    hb = binned(df_base, "base")
    hc = binned(df_cur, "cur")
    j = hb.join(hc, ["column", "bucket"], "full_outer").select(
        "column",
        "bucket",
        F.coalesce("n_base", F.lit(0.0)).alias("n_base"),
        F.coalesce("n_cur", F.lit(0.0)).alias("n_cur"),
    )
    from pyspark.sql import Window

    w_col = Window.partitionBy("column")
    w_cum = Window.partitionBy("column").orderBy("bucket")
    tot_b = F.sum("n_base").over(w_col)
    tot_c = F.sum("n_cur").over(w_col)
    pb = F.col("n_base") / tot_b + F.lit(eps)
    pc = F.col("n_cur") / tot_c + F.lit(eps)
    terms = j.select(
        "column",
        "bucket",
        "n_base",
        "n_cur",
        ((pc - pb) * F.log(pc / pb)).alias("__psi_term"),
        F.abs(
            F.sum(F.col("n_cur") / tot_c).over(w_cum)
            - F.sum(F.col("n_base") / tot_b).over(w_cum)
        ).alias("__ks_term"),
    )
    return terms.groupBy("column").agg(
        F.sum("n_base").cast("long").alias("n_base"),
        F.sum("n_cur").cast("long").alias("n_cur"),
        F.sum("__psi_term").alias("psi"),
        F.max("__ks_term").alias("ks"),
    )


def qq_drift(
    df_base: DataFrame,
    df_cur: DataFrame,
    col: str,
    probs: "Sequence[float]" = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99),
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Quantile-quantile drift localization: ``multi_drift``/``ks_drift``
    say a column MOVED; this says WHERE — one row per probe quantile
    with both sides' values and the gap, so a fattened upper tail (p99
    jumped, median flat) reads differently from a wholesale shift (every
    quantile moved together) or a unit change (all quantiles scaled).

    Output: ``(p, q_base, q_cur, gap, rel_gap)`` — ``rel_gap`` null when
    the base quantile is 0.

    Same exactness contract as the quantile family: default is the
    ``percentile_approx`` sketch (one fixed-size mergeable partial per
    task — both sides cost one scan each at any scale); ``exact=True``
    is R-7 interpolated for oracle parity. The quantile ARRAY comes back
    in a single aggregation per side and is exploded driver-free with
    posexplode over a 1-row table."""
    parr = "array(" + ", ".join(repr(float(p)) for p in probs) + ")"
    pfn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else f", {accuracy}"

    def side(df: DataFrame, name: str) -> DataFrame:
        agg = df.agg(
            F.expr(f"{pfn}({col}, {parr}{acc})").alias("__q")
        )
        return agg.select(F.posexplode("__q").alias("__i", f"q_{name}"))

    probs_df = side(df_base, "base").join(side(df_cur, "cur"), "__i")
    p_lit = F.element_at(
        F.array(*[F.lit(float(p)) for p in probs]), F.col("__i") + 1
    )
    gap = F.col("q_cur") - F.col("q_base")
    return probs_df.select(
        p_lit.alias("p"),
        "q_base",
        "q_cur",
        gap.alias("gap"),
        F.when(F.col("q_base") != 0, gap / F.abs("q_base")).alias("rel_gap"),
    )


def group_normalize(
    df: DataFrame,
    col: str,
    group_cols: "Optional[Sequence[str]]" = None,
    method: str = "z",
    out_col: "Optional[str]" = None,
) -> DataFrame:
    """Per-group feature normalization TRANSFORM — the fix path for the
    scale problems the screens report (a price column mixing currencies
    by region, sensor channels with different gains): ``method='z'``
    standardizes to mean 0 / sd 1 within each group, ``'minmax'`` maps
    into [0, 1]. Degenerate groups (zero variance / zero range) emit
    null, never an ANSI error — the caller decides whether constant
    features are dropped or passed through.

    Scale shape: winsorize's plan — one #groups-wide moments agg, one
    AQE-broadcast join back, one codegen expression; data scanned twice,
    rows never shuffled."""
    if method not in ("z", "minmax"):
        raise ValueError(f"group_normalize: unknown method {method!r}")
    gcols = list(group_cols or [])
    out_col = out_col or f"{col}_norm"
    x = F.col(col).cast("double")
    if method == "z":
        moments = df.groupBy(*gcols).agg(
            F.avg(x).alias("__m"), F.stddev_samp(x).alias("__s")
        )
        expr = F.try_divide(x - F.col("__m"), F.col("__s"))
    else:
        moments = df.groupBy(*gcols).agg(
            F.min(x).alias("__lo"), F.max(x).alias("__hi")
        )
        expr = F.try_divide(x - F.col("__lo"), F.col("__hi") - F.col("__lo"))
    joined = (
        df.join(F.broadcast(moments), gcols)
        if gcols
        else df.crossJoin(F.broadcast(moments))
    )
    return joined.withColumn(out_col, expr)


def decade_profile(
    df: DataFrame,
    col: str,
    group_cols: "Optional[Sequence[str]]" = None,
) -> DataFrame:
    """Order-of-magnitude histogram: counts per decimal decade
    (``floor(log10(|x|))``) plus zero/negative/null buckets — the
    unit-mix detector. A length column secretly mixing meters and
    millimeters is bimodal in LOG space three decades apart while its
    mean, range, and even PSI against last week look plausible; two
    humps in this profile is the smoking gun. Complements
    ``decimal_grid_check`` (sub-unit corruption) and ``benford_report``
    (leading-digit fraud) as the third magnitude-structure screen.

    Output: ``*group_cols, bucket, n`` where bucket ∈ {null, zero,
    negative decades…, decade k}; one map-side-combined agg, shuffle
    width = #groups × #decades (≤ ~600 for doubles)."""
    x = F.col(col).cast("double")
    bucket = (
        F.when(x.isNull(), F.lit("null"))
        .when(x == 0, F.lit("zero"))
        .otherwise(
            F.concat(
                F.when(x < 0, F.lit("neg:e")).otherwise(F.lit("e")),
                F.floor(F.log10(F.abs(x))).cast("long").cast("string"),
            )
        )
    )
    gcols = list(group_cols or [])
    return df.groupBy(*gcols, bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def float32_safety(
    df: DataFrame,
    col: str,
    rel_tol: float = 1e-9,
) -> DataFrame:
    """Will this column survive a float32 feature store? Double →
    float32 → double round-trip error per value, aggregated: values
    outside ±~3.4e38 overflow to infinity, sub-normal magnitudes flush,
    and anything needing more than 24 significand bits (ids stored as
    numbers, high-precision money) silently loses digits — found HERE,
    not after the model trained on corrupted features. One row:
    ``n_rows, n_lossy (rel err > rel_tol), n_overflow, max_rel_err``.
    float32 rounding error is at most ~6e-8 relative, so the default
    tolerance of 1e-9 means "flag any value that doesn't round-trip
    exactly (beyond noise)" — raise it to accept bounded loss.

    One map-side-combined aggregation; the cast round-trip is pure
    codegen (IEEE 754 conversion, bit-identical across engines)."""
    x = F.col(col).cast("double")
    rt = x.cast("float").cast("double")
    overflow = x.isNotNull() & ~F.isnan(x) & (F.abs(rt) == float("inf")) & (F.abs(x) != float("inf"))
    rel = F.when(
        x.isNotNull() & (x != 0) & ~overflow, F.abs(rt - x) / F.abs(x)
    )
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum((rel > rel_tol).cast("long")), F.lit(0)).cast("long").alias("n_lossy"),
        F.coalesce(F.sum(overflow.cast("long")), F.lit(0)).cast("long").alias("n_overflow"),
        F.max(rel).alias("max_rel_err"),
    )


def column_entropy_profile(
    df: DataFrame,
    cols: Sequence[str],
) -> DataFrame:
    """Shannon entropy (nats) of every listed column in ONE scan — the
    near-constant-column detector with more nuance than n_distinct: a
    column with 1000 distinct values where one covers 99.9% of rows has
    entropy ≈ 0 (it carries almost no information and a join on it will
    skew catastrophically), which the distinct count alone hides.
    Values are compared by their string form (works for any type; nulls
    are a category).

    Output: ``(column, n_distinct, entropy_nats, norm_entropy)`` —
    ``norm_entropy`` = H/ln(n_distinct) ∈ [0,1] (1 = uniform).

    Scale shape: the multi_drift trick — k-column stack unpivot inside
    the scan projection, ONE hash agg on (column, value) with map-side
    combine (shuffle width = Σ per-column cardinality), entropy folds
    over the value-count table."""
    parts = [
        F.struct(
            F.lit(c).alias("column"),
            F.coalesce(F.col(c).cast("string"), F.lit("__NULL__")).alias("v"),
        )
        for c in cols
    ]
    ex = df.select(F.explode(F.array(*parts)).alias("cv"))
    counts = ex.groupBy("cv.column", "cv.v").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    from pyspark.sql import Window

    tot = F.sum("n").over(Window.partitionBy("column"))
    p = F.col("n") / tot
    terms = counts.select("column", (-p * F.log(p)).alias("__h"))
    out = terms.groupBy("column").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("__h").alias("entropy_nats"),
    )
    return out.withColumn(
        "norm_entropy",
        F.when(
            F.col("n_distinct") > 1,
            F.col("entropy_nats") / F.log(F.col("n_distinct").cast("double")),
        ).otherwise(F.lit(0.0)),
    )


def string_length_profile(
    df: DataFrame,
    cols: Sequence[str],
) -> DataFrame:
    """Length structure of every string column in ONE scan (the stack
    trick again): min/avg/max length, empty-string and null counts —
    truncation (max pinned at a suspiciously round 255/4096), padding
    (min == max on a free-text field) and the empty-vs-null confusion
    (the draft-04 compiler treats them differently; upstreams mix them)
    all read directly off this table.

    Output: ``(column, n_rows, n_null, n_empty, min_len, avg_len,
    max_len)``; one map-side-combined agg on the column tag."""
    parts = [
        F.struct(
            F.lit(c).alias("column"),
            F.length(F.col(c).cast("string")).alias("len"),
        )
        for c in cols
    ]
    ex = df.select(F.explode(F.array(*parts)).alias("cl")).select(
        "cl.column", "cl.len"
    )
    return ex.groupBy("column").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum(F.col("len").isNull().cast("long")), F.lit(0))
        .cast("long")
        .alias("n_null"),
        F.coalesce(F.sum((F.col("len") == 0).cast("long")), F.lit(0))
        .cast("long")
        .alias("n_empty"),
        F.min("len").cast("long").alias("min_len"),
        F.avg("len").alias("avg_len"),
        F.max("len").cast("long").alias("max_len"),
    )


def sample_representativeness(
    population: DataFrame,
    sample: DataFrame,
    col: str,
    null_label: str = "__NULL__",
) -> DataFrame:
    """Is the sample actually representative? χ² goodness-of-fit of the
    sample's composition over ``col`` against the population's — the QA
    step after any sampling operator (a stratified sampler with a bug, a
    "random" sample taken from one partition, a filter that silently
    correlated with the stratum). One row per category with observed vs
    expected counts and its χ² contribution, plus the category count so
    the caller can look up the critical value (df = k−1).

    Output: ``(category, n_pop, n_sample, expected, chi2_term)`` —
    Σ chi2_term is the statistic; a term dominating the sum names the
    category the sampler starved or flooded.

    Scale shape: one count agg per side (shuffle width = #categories),
    one join of the two count TABLES; expected = pop share × sample
    size. Categories with expected = 0 are excluded from terms (never
    sampled-from, contributes nothing by convention)."""
    def counts(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(
            F.coalesce(F.col(col).cast("string"), F.lit(null_label)).alias(
                "category"
            )
        ).agg(F.count(F.lit(1)).cast("long").alias(name))

    p = counts(population, "n_pop")
    s = counts(sample, "n_sample")
    j = p.join(s, "category", "full_outer").select(
        "category",
        F.coalesce("n_pop", F.lit(0)).cast("long").alias("n_pop"),
        F.coalesce("n_sample", F.lit(0)).cast("long").alias("n_sample"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    tot_p = F.sum("n_pop").over(w)
    tot_s = F.sum("n_sample").over(w)
    expected = F.col("n_pop") / tot_p * tot_s
    return j.select(
        "category",
        "n_pop",
        "n_sample",
        expected.alias("expected"),
        F.when(
            expected > 0,
            F.pow(F.col("n_sample") - expected, 2) / expected,
        ).otherwise(F.lit(0.0)).alias("chi2_term"),
    )
