"""Table-level integrity checks: uniqueness (skew-salted) and referential.

Absent in the reference (its ``uniqueItems`` is array-local only,
interface.go:117) — these are the north_rule's table-scale requirements:
"uniqueness runs as salted repartition + hash-aggregate dedup, referential
checks as broadcast or sort-merge anti-joins ... with explicit skew salting
on clip_id hot keys".

Scale design:

* ``duplicate_keys`` two-phase: phase 1 aggregates ``(key, salt)`` so a hot
  key's billions of rows are reduced by S salts × map-side combine before
  any single reducer sees them; phase 2 re-aggregates by key over the tiny
  phase-1 output. For uniform keys use ``salt_buckets=1`` (plain hash-agg —
  map-side combine already collapses duplicates per partition).
* ``referential_violations`` broadcasts the dim side when told (or when
  Spark's AQE decides); otherwise sort-merge anti-join. The LEFT ANTI join
  never materializes matches — output is only the violating keys.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(
    df: DataFrame,
    key_cols: Sequence[str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Keys appearing more than once, with their multiplicity.

    Two-phase salted hash aggregation: ``groupBy(key, salt).count`` (partial,
    spreads a hot key over ``salt_buckets`` reducers) → ``groupBy(key).sum``
    (final, over at most ``salt_buckets`` rows per key) → ``filter(n > 1)``.
    Output: key columns + ``n_rows``.
    """
    return _key_counts(df, key_cols, salt_buckets).where(F.col("n_rows") > 1)


def _key_counts(df: DataFrame, key_cols: Sequence[str], salt_buckets: int) -> DataFrame:
    """Per-key row counts via the two-phase salted aggregation (all keys,
    no multiplicity filter)."""
    keys = [F.col(c) for c in key_cols]
    if salt_buckets <= 1:
        return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    # seeded rand is deterministic per (partition index, row position) for
    # deterministic scan inputs; after a shuffle or AQE repartition a retry
    # may deal different salts — harmless here, because the two-phase count
    # is salt-invariant (phase 2 sums whatever phase-1 split occurred)
    salt = (F.rand(42) * salt_buckets).cast("int")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, F.col("__salt"))
        .agg(F.count(F.lit(1)).alias("__partial"))
    )
    return partial.groupBy(*key_cols).agg(F.sum("__partial").alias("n_rows"))


def uniqueness_report(df: DataFrame, key_cols: Sequence[str], salt_buckets: int = 16) -> dict:
    """Driver-side rollup: total rows, distinct keys, duplicate keys, extra
    rows that dedup would drop.

    ONE pass over the table: every scalar folds out of the per-key counts
    of the phase-1/2 salted aggregation (``sum(n_rows)`` = total rows), so
    the 10^12-row input is scanned once — not re-scanned for a separate
    ``df.count()``."""
    counts = _key_counts(df, key_cols, salt_buckets)
    agg = counts.agg(
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum((F.col("n_rows") > 1).cast("long")).alias("dup_keys"),
        F.coalesce(
            F.sum(F.when(F.col("n_rows") > 1, F.col("n_rows") - 1).otherwise(F.lit(0))),
            F.lit(0),
        ).alias("extra_rows"),
    ).collect()[0]
    return {
        "n_rows": int(agg["n_rows"]),
        "dup_keys": int(agg["dup_keys"] or 0),
        "extra_rows": int(agg["extra_rows"]),
        "n_unique_keys": int(agg["n_keys"]),
    }


def dedup_keep_first(
    df: DataFrame, key_cols: Sequence[str], order_cols: Optional[Sequence] = None
) -> DataFrame:
    """Keep one row per key. With ``order_cols``: deterministic keep-first
    (the row minimizing the ordering tuple; unique ordering ⇒ fully
    deterministic). Without: ``dropDuplicates`` — keeps an arbitrary row.

    Both paths are hash aggregations with map-side combine: a hot key's
    billions of rows pre-reduce to one candidate per task before the
    shuffle. The row_number-window formulation would instead shuffle every
    row of the key to a single reducer and sort — the skew trap this
    module exists to avoid. ``order_cols`` are compared ascending as a
    tuple (wrap values, e.g. ``-ts``, to invert — struct comparison has no
    per-field sort direction)."""
    if not order_cols:
        return df.dropDuplicates(list(key_cols))
    for c in order_cols:
        if not isinstance(c, str) and (" DESC" in str(c) or " ASC" in str(c)):
            raise ValueError(
                "dedup_keep_first order_cols are compared as an ascending "
                "tuple; sort-order columns like F.col('ts').desc() are not "
                "supported — wrap the value instead (e.g. -F.col('ts'))"
            )
    kept = (
        df.select(
            *[F.col(c) for c in key_cols],
            F.struct(*df.columns).alias("__row"),
            F.struct(*[F.col(c) if isinstance(c, str) else c for c in order_cols]).alias("__ord"),
        )
        .groupBy(*key_cols)
        .agg(F.min_by(F.col("__row"), F.col("__ord")).alias("__row"))
    )
    return kept.select("__row.*")


def referential_violations(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | dict[str, str],
    broadcast_dim: Optional[bool] = None,
    salt_buckets: Optional[int] = None,
) -> DataFrame:
    """Fact rows whose key has no match in ``dim`` (LEFT ANTI join).

    ``on``: list of same-named columns, or ``{fact_col: dim_col}`` mapping.

    ``broadcast_dim``: ``None`` (default) lets Catalyst/AQE choose from the
    dim-side size estimate (small dims auto-broadcast under
    ``spark.sql.autoBroadcastJoinThreshold``, runtime sizes re-checked by
    AQE) — the safe default, since forcing a broadcast of an unexpectedly
    large dim OOMs executors. ``True`` forces a broadcast hash anti-join
    (dims known to fit: codecs, nation, region); ``False`` forces the
    shuffle path (sort-merge anti-join + AQE skew splitting).

    ``salt_buckets``: EXPLICIT skew salting for the shuffle path when one
    fact key (a hot clip_id) would otherwise funnel through a single
    reducer: each fact row gets a deterministic pseudo-random salt in
    [0, S) appended to the join key, and the dim key set is replicated
    across all S salts — so membership is unchanged (a fact key finds its
    own salt's replica iff the key exists at all) while the hot key's rows
    spread over S reducers. Dim-side cost: S × |distinct keys| rows, tiny
    by construction. Use when AQE skew splitting is unavailable or the
    skew is known up front; implies the shuffle path."""
    if isinstance(on, dict):
        pairs = list(on.items())
    else:
        pairs = [(c, c) for c in on]
    dim_keys = dim.select(*[F.col(d).alias(f"__dim_{d}") for _f, d in pairs]).dropDuplicates()
    if salt_buckets:
        spark = fact.sparkSession
        salts = spark.range(salt_buckets).select(F.col("id").cast("int").alias("__dim_salt"))
        dim_salted = dim_keys.crossJoin(F.broadcast(salts)).hint("shuffle_merge")
        fact_s = fact.withColumn(
            "__salt", F.floor(F.rand(7) * salt_buckets).cast("int")
        )
        cond = fact_s["__salt"] == dim_salted["__dim_salt"]
        for f, d in pairs:
            cond = cond & (fact_s[f] == dim_salted[f"__dim_{d}"])
        return fact_s.join(dim_salted, cond, "left_anti").drop("__salt")
    if broadcast_dim is True:
        dim_keys = F.broadcast(dim_keys)
    elif broadcast_dim is False:
        dim_keys = dim_keys.hint("shuffle_merge")
    cond = None
    for f, d in pairs:
        c = fact[f] == dim_keys[f"__dim_{d}"]
        cond = c if cond is None else (cond & c)
    return fact.join(dim_keys, cond, "left_anti")


def referential_report(
    fact: DataFrame, dim: DataFrame, on, broadcast_dim: Optional[bool] = None,
    sample: int = 10,
) -> dict:
    viol = referential_violations(fact, dim, on, broadcast_dim)
    n_bad = viol.count()
    keys = list(on.keys()) if isinstance(on, dict) else list(on)
    samples = [tuple(r) for r in viol.select(*keys).limit(sample).collect()] if n_bad else []
    return {"n_violations": n_bad, "sample_keys": samples}


def key_set_diff(
    expected: DataFrame,
    actual: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Expected-vs-actual key-set comparison (SURVEY §2.5 set-ops row):
    one DataFrame of ``key columns + status`` where status ∈
    {'missing' (expected but absent), 'unexpected' (present but not
    expected)}. Distinct projections + EXCEPT on both sides — Catalyst plans
    these as hash aggregations / anti-joins on the key, no row payloads
    shuffle."""
    cols = [F.col(c) for c in key_cols]
    exp_keys = expected.select(*cols).dropDuplicates()
    act_keys = actual.select(*cols).dropDuplicates()
    missing = exp_keys.exceptAll(act_keys).withColumn("status", F.lit("missing"))
    unexpected = act_keys.exceptAll(exp_keys).withColumn("status", F.lit("unexpected"))
    return missing.unionByName(unexpected)


def functional_dependency_violations(
    df: DataFrame,
    determinant_cols: Sequence[str],
    dependent_col: str,
    max_samples: int = 3,
) -> DataFrame:
    """Determinant groups that map to MORE than one dependent value —
    candidate functional-dependency discovery / FD-integrity checking
    (e.g. "every clip_id maps to exactly one codec").

    One map-side-combined aggregation on the determinant: each task
    pre-reduces its rows to distinct (determinant, dependent) pairs via
    ``collect_set``, so shuffle width is bounded by #distinct pairs, not
    #rows. ``sample_values`` carries ``max_samples`` offending dependents
    (deterministic: sorted set, first k). Nulls count as a value (a
    determinant mapping to both NULL and 'x' IS a violation).

    Output: ``*determinant_cols, n_dependent_values, n_rows,
    sample_values``."""
    dep = F.coalesce(F.col(dependent_col).cast("string"), F.lit("__NULL__"))
    agg = (
        df.groupBy(*determinant_cols)
        .agg(
            F.collect_set(dep).alias("__vals"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .where(F.size("__vals") > 1)
    )
    return agg.select(
        *determinant_cols,
        F.size("__vals").cast("long").alias("n_dependent_values"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.slice(F.array_sort("__vals"), 1, max_samples).alias("sample_values"),
    )


def cardinality_violations(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_key: str,
    min_children: int = 1,
    max_children: Optional[int] = None,
) -> DataFrame:
    """Parents whose child-row count falls outside
    ``[min_children, max_children]`` — the cardinality contract referential
    anti-joins can't express (they only see 0-vs-nonzero).

    Child counts are one map-side-combined aggregation (shuffle width =
    #distinct child keys); the parent join is a plain equi-join AQE sizes
    (broadcast when the violating-count side is small). ``min_children=0``
    checks only the upper bound; parents with no children surface with
    ``n_children = 0`` via the left join.

    Output: ``parent_key, n_children, bound`` ('under' | 'over')."""
    counts = child.groupBy(F.col(child_key).alias(parent_key)).agg(
        F.count(F.lit(1)).alias("n_children")
    )
    joined = (
        parent.select(parent_key)
        .join(counts, parent_key, "left")
        .select(
            parent_key,
            F.coalesce(F.col("n_children"), F.lit(0)).cast("long").alias("n_children"),
        )
    )
    under = F.col("n_children") < min_children
    over = (
        F.col("n_children") > max_children if max_children is not None else F.lit(False)
    )
    return joined.where(under | over).select(
        parent_key,
        "n_children",
        F.when(under, F.lit("under")).otherwise(F.lit("over")).alias("bound"),
    )


def freshness_report(
    df: DataFrame,
    ts_col: str,
    as_of,
    max_age_seconds: int,
) -> DataFrame:
    """Data-freshness check: latest event time vs an explicit ``as_of``
    anchor (a datetime or ISO string — passed in, never ``now()``, so the
    check is deterministic and replayable). One map-side-combined
    ``max``; output is a single row: ``latest_ts, lag_seconds, fresh``.
    An empty/all-null table reports ``fresh = false`` with null lag."""
    # Anchor must match ts_col's flavor: timestamp_diff rejects (or
    # tz-shifts) mixed TIMESTAMP / TIMESTAMP_NTZ operands, so cast the
    # literal to the column's own type instead of hardcoding NTZ.
    anchor = F.lit(as_of).cast(df.schema[ts_col].dataType)
    agg = df.agg(F.max(F.col(ts_col)).alias("latest_ts"))
    # floor of the microsecond difference: engines disagree on whether a
    # coarse date_diff truncates or counts boundary crossings, so pin the
    # semantics (floor is also sign-consistent for future-dated data)
    lag = F.floor(
        F.timestamp_diff("MICROSECOND", F.col("latest_ts"), anchor) / 1_000_000
    )
    return agg.select(
        "latest_ts",
        lag.cast("long").alias("lag_seconds"),
        F.coalesce(lag <= max_age_seconds, F.lit(False)).alias("fresh"),
    )


def schema_diff(df_a: DataFrame, df_b: DataFrame) -> dict:
    """Schema drift between two tables (driver-side metadata only — no
    job runs): columns added / removed / type-changed from A to B."""
    a = {f.name: f.dataType.simpleString() for f in df_a.schema.fields}
    b = {f.name: f.dataType.simpleString() for f in df_b.schema.fields}
    return {
        "added": sorted(set(b) - set(a)),
        "removed": sorted(set(a) - set(b)),
        "type_changed": sorted(
            (c, a[c], b[c]) for c in set(a) & set(b) if a[c] != b[c]
        ),
        "identical": a == b,
    }


def skew_report(
    df: DataFrame,
    key_cols: "Sequence[str]",
    k: int = 10,
) -> DataFrame:
    """Join/aggregation-key skew diagnostic: the ``k`` hottest key values
    with their row counts and share of the table, plus per-row the
    overall ``skew_ratio`` (hottest key count ÷ mean rows per key) — the
    number that says whether this key needs salting before it becomes a
    join/shuffle bottleneck. Deterministic ties: count desc, then key
    string asc.

    One map-side-combined count per key (shuffle width = #distinct
    keys), one single-row aggregate over the counts table for the
    totals, and a TakeOrdered top-k — no windows, no full sort, nothing
    driver-side beyond k rows."""
    keys = [F.col(c).cast("string") for c in key_cols]
    key_str = F.concat_ws("|", *keys)
    counts = (
        df.select(key_str.alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    totals = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
        F.max("n_rows").alias("__max"),
    )
    top = counts.orderBy(F.desc("n_rows"), F.asc("key")).limit(int(k))
    return top.crossJoin(F.broadcast(totals)).select(
        "key",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
        F.col("__n_keys").cast("long").alias("n_keys"),
        F.round(
            F.col("__max") / (F.col("__total") / F.col("__n_keys")), 4
        ).alias("skew_ratio"),
    )


def completeness_by_period(
    df: DataFrame,
    ts_col: str,
    period: str = "day",
) -> DataFrame:
    """Time-completeness check: row counts per ``period`` (``day`` /
    ``hour`` / ``week``) over the table's observed time span, with GAPS
    materialized as explicit zero-count rows (``is_gap = true``) — the
    "did a delivery silently skip Tuesday" monitor that a bare
    groupBy-count cannot express (absent periods produce no group).
    Output: ``(period_start, n_rows, is_gap)``.

    One map-side-combined count keyed by truncated period (#periods
    rows), a single-row bounds aggregate, and an exploded expected-period
    sequence joined back — the expected side is #periods rows (AQE
    broadcasts it), never data-sized."""
    if period not in ("day", "hour", "week"):
        raise ValueError("period must be day/hour/week")
    per = F.date_trunc(period, F.col(ts_col))
    counts = (
        df.where(F.col(ts_col).isNotNull())
        .select(per.alias("__p"))
        .groupBy("__p")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    step = F.expr(f"interval 1 {period}")
    expected = counts.agg(
        F.min("__p").alias("__lo"), F.max("__p").alias("__hi")
    ).select(
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"), step)).alias("period_start")
    )
    return (
        expected.join(counts, expected["period_start"] == counts["__p"], "left")
        .select(
            "period_start",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_rows"),
            F.col("__p").isNull().alias("is_gap"),
        )
    )


def reconciliation_report(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    fact_measure,
    dim_measure,
    tolerance: float = 0.01,
) -> DataFrame:
    """Cross-table aggregate reconciliation: does ``sum(fact_measure)``
    per ``fact_key`` equal ``dim_measure`` on the dimension row? The
    classic ledger check (order header total vs recomputed line total)
    the reference cannot express (single-document scope,
    validator/validator.go) but a table engine must. Output one row per
    key: ``(key, expected, actual, abs_err, status)`` with status in
    ``match`` / ``mismatch`` / ``missing_fact`` (dim row has no fact
    rows) / ``missing_dim`` (fact rows with no dim row).

    Scale shape: the fact side collapses FIRST through a map-side-combined
    hash aggregate (shuffle width = #keys, not #fact rows), then a single
    key-partitioned FULL OUTER join against the dim projection — both
    sides shuffle once on the same key, AQE picks broadcast when the agg
    output is small. Pass DECIMAL-typed measures for order-independent
    exact sums (double addition is order-sensitive and partial aggregation
    order is nondeterministic)."""
    if isinstance(fact_measure, str):
        fact_measure = F.col(fact_measure)
    if isinstance(dim_measure, str):
        dim_measure = F.col(dim_measure)
    agg = fact.groupBy(F.col(fact_key).alias("key")).agg(
        F.sum(fact_measure).alias("actual")
    )
    dims = dim.select(F.col(dim_key).alias("__dkey"), dim_measure.alias("expected"))
    joined = dims.join(agg, dims["__dkey"] == agg["key"], "full_outer")
    err = F.abs(F.col("expected") - F.col("actual"))
    status = (
        F.when(F.col("__dkey").isNull(), F.lit("missing_dim"))
        .when(F.col("key").isNull(), F.lit("missing_fact"))
        .when(err <= F.lit(tolerance), F.lit("match"))
        .otherwise(F.lit("mismatch"))
    )
    return joined.select(
        F.coalesce(F.col("__dkey"), F.col("key")).alias("key"),
        "expected",
        "actual",
        err.alias("abs_err"),
        status.alias("status"),
    )


def vector_violations(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    expected_dim: int,
    norm_sq_min: Optional[float] = None,
    norm_sq_max: Optional[float] = None,
    forbid_nan: bool = True,
) -> DataFrame:
    """Constraint validation for an embedding column (``array<float>``) —
    the vector-side sibling of the draft-04 scalar keywords: dimension
    (≈ min/maxItems), NaN/Inf poisoning, and squared-L2-norm bounds
    (≈ minimum/maximum on a derived value; squared so the check stays in
    +-* arithmetic — no libm sqrt in the plan or the oracle). Output:
    ``(id, reason)`` rows, one per violated constraint, reason in
    ``null_vec`` / ``bad_dim`` / ``nan`` / ``norm_low`` / ``norm_high``.

    Pure Catalyst: ``size``, ``exists`` and a left-to-right ``aggregate``
    fold over the array — zero Python, zero shuffle, a single projection
    the scan pipeline absorbs. Norm bounds are only evaluated on NaN-free
    vectors (guarded explicitly: Spark orders NaN ABOVE every number, so
    an unguarded ``norm_sq > max`` would double-report every NaN vector)."""
    vec = F.col(vec_col)
    norm_sq = F.aggregate(
        vec,
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    has_nan = F.exists(vec, lambda x: F.isnan(x))
    checks = [
        F.when(vec.isNull(), F.lit("null_vec")),
        F.when(vec.isNotNull() & (F.size(vec) != expected_dim), F.lit("bad_dim")),
    ]
    if forbid_nan:
        checks.append(F.when(vec.isNotNull() & has_nan, F.lit("nan")))
    if norm_sq_min is not None:
        checks.append(
            F.when(
                vec.isNotNull() & ~has_nan & (norm_sq < F.lit(float(norm_sq_min))),
                F.lit("norm_low"),
            )
        )
    if norm_sq_max is not None:
        checks.append(
            F.when(
                vec.isNotNull() & ~has_nan & (norm_sq > F.lit(float(norm_sq_max))),
                F.lit("norm_high"),
            )
        )
    reasons = F.array_compact(F.array(*checks))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(reasons).alias("reason"))
    )


def duplicate_charges(
    df: DataFrame,
    key_col: str,
    amount_col: str,
    ts_col: str,
    id_col: str,
    max_gap_days: int = 30,
) -> DataFrame:
    """Double-charge screen: pairs of DISTINCT records with the same key
    (customer/account), the IDENTICAL amount, within ``max_gap_days`` of
    each other — the classic duplicate-payment / double-submission audit
    a ledger validation suite runs. Amount equality is exact (DECIMAL or
    string-rendered, never float-rounded upstream). Output one row per
    unordered pair: key, both ids, both timestamps, the amount and the
    gap in days.

    Scale shape: a self-equi-join on the COMPOSITE (key, amount) — far
    finer than key alone, so per-bucket fan-out is the count of
    same-key-same-amount records (legitimately tiny; a bucket that IS
    huge is itself the finding) — then the gap predicate and id ordering.
    No windows, no data-row sort; the join shuffles on a high-cardinality
    composite, immune to single-customer hot keys unless the amounts
    repeat too."""
    cols = {
        "k": F.col(key_col), "a": F.col(amount_col),
        "t": F.col(ts_col), "i": F.col(id_col),
    }
    s = df.where(
        F.col(key_col).isNotNull()
        & F.col(amount_col).isNotNull()
        & F.col(ts_col).isNotNull()
    ).select(*[v.alias(n) for n, v in cols.items()])
    a, b = s.alias("a"), s.alias("b")
    gap = F.abs(F.datediff(F.col("a.t"), F.col("b.t")))
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.a") == F.col("b.a"))
            & (F.col("a.i") < F.col("b.i")),
        )
        .where(gap <= max_gap_days)
        .select(
            F.col("a.k").alias(key_col),
            F.col("a.i").alias("id_a"),
            F.col("b.i").alias("id_b"),
            F.col("a.a").alias(amount_col),
            F.col("a.t").alias("ts_a"),
            F.col("b.t").alias("ts_b"),
            gap.cast("long").alias("gap_days"),
        )
    )


def order_violations(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    type_col: str,
    before_event: str,
    after_event: str,
) -> DataFrame:
    """Causal-order integrity: entities whose first ``after_event``
    precedes their first ``before_event`` (purchase before signup,
    shipment before order, response before request) or who have the
    ``after_event`` with NO ``before_event`` at all — both are
    impossible-history findings an event-feed validation suite must
    surface (clock skew, id reuse, backfill bugs). Output one row per
    violating entity: both first-timestamps and the reason
    (``'out_of_order'`` / ``'missing_prerequisite'``).

    Scale shape: two map-side-combined per-entity min aggregates and one
    entity-keyed join — no windows, no event-history collection."""
    firsts = (
        df.where(F.col(type_col).isin(before_event, after_event))
        .groupBy(F.col(entity_col).alias("entity"))
        .agg(
            F.min(F.when(F.col(type_col) == before_event, F.col(ts_col))).alias(
                "first_before"
            ),
            F.min(F.when(F.col(type_col) == after_event, F.col(ts_col))).alias(
                "first_after"
            ),
        )
    )
    return (
        firsts.where(
            F.col("first_after").isNotNull()
            & (
                F.col("first_before").isNull()
                | (F.col("first_after") < F.col("first_before"))
            )
        )
        .select(
            F.col("entity").alias(entity_col),
            "first_before",
            "first_after",
            F.when(F.col("first_before").isNull(), F.lit("missing_prerequisite"))
            .otherwise(F.lit("out_of_order"))
            .alias("reason"),
        )
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """Privacy QA for training-data release: a row is re-identifiable
    when its quasi-identifier combination (zip + age + segment …) is
    shared by fewer than ``k`` rows — the k-anonymity criterion. Returns
    one row per quasi-identifier group: the group columns, ``group_n``
    and ``at_risk`` (group_n < k). ``min(group_n)`` is the dataset's
    anonymity parameter; ``sum(group_n) where at_risk`` is the number of
    rows that must be suppressed or generalized before release.

    Scale shape: ONE hash aggregation, shuffle width = #distinct QI
    combinations (map-side partial counts absorb the row volume); no
    joins, no windows. Nulls group together (SQL GROUP BY semantics),
    matching the attacker model — "field missing" is itself a visible
    attribute value."""
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("group_n")
    ).withColumn("at_risk", F.col("group_n") < F.lit(k))


def k_anonymize(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """Enforcement sibling of ``k_anonymity_report``: drop every row
    whose quasi-identifier group is smaller than ``k`` (suppression —
    the release-safe subset). The surviving table is k-anonymous by
    construction.

    Scale shape: the #groups-wide report table is AQE-broadcast back
    onto the stream — data scanned twice, rows never shuffled. The semi
    join is null-SAFE on every QI column: a large all-null group is
    release-safe and must survive (a plain equi-join would silently drop
    it)."""
    safe = (
        k_anonymity_report(df, quasi_cols, k)
        .where(~F.col("at_risk"))
        .select([F.col(c).alias(f"__safe_{c}") for c in quasi_cols])
    )
    cond = None
    for c in quasi_cols:
        clause = F.col(c).eqNullSafe(F.col(f"__safe_{c}"))
        cond = clause if cond is None else (cond & clause)
    return df.join(F.broadcast(safe), cond, "left_semi")


def l_diversity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """The attack k-anonymity misses: a group of 50 rows is 50-anonymous,
    but if all 50 share one diagnosis the attacker learns the sensitive
    value without re-identifying anyone (homogeneity attack). A release is
    l-diverse when every quasi-identifier group carries at least ``l``
    DISTINCT sensitive values. One row per QI group: the group columns,
    ``group_n``, ``n_sensitive`` (distinct non-null sensitive values),
    ``top_share`` (the most common sensitive value's fraction — the
    probabilistic-inference strength even when distinct-l passes), and
    ``at_risk`` (n_sensitive < l).

    Scale shape: one (QI, sensitive) hash agg contracts row volume to the
    pair table, then a per-group agg over the pairs — both map-side
    combined, shuffle width ≤ #distinct pairs; no joins, no windows, rows
    never shuffled. Null sensitive values are excluded from diversity
    (an absent diagnosis is not a second diagnosis) but counted in
    ``group_n`` via the pair-level count sum."""
    pairs = df.groupBy(
        *quasi_cols, F.col(sensitive_col).alias("__sv")
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return (
        pairs.groupBy(*quasi_cols)
        .agg(
            F.sum("__n").cast("long").alias("group_n"),
            F.count(F.when(F.col("__sv").isNotNull(), 1))
            .cast("long").alias("n_sensitive"),
            (
                F.max(F.when(F.col("__sv").isNotNull(), F.col("__n")))
                / F.sum("__n")
            ).alias("top_share"),
        )
        .withColumn("at_risk", F.col("n_sensitive") < F.lit(l))
    )


def t_closeness_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    t: float = 0.2,
    ordered: bool = True,
) -> DataFrame:
    """Third rung of the privacy ladder (k-anonymity → l-diversity →
    t-closeness): a group can be diverse yet still leak — 3 distinct
    salaries that are all in the top decile tell the attacker plenty. A
    release is t-close when every quasi-identifier group's sensitive
    distribution sits within distance ``t`` of the GLOBAL distribution.
    ``ordered=True`` (numeric/banded attributes) uses the normalized
    Earth-Mover's distance with unit ground spacing — Σ|cum_g − cum_global|
    / (V−1) over the V global values, the canonical choice from the
    t-closeness paper; ``ordered=False`` uses total-variation distance
    0.5·Σ|p_g − p_global| (equal ground distance). Values a group lacks
    count (p_g = 0) — that absence IS information.

    Per QI group: ``group_n``, ``distance``, ``at_risk`` (distance > t).
    Null sensitive values are excluded from both distributions.

    Scale shape: the row-scale table contracts to a (QI, value) pair agg
    once; everything after runs on pair/group/value-scale tables — a
    groups × values broadcast grid join (both tiny), one cumulative
    window PER GROUP over ≤V rows, one final agg. Rows are scanned once
    and never shuffled."""
    from pyspark.sql import Window

    sv = F.col(sensitive_col)
    pairs = (
        df.where(sv.isNotNull())
        .groupBy(*quasi_cols, sv.alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    pairs = pairs.localCheckpoint(eager=False)
    groups = pairs.groupBy(*quasi_cols).agg(F.sum("__n").alias("__gn"))
    glob = pairs.groupBy("__v").agg(F.sum("__n").alias("__vn"))
    glob = glob.withColumn("__N", F.sum("__vn").over(Window.partitionBy()))
    grid = groups.crossJoin(F.broadcast(glob))  # groups × values, both tiny
    # rename before joining: grid shares pairs' lineage, so a bare __n
    # would resolve ambiguously against the self-referenced aggregates.
    # Null-safe keys: a group whose quasi-identifier is null keeps its pairs
    keys = [f"__k{i}" for i in range(len(quasi_cols))]
    pair_n = pairs.select(
        *[F.col(c).alias(k) for c, k in zip(quasi_cols, keys)],
        F.col("__v").alias("__kv"), F.col("__n").alias("__pair_n"),
    )
    on = [F.col(c).eqNullSafe(F.col(k)) for c, k in zip(quasi_cols, keys)]
    j = grid.join(pair_n, on + [F.col("__v") == F.col("__kv")], "left").withColumn(
        "__pg", F.coalesce(F.col("__pair_n"), F.lit(0)) / F.col("__gn")
    ).withColumn("__p", F.col("__vn") / F.col("__N"))
    if ordered:
        w = Window.partitionBy(*quasi_cols).orderBy("__v")
        j = j.withColumn(
            "__d", F.abs(F.sum("__pg").over(w) - F.sum("__p").over(w))
        )
        nvals = F.count(F.lit(1))
        dist = F.sum("__d") / F.greatest(nvals - 1, F.lit(1))
    else:
        dist = F.sum(F.abs(F.col("__pg") - F.col("__p"))) / 2.0
    return (
        j.groupBy(*quasi_cols)
        .agg(
            F.first("__gn").cast("long").alias("group_n"),
            dist.alias("distance"),
        )
        .withColumn("at_risk", F.col("distance") > F.lit(t))
    )


def join_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: "Optional[str]" = None,
) -> DataFrame:
    """Pre-join diagnostic: will this join explode? For each side of a
    prospective equi-join, reduce to per-key counts, full-outer-join the
    two (small) key-count tables, and report the key-overlap and fan-out
    structure BEFORE paying for the real join:

    one row per ``key_status`` ∈ {both, left_only, right_only} with
    ``n_keys``, ``rows_left``, ``rows_right`` and ``join_rows`` — the
    exact inner-join output size (Σ cnt_l·cnt_r over shared keys). A
    ``join_rows`` orders of magnitude above either input is the many-to-
    many blowup this screen exists to catch; ``left_only``/``right_only``
    quantify referential leakage in the same pass.

    Scale shape: two map-side-combined aggs (shuffle width = #distinct
    keys per side) + one join OF THE KEY-COUNT TABLES — the row-scale
    data is scanned once per side and never joined; AQE picks broadcast
    when one key table is small."""
    rk = right_key or left_key
    lc = left.groupBy(F.col(left_key).alias("__k")).agg(
        F.count(F.lit(1)).cast("long").alias("__nl")
    )
    rc = right.groupBy(F.col(rk).alias("__k")).agg(
        F.count(F.lit(1)).cast("long").alias("__nr")
    )
    j = lc.join(rc, "__k", "full_outer")
    status = (
        F.when(F.col("__nl").isNotNull() & F.col("__nr").isNotNull(), F.lit("both"))
        .when(F.col("__nl").isNotNull(), F.lit("left_only"))
        .otherwise(F.lit("right_only"))
    )
    return j.groupBy(status.alias("key_status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.coalesce(F.sum("__nl"), F.lit(0)).cast("long").alias("rows_left"),
        F.coalesce(F.sum("__nr"), F.lit(0)).cast("long").alias("rows_right"),
        F.coalesce(
            F.sum(F.col("__nl") * F.col("__nr")), F.lit(0)
        ).cast("long").alias("join_rows"),
    )


def temporal_referential_violations(
    fact: DataFrame,
    dim: DataFrame,
    on: "Sequence[str] | dict[str, str]",
    ts_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    broadcast_dim: "Optional[bool]" = None,
) -> DataFrame:
    """Temporal (SCD-2) referential integrity: a fact row must reference
    a dimension version that was VALID at the fact's own timestamp —
    plain referential_violations answers "does the key exist?", this
    answers "did it exist *then*?" (order priced against a not-yet- or
    no-longer-effective rate card, a clip attributed to a decommissioned
    recording device). A null ``valid_to`` is an open interval.

    Returns the violating fact rows (LEFT ANTI on key + interval-cover,
    so matches are never materialized). ``broadcast_dim`` as in
    ``referential_violations``: None lets AQE decide; SCD dims (keys ×
    versions) are usually broadcast-sized even when the fact side is
    10^12 rows — the scale path is a broadcast anti-join with zero
    shuffle of the fact stream. For a dim too large to broadcast, range-
    bucket the intervals (``events.interval_join``'s scheme) instead."""
    if isinstance(on, dict):
        pairs = list(on.items())
    else:
        pairs = [(c, c) for c in on]
    sel = [F.col(d).alias(f"__dim_{d}") for _f, d in pairs] + [
        F.col(valid_from_col).alias("__vf"),
        F.col(valid_to_col).alias("__vt"),
    ]
    d_k = dim.select(*sel)
    cond = None
    for f_c, d_c in pairs:
        clause = F.col(f_c) == F.col(f"__dim_{d_c}")
        cond = clause if cond is None else (cond & clause)
    ts = F.col(ts_col)
    cond = cond & (ts >= F.col("__vf")) & (
        F.col("__vt").isNull() | (ts < F.col("__vt"))
    )
    if broadcast_dim is True:
        d_k = F.broadcast(d_k)
    return fact.join(d_k, cond, "left_anti")


def monotonicity_violations(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    strict: bool = False,
) -> DataFrame:
    """Counter-integrity screen: a cumulative column (odometer, event
    counter, offset, version number) must never decrease along an
    entity's ordered history — a drop is a device reset, a replayed
    partition, or an id collision stitching two histories together.
    ``order_violations`` checks event-TYPE ordering; this checks a
    NUMERIC column's monotone contract along the same per-entity
    timeline.

    Returns the violating transitions: ``entity, order value, prev_val,
    value, drop`` (one row per decrease; ``strict=True`` also flags
    plateaus). Scale shape: one lag window partitioned by entity
    (sessionize's shuffle) + a codegen filter — output is violations
    only, never the history."""
    from pyspark.sql import Window

    w = Window.partitionBy(entity_col).orderBy(order_col)
    projected = df.select(
        entity_col,
        order_col,
        F.lag(F.col(value_col)).over(w).alias("prev_val"),
        F.col(value_col).alias("value"),
    )
    bad = (
        (F.col("prev_val") > F.col("value"))
        if not strict
        else (F.col("prev_val") >= F.col("value"))
    )
    return projected.where(bad).withColumn(
        "drop", F.col("prev_val") - F.col("value")
    )


def rule_check(
    df: DataFrame,
    rules: "dict[str, str]",
) -> DataFrame:
    """Expression rule pack: arbitrary cross-field business rules as SQL
    boolean expressions ("l_tax <= l_discount + 0.05", "o_totalprice >
    0 OR o_orderstatus = 'P'"), ALL evaluated in one scan — the ad-hoc
    complement to the draft-04 compiler (schema keywords are per-column
    contracts; real tables also carry cross-column invariants no schema
    language expresses). A rule passes when its expression is TRUE;
    FALSE **or NULL** counts as a violation (SQL three-valued logic
    would otherwise let a null sneak through every filter — the same
    closed-world choice the keyword compiler makes).

    Output: one row per rule — ``rule, n_rows, n_violations,
    violation_frac``.

    Scale shape: every rule becomes a conditional sum in ONE map-side-
    combined aggregation (single-partial-row reduce, no groupBy
    shuffle); k rules cost exactly one table scan."""
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for name, expr in rules.items():
        ok = F.expr(expr)
        aggs.append(
            F.coalesce(
                F.sum(F.when(ok.isNull() | ~ok, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias(f"__v_{name}")
        )
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{n}', `__v_{n}`" for n in rules)
    return wide.selectExpr(
        "__n AS n_rows",
        f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)",
    ).select(
        "rule",
        "n_rows",
        "n_violations",
        (F.col("n_violations") / F.col("n_rows")).alias("violation_frac"),
    )


def snapshot_diff(
    base: DataFrame,
    cur: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Keyed diff between two table versions — the regression report for
    a pipeline change: re-run the job, diff against yesterday's output,
    and "0 added / 0 removed / 12 changed, all in column X" tells you
    exactly what the code change did (while a row-count comparison says
    nothing). Null-safe comparison per column (null → null is unchanged,
    null → value is a change).

    Output (long form): ``metric, n`` with metrics ``base_rows,
    cur_rows, added, removed, common, changed_rows`` plus one
    ``changed:<col>`` per compare column.

    Scale shape: ONE full-outer join on the key (sort-merge under AQE,
    skew-split if needed) + one single-partial-row aggregation; compare
    columns are evaluated as codegen null-safe equalities inside the
    join's projection — no second pass, no window."""
    b = base.select(
        *[F.col(k).alias(f"__bk_{k}") for k in key_cols],
        *[F.col(c).alias(f"__b_{c}") for c in compare_cols],
        F.lit(1).alias("__in_b"),
    )
    c_ = cur.select(
        *[F.col(k).alias(f"__ck_{k}") for k in key_cols],
        *[F.col(c).alias(f"__c_{c}") for c in compare_cols],
        F.lit(1).alias("__in_c"),
    )
    cond = None
    for k in key_cols:
        clause = F.col(f"__bk_{k}").eqNullSafe(F.col(f"__ck_{k}"))
        cond = clause if cond is None else (cond & clause)
    j = b.join(c_, cond, "full_outer")
    in_b = F.col("__in_b").isNotNull()
    in_c = F.col("__in_c").isNotNull()
    col_changed = {
        c: in_b & in_c & ~F.col(f"__b_{c}").eqNullSafe(F.col(f"__c_{c}"))
        for c in compare_cols
    }
    any_changed = None
    for expr in col_changed.values():
        any_changed = expr if any_changed is None else (any_changed | expr)
    aggs = [
        F.coalesce(F.sum(in_b.cast("long")), F.lit(0)).cast("long").alias("base_rows"),
        F.coalesce(F.sum(in_c.cast("long")), F.lit(0)).cast("long").alias("cur_rows"),
        F.coalesce(F.sum((in_c & ~in_b).cast("long")), F.lit(0)).cast("long").alias("added"),
        F.coalesce(F.sum((in_b & ~in_c).cast("long")), F.lit(0)).cast("long").alias("removed"),
        F.coalesce(F.sum((in_b & in_c).cast("long")), F.lit(0)).cast("long").alias("common"),
        F.coalesce(F.sum(any_changed.cast("long")), F.lit(0)).cast("long").alias("changed_rows"),
    ]
    for c, expr in col_changed.items():
        aggs.append(
            F.coalesce(F.sum(expr.cast("long")), F.lit(0)).cast("long").alias(f"changed_{c}")
        )
    wide = j.agg(*aggs)
    metrics = ["base_rows", "cur_rows", "added", "removed", "common", "changed_rows"] + [
        f"changed_{c}" for c in compare_cols
    ]
    labels = ["base_rows", "cur_rows", "added", "removed", "common", "changed_rows"] + [
        f"changed:{c}" for c in compare_cols
    ]
    stack_args = ", ".join(
        f"'{lab}', `{m}`" for lab, m in zip(labels, metrics)
    )
    return wide.selectExpr(
        f"stack({len(metrics)}, {stack_args}) AS (metric, n)"
    )


def key_candidates(
    df: DataFrame,
    cols: Sequence[str],
    max_width: int = 2,
    exact: bool = False,
    rsd: float = 0.01,
) -> DataFrame:
    """Primary-key discovery: for every candidate column and (by
    default) every pair, the distinct-count-to-row-count ratio — ratio
    ≈ 1 is a key candidate, and the smallest such set is the natural
    primary key nobody documented. The inverse of ``duplicate_keys``
    (which checks a KNOWN key): this finds the key.

    Output: ``(candidate, n_distinct, n_rows, uniqueness_ratio)``,
    candidate = '+'-joined column names.

    Default path: ALL candidates measured in ONE aggregation with HLL
    sketches (``approx_count_distinct``, rsd ~1% — fine for "is this
    ratio near 1", and the reason one pass is possible at all).
    ``exact=True`` uses exact count_distinct for oracle parity, one
    aggregation subtree per candidate unioned together: a single
    multi-distinct aggregation plans via Expand (row multiplication ×
    #candidates through one shuffle — 42M rows at sf1.0, measured 4.1s),
    while the unioned single-distinct aggregates are each a plain
    two-level distinct aggregate over a pruned scan and run as parallel
    subtrees (2.3s)."""
    import functools

    cands: list[list[str]] = [[c] for c in cols]
    if max_width >= 2:
        cands += [[a, b] for i, a in enumerate(cols) for b in cols[i + 1:]]

    def tgt(cand: list) -> Column:
        return (
            F.col(cand[0])
            if len(cand) == 1
            else F.struct(*[F.col(c) for c in cand])
        )

    if exact:
        parts = [
            df.select(tgt(cand).alias("__t")).agg(
                F.lit("+".join(cand)).alias("candidate"),
                F.count_distinct(F.col("__t")).cast("long").alias("n_distinct"),
            )
            for cand in cands
        ]
        u = functools.reduce(lambda a, b: a.unionByName(b), parts)
        n = df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        return u.crossJoin(n).select(
            "candidate",
            "n_distinct",
            "n_rows",
            (F.col("n_distinct") / F.col("n_rows")).alias("uniqueness_ratio"),
        )

    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for cand in cands:
        name = "+".join(cand)
        aggs.append(
            F.approx_count_distinct(tgt(cand), rsd).cast("long").alias(f"__d_{name}")
        )
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{'+'.join(c)}', `__d_{'+'.join(c)}`" for c in cands
    )
    return wide.selectExpr(
        "__n AS n_rows",
        f"stack({len(cands)}, {stack_args}) AS (candidate, n_distinct)",
    ).select(
        "candidate",
        "n_distinct",
        "n_rows",
        (F.col("n_distinct") / F.col("n_rows")).alias("uniqueness_ratio"),
    )


def interval_overlaps(
    df: DataFrame,
    entity_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Double-booking detection: within each entity, intervals must not
    overlap (a device can't record two clips at once, a room can't host
    two meetings, an SCD dimension can't have two active versions). An
    interval violates when it starts before the RUNNING MAX of all
    earlier intervals' ends — the running max (not just the previous
    end) is what catches an interval swallowed whole by an earlier long
    one, which a lag-based check misses. Touching endpoints (start ==
    previous end) are allowed: half-open [start, end) semantics.

    Returns the violating intervals: ``entity, start, end,
    overlapped_until`` (the running max they collided with).

    Scale shape: one window partitioned by entity ordered by (start,
    end) with a running max — sessionize's single shuffle; violations-
    only output."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(entity_col)
        .orderBy(F.col(start_col).asc(), F.col(end_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_end = F.max(F.col(end_col)).over(w)
    out = df.select(
        entity_col,
        F.col(start_col).alias("start"),
        F.col(end_col).alias("end"),
        prev_max_end.alias("overlapped_until"),
    )
    return out.where(
        F.col("overlapped_until").isNotNull()
        & (F.col("start") < F.col("overlapped_until"))
    )


def fd_strength(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: str,
) -> DataFrame:
    """Approximate functional-dependency strength: how close does
    ``lhs → rhs`` come to holding? Strength = the fraction of rows that
    would SURVIVE if each lhs group kept only its majority rhs value
    (1.0 = exact FD; 0.98 = an FD with 2% exceptions — usually a real
    dependency plus data errors, which ``functional_dependency_violations``
    then itemizes). The discovery sibling of ``key_candidates``: that
    finds keys, this finds the rules worth enforcing.

    One row: ``n_rows, n_lhs_groups, n_violating_rows, strength``.

    Scale shape: one hash agg to (lhs, rhs) pair counts (map-side
    combined), one re-agg to per-lhs max over the PAIR table, one fold —
    row-scale data scanned once."""
    pair_counts = df.groupBy(
        *[F.col(c) for c in lhs], F.col(rhs)
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    per_lhs = pair_counts.groupBy(*lhs).agg(
        F.sum("__n").alias("__tot"),
        F.max("__n").alias("__maj"),
    )
    return per_lhs.agg(
        F.coalesce(F.sum("__tot"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_lhs_groups"),
        F.coalesce(F.sum(F.col("__tot") - F.col("__maj")), F.lit(0))
        .cast("long")
        .alias("n_violating_rows"),
    ).withColumn(
        "strength",
        F.lit(1.0) - F.try_divide(F.col("n_violating_rows"), F.col("n_rows")),
    )
