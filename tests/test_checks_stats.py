"""Uniqueness, referential, stats and drift over the synthetic clips table
and the driver's star-schema testdata."""

import pytest
from pyspark.sql import functions as F

from jsschema_spark.checks import (
    dedup_keep_first,
    duplicate_keys,
    referential_report,
    referential_violations,
    uniqueness_report,
)
from jsschema_spark.stats import column_stats, drift_report, histogram, ks_statistic, psi
from jsschema_spark.synth import clips_table, codecs_dim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def clips(spark):
    df = clips_table(spark, 4000, with_audio=False).cache()
    df.count()
    yield df
    df.unpersist()


def test_duplicate_keys_salted_and_plain(spark, clips):
    plain = {r.clip_id: r.n_rows for r in duplicate_keys(clips, ["clip_id"], salt_buckets=1).collect()}
    salted = {r.clip_id: r.n_rows for r in duplicate_keys(clips, ["clip_id"], salt_buckets=8).collect()}
    assert plain == salted  # salting must not change the answer
    assert plain, "synth injects duplicates — none found"
    # hot keys carry the bulk of the duplicates (skew present)
    assert max(plain.values()) >= 3


def test_uniqueness_report(spark, clips):
    rep = uniqueness_report(clips, ["clip_id"])
    assert rep["n_rows"] == 4000
    assert rep["dup_keys"] > 0
    assert rep["extra_rows"] > 0
    deduped = dedup_keep_first(clips, ["clip_id"])
    assert deduped.count() == rep["n_rows"] - rep["extra_rows"]


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 2, "x"), ("a", 1, "y"), ("b", 5, "z")], "k string, ord int, v string"
    )
    out = {r.k: r.v for r in dedup_keep_first(df, ["k"], order_cols=[F.col("ord")]).collect()}
    assert out == {"a": "y", "b": "z"}


def test_referential_broadcast_anti_join(spark, clips):
    dim = codecs_dim(spark)
    viol = referential_violations(clips, dim, ["codec"])
    n_bad = viol.count()
    assert n_bad == clips.where(F.col("codec") == "unknown").count()
    assert n_bad > 0
    # default (None): AQE converts to broadcast for a tiny dim at runtime —
    # inspect the FINAL adaptive plan (viol.count() above materialized it)
    viol.collect()
    plan = viol._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    rep = referential_report(clips, dim, ["codec"])
    assert rep["n_violations"] == n_bad
    assert rep["sample_keys"] == [("unknown",)] * min(n_bad, 10)


def test_referential_forced_join_strategies(spark, clips):
    """broadcast_dim=True forces broadcast even when it would not be chosen;
    broadcast_dim=False forces the shuffle path even for a tiny dim (the
    big-dim safety valve: no unconditional driver/executor-OOM broadcast)."""
    dim = codecs_dim(spark)
    forced_b = referential_violations(clips, dim, ["codec"], broadcast_dim=True)
    n_b = forced_b.count()
    forced_b.collect()
    plan_b = forced_b._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b and "LeftAnti" in plan_b
    assert "SortMergeJoin" not in plan_b

    forced_s = referential_violations(clips, dim, ["codec"], broadcast_dim=False)
    forced_s.collect()
    plan_s = forced_s._jdf.queryExecution().executedPlan().toString()
    # merge hint respected even by AQE: no runtime broadcast conversion
    assert "BroadcastHashJoin" not in plan_s and "LeftAnti" in plan_s
    assert "SortMergeJoin" in plan_s
    # both strategies agree on the answer
    assert forced_s.count() == n_b


def test_referential_on_star_schema(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    viol = referential_violations(orders, customer, {"o_custkey": "c_custkey"})
    assert viol.count() == 0  # driver data is referentially clean


def test_column_stats_single_pass(spark, clips):
    stats = {r.column: r for r in column_stats(clips, ["clip_id", "sr_hz", "dur_ms", "codec"]).collect()}
    assert stats["sr_hz"].n_rows == 4000
    assert stats["sr_hz"].max_num == 96001.0  # injected invalids visible
    assert stats["sr_hz"].min_num == 0.0
    assert stats["codec"].min_str == "flac"
    assert 3 <= stats["codec"].n_distinct <= 5  # 3 valid + unknown (HLL approx)
    assert stats["clip_id"].n_null == 0


def test_column_stats_exact_vs_duckdb(spark):
    import duckdb

    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    stats = {r.column: r for r in column_stats(lineitem, ["l_quantity", "l_returnflag"], exact_distinct=True).collect()}
    con = duckdb.connect()
    q = con.execute(
        f"""SELECT count(*), count(DISTINCT l_quantity), min(l_quantity), max(l_quantity),
                   avg(l_quantity), count(DISTINCT l_returnflag)
            FROM read_parquet('{SF}/lineitem.parquet')"""
    ).fetchone()
    assert stats["l_quantity"].n_rows == q[0]
    assert stats["l_quantity"].n_distinct == q[1]
    assert stats["l_quantity"].min_num == q[2]
    assert stats["l_quantity"].max_num == q[3]
    assert abs(stats["l_quantity"].mean - q[4]) < 1e-9
    assert stats["l_returnflag"].n_distinct == q[5]


def test_histogram_and_drift(spark, clips):
    h = histogram(clips, "dur_ms", 0, 15000, nbins=10)
    rows = h.collect()
    assert sum(r.n for r in rows) == clips.where(F.col("dur_ms").isNotNull()).count()
    assert all(0 <= r.bucket < 10 for r in rows)

    # identical distribution ⇒ no drift
    same = drift_report(clips, clips, "dur_ms", 0, 15000, nbins=10)
    assert same["psi"] < 1e-9 and same["ks"] < 1e-9

    # shifted distribution ⇒ drift detected
    shifted = clips.withColumn("dur_ms", F.col("dur_ms") + F.lit(6000))
    moved = drift_report(clips, shifted, "dur_ms", 0, 15000, nbins=10)
    assert moved["psi"] > 0.25
    assert moved["ks"] > 0.2


def test_psi_ks_math():
    a = [{"bucket": 0, "n": 50}, {"bucket": 1, "n": 50}]
    b = [{"bucket": 0, "n": 90}, {"bucket": 1, "n": 10}]
    assert psi(a, a, 2) == 0.0
    assert psi(a, b, 2) > 0.5
    assert abs(ks_statistic(a, b, 2) - 0.4) < 1e-12


def test_key_set_diff(spark):
    from jsschema_spark.checks import key_set_diff

    expected = spark.createDataFrame([(1,), (2,), (3,), (3,)], "k int")
    actual = spark.createDataFrame([(2,), (3,), (4,)], "k int")
    out = {(r.k, r.status) for r in key_set_diff(expected, actual, ["k"]).collect()}
    assert out == {(1, "missing"), (4, "unexpected")}


def test_column_stats_percentiles(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x double")
    exact = column_stats(df, ["x"], exact_distinct=True).collect()[0]
    assert abs(exact.p25 - 25.75) < 1e-9
    assert abs(exact.p50 - 50.5) < 1e-9
    assert abs(exact.p75 - 75.25) < 1e-9
    approx = column_stats(df, ["x"]).collect()[0]  # sketch path
    assert abs(approx.p50 - 50.5) <= 1.0  # KLL within a value at n=100


def test_categorical_drift_topk_and_other(spark):
    from jsschema_spark.stats import categorical_drift, categorical_drift_report

    base = spark.createDataFrame(
        [("a",)] * 60 + [("b",)] * 30 + [("c",)] * 9 + [(None,)], "v string"
    )
    cur = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 30 + [("c",)] * 55 + [("d",)] * 5, "v string"
    )
    rows = {r.category: r for r in categorical_drift(base, cur, "v", top_k=2).collect()}
    # top-2 baseline cats explicit, the rest ('c', NULL, 'd') rolled up
    assert set(rows) == {"a", "b", "__OTHER__"}
    assert rows["a"].n_base == 60 and rows["a"].n_cur == 10
    assert rows["__OTHER__"].n_base == 10 and rows["__OTHER__"].n_cur == 60
    assert sum(r.n_base for r in rows.values()) == 100
    assert rows["b"].psi_term == pytest.approx(0.0, abs=1e-12)  # unchanged share
    assert rows["a"].psi_term > 0.5  # collapsed share

    rep = categorical_drift_report(base, cur, "v", top_k=2)
    assert rep["psi"] > 1.0 and rep["chi2"] > 50
    assert rep["baseline_n"] == 100 and rep["current_n"] == 100

    same = categorical_drift_report(base, base, "v", top_k=2)
    assert same["psi"] == pytest.approx(0.0, abs=1e-9)
    assert same["chi2"] == pytest.approx(0.0, abs=1e-9)


def test_numeric_drift_dataframe(spark, clips):
    from jsschema_spark.stats import numeric_drift

    same = numeric_drift(clips, clips, "dur_ms", 0, 15000, nbins=10).collect()
    assert sum(r.psi_term for r in same) == pytest.approx(0.0, abs=1e-12)
    assert all(r.n_base == r.n_cur for r in same)

    shifted = clips.withColumn("dur_ms", F.col("dur_ms") + F.lit(6000))
    rows = numeric_drift(clips, shifted, "dur_ms", 0, 15000, nbins=10).collect()
    psi_total = sum(r.psi_term for r in rows)
    assert psi_total > 0.25  # agrees with drift_report's detection
    # per-bin counts reconcile with the scalar report path
    from jsschema_spark.stats import drift_report

    rep = drift_report(clips, shifted, "dur_ms", 0, 15000, nbins=10)
    assert psi_total == pytest.approx(rep["psi"], rel=1e-9)


def test_ks_drift_dataframe(spark, clips):
    """ks_drift's per-bin ECDF gap: zero on identical inputs, max(cdf_gap)
    equals the driver-side ks_statistic on the same histograms, and the
    final-bin CDFs both reach 1."""
    from jsschema_spark.stats import histogram, ks_drift, ks_statistic

    same = ks_drift(clips, clips, "dur_ms", 0, 15000, nbins=10).collect()
    assert max(r.cdf_gap for r in same) == 0.0

    shifted = clips.withColumn("dur_ms", F.col("dur_ms") + F.lit(6000))
    rows = sorted(
        ks_drift(clips, shifted, "dur_ms", 0, 15000, nbins=10).collect(),
        key=lambda r: r.bucket,
    )
    d = max(r.cdf_gap for r in rows)
    assert d > 0.25
    hb = [r.asDict() for r in histogram(clips, "dur_ms", 0, 15000, 10).collect()]
    hc = [r.asDict() for r in histogram(shifted, "dur_ms", 0, 15000, 10).collect()]
    # (approx, not ==: the scalar path accumulates floats incrementally,
    # the DataFrame path divides exact integer cumsums)
    assert d == pytest.approx(ks_statistic(hb, hc, 10), rel=1e-12)
    assert rows[-1].cdf_base == pytest.approx(1.0) and rows[-1].cdf_cur == pytest.approx(1.0)


def test_dedup_keep_first_rejects_sort_order_columns(spark):
    df = spark.createDataFrame([("a", 1, "x")], "k string, ord int, v string")
    with pytest.raises(ValueError, match="ascending"):
        dedup_keep_first(df, ["k"], order_cols=[F.col("ord").desc()])


def test_exact_dedup_all_null_id_group_keeps_real_row(spark):
    from jsschema_spark.functions.dedup import exact_dedup

    df = spark.createDataFrame(
        [(None, "same text"), (None, "same text"), (3, "other")],
        "doc_id int, text string",
    )
    rows = {r.text for r in exact_dedup(df, "text", "doc_id").collect()}
    assert rows == {"same text", "other"}  # text survives, not an all-NULL row


def test_referential_salted_matches_plain_and_spreads_hot_key(spark):
    """Explicit skew salting (north_rule: hot clip_id keys): same violation
    set as the plain anti-join, and the join key includes the salt so a
    hot key's rows hash to salt_buckets reducers instead of one."""
    from pyspark.sql import functions as F

    from jsschema_spark.checks import referential_violations

    # 10k facts, 80% on ONE hot key, some keys missing from dim
    fact = spark.range(10000).select(
        F.when(F.col("id") % 5 != 0, F.lit(777)).otherwise(F.col("id") % 97).alias("k"),
        F.col("id").alias("row_id"),
    )
    dim = spark.range(0, 97, 2).select(F.col("id").alias("k"))  # evens only; 777 absent
    plain = {r.row_id for r in referential_violations(fact, dim, ["k"]).collect()}
    salted_df = referential_violations(fact, dim, ["k"], salt_buckets=8)
    salted = {r.row_id for r in salted_df.collect()}
    assert salted == plain and len(plain) > 0
    plan = salted_df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "LeftAnti" in plan
    assert "__salt" in plan.split("LeftAnti")[0] or "__salt" in plan  # salt in join keys


def test_functional_dependency_violations(spark):
    from jsschema_spark.checks import functional_dependency_violations

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"), ("b", "z"),
         ("c", None), ("c", "x"), ("d", None), ("d", None)],
        "k string, v string",
    )
    out = {r.k: r for r in functional_dependency_violations(df, ["k"], "v").collect()}
    # a: single value — ok; d: only NULLs — ok; b: three values; c: NULL+x
    assert set(out) == {"b", "c"}
    assert out["b"].n_dependent_values == 3 and out["b"].n_rows == 3
    assert out["b"].sample_values == ["x", "y", "z"]
    assert out["c"].n_dependent_values == 2
    assert out["c"].sample_values == ["__NULL__", "x"]

    # max_samples truncates deterministically (sorted, first k)
    out2 = functional_dependency_violations(df, ["k"], "v", max_samples=2).collect()
    b = [r for r in out2 if r.k == "b"][0]
    assert b.sample_values == ["x", "y"]


def test_cardinality_violations(spark):
    from jsschema_spark.checks import cardinality_violations

    parent = spark.createDataFrame([(1,), (2,), (3,), (4,)], "pk long")
    child = spark.createDataFrame(
        [(1,), (2,), (2,), (2,), (2,)], "fk long"
    )
    out = {r.pk: r for r in cardinality_violations(
        parent, child, "pk", "fk", min_children=1, max_children=3).collect()}
    # 1 has 1 child (ok), 2 has 4 (over), 3 and 4 have 0 (under)
    assert set(out) == {2, 3, 4}
    assert out[2].bound == "over" and out[2].n_children == 4
    assert out[3].bound == "under" and out[3].n_children == 0

    # min_children=0: only the upper bound applies
    out0 = cardinality_violations(parent, child, "pk", "fk", 0, 3).collect()
    assert {r.pk for r in out0} == {2}


def test_freshness_report(spark):
    import datetime as dt

    from jsschema_spark.checks import freshness_report

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(t0 - dt.timedelta(minutes=m),) for m in (90, 10, 45)], "ts timestamp_ntz"
    )
    r = freshness_report(df, "ts", "2026-01-01 12:00:00", max_age_seconds=900).collect()[0]
    assert r.lag_seconds == 600 and r.fresh

    stale = freshness_report(df, "ts", "2026-01-01 13:00:00", 900).collect()[0]
    assert stale.lag_seconds == 4200 and not stale.fresh

    empty = spark.createDataFrame([], "ts timestamp_ntz")
    e = freshness_report(empty, "ts", "2026-01-01 12:00:00", 900).collect()[0]
    assert e.latest_ts is None and e.lag_seconds is None and e.fresh is False


def test_freshness_report_tz_aware_timestamp(spark):
    """Round-5 regression: the as_of anchor must be cast to the COLUMN's
    timestamp flavor — a tz-aware TIMESTAMP column with a hardcoded
    timestamp_ntz anchor either fails analysis or shifts by the session
    timezone."""
    from jsschema_spark.checks import freshness_report

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # SQL literals, not createDataFrame: naive-datetime conversion in
        # createDataFrame uses the PYTHON process zone, which would shift
        # the data independently of the session zone under test
        df = spark.sql(
            "SELECT * FROM VALUES (timestamp'2026-01-01 10:30:00'),"
            " (timestamp'2026-01-01 11:50:00'), (timestamp'2026-01-01 11:15:00')"
            " AS t(ts)"
        )
        r = freshness_report(df, "ts", "2026-01-01 12:00:00", 900).collect()[0]
        # both sides interpret naive wall-clock in the SAME session zone,
        # so the lag must be exactly 10 minutes regardless of that zone
        assert r.lag_seconds == 600 and r.fresh
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_schema_diff(spark):
    from jsschema_spark.checks import schema_diff

    a = spark.createDataFrame([], "x long, y string, z double")
    b = spark.createDataFrame([], "x long, y long, w string")
    d = schema_diff(a, b)
    assert d == {
        "added": ["w"], "removed": ["z"],
        "type_changed": [("y", "string", "bigint")], "identical": False,
    }
    assert schema_diff(a, a)["identical"]


def test_grouped_column_stats(spark, clips):
    from jsschema_spark.stats import grouped_column_stats

    out = {r.codec: r for r in grouped_column_stats(clips, ["codec"], "dur_ms").collect()}
    assert sum(r.n_rows for r in out.values()) == 4000
    for r in out.values():
        assert r.n_distinct <= r.n_rows - r.n_null
        if r.min_num is not None:
            assert r.min_num <= r.max_num
    # spot check one group against direct aggregation
    codec = next(k for k in out if k)  # first non-null codec present
    sub = clips.where(F.col("codec") == codec)
    direct = sub.agg(
        F.count(F.lit(1)).alias("n"), F.avg(F.col("dur_ms").cast("double")).alias("m")
    ).collect()[0]
    assert out[codec].n_rows == direct.n
    assert abs(out[codec].mean - direct.m) < 1e-9


def test_anomalous_groups(spark):
    from jsschema_spark.stats import anomalous_groups

    rows = []
    for g in range(20):
        base = 100.0 if g != 7 else 500.0  # group 7 is the anomaly
        rows += [(f"g{g}", base + (i % 5)) for i in range(40)]
    rows += [("tiny", 9999.0)] * 5  # under min_group_rows: ignored
    df = spark.createDataFrame(rows, "grp string, v double")

    out = anomalous_groups(df, ["grp"], "v", z_threshold=3.0, min_group_rows=30)
    hits = [r.grp for r in out.collect()]
    assert hits == ["g7"]
    # nothing anomalous in a homogeneous corpus
    clean = df.where(~F.col("grp").isin("g7", "tiny"))
    assert anomalous_groups(clean, ["grp"], "v", 3.0).count() == 0


def test_mergeable_profiles_fold_exactly(spark):
    """Incremental profiling: profiling two halves and merging equals
    profiling the whole — counts/ranges exactly, distinct at sketch
    accuracy (HLL merge is lossless over the same sketches)."""
    from jsschema_spark.stats import (
        merge_profiles,
        mergeable_profile,
        profile_estimates,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    a = df.where(F.col("o_orderkey") % 2 == 0)
    b = df.where(F.col("o_orderkey") % 2 == 1)
    merged = profile_estimates(
        merge_profiles(mergeable_profile(a).unionByName(mergeable_profile(b)))
    )
    whole = profile_estimates(mergeable_profile(df))
    m = {r.column: r for r in merged.collect()}
    w = {r.column: r for r in whole.collect()}
    assert m.keys() == w.keys()
    for c in w:
        assert (m[c].n_rows, m[c].n_nulls) == (w[c].n_rows, w[c].n_nulls), c
        assert (m[c].min_num, m[c].max_num) == (w[c].min_num, w[c].max_num), c
        # union-of-sketches vs direct sketch: same accuracy class (the
        # union operator may land at a different register state, so the
        # estimates are close, not bit-equal)
        assert abs(m[c].n_distinct_est - w[c].n_distinct_est) <= max(
            4, 0.03 * w[c].n_distinct_est
        ), c
    # and the estimate is honest: within 5% of the exact distinct count
    exact = df.agg(
        *[F.countDistinct(c).alias(c) for c in ("o_orderkey", "o_orderstatus")]
    ).collect()[0]
    assert abs(w["o_orderkey"].n_distinct_est - exact["o_orderkey"]) <= 0.05 * exact["o_orderkey"]
    assert w["o_orderstatus"].n_distinct_est == exact["o_orderstatus"]


def test_skew_report(spark):
    """Hot-key diagnostic: counts, shares and the salting-decision ratio
    against a hand-built skewed table."""
    from jsschema_spark.checks import skew_report

    rows = [("hot",)] * 70 + [("warm",)] * 20 + [(f"k{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, "k string")
    out = skew_report(df, ["k"], k=3).collect()
    assert [(r.key, r.n_rows) for r in out] == [("hot", 70), ("warm", 20), ("k0", 1)]
    top = out[0]
    assert abs(top.share - 0.7) < 1e-9
    assert top.n_keys == 12
    # skew_ratio = 70 / (100/12)
    assert abs(top.skew_ratio - round(70 / (100 / 12), 4)) < 1e-9


def test_completeness_by_period_gaps(spark):
    """Missing days materialize as zero-count gap rows; present days keep
    their counts; the span runs min..max period inclusive."""
    import datetime as dt

    from jsschema_spark.checks import completeness_by_period

    d0 = dt.datetime(2026, 3, 1, 10, 0)
    rows = []
    for day, n in ((0, 5), (1, 3), (4, 2)):   # days 2 and 3 missing
        for i in range(n):
            rows.append((d0 + dt.timedelta(days=day, minutes=i),))
    rows.append((None,))
    df = spark.createDataFrame(rows, "ts timestamp")
    out = {
        str(r.period_start.date()): (r.n_rows, r.is_gap)
        for r in completeness_by_period(df, "ts", "day").collect()
    }
    assert out == {
        "2026-03-01": (5, False),
        "2026-03-02": (3, False),
        "2026-03-03": (0, True),
        "2026-03-04": (0, True),
        "2026-03-05": (2, False),
    }


def test_reconciliation_report_statuses(spark):
    """All four statuses from one full-outer pass: match, mismatch within
    and beyond tolerance, dim rows with no facts, fact rows with no dim."""
    from jsschema_spark.checks import reconciliation_report

    fact = spark.createDataFrame(
        [(1, 5.0), (1, 5.0), (2, 3.0), (4, 9.0)], "k int, amt double"
    )
    dim = spark.createDataFrame(
        [(1, 10.0), (2, 3.005), (3, 7.0)], "k int, total double"
    )
    out = {
        r.key: r.status
        for r in reconciliation_report(fact, dim, "k", "k", "amt", "total").collect()
    }
    assert out == {1: "match", 2: "match", 3: "missing_fact", 4: "missing_dim"}
    tight = {
        r.key: r.status
        for r in reconciliation_report(
            fact, dim, "k", "k", "amt", "total", tolerance=0.001
        ).collect()
    }
    assert tight[2] == "mismatch"


def test_vector_violations_reasons(spark):
    """Each corruption mode maps to its reason; NaN vectors never
    double-report a norm bound (NaN sorts above every number in Spark)."""
    from jsschema_spark.checks import vector_violations

    nan = float("nan")
    rows = [
        (0, [1.0, 0.0]),            # clean
        (1, [1.0, 0.0, 0.0]),       # bad_dim
        (2, [nan, 0.0]),            # nan only — no norm_high leak
        (3, [0.1, 0.1]),            # norm_low
        (4, [10.0, 0.0]),           # norm_high
        (5, None),                  # null_vec
    ]
    df = spark.createDataFrame(rows, "id int, v array<float>")
    out = vector_violations(
        df, "id", "v", expected_dim=2, norm_sq_min=0.25, norm_sq_max=4.0
    ).collect()
    got = sorted((r.id, r.reason) for r in out)
    assert got == [
        (1, "bad_dim"), (2, "nan"), (3, "norm_low"), (4, "norm_high"),
        (5, "null_vec"),
    ]


def test_benford_report_digits(spark):
    """Digit extraction survives decimals <1x shifts (12.3 -> 1, 0.5 dropped,
    negative sign ignored) and probabilities sum to 1 over observed rows."""
    from jsschema_spark.stats import benford_report

    df = spark.createDataFrame(
        # 1e37 overflows DECIMAL(38,2) -> null digit: must not appear as a
        # row NOR inflate the denominator (p_obs over classified rows only)
        [(12.3,), (199.0,), (-25.0,), (0.5,), (None,), (9.01,), (1e37,)],
        "x double",
    )
    rows = {r.digit: r for r in benford_report(df, "x").collect()}
    assert sorted(rows) == [1, 2, 9]
    assert rows[1].n == 2 and rows[2].n == 1 and rows[9].n == 1
    assert abs(sum(r.p_obs for r in rows.values()) - 1.0) < 1e-12
    assert abs(rows[1].p_exp - 0.3010299956639812) < 1e-15
    assert abs(rows[1].dev - (0.5 - 0.3010299956639812)) < 1e-12


def test_psi_by_period_dense_and_shifted(spark):
    """Every observed period reports all nbins buckets (zero-filled); an
    identical-distribution day has ~0 PSI, a shifted day a large one."""
    import datetime as dt

    from jsschema_spark.stats import psi_by_period

    d1 = dt.datetime(2026, 1, 1)
    d2 = dt.datetime(2026, 1, 2)
    base = spark.createDataFrame([(float(v),) for v in (1, 1, 2, 2)], "v double")
    cur = spark.createDataFrame(
        [(d1, 1.0), (d1, 1.0), (d1, 2.0), (d1, 2.0),   # same mix as baseline
         (d2, 9.0), (d2, 9.0), (d2, 9.0), (d2, 9.0)],  # all mass moved
        "ts timestamp, v double",
    )
    out = psi_by_period(base, cur, "v", "ts", "day", 0.0, 10.0, nbins=5).collect()
    assert len(out) == 10  # 2 days x 5 buckets, dense
    psi = {}
    for r in out:
        psi[r.period_start.day] = psi.get(r.period_start.day, 0.0) + r.psi_term
    assert abs(psi[1]) < 1e-9
    assert psi[2] > 1.0


def test_psi_by_period_validates_args(spark):
    import pytest as _pytest

    from jsschema_spark.stats import psi_by_period

    df = spark.createDataFrame([(1.0,)], "v double")
    with _pytest.raises(ValueError):
        psi_by_period(df, df, "v", "v", "day", 1.0, 1.0)


def test_emd_drift_mass_shift(spark):
    """A one-bin shift of all mass: EMD = bin width; per-bin surplus is the
    running CDF gap."""
    from jsschema_spark.stats import emd_drift

    base = spark.createDataFrame([(float(v),) for v in [0.5] * 4], "x double")
    cur = spark.createDataFrame([(float(v),) for v in [1.5] * 4], "x double")
    rows = {r["bucket"]: r for r in emd_drift(base, cur, "x", 0.0, 4.0, nbins=4).collect()}
    # all base mass in bucket 0, all cur mass in bucket 1: surplus 1.0 in
    # bucket 0, 0 after; EMD = 1.0 * width(=1.0)
    assert rows[0]["mass_surplus"] == pytest.approx(1.0)
    assert rows[0]["emd_term"] == pytest.approx(1.0)
    assert rows[1]["mass_surplus"] == pytest.approx(0.0)
    total = sum(r["emd_term"] for r in rows.values())
    assert total == pytest.approx(1.0)

    # identical distributions: EMD exactly 0
    same = emd_drift(base, base, "x", 0.0, 4.0, nbins=4).collect()
    assert all(r["emd_term"] == 0.0 for r in same)


def test_chisq_independence_exact_and_dependent(spark):
    from jsschema_spark.stats import chisq_independence

    # perfectly independent 2x2: chi2 = 0 in every cell
    indep = spark.createDataFrame(
        [("x", "p")] * 4 + [("x", "q")] * 4 + [("y", "p")] * 4 + [("y", "q")] * 4,
        "a string, b string",
    )
    rows = chisq_independence(indep, "a", "b").collect()
    assert len(rows) == 4
    for r in rows:
        assert r["n_exp"] == pytest.approx(4.0)
        assert r["chisq_term"] == pytest.approx(0.0)

    # perfectly dependent 2x2 (diagonal): chi2 term = expected deviation
    dep = spark.createDataFrame(
        [("x", "p")] * 5 + [("y", "q")] * 5, "a string, b string"
    )
    out = {(r["a"], r["b"]): r for r in chisq_independence(dep, "a", "b").collect()}
    # expected = 2.5 everywhere observed; (5-2.5)^2/2.5 = 2.5
    assert out[("x", "p")]["chisq_term"] == pytest.approx(2.5)
    assert out[("y", "q")]["n_exp"] == pytest.approx(2.5)

    # nulls are real cells, not dropped
    with_null = spark.createDataFrame(
        [("x", None)] * 3 + [("x", "p")] * 3, "a string, b string"
    )
    cells = chisq_independence(with_null, "a", "b").collect()
    assert len(cells) == 2


def test_rolling_count_anomaly_cold_start_and_spike(spark):
    from jsschema_spark.stats import rolling_count_anomaly

    rows = []
    # 9 steady days of 10 events, then a 30-event spike day
    for d in range(1, 10):
        rows += [(f"2024-01-{d:02d} 12:00:00",)] * 10
    rows += [("2024-01-10 12:00:00",)] * 30
    df = spark.createDataFrame(rows, "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    out = {
        str(r["period_start"])[:10]: r
        for r in rolling_count_anomaly(df, "ts", "day", trailing=7, min_history=3).collect()
    }
    assert len(out) == 10
    # first 3 days: no (or too little) history -> null z
    assert out["2024-01-01"]["z"] is None
    assert out["2024-01-03"]["z"] is None
    # steady day with full history: zero variance -> null z (not inf)
    assert out["2024-01-09"]["z"] is None
    # the spike scores against 7 steady predecessors: mean 10, std 0 -> null?
    # no: predecessors of day 10 are days 3..9 all n=10 -> std 0 -> null z,
    # so assert the mean is right and z stays null rather than inf
    assert out["2024-01-10"]["trail_mean"] == pytest.approx(10.0)
    assert out["2024-01-10"]["z"] is None

    # with a varied history the spike z-scores positive
    rows2 = []
    counts = [8, 12, 9, 11, 10, 10, 10, 30]
    for d, n in enumerate(counts, start=1):
        rows2 += [(f"2024-02-{d:02d} 12:00:00",)] * n
    df2 = spark.createDataFrame(rows2, "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    out2 = {
        str(r["period_start"])[:10]: r
        for r in rolling_count_anomaly(df2, "ts", "day", trailing=7, min_history=3).collect()
    }
    assert out2["2024-02-08"]["z"] > 3.0


def test_categorical_entropy_extremes(spark):
    import math

    from jsschema_spark.stats import categorical_entropy

    df = spark.createDataFrame(
        [("pure", "en")] * 4
        + [("uniform", "en"), ("uniform", "de"), ("uniform", "fr"), ("uniform", "es")]
        + [("skew", "en")] * 3 + [("skew", "de")],
        "src string, lang string",
    )
    out = {r["src"]: r for r in categorical_entropy(df, "src", "lang").collect()}
    # single-category group: H = 0, normalized 0 (not NaN)
    assert out["pure"]["entropy"] == pytest.approx(0.0)
    assert out["pure"]["entropy_norm"] == 0.0 and out["pure"]["n_cats"] == 1
    # uniform over 4: H = ln 4, normalized exactly 1
    assert out["uniform"]["entropy"] == pytest.approx(math.log(4))
    assert out["uniform"]["entropy_norm"] == pytest.approx(1.0)
    # skewed 3:1 over 2 cats: H = ln4 - (3 ln 3)/4 between 0 and ln 2
    h = math.log(4) - 3 * math.log(3) / 4
    assert out["skew"]["entropy"] == pytest.approx(h)
    assert 0 < out["skew"]["entropy_norm"] < 1


def test_duplicate_charges_pairs(spark):
    from jsschema_spark.checks import duplicate_charges

    df = spark.createDataFrame(
        [
            (1, 100.0, "2024-01-01", 10),
            (1, 100.0, "2024-01-15", 11),   # dup within 30d
            (1, 100.0, "2024-03-15", 12),   # same amount, too far from 10/11
            (1, 200.0, "2024-01-02", 13),   # different amount
            (2, 100.0, "2024-01-03", 14),   # different key
            (2, None, "2024-01-04", 15),    # null amount dropped
        ],
        "k long, amt double, d string, oid long",
    ).select("k", "amt", F.col("d").cast("timestamp").alias("d"), "oid")
    rows = duplicate_charges(df, "k", "amt", "d", "oid", max_gap_days=30).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"], r["gap_days"]) == (10, 11, 14)


def test_quantile_range_check_modes(spark):
    from jsschema_spark.stats import quantile_range_check

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 101)], "grp string, x double"
    )
    out = {
        r["quantile"]: r
        for r in quantile_range_check(
            df, ["grp"], "x", {0.5: (40.0, 60.0), 0.99: (None, 95.0)}, exact=True
        ).collect()
    }
    # exact interpolated median of 1..100 = 50.5, inside [40, 60]
    assert out[0.5]["value"] == pytest.approx(50.5)
    assert out[0.5]["ok"] is True
    # p99 = 99.01 > 95 -> violation
    assert out[0.99]["value"] == pytest.approx(99.01)
    assert out[0.99]["ok"] is False
    # one-sided bound: lo is null, only hi enforced
    assert out[0.99]["lo"] is None

    # sketch mode agrees within rank tolerance
    approx = {
        r["quantile"]: r["value"]
        for r in quantile_range_check(
            df, ["grp"], "x", {0.5: (40.0, 60.0)}, exact=False
        ).collect()
    }
    assert abs(approx[0.5] - 50.5) <= 1.0


def test_order_violations_reasons(spark):
    from jsschema_spark.checks import order_violations

    df = spark.createDataFrame(
        [
            (1, "2024-01-02", "signup"), (1, "2024-01-03", "purchase"),  # fine
            (2, "2024-01-05", "purchase"), (2, "2024-01-06", "signup"),  # out of order
            (3, "2024-01-07", "purchase"),                                # no signup
            (4, "2024-01-08", "signup"),                                  # never bought
        ],
        "user_id long, ts string, event_type string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    out = {r["user_id"]: r for r in order_violations(
        df, "user_id", "ts", "event_type", "signup", "purchase").collect()}
    assert set(out) == {2, 3}
    assert out[2]["reason"] == "out_of_order"
    assert out[3]["reason"] == "missing_prerequisite" and out[3]["first_before"] is None


def test_winsorize_clamps_tails_only(spark):
    from jsschema_spark.stats import winsorize

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 101)], "grp string, x double"
    )
    out = winsorize(df, "x", ["grp"], lo_q=0.05, hi_q=0.95, exact=True).collect()
    # exact p05 of 1..100 = 5.95, p95 = 95.05
    lo, hi = 5.95, 95.05
    for r in out:
        if r["x"] < lo:
            assert r["x_w"] == pytest.approx(lo)
        elif r["x"] > hi:
            assert r["x_w"] == pytest.approx(hi)
        else:
            assert r["x_w"] == r["x"]  # in-band rows bit-unchanged
    n_clamped = sum(1 for r in out if r["x_w"] != r["x"])
    assert n_clamped == 10  # 5 on each tail


def test_robust_outliers_mad_screen(spark):
    """Median/MAD flags the planted spike; a mean/std z at the same k
    would be dragged by it far less — and the degenerate MAD=0 group
    flags exactly the deviating row."""
    from jsschema_spark.stats import robust_outliers

    base = [("a", float(v)) for v in range(1, 100)]  # 1..99
    rows = base + [("a", 1e6)]  # the fat finger
    rows += [("c", 5.0)] * 9 + [("c", 7.0)]  # constant group + one deviant
    df = spark.createDataFrame(rows, "grp string, x double")
    out = robust_outliers(df, "x", ["grp"], k=3.5, exact=True).collect()

    a = {r["x"]: r for r in out if r["grp"] == "a"}
    # median of a = 50.5, MAD = median(|x-50.5|) = 25.0
    assert a[50.0]["__med"] == pytest.approx(50.5)
    assert a[50.0]["__mad"] == pytest.approx(25.0)
    assert a[1e6]["is_outlier"] and a[1e6]["robust_z"] > 1000
    assert not any(r["is_outlier"] for v, r in a.items() if v <= 99)

    c = {r["x"]: r for r in out if r["grp"] == "c"}
    assert c[5.0]["__mad"] == 0.0 and c[5.0]["robust_z"] is None
    assert not c[5.0]["is_outlier"] and c[7.0]["is_outlier"]


def test_k_anonymity_report_and_enforce(spark):
    from jsschema_spark.checks import k_anonymity_report, k_anonymize

    rows = (
        [("10001", "F")] * 6          # safe group
        + [("10001", "M")] * 2        # at risk
        + [("99999", "X")]            # singleton
        + [(None, "F")] * 5           # all-null-ish QI, large -> safe
    )
    df = spark.createDataFrame(rows, "zip string, seg string")
    rep = {(r["zip"], r["seg"]): r for r in k_anonymity_report(df, ["zip", "seg"], k=5).collect()}
    assert rep[("10001", "F")]["group_n"] == 6 and not rep[("10001", "F")]["at_risk"]
    assert rep[("10001", "M")]["at_risk"] and rep[("99999", "X")]["at_risk"]
    assert rep[(None, "F")]["group_n"] == 5 and not rep[(None, "F")]["at_risk"]

    out = k_anonymize(df, ["zip", "seg"], k=5).collect()
    assert len(out) == 11  # 6 + 5 survive; suppressed 3
    kept = {(r["zip"], r["seg"]) for r in out}
    assert kept == {("10001", "F"), (None, "F")}  # null QI group survives


def test_correlation_matrix_values_and_null_mode(spark):
    import math

    from jsschema_spark.stats import correlation_matrix

    rows = [
        (1.0, 2.0, 5.0, None),
        (2.0, 4.0, 5.0, None),
        (3.0, 6.0, 5.0, 1.0),
        (4.0, 8.0, 5.0, 2.0),
    ]
    df = spark.createDataFrame(rows, "a double, b double, c double, d double")
    out = {(r["col_a"], r["col_b"]): r for r in
           correlation_matrix(df, ["a", "b", "c", "d"]).collect()}
    assert len(out) == 6
    assert out[("a", "b")]["corr"] == pytest.approx(1.0) and out[("a", "b")]["n"] == 4
    assert out[("a", "c")]["corr"] is None  # zero-variance side
    assert out[("a", "d")]["n"] == 2  # both-non-null count
    assert out[("a", "d")]["corr"] == pytest.approx(1.0)

    # null-indicator mode: d's missingness tracks a<=2 exactly
    flags = correlation_matrix(
        df.withColumn("e", F.when(F.col("a") <= 2, None).otherwise(F.lit(9.0))),
        ["d", "e"], null_indicators=True,
    ).collect()
    assert len(flags) == 1 and flags[0]["corr"] == pytest.approx(1.0)
    assert flags[0]["n"] == 4  # indicator columns are never null


def test_group_trend_slopes(spark):
    from jsschema_spark.stats import group_trend

    rows = [("up", float(i), 2.0 * i + 5.0) for i in range(10)]
    rows += [("flat", float(i), 7.0) for i in range(10)]
    rows += [("deg", 3.0, 1.0), ("deg", 3.0, 9.0)]  # zero x-variance
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in group_trend(df, "y", "x", ["g"]).collect()}
    assert out["up"]["slope"] == pytest.approx(2.0)
    assert out["up"]["intercept"] == pytest.approx(5.0)
    assert out["up"]["r2"] == pytest.approx(1.0)
    assert out["flat"]["slope"] == pytest.approx(0.0)
    assert out["deg"]["slope"] is None and out["deg"]["n_pairs"] == 2


def test_join_profile_predicts_blowup(spark):
    from jsschema_spark.checks import join_profile

    left = spark.createDataFrame(
        [("k1",)] * 3 + [("k2",)] * 2 + [("l",)], "k string"
    )
    right = spark.createDataFrame(
        [("k1",)] * 4 + [("k2",)] * 1 + [("r",)] * 5, "k string"
    )
    out = {r["key_status"]: r for r in join_profile(left, right, "k").collect()}
    assert out["both"]["n_keys"] == 2
    assert out["both"]["rows_left"] == 5 and out["both"]["rows_right"] == 5
    assert out["both"]["join_rows"] == 3 * 4 + 2 * 1  # exact inner-join size
    assert out["left_only"]["n_keys"] == 1 and out["left_only"]["join_rows"] == 0
    assert out["right_only"]["rows_right"] == 5

    # sanity: predicted size equals the real inner join
    assert left.join(right, "k").count() == out["both"]["join_rows"]


def test_mutual_information_extremes(spark):
    import math

    from jsschema_spark.stats import mutual_information

    # perfectly dependent: b = f(a) -> NMI = 1, MI = H(a)
    dep = spark.createDataFrame(
        [("x", "X")] * 2 + [("y", "Y")] * 2, "a string, b string"
    )
    r = mutual_information(dep, "a", "b").collect()[0]
    assert r["mi_nats"] == pytest.approx(math.log(2))
    assert r["nmi"] == pytest.approx(1.0)

    # independent uniform 2x2 -> MI = 0
    ind = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "XY"], "a string, b string"
    )
    r2 = mutual_information(ind, "a", "b").collect()[0]
    assert r2["mi_nats"] == pytest.approx(0.0, abs=1e-12)
    assert r2["n_cells"] == 4 and r2["n_rows"] == 4


def test_decimal_grid_check_catches_division_bug(spark):
    from jsschema_spark.stats import decimal_grid_check

    rows = [("ok", 19.99), ("ok", 5.00), ("bad", 10.0 / 3.0), ("bad", 0.125)]
    df = spark.createDataFrame(rows, "g string, price double")
    out = {r["g"]: r for r in decimal_grid_check(df, "price", 2, ["g"]).collect()}
    assert out["ok"]["n_off_grid"] == 0  # float noise is not a violation
    assert out["bad"]["n_off_grid"] == 2
    assert out["bad"]["off_grid_frac"] == pytest.approx(1.0)
    # 10/3 is 0.00333 off the grid; 0.125 rounds to 0.13 -> 0.005 off
    assert out["bad"]["max_abs_residual"] == pytest.approx(0.005, abs=1e-6)


def test_mask_profile_shapes(spark):
    from jsschema_spark.stats import mask_profile

    rows = [("Customer#0001",), ("Customer#9999",), ("+49 170 1234",), (None,)]
    df = spark.createDataFrame(rows, "s string")
    out = {r["mask"]: r["n"] for r in mask_profile(df, "s").collect()}
    assert out["Aa#9"] == 2
    assert out["+9 9 9"] == 1
    assert out["__NULL__"] == 1

    raw = {r["mask"]: r["n"] for r in
           mask_profile(df, "s", collapse_runs=False).collect()}
    assert raw["Aaaaaaaa#9999"] == 2


def test_null_rate_by_period_sees_column_going_dark(spark):
    from jsschema_spark.stats import null_rate_by_period

    rows = [
        ("2024-01-01 05:00:00", 1.0, "x"),
        ("2024-01-01 06:00:00", 2.0, None),
        ("2024-01-02 05:00:00", None, None),  # value went dark on day 2
        ("2024-01-02 06:00:00", None, "y"),
    ]
    df = spark.createDataFrame(rows, "ts_s string, value double, tag string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "value", "tag"
    )
    out = {(r["period"].day, r["column"]): r for r in
           null_rate_by_period(df, "ts", ["value", "tag"]).collect()}
    assert out[(1, "value")]["null_frac"] == 0.0
    assert out[(2, "value")]["null_frac"] == 1.0
    assert out[(1, "tag")]["n_null"] == 1 and out[(2, "tag")]["n_null"] == 1
    assert all(r["n_rows"] == 2 for r in out.values())


def test_temporal_referential_violations(spark):
    from jsschema_spark.checks import temporal_referential_violations

    fact = spark.createDataFrame(
        [
            ("k1", "2024-03-01"),  # covered by v1
            ("k1", "2024-07-01"),  # gap between versions -> violation
            ("k1", "2024-09-01"),  # covered by open v2
            ("k2", "2024-01-01"),  # unknown key -> violation
        ],
        "k string, d string",
    ).select("k", F.col("d").cast("date").alias("ts"))
    dim = spark.createDataFrame(
        [
            ("k1", "2024-01-01", "2024-06-01"),
            ("k1", "2024-08-01", None),
        ],
        "k string, vf string, vt string",
    ).select(
        "k",
        F.col("vf").cast("date").alias("valid_from"),
        F.col("vt").cast("date").alias("valid_to"),
    )
    out = temporal_referential_violations(
        fact, dim, ["k"], "ts", broadcast_dim=True
    ).collect()
    bad = sorted((r["k"], str(r["ts"])) for r in out)
    assert bad == [("k1", "2024-07-01"), ("k2", "2024-01-01")]


def test_concentration_report_extremes(spark):
    from jsschema_spark.stats import concentration_report

    # perfectly even: 4 groups x 10 -> gini 0 (discrete formula exact), hhi 0.25
    even = spark.createDataFrame(
        [(g, 10.0) for g in "abcd"], "src string, w double"
    )
    r = concentration_report(even, "src", "w", top_frac=0.25).collect()[0]
    assert r["gini"] == pytest.approx(0.0, abs=1e-12)
    assert r["hhi"] == pytest.approx(0.25)
    assert r["top_share"] == pytest.approx(0.25)  # top 1 of 4 even groups

    # monopoly: one group owns ~everything
    mono = spark.createDataFrame(
        [("big", 9700.0)] + [(f"s{i}", 1.0) for i in range(99)],
        "src string, w double",
    )
    r2 = concentration_report(mono, "src", "w", top_frac=0.01).collect()[0]
    assert r2["n_groups"] == 100
    assert r2["gini"] > 0.95
    assert r2["hhi"] > 0.9
    assert r2["top_share"] == pytest.approx(9700.0 / 9799.0, abs=1e-9)

    # weight_col=None counts rows
    rows = spark.createDataFrame(
        [("a",)] * 9 + [("b",)], "src string"
    )
    r3 = concentration_report(rows, "src", top_frac=0.5).collect()[0]
    assert r3["total_weight"] == 10.0 and r3["top_share"] == pytest.approx(0.9)


def test_monotonicity_violations(spark):
    from jsschema_spark.checks import monotonicity_violations

    rows = [
        ("m1", 1, 10.0), ("m1", 2, 15.0), ("m1", 3, 12.0),  # reset at 3
        ("m2", 1, 5.0), ("m2", 2, 5.0), ("m2", 3, 6.0),     # plateau ok
    ]
    df = spark.createDataFrame(rows, "meter string, seq int, reading double")
    out = monotonicity_violations(df, "meter", "seq", "reading").collect()
    assert len(out) == 1
    assert out[0]["meter"] == "m1" and out[0]["seq"] == 3 and out[0]["drop"] == 3.0

    strict = monotonicity_violations(df, "meter", "seq", "reading", strict=True)
    assert strict.count() == 2  # plateau also flagged


def test_multi_drift_one_scan_battery(spark):
    from jsschema_spark.stats import multi_drift

    base = spark.createDataFrame(
        [(float(i % 10), float(i % 4)) for i in range(400)], "a double, b double"
    )
    # a shifts by +5 (half the range), b unchanged
    cur = base.withColumn("a", F.col("a") + 5.0)
    out = {r["column"]: r for r in
           multi_drift(base, cur, {"a": (0.0, 10.0), "b": (0.0, 4.0)}, nbins=10).collect()}
    assert out["a"]["psi"] > 1.0 and out["a"]["ks"] > 0.4
    assert out["b"]["psi"] < 1e-3 and out["b"]["ks"] < 1e-9
    assert out["a"]["n_base"] == 400 and out["a"]["n_cur"] == 400

    # the whole battery is ONE scan per side: one Exchange pair for the
    # (column, bucket) agg, not one per column
    plan = multi_drift(
        base, cur, {"a": (0.0, 10.0), "b": (0.0, 4.0)}
    )._jdf.queryExecution().executedPlan().toString()
    import re

    assert len(re.findall(r"Scan ExistingRDD", plan)) <= 4

    # swapped bounds used to return a silent wrong PSI, equal bounds a
    # DIVIDE_BY_ZERO at collect time; both are bad input, as in histogram
    for bad in [(10.0, 0.0), (5.0, 5.0)]:
        with pytest.raises(ValueError, match="need hi > lo"):
            multi_drift(base, cur, {"a": bad, "b": (0.0, 4.0)}, nbins=10)


def test_qq_drift_localizes_tail_fattening(spark):
    from jsschema_spark.stats import qq_drift

    base = spark.createDataFrame([(float(v),) for v in range(1, 101)], "x double")
    # fatten ONLY the top decile 5x: median flat, p99 jumps
    cur = base.withColumn(
        "x", F.when(F.col("x") > 90, F.col("x") * 5).otherwise(F.col("x"))
    )
    out = {r["p"]: r for r in
           qq_drift(base, cur, "x", probs=(0.5, 0.99), exact=True).collect()}
    assert out[0.5]["gap"] == pytest.approx(0.0)
    assert out[0.99]["gap"] > 300
    assert out[0.99]["rel_gap"] > 3


def test_rule_check_one_scan_null_is_violation(spark):
    from jsschema_spark.checks import rule_check

    df = spark.createDataFrame(
        [(10.0, 1.0), (5.0, 9.0), (None, 2.0)], "price double, fee double"
    )
    out = {r["rule"]: r for r in rule_check(df, {
        "fee_below_price": "fee < price",
        "price_positive": "price > 0",
    }).collect()}
    # NULL price fails BOTH rules (closed world), 5<9 fails the first
    assert out["fee_below_price"]["n_violations"] == 2
    assert out["price_positive"]["n_violations"] == 1
    assert out["price_positive"]["n_rows"] == 3
    assert out["fee_below_price"]["violation_frac"] == pytest.approx(2 / 3)


def test_snapshot_diff_regression_report(spark):
    from jsschema_spark.checks import snapshot_diff

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "id int, s string, v double",
    )
    cur = spark.createDataFrame(
        [(1, "a", 10.0),      # unchanged
         (2, "B", 20.0),      # s changed
         (3, "c", 30.0),      # v changed (null -> value)
         (4, "d", 40.0)],     # added
        "id int, s string, v double",
    )
    out = {r["metric"]: r["n"] for r in
           snapshot_diff(base, cur, ["id"], ["s", "v"]).collect()}
    assert out["base_rows"] == 3 and out["cur_rows"] == 4
    assert out["added"] == 1 and out["removed"] == 0 and out["common"] == 3
    assert out["changed_rows"] == 2
    assert out["changed:s"] == 1 and out["changed:v"] == 1


def test_group_normalize_z_and_minmax(spark):
    import math

    from jsschema_spark.stats import group_normalize

    rows = [("a", 10.0), ("a", 20.0), ("a", 30.0), ("c", 5.0), ("c", 5.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    z = group_normalize(df, "x", ["g"], method="z").collect()
    za = sorted(r["x_norm"] for r in z if r["g"] == "a")
    assert za == pytest.approx([-1.0, 0.0, 1.0])
    assert all(r["x_norm"] is None for r in z if r["g"] == "c")  # degenerate

    mm = group_normalize(df, "x", ["g"], method="minmax").collect()
    ma = sorted(r["x_norm"] for r in mm if r["g"] == "a")
    assert ma == pytest.approx([0.0, 0.5, 1.0])


def test_decade_profile_sees_unit_mix(spark):
    from jsschema_spark.stats import decade_profile

    rows = [(1.5,), (2.0,), (9.9,), (1500.0,), (2500.0,), (0.0,), (-30.0,), (None,)]
    df = spark.createDataFrame(rows, "x double")
    out = {r["bucket"]: r["n"] for r in decade_profile(df, "x").collect()}
    assert out["e0"] == 3        # the meters hump
    assert out["e3"] == 2        # the millimeters hump, 3 decades away
    assert out["zero"] == 1 and out["null"] == 1 and out["neg:e1"] == 1


def test_float32_safety(spark):
    rows = [(1.5,), (1e40,), (123456789012345.0,), (None,), (0.25,)]
    df = spark.createDataFrame(rows, "x double")
    from jsschema_spark.stats import float32_safety

    r = float32_safety(df, "x").collect()[0]
    assert r["n_rows"] == 5
    assert r["n_overflow"] == 1          # 1e40 > float32 max
    assert r["n_lossy"] == 1             # 15 significant digits don't fit
    assert 0 < r["max_rel_err"] < 6e-8   # bounded by float32 eps
    # clean halves/quarters round-trip exactly
    clean = spark.createDataFrame([(1.5,), (0.25,), (1024.0,)], "x double")
    rc = float32_safety(clean, "x").collect()[0]
    assert rc["n_lossy"] == 0 and rc["n_overflow"] == 0


def test_column_entropy_profile(spark):
    import math

    from jsschema_spark.stats import column_entropy_profile

    rows = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")]
    df = spark.createDataFrame(rows, "u string, w string")
    # u and w are both uniform over 2 values -> H = ln 2, norm 1
    out = {r["column"]: r for r in column_entropy_profile(df, ["u", "w"]).collect()}
    assert out["u"]["entropy_nats"] == pytest.approx(math.log(2))
    assert out["u"]["norm_entropy"] == pytest.approx(1.0)

    skew = spark.createDataFrame([("k",)] * 999 + [("z",)], "c string")
    r = column_entropy_profile(skew, ["c"]).collect()[0]
    assert r["n_distinct"] == 2 and r["norm_entropy"] < 0.02  # near-constant


def test_string_length_profile(spark):
    from jsschema_spark.stats import string_length_profile

    rows = [("abc", ""), ("de", None), ("fghij", "xx")]
    df = spark.createDataFrame(rows, "a string, b string")
    out = {r["column"]: r for r in string_length_profile(df, ["a", "b"]).collect()}
    assert out["a"]["min_len"] == 2 and out["a"]["max_len"] == 5
    assert out["a"]["avg_len"] == pytest.approx(10 / 3)
    assert out["b"]["n_null"] == 1 and out["b"]["n_empty"] == 1
    assert out["b"]["n_rows"] == 3


def test_key_candidates_finds_composite_key(spark):
    rows = [(d, s, f"{d}-{s}") for d in range(10) for s in range(5)]
    df = spark.createDataFrame(rows, "dept int, seq int, label string")
    from jsschema_spark.checks import key_candidates

    out = {r["candidate"]: r for r in
           key_candidates(df, ["dept", "seq", "label"], exact=True).collect()}
    assert out["label"]["uniqueness_ratio"] == pytest.approx(1.0)
    assert out["dept+seq"]["uniqueness_ratio"] == pytest.approx(1.0)
    assert out["dept"]["uniqueness_ratio"] == pytest.approx(0.2)
    assert out["seq"]["n_distinct"] == 5

    approx = {r["candidate"]: r for r in
              key_candidates(df, ["dept", "seq", "label"]).collect()}
    assert abs(approx["label"]["uniqueness_ratio"] - 1.0) < 0.05  # HLL path


def test_sample_representativeness(spark):
    pop = spark.createDataFrame(
        [("a",)] * 800 + [("b",)] * 200, "g string"
    )
    good = spark.createDataFrame([("a",)] * 80 + [("b",)] * 20, "g string")
    bad = spark.createDataFrame([("a",)] * 20 + [("b",)] * 80, "g string")
    from jsschema_spark.stats import sample_representativeness

    g = {r["category"]: r for r in
         sample_representativeness(pop, good, "g").collect()}
    assert g["a"]["expected"] == pytest.approx(80.0)
    assert sum(r["chi2_term"] for r in g.values()) == pytest.approx(0.0)

    b = sample_representativeness(pop, bad, "g").collect()
    chi2 = sum(r["chi2_term"] for r in b)
    assert chi2 > 100  # wildly unrepresentative (crit at df=1 is 3.84)


def test_interval_overlaps_running_max(spark):
    rows = [
        # room A: [0,10) [10,20) touch -> ok; [5,8) swallowed by [0,10)
        ("A", 0, 10), ("A", 10, 20), ("A", 5, 8),
        # room B: long [0,100) swallows a later [50,60) that a lag-only
        # check (vs the previous [40,45)) would miss
        ("B", 0, 100), ("B", 40, 45), ("B", 50, 60),
        ("C", 3, 4),
    ]
    df = spark.createDataFrame(rows, "room string, s int, e int")
    from jsschema_spark.checks import interval_overlaps

    out = {(r["room"], r["start"]): r for r in
           interval_overlaps(df, "room", "s", "e").collect()}
    assert set(out) == {("A", 5), ("B", 40), ("B", 50)}
    assert out[("B", 50)]["overlapped_until"] == 100  # running max, not lag


def test_fd_strength(spark):
    rows = (
        [("z1", "NYC")] * 9 + [("z1", "LA")]      # 10% exceptions
        + [("z2", "SF")] * 10                      # exact
    )
    df = spark.createDataFrame(rows, "zip string, city string")
    from jsschema_spark.checks import fd_strength

    r = fd_strength(df, ["zip"], "city").collect()[0]
    assert r["n_rows"] == 20 and r["n_lhs_groups"] == 2
    assert r["n_violating_rows"] == 1
    assert r["strength"] == pytest.approx(0.95)


def test_l_diversity_report(spark):
    """Homogeneity attack detection: a large-but-homogeneous group is
    at-risk while a small diverse one passes; null sensitive values count
    toward group size but never toward diversity."""
    from jsschema_spark.checks import l_diversity_report

    rows = (
        [("z1", "A", "flu")] * 50                      # 50-anonymous, 1 value
        + [("z2", "A", "flu"), ("z2", "A", "cold"), ("z2", "A", "cough")]
        + [("z3", "B", None)] * 4 + [("z3", "B", "flu")]  # nulls not diverse
    )
    df = spark.createDataFrame(rows, "zip string, seg string, dx string")
    out = {(r["zip"], r["seg"]): r for r in
           l_diversity_report(df, ["zip", "seg"], "dx", l=2).collect()}
    g1 = out[("z1", "A")]
    assert g1["group_n"] == 50 and g1["n_sensitive"] == 1 and g1["at_risk"]
    assert abs(g1["top_share"] - 1.0) < 1e-12
    g2 = out[("z2", "A")]
    assert g2["group_n"] == 3 and g2["n_sensitive"] == 3 and not g2["at_risk"]
    g3 = out[("z3", "B")]
    assert g3["group_n"] == 5 and g3["n_sensitive"] == 1 and g3["at_risk"]
    # top_share counts only the non-null mode: 1 flu / 5 rows
    assert abs(g3["top_share"] - 0.2) < 1e-12


def test_t_closeness_report(spark):
    """EMD t-closeness: a homogeneous group far from the global mix is
    at-risk, the dominant group is ~0; absent values count as p=0; nulls
    excluded; TV variant matches the hand formula."""
    import numpy as np

    from jsschema_spark.checks import t_closeness_report

    rows = (
        [("z1", v) for v in [1] * 10]
        + [("z2", v) for v in [1, 2, 3, 4, 5] * 2]
        + [("z3", v) for v in [1, 2, 3, 4, 5] * 20]
        + [("z1", None)]
    )
    df = spark.createDataFrame(rows, "zip string, band int")
    out = {r["zip"]: r for r in
           t_closeness_report(df, ["zip"], "band", t=0.2).collect()}
    glob = np.array([32, 22, 22, 22, 22], float)
    p = glob / glob.sum()
    pg = np.array([1, 0, 0, 0, 0], float)
    emd = np.abs(np.cumsum(pg) - np.cumsum(p)).sum() / 4
    assert abs(out["z1"]["distance"] - emd) < 1e-12 and out["z1"]["at_risk"]
    assert out["z1"]["group_n"] == 10  # the null row never counts
    assert out["z3"]["distance"] < 0.05 and not out["z3"]["at_risk"]
    tv = {r["zip"]: r for r in
          t_closeness_report(df, ["zip"], "band", ordered=False).collect()}
    assert abs(tv["z1"]["distance"] - 0.5 * np.abs(pg - p).sum()) < 1e-12

    # a null quasi-identifier is a group of its own and keeps its pair counts
    df = spark.createDataFrame(rows + [(None, 5)] * 4, "zip string, band int")
    out = {r["zip"]: r for r in
           t_closeness_report(df, ["zip"], "band", t=0.2).collect()}
    glob = np.array([32, 22, 22, 22, 26], float)
    p = glob / glob.sum()
    pg = np.array([0, 0, 0, 0, 1], float)
    emd = np.abs(np.cumsum(pg) - np.cumsum(p)).sum() / 4
    assert out[None]["group_n"] == 4
    assert abs(out[None]["distance"] - emd) < 1e-12 and out[None]["at_risk"]
