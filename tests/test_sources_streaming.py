"""Source pruning, sinks, and streaming validation."""

import json
import os

from pyspark.sql import functions as F

from jsschema_spark import parse_schema
from jsschema_spark.sources import (
    constrained_columns,
    read_for_validation,
    validate_table,
)
from jsschema_spark.streaming import start_violation_sink, validate_stream
from jsschema_spark.synth import CLIPS_DRAFT04_SCHEMA, clips_table

SCHEMA = parse_schema(CLIPS_DRAFT04_SCHEMA)


def test_constrained_columns():
    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript", "extra_col"]
    got = constrained_columns(SCHEMA, cols)
    assert "extra_col" not in got
    assert set(got) == {"clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"}


def test_read_for_validation_prunes_scan(spark, tmp_path):
    src = str(tmp_path / "clips")
    clips_table(spark, 500, with_audio=False).withColumn(
        "unconstrained_payload", F.lit("x" * 100)
    ).write.parquet(src)
    df = read_for_validation(spark, src, SCHEMA)
    assert "unconstrained_payload" not in df.columns
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "unconstrained_payload" not in plan.split("ReadSchema")[-1]


def test_validate_table_end_to_end(spark, tmp_path):
    src = str(tmp_path / "clips2")
    clips_table(spark, 2000, with_audio=False).write.parquet(src)
    vdir = str(tmp_path / "viol")
    mdir = str(tmp_path / "metrics")
    summary = validate_table(spark, src, SCHEMA, violations_path=vdir, metrics_path=mdir)
    rows = {(r.path, r.keyword): r.n_violations for r in summary.collect()}
    assert sum(rows.values()) > 0
    viol = spark.read.parquet(vdir)
    assert viol.count() == sum(rows.values())
    assert "keyword" in viol.columns and "clip_id" in viol.columns
    # keyword partitioning happened
    assert any(p.startswith("keyword=") for p in os.listdir(vdir))
    # a re-run replaces the violations instead of appending a second copy
    validate_table(spark, src, SCHEMA, violations_path=vdir, metrics_path=mdir)
    assert spark.read.parquet(vdir).count() == sum(rows.values())
    metrics_files = [f for f in os.listdir(mdir) if f.endswith(".json")]
    assert metrics_files
    recs = [
        json.loads(line)
        for f in metrics_files
        for line in open(os.path.join(mdir, f), encoding="utf-8")
    ]
    assert {r["keyword"] for r in recs} >= {"pattern", "enum", "required"}


def test_streaming_validation(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    clips_table(spark, 1000, with_audio=False).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    validated = validate_stream(stream, SCHEMA)
    assert validated.isStreaming

    out = str(tmp_path / "stream_viol")
    ckpt = str(tmp_path / "ckpt")
    q = start_violation_sink(stream, SCHEMA, out, ckpt, id_cols=["clip_id"])
    q.awaitTermination(120)
    viol = spark.read.parquet(out)
    from jsschema_spark.compiler import TableValidator

    expected = TableValidator(SCHEMA, static.schema).violation_details(static).count()
    assert viol.count() == expected
    assert "batch_id" in viol.columns


def test_streaming_sink_idempotent_on_batch_replay(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a micro-batch (same
    batch_id, e.g. after a partial write + retry) must not duplicate
    detail rows — the sink overwrites the batch's own partition dir."""
    src = str(tmp_path / "replay_src")
    clips_table(spark, 500, with_audio=False).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)

    out = str(tmp_path / "replay_viol")
    ckpt = str(tmp_path / "replay_ckpt")
    q = start_violation_sink(stream, SCHEMA, out, ckpt, id_cols=["clip_id"])
    q.awaitTermination(120)
    first = spark.read.parquet(out).count()
    assert first > 0

    # simulate the engine replaying batch 0 against the same output dir
    from jsschema_spark.compiler import TableValidator

    tv = TableValidator(SCHEMA, static.schema)
    tv.violation_details(static, id_cols=["clip_id"]).write.mode("overwrite").parquet(
        f"{out}/batch_id=0"
    )
    replayed = spark.read.parquet(out).count()
    assert replayed == first  # no duplicates


def test_violation_streaks_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState custom operator: consecutive-violation streaks
    must carry across micro-batch boundaries (one input file per trigger)."""
    import pandas as pd
    from jsschema_spark import parse_schema
    from jsschema_spark.streaming import violation_streaks

    schema = parse_schema({
        "type": "object",
        "properties": {"v": {"type": "integer", "minimum": 0}},
    })
    src = str(tmp_path / "streak_src")
    os.makedirs(src)
    # key 'a': batch1 ends with 2 invalids, batch2 starts with 2 more ->
    # max streak 4 only if state crosses the batch boundary.
    # key 'b': never more than 1 consecutive invalid.
    batch1 = [("a", 1, 5), ("a", 2, -1), ("a", 3, -1), ("b", 1, -1), ("b", 2, 7)]
    batch2 = [("a", 4, -1), ("a", 5, -1), ("a", 6, 9), ("b", 3, -1)]
    cols = ["k", "seq", "v"]
    pd.DataFrame(batch1, columns=cols).to_parquet(os.path.join(src, "f0.parquet"))
    pd.DataFrame(batch2, columns=cols).to_parquet(os.path.join(src, "f1.parquet"))

    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = violation_streaks(stream, schema, key_col="k", order_col="seq", threshold=3)
    q = (
        out.writeStream.format("memory").queryName("streaks")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "streak_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM streaks").collect()
    # last update per key wins
    last = {}
    for r in rows:
        if r.key not in last or r.n_rows > last[r.key].n_rows:
            last[r.key] = r
    a, b = last["a"], last["b"]
    assert a.n_rows == 6 and a.n_invalid == 4
    assert a.max_streak == 4 and a.alert  # 2 at end of batch1 + 2 at start of batch2
    assert a.streak == 0  # last row valid
    assert b.n_rows == 3 and b.n_invalid == 2
    assert b.max_streak == 1 and not b.alert
    assert b.streak == 1  # batch2 ended invalid


def test_read_table_catalog_path(spark, tmp_path):
    """fmt='iceberg' resolves through the session catalog (spark.table)
    when the name exists there — the same code path an Iceberg catalog
    table takes; parquet fallback only fires for unresolvable names."""
    from jsschema_spark.sources import read_table

    src = str(tmp_path / "cat_clips")
    clips_table(spark, 200, with_audio=False).write.parquet(src)
    spark.read.parquet(src).createOrReplaceTempView("clips_catalog_entry")
    try:
        via_catalog = read_table(spark, "clips_catalog_entry", fmt="iceberg",
                                 columns=["clip_id", "codec"])
        assert via_catalog.columns == ["clip_id", "codec"]
        assert via_catalog.count() == 200
        # unresolvable name degrades to parquet-by-path
        via_fallback = read_table(spark, src, fmt="iceberg")
        assert via_fallback.count() == 200
    finally:
        spark.catalog.dropTempView("clips_catalog_entry")


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A codec predicate over a codec-partitioned clips table must prune at
    the source (PartitionFilters), not post-filter a full scan — at 10^12
    rows this is the difference between reading one codec's files and all
    of them."""
    src = str(tmp_path / "part_clips")
    clips_table(spark, 2000, with_audio=False).write.partitionBy("codec").parquet(src)
    df = read_for_validation(spark, src, SCHEMA).where(F.col("codec") == "flac")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "codec" in pf and "flac" in pf
    assert df.count() == spark.read.parquet(src).where(F.col("codec") == "flac").count()


def test_streaming_dedup_admission_across_batches(spark, tmp_path):
    """Each micro-batch dedups against the fingerprints admitted by all
    earlier batches (maxFilesPerTrigger=1 → one file per batch), and a
    replayed batch is idempotent: it sees the index state of its first
    attempt, never its own contribution."""
    from jsschema_spark.functions.text import content_fingerprint
    from jsschema_spark.streaming import start_dedup_admission_sink

    import pandas as pd

    src = str(tmp_path / "adm_src")
    os.makedirs(src)
    # file 0: docs 1-3; file 1: doc 4 (fresh), doc 5 = dup of doc 1's text,
    # docs 6+7 = within-batch dups of each other
    rows0 = [(1, "alpha text one"), (2, "beta text two"), (3, "gamma text three")]
    rows1 = [(4, "delta text four"), (5, "alpha text one"),
             (6, "epsilon text six"), (7, "epsilon text six")]
    cols = ["doc_id", "text"]
    pd.DataFrame(rows0, columns=cols).to_parquet(os.path.join(src, "f0.parquet"))
    pd.DataFrame(rows1, columns=cols).to_parquet(os.path.join(src, "f1.parquet"))
    b0 = spark.createDataFrame(rows0, "doc_id long, text string")
    b1 = spark.createDataFrame(rows1, "doc_id long, text string")

    stream = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = str(tmp_path / "adm_idx")
    out = str(tmp_path / "adm_out")
    ckpt = str(tmp_path / "adm_ckpt")
    q = start_dedup_admission_sink(stream, idx, out, ckpt, "doc_id", "text")
    q.awaitTermination(120)

    admitted = spark.read.parquet(out)
    ids = {r.doc_id for r in admitted.collect()}
    # doc 5 deduped against an earlier batch via the index; 6/7 keep-first
    assert 5 not in ids
    assert {1, 2, 3, 4} <= ids
    assert len({6, 7} & ids) == 1 and min({6, 7} & ids) == 6
    # the index holds one row per admitted distinct fingerprint
    index = spark.read.parquet(idx)
    assert index.count() == admitted.count()
    assert index.select("fingerprint").distinct().count() == index.count()

    # replay the LAST batch (its own fingerprints are in the index):
    # process() must exclude its own partition and reproduce the output
    last_bid = max(r.batch_id for r in index.select("batch_id").distinct().collect())
    before = sorted(ids)
    from jsschema_spark.functions.dedup import incremental_exact_dedup

    replay_index = spark.read.parquet(idx).where(F.col("batch_id") != last_bid)
    batch_df = b1 if last_bid > 0 else b0
    kept = incremental_exact_dedup(batch_df, replay_index, "doc_id", "text")
    kept.write.mode("overwrite").parquet(f"{out}/batch_id={last_bid}")
    kept.select(
        content_fingerprint(F.col("text")).alias("fingerprint"),
        F.col("doc_id").alias("doc_id"),
    ).write.mode("overwrite").parquet(f"{idx}/batch_id={last_bid}")
    after = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert after == before


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed by the join key join with ZERO Exchange in the
    plan — the co-located-join primitive for repeated referential checks.
    (An unbucketed baseline of the same join plans at least one shuffle.)"""
    from jsschema_spark.sources import write_bucketed

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")

    write_bucketed(orders, "orders_b", ["o_custkey"], 8)
    write_bucketed(cust, "cust_b", ["c_custkey"], 8)
    try:
        # disable auto-broadcast so the join shape (not the dim size)
        # decides; a real 100 TB fact-to-fact join is not broadcastable
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ob, cb = spark.table("orders_b"), spark.table("cust_b")
            joined = ob.join(cb, ob.o_custkey == cb.c_custkey)
            n = joined.count()
            assert n > 0
            plan = joined._jdf.queryExecution().executedPlan().toString().split(
                "== Initial Plan =="
            )[0]
            assert "Exchange" not in plan, plan  # co-located: no shuffle at all

            base = orders.join(cust, orders.o_custkey == cust.c_custkey)
            assert base.count() == n
            base_plan = base._jdf.queryExecution().executedPlan().toString().split(
                "== Initial Plan =="
            )[0]
            assert "Exchange" in base_plan  # unbucketed baseline shuffles
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS cust_b")


def test_streaming_near_dup_admission(spark, tmp_path):
    """Near-dup admission: batch 2 rows are dropped when they near-dup an
    admitted batch-1 doc (via the persisted signature index) or an
    earlier-kept row of their own batch; fresh rows are admitted and their
    signatures extend the index."""
    import pandas as pd
    from jsschema_spark.streaming import start_near_dup_admission_sink

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lambda mu nu xi omicron pi rho sigma tau upsilon"
    other = "one two three four five six seven eight nine ten " \
            "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    src = str(tmp_path / "nd_src")
    os.makedirs(src)
    cols = ["doc_id", "text"]
    pd.DataFrame([(1, base), (2, other)], columns=cols).to_parquet(
        os.path.join(src, "f0.parquet")
    )
    pd.DataFrame(
        [
            (4, base + " extra"),       # near-dup of admitted doc 1 -> dropped
            (5, "totally different words here make a fresh document for the corpus today ok"),
            (6, other + " trailing"),   # near-dup of admitted doc 2 -> dropped
            # doc 7: half of base's tokens + a fresh half -> Jaccard vs doc 1
            # well under 0.8 (normalization lowercases, so a case-change
            # alone would NOT make it fresh)
            (7, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "red orange yellow green blue indigo violet cyan magenta white"),
            (8, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "red orange yellow green blue indigo violet cyan magenta white tail"),  # near-dup of 7 -> dropped
        ],
        columns=cols,
    ).to_parquet(os.path.join(src, "f1.parquet"))

    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(spark.createDataFrame([], schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = str(tmp_path / "nd_idx")
    out = str(tmp_path / "nd_out")
    q = start_near_dup_admission_sink(
        stream, idx, out, str(tmp_path / "nd_ckpt"), "doc_id", "text", threshold=0.8
    )
    q.awaitTermination(180)

    ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert {1, 2, 5, 7} <= ids
    assert not ({4, 6, 8} & ids)
    # the signature index covers exactly the admitted docs
    sig_ids = {r.doc_id for r in spark.read.parquet(idx).collect()}
    assert sig_ids == ids


def test_drift_stream_windowed_psi(spark, tmp_path):
    """Streaming windowed PSI against a batch reference histogram: the
    matching-distribution window scores ~0, the shifted window scores
    high, and both agree with stats.psi computed on the same counts."""
    import datetime as dt

    from jsschema_spark.stats import histogram, psi as batch_psi
    from jsschema_spark.streaming import drift_stream

    # reference: uniform over [0, 10)
    ref_df = spark.range(1000).select((F.col("id") % 10 + 0.5).alias("v"))
    ref_hist = [(r.bucket, r.n) for r in histogram(ref_df, "v", 0.0, 10.0, nbins=10).collect()]

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    # window 1: same uniform distribution
    for i in range(500):
        rows.append((t0 + dt.timedelta(seconds=i % 50), (i % 10) + 0.5))
    # window 2 (2 min later): everything in one bucket — big drift
    t1 = t0 + dt.timedelta(minutes=2)
    for i in range(500):
        rows.append((t1 + dt.timedelta(seconds=i % 50), 3.5))
    src = str(tmp_path / "drift_src")
    # write via Spark: pandas emits ns-precision INT64 timestamps the
    # streaming parquet reader rejects
    spark.createDataFrame(rows, "ts timestamp, v double").coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    out = drift_stream(stream, "v", "ts", ref_hist, 0.0, 10.0, nbins=10, window="1 minute")
    # complete mode: append would only emit windows the watermark has
    # closed, and a one-shot availableNow run never advances past its own
    # max event time
    q = (
        out.writeStream.format("memory").queryName("drift")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "drift_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.window_start: r for r in spark.sql("SELECT * FROM drift").collect()}
    assert len(got) == 2
    low = got[t0]
    high = got[t1]
    assert low.n_rows == 500 and high.n_rows == 500
    assert low.psi < 0.01 < high.psi  # matching vs concentrated window
    # parity with the batch PSI helper on identical dense counts
    expected_high = batch_psi(
        [{"bucket": b, "n": n} for b, n in ref_hist],
        [{"bucket": 3, "n": 500}],
        nbins=10,
    )
    assert abs(high.psi - expected_high) < 1e-9


def test_session_stream_native_session_window(spark, tmp_path):
    """Streaming sessionization via native session windows: gap semantics
    agree with the batch sessionize operator on the same events."""
    import datetime as dt

    from jsschema_spark.functions.events import session_stats
    from jsschema_spark.streaming import session_stream

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    # user 1: burst of 3 events, 40-minute quiet, burst of 2
    for m in (0, 5, 10, 50, 55):
        rows.append((1, t0 + dt.timedelta(minutes=m)))
    # user 2: single event
    rows.append((2, t0 + dt.timedelta(minutes=3)))
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = session_stream(stream, "user_id", "ts", gap="30 minutes")
    q = (
        out.writeStream.format("memory").queryName("sessions")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start): r
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    assert len(got) == 3
    s1a = got[(1, t0)]
    assert s1a.n_events == 3
    s1b = got[(1, t0 + dt.timedelta(minutes=50))]
    assert s1b.n_events == 2
    assert got[(2, t0 + dt.timedelta(minutes=3))].n_events == 1

    # batch operator groups the same events into the same sessions
    batch = session_stats(
        spark.createDataFrame(rows, "user_id long, ts timestamp"),
        "user_id", "ts", gap="30 minutes",
    ).collect()
    batch_sessions = {(r.user_id, r.session_start): r.n_events for r in batch}
    assert batch_sessions == {k: v.n_events for k, v in got.items()}


def test_streaming_admission_quality_gate(spark, tmp_path):
    """min_quality on the admission sink: junk documents are rejected
    before dedup and never enter the admitted output or the index."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and then keeps on running home"),
        (2, "#@! $%^ &*( !!!"),  # junk: fails the quality gate
        (3, "a perfectly ordinary sentence with enough words to pass the quality gate today"),
    ]
    src = str(tmp_path / "qa_src")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(src)

    from jsschema_spark.streaming import start_dedup_admission_sink

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    idx = str(tmp_path / "qa_idx")
    adm = str(tmp_path / "qa_adm")
    q = start_dedup_admission_sink(
        stream, idx, adm, str(tmp_path / "qa_ckpt"), "doc_id", "text",
        min_quality=0.5,
    )
    q.awaitTermination(120)
    admitted = {r.doc_id for r in spark.read.parquet(adm).collect()}
    assert admitted == {1, 3}
    assert spark.read.parquet(idx).count() == 2


def test_streaming_embedding_admission(spark, tmp_path):
    """Vector admission: per micro-batch, rows whose cosine against a
    previously admitted embedding (probed via the persisted LSH index) or
    an earlier-kept row of their own batch reaches the threshold are
    dropped; null vectors pass through; and a replayed batch reproduces
    its first attempt exactly (its own index contribution is excluded)."""
    import pandas as pd

    from jsschema_spark.streaming import (
        _admit_embedding_batch,
        start_embedding_admission_sink,
    )

    def basis(i, dim=8):
        v = [0.0] * dim
        v[i] = 1.0
        return v

    src = str(tmp_path / "emb_src")
    os.makedirs(src)
    cols = ["vec_id", "embedding"]
    # batch 0: three mutually orthogonal vectors — all admitted
    pd.DataFrame(
        [(1, basis(0)), (2, basis(1)), (3, basis(2))], columns=cols
    ).to_parquet(os.path.join(src, "f0.parquet"))
    # batch 1: 4 = copy of admitted 1 (dropped via index), 5 fresh,
    # 6/7 = within-batch copies (keep-first: 6), 8 = null vector (admitted)
    pd.DataFrame(
        [(4, basis(0)), (5, basis(3)), (6, basis(4)), (7, basis(4)), (8, None)],
        columns=cols,
    ).to_parquet(os.path.join(src, "f1.parquet"))

    schema = "vec_id long, embedding array<double>"
    stream = (
        spark.readStream.schema(spark.createDataFrame([], schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = str(tmp_path / "emb_idx")
    out = str(tmp_path / "emb_out")
    q = start_embedding_admission_sink(
        stream, idx, out, str(tmp_path / "emb_ckpt"),
        "vec_id", "embedding", threshold=0.9, dim=8, n_planes=6, seed=7,
    )
    q.awaitTermination(180)

    admitted = spark.read.parquet(out)
    ids = {r.vec_id for r in admitted.collect()}
    assert ids == {1, 2, 3, 5, 6, 8}
    # index covers exactly the admitted NON-NULL vectors (bucket -1 rows
    # carry the null embedding and never match anything)
    index = spark.read.parquet(idx)
    assert {r.vec_id for r in index.collect()} == ids
    assert {r.bucket for r in index.where(F.col("vec_id") == 8).collect()} == {-1}
    # the _meta sidecar pins the plane parameters
    meta = spark.read.parquet(f"{idx}/_meta").collect()[0]
    assert (meta.dim, meta.n_planes, meta.seed) == (8, 6, 7)

    # replay the LAST batch: its own signatures are already in the index;
    # _admit_embedding_batch must exclude them and reproduce the output
    last_bid = max(r.batch_id for r in index.select("batch_id").distinct().collect())
    b1 = spark.createDataFrame(
        [(4, basis(0)), (5, basis(3)), (6, basis(4)), (7, basis(4)), (8, None)],
        schema,
    )
    _admit_embedding_batch(
        b1, int(last_bid), idx, out, "vec_id", "embedding", 0.9, 8, 6, 7
    )
    assert {r.vec_id for r in spark.read.parquet(out).collect()} == ids
    assert {r.vec_id for r in spark.read.parquet(idx).collect()} == ids


def test_read_table_catalog_gate(spark, tmp_path):
    """`read_table(fmt='iceberg')` routes through the SESSION CATALOG
    (`spark.table`) — the exact call path an Iceberg catalog table takes —
    and falls back to a parquet path read when the name is no catalog
    table. No Iceberg jar ships in this sandbox, so the catalog branch is
    exercised against Spark's built-in catalog (honest-coverage note in
    SURVEY §2.5: a real Iceberg catalog has not executed here)."""
    from jsschema_spark.sources import read_table

    src = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "clip_id long, transcript string"
    )
    spark.sql("DROP TABLE IF EXISTS cat_gate_clips")
    src.write.saveAsTable("cat_gate_clips")
    try:
        # catalog branch: resolved via spark.table, columns pruned
        got = read_table(spark, "cat_gate_clips", fmt="iceberg", columns=["clip_id"])
        assert got.columns == ["clip_id"]
        assert {r.clip_id for r in got.collect()} == {1, 2, 3}
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_gate_clips")

    # fallback branch: a filesystem path is not a catalog name
    p = str(tmp_path / "gate_pq")
    src.write.parquet(p)
    got = read_table(spark, p, fmt="iceberg")
    assert {r.clip_id for r in got.collect()} == {1, 2, 3}


def test_streaming_admission_redaction(spark, tmp_path):
    """redact=True scrubs PII from admitted text while the fingerprint
    index keeps deduping on the ORIGINAL text: a later batch repeating an
    admitted doc's original text is still dropped."""
    import pandas as pd

    from jsschema_spark.streaming import start_dedup_admission_sink

    src = str(tmp_path / "red_src")
    os.makedirs(src)
    cols = ["doc_id", "text"]
    pd.DataFrame(
        [(1, "hello world mail me at a@b.org today"), (2, "plain text here")],
        columns=cols,
    ).to_parquet(os.path.join(src, "f0.parquet"))
    pd.DataFrame(
        [(3, "hello world mail me at a@b.org today"),  # dup of ORIGINAL 1
         (4, "fresh words entirely 10.0.0.7 included")],
        columns=cols,
    ).to_parquet(os.path.join(src, "f1.parquet"))

    idx = str(tmp_path / "red_idx")
    out = str(tmp_path / "red_out")
    q = start_dedup_admission_sink(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(src),
        idx, out, str(tmp_path / "red_ckpt"), "doc_id", "text", redact=True,
    )
    q.awaitTermination(120)

    rows = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2, 4}       # 3 deduped against 1's ORIGINAL text
    assert "[PII]" in rows[1] and "@" not in rows[1]
    assert "[PII]" in rows[4] and "10.0.0.7" not in rows[4]
    assert rows[2] == "plain text here"


def test_streaming_contract_drift_sink(spark, tmp_path):
    """Per-batch contract monitoring: a conforming batch emits no drift
    rows, a drifting batch (range breach + new enum value + nulls in a
    required column) emits the exact constraint diffs."""
    import pandas as pd

    from jsschema_spark.infer import schema_report
    from jsschema_spark.streaming import start_contract_drift_sink

    ref_df = spark.createDataFrame(
        [(1, "red"), (2, "green"), (3, "red")], "k long, c string"
    )
    ref_dir = str(tmp_path / "cd_ref")
    schema_report(ref_df).write.parquet(ref_dir)

    src = str(tmp_path / "cd_src")
    os.makedirs(src)
    cols = ["k", "c"]
    # batch 0 conforms exactly to the reference profile
    pd.DataFrame([(1, "red"), (2, "green"), (3, "red")], columns=cols).to_parquet(
        os.path.join(src, "f0.parquet")
    )
    # batch 1 drifts: k out of range, new enum value, null in c
    pd.DataFrame([(9, "blue"), (2, None)], columns=cols).to_parquet(
        os.path.join(src, "f1.parquet")
    )

    out = str(tmp_path / "cd_out")
    q = start_contract_drift_sink(
        spark.readStream.schema("k long, c string")
        .option("maxFilesPerTrigger", 1).parquet(src),
        ref_dir, out, str(tmp_path / "cd_ckpt"),
    )
    q.awaitTermination(120)

    drift = spark.read.parquet(out)
    by_batch = {}
    for r in drift.collect():
        by_batch.setdefault(r.batch_id, {})[(r.path, r.keyword)] = r.change
    assert by_batch.get(0, {}) == {}  # conforming batch: zero drift rows
    b1 = by_batch[1]
    assert b1[("k", "maximum")] == "changed"      # 3 -> 9
    assert b1[("c", "enum")] == "changed"         # green,red -> blue
    assert b1[("c", "required")] == "removed"     # nulls appeared


def test_streaming_audio_admission(spark, tmp_path):
    """Audio admission: a volume-scaled copy of an earlier-batch clip is
    dropped via the persisted fingerprint index, within-batch copies
    keep-first, undecodable clips are rejected, and a replayed batch
    reproduces its output (index reads exclude the batch's own
    partition)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jsschema_spark.audio import synth_pcm, wav_encode
    from jsschema_spark.streaming import _admit_audio_batch, start_audio_admission_sink

    sr = 16000

    def wav(cid, scale=1.0):
        pcm = synth_pcm(cid, sr, sr * 2)
        if scale != 1.0:
            pcm = np.clip(np.round(pcm.astype(np.float64) * scale), -32768, 32767).astype(np.int16)
        return wav_encode(pcm, sr)

    src = str(tmp_path / "aud_src")
    os.makedirs(src)
    rows0 = [(f"a{i}", wav(f"a{i}")) for i in range(5)]
    rows1 = [
        ("b0", wav("a0", scale=0.5)),   # cross-batch near-dup of a0
        ("b1", wav("b1")),              # fresh
        ("b2", wav("zz")),              # within-batch dup pair (keep-first)
        ("b3", wav("zz", scale=0.7)),
        ("b4", b"\x01" * 30),           # undecodable
    ]
    for f, rows in (("f0", rows0), ("f1", rows1)):
        pq.write_table(
            pa.table({
                "clip_id": pa.array([c for c, _ in rows], pa.string()),
                "bytes": pa.array([b for _, b in rows], pa.binary()),
            }),
            os.path.join(src, f + ".parquet"),
        )

    stream = (
        spark.readStream.schema("clip_id string, bytes binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = str(tmp_path / "aud_idx")
    out = str(tmp_path / "aud_out")
    q = start_audio_admission_sink(
        stream, idx, out, str(tmp_path / "aud_ckpt")
    )
    q.awaitTermination(120)

    admitted = {r.clip_id for r in spark.read.parquet(out).select("clip_id").collect()}
    assert {"a0", "a1", "a2", "a3", "a4", "b1", "b2"} == admitted
    index = spark.read.parquet(idx)
    assert {r.clip_id for r in index.collect()} == admitted  # rejects never enter

    # replay the last batch: output identical
    last_bid = max(r.batch_id for r in index.select("batch_id").distinct().collect())
    batch = spark.createDataFrame(rows1, "clip_id string, bytes binary")
    _admit_audio_batch(batch, int(last_bid), idx, out, "clip_id", "bytes", 7)
    after = {r.clip_id for r in spark.read.parquet(out).select("clip_id").collect()}
    assert after == admitted


def test_incremental_fingerprint_pairs_batch(spark, tmp_path):
    """Batch form: new-vs-corpus links come from stored fingerprints only,
    within-batch pairs included, corpus-vs-corpus pairs never produced."""
    import numpy as np

    from jsschema_spark.audio import (
        audio_fingerprint_scan,
        incremental_fingerprint_pairs,
        synth_pcm,
        wav_encode,
        write_fingerprint_index,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    sr = 16000

    def wav(cid, scale=1.0):
        pcm = synth_pcm(cid, sr, sr * 2)
        if scale != 1.0:
            pcm = np.clip(np.round(pcm.astype(np.float64) * scale), -32768, 32767).astype(np.int16)
        return wav_encode(pcm, sr)

    corpus_dir = tmp_path / "fp_corpus"
    corpus_dir.mkdir()
    # corpus contains an internal dup pair (c0, c1) — must NOT reappear
    rows = [("c0", wav("t0")), ("c1", wav("t0", 0.6)), ("c2", wav("t2"))]
    pq.write_table(
        pa.table({
            "clip_id": pa.array([c for c, _ in rows], pa.string()),
            "bytes": pa.array([b for _, b in rows], pa.binary()),
        }),
        str(corpus_dir / "p.parquet"),
    )
    idx = str(tmp_path / "fp_idx")
    write_fingerprint_index(audio_fingerprint_scan(spark, str(corpus_dir)), idx)
    index = spark.read.parquet(idx)
    assert set(index.columns) == {"clip_id", "fp"}

    new_rows = [("n0", wav("t2", 0.8)), ("n1", wav("t9")), ("n2", wav("t9", 0.5))]
    new_dir = tmp_path / "fp_new"
    new_dir.mkdir()
    pq.write_table(
        pa.table({
            "clip_id": pa.array([c for c, _ in new_rows], pa.string()),
            "bytes": pa.array([b for _, b in new_rows], pa.binary()),
        }),
        str(new_dir / "p.parquet"),
    )
    new_fp = audio_fingerprint_scan(spark, str(new_dir))
    got = {
        (r.clip_id_a, r.clip_id_b)
        for r in incremental_fingerprint_pairs(new_fp, index).collect()
    }
    assert got == {("c2", "n0"), ("n1", "n2")}


def test_interval_join_stream_static_parity(spark, tmp_path):
    """interval_join works unmodified with a STREAMING point side (the
    point side is stateless: one bucket projection + an equi-join against
    the static exploded interval table) and matches the batch result."""
    import datetime as dt

    from jsschema_spark.functions.events import interval_join

    t0 = dt.datetime(2026, 1, 1)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    pts = spark.createDataFrame(
        [(i, ts(i * 7)) for i in range(40)], "pid int, ts timestamp"
    )
    ivl = spark.createDataFrame(
        [(10, ts(0), ts(60)), (20, ts(45), ts(200)), (30, ts(250), ts(260))],
        "wid int, s timestamp, e timestamp",
    )
    src = str(tmp_path / "pts")
    out = str(tmp_path / "out")
    pts.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(pts.schema).parquet(src)
    q = (
        interval_join(stream, ivl, "ts", "s", "e", granularity_s=600)
        .select("pid", "wid")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.pid, r.wid) for r in spark.read.parquet(out).collect())
    want = sorted(
        (r.pid, r.wid)
        for r in interval_join(pts, ivl, "ts", "s", "e", granularity_s=600)
        .select("pid", "wid")
        .collect()
    )
    assert got == want and len(got) > 0


def test_streaming_volume_anomaly_sink(spark, tmp_path):
    """Streaming volume monitor: batch parity with rolling_count_anomaly,
    and replayed batches replace (not double-count) their contribution."""
    import datetime as dt

    from jsschema_spark.stats import rolling_count_anomaly
    from jsschema_spark.streaming import start_volume_anomaly_sink

    t0 = dt.datetime(2026, 3, 1, 12, 0, 0)
    rows = []
    counts = [8, 12, 9, 11, 10, 10, 10, 30]  # day 8 spikes
    for d, n in enumerate(counts):
        rows += [(t0 + dt.timedelta(days=d),)] * n
    src = str(tmp_path / "vol_src")
    spark.createDataFrame(rows, "ts timestamp").coalesce(1).write.parquet(src)

    counts_dir = str(tmp_path / "vol_counts")
    out_dir = str(tmp_path / "vol_out")
    stream = spark.readStream.schema("ts timestamp").parquet(src)
    q = start_volume_anomaly_sink(
        stream, "ts", counts_dir, out_dir, str(tmp_path / "vol_ckpt")
    )
    q.awaitTermination(120)

    got = {r["period_start"]: r for r in spark.read.parquet(out_dir).collect()}
    batch = {
        r["period_start"]: r
        for r in rolling_count_anomaly(
            spark.read.parquet(src), "ts", "day"
        ).collect()
    }
    assert len(got) == len(batch) == 8
    for k, b in batch.items():
        g = got[k]
        assert g["n"] == b["n"]
        assert (g["z"] is None) == (b["z"] is None)
        if b["z"] is not None:
            assert abs(g["z"] - b["z"]) < 1e-12
    spike_day = t0.replace(hour=0) + dt.timedelta(days=7)
    assert got[spike_day]["z"] > 3.0

    # replay idempotence: re-running batch 0's processor must REPLACE its
    # counts contribution, leaving totals and scores unchanged
    import jsschema_spark.streaming as STRM

    batch0 = spark.read.parquet(src)
    from jsschema_spark.stats import score_period_counts
    from pyspark.sql import functions as F

    c2 = (
        batch0.groupBy(F.date_trunc("day", F.col("ts")).alias("period_start"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c2.coalesce(1).write.mode("overwrite").parquet(f"{counts_dir}/batch_id=0")
    totals = (
        spark.read.parquet(counts_dir).groupBy("period_start").agg(F.sum("n").alias("n"))
    )
    rescored = {r["period_start"]: r for r in score_period_counts(totals).collect()}
    assert {k: v["n"] for k, v in rescored.items()} == {k: v["n"] for k, v in got.items()}


def test_streaming_transcode_sink(spark, tmp_path):
    """Archive transcode stream: WAV rows re-encode to FLAC losslessly
    (verified by re-decoding the archived bytes), opus/garbage rows land
    in quarantine with reasons, and per-file micro-batches keep their
    batch_id partitions."""
    import numpy as np
    import pandas as pd

    from jsschema_spark.audio import synth_pcm, wav_encode
    from jsschema_spark.flac import flac_decode
    from jsschema_spark.streaming import start_transcode_sink

    src = str(tmp_path / "tc_src")
    os.makedirs(src)
    pcm1 = synth_pcm("clip-000000000001", 16000, 4000).copy()
    pcm2 = synth_pcm("clip-000000000002", 8000, 2000).copy()
    pd.DataFrame(
        [("c1", "pcm_s16le", wav_encode(pcm1, 16000)),
         ("c2", "pcm_s16le", wav_encode(pcm2, 8000))],
        columns=["clip_id", "codec", "bytes"],
    ).to_parquet(os.path.join(src, "f0.parquet"))
    pd.DataFrame(
        [("c3", "opus", b"OggS" + bytes(40)),
         ("c4", "pcm_s16le", b"definitely not a wav"),
         ("c5", "flac", wav_encode(pcm1, 16000))],  # codec lies -> malformed
        columns=["clip_id", "codec", "bytes"],
    ).to_parquet(os.path.join(src, "f1.parquet"))

    stream = (
        spark.readStream.schema("clip_id string, codec string, bytes binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    arch = str(tmp_path / "tc_arch")
    quar = str(tmp_path / "tc_quar")
    q = start_transcode_sink(
        stream, arch, quar, str(tmp_path / "tc_ckpt")
    )
    q.awaitTermination(180)

    archived = {r.clip_id: r for r in spark.read.parquet(arch).collect()}
    assert set(archived) == {"c1", "c2"}
    for cid, pcm, sr in (("c1", pcm1, 16000), ("c2", pcm2, 8000)):
        row = archived[cid]
        assert row.codec == "flac" and row.orig_codec == "pcm_s16le"
        dsr, dec = flac_decode(bytes(row.bytes))
        assert dsr == sr and np.array_equal(dec, pcm)
        assert row.out_bytes == len(row.bytes) and row.orig_bytes == 44 + 2 * len(pcm)
    quarantined = {r.clip_id: r.reason for r in spark.read.parquet(quar).collect()}
    assert quarantined == {
        "c3": "unsupported_codec",
        "c4": "malformed_payload",
        "c5": "malformed_payload",
    }
    # batch partitions present (one per input file)
    assert {r.batch_id for r in spark.read.parquet(arch).select("batch_id").collect()} == {0}
    assert 1 in {r.batch_id for r in spark.read.parquet(quar).select("batch_id").collect()}
