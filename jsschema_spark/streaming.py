"""Structured Streaming validation.

The reference is batch-only and the north_rule asks for batch + resumable
manifest rather than streaming (SURVEY.md §2.5) — but the same compiled
predicate DAG applies unchanged to a streaming DataFrame, so the engine
exposes it: ``readStream`` source → ``TableValidator`` columns → per-batch
violation sink via ``foreachBatch``, written idempotently per batch
(``batch_id=``-partitioned overwrite) so at-least-once batch replays still
yield exactly-once file output.

Every ``start_*_sink`` runs through ``_start_batch_sink``: it processes
what is available now (``availableNow``) in micro-batches and stops, so a
scheduled re-run picks up from the checkpoint. Sinks that read their own
earlier output (the admission indexes) read it through
``_prior_batches``, which excludes the current batch's partition.

At scale: the predicate columns add no state and no shuffle to the stream;
watermark/windowed violation-rate aggregation is plain Spark on top of the
``valid`` column.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from jsschema_spark.compiler import TableValidator
from jsschema_spark.schema import SchemaNode


def _start_batch_sink(stream_df: DataFrame, process, checkpoint_dir: str) -> StreamingQuery:
    """Start ``process(batch_df, batch_id)`` over every micro-batch of what
    the source has now (``availableNow``), checkpointed in
    ``checkpoint_dir``."""
    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _prior_batches(spark, path: str, batch_id: int) -> Optional[DataFrame]:
    """What the earlier batches wrote under ``path`` (its ``batch_id=``
    partitions other than this batch's own, so a replay sees its first
    attempt's input), or None when nothing has been written yet."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path).where(F.col("batch_id") != batch_id)
    except AnalysisException:
        return None


def _keep_first_losers(pairs: DataFrame, batch_ids: DataFrame, a: str, b: str) -> DataFrame:
    """Batch ids a near-dup admission drops, as one ``__drop`` column:
    from a pair ``(a < b)`` with both ids in the batch the larger id
    loses (keep-first); from a batch-vs-corpus pair the batch side ``a``
    loses. ``batch_ids`` is a one-column frame of the batch's ids."""
    ids = batch_ids.toDF("__bid_key")
    in_batch_b = pairs.join(ids, pairs[b] == ids["__bid_key"], "left_semi").select(
        F.col(b).alias("__drop")
    )
    in_corpus_b = pairs.join(ids, pairs[b] == ids["__bid_key"], "left_anti").select(
        F.col(a).alias("__drop")
    )
    return in_batch_b.unionByName(in_corpus_b)


def validate_stream(stream_df: DataFrame, schema: SchemaNode, with_violations: bool = True) -> DataFrame:
    """Attach valid/violations columns to a streaming DataFrame (stateless)."""
    tv = TableValidator(schema, stream_df.schema)
    return tv.apply(stream_df, with_violations=with_violations)


def violation_rate_stream(
    stream_df: DataFrame, schema: SchemaNode, ts_col: str,
    window: str = "1 minute", watermark: str = "5 minutes",
) -> DataFrame:
    """Windowed violation-rate aggregation with late-data watermarking."""
    validated = validate_stream(stream_df, schema, with_violations=False)
    return (
        validated.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("valid")).cast("long")).alias("n_invalid"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_rows", "n_invalid",
        )
    )


def start_violation_sink(
    stream_df: DataFrame,
    schema: SchemaNode,
    output_dir: str,
    checkpoint_dir: str,
    id_cols: Optional[list[str]] = None,
) -> StreamingQuery:
    """foreachBatch sink: per micro-batch, write exploded violation detail
    rows as parquet.

    Effectively exactly-once: ``foreachBatch`` itself is at-least-once (a
    task/driver retry replays a batch after a partial write), so each batch
    writes to its own ``batch_id=<n>`` partition directory with
    ``mode("overwrite")`` — a replay overwrites the same directory instead
    of appending duplicates, making the sink idempotent per batch. Readers
    see ``batch_id`` as a normal partition column when reading
    ``output_dir``."""
    tv_holder: dict = {}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        tv = tv_holder.get("tv")
        if tv is None:
            tv = TableValidator(schema, batch_df.schema)
            tv_holder["tv"] = tv
        details = tv.violation_details(batch_df, id_cols=id_cols or [])
        # overwrite ONLY this batch's partition dir: idempotent on replay
        details.write.mode("overwrite").parquet(f"{output_dir}/batch_id={int(batch_id)}")

    return _start_batch_sink(stream_df, process, checkpoint_dir)


def drift_stream(
    stream_df: DataFrame,
    value_col: str,
    ts_col: str,
    reference_hist: "list[tuple[int, int]]",
    lo: float,
    hi: float,
    nbins: int = 32,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    eps: float = 1e-6,
) -> DataFrame:
    """Windowed distribution-drift monitoring on a stream: per event-time
    window, bucketize ``value_col`` into the same fixed-width bins as the
    (batch-computed) ``reference_hist`` — ``[(bucket, n), ...]`` from
    ``stats.histogram`` — and emit one PSI value per window against it.

    ONE stateful operator (watermark bounds its state): bucketize is
    arithmetic (codegen), and the window agg computes all ``nbins``
    per-bin counts as conditional sums in a single map-side-combined
    aggregation — no second stateful agg (Spark's global-watermark
    correctness check rejects chained stateful operators), no pivot, no
    join, no per-row Python (the reference ships as literals; it is
    nbins numbers, not data)."""
    if hi <= lo or nbins <= 0:
        raise ValueError("need hi > lo and nbins > 0")
    ref_n = [0] * nbins
    for b, n in reference_hist:
        if not (0 <= int(b) < nbins):
            raise ValueError(f"reference bucket {b} outside [0, {nbins})")
        ref_n[int(b)] = int(n)
    ref_total = sum(ref_n) or 1
    ref_p = [max(n / ref_total, eps) for n in ref_n]

    w = (hi - lo) / nbins
    bucket = F.least(
        F.greatest(F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(nbins - 1),
    ).cast("int")
    per_win = (
        stream_df.where(F.col(value_col).isNotNull())
        .withColumn("__bucket", bucket)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum((F.col("__bucket") == b).cast("long")).alias(f"__n{b}")
                for b in range(nbins)
            ],
        )
    )
    cur_p = [
        F.greatest(F.col(f"__n{b}") / F.col("n_rows"), F.lit(eps))
        for b in range(nbins)
    ]
    psi = None
    for b in range(nbins):
        term = (cur_p[b] - F.lit(ref_p[b])) * F.log(cur_p[b] / F.lit(ref_p[b]))
        psi = term if psi is None else psi + term
    return per_win.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("n_rows").cast("long").alias("n_rows"),
        psi.alias("psi"),
    )


def session_stream(
    stream_df: DataFrame,
    user_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming gap sessionization via Spark's NATIVE session windows
    (``F.session_window`` — dynamic-gap merging state, closed by the
    watermark): per (user, session) event counts, bounds and duration.
    The streaming sibling of ``functions/events.session_stats`` — same
    gap semantics (a quiet period strictly longer than ``gap`` splits),
    but sessions emit incrementally as the watermark passes them instead
    of after a full-corpus sort.

    ONE stateful operator; state is per OPEN session (merged eagerly),
    bounded by the watermark — not by history length."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            F.timestamp_diff(
                "MICROSECOND", F.col("w.start"), F.col("w.end")
            ).alias("window_us"),
        )
    )


def start_dedup_admission_sink(
    stream_df: DataFrame,
    index_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    min_quality: float = 0.0,
    redact: bool = False,
) -> StreamingQuery:
    """Streaming corpus admission with exact dedup against a persisted
    fingerprint index: per micro-batch, drop rows whose content fingerprint
    already exists in the index (or repeats within the batch, keep-first),
    write the survivors to ``admitted_dir``, and admit their fingerprints
    into the index — so later batches dedup against everything admitted
    before them.

    ``redact=True`` scrubs PII (``text.redact_pii``) from the ADMITTED
    text only: fingerprints are always taken from the ORIGINAL text
    (before and after this batch), so cross-batch dedup semantics are
    unchanged and two docs differing only in their PII never silently
    merge. The near-dup sink deliberately has no such switch — its
    verification step Jaccard-compares new text against the STORED
    corpus text, which must therefore stay unredacted.

    Replay-idempotent without transactions: both the admitted rows and the
    index contribution are written to per-batch ``batch_id=<n>`` partition
    directories with ``mode("overwrite")``, and the index read EXCLUDES the
    current batch's own partition — a replayed batch therefore sees exactly
    the index state of its first attempt (its own half-written contribution
    can never mask its rows) and overwrites both outputs deterministically.

    Scale shape per batch: one fingerprint projection of the batch, one
    anti-join against the index (AQE broadcast/shuffle by size), one
    ``min_by`` keep-first aggregate — shuffle width = #distinct new
    fingerprints. The index holds one ~16-byte row per distinct corpus
    document. ``min_quality > 0`` applies the composite quality gate
    (``text.quality_score``, a stateless codegen predicate) before
    dedup — rejected rows are never admitted and never enter the
    index."""
    from jsschema_spark.functions.dedup import incremental_exact_dedup
    from jsschema_spark.functions.text import content_fingerprint

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if min_quality > 0.0:
            from jsschema_spark.functions.text import quality_score

            batch_df = batch_df.where(
                F.col(text_col).isNotNull()
                & (quality_score(F.col(text_col)) >= min_quality)
            )
        index = _prior_batches(spark, index_dir, int(batch_id))
        if index is None:
            from jsschema_spark.localdf import local_df

            index = local_df(spark, [], "fingerprint long, doc_id long")
        kept = incremental_exact_dedup(batch_df, index, id_col, text_col)
        # two consumers (admitted rows + index fingerprints) — materialize
        # the dedup result once; the index MUST fingerprint original text,
        # so compute fingerprints before any redaction projection
        kept = kept.localCheckpoint(eager=False)
        admitted = kept
        if redact:
            from jsschema_spark.functions.text import redact_pii

            admitted = kept.withColumn(text_col, redact_pii(F.col(text_col)))
        admitted.write.mode("overwrite").parquet(
            f"{admitted_dir}/batch_id={int(batch_id)}"
        )
        (
            kept.select(
                content_fingerprint(F.col(text_col)).alias("fingerprint"),
                F.col(id_col).alias("doc_id"),
            )
            .write.mode("overwrite")
            .parquet(f"{index_dir}/batch_id={int(batch_id)}")
        )

    return _start_batch_sink(stream_df, process, checkpoint_dir)


def start_near_dup_admission_sink(
    stream_df: DataFrame,
    index_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
) -> StreamingQuery:
    """Streaming NEAR-dup admission: per micro-batch, drop rows whose
    true n-gram Jaccard against any previously admitted doc (via the
    persisted minhash signature index) or any earlier-kept row of the same
    batch reaches ``threshold``, keep-first within a tie chain; admitted
    rows land in ``admitted_dir`` and their signatures join the index.

    The corpus is NEVER re-signatured: each batch pays one signature pass
    over its own rows plus a band equi-join against the stored signatures
    (see ``incremental_minhash_pairs``). Verification needs candidate
    TEXT, which the admitted output itself provides — so the sink is
    self-contained: index = signatures, corpus text = ``admitted_dir``.

    Same replay-idempotency contract as ``start_dedup_admission_sink``:
    both outputs are ``batch_id=``-partitioned overwrites and reads
    exclude the current batch's own partitions."""
    from jsschema_spark.functions.dedup import (
        incremental_near_duplicates_minhash,
        minhash_signatures,
    )
    from jsschema_spark.localdf import local_df

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bid = int(batch_id)
        batch = batch_df.select(F.col(id_col), F.col(text_col))
        # before the first admission there is no index: an empty one
        # gives exactly the batch's own near-dup pairs
        index = _prior_batches(spark, index_dir, bid)
        if index is None:
            index = local_df(spark, [], "doc_id long, sig array<long>")
        corpus = _prior_batches(spark, admitted_dir, bid)
        corpus = batch.limit(0) if corpus is None else corpus.select(id_col, text_col)
        dup_pairs = incremental_near_duplicates_minhash(
            batch, corpus, index, id_col, text_col, num_hashes, bands,
            threshold=threshold,
        )
        # a batch row is dropped if it near-dups ANY admitted doc, or a
        # SMALLER-id row of its own batch (keep-first)
        losers = _keep_first_losers(
            dup_pairs, batch.select(id_col), "id_a", "id_b"
        ).distinct()
        kept = batch_df.join(losers, batch_df[id_col] == losers["__drop"], "left_anti")
        kept.write.mode("overwrite").parquet(f"{admitted_dir}/batch_id={bid}")
        minhash_signatures(kept, id_col, text_col, num_hashes).write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/batch_id={bid}")

    return _start_batch_sink(stream_df, process, checkpoint_dir)


def _admit_embedding_batch(
    batch_df: DataFrame, bid: int, index_dir: str, admitted_dir: str,
    id_col: str, vec_col: str, threshold: float,
    dim: int, n_planes: int, seed: int,
) -> None:
    """One micro-batch of the embedding admission sink (module-level so a
    replayed batch can be reproduced outside the stream — the same reason
    the text sinks' logic lives in dedup.incremental_* helpers)."""
    from pyspark.errors import AnalysisException

    from jsschema_spark.functions.dedup import cosine
    from jsschema_spark.functions.linalg import hyperplane_bucket_v, hyperplanes
    from jsschema_spark.functions.similarity import _multi_probe

    spark = batch_df.sparkSession
    try:
        meta = spark.read.parquet(f"{index_dir}/_meta").collect()[0]
        p_dim, p_planes, p_seed = meta["dim"], meta["n_planes"], meta["seed"]
    except AnalysisException:
        p_dim, p_planes, p_seed = dim, n_planes, seed
        from jsschema_spark.localdf import local_df

        local_df(
            spark, [(p_dim, p_planes, p_seed)], "dim int, n_planes int, seed int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/_meta")
    planes = hyperplanes(p_dim, p_planes, p_seed)

    bucket = F.coalesce(
        hyperplane_bucket_v(F.col(vec_col), planes), F.lit(-1).cast("long")
    )
    bb = batch_df.select(
        F.col(id_col), F.col(vec_col), bucket.alias("bucket")
    ).localCheckpoint(eager=False)
    probed = bb.select(
        F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qv"),
        F.explode(_multi_probe(F.col("bucket"), p_planes)).alias("bucket"),
    )

    corpus = _prior_batches(spark, index_dir, bid)
    losers = None
    if corpus is not None and corpus.limit(1).count() > 0:
        corpus = corpus.select("vec_id", F.col("embedding").alias("__cv"), "bucket")
        # static partition pruning: read only the probed bucket dirs
        probe = sorted(
            {r["bucket"] for r in probed.select("bucket").distinct().collect()}
        )
        cand = corpus.where(F.col("bucket").isin(probe)).join(probed, "bucket")
        losers = (
            cand.where(cosine(F.col("__cv"), F.col("__qv")) >= threshold)
            .select(F.col("__qid").alias("loser"))
        )
    # within-batch keep-first: the multi-probed side vs the base-bucket
    # side, smaller id wins its pair
    b = bb.select(
        F.col(id_col).alias("__bid2"), F.col(vec_col).alias("__bv"), "bucket"
    )
    in_batch = (
        probed.join(b, "bucket")
        .where(F.col("__qid") < F.col("__bid2"))
        .where(cosine(F.col("__qv"), F.col("__bv")) >= threshold)
        .select(F.col("__bid2").alias("loser"))
    )
    losers = in_batch if losers is None else losers.unionByName(in_batch)
    losers = losers.distinct()

    kept = batch_df.join(losers, batch_df[id_col] == losers["loser"], "left_anti")
    kept.write.mode("overwrite").parquet(f"{admitted_dir}/batch_id={bid}")
    (
        kept.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            bucket.alias("bucket"),
        )
        .repartition("bucket")  # one file per touched bucket, not task×bucket
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/batch_id={bid}")
    )


def start_embedding_admission_sink(
    stream_df: DataFrame,
    index_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
) -> StreamingQuery:
    """Streaming VECTOR admission: per micro-batch, drop rows whose cosine
    against any previously admitted embedding (probed via the persisted
    hyperplane-LSH index) or any LOWER-id row of the same batch — kept or
    not — reaches ``threshold``. Within-batch rejection is link-based,
    not chain-based (a near-dup link to ANY earlier batch member
    disqualifies, even one itself rejected): order-stable and one-pass,
    no per-batch connected components; admitted rows land in ``admitted_dir`` and
    their ``(vec_id, embedding, bucket)`` rows extend the index. The
    vector sibling of ``start_near_dup_admission_sink``.

    Index layout: ``batch_id=<n>/bucket=<b>`` partition directories plus a
    ``_meta`` sidecar pinning ``(dim, n_planes, seed)`` — restarts reuse
    the STORED plane parameters, so a caller changing the args mid-stream
    cannot silently split the index across incompatible plane sets.
    Replay-idempotency contract as the text sinks: both outputs are
    ``batch_id=``-partitioned overwrites and all reads exclude the current
    batch's own partitions.

    Scale shape per batch: ONE Arrow-batched matmul buckets the batch
    (lazily checkpointed — probes, the self-join and the index write all
    reuse it); the admitted corpus is never re-bucketed. Corpus probing is
    a bucket equi-join against only the probed bucket partitions (static
    partition pruning via the collected probe set — bounded by
    |batch|·(n_planes+1) ints); within-batch checking is a base-bucket
    self-join with multi-probe on one side. Null vectors bucket to -1,
    match nothing, and are admitted as-is (nothing to compare)."""
    def process(batch_df: DataFrame, batch_id: int) -> None:
        _admit_embedding_batch(
            batch_df, int(batch_id), index_dir, admitted_dir,
            id_col, vec_col, threshold, dim, n_planes, seed,
        )

    return _start_batch_sink(stream_df, process, checkpoint_dir)


def _admit_audio_batch(
    batch_df: DataFrame, bid: int, index_dir: str, admitted_dir: str,
    clip_id_col: str, bytes_col: str, max_hamming: int,
) -> None:
    """One micro-batch of the audio admission sink (module-level so a
    replayed batch is reproducible outside the stream)."""
    from jsschema_spark.audio import audio_fingerprint_udf
    from jsschema_spark.functions.dedup import incremental_hamming_pairs

    fps = batch_df.select(
        F.col(clip_id_col),
        audio_fingerprint_udf(F.col(clip_id_col), F.col(bytes_col)).alias("__f"),
    ).select(
        clip_id_col,
        F.col("__f.fp").alias("fp"),
        F.col("__f.decode_ok").alias("decode_ok"),
    )
    # three consumers (pairs, rejects, index write) — fingerprint once
    fps = fps.localCheckpoint(eager=False)
    undecodable = fps.where(~F.col("decode_ok")).select(
        F.col(clip_id_col).alias("__drop")
    )
    batch_fp = fps.where(F.col("decode_ok")).select(clip_id_col, "fp")
    # before the first admission there is no index: an empty one gives
    # exactly the batch's own near-dup pairs
    index = _prior_batches(batch_df.sparkSession, index_dir, bid)
    pairs = incremental_hamming_pairs(
        batch_fp,
        batch_fp.limit(0) if index is None else index.select(clip_id_col, "fp"),
        clip_id_col, "fp", max_hamming=max_hamming,
    )
    losers = (
        _keep_first_losers(
            pairs, batch_fp.select(clip_id_col), f"{clip_id_col}_a", f"{clip_id_col}_b"
        )
        .unionByName(undecodable)
        .distinct()
    )
    kept = batch_df.join(
        losers, batch_df[clip_id_col] == losers["__drop"], "left_anti"
    )
    kept.write.mode("overwrite").parquet(f"{admitted_dir}/batch_id={bid}")
    (
        batch_fp.join(
            losers, batch_fp[clip_id_col] == losers["__drop"], "left_anti"
        )
        .select(clip_id_col, "fp")
        .write.mode("overwrite")
        .parquet(f"{index_dir}/batch_id={bid}")
    )


def start_audio_admission_sink(
    stream_df: DataFrame,
    index_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    clip_id_col: str = "clip_id",
    bytes_col: str = "bytes",
    max_hamming: int = 7,
) -> StreamingQuery:
    """Streaming AUDIO admission: per micro-batch, fingerprint the clips
    (gain-invariant band-energy sketch, ``audio.band_energy_fingerprint``)
    and drop ones whose fingerprint lands within ``max_hamming`` of any
    previously admitted clip (persisted ``(clip_id, fp)`` index) or of any
    LOWER-id clip of the same batch — kept or not. Within-batch rejection
    is link-based, not chain-based: in a similarity chain A<B<C with A~B,
    B~C, A!~C, both B and C are rejected (C via its link to the already-
    rejected B). This is deliberate: a near-dup link to ANY earlier batch
    member disqualifies, which keeps the rule order-stable and one-pass
    (no per-batch connected components); clips
    that fail WAV decode are rejected outright and never enter the index.
    The audio sibling of ``start_near_dup_admission_sink``: the corpus is
    never re-decoded — stored 8-byte fingerprints are chunk-exploded with
    codegen bit ops (``dedup.incremental_hamming_pairs``).

    Replay-idempotency contract as the text sinks: admitted rows and
    index contribution are ``batch_id=``-partitioned overwrites and all
    reads exclude the current batch's own partitions."""
    def process(batch_df: DataFrame, batch_id: int) -> None:
        _admit_audio_batch(
            batch_df, int(batch_id), index_dir, admitted_dir,
            clip_id_col, bytes_col, max_hamming,
        )

    return _start_batch_sink(stream_df, process, checkpoint_dir)


def start_contract_drift_sink(
    stream_df: DataFrame,
    reference_report_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    enum_max: int = 8,
) -> StreamingQuery:
    """Streaming CONTRACT monitoring: per micro-batch, profile the batch
    with the schema inferrer (``infer.schema_report``) and diff it against
    a PINNED reference profile (a ``schema_report`` written to parquet by
    an offline profiling run) — every added/removed/changed constraint
    lands as a drift row in ``out_dir``. The streaming composition of
    inference + ``contract_drift``: "did this delivery stop matching the
    contract we pinned?" without writing a single validation schema by
    hand.

    An empty drift batch still writes its (empty) ``batch_id=`` partition
    — absence of the directory would be indistinguishable from a batch
    that never ran. Same idempotent ``batch_id=``-partitioned overwrite
    contract as the other sinks. Per batch: one agg pass over the batch +
    an enum pass over near-categorical columns, then a driver-scale
    diff join."""
    from jsschema_spark.infer import contract_drift, schema_report

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        reference = spark.read.parquet(reference_report_dir)
        drift = contract_drift(reference, schema_report(batch_df, enum_max))
        drift.write.mode("overwrite").parquet(f"{out_dir}/batch_id={int(batch_id)}")

    return _start_batch_sink(stream_df, process, checkpoint_dir)


def violation_streaks(
    stream_df: DataFrame,
    schema: SchemaNode,
    key_col: str,
    order_col: str,
    threshold: int = 3,
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-key consecutive-violation streaks across micro-batches.

    Emits one row per key per batch: current streak, the max streak ever,
    cumulative rows/invalids, and whether the max streak has reached
    ``threshold`` — the alerting primitive for "this upstream source has
    been producing bad clips for N records in a row".

    State per key is four longs (constant size — no row buffering): the
    carry-in streak plus counters; rows inside a batch are ordered by
    ``order_col``, and the streak arithmetic is numpy-vectorized over the
    batch (run-length via positions of valid rows), not a per-row Python
    loop. At 10^12 rows the state store holds O(#keys) tiny records and
    the shuffle is the groupBy(key) the semantics require.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    validated = validate_stream(stream_df, schema, with_violations=False).select(
        F.col(key_col).cast("string").alias("key"), F.col(order_col).alias("__ord"), "valid"
    )
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("streak", T.LongType()),
            T.StructField("max_streak", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_invalid", T.LongType()),
            T.StructField("alert", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("streak", T.LongType()),
            T.StructField("max_streak", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_invalid", T.LongType()),
        ]
    )

    def track(key, pdfs, state):
        streak, mx, n, ninv = state.get if state.exists else (0, 0, 0, 0)
        # a key's batch may arrive as several Arrow chunks with no global
        # order — concatenate before the single sort (state itself stays
        # constant-size; this buffers one key's batch rows only)
        frames = [p for p in pdfs if len(p)]
        for pdf in ([pd.concat(frames).sort_values("__ord")] if frames else []):
            valid = pdf["valid"].to_numpy(dtype=bool)
            n += len(valid)
            ninv += int((~valid).sum())
            ok_idx = np.flatnonzero(valid)
            if len(ok_idx) == 0:
                streak += len(valid)
                mx = max(mx, streak)
            else:
                # carry-in run ends at the first valid row
                mx = max(mx, streak + int(ok_idx[0]))
                if len(ok_idx) > 1:
                    gaps = np.diff(ok_idx) - 1
                    if len(gaps):
                        mx = max(mx, int(gaps.max()))
                streak = int(len(valid) - ok_idx[-1] - 1)
                mx = max(mx, streak)
        state.update((int(streak), int(mx), int(n), int(ninv)))
        yield pd.DataFrame(
            [
                {
                    "key": key[0], "streak": int(streak), "max_streak": int(mx),
                    "n_rows": int(n), "n_invalid": int(ninv),
                    "alert": bool(mx >= threshold),
                }
            ]
        )

    return validated.groupBy("key").applyInPandasWithState(
        track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def start_volume_anomaly_sink(
    stream_df: DataFrame,
    ts_col: str,
    counts_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    period: str = "day",
    trailing: int = 7,
    min_history: int = 3,
) -> StreamingQuery:
    """Streaming ingest-VOLUME monitoring: per micro-batch, (1) write the
    batch's per-period row counts to ``counts_dir/batch_id=N`` (overwrite
    — a replayed batch REPLACES its own contribution instead of
    double-counting, the same idempotence contract as every other sink
    here), (2) merge all batches' counts into per-period totals, and
    (3) score every period with ``stats.score_period_counts`` (trailing-k
    mean/std z-score, cold-start nulls) into ``out_dir/batch_id=N`` — the
    full re-scored report per batch, because a new batch's counts can
    change EARLIER periods' trailing stats downstream of a late delivery.

    Scale shape per batch: one map-side-combined per-period count over
    the batch, one #periods-wide merge of the state dir (batch files are
    period-count sized, not data sized), and a window over #period rows.
    The state dir grows one tiny file set per batch; compact it offline
    if batch count gets large."""
    from jsschema_spark.stats import score_period_counts

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = (
            batch_df.where(F.col(ts_col).isNotNull())
            .groupBy(F.date_trunc(period, F.col(ts_col)).alias("period_start"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        counts.coalesce(1).write.mode("overwrite").parquet(
            f"{counts_dir}/batch_id={int(batch_id)}"
        )
        totals = (
            spark.read.parquet(counts_dir)
            .groupBy("period_start")
            .agg(F.sum("n").alias("n"))
        )
        report = score_period_counts(totals, trailing, min_history)
        report.coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={int(batch_id)}"
        )

    return _start_batch_sink(stream_df, process, checkpoint_dir)


def start_transcode_sink(
    stream_df: DataFrame,
    archived_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    id_col: str = "clip_id",
    codec_col: str = "codec",
    bytes_col: str = "bytes",
    target_codec: str = "flac",
) -> StreamingQuery:
    """Streaming ARCHIVE transcode: per micro-batch, re-encode each clip's
    payload into ``target_codec`` through the lossless PCM interchange
    (``audio.transcode_payload`` — WAV↔FLAC; the codec-metadata checks
    and the invariant scan all read FLAC natively, so archived rows stay
    first-class). Rows whose payload will not decode, or whose codec this
    build cannot handle (opus), land in ``quarantine_dir`` with a
    ``reason`` column instead of being dropped or crashing the stream —
    the same quarantine contract as the admission sinks.

    Output rows: ``(id, codec='<target>', bytes, orig_codec, orig_bytes,
    out_bytes)`` — the size pair makes per-batch compression ratio a
    plain aggregation over the archived output, no payload re-read.

    Idempotency: both outputs are ``batch_id=``-partitioned
    ``mode("overwrite")`` writes (foreachBatch is at-least-once; a replay
    overwrites its own partition instead of appending duplicates).

    Scale shape per batch: ONE iterator-pandas_udf stage does
    decode→re-encode per clip (Arrow-batched, CPU-bound, constant work
    per sample); the split into archived/quarantined is a codegen filter
    on the already-computed struct; no joins, no shuffles beyond the
    partitioned writes."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("bytes", T.BinaryType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("reason", T.StringType()),
        ]
    )

    @F.pandas_udf(out_schema)
    def _transcode(
        it: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        from jsschema_spark.audio import transcode_payload

        for codecs, payloads in it:
            outs, oks, reasons = [], [], []
            for codec, payload in zip(codecs, payloads):
                try:
                    outs.append(transcode_payload(codec, target_codec, payload))
                    oks.append(True)
                    reasons.append(None)
                except NotImplementedError:
                    outs.append(None)
                    oks.append(False)
                    reasons.append("unsupported_codec")
                except (ValueError, TypeError):
                    outs.append(None)
                    oks.append(False)
                    reasons.append("malformed_payload")
            yield pd.DataFrame({"bytes": outs, "ok": oks, "reason": reasons})

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        enc = batch_df.select(
            F.col(id_col),
            F.col(codec_col).alias("orig_codec"),
            F.length(bytes_col).cast("long").alias("orig_bytes"),
            _transcode(F.col(codec_col), F.col(bytes_col)).alias("__t"),
        )
        # The CPU-bound decode->re-encode UDF feeds BOTH writes below;
        # without a persist each write re-executes it over the whole
        # micro-batch, doubling per-batch transcode cost. Only the original
        # payload's length is cached, not the payload itself.
        enc = enc.persist()
        try:
            archived = enc.where(F.col("__t.ok")).select(
                F.col(id_col),
                F.lit(target_codec).alias("codec"),
                F.col("__t.bytes").alias("bytes"),
                "orig_codec",
                "orig_bytes",
                F.length("__t.bytes").cast("long").alias("out_bytes"),
            )
            quarantined = enc.where(~F.col("__t.ok")).select(
                F.col(id_col), "orig_codec",
                F.col("__t.reason").alias("reason"),
                "orig_bytes",
            )
            archived.write.mode("overwrite").parquet(
                f"{archived_dir}/batch_id={bid}"
            )
            quarantined.write.mode("overwrite").parquet(
                f"{quarantine_dir}/batch_id={bid}"
            )
        finally:
            enc.unpersist()

    return _start_batch_sink(stream_df, process, checkpoint_dir)
