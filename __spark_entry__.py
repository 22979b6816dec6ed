"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an engine operator from SURVEY.md §2 / the
training-data operator set, run over the driver's parquet tables; each
``oracle_sql()`` entry is the equivalent ANSI SQL for DuckDB. Column names
and types are aligned on both sides (aggregates cast to BIGINT, doubles
rounded) so the driver's order-insensitive value-hash comparison holds.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SF_DEFAULT = "/root/testdata/sf0.001"
CORPUS = "/root/reference/test"

CONFORMANCE_SUITES = [
    "allof", "anyof", "array", "arraylength", "arraytuple",
    "arraytuple_disallow_additional", "arrayunique", "boolean", "business",
    "integer", "not", "null", "numrange", "numrange_exclmax",
    "objectpatterns", "objectpropdepend", "objectpropsize",
    "objectproprequired", "oneof", "strlen", "strpattern",
]


# Spread cap for single-file tables (MB). The small-SF test tables are ONE
# parquet file with ONE row group, so Spark's byte-range splits all map to
# the single row-group midpoint: every codegen stage fused into the scan
# (shingling, hashing, regex scoring ...) runs on ONE core while the rest
# idle (measured at sf1.0/local[32]: minhash signatures 40.4s serial vs
# 11.7s spread, lang_id 8.9s vs 1.0s). Files above the cap get real
# multi-row-group/multi-file splitting from the scanner itself (lineitem
# sf1.0: 6 row groups) and a repartition would just shuffle payload
# (measured ~3s for 131MB), so they are left to natural splitting — which
# is also why this is scale-safe: a production many-file table never takes
# this branch.
_SPREAD_CAP_BYTES = int(os.environ.get("SPARK_GRAFT_SPREAD_CAP_MB", "64")) << 20


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read a driver table, spreading a small single-file scan of the
    documents table, or of any table with ``spread=True``.

    The documents table is spread because its queries do heavy per-row
    text work (measured wins up to 30s/query at sf1.0) while the
    repartition of 5.9MB costs ~0.1s. The other tables' query mix is
    dominated by plain map-side-combined aggregates, where the extra
    exchange is a pure ~0.3-0.8s tax per query (measured:
    uniqueness_events_user 0.84s unspread vs 1.49s spread) — those stay
    on the natural scan and heavy exceptions opt in with
    ``spread=True`` (e.g. json_key_profile_events: 4.0s -> 1.3s)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if (
        (spread or name == "documents")
        and os.path.isfile(path)
        and os.path.getsize(path) <= _SPREAD_CAP_BYTES
        and spark.sparkContext.defaultParallelism > 2
    ):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _docs_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id, text), spread AND materialized (localCheckpoint).

    The checkpoint is a predicate-pushdown barrier: the dedup/curation
    pipelines filter on expensive derived expressions (quality score,
    shingle arrays), and PushDownPredicates would otherwise sink those —
    interpreted, one evaluation per plan branch — through the spread
    exchange into the 1-row-group scan stage (event-log measured: 5.5s
    CPU on 2 tasks inside curated_documents). Materializing once also
    collapses the 4-6 scans these multi-branch pipelines take over the
    same file. NOT memoized: every query invocation pays the scan +
    checkpoint itself. At production scale _t doesn't spread (multi-file
    scans are already wide) and scan-side filtering stays preferable —
    this helper is the single-file-small-SF counterpart."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )


_CLIP_ID = "clip-%012d"


def _synth_clips(
    spark: SparkSession, sf_dir: str, params: list, synth, rows_fn, schema
) -> DataFrame:
    """The clip-synth scan behind the in-Spark ``*_clips`` audio queries:
    ``doc_id`` from the documents table, projected with ``clip_id``
    (``_CLIP_ID``) and the query's ``params`` (Columns over ``doc_id``),
    then ONE Arrow-batched pandas stage that calls
    ``synth(doc_id, *params)`` per row and yields ``rows_fn(pdf, outs)``
    per batch — ``pdf`` the batch's ``(clip_id, doc_id, *params)`` frame,
    ``outs`` its synth results — as a frame matching ``schema``.

    The 8-byte doc_id projection is repartitioned to defaultParallelism
    before the Python stage: the documents table at small SF is ONE
    parquet file → one scan partition, so the CPU-bound per-clip stage
    (synth/encode/decode) would run on ONE core while 31 idle (measured:
    flac_invariant_clips 27s/run serial vs 4.3s on a 32-way input).
    Spreading the bare doc_id costs one negligible shuffle (narrower than
    ``_t``'s whole-row spread) and restores the parallelism a many-file
    100-TB table gets for free."""
    i = F.col("doc_id")
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select(i)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.format_string(_CLIP_ID, i).alias("clip_id"), i, *params)
    )

    def gen(batches):
        for pdf in batches:
            args = zip(*(pdf[c] for c in pdf.columns[1:]))
            yield rows_fn(pdf, [synth(*a) for a in args])

    return docs.mapInPandas(gen, schema)


def _tuples(pdf, outs):
    """``rows_fn`` for a synth that returns the output row itself (a tuple
    in ``schema`` order, or one value): the frame's columns are unnamed,
    so Spark assigns them to ``schema`` by position."""
    import pandas as pd

    return pd.DataFrame(outs)


# --------------------------------------------------------------------------
# schemas used by the validation queries

LINEITEM_SCHEMA = {
    "type": "object",
    "required": ["l_orderkey", "l_quantity"],
    "properties": {
        "l_quantity": {"type": "number", "minimum": 1, "maximum": 50},
        "l_discount": {"minimum": 0, "maximum": 0.08},
        "l_tax": {"maximum": 0.07},
        "l_returnflag": {"enum": ["A", "N", "R"]},
        "l_linestatus": {"pattern": "^[OF]$"},
    },
}

ORDERS_SCHEMA = {
    "type": "object",
    "properties": {
        "o_orderstatus": {"enum": ["O", "F"]},
        "o_totalprice": {"maximum": 400000, "exclusiveMaximum": True},
        "o_orderpriority": {"pattern": "^[1-3]-"},
    },
}

PROPS_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 80}},
}


# --------------------------------------------------------------------------
# query implementations

def q_validate_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark import parse_schema
    from jsschema_spark.compiler import TableValidator

    df = _t(spark, sf_dir, "lineitem")
    tv = TableValidator(parse_schema(LINEITEM_SCHEMA), df.schema)
    return tv.summary(df).select(
        "path", "keyword",
        F.col("n_violations").cast("long").alias("n_violations"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


def q_invalid_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark import parse_schema
    from jsschema_spark.compiler import TableValidator

    df = _t(spark, sf_dir, "orders")
    tv = TableValidator(parse_schema(ORDERS_SCHEMA), df.schema)
    applied = tv.apply(df, with_violations=True)
    return applied.where(~F.col("valid")).select(
        "o_orderkey",
        F.size("violations").cast("long").alias("n_viol"),
        F.array_join(
            F.array_sort(F.transform("violations", lambda v: v["keyword"])), ","
        ).alias("keywords"),
    )


def q_customer_acctbal_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment numeric range check through the shipped
    ``stats.grouped_range_check`` operator (one map-side-combined hash
    aggregate; shuffle width = #segments)."""
    from jsschema_spark.stats import grouped_range_check

    df = _t(spark, sf_dir, "customer")
    out = grouped_range_check(df, ["c_mktsegment"], "c_acctbal", min_allowed=0.0)
    return out.select(
        "c_mktsegment", "n_rows",
        F.col("n_below").alias("n_below_zero"),
        F.round("min_val", 2).alias("min_bal"),
        F.round("max_val", 2).alias("max_bal"),
    )


def q_uniqueness_events_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark.checks import duplicate_keys

    df = _t(spark, sf_dir, "events")
    return duplicate_keys(df, ["user_id"], salt_buckets=8).select(
        "user_id", F.col("n_rows").cast("long").alias("n_rows")
    )


def q_referential_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark.checks import referential_violations

    orders = _t(spark, sf_dir, "orders")
    dim = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000)
    return referential_violations(orders, dim, {"o_custkey": "c_custkey"}).select("o_orderkey")


def q_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark.stats import column_stats

    df = _t(spark, sf_dir, "lineitem")
    # exact percentiles only on the low-cardinality columns (exact
    # percentile cost scales with distinct values; the production path is
    # the cardinality-independent percentile_approx sketch)
    out = column_stats(
        df, ["l_quantity", "l_discount", "l_extendedprice"], exact_distinct=True,
        percentile_cols=["l_quantity", "l_discount"],
    )
    return out.select(
        "column",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round("min_num", 4).alias("min_num"),
        F.round("max_num", 4).alias("max_num"),
        F.round("mean", 4).alias("mean"),
        F.round("p50", 4).alias("p50"),
    )


def q_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-frequency drift (top-K + __OTHER__ rollup): l_returnflag
    distribution, full table vs the high-quantity slice. top_k=2 forces a
    real __OTHER__ row out of the 3 flags."""
    from jsschema_spark.stats import categorical_drift

    base = _t(spark, sf_dir, "lineitem")
    cur = base.where(F.col("l_quantity") > 25)
    out = categorical_drift(base, cur, "l_returnflag", top_k=2)
    return out.select(
        "category",
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("p_base", 6).alias("p_base_r"),
        F.round("p_cur", 6).alias("p_cur_r"),
        F.round("psi_term", 6).alias("psi_term_r"),
    )


def q_histogram_l_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark.stats import histogram

    df = _t(spark, sf_dir, "lineitem")
    return histogram(df, "l_quantity", 1.0, 51.0, nbins=10).select(
        F.col("bucket").cast("long").alias("bucket"), F.col("n").cast("long").alias("n")
    )


def q_token_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark.functions.text import token_count

    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))


def q_text_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark.functions import text as X

    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        X.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.round(X.alpha_ratio(F.col("text")), 4).alias("alpha_ratio"),
        F.round(X.digit_ratio(F.col("text")), 4).alias("digit_ratio"),
        F.round(X.mean_word_length(F.col("text")), 4).alias("mean_word_len"),
    )


def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary building: top-50 whitespace tokens by count
    (explode → map-side-combined hash agg → deterministic top-k)."""
    from jsschema_spark.functions.text import top_tokens

    df = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return top_tokens(df, "text", k=50).select(
        "token", F.col("n").cast("long").alias("n")
    )


def q_ngram_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 trigram document frequencies (boilerplate detection signal;
    shingles are distinct per doc, so count == document frequency)."""
    from jsschema_spark.functions.text import ngram_doc_freq

    df = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return ngram_doc_freq(df, "text", n=3, k=25).select(
        "ngram", F.col("n_docs").cast("long").alias("n_docs")
    )


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = base.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return base.unionByName(injected)


def q_lang_confusion_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-content consistency: the confusion matrix between the
    documents table's CLAIMED lang column and the content-inferred
    ``text.lang_id`` — the 'does the metadata lie' audit. One map-side-
    combined count over (claimed, inferred); oracle reuses the lang_id
    marker CTE."""
    from jsschema_spark.functions.text import lang_id

    df = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return (
        df.select(F.col("lang").alias("claimed"),
                  lang_id(F.col("text")).alias("inferred"))
        .groupBy("claimed", "inferred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def q_exact_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipped exact-dedup operator (dedup.exact_duplicate_groups) with
    an md5 fingerprint_fn so DuckDB can reproduce the group keys."""
    from jsschema_spark.functions.dedup import exact_duplicate_groups

    df = _docs_with_dups(spark, sf_dir)

    def md5_fp(c):
        return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))

    groups = exact_duplicate_groups(df, "text", "doc_id", fingerprint_fn=md5_fp)
    return groups.select(
        "fingerprint",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.element_at("doc_ids", 1).alias("min_doc_id"),  # doc_ids is sorted
    )


def q_lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark.functions.text import lang_id

    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", lang_id(F.col("text")).alias("lang"))


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark.functions.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank"),
        F.round("cos", 5).alias("cos_r"),
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsschema_spark.functions.dedup import embedding_brute_force_pairs

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 5 == 0).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    out = embedding_brute_force_pairs(emb, "vec_id", "embedding", threshold=0.95)
    return out.select("id_a", "id_b", F.round("cos", 5).alias("cos_r"))


def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # auto tier: this flat schema compiles to the JVM Variant path (no Python)
    from jsschema_spark.variant import validate_json_auto

    df = _t(spark, sf_dir, "events", spread=True)
    out = validate_json_auto(df, "props", PROPS_SCHEMA)
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("validation.valid").cast("long")).cast("long").alias("n_valid"),
        F.sum((~F.col("validation.valid")).cast("long")).cast("long").alias("n_invalid"),
    )


# ----- non-SQL-expressible operators (rows-only checks) --------------------

def q_conformance_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 75-fixture golden corpus through the generic engine;
    ``agree`` must be true on every row (BASELINE 100% metric)."""
    from jsschema_spark.generic import validate_json_pairs

    rows = []
    for suite in CONFORMANCE_SUITES:
        with open(os.path.join(CORPUS, f"{suite}.json"), encoding="utf-8") as f:
            schema_text = f.read()
        for kind, expect in (("pass", True), ("fail", False)):
            for p in sorted(glob.glob(os.path.join(CORPUS, f"{suite}_{kind}*.json"))):
                with open(p, encoding="utf-8") as f:
                    rows.append((suite, os.path.basename(p)[:-5], schema_text, f.read(), expect))
    from jsschema_spark.localdf import local_df

    df = local_df(
        spark, rows,
        "suite string, case_id string, schema_json string, instance_json string, expect_pass boolean",
    )
    out = validate_json_pairs(df, "schema_json", "instance_json")
    return out.select(
        "suite", "case_id", "expect_pass",
        F.col("validation.valid").alias("valid"),
        (F.col("validation.valid") == F.col("expect_pass")).alias("agree"),
    )


def _clips_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A clips-shaped table (input_hint columns) derived deterministically
    from the documents table with SQL-expressible transforms ONLY — so the
    DuckDB oracle can rebuild the identical table and count the identical
    violations. Injected negatives per column via modular arithmetic."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    sr = (
        F.when(i % 50 == 0, F.lit(96001))
        .when(i % 50 == 25, F.lit(0))
        .otherwise(F.element_at(F.array(F.lit(8000), F.lit(16000), F.lit(44100)), (i % 3 + 1).cast("int")))
    )
    dur = (
        F.when(i % 47 == 0, F.lit(70000))
        .when(i % 47 == 23, F.lit(0))
        .otherwise(F.lit(200) + (i * 37) % 14800)
    )
    codec = F.when(i % 41 == 0, F.lit("unknown_codec")).otherwise(
        F.element_at(F.array(F.lit("pcm_s16le"), F.lit("flac"), F.lit("opus")), (i % 3 + 1).cast("int"))
    )
    txt = F.when(i % 43 == 0, F.lit("")).otherwise(F.coalesce(F.col("text"), F.lit("x")))
    return d.select(
        F.format_string("clip-%012d", i).alias("clip_id"),
        F.to_binary(F.substring(F.md5(i.cast("string")), 1, 16), F.lit("hex")).alias("bytes"),
        sr.cast("int").alias("sr_hz"),
        dur.cast("int").alias("dur_ms"),
        codec.alias("codec"),
        txt.alias("transcript"),
    )


def q_clips_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship typed-column path: the clips draft-04 schema compiled by
    TableValidator over a clips table (oracle-reproducible derivation)."""
    from jsschema_spark import parse_schema
    from jsschema_spark.compiler import TableValidator
    from jsschema_spark.synth import CLIPS_DRAFT04_SCHEMA

    df = _clips_from_documents(spark, sf_dir)
    tv = TableValidator(parse_schema(CLIPS_DRAFT04_SCHEMA), df.schema)
    return tv.summary(df).select(
        "path", "keyword",
        F.col("n_violations").cast("long").alias("n_violations"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + true-Jaccard verification. Oracle = exact
    brute-force 3-shingle Jaccard in SQL: this corpus has no pair in
    [0.3, 0.9) so LSH recall at threshold 0.7 is certain to ~1e-8 (64 hashes
    / 16 bands; every qualifying pair has j ≥ 0.9)."""
    from jsschema_spark.functions.dedup import near_duplicates_minhash

    base = _docs_ckpt(spark, sf_dir)
    near = base.where(F.col("doc_id") % 71 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing token")).alias("text"),
    )
    df = base.unionByName(near)
    out = near_duplicates_minhash(df, "doc_id", "text", num_hashes=64, bands=16, threshold=0.7)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard_r"))


def q_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SimHash in portable-hash mode (md5-based 60-bit token hash,
    bit-for-bit reproducible in DuckDB SQL; the 100 TB path uses xxhash64)."""
    from jsschema_spark.functions.dedup import portable_hash64, simhash_values

    df = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return simhash_values(df, "doc_id", "text", n_bits=60, hash_fn=portable_hash64).select(
        "doc_id", F.col("sh").alias("simhash60")
    )


def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level SimHash near-dup detection (pigeonhole chunk join), in
    portable-hash mode so DuckDB brute force (bit_count(xor) ≤ 3 over all
    pairs) is an exact oracle: below the bucket cap the pigeonhole
    candidate set provably contains every qualifying pair, so the capped
    equi-join must equal the O(n²) reference. Exact duplicates (%50,
    hamming 0) are injected to guarantee hits."""
    from jsschema_spark.functions.dedup import portable_hash64, simhash_near_dups

    base = _docs_ckpt(spark, sf_dir).where(F.col("text").isNotNull())
    dup = base.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    df = base.unionByName(dup)
    out = simhash_near_dups(
        df, "doc_id", "text", max_hamming=3, n_bits=60, hash_fn=portable_hash64
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_embedding_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-bucketed embedding near-dup path (the scale path), oracled on
    a corpus with injected exact-duplicate vectors: identical vectors land in
    identical hyperplane buckets deterministically, so recall is exactly
    100% at threshold 0.9999 (no organic pair reaches it)."""
    from jsschema_spark.functions.dedup import embedding_near_dups

    base = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 3 == 0).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    dup = base.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    df = base.unionByName(dup)
    out = embedding_near_dups(df, "vec_id", "embedding", dim=64, threshold=0.9999)
    return out.select("id_a", "id_b", F.round("cos", 5).alias("cos_r"))


def q_embedding_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector near-dup GROUP formation: LSH pairs over a corpus with TWO
    injected exact copies per %3 vector (so every component has three
    members and genuinely needs transitive merging) → connected
    components. Identical vectors provably share buckets, so the edge set
    equals brute force at threshold 0.9999 and the oracle's recursive-CTE
    closure reproduces the labels exactly — near_dup_groups' vector
    sibling."""
    from jsschema_spark.functions.dedup import (
        connected_components,
        embedding_near_dups,
    )

    base = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 3 == 0).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    d1 = base.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    d2 = base.select((F.col("vec_id") + 2000000).alias("vec_id"), "embedding")
    df = base.unionByName(d1).unionByName(d2)
    pairs = embedding_near_dups(df, "vec_id", "embedding", dim=64, threshold=0.9999)
    groups = connected_components(pairs)
    return groups.select(
        F.col("doc_id").cast("long").alias("vec_id"),
        F.col("group_id").cast("long").alias("group_id"),
    )


# Unused: nothing is memoized. Kept because benchmark scripts clear it
# before timing a query.
_ND_GROUPS_MEMO: dict = {}


def _near_dup_corpus_and_groups(spark: SparkSession, sf_dir: str):
    """Shared construction for the THREE group-formation queries — groups,
    canonical, leakage split — (must stay bit-identical to the DuckDB
    ``_NEAR_DUP_CTE`` oracle): two injected variant families per %71 base
    doc force genuine transitive merging (base ~ v1 ~ v2), then LSH pairs
    -> true-Jaccard verification -> connected components. Each query
    builds its own groups, so its time is its own."""
    from jsschema_spark.functions.dedup import connected_components, near_duplicates_minhash

    base = _docs_ckpt(spark, sf_dir)
    v1 = base.where(F.col("doc_id") % 71 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing token")).alias("text"),
    )
    v2 = base.where(F.col("doc_id") % 71 == 0).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing token two")).alias("text"),
    )
    df = base.unionByName(v1).unionByName(v2)
    pairs = near_duplicates_minhash(df, "doc_id", "text", num_hashes=64, bands=16, threshold=0.7)
    return df, connected_components(pairs)


def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP formation (min-label + pointer jumping). Oracle =
    DuckDB recursive CTE transitive closure over the exact brute-force
    Jaccard pair list (same recall argument as minhash_near_dups: no pair
    in the LSH-uncertain band)."""
    _df, groups = _near_dup_corpus_and_groups(spark, sf_dir)
    return groups.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("group_id").cast("long").alias("group_id"),
    )


def q_near_dup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keep-one-per-group: the corpus after dropping every near-dup group
    member except the minimum id (same pair pipeline + components as
    near_dup_groups; oracle anti-joins the recursive-CTE closure)."""
    from jsschema_spark.functions.dedup import keep_canonical

    df, groups = _near_dup_corpus_and_groups(spark, sf_dir)
    return keep_canonical(df, groups, "doc_id").select(F.col("doc_id").cast("long").alias("doc_id"))


def q_freshness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic freshness check (checks.freshness_report): latest
    event time vs a fixed as_of anchor — one map-side-combined max."""
    from jsschema_spark.checks import freshness_report

    df = _t(spark, sf_dir, "events")
    out = freshness_report(df, "ts", "2024-02-01 00:00:00", max_age_seconds=86400)
    return out.select(
        _EPOCH_US(F.col("latest_ts")).alias("latest_us"),
        "lag_seconds",
        "fresh",
    )


def q_transcript_rate_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript↔duration consistency (audio.transcript_rate_check):
    speaking rate vs the plausible-speech band over the oracle-reproducible
    clips table — pure Catalyst cross-column check, zero shuffle."""
    from jsschema_spark.audio import transcript_rate_check

    df = _clips_from_documents(spark, sf_dir)
    out = transcript_rate_check(df, "transcript", "dur_ms")
    return out.select(
        "clip_id",
        F.col("dur_ms").cast("long").alias("dur_ms"),
        "n_tokens",
        F.round("tokens_per_sec", 6).alias("tps_r"),
        "reason",
    )


def q_completeness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-completeness gap scan (checks.completeness_by_period): hourly
    row counts for purchase events with missing hours materialized as
    explicit zero-count gap rows — the "did a delivery silently skip an
    hour" monitor a bare groupBy cannot express. One map-side-combined
    count (#periods rows), a single-row bounds aggregate, and an exploded
    expected-hour spine joined back (AQE broadcasts the #periods side)."""
    from jsschema_spark.checks import completeness_by_period

    df = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    out = completeness_by_period(df, "ts", "hour")
    return out.select(
        _EPOCH_US(F.col("period_start")).alias("period_us"),
        "n_rows",
        "is_gap",
    )


def q_fd_customer_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (checks.functional_dependency_
    violations): which nation keys map to more than one market segment —
    the FD-integrity primitive (shuffle width = #distinct pairs via
    collect_set map-side combine, never #rows)."""
    from jsschema_spark.checks import functional_dependency_violations

    df = _t(spark, sf_dir, "customer")
    out = functional_dependency_violations(df, ["c_nationkey"], "c_mktsegment")
    return out.select(
        "c_nationkey",
        "n_dependent_values",
        "n_rows",
        F.array_join("sample_values", ",").alias("samples"),
    )


def q_cardinality_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-contract check (checks.cardinality_violations): orders
    whose lineitem count falls outside [2, 7] — the bound referential
    anti-joins can't express. Child counts map-side combine; the parent
    join is AQE-sized."""
    from jsschema_spark.checks import cardinality_violations

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    out = cardinality_violations(
        orders, lineitem, "o_orderkey", "l_orderkey", min_children=2, max_children=7
    )
    return out.select("o_orderkey", "n_children", "bound")


def q_weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (curate.weighted_sample): 20 docs
    per language with inclusion probability proportional to token count —
    Efraimidis–Spirakis keys ln(u)/w from md5(id) fractions, reproduced
    exactly by the SQL oracle (ln agrees across engines; ordering could
    only flip for keys within libm error of each other, which distinct
    60-bit hash fractions never are)."""
    from jsschema_spark.functions.curate import weighted_sample
    from jsschema_spark.functions.text import lang_id, token_count

    df = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            lang_id(F.col("text")).alias("lang"),
            token_count(F.col("text")).cast("double").alias("w"),
        )
        # skinny derived row materialized once for the two-phase top-n
        # branches (same rationale as stratified/token_budget wrappers)
        .localCheckpoint(eager=True)
    )
    out = weighted_sample(df, ["lang"], 20, "w", id_col="doc_id")
    return out.select("lang", F.col("doc_id").cast("long").alias("doc_id"))


def q_top_quality_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k by score (curate.top_per_stratum): the 5 highest-
    quality docs per language, two-phase local-top-n + candidate re-agg —
    no full-stratum window sort. Ties break on doc_id ascending, so the
    result is deterministic and SQL-reproducible."""
    from jsschema_spark.functions.curate import top_per_stratum
    from jsschema_spark.functions.text import lang_id, quality_score

    df = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            lang_id(F.col("text")).alias("lang"),
            quality_score(F.col("text")).alias("score"),
        )
    )
    out = top_per_stratum(df, ["lang"], "score", 5, id_col="doc_id")
    return out.select("doc_id", "lang", F.round("score", 4).alias("quality_r"))


def q_contamination_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dedup.ngram_contamination): docs sharing
    an 8-word shingle with the held-out set (%97 docs), over a corpus with
    injected contaminated variants (+7M: benchmark text behind a novel
    preamble). The corpus side never shuffles — exploded shingles hash-join
    the small benchmark set; hits are map-side-combined per doc."""
    from jsschema_spark.functions.dedup import ngram_contamination

    base = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    bench = base.where(F.col("doc_id") % 97 == 0)
    injected = bench.select(
        (F.col("doc_id") + 7000000).alias("doc_id"),
        F.concat(F.lit("totally novel preamble "), F.col("text")).alias("text"),
    )
    corpus = base.unionByName(injected)
    out = ngram_contamination(corpus, bench, n=8)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "n_hits")


def q_chunked_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (curate.chunk_documents): 64-token chunks
    with 8 tokens of overlap — pure Catalyst sequence/posexplode/slice,
    no shuffle. Chunk text surfaces as md5 so the hash row stays small."""
    from jsschema_spark.functions.curate import chunk_documents

    df = _t(spark, sf_dir, "documents")
    out = chunk_documents(df, max_tokens=64, overlap=8)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.md5("chunk_text").alias("chunk_md5"),
        "n_tokens",
    )


def q_quality_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full composite quality heuristic (text.quality_score) — the
    pre-training garbage filter — oracled component-for-component: token
    count band, punctuation/alpha/stopword ratios and mean word length are
    integer-over-integer double divisions, so both engines compute
    bit-identical scores; round(4) guards the residue."""
    from jsschema_spark.functions.text import quality_score

    df = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return df.select(
        "doc_id", F.round(quality_score(F.col("text")), 4).alias("quality_r")
    )


def q_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (text.ngram_repetition /
    top_ngram_share): per-doc duplicate-2/3-gram fractions (pure Catalyst
    projection — int/int double math, bit-portable) plus the share of
    3-gram occurrences claimed by the doc's most frequent 3-gram (two
    map-side-combined aggregates). The auto-generated-boilerplate
    signal."""
    from jsschema_spark.functions.text import ngram_repetition, top_ngram_share

    df = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    out = top_ngram_share(df, "text", n=3)
    return out.select(
        "doc_id",
        F.round(ngram_repetition(F.col("text"), 2), 4).alias("rep2_r"),
        F.round(ngram_repetition(F.col("text"), 3), 4).alias("rep3_r"),
        F.round(F.col("top_ngram_share"), 4).alias("top3_share_r"),
    )


def q_unigram_logprob_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistical quality (text.unigram_logprob): per-doc mean
    ln unigram probability under the corpus' own empirical distribution —
    the cheap perplexity proxy. One vocab aggregate + one token join +
    one per-doc mean; round(3) because ln is libm-dependent across
    engines (the only non-±*/ op in the score)."""
    from jsschema_spark.functions.text import unigram_logprob

    df = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    return unigram_logprob(df, "text").select(
        "doc_id", F.round("logprob", 3).alias("logprob_r")
    )


def q_inferred_schema_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema INFERENCE (jsschema_spark.infer) — the inverse of the
    validation core: profile the orders table (5-column projection) into
    a draft-04 contract and emit it as flattened (path, keyword,
    value_num, value_str) rows. One map-side-combined aggregate pass +
    an enum pass over near-categorical columns only; the oracle
    recomputes every inferred constraint in SQL. The validator round-trip
    (inferred schema ⇒ zero violations on the same data) is pytest-pinned
    in test_infer.py."""
    from jsschema_spark.infer import schema_report

    view = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    return schema_report(view)


def _inferred_schema_oracle(src: str = "orders") -> str:
    num_cols = {"o_orderkey": "integer", "o_custkey": "integer",
                "o_totalprice": "number"}
    str_cols = ["o_orderstatus", "o_orderpriority"]
    orders = src  # every FROM below targets the parameterized source
    parts = []
    for c, ty in num_cols.items():
        parts.append(
            f"SELECT '{c}' AS path, 'type' AS keyword, CAST(NULL AS DOUBLE) AS value_num, '{ty}' AS value_str"
        )
        parts.append(
            f"SELECT '{c}', 'minimum', CAST(min({c}) AS DOUBLE), NULL FROM {orders}"
        )
        parts.append(
            f"SELECT '{c}', 'maximum', CAST(max({c}) AS DOUBLE), NULL FROM {orders}"
        )
    for c in str_cols:
        parts.append(
            f"SELECT '{c}', 'type', CAST(NULL AS DOUBLE), 'string'"
        )
        parts.append(
            f"SELECT '{c}', 'minLength', CAST(min(length({c})) AS DOUBLE), NULL FROM {orders}"
        )
        parts.append(
            f"SELECT '{c}', 'maxLength', CAST(max(length({c})) AS DOUBLE), NULL FROM {orders}"
        )
        parts.append(
            f"SELECT '{c}', 'enum', CAST(NULL AS DOUBLE),"
            f" string_agg(DISTINCT {c}, ',' ORDER BY {c}) FROM {orders}"
            f" WHERE {c} IS NOT NULL HAVING count(DISTINCT {c}) <= 8"
        )
    for c in list(num_cols) + str_cols:
        parts.append(
            f"SELECT '{c}', 'required', CAST(NULL AS DOUBLE), 'true'"
            f" WHERE (SELECT count(*) FROM {orders} WHERE {c} IS NULL) = 0"
        )
    return " UNION ALL ".join(parts)


def q_masked_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span dedup (dedup.mask_duplicate_spans): tokens
    covered by any 8-gram appearing in ≥2 docs are removed — boilerplate
    masking, exercised by a shared footer injected into %37 docs (organic
    word-salad collisions mask too). md5 of the rebuilt text makes the
    oracle byte-level; the oracle replicates gram positions, span
    document-frequency and the index-filter rebuild in SQL."""
    from jsschema_spark.functions.dedup import mask_duplicate_spans

    base = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    spiked = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 37 == 0,
            F.concat(
                F.col("text"),
                F.lit(" standard footer block appended to many documents for masking"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = mask_duplicate_spans(spiked, n=8, min_docs=2)
    return out.select(
        "doc_id", "n_masked_tokens", F.md5("masked_text").alias("masked_md5")
    )


def q_contract_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract-drift monitoring (infer.contract_drift): profile orders
    twice — full vs the o_totalprice < 100000 slice — and diff the two
    observed contracts. Tightened ranges/lengths surface as 'changed',
    constraints evidenced by only one run as added/removed. The oracle
    recomputes BOTH profiles in SQL and full-outer-joins them with the
    same IS DISTINCT FROM semantics."""
    from jsschema_spark.infer import contract_drift, schema_report

    view = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    old = schema_report(view)
    new = schema_report(view.where(F.col("o_totalprice") < 100000))
    return contract_drift(old, new)


def _contract_drift_oracle() -> str:
    old_r = _inferred_schema_oracle("full_src")
    new_r = _inferred_schema_oracle("filt_src")
    return f"""
WITH full_src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
), filt_src AS (
  SELECT * FROM full_src WHERE o_totalprice < 100000
), old_r AS ({old_r}), new_r AS ({new_r})
SELECT coalesce(o.path, n.path) AS path,
       coalesce(o.keyword, n.keyword) AS keyword,
       o.value_num AS old_num, n.value_num AS new_num,
       o.value_str AS old_str, n.value_str AS new_str,
       CASE WHEN o.path IS NULL THEN 'added'
            WHEN n.path IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM old_r o FULL OUTER JOIN new_r n
  ON o.path = n.path AND o.keyword = n.keyword
WHERE o.path IS NULL OR n.path IS NULL
   OR (o.value_num IS DISTINCT FROM n.value_num)
   OR (o.value_str IS DISTINCT FROM n.value_str)
"""


def q_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + scrub (text.pii_counts / redact_pii) over a corpus with
    injected emails (%29 docs) and phone+IP tails (%31): per-doc per-type
    match counts and the md5 of the fully redacted text — the hash makes
    the oracle check the SCRUBBED BYTES, not just the counts. Pure
    codegen regexp projection; patterns are Java-regex/RE2-common so
    DuckDB reproduces them exactly."""
    from jsschema_spark.functions.text import pii_counts, redact_pii

    base = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    spiked = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 29 == 0,
            F.concat(
                F.col("text"), F.lit(" reach me at user"),
                F.col("doc_id").cast("string"), F.lit("@example.com"),
            ),
        )
        .when(
            F.col("doc_id") % 31 == 0,
            F.concat(
                F.col("text"), F.lit(" call 555-123-4567 from 10.0.0."),
                (F.col("doc_id") % 250 + 1).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    p = pii_counts(F.col("text"))
    return spiked.select(
        "doc_id",
        p["email"].cast("long").alias("n_email"),
        p["phone"].cast("long").alias("n_phone"),
        p["ipv4"].cast("long").alias("n_ipv4"),
        F.md5(redact_pii(F.col("text"))).alias("redacted_md5"),
    )


def q_curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (functions/curate.curate_documents):
    validity -> quality gate -> exact dedup -> near-dup canonical, every
    stage exercised by injected rows — blanks (%43) die at validity, junk
    punctuation docs (%37) at the quality gate, exact copies (%50) at
    fingerprint dedup, near-dup variants (%71) at LSH+Jaccard canonical
    selection. min_quality=0.95 also splits the organic corpus (scores
    cluster at 0.925 vs 1.0; nearest reachable scores, so the unrounded
    comparison is FP-safe in both engines). Oracle composes the same four
    stages in SQL with a recursive-CTE transitive closure."""
    from jsschema_spark.functions.curate import curate_documents

    docs = _docs_ckpt(spark, sf_dir)
    base = docs.where(F.col("text").isNotNull())
    exact = base.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = base.where(F.col("doc_id") % 71 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing token")).alias("text"),
    )
    junk = docs.where(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.lit("#@! $%^ &*( !!!").alias("text"),
    )
    blank = docs.where(F.col("doc_id") % 43 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"), F.lit("   ").alias("text")
    )
    df = base.unionByName(exact).unionByName(near).unionByName(junk).unionByName(blank)
    kept, _report = curate_documents(
        df, min_quality=0.95, near_dup_threshold=0.7, with_report=False
    )
    return kept.select(F.col("doc_id").cast("long").alias("doc_id"))


def q_stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling (curate.stratified_sample):
    25 docs per lang_id stratum, ranked by the engine-portable md5(id)
    order, with the hash-prefilter scale path on. Oracle = row_number over
    the identical md5 ordering in DuckDB."""
    from jsschema_spark.functions.curate import stratified_sample
    from jsschema_spark.functions.text import lang_id

    df = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", lang_id(F.col("text")).alias("lang"))
        # materialize the skinny (id, lang) projection ONCE: the sampler
        # consumes its input from several branches (counts, join, shortfall
        # probe), and each would otherwise re-evaluate the interpreted
        # lang_id HOF tree over the corpus (measured 24.8s -> ~2.5s at
        # sf1.0). 16 bytes/row — cheap to pin even at 10^9 rows.
        .localCheckpoint(eager=True)
    )
    # fallback="driver": one stratum-level count action replaces the
    # redo branch's extra full scan — the documented at-scale trade
    out = stratified_sample(df, ["lang"], 25, id_col="doc_id", fallback="driver")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


def q_token_budget_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget cap (curate.token_budget_sample): admit
    docs in stable md5(id) order while each language's running whitespace-
    token total stays ≤ 1500 — the training-mix budgeting primitive.
    Oracle = SQL cumulative-sum window over the identical ordering."""
    from jsschema_spark.functions.curate import token_budget_sample
    from jsschema_spark.functions.text import lang_id, token_count

    df = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            lang_id(F.col("text")).alias("lang"),
            # computed once here instead of once in the budget scan and
            # AGAIN in the output projection (same deterministic value)
            token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
        # one materialization of the 24-byte derived row feeds the budget
        # window branches and the output (measured 18.8s -> ~2.8s at sf1.0)
        .localCheckpoint(eager=True)
    )
    out = token_budget_sample(df, ["lang"], 1500, id_col="doc_id", token_col="n_tokens")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


def q_leakage_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/eval split (curate.leakage_free_split): the
    near-dup corpus splits 80/20 by md5 of the GROUP id, so no near-dup
    group spans the boundary. Oracle recomputes the groups with the
    recursive-CTE closure and applies the identical hash rule."""
    from jsschema_spark.functions.curate import leakage_free_split

    df, groups = _near_dup_corpus_and_groups(spark, sf_dir)
    out = leakage_free_split(df, groups, train_frac=0.8)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "split")


def q_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin numeric drift (engine-side PSI terms): l_quantity histogram,
    full table vs the high-discount slice."""
    from jsschema_spark.stats import numeric_drift

    base = _t(spark, sf_dir, "lineitem")
    cur = base.where(F.col("l_discount") > 0.02)
    out = numeric_drift(base, cur, "l_quantity", 1.0, 51.0, nbins=10)
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("p_base", 6).alias("p_base_r"),
        F.round("p_cur", 6).alias("p_cur_r"),
        F.round("psi_term", 6).alias("psi_term_r"),
    )


def _EPOCH_US(c):
    """Micros since epoch for a TIMESTAMP_NTZ column, timezone-free
    (unix_micros rejects NTZ; a cast would re-interpret in session tz)."""
    return F.timestamp_diff("MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c).cast("long")


def q_session_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (functions/events.sessionize + session_stats):
    6-hour inactivity gap over the events table, per-session aggregates.
    Timestamps surface as unix micros so both engines hash identically."""
    from jsschema_spark.functions.events import session_stats

    df = _t(spark, sf_dir, "events")
    out = session_stats(df, "user_id", "ts", gap="6 hours", order_cols=["event_id"])
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("n_events").cast("long").alias("n_events"),
        _EPOCH_US(F.col("session_start")).alias("start_us"),
        _EPOCH_US(F.col("session_end")).alias("end_us"),
        F.col("duration_us").cast("long").alias("duration_us"),
    )


def q_asof_clicks_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed backward as-of join (functions/events.asof_join): each
    click event attached to the user's latest error at-or-before it — the
    point-in-time lookup, implemented as ONE per-key ordered window over
    the tagged union (no range-join explosion). Oracle: DuckDB's native
    ASOF LEFT JOIN."""
    from jsschema_spark.functions.events import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.where(F.col("event_type") == "error").select("user_id", "ts", "value")
    out = asof_join(clicks, errors, on="user_id", left_ts="ts", right_ts="ts")
    return out.select(
        "event_id", "user_id",
        _EPOCH_US(F.col("ts")).alias("ts_us"),
        _EPOCH_US(F.col("asof_ts")).alias("err_ts_us"),
        F.col("asof_value").alias("err_value"),
    )


def q_skew_events_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (checks.skew_report): the 10 hottest
    user_id values with share-of-table and the salting-decision
    skew_ratio. One map-side-combined count per key + a single-row totals
    aggregate + TakeOrdered — the operator that says WHERE to salt."""
    from jsschema_spark.checks import skew_report

    return skew_report(_t(spark, sf_dir, "events"), ["user_id"], k=10)


def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (events.funnel_counts): users completing
    signup → click → purchase strictly in order, earliest-completion
    semantics. K-1 user-keyed joins against shrinking levels, no windows,
    no per-user history collection. Oracle chains the same min-after
    CTEs in SQL."""
    from jsschema_spark.functions.events import funnel_counts

    return funnel_counts(
        _t(spark, sf_dir, "events"), ["signup", "click", "purchase"]
    )


def q_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle (events.retention_cohorts): cohort by
    first-event week, count active users per (cohort, weeks-since). One
    min-agg, one distinct user-week projection, one user-keyed join, one
    final count — no windows. Oracle mirrors it with date_trunc CTEs."""
    from jsschema_spark.functions.events import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


def q_anomalous_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level anomaly screen (stats.anomalous_groups): users whose
    mean event value z-scores ≥ 3 against the corpus of per-user means —
    injected spiked users (%37, value×20+1000) guarantee hits with wide
    margins (z≈5.5 vs ≈0.2 organic, so the threshold is FP-safe)."""
    from jsschema_spark.stats import anomalous_groups

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    spiked = ev.where(F.col("user_id") % 37 == 0).select(
        (F.col("user_id") + 100000).alias("user_id"),
        (F.col("value") * 20 + 1000).alias("value"),
    )
    df = ev.unionByName(spiked)
    out = anomalous_groups(df, ["user_id"], "value", z_threshold=3.0, min_group_rows=20)
    return out.select(
        "user_id", "n_rows",
        F.round("group_mean", 4).alias("mean_r"),
        F.round("z", 2).alias("z_r"),
    )


def q_grouped_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment numeric profile (stats.grouped_column_stats): l_quantity
    stats per return flag in one map-side-combined aggregation."""
    from jsschema_spark.stats import grouped_column_stats

    df = _t(spark, sf_dir, "lineitem")
    out = grouped_column_stats(df, ["l_returnflag"], "l_quantity")
    return out.select(
        "l_returnflag", "n_rows", "n_null", "n_distinct",
        "min_num", "max_num",
        F.round("mean", 6).alias("mean_r"),
        F.round("stddev", 6).alias("stddev_r"),
    )


def q_ks_drift_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Kolmogorov–Smirnov drift as per-bin ECDF rows (stats.ks_drift):
    l_quantity, full table vs the high-discount slice — max(cdf_gap_r) is
    the KS D statistic. Both engines divide exact integer cumsums, so the
    doubles are bit-identical; round(6) aligns the surfaces."""
    from jsschema_spark.stats import ks_drift

    base = _t(spark, sf_dir, "lineitem")
    cur = base.where(F.col("l_discount") > 0.02)
    out = ks_drift(base, cur, "l_quantity", 1.0, 51.0, nbins=10)
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("cdf_base", 6).alias("cdf_base_r"),
        F.round("cdf_cur", 6).alias("cdf_cur_r"),
        F.round("cdf_gap", 6).alias("cdf_gap_r"),
    )


def _ann_corpus_and_queries(spark: SparkSession, sf_dir: str, n_copies: int = 8):
    """ANN oracle construction: 5 query vectors + ``n_copies`` exact copies
    of each injected into the corpus. Copies land in the query's own LSH
    bucket / IVF cell deterministically (identical vector => identical
    bucket), and their cosine (exactly 1.0) beats every organic vector —
    so the approximate top-5 provably equals brute force."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    copies = (
        queries.crossJoin(spark.range(1, n_copies + 1).select(F.col("id").alias("j")))
        .select(
            (F.lit(9000000) + F.col("query_id") * 100 + F.col("j")).alias("vec_id"),
            "embedding",
        )
    )
    corpus = emb.unionByName(copies)
    return corpus, queries


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN, hyperplane-LSH path, on the injected-copies corpus
    where its result provably equals brute force (the oracle)."""
    from jsschema_spark.functions.similarity import lsh_topk

    corpus, queries = _ann_corpus_and_queries(spark, sf_dir)
    out = lsh_topk(corpus, queries, k=5, dim=64, n_planes=8)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank"),
        F.round("cos", 5).alias("cos_r"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN, IVF path, on the injected-copies corpus where its
    result provably equals brute force (the oracle)."""
    from jsschema_spark.functions.similarity import ivf_topk

    corpus, queries = _ann_corpus_and_queries(spark, sf_dir)
    out = ivf_topk(corpus, queries, k=5, n_centroids=16, nprobe=4)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank"),
        F.round("cos", 5).alias("cos_r"),
    )


def q_lsh_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / search-many ANN, hyperplane-LSH flavor: persist the
    bucket-partitioned index (+ `_meta` plane-parameter sidecar), then
    multi-probe search it — only the probed bucket partitions are read,
    the corpus is never re-bucketed. Injected-copies corpus, so the result
    provably equals brute force (same oracle as lsh_topk/ivf_index_search)."""
    from jsschema_spark.functions.similarity import lsh_build, lsh_search

    corpus, queries = _ann_corpus_and_queries(spark, sf_dir)
    path = f"/tmp/jsschema_idx/{os.path.basename(os.path.normpath(sf_dir))}/lsh"
    # n_planes=6 (65 bucket dirs): the scale-step showed the 8-plane
    # build cost was 257 tiny-directory write overhead (alpha = -0.13),
    # pure small-files tax at bench scale; recall/equality is unchanged
    # (identical vectors collide under any plane count)
    lsh_build(corpus, path, dim=64, n_planes=6, seed=42)
    out = lsh_search(queries, path, k=5)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank"),
        F.round("cos", 5).alias("cos_r"),
    )


def q_ivf_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / search-many ANN: persist the IVF index (cell-partitioned
    parquet + centroid sidecar) then search it — the search plan reads only
    the probed cell partitions and never recomputes the corpus assignment.
    Same injected-copies corpus, so the result provably equals brute force
    (same oracle as ivf_topk)."""
    from jsschema_spark.functions.similarity import ivf_build, ivf_search

    corpus, queries = _ann_corpus_and_queries(spark, sf_dir)
    # fixed per-sf path + overwrite: repeated runs rebuild in place instead
    # of leaking a fresh temp copy of the corpus per invocation
    path = f"/tmp/jsschema_idx/{os.path.basename(os.path.normpath(sf_dir))}/ivf"
    ivf_build(corpus, path, n_centroids=16, seed=42, train=False)
    out = ivf_search(queries, path, k=5, nprobe=4)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank"),
        F.round("cos", 5).alias("cos_r"),
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group mean pooling (similarity.mean_pool): per-label centroid of
    the embeddings table — the doc-from-chunks / cluster-centroid
    primitive. One map-side-combined (label, dim) average, shuffle width
    = #labels×dim. Output exploded to scalar rows (label, dim, mean_r)
    so the oracle hashes engine-portably; round(6) absorbs summation-
    order ulp differences between engines."""
    from jsschema_spark.functions.similarity import mean_pool

    emb = _t(spark, sf_dir, "embeddings")
    pooled = mean_pool(emb, "label")
    return pooled.select(
        F.col("label").cast("int").alias("label"),
        F.posexplode("embedding").alias("dim", "__v"),
    ).select("label", F.col("dim").cast("int").alias("dim"),
             F.round("__v", 6).alias("mean_r"))


def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: the base corpus' minhash signatures
    are persisted ONCE, then the incoming batch (the %71 trailing-token
    variants) is deduped against the stored index — new-batch signaturing +
    band equi-join, no corpus recompute. Oracle: brute-force Jaccard pairs
    restricted to pairs touching a new id."""
    from jsschema_spark.functions.dedup import (
        incremental_near_duplicates_minhash,
        write_minhash_index,
    )

    base = _docs_ckpt(spark, sf_dir)
    new = base.where(F.col("doc_id") % 71 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing token")).alias("text"),
    )
    path = f"/tmp/jsschema_idx/{os.path.basename(os.path.normpath(sf_dir))}/sig"
    write_minhash_index(base, path, "doc_id", "text")
    index = spark.read.parquet(path)
    out = incremental_near_duplicates_minhash(
        new, base, index, "doc_id", "text", threshold=0.7
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard_r"))


def q_embedding_multiseed_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-seed LSH union (recall control for near-identical vectors),
    oracled on the injected-exact-duplicates corpus where every seed's
    buckets provably contain each duplicate pair — the union therefore
    equals the single-seed result AND the brute-force oracle (recall
    improvement on *near*-identical vectors is asserted in pytest, where
    a brute-force reference is affordable)."""
    from jsschema_spark.functions.dedup import embedding_near_dups_multiseed

    base = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 3 == 0).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    dup = base.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    df = base.unionByName(dup)
    out = embedding_near_dups_multiseed(
        df, "vec_id", "embedding", dim=64, threshold=0.9999, seeds=(42, 1042)
    )
    return out.select("id_a", "id_b", F.round("cos", 5).alias("cos_r"))


def q_key_set_customers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-vs-actual key-set check (SURVEY §2.5 set-ops row): customers
    with no orders are 'missing' from the actual order key set; order
    custkeys absent from the customer table would be 'unexpected'."""
    from jsschema_spark.checks import key_set_diff

    expected = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    actual = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return key_set_diff(expected, actual, ["custkey"])


def q_violation_samples_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(path, keyword) top-k violation samples (north_rule detail
    records), deterministic ordering by o_orderkey."""
    from jsschema_spark import parse_schema
    from jsschema_spark.compiler import TableValidator

    df = _t(spark, sf_dir, "orders", spread=True)
    tv = TableValidator(parse_schema(ORDERS_SCHEMA), df.schema)
    out = tv.violation_samples(df, k=3, id_cols=["o_orderkey"])
    return out.select(
        "path", "keyword", "o_orderkey", F.col("rn").cast("long").alias("rn")
    )


def q_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table ledger reconciliation: recompute each order's total from
    its lineitems (exact DECIMAL arithmetic — order-independent sums) and
    bucket the divergence from ``o_totalprice``. The fact side collapses
    through a map-side-combined aggregate before one key-partitioned join
    (``checks.reconciliation_report``)."""
    from jsschema_spark.checks import reconciliation_report

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")

    def dec(c):
        return F.col(c).cast("decimal(12,2)")

    one = F.lit(1).cast("decimal(12,2)")
    measure = dec("l_extendedprice") * (one - dec("l_discount")) * (one + dec("l_tax"))
    rep = reconciliation_report(
        l, o, "l_orderkey", "o_orderkey", measure, dec("o_totalprice"),
        tolerance=0.01,
    )
    bucket = (
        F.when(F.col("status") == "missing_fact", F.lit("missing_lines"))
        .when(F.col("status") == "missing_dim", F.lit("missing_order"))
        .when(F.col("status") == "match", F.lit("match"))
        .when(F.col("abs_err") <= 100, F.lit("err_le_100"))
        .when(F.col("abs_err") <= 10000, F.lit("err_le_10k"))
        .otherwise(F.lit("err_gt_10k"))
    )
    return rep.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.coalesce(F.col("abs_err"), F.lit(0).cast("decimal(12,2)")))
        .cast("double")
        .alias("total_abs_err"),
    )


def q_embedding_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column constraint validation (``checks.vector_violations``):
    dimension / NaN / squared-norm bounds over the embeddings table with
    SQL-reproducible injected corruption (modular arithmetic, so the
    DuckDB oracle rebuilds the identical corrupt table)."""
    from jsschema_spark.checks import vector_violations

    e = _t(spark, sf_dir, "embeddings")
    i = F.col("vec_id")
    nan = F.lit(float("nan")).cast("float")
    vec = (
        F.when(i % 97 == 0, F.concat(F.col("embedding"), F.array(F.lit(0.0).cast("float"))))
        .when(i % 89 == 3, F.transform(F.col("embedding"), lambda x: nan))
        .when(i % 83 == 7, F.transform(F.col("embedding"), lambda x: (x.cast("double") * 100.0).cast("float")))
        .when(i % 79 == 11, F.transform(F.col("embedding"), lambda x: F.lit(0.0).cast("float")))
        .when(i % 101 == 13, F.lit(None).cast("array<float>"))
        .otherwise(F.col("embedding"))
    )
    corrupted = e.select(i.alias("vec_id"), vec.alias("embedding"))
    out = vector_violations(
        corrupted, "vec_id", "embedding", expected_dim=64,
        norm_sq_min=0.25, norm_sq_max=4.0,
    )
    return out.select(F.col("id").alias("vec_id"), "reason")


def q_violations_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup of compiled-validator violation details by
    (order status × keyword) — subtotal rows distinguished with
    ``grouping()`` so a NULL grouping value can never masquerade as a
    rollup. One explode + one cube aggregate (map-side combined; the cube
    multiplies rows by the 4 grouping sets BEFORE the shuffle, but the
    exploded violation stream is already violation-count-sized, not
    table-sized)."""
    from jsschema_spark import parse_schema
    from jsschema_spark.compiler import TableValidator

    df = _t(spark, sf_dir, "orders", spread=True)
    tv = TableValidator(parse_schema(ORDERS_SCHEMA), df.schema)
    applied = tv.apply(df, with_violations=True)
    ex = applied.where(~F.col("valid")).select(
        "o_orderstatus", F.explode("violations").alias("v")
    ).select("o_orderstatus", F.col("v.keyword").alias("keyword"))
    cubed = ex.cube("o_orderstatus", "keyword").agg(
        F.count(F.lit(1)).alias("n"),
        F.grouping("o_orderstatus").alias("__g_s"),
        F.grouping("keyword").alias("__g_k"),
    )

    def label(col, g):
        return (
            F.when(F.col(g) == 1, F.lit("(all)"))
            .otherwise(F.coalesce(F.col(col), F.lit("__NULL__")))
        )

    return cubed.select(
        label("o_orderstatus", "__g_s").alias("status"),
        label("keyword", "__g_k").alias("keyword"),
        "n",
    )


def q_clip_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-level training-window segmentation of the clips table
    (``audio.clip_windows``): pure sequence+explode projection, payloads
    untouched."""
    from jsschema_spark.audio import clip_windows

    df = _clips_from_documents(spark, sf_dir)
    return clip_windows(df, win_ms=1000, hop_ms=500)


def q_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit audit of o_totalprice vs Benford's law
    (``stats.benford_report``) — digit extraction through exact DECIMAL
    rendering, expectations as compile-time literals."""
    from jsschema_spark.stats import benford_report

    return benford_report(_t(spark, sf_dir, "orders"), "o_totalprice")


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    (``events.transition_counts``): one user-keyed lag window + a
    state-pair-width count aggregate."""
    from jsschema_spark.functions.events import transition_counts

    ev = _t(spark, sf_dir, "events")
    return transition_counts(
        ev, "user_id", "ts", "event_type", order_cols=["event_id"]
    )


def q_incident_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (``events.interval_join``) of events against
    60 deterministic synthetic incident windows: time-bucketed equi-join
    (never the BroadcastNestedLoop a raw range predicate plans), exact
    containment as a post-filter, per-window event/user counts."""
    from jsschema_spark.functions.events import interval_join

    ev = _t(spark, sf_dir, "events")
    tstype = ev.schema["ts"].dataType
    wid = F.col("id").alias("window_id")
    base = F.lit("2024-01-01 00:00:00").cast(tstype)
    start = F.timestamp_add(
        "HOUR", (F.col("id") * 12 + (F.col("id") * 7) % 5).cast("int"), base
    )
    windows = spark.range(60).select(
        wid,
        start.alias("w_start"),
        F.timestamp_add(
            "HOUR", (F.lit(1) + (F.col("id") * 3) % 7).cast("int"), start
        ).alias("w_end"),
    )
    joined = interval_join(ev, windows, "ts", "w_start", "w_end")
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


def q_edit_distance_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-dup pairs (``dedup.edit_distance_near_dups``):
    prefix-blocked candidates + banded Levenshtein verify, over the corpus
    plus SQL-reproducible perturbed copies (``doc_id % 31 == 2`` docs get
    a 2-char suffix under a shifted id)."""
    from jsschema_spark.functions.dedup import edit_distance_near_dups

    d = _docs_ckpt(spark, sf_dir)
    pert = (
        d.where(F.col("doc_id") % 31 == 2)
        .select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit("zq")).alias("text"),
        )
    )
    docs = d.select("doc_id", "text").unionByName(pert)
    return edit_distance_near_dups(
        docs, "doc_id", "text", max_dist=3, prefix_len=12
    ).select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))


def q_psi_by_day_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift TREND (``stats.psi_by_period``): daily per-bin PSI terms of
    the event value stream against a static week-one baseline — one
    (day, bucket)-width aggregate, baseline histogram broadcast in,
    windows only over the aggregated rows."""
    from jsschema_spark.stats import psi_by_period

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-08 00:00:00").cast(ev.schema["ts"].dataType)
    base = ev.where(F.col("ts") < cut)
    cur = ev.where(F.col("ts") >= cut)
    out = psi_by_period(base, cur, "value", "ts", "day", 0.0, 500.0, nbins=10)
    return out.select(
        F.col("period_start").cast("date").alias("day"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("p_base", 6).alias("p_base_r"),
        F.round("p_cur", 6).alias("p_cur_r"),
        F.round("psi_term", 6).alias("psi_term_r"),
    )


def q_containment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (``dedup.containment_pairs``):
    quote/embedding detection the symmetric Jaccard family misses, over
    the corpus plus SQL-reproducible truncated copies (``doc_id % 23 ==
    5`` docs re-enter as their first 150 characters under a shifted id)."""
    from jsschema_spark.functions.dedup import containment_pairs

    d = _docs_ckpt(spark, sf_dir)
    pert = (
        d.where(F.col("doc_id") % 23 == 5)
        .select(
            (F.col("doc_id") + 4000000).alias("doc_id"),
            F.substring(F.col("text"), 1, 150).alias("text"),
        )
    )
    docs = d.select("doc_id", "text").unionByName(pert)
    out = containment_pairs(docs, "doc_id", "text", min_containment=0.8)
    return out.select(
        "id_a", "id_b", "shared",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("cont_a", 4).alias("cont_a_r"),
        F.round("cont_b", 4).alias("cont_b_r"),
    )


def q_emd_drift_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Wasserstein-1 drift (stats.emd_drift): l_quantity, full table
    vs the high-discount slice — sum(emd_r) is the earth-mover distance,
    the "how FAR did the mass move" scalar PSI and KS can't give. Exact
    integer cumsums over ≤nbins joined rows; both engines divide the same
    longs, so the doubles match bit-for-bit."""
    from jsschema_spark.stats import emd_drift

    base = _t(spark, sf_dir, "lineitem")
    cur = base.where(F.col("l_discount") > 0.02)
    out = emd_drift(base, cur, "l_quantity", 1.0, 51.0, nbins=10)
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("mass_surplus", 6).alias("surplus_r"),
        F.round("emd_term", 6).alias("emd_r"),
    )


def q_chisq_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen (stats.chisq_independence) between
    l_returnflag and l_linestatus — the cross-COLUMN dependence monitor.
    One (a,b)-cell aggregate; marginals are windows over the ≤|A|·|B|
    cell rows; expected counts are exact integer products divided once,
    IEEE-identical across engines."""
    from jsschema_spark.stats import chisq_independence

    li = _t(spark, sf_dir, "lineitem")
    out = chisq_independence(li, "l_returnflag", "l_linestatus")
    return out.select(
        "a", "b",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.round("n_exp", 4).alias("n_exp_r"),
        F.round("chisq_term", 4).alias("chisq_r"),
    )


def q_rolling_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day ingest-volume anomaly (stats.rolling_count_anomaly): daily
    event counts z-scored against the trailing week — the "did the feed
    double or die today" monitor. One map-side-combined per-day count;
    the trailing window orders #days result rows only."""
    from jsschema_spark.stats import rolling_count_anomaly

    ev = _t(spark, sf_dir, "events")
    out = rolling_count_anomaly(ev, "ts", "day", trailing=7, min_history=3)
    return out.select(
        F.col("period_start").cast("date").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.round("trail_mean", 4).alias("mean_r"),
        F.round("trail_std", 4).alias("std_r"),
        F.round("z", 4).alias("z_r"),
    )


def q_unigram_kl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift (text.unigram_kl): per-token KL(cur‖ref)
    contributions of the non-English stratum against the English one —
    names WHICH tokens moved, not just that doc-level scores shifted.
    Ranked by the pure-rational raw-frequency gap (engine-portable);
    the libm-dependent kl_term is rounded payload."""
    from jsschema_spark.functions.text import unigram_kl

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("lang") == "en")
    cur = docs.where(F.col("lang") != "en")
    out = unigram_kl(ref, cur, "text", k=50)
    return out.select(
        "token", "n_ref", "n_cur",
        F.round("freq_gap", 6).alias("gap_r"),
        F.round("kl_term", 6).alias("kl_r"),
    )


def q_dup_sizes_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup sizing report (dedup.dup_group_size_histogram): count-of-counts
    of exact-duplicate group sizes over the injected-dup corpus — two
    map-side-combined aggregations, no window/join/ids, the contraction
    that stays cheap even when one boilerplate fingerprint owns half the
    corpus."""
    from jsschema_spark.functions.dedup import dup_group_size_histogram

    df = _docs_with_dups(spark, sf_dir)

    def md5_fp(c):
        return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))

    out = dup_group_size_histogram(df, "text", fingerprint_fn=md5_fp)
    return out.select(
        F.col("group_size").cast("long").alias("group_size"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def q_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix balance audit (stats.categorical_entropy): per-source
    Shannon entropy of the lang column — entropy ≈ 0 flags a source one
    language swamped. Two tiny aggregations (cells → groups); entropy
    falls out of one Σ n·ln n pass."""
    from jsschema_spark.stats import categorical_entropy

    docs = _t(spark, sf_dir, "documents")
    out = categorical_entropy(docs, "source", "lang")
    return out.select(
        "source",
        "n_rows",
        "n_cats",
        F.round("entropy", 6).alias("entropy_r"),
        F.round("entropy_norm", 6).alias("norm_r"),
    )


def q_bigram_pmi_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (text.bigram_pmi): top adjacent-word bigrams
    with PMI — the phrase detector a vocab-building pass runs, and a
    template-spam screen. Ranked by (count DESC, bigram ASC) — pure
    integers, engine-portable; the ln-based PMI is rounded payload."""
    from jsschema_spark.functions.text import bigram_pmi

    docs = _t(spark, sf_dir, "documents")
    out = bigram_pmi(docs, "text", k=40, min_count=5)
    return out.select(
        "bigram", "n_bigram", "n_w1", "n_w2",
        F.round("pmi", 6).alias("pmi_r"),
    )


def q_cooccurrence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence (events.cooccurrence_counts): for every
    unordered pair of event types, how many (user, day) entities saw
    both — association supports + instrumentation-mixup screen. The
    quadratic step runs on per-entity collapsed type SETS (bounded by
    the event-type vocabulary), never on event rows."""
    from jsschema_spark.functions.events import cooccurrence_counts

    ev = _t(spark, sf_dir, "events", spread=True).withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    return cooccurrence_counts(ev, ["user_id", "day"], "event_type", min_support=5)


def q_centroid_drift_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift (similarity.centroid_drift): per-(label, dim)
    centroid shift between the even- and odd-id vector populations —
    catches a model swap / poisoned feed at the class level. Two
    (label × dim)-width averages + one cell-row join."""
    from jsschema_spark.functions.similarity import centroid_drift

    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.where(F.col("vec_id") % 2 == 0)
    cur = emb.where(F.col("vec_id") % 2 == 1)
    out = centroid_drift(ref, cur, "label", "embedding")
    return out.select(
        F.col("label").cast("long").alias("label"),
        "dim",
        F.round("mean_ref", 6).alias("mean_ref_r"),
        F.round("mean_cur", 6).alias("mean_cur_r"),
        F.round("delta", 6).alias("delta_r"),
    )


def q_duplicate_charges_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge screen (checks.duplicate_charges): same customer,
    identical amount, within 30 days — over the orders table with
    injected resubmissions (the clean synthetic corpus has no natural
    exact-amount repeats, so the screen's hits are provably exactly the
    injection). Composite (key, amount) self-equi-join, no windows."""
    from jsschema_spark.checks import duplicate_charges

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey", "o_orderdate"
    )
    injected = o.where(F.col("o_orderkey") % 997 == 3).select(
        "o_custkey", "o_totalprice",
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        (F.col("o_orderdate") + F.expr("INTERVAL 5 DAYS")).alias("o_orderdate"),
    )
    u = o.unionByName(injected)
    out = duplicate_charges(
        u, "o_custkey", "o_totalprice", "o_orderdate", "o_orderkey", max_gap_days=30
    )
    return out.select(
        "o_custkey", "id_a", "id_b",
        F.round("o_totalprice", 2).alias("amount_r"),
        _EPOCH_US(F.col("ts_a")).alias("ts_a_us"),
        _EPOCH_US(F.col("ts_b")).alias("ts_b_us"),
        "gap_days",
    )


def q_time_to_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel timing (events.time_to_conversion): per-user latency from
    first view to the first purchase at-or-after it; never-converted
    users stay as null-latency rows. Two per-user min aggregates + one
    user-keyed join — no windows, no history collection."""
    from jsschema_spark.functions.events import time_to_conversion

    ev = _t(spark, sf_dir, "events")
    out = time_to_conversion(ev, "user_id", "ts", "event_type", "view", "purchase")
    return out.select(
        "user_id",
        _EPOCH_US(F.col("first_start")).alias("first_view_us"),
        _EPOCH_US(F.col("first_conversion")).alias("first_conv_us"),
        "secs_to_convert",
    )


def q_quantile_check_lineitem(
    spark: SparkSession, sf_dir: str, exact: bool = True
) -> DataFrame:
    """Distribution-level contract (stats.quantile_range_check): per-flag
    p50/p95/p99 of l_extendedprice against declared SLO-style bounds —
    exact mode here because Spark's interpolated percentile is verified
    bit-identical to DuckDB's quantile_cont (R-7); production uses the
    percentile_approx sketch (``exact=False`` — what bench.py times as
    the headline)."""
    from jsschema_spark.stats import quantile_range_check

    li = _t(spark, sf_dir, "lineitem")
    out = quantile_range_check(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        bounds={0.5: (20000.0, 60000.0), 0.95: (None, 80000.0), 0.99: (None, 110000.0)},
        exact=exact,
    )
    return out.select(
        "l_returnflag",
        F.round("quantile", 2).alias("q"),
        F.round("value", 4).alias("value_r"),
        "lo", "hi", "ok",
    )


def q_order_violations_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal-order integrity (checks.order_violations): users whose first
    purchase precedes their first signup — or who purchased without ever
    signing up. Two per-user conditional mins + one filter, no windows."""
    from jsschema_spark.checks import order_violations

    ev = _t(spark, sf_dir, "events")
    out = order_violations(ev, "user_id", "ts", "event_type", "signup", "purchase")
    return out.select(
        "user_id",
        _EPOCH_US(F.col("first_before")).alias("first_signup_us"),
        _EPOCH_US(F.col("first_after")).alias("first_purchase_us"),
        "reason",
    )


def q_winsorized_lineitem(
    spark: SparkSession, sf_dir: str, exact: bool = True
) -> DataFrame:
    """Outlier capping (stats.winsorize): l_extendedprice clamped to the
    per-flag [p01, p99] band (exact R-7 mode for oracle parity; production
    uses the sketch — ``exact=False``, the bench.py headline). Only the
    clamped tail rows surface — the rows the treatment actually changed."""
    from jsschema_spark.stats import winsorize

    li = _t(spark, sf_dir, "lineitem")
    out = winsorize(
        li, "l_extendedprice", ["l_returnflag"], lo_q=0.01, hi_q=0.99, exact=exact
    )
    return out.where(F.col("l_extendedprice_w") != F.col("l_extendedprice")).select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.round("l_extendedprice", 2).alias("price_r"),
        F.round("l_extendedprice_w", 4).alias("capped_r"),
    )


def q_payload_size_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation screen without decoding (audio.payload_size_check):
    metadata-derived expected WAV byte size vs actual payload length over
    the oracle-reproducible clips table — pure Catalyst, only length()
    touches the payload. Grouped to (codec, size_status) counts with the
    summed expectation as the hash signal."""
    from jsschema_spark.audio import payload_size_check

    df = _clips_from_documents(spark, sf_dir)
    out = payload_size_check(df)
    return out.groupBy("codec", "size_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.sum("expected_bytes").cast("long").alias("total_expected"),
        F.sum("actual_bytes").cast("long").alias("total_actual"),
    )


def q_mad_outliers_lineitem(
    spark: SparkSession, sf_dir: str, exact: bool = True
) -> DataFrame:
    """Median/MAD robust outlier screen (stats.robust_outliers) per
    returnflag on l_extendedprice, exact mode for oracle parity
    (``exact=False`` sketch mode is the bench.py headline), with a
    planted 100× fat-finger stripe (%1009) the screen must catch while
    flagging zero organic rows. Grouped summary keeps the hash signal
    tight: group medians/MADs + outlier counts."""
    from jsschema_spark.stats import robust_outliers

    base = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    spiked = base.withColumn(
        "price",
        F.when(
            F.col("l_orderkey") % 1009 == 0, F.col("l_extendedprice") * 100
        ).otherwise(F.col("l_extendedprice")),
    )
    out = robust_outliers(spiked, "price", ["l_returnflag"], k=3.5, exact=exact)
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.first("__med"), 4).alias("med_r"),
        F.round(F.first("__mad"), 4).alias("mad_r"),
        F.sum(F.col("is_outlier").cast("long")).cast("long").alias("n_outliers"),
    )


def q_k_anonymity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity privacy screen (checks.k_anonymity_report) over the
    (nation, market-segment) quasi-identifier at k=8: every QI group with
    its size and at-risk flag — min(group_n) is the dataset's anonymity
    parameter, the at_risk rows are what suppression would drop (the
    k_anonymize path is pytest-covered incl. null-safe semantics)."""
    from jsschema_spark.checks import k_anonymity_report

    df = _t(spark, sf_dir, "customer")
    return k_anonymity_report(df, ["c_nationkey", "c_mktsegment"], k=8).select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_mktsegment",
        "group_n",
        "at_risk",
    )


def q_corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pairwise Pearson matrix (stats.correlation_matrix) over
    the four lineitem numerics — C(4,2)=6 pairs from ONE aggregation; the
    quantity↔extendedprice pair is the strong-positive canary whose drop
    would flag a broken price join. DuckDB corr is the oracle (identical
    pairwise-complete semantics)."""
    from jsschema_spark.stats import correlation_matrix

    df = _t(spark, sf_dir, "lineitem")
    out = correlation_matrix(
        df, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    return out.select(
        "col_a", "col_b", F.round("corr", 6).alias("corr_r"), "n"
    )


def q_price_trend_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority least-squares trend (stats.group_trend) of order value
    over the order-date day number — drift as a direction, one regression
    aggregation. Day number = datediff from a fixed epoch so both engines
    compute the identical integer x (no timezone in sight)."""
    from jsschema_spark.stats import group_trend

    df = _t(spark, sf_dir, "orders").withColumn(
        "day_no",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).cast("double"),
    )
    out = group_trend(df, "o_totalprice", "day_no", ["o_orderpriority"])
    return out.select(
        "o_orderpriority",
        F.round("slope", 6).alias("slope_r"),
        F.round("intercept", 4).alias("intercept_r"),
        F.round("r2", 8).alias("r2_r"),
        "n_pairs",
    )


def q_rolling_actives_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct active users (events.rolling_distinct_actives)
    in exact mode for oracle parity — per-period dedupe, broadcast anchor
    range-join, COUNT(DISTINCT) per anchor. The default HLL-sketch path
    (windowing over per-day sketches, never row-scale data) is
    pytest-equal on this cardinality."""
    from jsschema_spark.functions.events import rolling_distinct_actives

    df = _t(spark, sf_dir, "events", spread=True)
    out = rolling_distinct_actives(df, "ts", "user_id", 7, exact=True)
    return out.select(F.col("period").cast("date").alias("day"), "n_active")


def q_audio_bandwidth_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsample-fraud screen over REAL WAVs synthesized in-Spark: each
    doc_id deterministically becomes a sine clip (or silence / garbage),
    is wav_encode'd, decoded back, FFT'd (audio._spectral_rows — the
    production spectral scan kernel) and classified by
    audio.bandwidth_check. The oracle never sees a byte: every status is
    an arithmetic consequence of the doc_id formulas (a 0.8-2.6 kHz tone
    in a 44.1 kHz container is band-limited with ratio ≤ 0.12 vs the 0.25
    threshold; a 2.4-6 kHz tone at 16 kHz is full-band at ≥ 0.3), so a
    hash match certifies the entire encode→decode→FFT→classify path."""
    import numpy as np

    from jsschema_spark.audio import (
        SPECTRAL_ROW_SCHEMA,
        _spectral_rows,
        bandwidth_check,
        wav_encode,
    )

    i = F.col("doc_id")
    kind = (i % 10).cast("int")
    sr = (
        F.when(kind == 0, F.lit(16000))
        .when(kind == 1, F.lit(44100))
        .when(kind <= 5, F.lit(44100))
        .otherwise(F.lit(16000))
    )
    freq = F.when(kind <= 5, F.lit(800) + (i % 7) * 300).otherwise(
        F.lit(2400) + (i % 5) * 900
    )

    def synth(doc_id, k, s, f_hz, d):
        if k == 1:
            return b"corrupt payload"
        n = s * d // 1000
        if k == 0:
            return wav_encode(np.zeros(n, dtype=np.int16), s)
        t = np.arange(n, dtype=np.float64) / float(s)
        return wav_encode(
            (8000.0 * np.sin(2.0 * np.pi * float(f_hz) * t)).astype(np.int16), s
        )

    feats = _synth_clips(
        spark, sf_dir,
        [
            kind.alias("kind"),
            sr.cast("int").alias("sr_hz"),
            freq.cast("int").alias("freq_hz"),
            (F.lit(300) + (i % 5) * 100).cast("int").alias("dur_ms"),
        ],
        synth,
        lambda pdf, outs: _spectral_rows(pdf["clip_id"], outs).assign(sr_hz=pdf["sr_hz"].to_numpy()),
        T.StructType(
            [*SPECTRAL_ROW_SCHEMA.fields, T.StructField("sr_hz", T.IntegerType())]
        ),
    )
    out = bandwidth_check(feats)
    return out.groupBy("sr_hz", "band_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips")
    )


def q_join_profile_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join explosion diagnostic (checks.join_profile): key overlap +
    exact predicted inner-join size for orders⋈lineitem computed from the
    per-key COUNT tables only — the row-scale sides are scanned once each
    and never joined."""
    from jsschema_spark.checks import join_profile

    return join_profile(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        "o_orderkey",
        "l_orderkey",
    )


def q_mi_documents_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information lang↔source (stats.mutual_information): how many
    nats of the language does the source leak — the label-leakage screen.
    One row-scale agg to the contingency cells; everything after runs over
    #cells rows."""
    from jsschema_spark.stats import mutual_information

    df = _t(spark, sf_dir, "documents")
    out = mutual_information(df, "lang", "source")
    return out.select(
        F.round("mi_nats", 8).alias("mi_r"),
        F.round("h_a", 8).alias("h_lang_r"),
        F.round("h_b", 8).alias("h_source_r"),
        F.round("nmi", 8).alias("nmi_r"),
        "n_rows",
        "n_cells",
    )


def q_heartbeat_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap screen (events.heartbeat_gaps) at a 1-day
    SLA: max gap, gaps-over count, and the trailing gap to the stream's
    latest event — the dead-sensor signal. Gap values are timestamp
    DIFFERENCES, so epoch-base conventions cancel across engines."""
    from jsschema_spark.functions.events import heartbeat_gaps

    df = _t(spark, sf_dir, "events")
    out = heartbeat_gaps(df, "ts", "user_id", 86400.0)
    return out.select(
        "user_id",
        "n_events",
        F.round("max_gap_s", 3).alias("max_gap_r"),
        "n_gaps_over",
        F.round("trailing_gap_s", 3).alias("trailing_gap_r"),
    )


def q_audio_profile_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recording-quality gate over REAL WAVs synthesized in-Spark (the
    audio_bandwidth_clips pattern): clipped captures (amp 40000 saturates
    ~39% of samples — far over the 1% gate), DC-offset captures (+2000
    bias ≫ the 100 gate; a pure sine's residue is <20), silence, garbage,
    and clean sines, decoded and profiled by audio._profile_rows (the
    production PCM kernel) then classified by audio.profile_check. The
    oracle is pure doc_id arithmetic: a hash match certifies the
    encode→decode→profile→classify path."""
    import numpy as np

    from jsschema_spark.audio import PROFILE_ROW_SCHEMA, _profile_rows, profile_check, wav_encode

    sr = 16000

    def synth(doc_id, k, f_hz, d):
        if k == 1:
            return b"corrupt payload"
        n = sr * d // 1000
        if k == 0:
            return wav_encode(np.zeros(n, dtype=np.int16), sr)
        amp = 40000.0 if k in (2, 3) else 8000.0
        off = 2000.0 if k in (4, 5) else 0.0
        t = np.arange(n, dtype=np.float64) / sr
        wave = amp * np.sin(2.0 * np.pi * float(f_hz) * t) + off
        return wav_encode(np.clip(wave, -32768, 32767).astype(np.int16), sr)

    i = F.col("doc_id")
    feats = _synth_clips(
        spark, sf_dir,
        [
            (i % 8).cast("int").alias("kind"),
            (F.lit(500) + (i % 5) * 400).cast("int").alias("freq_hz"),
            (F.lit(300) + (i % 4) * 100).cast("int").alias("dur_ms"),
        ],
        synth, lambda pdf, outs: _profile_rows(pdf["clip_id"], outs),
        PROFILE_ROW_SCHEMA,
    )
    out = profile_check(feats)
    return out.groupBy("profile_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips")
    )


def q_zipf_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary power-law health check (text.zipf_fit): ln-freq ~
    ln-rank regression over the top-500 whitespace tokens — drifting far
    from slope ≈ −1 flags machine-generated or template-spam text."""
    from jsschema_spark.functions.text import zipf_fit

    df = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    out = zipf_fit(df, "text", top_n=500)
    return out.select(
        F.round("zipf_slope", 6).alias("slope_r"),
        F.round("zipf_r2", 6).alias("r2_r"),
        "n_tokens_used",
        "n_occurrences",
    )


def q_anisotropy_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space collapse screen (linalg.anisotropy_report) over the
    embeddings table — one coordinate-keyed agg, JVM-only."""
    from jsschema_spark.functions.linalg import anisotropy_report

    df = _t(spark, sf_dir, "embeddings")
    out = anisotropy_report(df, "embedding")
    return out.select(
        "dim",
        "n_vecs",
        F.round("mean_norm", 5).alias("mean_norm_r"),
        F.round("rms_norm", 5).alias("rms_norm_r"),
        F.round("anisotropy", 6).alias("anisotropy_r"),
    )


def q_transcript_vad_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript↔audio integrity via VAD-active time
    (audio.transcript_vad_consistency) over in-Spark synth WAVs run
    through the production VAD kernel (audio._vad_rows): fabricated
    transcripts over silence, dropped transcripts over speech, and rates
    measured against the seconds someone actually talked (1 token over
    4 s of speech = 0.25 tok/s → too_slow; 30 over 1 s → too_fast). Tone
    spans are frame-aligned (300 ms pads, 20 ms frames) so VAD-active
    time is arithmetically exact and the oracle is doc_id formulas
    only."""
    import numpy as np

    from jsschema_spark.audio import (
        VAD_ROW_SCHEMA,
        _vad_rows,
        transcript_vad_consistency,
        wav_encode,
    )

    sr = 16000
    sil = np.zeros(sr * 300 // 1000, dtype=np.int16)

    def tone(ms, f_hz=440.0):
        t = np.arange(sr * ms // 1000, dtype=np.float64) / sr
        return (8000.0 * np.sin(2.0 * np.pi * f_hz * t)).astype(np.int16)

    def synth(doc_id, k, n_tokens):
        if k == 4:
            return b"corrupt payload"
        if k == 0:
            return wav_encode(np.zeros(sr * 16 // 10, dtype=np.int16), sr)
        return wav_encode(np.concatenate([sil, tone(4000 if k == 5 else 1000), sil]), sr)

    i = F.col("doc_id")
    kind = (i % 6).cast("int")
    n_tok = (
        F.when(kind == 1, F.lit(0))
        .when(kind == 3, F.lit(30))
        .when(kind == 5, F.lit(1))
        .otherwise(F.lit(3))
    )
    segs = _synth_clips(
        spark, sf_dir,
        [kind.alias("kind"), n_tok.cast("int").alias("n_tokens")],
        synth,
        lambda pdf, outs: _vad_rows(pdf["clip_id"], outs).merge(pdf[["clip_id", "n_tokens"]]),
        T.StructType(
            [*VAD_ROW_SCHEMA.fields, T.StructField("n_tokens", T.IntegerType())]
        ),
    )
    per_clip = segs.groupBy("clip_id").agg(
        F.coalesce(
            F.sum(
                F.when(F.col("seg_idx") >= 0, F.col("end_ms") - F.col("start_ms"))
            ),
            F.lit(0.0),
        ).alias("active_ms"),
        F.first("decode_ok").alias("decode_ok"),
        F.first("n_tokens").alias("n_tokens"),
    )
    out = transcript_vad_consistency(per_clip)
    return out.groupBy("vad_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips")
    )


def q_decimal_grid_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monetary-grid integrity (stats.decimal_grid_check) per returnflag
    with a planted price/3 corruption stripe (%97): the float-division
    bug a range check can't see. Floor-based residual — rounding-mode
    independent, so both engines agree to the bit."""
    from jsschema_spark.stats import decimal_grid_check

    df = _t(spark, sf_dir, "lineitem").withColumn(
        "price",
        F.when(
            F.col("l_orderkey") % 97 == 0, F.col("l_extendedprice") / 3.0
        ).otherwise(F.col("l_extendedprice")),
    )
    out = decimal_grid_check(df, "price", 2, ["l_returnflag"])
    return out.select(
        "l_returnflag",
        "n_rows",
        "n_off_grid",
        F.round("off_grid_frac", 6).alias("off_frac_r"),
        F.round("max_abs_residual", 6).alias("max_resid_r"),
    )


def q_mask_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-shape profile (stats.mask_profile) of customer names: the
    top run-collapsed character-class masks — one healthy mask owns the
    column; a second mask appearing is the format regression."""
    from jsschema_spark.stats import mask_profile

    df = _t(spark, sf_dir, "customer", spread=True)
    return mask_profile(df, "c_name", k=20)


def q_null_rate_by_day_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day null-rate matrix (stats.null_rate_by_period) with a planted
    outage: value goes dark for even event_ids from Jan 15 on — row counts
    stay healthy, only the null matrix sees it. One period-keyed agg for
    all columns, literal unpivot after."""
    from jsschema_spark.stats import null_rate_by_period

    df = _t(spark, sf_dir, "events").withColumn(
        "value",
        F.when(
            (F.col("event_id") % 2 == 0)
            & (F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")),
            F.lit(None).cast("double"),
        ).otherwise(F.col("value")),
    )
    out = null_rate_by_period(df, "ts", ["value", "props"], period="day")
    return out.select(
        F.col("period").cast("date").alias("day"),
        "column",
        "n_rows",
        "n_null",
        F.round("null_frac", 6).alias("null_frac_r"),
    )


def q_temporal_ref_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 temporal referential check
    (checks.temporal_referential_violations): orders must reference a
    priority rate-card VERSION valid at order time — version gaps, late
    starts, expiries and a missing key (5-LOW) all planted in a literal
    dim; broadcast anti-join, zero shuffle of the fact stream. Violations
    grouped per priority."""
    from jsschema_spark.checks import temporal_referential_violations

    fact = _t(spark, sf_dir, "orders")
    dim_rows = [
        ("1-URGENT", "1995-01-01 00:00:00", "1999-01-01 00:00:00"),
        ("2-HIGH", "1996-01-01 00:00:00", None),
        ("3-MEDIUM", "1995-01-01 00:00:00", None),
        ("4-NOT SPECIFIED", "1995-01-01 00:00:00", "1997-01-01 00:00:00"),
        ("4-NOT SPECIFIED", "1998-01-01 00:00:00", None),
    ]
    from jsschema_spark.localdf import local_df

    dim = local_df(
        spark, dim_rows, "prio string, vf string, vt string"
    ).select(
        "prio",
        F.col("vf").cast("timestamp_ntz").alias("valid_from"),
        F.col("vt").cast("timestamp_ntz").alias("valid_to"),
    )
    bad = temporal_referential_violations(
        fact, dim, {"o_orderpriority": "prio"}, "o_orderdate", broadcast_dim=True
    )
    return bad.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_violations")
    )


def q_duration_check_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-lie detector (audio.duration_check) over in-Spark synth
    WAVs: catalog says 16 kHz / 1000 ms; planted defects encode at 8 kHz
    (sr_mismatch — wrong playback speed) or for 1400 ms
    (duration_mismatch), both invisible to the decode-free size screen
    when the byte count happens to satisfy it. Oracle = doc_id
    formulas."""
    import numpy as np

    from jsschema_spark.audio import PROFILE_ROW_SCHEMA, _profile_rows, duration_check, wav_encode

    def synth(doc_id, k):
        if k == 3:
            return b"corrupt payload"
        sr = 8000 if k == 1 else 16000
        ms = 1400 if k == 2 else 1000
        t = np.arange(sr * ms // 1000, dtype=np.float64) / sr
        return wav_encode((8000.0 * np.sin(2.0 * np.pi * 440.0 * t)).astype(np.int16), sr)

    feats = _synth_clips(
        spark, sf_dir, [(F.col("doc_id") % 5).cast("int").alias("kind")],
        synth, lambda pdf, outs: _profile_rows(pdf["clip_id"], outs),
        PROFILE_ROW_SCHEMA,
    )
    out = duration_check(
        feats.withColumns({"sr_hz_meta": F.lit(16000), "dur_ms_meta": F.lit(1000)})
    )
    return out.groupBy("dur_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips")
    )


def q_concentration_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-balance screen (stats.concentration_report): how evenly is
    character mass spread across sources — Gini, HHI and the share held
    by the top 20% of sources; one row-scale agg, everything after over
    #sources rows."""
    from jsschema_spark.stats import concentration_report

    df = _t(spark, sf_dir, "documents")
    out = concentration_report(df, "source", "n_chars", top_frac=0.2)
    return out.select(
        "n_groups",
        F.round("total_weight", 2).alias("total_w_r"),
        F.round("gini", 8).alias("gini_r"),
        F.round("hhi", 8).alias("hhi_r"),
        F.round("top_share", 8).alias("top_share_r"),
    )


def q_distinctive_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive terms (text.distinctive_terms): tf·idf with
    each source as one "document" — the crawler-boilerplate signature
    detector. Top-3 per source, deterministic ties."""
    from jsschema_spark.functions.text import distinctive_terms

    df = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    out = distinctive_terms(df, "source", "text", k=3, min_count=2)
    return out.select(
        "source", "token", "n", F.round("score", 6).alias("score_r")
    )


def q_monotonic_counter_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-monotonicity screen (checks.monotonicity_violations): a
    per-order running-quantity counter with a planted −50 glitch on line
    3 of every %211 order — the odometer-reset / replayed-partition bug.
    One lag window on the entity key, violations-only output."""
    from pyspark.sql import Window

    from jsschema_spark.checks import monotonicity_violations

    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    df = (
        _t(spark, sf_dir, "lineitem")
        .withColumn("counter", F.sum("l_quantity").over(w))
        .withColumn(
            "counter",
            F.when(
                (F.col("l_orderkey") % 211 == 0) & (F.col("l_linenumber") == 3),
                F.col("counter") - 50,
            ).otherwise(F.col("counter")),
        )
    )
    out = monotonicity_violations(df, "l_orderkey", "l_linenumber", "counter")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("prev_val", 4).alias("prev_r"),
        F.round("value", 4).alias("value_r"),
        F.round("drop", 4).alias("drop_r"),
    )


def q_ab_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A-test harness (events.ab_test_report): portable-hash 50/50 user
    split, per-arm purchase conversion, pooled two-proportion z. With no
    treatment anywhere, |z| ≫ 2 would indict the metric pipeline itself —
    the deterministic hash makes the whole readout bit-reproducible
    across engines."""
    from jsschema_spark.functions.events import ab_test_report

    df = _t(spark, sf_dir, "events")
    out = ab_test_report(df, "user_id", F.col("event_type") == "purchase")
    return out.select(
        "n_a", "n_b", "conv_a", "conv_b",
        F.round("rate_a", 8).alias("rate_a_r"),
        F.round("rate_b", 8).alias("rate_b_r"),
        F.round("lift", 8).alias("lift_r"),
        F.round("z", 6).alias("z_r"),
    )


def _audio_normalize(spark: SparkSession, sf_dir: str, resample) -> DataFrame:
    """Mixed-rate (8/16/44.1 kHz), mixed-gain (quiet/hot/reference) synth
    WAVs run through the library's normalize loop (audio._normalize_rows:
    resample to 16 kHz by ``resample``, gain-normalize to −20 dBFS,
    re-encode), then re-DECODED and re-profiled by audio._profile_rows in
    the same Arrow stage; a clip counts 'normalized' only if its output
    WAV decodes at 16 kHz with RMS within 1 dB of target. Counts per
    (orig_sr, status)."""
    import numpy as np
    import pandas as pd

    from jsschema_spark.audio import _normalize_rows, _profile_rows, wav_encode

    cfg = {0: (8000, 500.0), 1: (44100, 28000.0), 2: (16000, 8000.0)}

    def synth(doc_id, k):
        if k == 3:
            return b"corrupt payload"
        sr, amp = cfg[k]
        t = np.arange(sr // 2, dtype=np.float64) / sr
        return wav_encode((amp * np.sin(2.0 * np.pi * 440.0 * t)).astype(np.int16), sr)

    def rows(pdf, outs):
        norm = _normalize_rows(pdf["clip_id"], outs, resample, 16000, -20.0)
        prof = _profile_rows(norm["clip_id"], norm["bytes"])
        ok = (prof["sr_hz"] == 16000) & ((prof["rms_dbfs"] + 20.0).abs() < 1.0)
        status = np.where(ok, "normalized", "off_target")
        return pd.DataFrame({
            "orig_sr": [cfg[k][0] if k in cfg else 0 for k in pdf["kind"]],
            "status": np.where(norm["decode_ok"], status, "undecodable"),
        })

    feats = _synth_clips(
        spark, sf_dir, [(F.col("doc_id") % 4).cast("int").alias("kind")],
        synth, rows, "orig_sr int, status string",
    )
    return feats.groupBy("orig_sr", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips")
    )


def q_audio_normalize_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-normalization TRANSFORM verified end-to-end (see
    ``_audio_normalize``) with linear-interpolation resampling
    (audio.resample_linear + normalize_gain — the fix path for what the
    gates catch). The analytic oracle demands every decodable clip make
    it — certifying synth→normalize→encode→decode→measure round-trip."""
    from jsschema_spark.audio import resample_linear

    return _audio_normalize(spark, sf_dir, resample_linear)


def q_multi_drift_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table drift battery in ONE scan per side
    (stats.multi_drift): lineitem split at ship-date 1998-01-01, current
    side given a planted +5% price inflation — price drifts, quantity/
    discount/tax stay flat, all four measured from a single (column,
    bucket) aggregation per side."""
    from jsschema_spark.stats import multi_drift

    li = _t(spark, sf_dir, "lineitem")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    base = li.where(F.col("l_shipdate") < cut)
    cur = li.where(F.col("l_shipdate") >= cut).withColumn(
        "l_extendedprice", F.col("l_extendedprice") * 1.05
    )
    out = multi_drift(
        base,
        cur,
        {
            "l_quantity": (0.0, 55.0),
            "l_extendedprice": (0.0, 130000.0),
            "l_discount": (0.0, 0.12),
            "l_tax": (0.0, 0.1),
        },
        nbins=20,
    )
    return out.select(
        "column",
        "n_base",
        "n_cur",
        F.round("psi", 6).alias("psi_r"),
        F.round("ks", 6).alias("ks_r"),
    )


def q_qq_drift_lineitem(
    spark: SparkSession, sf_dir: str, exact: bool = True
) -> DataFrame:
    """Q-Q drift localization (stats.qq_drift, exact mode for oracle
    parity; ``exact=False`` sketch mode is the bench.py headline): same
    ship-date split + planted +5% price inflation as multi_drift — here
    every probe quantile moves by ≈5% together, the wholesale-shift
    signature (a fattened tail would move only p95/p99)."""
    from jsschema_spark.stats import qq_drift

    li = _t(spark, sf_dir, "lineitem")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    base = li.where(F.col("l_shipdate") < cut)
    cur = li.where(F.col("l_shipdate") >= cut).withColumn(
        "l_extendedprice", F.col("l_extendedprice") * 1.05
    )
    out = qq_drift(base, cur, "l_extendedprice", exact=exact)
    return out.select(
        "p",
        F.round("q_base", 4).alias("q_base_r"),
        F.round("q_cur", 4).alias("q_cur_r"),
        F.round("gap", 4).alias("gap_r"),
        F.round("rel_gap", 6).alias("rel_gap_r"),
    )


def q_twa_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value
    (events.time_weighted_avg): step-function weighting corrects the
    chatty-period bias of the plain mean; both reported so the bias is
    visible. Gap math is timestamp differences — epoch conventions
    cancel."""
    from jsschema_spark.functions.events import time_weighted_avg

    df = _t(spark, sf_dir, "events")
    out = time_weighted_avg(df, "user_id", "ts", "value")
    return out.select(
        "user_id",
        "n_obs",
        F.round("span_s", 3).alias("span_r"),
        F.round("twa", 6).alias("twa_r"),
        F.round("plain_avg", 6).alias("avg_r"),
    )


def q_corpus_overlap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot provenance (dedup.corpus_overlap): current snapshot =
    every %4==0 doc carried verbatim + every %4==1 doc rewritten — the
    carryover fraction the re-crawl must report. md5 fingerprint mode for
    oracle parity."""
    from jsschema_spark.functions.dedup import corpus_overlap

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    base = docs.select("text")
    cur = (
        docs.where(F.col("doc_id") % 4 == 0)
        .select("text")
        .unionByName(
            docs.where(F.col("doc_id") % 4 == 1).select(
                F.concat(F.col("text"), F.lit(" fresh suffix")).alias("text")
            )
        )
    )

    def md5_fp(c):
        return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))

    out = corpus_overlap(base, cur, "text", fingerprint_fn=md5_fp)
    return out.select(
        "n_base_docs",
        "n_cur_docs",
        "n_base_fps",
        "n_cur_fps",
        "n_shared_fps",
        "cur_docs_from_base",
        F.round("carryover_frac", 6).alias("carryover_r"),
    )


def q_burstiness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival burstiness (events.burstiness_report): the
    Goh-Barabási B = (σ−μ)/(σ+μ) of gap times — a rate-limited bot hides
    from volume screens but its metronome regularity (B → −1) gives it
    away. Gaps are timestamp differences; moments via avg/stddev_samp on
    both engines."""
    from jsschema_spark.functions.events import burstiness_report

    df = _t(spark, sf_dir, "events")
    out = burstiness_report(df, "user_id", "ts")
    return out.select(
        "user_id",
        "n_events",
        F.round("mean_gap_s", 3).alias("mean_gap_r"),
        F.round("std_gap_s", 3).alias("std_gap_r"),
        F.round("burstiness", 6).alias("burstiness_r"),
    )


def q_audio_alignment_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-dup verification (audio.xcorr_offset): per doc_id a
    deterministic noise clip is compared against a silence-padded copy of
    itself at a known offset (0/50/100 ms) or against unrelated noise —
    the cross-correlation peak must recover the exact planted lag with
    score ≈ 1 (or reject the unrelated pair). Oracle = doc_id formulas;
    a hash match certifies lag AND score behavior of the alignment
    kernel."""
    import numpy as np

    from jsschema_spark.audio import xcorr_offset

    sr = 16000

    def synth(doc_id, k):
        rng = np.random.default_rng(doc_id + 1)
        b = rng.normal(0, 3000, 4000).astype(np.int16)
        if k == 3:
            a = rng.normal(0, 3000, 4800).astype(np.int16)
            _, score = xcorr_offset(a, b)
            return "no_alignment" if score < 0.5 else "false_match"
        shift = {0: 800, 1: 1600, 2: 0}[k]
        lag, score = xcorr_offset(np.concatenate([np.zeros(shift, dtype=np.int16), b]), b)
        return f"aligned_{shift * 1000 // sr}ms" if lag == shift and score > 0.9 else "missed"

    feats = _synth_clips(
        spark, sf_dir, [(F.col("doc_id") % 4).cast("int").alias("kind")],
        synth, _tuples, "status string",
    )
    return feats.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips")
    )


def q_rule_pack_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression rule pack (checks.rule_check): four cross-field business
    rules over lineitem in ONE scan — the invariants no schema language
    expresses (tax vs discount coupling, ship-before-epoch sanity,
    quantity-price consistency). FALSE or NULL both count as violations
    (closed world)."""
    from jsschema_spark.checks import rule_check

    df = _t(spark, sf_dir, "lineitem")
    return rule_check(
        df,
        {
            "tax_near_discount": "l_tax <= l_discount + 0.06",
            "price_covers_qty": "l_extendedprice >= l_quantity * 900",
            "discount_band": "l_discount BETWEEN 0.0 AND 0.1",
            "shipdate_sane": "l_shipdate >= TIMESTAMP '1992-01-01'",
        },
    ).select(
        "rule",
        "n_rows",
        "n_violations",
        F.round("violation_frac", 6).alias("violation_frac_r"),
    )


def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (checks.snapshot_diff): current = orders with
    %101 rows dropped, %97 totals re-priced, %103 rows cloned under new
    keys — the report localizes every mutation class and names the
    changed column. One full-outer join + one single-row agg."""
    from jsschema_spark.checks import snapshot_diff

    base = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    cur = (
        base.where(k % 101 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 97 == 0, F.col("o_totalprice") + 1000.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            base.where(k % 103 == 0).withColumn(
                "o_orderkey", k + 10000000
            )
        )
    )
    return snapshot_diff(
        base, cur, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


def q_group_normalize_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-normalization transform (stats.group_normalize),
    self-certified: after standardizing price within each returnflag, the
    per-group mean must be 0 and sd 1 to rounding — returned alongside
    the extreme z values. (+0.0 canonicalization keeps −0.0 off the
    wire on both engines.)"""
    from jsschema_spark.stats import group_normalize

    df = _t(spark, sf_dir, "lineitem")
    z = group_normalize(df, "l_extendedprice", ["l_returnflag"], method="z")
    out = z.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.round(F.avg("l_extendedprice_norm"), 6) + F.lit(0.0)).alias("mean_z_r"),
        F.round(F.stddev_samp("l_extendedprice_norm"), 6).alias("std_z_r"),
        F.round(F.min("l_extendedprice_norm"), 4).alias("min_z_r"),
        F.round(F.max("l_extendedprice_norm"), 4).alias("max_z_r"),
    )
    return out


def q_json_key_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured contract discovery (infer.json_key_profile) over a
    deterministically-enriched props column (four producer variants with
    optional keys and mixed scalar types) — the key/type/presence-rate
    profile a free-form JSON column actually follows."""
    from jsschema_spark.infer import json_key_profile

    i = F.col("event_id")
    v = F.coalesce(F.col("value"), F.lit(0.0))
    props2 = (
        F.when(
            i % 4 == 0,
            F.format_string('{"k": %.1f, "device": "ios"}', v),
        )
        .when(
            i % 4 == 1,
            F.format_string('{"k": %.1f, "device": "android", "beta": true}', v),
        )
        .when(i % 4 == 2, F.format_string('{"k": %.1f}', v))
        .otherwise(F.lit('{"device": "web", "ref": "ad"}'))
    )
    df = _t(spark, sf_dir, "events", spread=True).withColumn("props2", props2)
    out = json_key_profile(df, "props2")
    return out.select(
        "key",
        "value_type",
        "n",
        F.round("frac_of_rows", 6).alias("frac_r"),
    )


def q_payload_dup_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical payload dedup (audio.payload_duplicates) with a
    re-upload planted for every %40 clip — caught by one JVM-side md5
    hash agg, zero decode; bytes never leave the JVM."""
    from jsschema_spark.audio import payload_duplicates

    base = _clips_from_documents(spark, sf_dir).select("clip_id", "bytes")
    # derive doc_id back from the zero-padded clip id for the clone rule
    doc_id = F.substring("clip_id", 6, 12).cast("long")
    clones = base.where(doc_id % 40 == 0).select(
        F.concat(F.lit("dup-"), F.col("clip_id")).alias("clip_id"), "bytes"
    )
    df = base.unionByName(clones)
    out = payload_duplicates(df)
    # DuckDB's md5 is VARCHAR-only, so the oracle can't reproduce the
    # binary digest — the ids identify each group just as uniquely
    return out.select(
        "n_clips",
        F.element_at("clip_ids", 1).alias("first_id"),
        F.element_at("clip_ids", -1).alias("last_id"),
    )


def q_decade_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-of-magnitude profile (stats.decade_profile) with a planted
    ×1000 unit error on %89 rows: the second hump three decades up is
    the smoking gun no mean or range check shows."""
    from jsschema_spark.stats import decade_profile

    df = _t(spark, sf_dir, "lineitem").withColumn(
        "price",
        F.when(
            F.col("l_orderkey") % 89 == 0, F.col("l_extendedprice") * 1000.0
        ).otherwise(F.col("l_extendedprice")),
    )
    return decade_profile(df, "price")


def q_pitch_profile_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pitch-band profile (audio.estimate_f0) over in-Spark synth clips:
    110/220/330 Hz tones land in their F0 bands with periodicity ≈ 1,
    deterministic noise is unvoiced — the speech-corpus QA signal (TTS
    farms have unnaturally tight F0; music contaminates the voice band).
    Formula-only oracle certifies the autocorrelation pitch kernel."""
    import numpy as np

    from jsschema_spark.audio import estimate_f0

    sr = 16000
    t = np.arange(sr // 2, dtype=np.float64) / sr
    tones = {
        k: (8000.0 * np.sin(2.0 * np.pi * f * t)).astype(np.int16)
        for k, f in ((0, 110.0), (1, 220.0), (2, 330.0))
    }

    def synth(doc_id, k):
        if k == 3:
            pcm = np.random.default_rng(doc_id).normal(0, 3000, sr // 2).astype(np.int16)
        else:
            pcm = tones[k]
        f0, p = estimate_f0(pcm, sr)
        if p < 0.5:
            return "unvoiced"
        return "low" if f0 < 165.0 else "mid" if f0 < 275.0 else "high"

    feats = _synth_clips(
        spark, sf_dir, [(F.col("doc_id") % 4).cast("int").alias("kind")],
        synth, _tuples, "f0_band string",
    )
    return feats.groupBy("f0_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips")
    )


def q_flac_invariant_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ``codec='flac'`` invariant over REAL FLAC streams encoded
    and decoded by the pure-NumPy subset codec (``jsschema_spark.flac`` —
    CRC-8/16 + STREAMINFO-MD5 verified): per doc_id, a deterministic clip
    is synthesized, FLAC/WAV-encoded, optionally sabotaged (byte flip,
    truncation, pre-encode noise), then judged by the codec-aware
    invariant UDF (``audio.codec_invariant_udf`` — the production
    ``decode_payload`` dispatch). Six planted kinds:

    0 flac clean → decoded, SNR 99 (bit-exact) — passes the ≥30 dB gate
    1 flac byte-flipped → malformed (frame CRC / MD5 backstop catches it)
    2 flac of noise-corrupted PCM → decodes fine, FAILS the SNR gate
    3 pcm_s16le clean WAV → decoded, passes
    4 opus → unsupported_codec (honest stub; side channel, not corruption)
    5 flac truncated → malformed

    The oracle is pure doc_id arithmetic: a hash match certifies the whole
    synth→encode→sabotage→dispatch→decode→SNR→classify path, including
    that every single sabotaged stream was caught (any undetected FLAC
    corruption would change a count) and that decoded sample totals are
    bit-for-bit (sum_samples). Scale shape: two Arrow-batched Python
    stages and one tiny groupBy — per-clip work is constant, no shuffle of
    payload bytes (only the 5-column result rows)."""
    import numpy as np

    from jsschema_spark.audio import _seed64, codec_invariant_udf, synth_pcm, wav_encode
    from jsschema_spark.flac import flac_encode

    sr = 16000

    def synth(doc_id, k, d):
        cid = _CLIP_ID % doc_id
        n = sr * d // 1000
        pcm = synth_pcm(cid, sr, n).copy()
        if k == 2:
            rng = np.random.default_rng(_seed64(cid, "noise"))
            pcm = np.clip(
                pcm.astype(np.int32) + rng.integers(-16000, 16000, size=n),
                -32768, 32767,
            ).astype(np.int16)
        if k == 3:
            return cid, "pcm_s16le", wav_encode(pcm, sr)
        if k == 4:
            return cid, "opus", b"OggS" + bytes(16)
        payload = flac_encode(pcm, sr)
        if k == 1:
            b = bytearray(payload)
            b[len(b) // 2] ^= 0x40
            payload = bytes(b)
        elif k == 5:
            payload = payload[: len(payload) // 2]
        return cid, "flac", payload

    i = F.col("doc_id")
    clips = _synth_clips(
        spark, sf_dir,
        [
            (i % 6).cast("int").alias("kind"),
            (F.lit(250) + (i % 4) * 125).cast("int").alias("dur_ms"),
        ],
        synth, _tuples, "clip_id string, codec string, bytes binary",
    )
    inv = clips.select(
        "codec",
        codec_invariant_udf("clip_id", "codec", "bytes").alias("__r"),
    ).select("codec", "__r.snr_db", "__r.status", "__r.n_samples")
    return inv.groupBy("codec", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.sum(
            F.when(F.col("snr_db") >= 30.0, 1).otherwise(0)
        ).cast("long").alias("n_pass"),
        F.sum("n_samples").cast("long").alias("sum_samples"),
    )


def q_codec_metadata_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-header vs metadata-column consistency screen
    (audio.codec_metadata_check): WAV fmt-chunk and FLAC STREAMINFO fields
    parsed with PURE Catalyst byte arithmetic (substring/hex/conv — zero
    Python, zero shuffle, no decode), cross-checked against the table's
    claimed sr_hz / dur_ms. Six planted kinds: consistent WAV, consistent
    FLAC, a WAV whose sr_hz column lies (resampled-but-stale metadata), a
    FLAC whose dur_ms column is inflated 1s (wrong-clock duration), opus
    (readable container, no cheap sample count → opaque), and a
    pcm_s16le row carrying garbage bytes (header_unreadable). The
    doc_id-arithmetic oracle also pins sum(header_samples), so the
    Catalyst STREAMINFO bit unpacking (20-bit rate, 36-bit sample count
    across nibble boundaries) is certified bit-for-bit against the
    encoder. The one Python stage is fixture synthesis; the CHECK itself
    is the production path: a projection that runs on every row at
    10^12-clip scale while decode-stage checks sample."""
    from jsschema_spark.audio import codec_metadata_check, synth_pcm, wav_encode
    from jsschema_spark.flac import flac_encode

    sr = 16000

    def synth(doc_id, k, d):
        cid = _CLIP_ID % doc_id
        pcm = synth_pcm(cid, sr, sr * d // 1000)
        if k in (0, 2):
            return cid, "pcm_s16le", wav_encode(pcm, sr), 44100 if k == 2 else sr, d
        if k in (1, 3):
            return cid, "flac", flac_encode(pcm, sr), sr, d + 1000 if k == 3 else d
        if k == 4:
            return cid, "opus", b"OggS" + bytes(28), sr, d
        return cid, "pcm_s16le", b"not a riff container at all, just bytes" * 2, sr, d

    i = F.col("doc_id")
    clips = _synth_clips(
        spark, sf_dir,
        [
            (i % 6).cast("int").alias("kind"),
            (F.lit(250) + (i % 4) * 125).cast("int").alias("true_dur"),
        ],
        synth, _tuples,
        "clip_id string, codec string, bytes binary, sr_hz int, dur_ms int",
    )
    out = codec_metadata_check(clips)
    return out.groupBy("meta_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.sum(F.coalesce(F.col("header_samples"), F.lit(0)))
        .cast("long").alias("sum_header_samples"),
    )


def q_resample_invariant_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-rate normalization invariant (audio.resample_sinc — the
    polyphase windowed-sinc kernel): every clip is resampled to 16 kHz and
    judged against the ANALYTICALLY ideal signal at the target rate
    (a phase-aligned tone synthesized directly at 16 kHz — no reference
    resampler in the loop, so the test measures true band-limited
    reconstruction quality, not self-consistency). Five planted kinds:
    8 kHz tone up (pass ≥40 dB), 44.1 kHz tone down across the non-integer
    160/441 ratio (pass), 16 kHz passthrough, noise-contaminated tone
    (must FAIL the gate), and silence (classified, not scored). The
    oracle also pins sum(n_out) per status, certifying the ⌊n·L/M⌋ output
    grid of the polyphase form bit-for-bit. Scale shape: one Arrow-batched
    Python stage (constant work per output sample regardless of ratio) +
    one tiny groupBy."""
    import numpy as np

    from jsschema_spark.audio import resample_sinc

    target = 16000
    amp = 8000.0

    def tone(f, sr, n):
        return np.clip(
            np.rint(amp * np.sin(2.0 * np.pi * f * np.arange(n) / sr)),
            -32768, 32767,
        ).astype(np.int16)

    def synth(doc_id, k, f_hz, d):
        sr_in = {0: 8000, 1: 44100, 2: 16000, 3: 8000, 4: 8000}[k]
        n_in = sr_in * d // 1000
        if k == 4:
            return "silent", len(resample_sinc(np.zeros(n_in, dtype=np.int16), sr_in, target))
        x = tone(float(f_hz), sr_in, n_in)
        if k == 3:
            rng = np.random.default_rng(doc_id)
            x = np.clip(
                x.astype(np.int32) + rng.integers(-6000, 6000, size=n_in),
                -32768, 32767,
            ).astype(np.int16)
        y = resample_sinc(x, sr_in, target)
        if k == 2:
            return "passthrough" if np.array_equal(y, x) else "resampled_fail", len(y)
        ref = amp * np.sin(2.0 * np.pi * f_hz * np.arange(len(y)) / target)
        sl = slice(200, len(y) - 200)
        e = y[sl].astype(np.float64) - ref[sl]
        snr = 10.0 * np.log10(float(np.dot(ref[sl], ref[sl])) / max(float(np.dot(e, e)), 1e-12))
        return "resampled_pass" if snr >= 40.0 else "resampled_fail", len(y)

    i = F.col("doc_id")
    feats = _synth_clips(
        spark, sf_dir,
        [
            (i % 5).cast("int").alias("kind"),
            (F.lit(300) + (i % 3) * 200).cast("int").alias("freq_hz"),
            (F.lit(250) + (i % 4) * 125).cast("int").alias("dur_ms"),
        ],
        synth, _tuples, "status string, n_out long",
    )
    return feats.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.sum("n_out").cast("long").alias("sum_out_samples"),
    )


def q_flac_transcode_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive-compression TRANSFORM verified end-to-end
    (audio.transcode_payload): WAV clips of three signal classes are
    transcoded WAV→FLAC→WAV and count 'transcoded_exact' only if the
    final PCM is BIT-IDENTICAL to the original; garbage payloads
    quarantine. ``compressed`` reports whether the FLAC container
    actually beat the WAV byte size — provably true for tonal and silent
    clips (LPC/constant subframes) and provably FALSE for full-scale
    uniform noise (the encoder's verbatim floor + frame overhead), so the
    oracle pins the compression behavior class-by-class, not just the
    round-trip. One Arrow-batched Python stage, one tiny groupBy."""
    import numpy as np

    from jsschema_spark.audio import transcode_payload, wav_decode, wav_encode
    from jsschema_spark.flac import flac_decode

    def synth(doc_id, k, d):
        sr = {0: 8000, 1: 16000, 2: 44100, 3: 16000}[k]
        n = sr * d // 1000
        if k == 3:
            wav = b"certainly not a riff container" * 3
        elif k == 0:
            t = np.arange(n, dtype=np.float64) / sr
            wav = wav_encode((9000.0 * np.sin(2.0 * np.pi * 330.0 * t)).astype(np.int16), sr)
        elif k == 1:
            rng = np.random.default_rng(doc_id)
            wav = wav_encode(rng.integers(-32768, 32768, n).astype(np.int16), sr)
        else:
            wav = wav_encode(np.zeros(n, dtype=np.int16), sr)
        try:
            flac = transcode_payload("pcm_s16le", "flac", wav)
            back = transcode_payload("flac", "pcm_s16le", flac)
            exact = np.array_equal(wav_decode(wav)[1], wav_decode(back)[1])
            return (
                "transcoded_exact" if exact else "transcode_mismatch",
                len(flac) < len(wav),
                len(flac_decode(flac)[1]),
            )
        except (ValueError, TypeError):
            return "quarantined", False, 0

    i = F.col("doc_id")
    feats = _synth_clips(
        spark, sf_dir,
        [
            (i % 4).cast("int").alias("kind"),
            (F.lit(250) + (i % 4) * 125).cast("int").alias("dur_ms"),
        ],
        synth, _tuples, "status string, compressed boolean, n_samples long",
    )
    return feats.groupBy("status", "compressed").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.sum("n_samples").cast("long").alias("sum_samples"),
    )


def q_opus_header_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opus ID-header probe (audio.opus_header_probe): spec-compliant RFC
    7845 BOS pages are synthesized per doc_id, then channel/pre-skip/
    input-rate parse with PURE Catalyst byte arithmetic — the metadata
    reach into the one codec this build honestly cannot decode. Planted
    kinds: valid header matching the catalog sr, valid header whose
    encoder-declared input rate contradicts the catalog (the
    stale-resample lie, caught without any decoder), truncated page, and
    a wrong OpusHead version. The oracle pins per-status counts plus
    sum(input_sr) and sum(pre_skip) — certifying the little-endian
    16/32-bit field extraction bit-for-bit."""
    import struct

    from jsschema_spark.audio import opus_header_probe

    def page(input_sr, version=1):
        pkt = (
            b"OpusHead" + bytes([version, 1])
            + struct.pack("<H", 312)
            + struct.pack("<I", input_sr)
            + struct.pack("<h", 0) + bytes([0])
        )
        return (
            b"OggS" + bytes([0, 2]) + bytes(8)
            + struct.pack("<I", 7) + struct.pack("<I", 0) + bytes(4)
            + bytes([1, len(pkt)]) + pkt
        )

    def synth(doc_id, k):
        if k == 1:
            return page(48000)
        if k == 2:
            return page(16000)[:30]
        return page(16000, version=2 if k == 3 else 1)

    clips = _synth_clips(
        spark, sf_dir, [(F.col("doc_id") % 4).cast("int").alias("kind")],
        synth, _tuples, "bytes binary",
    ).withColumn("sr_hz", F.lit(16000))
    out = opus_header_probe(clips)
    return out.groupBy("opus_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.sum(F.coalesce(F.col("opus_input_sr"), F.lit(0)))
        .cast("long").alias("sum_input_sr"),
        F.sum(F.coalesce(F.col("opus_pre_skip"), F.lit(0)))
        .cast("long").alias("sum_pre_skip"),
    )


def q_l_diversity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity privacy screen (checks.l_diversity_report) — the
    homogeneity-attack complement to k_anonymity_customer: same
    (nation, segment) quasi-identifier, with the account-balance
    thousand-band as the sensitive attribute; a group where every member
    sits in one band leaks the band without re-identifying anyone.
    Reports per-group distinct-sensitive count, the top band's share
    (probabilistic-inference strength), and the at-risk flag at l=3."""
    from jsschema_spark.checks import l_diversity_report

    df = _t(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    out = l_diversity_report(
        df, ["c_nationkey", "c_mktsegment"], "bal_band", l=3
    )
    return out.select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_mktsegment",
        "group_n",
        "n_sensitive",
        F.round("top_share", 6).alias("top_share_r"),
        "at_risk",
    )


def q_t_closeness_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness privacy screen (checks.t_closeness_report) — third rung
    of the privacy ladder over the same (nation, segment) QI and balance
    thousand-band sensitive attribute as l_diversity_customer: per-group
    normalized Earth-Mover's distance vs the global band distribution
    (ordered ground distance, the canonical form), at_risk at t=0.15. A
    diverse-but-skewed group (all bands present, mass piled at the top)
    passes l-diversity and fails here. Oracle = the identical
    grid/cumulative-window computation in DuckDB SQL."""
    from jsschema_spark.checks import t_closeness_report

    df = _t(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    out = t_closeness_report(
        df, ["c_nationkey", "c_mktsegment"], "bal_band", t=0.15
    )
    return out.select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_mktsegment",
        "group_n",
        F.round("distance", 6).alias("distance_r"),
        "at_risk",
    )


def q_audio_normalize_sinc_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sinc-path twin of audio_normalize_clips: identical mixed-rate /
    mixed-gain fixture and identical normalization CONTRACT (re-decoded
    output at 16 kHz within 1 dB of -20 dBFS), but resampling through the
    band-limited polyphase kernel (audio.resample_sinc) instead of linear
    interpolation. The oracle is the same rate/status arithmetic — the
    contract is resampler-independent, so this pins that the higher-
    quality kernel also meets it end-to-end (synth->resample->gain->
    encode->decode->measure) at every rate pair."""
    from jsschema_spark.audio import resample_sinc

    return _audio_normalize(spark, sf_dir, resample_sinc)


def q_vocab_richness_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness summary (text.vocabulary_richness): hapax
    ratio + type-token ratio, the degenerate-corpus detectors that
    complement the Zipf fit."""
    from jsschema_spark.functions.text import vocabulary_richness

    df = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    out = vocabulary_richness(df, "text")
    return out.select(
        "vocab_size",
        "n_tokens",
        "n_hapax",
        F.round("hapax_ratio", 8).alias("hapax_r"),
        F.round("type_token_ratio", 8).alias("ttr_r"),
    )


def q_float32_safety_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """float32 feature-store safety (stats.float32_safety) for the price
    column: cent-precision values near 10^5 need more bits than a
    float32 significand has, so most rows are lossy at the exact-round-
    trip tolerance — the quantified warning before anyone casts this
    column into a float32 feature store. IEEE casts are bit-identical
    across engines."""
    from jsschema_spark.stats import float32_safety

    df = _t(spark, sf_dir, "lineitem")
    out = float32_safety(df, "l_extendedprice")
    return out.select(
        "n_rows",
        "n_lossy",
        "n_overflow",
        F.round("max_rel_err", 12).alias("max_rel_err_r"),
    )


def q_entropy_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column Shannon entropy in one scan
    (stats.column_entropy_profile) over three orders columns spanning
    the cardinality range — the near-constant-column detector n_distinct
    alone hides."""
    from jsschema_spark.stats import column_entropy_profile

    df = _t(spark, sf_dir, "orders")
    out = column_entropy_profile(
        df, ["o_orderstatus", "o_orderpriority", "o_custkey"]
    )
    return out.select(
        "column",
        "n_distinct",
        F.round("entropy_nats", 6).alias("entropy_r"),
        F.round("norm_entropy", 6).alias("norm_entropy_r"),
    )


def q_strlen_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-length profile (stats.string_length_profile) over the
    customer text columns in one scan: truncation, padding and
    empty-vs-null confusion all read off this table."""
    from jsschema_spark.stats import string_length_profile

    df = _t(spark, sf_dir, "customer")
    out = string_length_profile(df, ["c_name", "c_mktsegment"])
    return out.select(
        "column",
        "n_rows",
        "n_null",
        "n_empty",
        "min_len",
        F.round("avg_len", 6).alias("avg_len_r"),
        "max_len",
    )


def q_key_candidates_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key discovery (checks.key_candidates, exact mode) over
    lineitem: the report shows what IS — in this synthetic corpus NO
    tested single or pair is a perfect key ((l_orderkey, l_partkey)
    comes closest at 0.999; (l_orderkey, l_linenumber) is only 0.76
    because the generator reuses line numbers) — exactly the discovery
    that stops someone deduping on an assumed key."""
    from jsschema_spark.checks import key_candidates

    df = _t(spark, sf_dir, "lineitem")
    out = key_candidates(
        df, ["l_orderkey", "l_linenumber", "l_partkey"], exact=True
    )
    return out.select(
        "candidate",
        "n_distinct",
        "n_rows",
        F.round("uniqueness_ratio", 6).alias("ratio_r"),
    )


def q_circadian_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circadian concentration per event type (events.circadian_profile):
    circular mean hour + von Mises R — the timezone-bug/bot-farm signal a
    volume histogram hides. Pure codegen angle sums."""
    from jsschema_spark.functions.events import circadian_profile

    df = _t(spark, sf_dir, "events")
    out = circadian_profile(df, "ts", "event_type")
    return out.select(
        "event_type",
        "n_events",
        F.round("peak_hour", 4).alias("peak_hour_r"),
        F.round("r_concentration", 6).alias("r_r"),
    )


def q_sample_rep_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-representativeness χ² (stats.sample_representativeness):
    the planted sampler bug over-draws English (%3 extra pull for
    lang='en') — its chi2_term dominates the table and names the starved
    strata; a clean %7 hash sample would sum to ≈ noise."""
    from jsschema_spark.stats import sample_representativeness

    pop = _t(spark, sf_dir, "documents")
    biased = pop.where(
        (F.col("doc_id") % 7 == 0)
        | ((F.col("lang") == "en") & (F.col("doc_id") % 3 == 0))
    )
    out = sample_representativeness(pop, biased, "lang")
    return out.select(
        "category",
        "n_pop",
        "n_sample",
        F.round("expected", 6).alias("expected_r"),
        F.round("chi2_term", 6).alias("chi2_r"),
    )


def q_interval_overlaps_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-booking screen (checks.interval_overlaps): each event
    becomes a usage interval [ts, ts + value·100 s) per user; the
    running-max window catches intervals swallowed whole by an earlier
    long one (a lag-only check misses those). Grouped to per-user
    violation counts."""
    from jsschema_spark.checks import interval_overlaps

    df = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        F.timestamp_add(
            "SECOND",
            (F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long"),
            F.col("ts"),
        ).alias("e"),
    )
    out = interval_overlaps(df, "user_id", "s", "e")
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps")
    )


def q_mojibake_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake census (text.encoding_artifacts) with planted decode
    bugs: Latin-1-read UTF-8 on %11 docs, replacement chars on %13,
    Win-1252 smart-quote wreckage on %17, double-encoded NBSP on %19 —
    each class counted separately so one hit names one upstream bug."""
    from jsschema_spark.functions.text import encoding_artifacts

    i = F.col("doc_id")
    df = _t(spark, sf_dir, "documents").withColumn(
        "text2",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(i % 11 == 0, F.lit(" cafÃ©")).otherwise(F.lit("")),
            F.when(i % 13 == 0, F.lit(" �")).otherwise(F.lit("")),
            F.when(i % 17 == 0, F.lit(" â€™")).otherwise(F.lit("")),
            F.when(i % 19 == 0, F.lit(" Â ")).otherwise(F.lit("")),
        ),
    )
    return encoding_artifacts(df, "text2")


def q_new_entity_rate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning decomposition per day (events.new_entity_rate):
    0% new = replay, ~100% new = id-rotation bug; day one is 100% new by
    construction."""
    from jsschema_spark.functions.events import new_entity_rate

    df = _t(spark, sf_dir, "events")
    out = new_entity_rate(df, "ts", "user_id", "day")
    return out.select(
        F.col("period").cast("date").alias("day"),
        "n_active",
        "n_new",
        F.round("new_frac", 6).alias("new_frac_r"),
    )


def q_crest_check_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-compression screen (audio.crest_check) over in-Spark synth
    WAVs: square waves (crest 0 dB — the brickwall signature), gaussian
    noise (~12 dB, natural dynamics), silence, garbage — each class
    arithmetically determined by doc_id, classified from the one-pass
    PCM profile."""
    import numpy as np

    from jsschema_spark.audio import PROFILE_ROW_SCHEMA, _profile_rows, crest_check, wav_encode

    sr = 16000
    n = sr // 2
    t = np.arange(n, dtype=np.float64) / sr
    square = wav_encode((8000 * np.sign(np.sin(2 * np.pi * 440 * t))).astype(np.int16), sr)
    silence = wav_encode(np.zeros(n, dtype=np.int16), sr)

    def synth(doc_id, k):
        if k == 0:
            return square
        if k == 1:
            noise = np.random.default_rng(doc_id).normal(0, 3000, n)
            return wav_encode(np.clip(noise, -32768, 32767).astype(np.int16), sr)
        return silence if k == 2 else b"corrupt"

    feats = _synth_clips(
        spark, sf_dir, [(F.col("doc_id") % 4).cast("int").alias("kind")],
        synth, lambda pdf, outs: _profile_rows(pdf["clip_id"], outs),
        PROFILE_ROW_SCHEMA,
    )
    out = crest_check(feats)
    return out.groupBy("crest_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips")
    )


def q_fd_strength_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-FD strength (checks.fd_strength) with a planted 1%%
    exception stripe: l_partkey → supp_bucket holds at 0.99, the "real
    dependency plus data errors" signature that exact FD checks reject
    outright."""
    from jsschema_spark.checks import fd_strength

    df = _t(spark, sf_dir, "lineitem").withColumn(
        "supp_bucket",
        F.when(
            F.col("l_orderkey") % 101 == 0, F.lit(-1)
        ).otherwise(F.col("l_partkey") % 10),
    )
    out = fd_strength(df, ["l_partkey"], "supp_bucket")
    return out.select(
        "n_rows",
        "n_lhs_groups",
        "n_violating_rows",
        F.round("strength", 6).alias("strength_r"),
    )


def q_prefix_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-variant detection (dedup.prefix_duplicates): every %31
    doc gets an 80-char-truncated clone — same normalized prefix,
    different tail, invisible to exact dedup, found here with one hash
    agg. max_len > min_len inside a group is the truncation signature."""
    from jsschema_spark.functions.dedup import prefix_duplicates

    base = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    trunc = base.where(F.col("doc_id") % 31 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.substring("text", 1, 80).alias("text"),
    )
    df = base.unionByName(trunc)
    out = prefix_duplicates(df, "doc_id", "text", prefix_chars=64)
    return out.select(
        "prefix_fp",
        "n_docs",
        "min_len",
        "max_len",
        F.element_at("doc_ids", 1).alias("first_id"),
        F.element_at("doc_ids", -1).alias("last_id"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: compiled draft-04 validation summary over sf0.001 lineitem."""
    return q_validate_lineitem(spark, SF_DEFAULT)


# The driver's correctness gate oracles only the FIRST 50 queries() entries
# per round. Rounds 1-6 signed 111 distinct queries; round 7 leads with the
# 36 that have never received a driver CORRECTNESS row (closing the ledger,
# VERDICT r6 "Next round" #1) and fills the remaining 14 slots with the
# queries whose internals this optimization round touched, so the driver
# re-signs exactly the restructured paths. tests/test_entry_oracle.py
# mirrors the gate over ALL entries regardless of order, so nothing loses
# coverage by moving.
_ROUND7_FIRST50 = [
    "ab_test_events",
    "audio_normalize_clips",
    "multi_drift_lineitem",
    "qq_drift_lineitem",
    "twa_events",
    "corpus_overlap_documents",
    "burstiness_events",
    "audio_alignment_clips",
    "rule_pack_lineitem",
    "snapshot_diff_orders",
    "group_normalize_lineitem",
    "json_key_profile_events",
    "payload_dup_clips",
    "decade_profile_lineitem",
    "pitch_profile_clips",
    "vocab_richness_documents",
    "float32_safety_lineitem",
    "entropy_profile_orders",
    "strlen_profile_customer",
    "key_candidates_lineitem",
    "circadian_events",
    "sample_rep_documents",
    "interval_overlaps_events",
    "mojibake_documents",
    "new_entity_rate_events",
    "crest_check_clips",
    "fd_strength_lineitem",
    "prefix_dup_documents",
    "flac_invariant_clips",
    "codec_metadata_clips",
    "resample_invariant_clips",
    "flac_transcode_clips",
    "opus_header_clips",
    "l_diversity_customer",
    "t_closeness_customer",
    "audio_normalize_sinc_clips",
    "embedding_near_dups",
    "embedding_topk",
    "incremental_minhash",
    "minhash_near_dups",
    "near_dup_groups",
    "containment_documents",
    "simhash_near_dup_pairs",
    "simhash_documents",
    "curated_documents",
    "stratified_sample_documents",
    "token_budget_documents",
    "contamination_documents",
    "edit_distance_near_dups",
    "lang_id_documents",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _all_queries()
    ordered = {k: base[k] for k in _ROUND7_FIRST50}
    ordered.update({k: v for k, v in base.items() if k not in ordered})
    return ordered


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_lineitem": q_validate_lineitem,
        "invalid_orders": q_invalid_orders,
        "customer_acctbal_check": q_customer_acctbal_check,
        "uniqueness_events_user": q_uniqueness_events_user,
        "referential_orders_customer": q_referential_orders_customer,
        "stats_lineitem": q_stats_lineitem,
        "categorical_drift_returnflag": q_categorical_drift,
        "histogram_l_quantity": q_histogram_l_quantity,
        "token_count_documents": q_token_count_documents,
        "vocab_top_tokens": q_vocab_top_tokens,
        "ngram_doc_freq": q_ngram_doc_freq,
        "text_profile_documents": q_text_profile_documents,
        "exact_dup_documents": q_exact_dup_documents,
        "lang_id_documents": q_lang_id_documents,
        "lang_confusion_documents": q_lang_confusion_documents,
        "embedding_topk": q_embedding_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "events_props_json": q_events_props_json,
        "conformance_corpus": q_conformance_corpus,
        "clips_validation": q_clips_validation,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_documents": q_simhash_documents,
        "simhash_near_dup_pairs": q_simhash_near_dup_pairs,
        "embedding_lsh_near_dups": q_embedding_lsh_near_dups,
        "violation_samples_orders": q_violation_samples_orders,
        "key_set_customers_orders": q_key_set_customers_orders,
        "near_dup_groups": q_near_dup_groups,
        "near_dup_canonical": q_near_dup_canonical,
        "leakage_split_documents": q_leakage_split_documents,
        "chunked_documents": q_chunked_documents,
        "numeric_drift_quantity": q_numeric_drift,
        "ks_drift_quantity": q_ks_drift_quantity,
        "grouped_stats_lineitem": q_grouped_stats_lineitem,
        "anomalous_users_events": q_anomalous_users_events,
        "session_stats_events": q_session_stats_events,
        "asof_clicks_errors": q_asof_clicks_errors,
        "funnel_events": q_funnel_events,
        "retention_events": q_retention_events,
        "skew_events_user": q_skew_events_user,
        "freshness_events": q_freshness_events,
        "completeness_events": q_completeness_events,
        "transcript_rate_clips": q_transcript_rate_clips,
        "fd_customer_nation_segment": q_fd_customer_nation_segment,
        "cardinality_orders_lineitem": q_cardinality_orders_lineitem,
        "quality_score_documents": q_quality_score_documents,
        "repetition_documents": q_repetition_documents,
        "unigram_logprob_documents": q_unigram_logprob_documents,
        "pii_documents": q_pii_documents,
        "inferred_schema_orders": q_inferred_schema_orders,
        "contract_drift_orders": q_contract_drift_orders,
        "masked_spans_documents": q_masked_spans_documents,
        "contamination_documents": q_contamination_documents,
        "top_quality_per_lang": q_top_quality_per_lang,
        "weighted_sample_documents": q_weighted_sample_documents,
        "curated_documents": q_curated_documents,
        "stratified_sample_documents": q_stratified_sample_documents,
        "token_budget_documents": q_token_budget_documents,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "ivf_index_search": q_ivf_index_search,
        "lsh_index_search": q_lsh_index_search,
        "label_centroids": q_label_centroids,
        "incremental_minhash": q_incremental_minhash,
        "embedding_multiseed_near_dups": q_embedding_multiseed_near_dups,
        "embedding_dup_groups": q_embedding_dup_groups,
        "order_total_reconciliation": q_order_total_reconciliation,
        "embedding_validation": q_embedding_validation,
        "violations_cube_orders": q_violations_cube_orders,
        "clip_windows": q_clip_windows,
        "benford_totalprice": q_benford_totalprice,
        "event_transitions": q_event_transitions,
        "incident_window_events": q_incident_window_events,
        "edit_distance_near_dups": q_edit_distance_near_dups,
        "psi_by_day_events": q_psi_by_day_events,
        "containment_documents": q_containment_documents,
        "emd_drift_quantity": q_emd_drift_quantity,
        "chisq_lineitem_flags": q_chisq_lineitem_flags,
        "rolling_anomaly_events": q_rolling_anomaly_events,
        "unigram_kl_documents": q_unigram_kl_documents,
        "dup_sizes_documents": q_dup_sizes_documents,
        "entropy_by_source": q_entropy_by_source,
        "bigram_pmi_documents": q_bigram_pmi_documents,
        "cooccurrence_events": q_cooccurrence_events,
        "centroid_drift_embeddings": q_centroid_drift_embeddings,
        "duplicate_charges_orders": q_duplicate_charges_orders,
        "time_to_conversion_events": q_time_to_conversion_events,
        "quantile_check_lineitem": q_quantile_check_lineitem,
        "order_violations_events": q_order_violations_events,
        "winsorized_lineitem": q_winsorized_lineitem,
        "payload_size_clips": q_payload_size_clips,
        "mad_outliers_lineitem": q_mad_outliers_lineitem,
        "k_anonymity_customer": q_k_anonymity_customer,
        "corr_matrix_lineitem": q_corr_matrix_lineitem,
        "price_trend_orders": q_price_trend_orders,
        "rolling_actives_events": q_rolling_actives_events,
        "audio_bandwidth_clips": q_audio_bandwidth_clips,
        "join_profile_orders_lineitem": q_join_profile_orders_lineitem,
        "mi_documents_lang_source": q_mi_documents_lang_source,
        "heartbeat_events": q_heartbeat_events,
        "audio_profile_clips": q_audio_profile_clips,
        "zipf_documents": q_zipf_documents,
        "anisotropy_embeddings": q_anisotropy_embeddings,
        "transcript_vad_clips": q_transcript_vad_clips,
        "decimal_grid_lineitem": q_decimal_grid_lineitem,
        "mask_profile_customer": q_mask_profile_customer,
        "null_rate_by_day_events": q_null_rate_by_day_events,
        "temporal_ref_orders": q_temporal_ref_orders,
        "duration_check_clips": q_duration_check_clips,
        "concentration_documents": q_concentration_documents,
        "distinctive_terms_documents": q_distinctive_terms_documents,
        "monotonic_counter_lineitem": q_monotonic_counter_lineitem,
        "ab_test_events": q_ab_test_events,
        "audio_normalize_clips": q_audio_normalize_clips,
        "multi_drift_lineitem": q_multi_drift_lineitem,
        "qq_drift_lineitem": q_qq_drift_lineitem,
        "twa_events": q_twa_events,
        "corpus_overlap_documents": q_corpus_overlap_documents,
        "burstiness_events": q_burstiness_events,
        "audio_alignment_clips": q_audio_alignment_clips,
        "rule_pack_lineitem": q_rule_pack_lineitem,
        "snapshot_diff_orders": q_snapshot_diff_orders,
        "group_normalize_lineitem": q_group_normalize_lineitem,
        "json_key_profile_events": q_json_key_profile_events,
        "payload_dup_clips": q_payload_dup_clips,
        "decade_profile_lineitem": q_decade_profile_lineitem,
        "pitch_profile_clips": q_pitch_profile_clips,
        "vocab_richness_documents": q_vocab_richness_documents,
        "float32_safety_lineitem": q_float32_safety_lineitem,
        "entropy_profile_orders": q_entropy_profile_orders,
        "strlen_profile_customer": q_strlen_profile_customer,
        "key_candidates_lineitem": q_key_candidates_lineitem,
        "circadian_events": q_circadian_events,
        "sample_rep_documents": q_sample_rep_documents,
        "interval_overlaps_events": q_interval_overlaps_events,
        "mojibake_documents": q_mojibake_documents,
        "new_entity_rate_events": q_new_entity_rate_events,
        "crest_check_clips": q_crest_check_clips,
        "fd_strength_lineitem": q_fd_strength_lineitem,
        "prefix_dup_documents": q_prefix_dup_documents,
        "flac_invariant_clips": q_flac_invariant_clips,
        "codec_metadata_clips": q_codec_metadata_clips,
        "resample_invariant_clips": q_resample_invariant_clips,
        "flac_transcode_clips": q_flac_transcode_clips,
        "opus_header_clips": q_opus_header_clips,
        "l_diversity_customer": q_l_diversity_customer,
        "t_closeness_customer": q_t_closeness_customer,
        "audio_normalize_sinc_clips": q_audio_normalize_sinc_clips,
    }


# --------------------------------------------------------------------------
# DuckDB oracles (ANSI SQL over the pre-registered views)

_LINEITEM_ORACLE = """
WITH agg AS (
  SELECT
    count(*) AS n_rows,
    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_req_ok,
    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_req_qty,
    CAST(sum(CASE WHEN l_quantity IS NOT NULL AND NOT (l_quantity >= 1) THEN 1 ELSE 0 END) AS BIGINT) AS v_min_qty,
    CAST(sum(CASE WHEN l_quantity IS NOT NULL AND NOT (l_quantity <= 50) THEN 1 ELSE 0 END) AS BIGINT) AS v_max_qty,
    CAST(sum(CASE WHEN l_discount IS NOT NULL AND NOT (l_discount >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS v_min_disc,
    CAST(sum(CASE WHEN l_discount IS NOT NULL AND NOT (l_discount <= 0.08) THEN 1 ELSE 0 END) AS BIGINT) AS v_max_disc,
    CAST(sum(CASE WHEN l_tax IS NOT NULL AND NOT (l_tax <= 0.07) THEN 1 ELSE 0 END) AS BIGINT) AS v_max_tax,
    CAST(sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS v_enum_rf,
    CAST(sum(CASE WHEN l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END) AS BIGINT) AS v_pat_ls
  FROM lineitem
)
SELECT '$.l_orderkey' AS path, 'required' AS keyword, v_req_ok AS n_violations, n_rows FROM agg
UNION ALL SELECT '$.l_quantity', 'required', v_req_qty, n_rows FROM agg
UNION ALL SELECT '$.l_quantity', 'minimum', v_min_qty, n_rows FROM agg
UNION ALL SELECT '$.l_quantity', 'maximum', v_max_qty, n_rows FROM agg
UNION ALL SELECT '$.l_discount', 'minimum', v_min_disc, n_rows FROM agg
UNION ALL SELECT '$.l_discount', 'maximum', v_max_disc, n_rows FROM agg
UNION ALL SELECT '$.l_tax', 'maximum', v_max_tax, n_rows FROM agg
UNION ALL SELECT '$.l_returnflag', 'enum', v_enum_rf, n_rows FROM agg
UNION ALL SELECT '$.l_linestatus', 'pattern', v_pat_ls, n_rows FROM agg
"""

_INVALID_ORDERS_ORACLE = """
WITH flags AS (
  SELECT o_orderkey,
    (o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F')) AS bad_enum,
    (o_totalprice IS NOT NULL AND NOT (o_totalprice < 400000)) AS bad_exmax,
    (o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-3]-')) AS bad_pat
  FROM orders
)
SELECT o_orderkey,
  CAST((CASE WHEN bad_enum THEN 1 ELSE 0 END) + (CASE WHEN bad_exmax THEN 1 ELSE 0 END)
     + (CASE WHEN bad_pat THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
  concat_ws(',', CASE WHEN bad_enum THEN 'enum' END,
                 CASE WHEN bad_exmax THEN 'exclusiveMaximum' END,
                 CASE WHEN bad_pat THEN 'pattern' END) AS keywords
FROM flags WHERE bad_enum OR bad_exmax OR bad_pat
"""

_TOKENS_SQL = "CASE WHEN trim(text) = '' THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END"

_LANG_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
    CASE WHEN trim(lower(text)) = '' THEN []
         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS t
  FROM documents
), hits AS (
  SELECT doc_id,
    len(list_filter(t, x -> x IN ('the','and','of','to','is','that','with','for'))) AS h_en,
    len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht','mit','ein'))) AS h_de,
    len(list_filter(t, x -> x IN ('le','la','les','et','est','que','des','une'))) AS h_fr,
    len(list_filter(t, x -> x IN ('el','los','las','es','que','una','por','para'))) AS h_es,
    len(list_filter(t, x -> x IN ('il','di','che','per','con','del','una','sono'))) AS h_it
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(h_en,h_de,h_fr,h_es,h_it) < 1 THEN 'und'
       ELSE (SELECT lang FROM (VALUES ('de',h_de),('en',h_en),('es',h_es),('fr',h_fr),('it',h_it)) v(lang,h)
             ORDER BY h DESC, lang ASC LIMIT 1)
  END AS lang
FROM hits
"""

_TEXT_PROFILE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents
)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  round(CASE WHEN length(text) > 0
        THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)
        ELSE 0.0 END, 4) AS alpha_ratio,
  round(CASE WHEN length(text) > 0
        THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)
        ELSE 0.0 END, 4) AS digit_ratio,
  round(CASE WHEN len(toks) > 0
        THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
        ELSE 0.0 END, 4) AS mean_word_len
FROM base
"""

_EMB_TOPK_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.v, q.qv) AS cos
  FROM e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, round(cos, 5) AS cos_r
FROM ranked WHERE rank <= 5
"""

_EMB_NEAR_DUP_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 5 = 0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 5) AS cos_r
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.95
"""

_EMB_LSH_NEAR_DUP_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 3 = 0
  UNION ALL
  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 3 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 5) AS cos_r
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.9999
"""

# exact parity with jsschema_spark.functions.text.normalized_text/tokens:
# lower → ASCII punct→space → collapse whitespace → trim → split on ' '
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[[:punct:]]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)

_MINHASH_ORACLE = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text || ' extra trailing token' FROM documents WHERE doc_id % 71 = 0
),
n AS (
  SELECT doc_id, {_NORM_SQL.format(col='text')} AS norm
  FROM all_docs WHERE text IS NOT NULL
),
t AS (
  SELECT doc_id, CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks FROM n
),
s AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM t WHERE len(toks) >= 3
),
j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(jaccard, 4) AS jaccard_r FROM j WHERE jaccard >= 0.7
"""

# the incremental path must find exactly the full-recompute pairs that touch
# a new (id >= 2000000) doc — new-vs-corpus via the stored index plus
# new-vs-new within the batch
_INCREMENTAL_MINHASH_ORACLE = _MINHASH_ORACLE.replace(
    "WHERE jaccard >= 0.7",
    "WHERE jaccard >= 0.7 AND (id_a >= 2000000 OR id_b >= 2000000)",
)

_SIMHASH_ORACLE = f"""
WITH n AS (
  SELECT doc_id, {_NORM_SQL.format(col='text')} AS norm
  FROM documents WHERE text IS NOT NULL
), u AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM n
), h AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hv FROM u
), b AS (
  SELECT doc_id, bit, sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(range(60)) AS bit) GROUP BY doc_id, bit
)
SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash60
FROM b GROUP BY doc_id
"""

_VOCAB_TOP_TOKENS_ORACLE = r"""
WITH t AS (
  SELECT CASE WHEN trim(text) = '' THEN []
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents WHERE text IS NOT NULL
), u AS (SELECT unnest(toks) AS token FROM t)
SELECT token, CAST(count(*) AS BIGINT) AS n FROM u
GROUP BY token ORDER BY n DESC, token ASC LIMIT 50
"""

_REPETITION_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_NORM_SQL.format(col='text')} AS norm
  FROM documents WHERE text IS NOT NULL
), t AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks
  FROM d
), g AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 2 THEN
      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
    ELSE [] END AS g2,
    CASE WHEN len(toks) >= 3 THEN
      list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [] END AS g3
  FROM t
), u AS (
  SELECT doc_id, unnest(g3) AS gram FROM g WHERE len(g3) > 0
), cnt AS (
  SELECT doc_id, gram, count(*) AS c FROM u GROUP BY doc_id, gram
), share AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS s
  FROM cnt GROUP BY doc_id
)
SELECT g.doc_id,
  round(CASE WHEN len(g2) > 0
        THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
        ELSE 0.0 END, 4) AS rep2_r,
  round(CASE WHEN len(g3) > 0
        THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
        ELSE 0.0 END, 4) AS rep3_r,
  round(coalesce(share.s, 0.0), 4) AS top3_share_r
FROM g LEFT JOIN share USING (doc_id)
"""

def _pii_oracle() -> str:
    from jsschema_spark.functions.text import PII_PATTERNS, _PII_ORDER

    spike = (
        "CASE WHEN doc_id % 29 = 0 THEN"
        " text || ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'"
        " WHEN doc_id % 31 = 0 THEN"
        " text || ' call 555-123-4567 from 10.0.0.' || CAST(doc_id % 250 + 1 AS VARCHAR)"
        " ELSE text END"
    )
    red = "t"
    for k in _PII_ORDER:
        red = f"regexp_replace({red}, '{PII_PATTERNS[k]}', '[PII]', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{PII_PATTERNS[k]}')) AS BIGINT) AS n_{k}"
        for k in _PII_ORDER
    )
    return (
        f"WITH s AS (SELECT doc_id, {spike} AS t FROM documents WHERE text IS NOT NULL)"
        f" SELECT doc_id, {counts}, md5({red}) AS redacted_md5 FROM s"
    )


_PII_ORACLE = _pii_oracle()

_MASKED_SPANS_ORACLE = """
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 37 = 0
         THEN text || ' standard footer block appended to many documents for masking'
         ELSE text END AS t
  FROM documents WHERE text IS NOT NULL
), tk AS (
  SELECT doc_id,
         CASE WHEN trim(t) = '' THEN [] ELSE regexp_split_to_array(trim(t), '\\s+') END AS toks
  FROM d
), g AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i+0] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] AS gram
  FROM tk, unnest(range(1, len(toks) - 8 + 2)) AS r(i)
  WHERE len(toks) >= 8
), freq AS (
  SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS c FROM g GROUP BY gram)
  WHERE c >= 2
), cov AS (
  SELECT g.doc_id, list(DISTINCT g.pos) AS starts
  FROM g JOIN freq USING (gram) GROUP BY g.doc_id
), j AS (
  SELECT tk.doc_id, toks, coalesce(cov.starts, []) AS starts
  FROM tk LEFT JOIN cov USING (doc_id)
), reb AS (
  SELECT doc_id, toks,
    list_filter(range(0, len(toks)), i ->
      len(list_filter(starts, s -> s <= i AND i < s + 8)) = 0) AS keep
  FROM j
)
SELECT doc_id,
  CAST(len(toks) - len(keep) AS BIGINT) AS n_masked_tokens,
  md5(coalesce(array_to_string(list_transform(keep, i -> toks[CAST(i + 1 AS INT)]), ' '), '')) AS masked_md5
FROM reb
"""

_UNIGRAM_LOGPROB_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
), t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM d
), u AS (
  SELECT doc_id, unnest(toks) AS tok FROM t
), v AS (
  SELECT tok, count(*) AS n FROM u GROUP BY tok
), tot AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total FROM v
), lp AS (
  SELECT u.doc_id, avg(ln(CAST(v.n AS DOUBLE) / tot.total)) AS lp
  FROM u JOIN v USING (tok) CROSS JOIN tot GROUP BY u.doc_id
)
SELECT d.doc_id, round(lp.lp, 3) AS logprob_r
FROM d LEFT JOIN lp USING (doc_id)
"""

_NGRAM_DOC_FREQ_ORACLE = f"""
WITH n AS (
  SELECT {_NORM_SQL.format(col='text')} AS norm
  FROM documents WHERE text IS NOT NULL
), t AS (
  SELECT CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks FROM n
), s AS (
  SELECT list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM t WHERE len(toks) >= 3
), u AS (SELECT unnest(sh) AS ngram FROM s)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_docs FROM u
GROUP BY ngram ORDER BY n_docs DESC, ngram ASC LIMIT 25
"""

_SIMHASH_PAIRS_ORACLE = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0 AND text IS NOT NULL
), n AS (
  SELECT doc_id, {_NORM_SQL.format(col='text')} AS norm FROM all_docs
), u AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM n
), h AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hv FROM u
), b AS (
  SELECT doc_id, bit, sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(range(60)) AS bit) GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS v
  FROM b GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.v, b.v)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.v, b.v)) <= 3
"""

_NEAR_DUP_CTE = f"""
WITH RECURSIVE all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text || ' extra trailing token' FROM documents WHERE doc_id % 71 = 0
  UNION ALL
  SELECT doc_id + 4000000, text || ' extra trailing token two' FROM documents WHERE doc_id % 71 = 0
),
n AS (
  SELECT doc_id, {_NORM_SQL.format(col='text')} AS norm
  FROM all_docs WHERE text IS NOT NULL
),
t AS (
  SELECT doc_id, CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks FROM n
),
s AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM t WHERE len(toks) >= 3
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
),
edges AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
walk AS (
  SELECT u, u AS reach FROM (SELECT DISTINCT u FROM edges) nodes
  UNION
  SELECT w.u, e.v AS reach FROM walk w JOIN edges e ON e.u = w.reach
)
"""

_NEAR_DUP_GROUPS_ORACLE = _NEAR_DUP_CTE + """
SELECT CAST(u AS BIGINT) AS doc_id, CAST(min(reach) AS BIGINT) AS group_id
FROM walk GROUP BY u
"""

_NEAR_DUP_CANONICAL_ORACLE = _NEAR_DUP_CTE + """
, g AS (SELECT u, min(reach) AS grp FROM walk GROUP BY u)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id
FROM all_docs d
WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.u = d.doc_id AND g.grp <> d.doc_id)
"""

# exact parity with jsschema_spark.functions.text.quality_score: every
# component ratio is an integer-over-integer double division and every
# branch constant matches, so both engines produce bit-identical scores
# (verified; round(4) in the query guards any residue). The stopword
# literal mirrors text.STOPWORDS_EN (asserted by a pytest).
_STOPWORDS_SQL = (
    "'the','a','an','and','or','of','to','in','is','are','was','it','that',"
    "'this','for','on','with','as','at','by','be'"
)


def _quality_sql(src: str) -> str:
    """(doc_id, text, score) for non-null-text rows of relation ``src`` —
    the composite quality heuristic in DuckDB SQL."""
    return f"""
SELECT doc_id, text,
  0.30*(CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 1.0 WHEN n_tok > 0 THEN 0.4 ELSE 0.0 END)
 + 0.15*(CASE WHEN punct_r <= 0.2 THEN 1.0 ELSE 0.3 END)
 + 0.25*(CASE WHEN alpha_r >= 0.6 THEN 1.0 WHEN alpha_r >= 0.3 THEN 0.5 ELSE 0.0 END)
 + 0.15*(CASE WHEN stop_r >= 0.05 THEN 1.0 ELSE 0.5 END)
 + 0.15*(CASE WHEN mwl >= 2.5 AND mwl <= 12 THEN 1.0 ELSE 0.4 END) AS score
FROM (
  SELECT doc_id, text, len(toks) AS n_tok,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
         ELSE 0.0 END AS punct_r,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[^[:alpha:]]', '', 'g')) AS DOUBLE) / length(text)
         ELSE 0.0 END AS alpha_r,
    CASE WHEN len(toks) > 0
         THEN CAST(len(list_filter(ltoks, x -> x IN ({_STOPWORDS_SQL}))) AS DOUBLE) / len(toks)
         ELSE 0.0 END AS stop_r,
    CASE WHEN len(toks) > 0
         THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
         ELSE 0.0 END AS mwl
  FROM (
    SELECT doc_id, text,
      CASE WHEN trim(text) = '' THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks,
      CASE WHEN trim(lower(text)) = '' THEN []
           ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltoks
    FROM {src} WHERE text IS NOT NULL
  )
)"""


_QUALITY_SCORE_ORACLE = (
    "SELECT doc_id, round(CAST(score AS DOUBLE), 4) AS quality_r "
    f"FROM ({_quality_sql('documents')})"
)

# 8-gram shingles of the normalized text (same normalization as _NORM_SQL /
# word_shingles): indices 1..len-7, so docs under 8 tokens emit none
_SHINGLE8_SQL = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 6, 1)), i -> "
    "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || "
    "toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))"
)

_CONTAMINATION_ORACLE = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 7000000, 'totally novel preamble ' || text
  FROM documents WHERE doc_id % 97 = 0 AND text IS NOT NULL
),
corp_t AS (
  SELECT doc_id, string_split({_NORM_SQL.format(col='text')}, ' ') AS toks
  FROM all_docs WHERE {_NORM_SQL.format(col='text')} <> ''
),
corp AS (
  SELECT doc_id, unnest({_SHINGLE8_SQL}) AS sh FROM corp_t WHERE len(toks) >= 8
),
bench_t AS (
  SELECT string_split({_NORM_SQL.format(col='text')}, ' ') AS toks
  FROM documents WHERE doc_id % 97 = 0 AND text IS NOT NULL
        AND {_NORM_SQL.format(col='text')} <> ''
),
bench AS (
  SELECT DISTINCT unnest({_SHINGLE8_SQL}) AS sh FROM bench_t WHERE len(toks) >= 8
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM corp JOIN bench USING (sh) GROUP BY 1
"""

_WEIGHTED_SAMPLE_ORACLE = f"""
WITH lang AS ({_LANG_ORACLE}),
t AS (
  SELECT d.doc_id, l.lang,
    CAST(CASE WHEN trim(d.text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS DOUBLE) AS w
  FROM documents d JOIN lang l ON l.doc_id = d.doc_id
  WHERE d.text IS NOT NULL
), keyed AS (
  SELECT doc_id, lang,
    ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1.0)
       / 1152921504606846978.0) / w AS k
  FROM t WHERE w > 0
), r AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id ASC) AS rk
  FROM keyed
)
SELECT lang, CAST(doc_id AS BIGINT) AS doc_id FROM r WHERE rk <= 20
"""

_TOP_QUALITY_ORACLE = f"""
WITH lang AS ({_LANG_ORACLE}),
q AS ({_quality_sql('documents')}),
r AS (
  SELECT q.doc_id, l.lang, CAST(q.score AS DOUBLE) AS score,
         row_number() OVER (PARTITION BY l.lang
                            ORDER BY q.score DESC, q.doc_id ASC) AS rk
  FROM q JOIN lang l ON l.doc_id = q.doc_id
)
SELECT doc_id, lang, round(score, 4) AS quality_r FROM r WHERE rk <= 5
"""

_CURATED_ORACLE = f"""
WITH RECURSIVE all_docs AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + 2000000, text || ' extra trailing token'
  FROM documents WHERE doc_id % 71 = 0 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + 3000000, '#@! $%^ &*( !!!' FROM documents WHERE doc_id % 37 = 0
  UNION ALL
  SELECT doc_id + 5000000, '   ' FROM documents WHERE doc_id % 43 = 0
),
valid AS (
  SELECT doc_id, text FROM all_docs
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
qpass AS (
  SELECT doc_id, text FROM ({_quality_sql('valid')}) WHERE score >= 0.95
),
nrm AS (
  SELECT doc_id, text, {_NORM_SQL.format(col='text')} AS norm FROM qpass
),
exkept AS (
  SELECT doc_id, text, norm FROM (
    SELECT doc_id, text, norm, min(doc_id) OVER (PARTITION BY norm) AS keeper FROM nrm
  ) WHERE doc_id = keeper
),
t AS (
  SELECT doc_id, CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks
  FROM exkept
),
s AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM t WHERE len(toks) >= 3
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
),
edges AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
walk AS (
  SELECT u, u AS reach FROM (SELECT DISTINCT u FROM edges) nodes
  UNION
  SELECT w.u, e.v AS reach FROM walk w JOIN edges e ON e.u = w.reach
),
g AS (SELECT u, min(reach) AS grp FROM walk GROUP BY u)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id
FROM exkept d
WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.u = d.doc_id AND g.grp <> d.doc_id)
"""

_FRESHNESS_ORACLE = """
WITH m AS (
  SELECT max(ts) AS latest_ts,
         CAST(floor(date_diff('microsecond', max(ts),
                              TIMESTAMP '2024-02-01 00:00:00') / 1000000.0) AS BIGINT)
           AS lag_seconds
  FROM events
)
SELECT CAST(epoch_us(latest_ts) AS BIGINT) AS latest_us,
       lag_seconds,
       coalesce(lag_seconds <= 86400, false) AS fresh
FROM m
"""

_FD_ORACLE = """
WITH v AS (
  SELECT c_nationkey,
         coalesce(CAST(c_mktsegment AS VARCHAR), '__NULL__') AS dep
  FROM customer
)
SELECT c_nationkey,
       CAST(count(DISTINCT dep) AS BIGINT) AS n_dependent_values,
       CAST(count(*) AS BIGINT) AS n_rows,
       array_to_string(list_sort(list_distinct(list(dep)))[1:3], ',') AS samples
FROM v GROUP BY 1 HAVING count(DISTINCT dep) > 1
"""

_CARDINALITY_ORACLE = """
WITH c AS (
  SELECT l_orderkey AS o_orderkey, count(*) AS n FROM lineitem GROUP BY 1
)
SELECT o.o_orderkey,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_children,
       CASE WHEN coalesce(c.n, 0) < 2 THEN 'under' ELSE 'over' END AS bound
FROM orders o LEFT JOIN c USING (o_orderkey)
WHERE coalesce(c.n, 0) < 2 OR coalesce(c.n, 0) > 7
"""

_SESSION_STATS_ORACLE = """
WITH s AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts > lag(ts) OVER w + INTERVAL 6 HOUR THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), c AS (
  SELECT user_id, ts,
    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM s
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
       CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
FROM c GROUP BY 1, 2
"""

_ASOF_ORACLE = """
SELECT c.event_id, c.user_id,
       CAST(epoch_us(c.ts) AS BIGINT) AS ts_us,
       CAST(epoch_us(e.rts) AS BIGINT) AS err_ts_us,
       e.value AS err_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN
     (SELECT user_id AS uid, ts AS rts, value FROM events WHERE event_type = 'error') e
  ON c.user_id = e.uid AND c.ts >= e.rts
"""

_ANOMALOUS_USERS_ORACLE = """
WITH all_ev AS (
  SELECT user_id, value FROM events
  UNION ALL
  SELECT user_id + 100000, value * 20 + 1000 FROM events WHERE user_id % 37 = 0
), g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
         avg(CAST(value AS DOUBLE)) AS gm
  FROM all_ev GROUP BY 1
  HAVING count(*) >= 20 AND avg(CAST(value AS DOUBLE)) IS NOT NULL
), zed AS (
  SELECT user_id, n_rows, gm,
    CASE WHEN stddev_samp(gm) OVER () > 0
         THEN (gm - avg(gm) OVER ()) / stddev_samp(gm) OVER ()
         ELSE 0.0 END AS z
  FROM g
)
SELECT user_id, n_rows, round(gm, 4) AS mean_r, round(z, 2) AS z_r
FROM zed WHERE abs(z) >= 3.0
"""

_GROUPED_STATS_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
       CAST(min(l_quantity) AS DOUBLE) AS min_num,
       CAST(max(l_quantity) AS DOUBLE) AS max_num,
       round(avg(CAST(l_quantity AS DOUBLE)), 6) AS mean_r,
       round(stddev_samp(CAST(l_quantity AS DOUBLE)), 6) AS stddev_r
FROM lineitem GROUP BY 1
"""

_KS_DRIFT_ORACLE = """
WITH b AS (
  SELECT CAST(least(greatest(floor((l_quantity - 1.0) / 5.0), 0), 9) AS INT) AS bucket,
         count(*) AS n_base
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
), c AS (
  SELECT CAST(least(greatest(floor((l_quantity - 1.0) / 5.0), 0), 9) AS INT) AS bucket,
         count(*) AS n_cur
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount > 0.02 GROUP BY 1
), j AS (
  SELECT coalesce(b.bucket, c.bucket) AS bucket,
         coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
  FROM b FULL OUTER JOIN c ON b.bucket = c.bucket
), k AS (
  SELECT bucket, n_base, n_cur,
    CAST(sum(n_base) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      / CAST(sum(n_base) OVER () AS DOUBLE) AS cdf_base,
    CAST(sum(n_cur) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      / CAST(sum(n_cur) OVER () AS DOUBLE) AS cdf_cur
  FROM j
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
       round(cdf_base, 6) AS cdf_base_r, round(cdf_cur, 6) AS cdf_cur_r,
       round(abs(cdf_base - cdf_cur), 6) AS cdf_gap_r
FROM k
"""

_STRATIFIED_SAMPLE_ORACLE = f"""
WITH lang AS ({_LANG_ORACLE}),
r AS (
  SELECT d.doc_id, l.lang,
         row_number() OVER (PARTITION BY l.lang
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
  FROM documents d JOIN lang l ON l.doc_id = d.doc_id
  WHERE d.text IS NOT NULL
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM r WHERE rk <= 25
"""

_TOKEN_BUDGET_ORACLE = f"""
WITH lang AS ({_LANG_ORACLE}),
base AS (
  SELECT d.doc_id, l.lang,
    CAST(CASE WHEN trim(d.text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS BIGINT) AS n_tokens
  FROM documents d JOIN lang l ON l.doc_id = d.doc_id
  WHERE d.text IS NOT NULL
),
c AS (
  SELECT doc_id, lang, n_tokens,
    sum(n_tokens) OVER (PARTITION BY lang
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM base
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, n_tokens FROM c WHERE cum <= 1500
"""

_CHUNKED_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents WHERE text IS NOT NULL
), nz AS (
  SELECT doc_id, toks, len(toks) AS L FROM t WHERE len(toks) > 0
), s AS (
  SELECT doc_id, toks, L,
         unnest(range(1, greatest(L - 8, 1) + 1, 56)) AS st
  FROM nz
)
SELECT doc_id, CAST((st - 1) / 56 AS BIGINT) AS chunk_idx,
       md5(array_to_string(toks[st:least(st + 63, L)], ' ')) AS chunk_md5,
       CAST(least(64, L - st + 1) AS BIGINT) AS n_tokens
FROM s
"""

_LEAKAGE_SPLIT_ORACLE = _NEAR_DUP_CTE + """
, g AS (SELECT u AS doc_id, min(reach) AS grp FROM walk GROUP BY u)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CASE WHEN ('0x' || substring(md5(CAST(coalesce(g.grp, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT
                 / 4294967296.0 < 0.8
            THEN 'train' ELSE 'eval' END AS split
FROM all_docs d LEFT JOIN g ON g.doc_id = d.doc_id
"""

_NUMERIC_DRIFT_ORACLE = """
WITH b AS (
  SELECT CAST(least(greatest(floor((l_quantity - 1.0) / 5.0), 0), 9) AS INT) AS bucket,
         count(*) AS n_base
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
), c AS (
  SELECT CAST(least(greatest(floor((l_quantity - 1.0) / 5.0), 0), 9) AS INT) AS bucket,
         count(*) AS n_cur
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount > 0.02 GROUP BY 1
), j AS (
  SELECT coalesce(b.bucket, c.bucket) AS bucket,
         coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
  FROM b FULL OUTER JOIN c ON b.bucket = c.bucket
), p AS (
  SELECT bucket, n_base, n_cur,
         greatest(CAST(n_base AS DOUBLE) / sum(n_base) OVER (), 1e-6) AS pe,
         greatest(CAST(n_cur AS DOUBLE) / sum(n_cur) OVER (), 1e-6) AS pa
  FROM j
)
SELECT CAST(bucket AS BIGINT) AS bucket, n_base, n_cur,
       round(pe, 6) AS p_base_r, round(pa, 6) AS p_cur_r,
       round((pa - pe) * ln(pa / pe), 6) AS psi_term_r
FROM p
"""

_ANN_CORPUS_SQL = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
copies AS (
  SELECT 9000000 + query_id * 100 + j AS vec_id, qv AS v
  FROM q, (SELECT unnest(range(1, 9)) AS j)
),
corpus AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM copies),
scored AS (
  SELECT q.query_id, c.vec_id, list_cosine_similarity(c.v, q.qv) AS cos
  FROM corpus c CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
"""

# brute force == the approximate result on the injected-copies corpus (the
# 5 top hits per query are exact vector copies at cosine 1.0, provably in
# the query's own LSH bucket / IVF probe cell)
_ANN_TOPK_ORACLE = f"""
WITH {_ANN_CORPUS_SQL}
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, round(cos, 5) AS cos_r
FROM ranked WHERE rank <= 5
"""

_CLIPS_SQL = """
  SELECT
    printf('clip-%012d', doc_id) AS clip_id,
    CASE WHEN doc_id % 50 = 0 THEN 96001
         WHEN doc_id % 50 = 25 THEN 0
         ELSE [8000, 16000, 44100][CAST(doc_id % 3 AS INT) + 1] END AS sr_hz,
    CASE WHEN doc_id % 47 = 0 THEN 70000
         WHEN doc_id % 47 = 23 THEN 0
         ELSE 200 + (doc_id * 37) % 14800 END AS dur_ms,
    CASE WHEN doc_id % 41 = 0 THEN 'unknown_codec'
         ELSE ['pcm_s16le', 'flac', 'opus'][CAST(doc_id % 3 AS INT) + 1] END AS codec,
    CASE WHEN doc_id % 43 = 0 THEN '' ELSE coalesce(text, 'x') END AS transcript
  FROM documents
"""

_CLIPS_VALIDATION_ORACLE = f"""
WITH clips AS ({_CLIPS_SQL}),
agg AS (
  SELECT count(*) AS n_rows,
    CAST(sum(CASE WHEN NOT regexp_matches(clip_id, 'clip-[0-9]{{12}}') THEN 1 ELSE 0 END) AS BIGINT) AS v_pat_clip,
    CAST(sum(CASE WHEN NOT (sr_hz >= 8000) THEN 1 ELSE 0 END) AS BIGINT) AS v_min_sr,
    CAST(sum(CASE WHEN NOT (sr_hz <= 48000) THEN 1 ELSE 0 END) AS BIGINT) AS v_max_sr,
    CAST(sum(CASE WHEN NOT (dur_ms >= 1) THEN 1 ELSE 0 END) AS BIGINT) AS v_min_dur,
    CAST(sum(CASE WHEN NOT (dur_ms <= 60000) THEN 1 ELSE 0 END) AS BIGINT) AS v_max_dur,
    CAST(sum(CASE WHEN codec NOT IN ('pcm_s16le', 'flac', 'opus') THEN 1 ELSE 0 END) AS BIGINT) AS v_enum_codec,
    CAST(sum(CASE WHEN NOT (length(transcript) >= 1) THEN 1 ELSE 0 END) AS BIGINT) AS v_minlen_txt,
    CAST(sum(CASE WHEN NOT (length(transcript) <= 4096) THEN 1 ELSE 0 END) AS BIGINT) AS v_maxlen_txt
  FROM clips
)
SELECT '$.clip_id' AS path, 'required' AS keyword, CAST(0 AS BIGINT) AS n_violations, n_rows FROM agg
UNION ALL SELECT '$.bytes', 'required', 0, n_rows FROM agg
UNION ALL SELECT '$.sr_hz', 'required', 0, n_rows FROM agg
UNION ALL SELECT '$.dur_ms', 'required', 0, n_rows FROM agg
UNION ALL SELECT '$.codec', 'required', 0, n_rows FROM agg
UNION ALL SELECT '$.transcript', 'required', 0, n_rows FROM agg
UNION ALL SELECT '$.clip_id', 'pattern', v_pat_clip, n_rows FROM agg
UNION ALL SELECT '$.sr_hz', 'minimum', v_min_sr, n_rows FROM agg
UNION ALL SELECT '$.sr_hz', 'maximum', v_max_sr, n_rows FROM agg
UNION ALL SELECT '$.dur_ms', 'minimum', v_min_dur, n_rows FROM agg
UNION ALL SELECT '$.dur_ms', 'maximum', v_max_dur, n_rows FROM agg
UNION ALL SELECT '$.codec', 'enum', v_enum_codec, n_rows FROM agg
UNION ALL SELECT '$.transcript', 'minLength', v_minlen_txt, n_rows FROM agg
UNION ALL SELECT '$.transcript', 'maxLength', v_maxlen_txt, n_rows FROM agg
"""

_VIOLATION_SAMPLES_ORACLE = """
WITH v AS (
  SELECT '$.o_orderstatus' AS path, 'enum' AS keyword, o_orderkey FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F')
  UNION ALL
  SELECT '$.o_totalprice', 'exclusiveMaximum', o_orderkey FROM orders
  WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice < 400000)
  UNION ALL
  SELECT '$.o_orderpriority', 'pattern', o_orderkey FROM orders
  WHERE o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
), r AS (
  SELECT path, keyword, o_orderkey,
         row_number() OVER (PARTITION BY path, keyword ORDER BY o_orderkey) AS rn
  FROM v
)
SELECT path, keyword, o_orderkey, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 3
"""


def _conformance_oracle() -> str:
    """Ground truth for the golden corpus IS the fixture filename
    (<suite>_pass*/<suite>_fail*), so the oracle is a constant VALUES table:
    the engine's ``valid`` must equal ``expect_pass`` on every row for the
    value-hash to match."""
    rows = []
    for suite in CONFORMANCE_SUITES:
        for kind, expect in (("pass", "TRUE"), ("fail", "FALSE")):
            for p in sorted(glob.glob(os.path.join(CORPUS, f"{suite}_{kind}*.json"))):
                case_id = os.path.basename(p)[:-5]
                rows.append(f"('{suite}', '{case_id}', {expect})")
    values = ",\n  ".join(rows)
    return (
        "SELECT suite, case_id, expect_pass, expect_pass AS valid, TRUE AS agree\n"
        f"FROM (VALUES\n  {values}\n) v(suite, case_id, expect_pass)"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "validate_lineitem": _LINEITEM_ORACLE,
        "invalid_orders": _INVALID_ORDERS_ORACLE,
        "customer_acctbal_check": """
            SELECT c_mktsegment, count(*) AS n_rows,
                   CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_zero,
                   round(min(c_acctbal), 2) AS min_bal, round(max(c_acctbal), 2) AS max_bal
            FROM customer GROUP BY c_mktsegment""",
        "uniqueness_events_user": """
            SELECT user_id, count(*) AS n_rows FROM events
            GROUP BY user_id HAVING count(*) > 1""",
        "referential_orders_customer": """
            SELECT o_orderkey FROM orders o
            WHERE NOT EXISTS (
              SELECT 1 FROM customer c WHERE c.c_acctbal > 5000 AND c.c_custkey = o.o_custkey)""",
        "stats_lineitem": """
            SELECT 'l_quantity' AS "column", count(*) AS n_rows,
                   CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   count(DISTINCT l_quantity) AS n_distinct,
                   round(min(l_quantity), 4) AS min_num, round(max(l_quantity), 4) AS max_num,
                   round(avg(l_quantity), 4) AS mean,
                   round(quantile_cont(l_quantity, 0.5), 4) AS p50
            FROM lineitem
            UNION ALL
            SELECT 'l_discount', count(*),
                   CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT l_discount),
                   round(min(l_discount), 4), round(max(l_discount), 4), round(avg(l_discount), 4),
                   round(quantile_cont(l_discount, 0.5), 4)
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', count(*),
                   CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT l_extendedprice),
                   round(min(l_extendedprice), 4), round(max(l_extendedprice), 4), round(avg(l_extendedprice), 4),
                   CAST(NULL AS DOUBLE)
            FROM lineitem""",
        "categorical_drift_returnflag": """
            WITH b AS (
              SELECT coalesce(CAST(l_returnflag AS VARCHAR), '__NULL__') AS cat, count(*) AS n
              FROM lineitem GROUP BY 1
            ), c AS (
              SELECT coalesce(CAST(l_returnflag AS VARCHAR), '__NULL__') AS cat, count(*) AS n
              FROM lineitem WHERE l_quantity > 25 GROUP BY 1
            ), top AS (SELECT cat FROM b ORDER BY n DESC, cat ASC LIMIT 2),
            bm AS (
              SELECT CASE WHEN cat IN (SELECT cat FROM top) THEN cat ELSE '__OTHER__' END AS category,
                     CAST(sum(n) AS BIGINT) AS n_base FROM b GROUP BY 1
            ), cm AS (
              SELECT CASE WHEN cat IN (SELECT cat FROM top) THEN cat ELSE '__OTHER__' END AS category,
                     CAST(sum(n) AS BIGINT) AS n_cur FROM c GROUP BY 1
            ), j AS (
              SELECT coalesce(bm.category, cm.category) AS category,
                     coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
              FROM bm FULL OUTER JOIN cm ON bm.category = cm.category
              WHERE coalesce(n_base, 0) > 0 OR coalesce(n_cur, 0) > 0
            ), p AS (
              SELECT category, n_base, n_cur,
                     greatest(CAST(n_base AS DOUBLE) / sum(n_base) OVER (), 1e-6) AS pe,
                     greatest(CAST(n_cur AS DOUBLE) / sum(n_cur) OVER (), 1e-6) AS pa
              FROM j
            )
            SELECT category, n_base, n_cur,
                   round(pe, 6) AS p_base_r, round(pa, 6) AS p_cur_r,
                   round((pa - pe) * ln(pa / pe), 6) AS psi_term_r
            FROM p""",
        "histogram_l_quantity": """
            SELECT CAST(least(greatest(floor((l_quantity - 1.0) / 5.0), 0), 9) AS BIGINT) AS bucket,
                   count(*) AS n
            FROM lineitem WHERE l_quantity IS NOT NULL
            GROUP BY 1""",
        "token_count_documents": f"""
            SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens FROM documents""",
        "text_profile_documents": _TEXT_PROFILE_ORACLE,
        "exact_dup_documents": """
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
            )
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
                   count(*) AS n_docs, min(doc_id) AS min_doc_id
            FROM all_docs GROUP BY 1 HAVING count(*) > 1""",
        "lang_id_documents": _LANG_ORACLE,
        "embedding_topk": _EMB_TOPK_ORACLE,
        "embedding_near_dups": _EMB_NEAR_DUP_ORACLE,
        "events_props_json": """
            SELECT count(*) AS n_rows,
                   CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
                   CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
            FROM (
              SELECT json_extract(props, '$.k') IS NOT NULL
                     AND json_type(json_extract(props, '$.k')) IN ('INTEGER', 'UBIGINT', 'BIGINT')
                     AND CAST(json_extract(props, '$.k') AS BIGINT) BETWEEN 0 AND 80 AS ok
              FROM events)""",
        "conformance_corpus": _conformance_oracle(),
        "clips_validation": _CLIPS_VALIDATION_ORACLE,
        "minhash_near_dups": _MINHASH_ORACLE,
        "simhash_documents": _SIMHASH_ORACLE,
        "simhash_near_dup_pairs": _SIMHASH_PAIRS_ORACLE,
        "vocab_top_tokens": _VOCAB_TOP_TOKENS_ORACLE,
        "ngram_doc_freq": _NGRAM_DOC_FREQ_ORACLE,
        "embedding_lsh_near_dups": _EMB_LSH_NEAR_DUP_ORACLE,
        "near_dup_groups": _NEAR_DUP_GROUPS_ORACLE,
        "near_dup_canonical": _NEAR_DUP_CANONICAL_ORACLE,
        "leakage_split_documents": _LEAKAGE_SPLIT_ORACLE,
        "chunked_documents": _CHUNKED_ORACLE,
        "numeric_drift_quantity": _NUMERIC_DRIFT_ORACLE,
        "ks_drift_quantity": _KS_DRIFT_ORACLE,
        "grouped_stats_lineitem": _GROUPED_STATS_ORACLE,
        "anomalous_users_events": _ANOMALOUS_USERS_ORACLE,
        "session_stats_events": _SESSION_STATS_ORACLE,
        "asof_clicks_errors": _ASOF_ORACLE,
        "freshness_events": _FRESHNESS_ORACLE,
        "transcript_rate_clips": f"""
            WITH clips AS ({_CLIPS_SQL}),
            r AS (
              SELECT clip_id, dur_ms,
                     CAST(len(CASE WHEN trim(transcript) = '' THEN []
                              ELSE regexp_split_to_array(trim(transcript), '\\s+') END) AS BIGINT) AS n_tokens
              FROM clips
            ), f AS (
              SELECT clip_id, CAST(dur_ms AS BIGINT) AS dur_ms, n_tokens,
                     CASE WHEN dur_ms > 0 THEN round(n_tokens * 1000.0 / dur_ms, 6) END AS tps_r,
                     CASE WHEN dur_ms IS NULL OR dur_ms <= 0 THEN 'bad_duration'
                          WHEN n_tokens = 0 THEN 'empty_transcript'
                          WHEN n_tokens * 1000.0 / dur_ms > 8.0 THEN 'too_fast'
                          WHEN n_tokens * 1000.0 / dur_ms < 0.5 THEN 'too_slow' END AS reason
              FROM r
            )
            SELECT * FROM f WHERE reason IS NOT NULL
        """,
        "completeness_events": """
            WITH e AS (
              SELECT date_trunc('hour', ts) AS p FROM events
              WHERE event_type = 'purchase' AND ts IS NOT NULL
            ), c AS (
              SELECT p, count(*) AS n FROM e GROUP BY p
            ), bounds AS (
              SELECT min(p) AS lo, max(p) AS hi FROM e
            ), expected AS (
              SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS period_start
              FROM bounds
            )
            SELECT epoch_us(expected.period_start) AS period_us,
                   CAST(COALESCE(c.n, 0) AS BIGINT) AS n_rows,
                   (c.p IS NULL) AS is_gap
            FROM expected LEFT JOIN c ON expected.period_start = c.p
        """,
        "fd_customer_nation_segment": _FD_ORACLE,
        "cardinality_orders_lineitem": _CARDINALITY_ORACLE,
        "quality_score_documents": _QUALITY_SCORE_ORACLE,
        "repetition_documents": _REPETITION_ORACLE,
        "unigram_logprob_documents": _UNIGRAM_LOGPROB_ORACLE,
        "pii_documents": _PII_ORACLE,
        "retention_events": """
            WITH cohorts AS (
              SELECT user_id, date_trunc('week', min(ts)) AS cohort
              FROM events GROUP BY user_id
            ), active AS (
              SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
            )
            SELECT CAST(c.cohort AS DATE) AS cohort_week,
                   CAST(date_diff('day', CAST(c.cohort AS DATE), CAST(a.wk AS DATE)) / 7 AS INT) AS week_idx,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM active a JOIN cohorts c ON a.user_id = c.user_id
            GROUP BY cohort_week, week_idx
        """,
        "lang_confusion_documents": f"""
            WITH inferred AS ({{_LANG_CTE}})
            SELECT d.lang AS claimed, i.lang AS inferred,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents d JOIN inferred i USING (doc_id)
            WHERE d.text IS NOT NULL
            GROUP BY claimed, inferred
        """.format(_LANG_CTE=_LANG_ORACLE),
        "skew_events_user": """
            WITH counts AS (
              SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_rows
              FROM events GROUP BY user_id
            ), tot AS (
              SELECT sum(n_rows) AS total, count(*) AS n_keys, max(n_rows) AS mx
              FROM counts
            )
            SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
                   round(n_rows / tot.total, 6) AS share,
                   CAST(tot.n_keys AS BIGINT) AS n_keys,
                   round(tot.mx / (tot.total / tot.n_keys), 4) AS skew_ratio
            FROM counts, tot
            ORDER BY n_rows DESC, key ASC LIMIT 10
        """,
        "embedding_dup_groups": """
            WITH RECURSIVE e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id % 3 = 0
              UNION ALL
              SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
              FROM embeddings WHERE vec_id % 3 = 0
              UNION ALL
              SELECT vec_id + 2000000, CAST(embedding AS DOUBLE[])
              FROM embeddings WHERE vec_id % 3 = 0
            ), p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.9999
            ),
            edges AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
            walk AS (
              SELECT u, u AS reach FROM (SELECT DISTINCT u FROM edges) nodes
              UNION
              SELECT w.u, e2.v AS reach FROM walk w JOIN edges e2 ON e2.u = w.reach
            )
            SELECT CAST(u AS BIGINT) AS vec_id, CAST(min(reach) AS BIGINT) AS group_id
            FROM walk GROUP BY u
        """,
        "inferred_schema_orders": _inferred_schema_oracle(),
        "contract_drift_orders": _contract_drift_oracle(),
        "masked_spans_documents": _MASKED_SPANS_ORACLE,
        "funnel_events": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id
            )
            SELECT 'signup' AS step, CAST(0 AS INT) AS step_idx,
                   CAST(count(*) AS BIGINT) AS n_users FROM s1
            UNION ALL SELECT 'click', CAST(1 AS INT),
                   CAST(count(*) AS BIGINT) FROM s2
            UNION ALL SELECT 'purchase', CAST(2 AS INT),
                   CAST(count(*) AS BIGINT) FROM s3
        """,
        "contamination_documents": _CONTAMINATION_ORACLE,
        "top_quality_per_lang": _TOP_QUALITY_ORACLE,
        "weighted_sample_documents": _WEIGHTED_SAMPLE_ORACLE,
        "curated_documents": _CURATED_ORACLE,
        "stratified_sample_documents": _STRATIFIED_SAMPLE_ORACLE,
        "token_budget_documents": _TOKEN_BUDGET_ORACLE,
        "lsh_topk": _ANN_TOPK_ORACLE,
        "ivf_topk": _ANN_TOPK_ORACLE,
        "ivf_index_search": _ANN_TOPK_ORACLE,
        "lsh_index_search": _ANN_TOPK_ORACLE,
        "label_centroids": """
            SELECT label, CAST(t.i - 1 AS INT) AS dim,
                   round(avg(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)), 6) AS mean_r
            FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
            WHERE embedding IS NOT NULL
            GROUP BY label, dim
        """,
        "incremental_minhash": _INCREMENTAL_MINHASH_ORACLE,
        "embedding_multiseed_near_dups": _EMB_LSH_NEAR_DUP_ORACLE,
        "violation_samples_orders": _VIOLATION_SAMPLES_ORACLE,
        "key_set_customers_orders": """
            SELECT custkey, 'missing' AS status FROM (
              SELECT DISTINCT c_custkey AS custkey FROM customer
              EXCEPT SELECT DISTINCT o_custkey FROM orders)
            UNION ALL
            SELECT custkey, 'unexpected' AS status FROM (
              SELECT DISTINCT o_custkey AS custkey FROM orders
              EXCEPT SELECT DISTINCT c_custkey FROM customer)""",
        "order_total_reconciliation": """
            WITH r AS (
              SELECT l_orderkey AS key,
                     sum(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                         * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS actual
              FROM lineitem GROUP BY 1
            ), j AS (
              SELECT o_orderkey, key,
                     CAST(o_totalprice AS DECIMAL(12,2)) AS expected, actual,
                     abs(CAST(o_totalprice AS DECIMAL(12,2)) - actual) AS abs_err
              FROM orders FULL OUTER JOIN r ON o_orderkey = r.key
            ), b AS (
              SELECT CASE WHEN o_orderkey IS NULL THEN 'missing_order'
                          WHEN key IS NULL THEN 'missing_lines'
                          WHEN abs_err <= 0.01 THEN 'match'
                          WHEN abs_err <= 100 THEN 'err_le_100'
                          WHEN abs_err <= 10000 THEN 'err_le_10k'
                          ELSE 'err_gt_10k' END AS bucket,
                     abs_err
              FROM j
            )
            SELECT bucket, count(*) AS n_orders,
                   CAST(sum(coalesce(abs_err, 0)) AS DOUBLE) AS total_abs_err
            FROM b GROUP BY 1""",
        "embedding_validation": """
            WITH c AS (
              SELECT vec_id,
                CASE WHEN vec_id % 97 = 0 THEN list_append(embedding, CAST(0.0 AS FLOAT))
                     WHEN vec_id % 89 = 3 THEN list_transform(embedding, x -> CAST('NaN' AS FLOAT))
                     WHEN vec_id % 83 = 7 THEN list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 100.0 AS FLOAT))
                     WHEN vec_id % 79 = 11 THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
                     WHEN vec_id % 101 = 13 THEN NULL
                     ELSE embedding END AS v
              FROM embeddings
            ), m AS (
              SELECT vec_id, v, len(v) AS dim,
                coalesce(list_aggregate(list_transform(v, x -> CAST(isnan(x) AS INT)), 'max') = 1, FALSE) AS has_nan,
                list_aggregate(list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS norm_sq
              FROM c
            )
            SELECT vec_id, reason FROM (
              SELECT vec_id, 'null_vec' AS reason FROM m WHERE v IS NULL
              UNION ALL SELECT vec_id, 'bad_dim' FROM m WHERE v IS NOT NULL AND dim <> 64
              UNION ALL SELECT vec_id, 'nan' FROM m WHERE v IS NOT NULL AND has_nan
              UNION ALL SELECT vec_id, 'norm_low' FROM m WHERE v IS NOT NULL AND NOT has_nan AND norm_sq < 0.25
              UNION ALL SELECT vec_id, 'norm_high' FROM m WHERE v IS NOT NULL AND NOT has_nan AND norm_sq > 4.0
            )""",
        "violations_cube_orders": """
            WITH v AS (
              SELECT o_orderstatus, keyword FROM (
                SELECT o_orderstatus, CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O','F') THEN 'enum' END AS keyword FROM orders
                UNION ALL
                SELECT o_orderstatus, CASE WHEN o_totalprice IS NOT NULL
                       AND NOT (o_totalprice < 400000) THEN 'exclusiveMaximum' END FROM orders
                UNION ALL
                SELECT o_orderstatus, CASE WHEN o_orderpriority IS NOT NULL
                       AND NOT regexp_matches(o_orderpriority, '^[1-3]-') THEN 'pattern' END FROM orders
              ) WHERE keyword IS NOT NULL
            )
            SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
                        ELSE coalesce(o_orderstatus, '__NULL__') END AS status,
                   CASE WHEN GROUPING(keyword) = 1 THEN '(all)'
                        ELSE coalesce(keyword, '__NULL__') END AS keyword,
                   count(*) AS n
            FROM v GROUP BY CUBE(o_orderstatus, keyword)""",
        "clip_windows": f"""
            WITH clips AS ({_CLIPS_SQL})
            SELECT clip_id,
                   CAST(s / 500 AS INT) AS win_idx,
                   CAST(s AS INT) AS start_ms,
                   CAST(s + 1000 AS INT) AS end_ms
            FROM clips, unnest(generate_series(0, dur_ms - 1000, 500)) AS t(s)
            WHERE dur_ms IS NOT NULL AND dur_ms >= 1000""",
        "benford_totalprice": """
            WITH d AS (
              SELECT CAST(substring(CAST(CAST(abs(o_totalprice) AS DECIMAL(38,2)) AS VARCHAR), 1, 1) AS INT) AS digit
              FROM orders WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) >= 1
            ), c AS (
              SELECT digit, count(*) AS n FROM d GROUP BY 1
            )
            SELECT digit, n,
                   CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS p_obs,
                   CAST([0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
                    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
                    0.05799194697768673, 0.05115252244738129, 0.04575749056067514][digit] AS DOUBLE) AS p_exp,
                   CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
                     - CAST([0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
                        0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
                        0.05799194697768673, 0.05115252244738129, 0.04575749056067514][digit] AS DOUBLE) AS dev
            FROM c WHERE digit BETWEEN 1 AND 9""",
        "event_transitions": """
            SELECT src, dst, count(*) AS n FROM (
              SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS src,
                     event_type AS dst
              FROM events
            ) WHERE src IS NOT NULL
            GROUP BY src, dst""",
        "incident_window_events": """
            WITH w AS (
              SELECT w AS window_id,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + to_hours(CAST(w*12 + (w*7) % 5 AS BIGINT)) AS ws,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + to_hours(CAST(w*12 + (w*7) % 5 + 1 + (w*3) % 7 AS BIGINT)) AS we
              FROM range(60) t(w)
            )
            SELECT window_id, count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events e JOIN w ON e.ts >= w.ws AND e.ts < w.we
            GROUP BY window_id""",
        "edit_distance_near_dups": f"""
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 3000000, text || 'zq' FROM documents WHERE doc_id % 31 = 2
            ), n AS (
              SELECT doc_id, {_NORM_SQL.format(col='text')} AS norm
              FROM all_docs WHERE text IS NOT NULL
            ), b AS (
              SELECT doc_id, norm, substring(norm, 1, 12) AS blk FROM n
            )
            SELECT a.doc_id AS id_a, c.doc_id AS id_b,
                   CAST(levenshtein(a.norm, c.norm) AS INT) AS dist
            FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
            WHERE abs(length(a.norm) - length(c.norm)) <= 3
              AND levenshtein(a.norm, c.norm) <= 3""",
        "psi_by_day_events": """
            WITH cur AS (
              SELECT date_trunc('day', ts) AS d,
                     CAST(least(greatest(floor(value / 50.0), 0), 9) AS INT) AS bucket,
                     count(*) AS n_cur
              FROM events
              WHERE value IS NOT NULL AND ts IS NOT NULL
                AND ts >= TIMESTAMP '2024-01-08 00:00:00'
              GROUP BY 1, 2
            ), spine AS (
              SELECT d, CAST(b AS INT) AS bucket
              FROM (SELECT DISTINCT d FROM cur), range(10) t(b)
            ), cd AS (
              SELECT spine.d, spine.bucket, coalesce(n_cur, 0) AS n_cur
              FROM spine LEFT JOIN cur ON spine.d = cur.d AND spine.bucket = cur.bucket
            ), base AS (
              SELECT CAST(least(greatest(floor(value / 50.0), 0), 9) AS INT) AS bucket,
                     count(*) AS n_base
              FROM events
              WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-08 00:00:00'
              GROUP BY 1
            ), j AS (
              SELECT d, cd.bucket, coalesce(n_base, 0) AS n_base, n_cur
              FROM cd LEFT JOIN base ON cd.bucket = base.bucket
            ), p AS (
              SELECT d, bucket, n_base, n_cur,
                     greatest(CAST(n_base AS DOUBLE) / sum(n_base) OVER (PARTITION BY d), 1e-6) AS pe,
                     greatest(CAST(n_cur AS DOUBLE) / sum(n_cur) OVER (PARTITION BY d), 1e-6) AS pa
              FROM j
            )
            SELECT CAST(d AS DATE) AS day, CAST(bucket AS BIGINT) AS bucket,
                   n_base, n_cur,
                   round(pe, 6) AS p_base_r, round(pa, 6) AS p_cur_r,
                   round((pa - pe) * ln(pa / pe), 6) AS psi_term_r
            FROM p""",
        "containment_documents": f"""
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 4000000, substring(text, 1, 150)
              FROM documents WHERE doc_id % 23 = 5
            ), n AS (
              SELECT doc_id, {_NORM_SQL.format(col='text')} AS norm
              FROM all_docs WHERE text IS NOT NULL
            ), t AS (
              SELECT doc_id, CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks
              FROM n
            ), s AS (
              SELECT doc_id,
                list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
              FROM t WHERE len(toks) >= 3
            ), j AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS shared,
                     CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b
              FROM s a JOIN s b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, shared, n_a, n_b,
                   round(CAST(shared AS DOUBLE) / n_a, 4) AS cont_a_r,
                   round(CAST(shared AS DOUBLE) / n_b, 4) AS cont_b_r
            FROM j
            WHERE shared > 0
              AND greatest(CAST(shared AS DOUBLE) / n_a,
                           CAST(shared AS DOUBLE) / n_b) >= 0.8""",
        "emd_drift_quantity": """
            WITH b AS (
              SELECT CAST(least(greatest(floor((l_quantity - 1.0) / 5.0), 0), 9) AS INT) AS bucket,
                     count(*) AS n_base
              FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
            ), c AS (
              SELECT CAST(least(greatest(floor((l_quantity - 1.0) / 5.0), 0), 9) AS INT) AS bucket,
                     count(*) AS n_cur
              FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount > 0.02 GROUP BY 1
            ), j AS (
              SELECT coalesce(b.bucket, c.bucket) AS bucket,
                     coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
              FROM b FULL OUTER JOIN c ON b.bucket = c.bucket
            ), k AS (
              SELECT bucket, n_base, n_cur,
                CAST(sum(n_base) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / CAST(sum(n_base) OVER () AS DOUBLE)
                - CAST(sum(n_cur) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / CAST(sum(n_cur) OVER () AS DOUBLE) AS surplus
              FROM j
            )
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
                   round(surplus, 6) AS surplus_r,
                   round(abs(surplus) * 5.0, 6) AS emd_r
            FROM k""",
        "chisq_lineitem_flags": """
            WITH cells AS (
              SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS n_obs
              FROM lineitem GROUP BY 1, 2
            ), m AS (
              SELECT a, b, n_obs,
                CAST(sum(n_obs) OVER (PARTITION BY a) AS DOUBLE)
                  * CAST(sum(n_obs) OVER (PARTITION BY b) AS DOUBLE)
                  / CAST(sum(n_obs) OVER () AS DOUBLE) AS n_exp
              FROM cells
            )
            SELECT a, b, CAST(n_obs AS BIGINT) AS n_obs,
                   round(n_exp, 4) AS n_exp_r,
                   round((n_obs - n_exp) * (n_obs - n_exp) / n_exp, 4) AS chisq_r
            FROM m""",
        "rolling_anomaly_events": """
            WITH d AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
              FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), w AS (
              SELECT day, n,
                avg(CAST(n AS DOUBLE)) OVER tw AS m,
                stddev_samp(CAST(n AS DOUBLE)) OVER tw AS s,
                count(*) OVER tw AS h
              FROM d
              WINDOW tw AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT day, CAST(n AS BIGINT) AS n,
                   round(CASE WHEN h >= 3 THEN m END, 4) AS mean_r,
                   round(CASE WHEN h >= 3 THEN s END, 4) AS std_r,
                   round(CASE WHEN h >= 3 AND s > 0 THEN (CAST(n AS DOUBLE) - m) / s END, 4) AS z_r
            FROM w""",
        "unigram_kl_documents": """
            WITH rt AS (
              SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
              FROM documents WHERE lang = 'en' AND trim(text) <> ''
            ), ct AS (
              SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
              FROM documents WHERE lang <> 'en' AND trim(text) <> ''
            ), r AS (SELECT token, count(*) AS n_ref FROM rt GROUP BY 1),
            c AS (SELECT token, count(*) AS n_cur FROM ct GROUP BY 1),
            j AS (
              SELECT coalesce(r.token, c.token) AS token,
                     CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
                     CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
              FROM r FULL OUTER JOIN c ON r.token = c.token
            ), t AS (
              SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur, count(*) AS v FROM j
            ), s AS (
              SELECT token, n_ref, n_cur,
                abs(CAST(n_cur AS DOUBLE) / CAST(tot_cur AS DOUBLE)
                  - CAST(n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE)) AS gap,
                (CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + v AS DOUBLE))
                  * ln((CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + v AS DOUBLE))
                     / (CAST(n_ref + 1 AS DOUBLE) / CAST(tot_ref + v AS DOUBLE))) AS kl
              FROM j CROSS JOIN t
            )
            SELECT token, n_ref, n_cur, round(gap, 6) AS gap_r, round(kl, 6) AS kl_r
            FROM s ORDER BY gap DESC, token ASC LIMIT 50""",
        "dup_sizes_documents": """
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
            ), g AS (
              SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     count(*) AS group_size
              FROM all_docs GROUP BY 1
            )
            SELECT CAST(group_size AS BIGINT) AS group_size,
                   CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(sum(group_size) AS BIGINT) AS n_docs
            FROM g GROUP BY 1""",
        "entropy_by_source": """
            WITH cells AS (
              SELECT source AS grp, lang AS cat, count(*) AS n
              FROM documents GROUP BY 1, 2
            ), per AS (
              SELECT grp, sum(n) AS n_rows, count(*) AS n_cats,
                     sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS snl
              FROM cells GROUP BY 1
            )
            SELECT grp AS source,
                   CAST(n_rows AS BIGINT) AS n_rows,
                   CAST(n_cats AS BIGINT) AS n_cats,
                   round(ln(CAST(n_rows AS DOUBLE)) - snl / CAST(n_rows AS DOUBLE), 6) AS entropy_r,
                   round(CASE WHEN n_cats > 1
                              THEN (ln(CAST(n_rows AS DOUBLE)) - snl / CAST(n_rows AS DOUBLE))
                                   / ln(CAST(n_cats AS DOUBLE))
                              ELSE 0.0 END, 6) AS norm_r
            FROM per""",
        "bigram_pmi_documents": """
            WITH t AS (
              SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents WHERE trim(text) <> ''
            ), uni AS (
              SELECT w, count(*) AS n_w FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1
            ), bg AS (
              SELECT bg.w1, bg.w2, count(*) AS n_bigram FROM (
                SELECT unnest(list_transform(range(1, len(toks)),
                              i -> {'w1': toks[i], 'w2': toks[i+1]})) AS bg
                FROM t WHERE len(toks) >= 2
              ) GROUP BY 1, 2 HAVING count(*) >= 5
            ), tot AS (
              SELECT sum(n_w) AS tot_w FROM uni
            ), tb AS (
              SELECT sum(n_bigram) AS tot_bg FROM bg
            )
            SELECT bg.w1 || ' ' || bg.w2 AS bigram,
                   CAST(n_bigram AS BIGINT) AS n_bigram,
                   CAST(u1.n_w AS BIGINT) AS n_w1,
                   CAST(u2.n_w AS BIGINT) AS n_w2,
                   round(ln((CAST(n_bigram AS DOUBLE) / CAST(tot_bg AS DOUBLE))
                          / ((CAST(u1.n_w AS DOUBLE) / CAST(tot_w AS DOUBLE))
                           * (CAST(u2.n_w AS DOUBLE) / CAST(tot_w AS DOUBLE)))), 6) AS pmi_r
            FROM bg JOIN uni u1 ON bg.w1 = u1.w JOIN uni u2 ON bg.w2 = u2.w
            CROSS JOIN tot CROSS JOIN tb
            ORDER BY n_bigram DESC, bigram ASC LIMIT 40""",
        "cooccurrence_events": """
            WITH e AS (
              SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, event_type
              FROM events WHERE event_type IS NOT NULL
            )
            SELECT a.event_type AS item_a, b.event_type AS item_b,
                   CAST(count(*) AS BIGINT) AS n_entities
            FROM e a JOIN e b
              ON a.user_id IS NOT DISTINCT FROM b.user_id
             AND a.day IS NOT DISTINCT FROM b.day
             AND a.event_type < b.event_type
            GROUP BY 1, 2 HAVING count(*) >= 5""",
        "centroid_drift_embeddings": """
            WITH r AS (
              SELECT label, i AS dim, avg(CAST(embedding[i + 1] AS DOUBLE)) AS m
              FROM embeddings, range(64) t(i)
              WHERE vec_id % 2 = 0 AND embedding IS NOT NULL
              GROUP BY 1, 2
            ), c AS (
              SELECT label, i AS dim, avg(CAST(embedding[i + 1] AS DOUBLE)) AS m
              FROM embeddings, range(64) t(i)
              WHERE vec_id % 2 = 1 AND embedding IS NOT NULL
              GROUP BY 1, 2
            )
            SELECT CAST(r.label AS BIGINT) AS label, CAST(r.dim AS BIGINT) AS dim,
                   round(r.m, 6) AS mean_ref_r, round(c.m, 6) AS mean_cur_r,
                   round(c.m - r.m, 6) AS delta_r
            FROM r JOIN c ON r.label = c.label AND r.dim = c.dim""",
        "duplicate_charges_orders": """
            WITH u AS (
              SELECT o_custkey, o_totalprice, o_orderkey, o_orderdate FROM orders
              UNION ALL
              SELECT o_custkey, o_totalprice, o_orderkey + 10000000,
                     o_orderdate + INTERVAL 5 DAY
              FROM orders WHERE o_orderkey % 997 = 3
            )
            SELECT a.o_custkey,
                   a.o_orderkey AS id_a, b.o_orderkey AS id_b,
                   round(a.o_totalprice, 2) AS amount_r,
                   CAST(epoch_us(a.o_orderdate) AS BIGINT) AS ts_a_us,
                   CAST(epoch_us(b.o_orderdate) AS BIGINT) AS ts_b_us,
                   CAST(abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                                      CAST(b.o_orderdate AS DATE))) AS BIGINT) AS gap_days
            FROM u a JOIN u b
              ON a.o_custkey = b.o_custkey
             AND a.o_totalprice = b.o_totalprice
             AND a.o_orderkey < b.o_orderkey
            WHERE abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                                CAST(b.o_orderdate AS DATE))) <= 30""",
        "time_to_conversion_events": """
            WITH s AS (
              SELECT user_id, min(ts) AS fs FROM events
              WHERE event_type = 'view' GROUP BY 1
            ), c AS (
              SELECT s.user_id, s.fs, min(e.ts) AS fc
              FROM s JOIN events e
                ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts >= s.fs
              GROUP BY 1, 2
            )
            SELECT s.user_id,
                   CAST(epoch_us(s.fs) AS BIGINT) AS first_view_us,
                   CAST(epoch_us(c.fc) AS BIGINT) AS first_conv_us,
                   CAST(epoch_us(c.fc) - epoch_us(s.fs) AS BIGINT) // 1000000 AS secs_to_convert
            FROM s LEFT JOIN c ON s.user_id = c.user_id""",
        "quantile_check_lineitem": """
            WITH p AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice, 0.5) AS p50,
                     quantile_cont(l_extendedprice, 0.95) AS p95,
                     quantile_cont(l_extendedprice, 0.99) AS p99
              FROM lineitem GROUP BY 1
            ), long AS (
              SELECT l_returnflag, 0.50 AS q, p50 AS v,
                     CAST(20000.0 AS DOUBLE) AS lo, CAST(60000.0 AS DOUBLE) AS hi FROM p
              UNION ALL
              SELECT l_returnflag, 0.95, p95, NULL, 80000.0 FROM p
              UNION ALL
              SELECT l_returnflag, 0.99, p99, NULL, 110000.0 FROM p
            )
            SELECT l_returnflag, CAST(round(q, 2) AS DOUBLE) AS q, round(v, 4) AS value_r, lo, hi,
                   ((lo IS NULL OR v >= lo) AND (hi IS NULL OR v <= hi)) AS ok
            FROM long""",
        "order_violations_events": """
            WITH f AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'signup' THEN ts END) AS fb,
                     min(CASE WHEN event_type = 'purchase' THEN ts END) AS fa
              FROM events WHERE event_type IN ('signup', 'purchase') GROUP BY 1
            )
            SELECT user_id,
                   CAST(epoch_us(fb) AS BIGINT) AS first_signup_us,
                   CAST(epoch_us(fa) AS BIGINT) AS first_purchase_us,
                   CASE WHEN fb IS NULL THEN 'missing_prerequisite'
                        ELSE 'out_of_order' END AS reason
            FROM f WHERE fa IS NOT NULL AND (fb IS NULL OR fa < fb)""",
        "winsorized_lineitem": """
            WITH b AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice, 0.01) AS lo,
                     quantile_cont(l_extendedprice, 0.99) AS hi
              FROM lineitem GROUP BY 1
            ), j AS (
              SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
                     l.l_extendedprice,
                     least(greatest(l.l_extendedprice, b.lo), b.hi) AS w
              FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
            )
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   round(l_extendedprice, 2) AS price_r,
                   round(w, 4) AS capped_r
            FROM j WHERE w <> l_extendedprice""",
        "payload_size_clips": """
            WITH clips AS (
              SELECT doc_id,
                CASE WHEN doc_id % 50 = 0 THEN 96001
                     WHEN doc_id % 50 = 25 THEN 0
                     ELSE [8000, 16000, 44100][CAST(doc_id % 3 AS INT) + 1] END AS sr_hz,
                CASE WHEN doc_id % 47 = 0 THEN 70000
                     WHEN doc_id % 47 = 23 THEN 0
                     ELSE 200 + (doc_id * 37) % 14800 END AS dur_ms,
                CASE WHEN doc_id % 41 = 0 THEN 'unknown_codec'
                     ELSE ['pcm_s16le', 'flac', 'opus'][CAST(doc_id % 3 AS INT) + 1] END AS codec
              FROM documents
            ),
            s AS (
              SELECT codec,
                CAST(octet_length(unhex(substring(md5(CAST(doc_id AS VARCHAR)), 1, 16))) AS BIGINT) AS actual,
                CASE WHEN sr_hz <= 0 OR dur_ms <= 0 THEN NULL
                     WHEN codec <> 'pcm_s16le' THEN NULL
                     ELSE 44 + CAST(floor(CAST(sr_hz AS BIGINT) * CAST(dur_ms AS BIGINT) / 1000) AS BIGINT) * 2 END AS expected,
                CASE WHEN sr_hz <= 0 OR dur_ms <= 0 THEN 'invalid_metadata'
                     WHEN codec <> 'pcm_s16le' THEN 'not_applicable'
                     WHEN octet_length(unhex(substring(md5(CAST(doc_id AS VARCHAR)), 1, 16)))
                          = 44 + CAST(floor(CAST(sr_hz AS BIGINT) * CAST(dur_ms AS BIGINT) / 1000) AS BIGINT) * 2
                       THEN 'ok'
                     ELSE 'size_mismatch' END AS size_status
              FROM clips
            )
            SELECT codec, size_status,
                   CAST(count(*) AS BIGINT) AS n_clips,
                   CAST(sum(expected) AS BIGINT) AS total_expected,
                   CAST(sum(actual) AS BIGINT) AS total_actual
            FROM s GROUP BY 1, 2""",
        "mad_outliers_lineitem": """
            WITH s AS (
              SELECT l_returnflag,
                     CASE WHEN l_orderkey % 1009 = 0
                          THEN l_extendedprice * 100
                          ELSE l_extendedprice END AS price
              FROM lineitem
            ),
            m AS (
              SELECT l_returnflag, median(price) AS med
              FROM s GROUP BY 1
            ),
            d AS (
              SELECT s.l_returnflag, s.price, m.med
              FROM s JOIN m USING (l_returnflag)
            ),
            md AS (
              SELECT l_returnflag, med,
                     median(abs(price - med)) AS mad
              FROM d GROUP BY 1, 2
            )
            SELECT d.l_returnflag,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   round(md.med, 4) AS med_r,
                   round(md.mad, 4) AS mad_r,
                   CAST(sum(CASE WHEN abs(d.price - md.med)
                                      > 3.5 * 1.4826 * md.mad
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM d JOIN md USING (l_returnflag, med)
            GROUP BY 1, md.med, md.mad""",
        "k_anonymity_customer": """
            SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
                   c_mktsegment,
                   CAST(count(*) AS BIGINT) AS group_n,
                   count(*) < 8 AS at_risk
            FROM customer GROUP BY 1, 2""",
        "corr_matrix_lineitem": """
            WITH p(col_a, col_b) AS (
              VALUES ('l_discount', 'l_extendedprice'),
                     ('l_discount', 'l_quantity'),
                     ('l_discount', 'l_tax'),
                     ('l_extendedprice', 'l_quantity'),
                     ('l_extendedprice', 'l_tax'),
                     ('l_quantity', 'l_tax')
            ),
            w AS (
              SELECT corr(l_discount, l_extendedprice) AS c1, count(*) AS n1,
                     corr(l_discount, l_quantity) AS c2, count(*) AS n2,
                     corr(l_discount, l_tax) AS c3, count(*) AS n3,
                     corr(l_extendedprice, l_quantity) AS c4, count(*) AS n4,
                     corr(l_extendedprice, l_tax) AS c5, count(*) AS n5,
                     corr(l_quantity, l_tax) AS c6, count(*) AS n6
              FROM lineitem
            )
            SELECT p.col_a, p.col_b,
                   round(CASE p.col_a || '|' || p.col_b
                     WHEN 'l_discount|l_extendedprice' THEN w.c1
                     WHEN 'l_discount|l_quantity' THEN w.c2
                     WHEN 'l_discount|l_tax' THEN w.c3
                     WHEN 'l_extendedprice|l_quantity' THEN w.c4
                     WHEN 'l_extendedprice|l_tax' THEN w.c5
                     ELSE w.c6 END, 6) AS corr_r,
                   CAST(CASE p.col_a || '|' || p.col_b
                     WHEN 'l_discount|l_extendedprice' THEN w.n1
                     WHEN 'l_discount|l_quantity' THEN w.n2
                     WHEN 'l_discount|l_tax' THEN w.n3
                     WHEN 'l_extendedprice|l_quantity' THEN w.n4
                     WHEN 'l_extendedprice|l_tax' THEN w.n5
                     ELSE w.n6 END AS BIGINT) AS n
            FROM p, w""",
        "price_trend_orders": """
            WITH s AS (
              SELECT o_orderpriority,
                     o_totalprice,
                     CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS DOUBLE) AS day_no
              FROM orders
            )
            SELECT o_orderpriority,
                   round(regr_slope(o_totalprice, day_no), 6) AS slope_r,
                   round(regr_intercept(o_totalprice, day_no), 4) AS intercept_r,
                   round(regr_r2(o_totalprice, day_no), 8) AS r2_r,
                   CAST(regr_count(o_totalprice, day_no) AS BIGINT) AS n_pairs
            FROM s GROUP BY 1""",
        "rolling_actives_events": """
            WITH daily AS (
              SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
              FROM events
            ),
            anchors AS (SELECT DISTINCT d FROM daily)
            SELECT anchors.d AS day,
                   CAST(count(DISTINCT daily.user_id) AS BIGINT) AS n_active
            FROM anchors
            JOIN daily ON daily.d BETWEEN anchors.d - 6 AND anchors.d
            GROUP BY 1""",
        "audio_bandwidth_clips": """
            SELECT CASE WHEN doc_id % 10 IN (1, 2, 3, 4, 5) THEN 44100
                        ELSE 16000 END AS sr_hz,
                   CASE WHEN doc_id % 10 = 0 THEN 'silent'
                        WHEN doc_id % 10 = 1 THEN 'undecodable'
                        WHEN doc_id % 10 <= 5 THEN 'band_limited'
                        ELSE 'full_band' END AS band_status,
                   CAST(count(*) AS BIGINT) AS n_clips
            FROM documents GROUP BY 1, 2""",
        "join_profile_orders_lineitem": """
            WITH lc AS (
              SELECT o_orderkey AS k, count(*) AS nl FROM orders GROUP BY 1
            ),
            rc AS (
              SELECT l_orderkey AS k, count(*) AS nr FROM lineitem GROUP BY 1
            ),
            j AS (
              SELECT lc.nl, rc.nr
              FROM lc FULL OUTER JOIN rc ON lc.k = rc.k
            )
            SELECT CASE WHEN nl IS NOT NULL AND nr IS NOT NULL THEN 'both'
                        WHEN nl IS NOT NULL THEN 'left_only'
                        ELSE 'right_only' END AS key_status,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(coalesce(sum(nl), 0) AS BIGINT) AS rows_left,
                   CAST(coalesce(sum(nr), 0) AS BIGINT) AS rows_right,
                   CAST(coalesce(sum(nl * nr), 0) AS BIGINT) AS join_rows
            FROM j GROUP BY 1""",
        "mi_documents_lang_source": """
            WITH cells AS (
              SELECT lang, source, CAST(count(*) AS DOUBLE) AS n
              FROM documents GROUP BY 1, 2
            ),
            t AS (SELECT sum(n) AS tot FROM cells),
            ma AS (SELECT lang, sum(n) AS na FROM cells GROUP BY 1),
            mb AS (SELECT source, sum(n) AS nb FROM cells GROUP BY 1),
            terms AS (
              SELECT cells.n / t.tot AS p,
                     ma.na / t.tot AS pa,
                     mb.nb / t.tot AS pb,
                     t.tot AS tot
              FROM cells, t
              JOIN ma ON cells.lang = ma.lang
              JOIN mb ON cells.source = mb.source
            ),
            agg AS (
              SELECT sum(p * ln(p / (pa * pb))) AS mi,
                     sum(-p * ln(pa)) AS ha,
                     sum(-p * ln(pb)) AS hb,
                     CAST(max(tot) AS BIGINT) AS n_rows,
                     CAST(count(*) AS BIGINT) AS n_cells
              FROM terms
            )
            SELECT round(mi, 8) AS mi_r,
                   round(ha, 8) AS h_lang_r,
                   round(hb, 8) AS h_source_r,
                   round(CASE WHEN least(ha, hb) > 0
                              THEN mi / least(ha, hb) ELSE 0 END, 8) AS nmi_r,
                   n_rows, n_cells
            FROM agg""",
        "heartbeat_events": """
            WITH g AS (
              SELECT user_id, ts,
                     epoch(ts) - epoch(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts)) AS gap
              FROM events
            ),
            pe AS (
              SELECT user_id,
                     CAST(count(*) AS BIGINT) AS n_events,
                     max(gap) AS max_gap,
                     CAST(coalesce(sum(CASE WHEN gap > 86400 THEN 1 ELSE 0 END), 0)
                          AS BIGINT) AS n_gaps_over,
                     max(ts) AS last_ts
              FROM g GROUP BY 1
            ),
            sm AS (SELECT max(ts) AS m FROM events)
            SELECT user_id, n_events,
                   round(max_gap, 3) AS max_gap_r,
                   n_gaps_over,
                   round(epoch(sm.m) - epoch(last_ts), 3) AS trailing_gap_r
            FROM pe, sm""",
        "audio_profile_clips": """
            SELECT CASE WHEN doc_id % 8 = 0 THEN 'silent'
                        WHEN doc_id % 8 = 1 THEN 'undecodable'
                        WHEN doc_id % 8 IN (2, 3) THEN 'clipped'
                        WHEN doc_id % 8 IN (4, 5) THEN 'dc_offset'
                        ELSE 'ok' END AS profile_status,
                   CAST(count(*) AS BIGINT) AS n_clips
            FROM documents GROUP BY 1""",
        "zipf_documents": r"""
            WITH t AS (
              SELECT CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(trim(text), '\s+') END AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            u AS (SELECT unnest(toks) AS token FROM t),
            c AS (
              SELECT token, CAST(count(*) AS DOUBLE) AS n
              FROM u GROUP BY 1
              ORDER BY n DESC, token ASC LIMIT 500
            ),
            r AS (
              SELECT n,
                     CAST(row_number() OVER (ORDER BY n DESC, token ASC)
                          AS DOUBLE) AS rank
              FROM c
            )
            SELECT round(regr_slope(ln(n), ln(rank)), 6) AS slope_r,
                   round(regr_r2(ln(n), ln(rank)), 6) AS r2_r,
                   CAST(count(*) AS BIGINT) AS n_tokens_used,
                   CAST(sum(n) AS BIGINT) AS n_occurrences
            FROM r""",
        "anisotropy_embeddings": """
            WITH ex AS (
              SELECT generate_subscripts(embedding, 1) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS val
              FROM embeddings
            ),
            pp AS (
              SELECT pos, sum(val) AS s, sum(val * val) AS s2,
                     CAST(count(*) AS BIGINT) AS n
              FROM ex GROUP BY 1
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS dim,
                     max(n) AS n_vecs,
                     sum((s / n) * (s / n)) AS mean_sq,
                     sum(s2) / max(n) AS rms_sq
              FROM pp
            )
            SELECT dim, n_vecs,
                   round(sqrt(mean_sq), 5) AS mean_norm_r,
                   round(sqrt(rms_sq), 5) AS rms_norm_r,
                   round(mean_sq / rms_sq, 6) AS anisotropy_r
            FROM agg""",
        "transcript_vad_clips": """
            SELECT CASE WHEN doc_id % 6 = 0 THEN 'transcript_without_speech'
                        WHEN doc_id % 6 = 1 THEN 'speech_without_transcript'
                        WHEN doc_id % 6 = 3 THEN 'too_fast'
                        WHEN doc_id % 6 = 4 THEN 'undecodable'
                        WHEN doc_id % 6 = 5 THEN 'too_slow'
                        ELSE 'ok' END AS vad_status,
                   CAST(count(*) AS BIGINT) AS n_clips
            FROM documents GROUP BY 1""",
        "decimal_grid_lineitem": """
            WITH s AS (
              SELECT l_returnflag,
                     CASE WHEN l_orderkey % 97 = 0
                          THEN l_extendedprice / 3.0
                          ELSE l_extendedprice END AS price
              FROM lineitem
            ),
            r AS (
              SELECT l_returnflag,
                     least(price * 100 - floor(price * 100),
                           1.0 - (price * 100 - floor(price * 100))) / 100
                       AS resid
              FROM s
            )
            SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(coalesce(sum(CASE WHEN resid > 1e-9 THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_off_grid,
                   round(sum(CASE WHEN resid > 1e-9 THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS off_frac_r,
                   round(max(resid), 6) AS max_resid_r
            FROM r GROUP BY 1""",
        "mask_profile_customer": """
            WITH m AS (
              SELECT coalesce(
                regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(regexp_replace(
                  CAST(c_name AS VARCHAR),
                  '[0-9]', '9', 'g'), '[a-z]', 'a', 'g'), '[A-Z]', 'A', 'g'),
                  '9+', '9', 'g'), 'a+', 'a', 'g'), 'A+', 'A', 'g'),
                '__NULL__') AS mask
              FROM customer
            )
            SELECT mask, CAST(count(*) AS BIGINT) AS n
            FROM m GROUP BY 1 ORDER BY n DESC, mask ASC LIMIT 20""",
        "null_rate_by_day_events": """
            WITH s AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CASE WHEN event_id % 2 = 0
                               AND ts >= TIMESTAMP '2024-01-15 00:00:00'
                          THEN NULL ELSE value END AS value,
                     props
              FROM events
            ),
            w AS (
              SELECT day,
                     CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(coalesce(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0)
                          AS BIGINT) AS nn_value,
                     CAST(coalesce(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END), 0)
                          AS BIGINT) AS nn_props
              FROM s GROUP BY 1
            )
            SELECT day, col AS "column", n_rows, n_null,
                   round(CAST(n_null AS DOUBLE) / n_rows, 6) AS null_frac_r
            FROM (
              SELECT day, 'value' AS col, n_rows, nn_value AS n_null FROM w
              UNION ALL
              SELECT day, 'props', n_rows, nn_props FROM w
            )""",
        "temporal_ref_orders": """
            WITH dim(prio, vf, vt) AS (
              VALUES
                ('1-URGENT', TIMESTAMP '1995-01-01 00:00:00', TIMESTAMP '1999-01-01 00:00:00'),
                ('2-HIGH', TIMESTAMP '1996-01-01 00:00:00', NULL),
                ('3-MEDIUM', TIMESTAMP '1995-01-01 00:00:00', NULL),
                ('4-NOT SPECIFIED', TIMESTAMP '1995-01-01 00:00:00', TIMESTAMP '1997-01-01 00:00:00'),
                ('4-NOT SPECIFIED', TIMESTAMP '1998-01-01 00:00:00', NULL)
            )
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_violations
            FROM orders o
            WHERE NOT EXISTS (
              SELECT 1 FROM dim
              WHERE dim.prio = o.o_orderpriority
                AND o.o_orderdate >= dim.vf
                AND (dim.vt IS NULL OR o.o_orderdate < dim.vt)
            )
            GROUP BY 1""",
        "duration_check_clips": """
            SELECT CASE WHEN doc_id % 5 = 3 THEN 'undecodable'
                        WHEN doc_id % 5 = 1 THEN 'sr_mismatch'
                        WHEN doc_id % 5 = 2 THEN 'duration_mismatch'
                        ELSE 'ok' END AS dur_status,
                   CAST(count(*) AS BIGINT) AS n_clips
            FROM documents GROUP BY 1""",
        "concentration_documents": """
            WITH m AS (
              SELECT source AS g, CAST(sum(n_chars) AS DOUBLE) AS w
              FROM documents GROUP BY 1
            ),
            r AS (
              SELECT g, w,
                     row_number() OVER (ORDER BY w ASC, g ASC) AS i,
                     count(*) OVER () AS k
              FROM m
            ),
            agg AS (
              SELECT max(k) AS n_groups, sum(w) AS tot,
                     sum(i * w) AS iw, sum(w * w) AS w2,
                     coalesce(sum(CASE WHEN i > k - greatest(CAST(ceil(0.2 * k) AS BIGINT), 1)
                                       THEN w END), 0) AS top_w
              FROM r
            )
            SELECT CAST(n_groups AS BIGINT) AS n_groups,
                   round(tot, 2) AS total_w_r,
                   round(2.0 * iw / (n_groups * tot) - (n_groups + 1.0) / n_groups, 8) AS gini_r,
                   round(w2 / (tot * tot), 8) AS hhi_r,
                   round(top_w / tot, 8) AS top_share_r
            FROM agg""",
        "distinctive_terms_documents": r"""
            WITH t AS (
              SELECT source,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(trim(text), '\s+') END AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            u AS (SELECT source, unnest(toks) AS token FROM t),
            gt AS (
              SELECT source, token, CAST(count(*) AS BIGINT) AS n
              FROM u GROUP BY 1, 2
              HAVING count(*) >= 2
            ),
            dfr AS (SELECT token, count(*) AS df FROM gt GROUP BY 1),
            kk AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS k FROM gt),
            scored AS (
              SELECT gt.source, gt.token, gt.n,
                     gt.n * ln(kk.k / dfr.df) AS score
              FROM gt JOIN dfr USING (token), kk
            ),
            ranked AS (
              SELECT source, token, n, score,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY score DESC, token ASC) AS r
              FROM scored
            )
            SELECT source, token, n, round(score, 6) AS score_r
            FROM ranked WHERE r <= 3""",
        "monotonic_counter_lineitem": """
            WITH c AS (
              SELECT l_orderkey, l_linenumber,
                     sum(l_quantity) OVER (PARTITION BY l_orderkey
                                           ORDER BY l_linenumber) AS counter0
              FROM lineitem
            ),
            s AS (
              SELECT l_orderkey, l_linenumber,
                     CASE WHEN l_orderkey % 211 = 0 AND l_linenumber = 3
                          THEN counter0 - 50 ELSE counter0 END AS counter,
                     lag(CASE WHEN l_orderkey % 211 = 0 AND l_linenumber = 3
                              THEN counter0 - 50 ELSE counter0 END)
                       OVER (PARTITION BY l_orderkey ORDER BY l_linenumber)
                       AS prev_val
              FROM c
            )
            SELECT l_orderkey, l_linenumber,
                   round(prev_val, 4) AS prev_r,
                   round(counter, 4) AS value_r,
                   round(prev_val - counter, 4) AS drop_r
            FROM s WHERE prev_val > counter""",
        "ab_test_events": """
            WITH pe AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
              FROM events GROUP BY 1
            ),
            tagged AS (
              SELECT conv,
                     CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || 'ab1'), 1, 15))
                          AS BIGINT) % 2 AS arm
              FROM pe
            ),
            agg AS (
              SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                     CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                     CAST(coalesce(sum(CASE WHEN arm = 0 THEN conv END), 0) AS BIGINT) AS conv_a,
                     CAST(coalesce(sum(CASE WHEN arm = 1 THEN conv END), 0) AS BIGINT) AS conv_b
              FROM tagged
            )
            SELECT n_a, n_b, conv_a, conv_b,
                   round(CAST(conv_a AS DOUBLE) / n_a, 8) AS rate_a_r,
                   round(CAST(conv_b AS DOUBLE) / n_b, 8) AS rate_b_r,
                   round(CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a, 8) AS lift_r,
                   round((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
                         / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                                * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                                * (1.0 / n_a + 1.0 / n_b)), 6) AS z_r
            FROM agg""",
        "audio_normalize_clips": """
            SELECT CASE WHEN doc_id % 4 = 0 THEN 8000
                        WHEN doc_id % 4 = 1 THEN 44100
                        WHEN doc_id % 4 = 2 THEN 16000
                        ELSE 0 END AS orig_sr,
                   CASE WHEN doc_id % 4 = 3 THEN 'undecodable'
                        ELSE 'normalized' END AS status,
                   CAST(count(*) AS BIGINT) AS n_clips
            FROM documents GROUP BY 1, 2""",
        "multi_drift_lineitem": """
            WITH cfg(col, lo, hi) AS (
              VALUES ('l_quantity', 0.0, 55.0),
                     ('l_extendedprice', 0.0, 130000.0),
                     ('l_discount', 0.0, 0.12),
                     ('l_tax', 0.0, 0.1)
            ),
            src AS (
              SELECT CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 'base' ELSE 'cur' END AS side,
                     l_quantity,
                     CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
                          THEN l_extendedprice ELSE l_extendedprice * 1.05 END AS l_extendedprice,
                     l_discount, l_tax
              FROM lineitem
            ),
            unp AS (
              SELECT side, 'l_quantity' AS col, CAST(l_quantity AS DOUBLE) AS v FROM src
              UNION ALL SELECT side, 'l_extendedprice', l_extendedprice FROM src
              UNION ALL SELECT side, 'l_discount', l_discount FROM src
              UNION ALL SELECT side, 'l_tax', l_tax FROM src
            ),
            binned AS (
              SELECT side, unp.col AS col,
                     least(greatest(CAST(floor((v - lo) / ((hi - lo) / 20)) AS BIGINT), 0), 19) AS bucket
              FROM unp JOIN cfg ON unp.col = cfg.col
              WHERE v IS NOT NULL
            ),
            h AS (
              SELECT col, bucket,
                     CAST(sum(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS DOUBLE) AS n_base,
                     CAST(sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS DOUBLE) AS n_cur
              FROM binned GROUP BY 1, 2
            ),
            t AS (
              SELECT col, bucket, n_base, n_cur,
                     sum(n_base) OVER (PARTITION BY col) AS tb,
                     sum(n_cur) OVER (PARTITION BY col) AS tc,
                     sum(n_base) OVER (PARTITION BY col ORDER BY bucket) AS cb,
                     sum(n_cur) OVER (PARTITION BY col ORDER BY bucket) AS cc
              FROM h
            )
            SELECT col AS "column",
                   CAST(sum(n_base) AS BIGINT) AS n_base,
                   CAST(sum(n_cur) AS BIGINT) AS n_cur,
                   round(sum((n_cur / tc + 1e-6 - n_base / tb - 1e-6)
                             * ln((n_cur / tc + 1e-6) / (n_base / tb + 1e-6))), 6) AS psi_r,
                   round(max(abs(cc / tc - cb / tb)), 6) AS ks_r
            FROM t GROUP BY 1""",
        "qq_drift_lineitem": """
            WITH b AS (
              SELECT quantile_cont(l_extendedprice,
                       [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]) AS qs
              FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
            ),
            c AS (
              SELECT quantile_cont(l_extendedprice * 1.05,
                       [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]) AS qs
              FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
            ),
            eb AS (SELECT generate_subscripts(qs, 1) AS i, unnest(qs) AS q_base FROM b),
            ec AS (SELECT generate_subscripts(qs, 1) AS i, unnest(qs) AS q_cur FROM c),
            probs AS (
              SELECT generate_subscripts(a, 1) AS i, unnest(a) AS p
              FROM (SELECT [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99] AS a)
            )
            SELECT CAST(probs.p AS DOUBLE) AS p,
                   round(q_base, 4) AS q_base_r,
                   round(q_cur, 4) AS q_cur_r,
                   round(q_cur - q_base, 4) AS gap_r,
                   round(CASE WHEN q_base <> 0
                              THEN (q_cur - q_base) / abs(q_base) END, 6) AS rel_gap_r
            FROM eb JOIN ec USING (i) JOIN probs USING (i)""",
        "twa_events": """
            WITH o AS (
              SELECT user_id, value AS v,
                     (epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts))
                      - epoch(ts)) AS dt
              FROM events
            )
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_obs,
                   round(coalesce(sum(dt), 0), 3) AS span_r,
                   round(sum(v * dt) / sum(dt), 6) AS twa_r,
                   round(avg(v), 6) AS avg_r
            FROM o GROUP BY 1""",
        "corpus_overlap_documents": """
            WITH fp_base AS (
              SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     CAST(count(*) AS BIGINT) AS nb
              FROM documents WHERE text IS NOT NULL GROUP BY 1
            ),
            cur AS (
              SELECT text FROM documents WHERE text IS NOT NULL AND doc_id % 4 = 0
              UNION ALL
              SELECT text || ' fresh suffix' FROM documents
              WHERE text IS NOT NULL AND doc_id % 4 = 1
            ),
            fp_cur AS (
              SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     CAST(count(*) AS BIGINT) AS nc
              FROM cur GROUP BY 1
            ),
            j AS (
              SELECT fp_base.nb, fp_cur.nc
              FROM fp_base FULL OUTER JOIN fp_cur ON fp_base.fp = fp_cur.fp
            )
            SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS n_base_docs,
                   CAST(coalesce(sum(nc), 0) AS BIGINT) AS n_cur_docs,
                   CAST(count(CASE WHEN nb IS NOT NULL THEN 1 END) AS BIGINT) AS n_base_fps,
                   CAST(count(CASE WHEN nc IS NOT NULL THEN 1 END) AS BIGINT) AS n_cur_fps,
                   CAST(count(CASE WHEN nb IS NOT NULL AND nc IS NOT NULL THEN 1 END) AS BIGINT) AS n_shared_fps,
                   CAST(coalesce(sum(CASE WHEN nb IS NOT NULL THEN nc END), 0) AS BIGINT) AS cur_docs_from_base,
                   round(CAST(coalesce(sum(CASE WHEN nb IS NOT NULL THEN nc END), 0) AS DOUBLE)
                         / coalesce(sum(nc), 0), 6) AS carryover_r
            FROM j""",
        "burstiness_events": """
            WITH g AS (
              SELECT user_id,
                     epoch(ts) - epoch(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts)) AS gap
              FROM events
            ),
            per AS (
              SELECT user_id,
                     CAST(count(*) AS BIGINT) AS n_events,
                     avg(gap) AS m, stddev_samp(gap) AS s
              FROM g GROUP BY 1
            )
            SELECT user_id, n_events,
                   round(m, 3) AS mean_gap_r,
                   round(s, 3) AS std_gap_r,
                   round(CASE WHEN n_events >= 3 AND s + m <> 0
                              THEN (s - m) / (s + m) END, 6) AS burstiness_r
            FROM per""",
        "audio_alignment_clips": """
            SELECT CASE WHEN doc_id % 4 = 0 THEN 'aligned_50ms'
                        WHEN doc_id % 4 = 1 THEN 'aligned_100ms'
                        WHEN doc_id % 4 = 2 THEN 'aligned_0ms'
                        ELSE 'no_alignment' END AS status,
                   CAST(count(*) AS BIGINT) AS n_clips
            FROM documents GROUP BY 1""",
        "rule_pack_lineitem": """
            WITH w AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN NOT coalesce(l_tax <= l_discount + 0.06, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
                     CAST(sum(CASE WHEN NOT coalesce(l_extendedprice >= l_quantity * 900, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
                     CAST(sum(CASE WHEN NOT coalesce(l_discount BETWEEN 0.0 AND 0.1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
                     CAST(sum(CASE WHEN NOT coalesce(l_shipdate >= TIMESTAMP '1992-01-01', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4
              FROM lineitem
            )
            SELECT rule, n AS n_rows, v AS n_violations,
                   round(CAST(v AS DOUBLE) / n, 6) AS violation_frac_r
            FROM (
              SELECT 'tax_near_discount' AS rule, n, v1 AS v FROM w
              UNION ALL SELECT 'price_covers_qty', n, v2 FROM w
              UNION ALL SELECT 'discount_band', n, v3 FROM w
              UNION ALL SELECT 'shipdate_sane', n, v4 FROM w
            )""",
        "snapshot_diff_orders": """
            WITH cur AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 97 = 0
                          THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
                     o_orderstatus
              FROM orders WHERE o_orderkey % 101 <> 0
              UNION ALL
              SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
              FROM orders WHERE o_orderkey % 103 = 0
            ),
            j AS (
              SELECT b.o_orderkey AS bk, c.o_orderkey AS ck,
                     b.o_totalprice AS bt, c.o_totalprice AS ct,
                     b.o_orderstatus AS bs, c.o_orderstatus AS cs
              FROM orders b FULL OUTER JOIN cur c ON b.o_orderkey = c.o_orderkey
            ),
            w AS (
              SELECT CAST(sum(CASE WHEN bk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS base_rows,
                     CAST(sum(CASE WHEN ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS cur_rows,
                     CAST(sum(CASE WHEN ck IS NOT NULL AND bk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
                     CAST(sum(CASE WHEN bk IS NOT NULL AND ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed,
                     CAST(sum(CASE WHEN bk IS NOT NULL AND ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS common,
                     CAST(sum(CASE WHEN bk IS NOT NULL AND ck IS NOT NULL
                                        AND (bt IS DISTINCT FROM ct OR bs IS DISTINCT FROM cs)
                              THEN 1 ELSE 0 END) AS BIGINT) AS changed_rows,
                     CAST(sum(CASE WHEN bk IS NOT NULL AND ck IS NOT NULL
                                        AND bt IS DISTINCT FROM ct THEN 1 ELSE 0 END) AS BIGINT) AS ch_t,
                     CAST(sum(CASE WHEN bk IS NOT NULL AND ck IS NOT NULL
                                        AND bs IS DISTINCT FROM cs THEN 1 ELSE 0 END) AS BIGINT) AS ch_s
              FROM j
            )
            SELECT metric, n FROM (
              SELECT 'base_rows' AS metric, base_rows AS n FROM w
              UNION ALL SELECT 'cur_rows', cur_rows FROM w
              UNION ALL SELECT 'added', added FROM w
              UNION ALL SELECT 'removed', removed FROM w
              UNION ALL SELECT 'common', common FROM w
              UNION ALL SELECT 'changed_rows', changed_rows FROM w
              UNION ALL SELECT 'changed:o_totalprice', ch_t FROM w
              UNION ALL SELECT 'changed:o_orderstatus', ch_s FROM w
            )""",
        "group_normalize_lineitem": """
            WITH m AS (
              SELECT l_returnflag, avg(l_extendedprice) AS mu,
                     stddev_samp(l_extendedprice) AS sd
              FROM lineitem GROUP BY 1
            ),
            z AS (
              SELECT l.l_returnflag,
                     (l.l_extendedprice - m.mu) / m.sd AS zv
              FROM lineitem l JOIN m USING (l_returnflag)
            )
            SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   round(avg(zv), 6) + 0.0 AS mean_z_r,
                   round(stddev_samp(zv), 6) AS std_z_r,
                   round(min(zv), 4) AS min_z_r,
                   round(max(zv), 4) AS max_z_r
            FROM z GROUP BY 1""",
        "json_key_profile_events": """
            WITH src AS (
              SELECT CASE
                WHEN event_id % 4 = 0 THEN
                  '{"k": ' || format('{:.1f}', coalesce(value, 0.0)) || ', "device": "ios"}'
                WHEN event_id % 4 = 1 THEN
                  '{"k": ' || format('{:.1f}', coalesce(value, 0.0)) || ', "device": "android", "beta": true}'
                WHEN event_id % 4 = 2 THEN
                  '{"k": ' || format('{:.1f}', coalesce(value, 0.0)) || '}'
                ELSE '{"device": "web", "ref": "ad"}' END AS props2
              FROM events
            ),
            t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM src),
            kv0 AS (
              SELECT props2, unnest(json_keys(props2)) AS key FROM src
            ),
            kv AS (
              SELECT key,
                     CASE json_type(props2, '$.' || key)
                       WHEN 'BOOLEAN' THEN 'boolean'
                       WHEN 'NULL' THEN 'null'
                       WHEN 'VARCHAR' THEN 'string'
                       ELSE 'number' END AS value_type
              FROM kv0
            )
            SELECT key, value_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(CAST(count(*) AS DOUBLE) / t.total, 6) AS frac_r
            FROM kv, t GROUP BY key, value_type, t.total""",
        "payload_dup_clips": """
            WITH base AS (
              SELECT printf('clip-%012d', doc_id) AS clip_id,
                     unhex(substring(md5(CAST(doc_id AS VARCHAR)), 1, 16)) AS bytes,
                     doc_id
              FROM documents
            ),
            all_clips AS (
              SELECT clip_id, bytes FROM base
              UNION ALL
              SELECT 'dup-' || clip_id, bytes FROM base WHERE doc_id % 40 = 0
            ),
            g AS (
              SELECT hex(bytes) AS payload_key,
                     CAST(count(*) AS BIGINT) AS n_clips,
                     min(clip_id) AS first_id,
                     max(clip_id) AS last_id
              FROM all_clips WHERE bytes IS NOT NULL
              GROUP BY 1 HAVING count(*) > 1
            )
            SELECT n_clips, first_id, last_id FROM g""",
        "decade_profile_lineitem": """
            WITH s AS (
              SELECT CASE WHEN l_orderkey % 89 = 0
                          THEN l_extendedprice * 1000.0
                          ELSE l_extendedprice END AS price
              FROM lineitem
            )
            SELECT CASE WHEN price IS NULL THEN 'null'
                        WHEN price = 0 THEN 'zero'
                        ELSE (CASE WHEN price < 0 THEN 'neg:e' ELSE 'e' END)
                             || CAST(CAST(floor(log10(abs(price))) AS BIGINT) AS VARCHAR)
                   END AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM s GROUP BY 1""",
        "pitch_profile_clips": """
            SELECT CASE WHEN doc_id % 4 = 0 THEN 'low'
                        WHEN doc_id % 4 = 1 THEN 'mid'
                        WHEN doc_id % 4 = 2 THEN 'high'
                        ELSE 'unvoiced' END AS f0_band,
                   CAST(count(*) AS BIGINT) AS n_clips
            FROM documents GROUP BY 1""",
        "vocab_richness_documents": r"""
            WITH t AS (
              SELECT CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(trim(text), '\s+') END AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            u AS (SELECT unnest(toks) AS token FROM t),
            c AS (SELECT token, count(*) AS n FROM u GROUP BY 1)
            SELECT CAST(count(*) AS BIGINT) AS vocab_size,
                   CAST(coalesce(sum(n), 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hapax,
                   round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 8) AS hapax_r,
                   round(CAST(count(*) AS DOUBLE) / sum(n), 8) AS ttr_r
            FROM c""",
        "float32_safety_lineitem": """
            WITH r AS (
              SELECT l_extendedprice AS x,
                     CAST(CAST(l_extendedprice AS REAL) AS DOUBLE) AS rt
              FROM lineitem
            ),
            s AS (
              SELECT x, rt,
                     CASE WHEN x IS NOT NULL AND x <> 0
                               AND NOT (abs(rt) = 'inf'::DOUBLE AND abs(x) <> 'inf'::DOUBLE)
                          THEN abs(rt - x) / abs(x) END AS rel,
                     (x IS NOT NULL AND abs(rt) = 'inf'::DOUBLE
                      AND abs(x) <> 'inf'::DOUBLE) AS ov
              FROM r
            )
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(coalesce(sum(CASE WHEN rel > 1e-9 THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_lossy,
                   CAST(coalesce(sum(CASE WHEN ov THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_overflow,
                   round(max(rel), 12) AS max_rel_err_r
            FROM s""",
        "entropy_profile_orders": """
            WITH u AS (
              SELECT 'o_orderstatus' AS col, coalesce(CAST(o_orderstatus AS VARCHAR), '__NULL__') AS v FROM orders
              UNION ALL
              SELECT 'o_orderpriority', coalesce(CAST(o_orderpriority AS VARCHAR), '__NULL__') FROM orders
              UNION ALL
              SELECT 'o_custkey', coalesce(CAST(o_custkey AS VARCHAR), '__NULL__') FROM orders
            ),
            c AS (
              SELECT col, v, CAST(count(*) AS DOUBLE) AS n FROM u GROUP BY 1, 2
            ),
            t AS (
              SELECT col, v, n, sum(n) OVER (PARTITION BY col) AS tot FROM c
            ),
            h AS (
              SELECT col,
                     CAST(count(*) AS BIGINT) AS n_distinct,
                     sum(-(n / tot) * ln(n / tot)) AS ent
              FROM t GROUP BY 1
            )
            SELECT col AS "column", n_distinct,
                   round(ent, 6) AS entropy_r,
                   round(CASE WHEN n_distinct > 1
                              THEN ent / ln(CAST(n_distinct AS DOUBLE))
                              ELSE 0.0 END, 6) AS norm_entropy_r
            FROM h""",
        "strlen_profile_customer": """
            WITH u AS (
              SELECT 'c_name' AS col, length(CAST(c_name AS VARCHAR)) AS len FROM customer
              UNION ALL
              SELECT 'c_mktsegment', length(CAST(c_mktsegment AS VARCHAR)) FROM customer
            )
            SELECT col AS "column",
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(coalesce(sum(CASE WHEN len IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null,
                   CAST(coalesce(sum(CASE WHEN len = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_empty,
                   CAST(min(len) AS BIGINT) AS min_len,
                   round(avg(len), 6) AS avg_len_r,
                   CAST(max(len) AS BIGINT) AS max_len
            FROM u GROUP BY 1""",
        "key_candidates_lineitem": """
            WITH w AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d1,
                     CAST(count(DISTINCT l_linenumber) AS BIGINT) AS d2,
                     CAST(count(DISTINCT l_partkey) AS BIGINT) AS d3,
                     CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS d12,
                     CAST(count(DISTINCT (l_orderkey, l_partkey)) AS BIGINT) AS d13,
                     CAST(count(DISTINCT (l_linenumber, l_partkey)) AS BIGINT) AS d23
              FROM lineitem
            )
            SELECT candidate, n_distinct, n AS n_rows,
                   round(CAST(n_distinct AS DOUBLE) / n, 6) AS ratio_r
            FROM (
              SELECT 'l_orderkey' AS candidate, d1 AS n_distinct, n FROM w
              UNION ALL SELECT 'l_linenumber', d2, n FROM w
              UNION ALL SELECT 'l_partkey', d3, n FROM w
              UNION ALL SELECT 'l_orderkey+l_linenumber', d12, n FROM w
              UNION ALL SELECT 'l_orderkey+l_partkey', d13, n FROM w
              UNION ALL SELECT 'l_linenumber+l_partkey', d23, n FROM w
            )""",
        "circadian_events": """
            WITH a AS (
              SELECT event_type,
                     (CAST(hour(ts) AS DOUBLE) + CAST(minute(ts) AS DOUBLE) / 60.0)
                       * (2.0 * pi() / 24.0) AS theta
              FROM events
            ),
            g AS (
              SELECT event_type,
                     CAST(count(*) AS BIGINT) AS n_events,
                     avg(cos(theta)) AS c, avg(sin(theta)) AS s
              FROM a GROUP BY 1
            )
            SELECT event_type, n_events,
                   round((atan2(s, c) * (24.0 / (2.0 * pi())) + 24.0) % 24.0, 4)
                     AS peak_hour_r,
                   round(sqrt(c * c + s * s), 6) AS r_r
            FROM g""",
        "sample_rep_documents": """
            WITH pop AS (
              SELECT coalesce(CAST(lang AS VARCHAR), '__NULL__') AS category,
                     CAST(count(*) AS BIGINT) AS n_pop
              FROM documents GROUP BY 1
            ),
            samp AS (
              SELECT coalesce(CAST(lang AS VARCHAR), '__NULL__') AS category,
                     CAST(count(*) AS BIGINT) AS n_sample
              FROM documents
              WHERE doc_id % 7 = 0 OR (lang = 'en' AND doc_id % 3 = 0)
              GROUP BY 1
            ),
            j AS (
              SELECT coalesce(pop.category, samp.category) AS category,
                     coalesce(n_pop, 0) AS n_pop,
                     coalesce(n_sample, 0) AS n_sample
              FROM pop FULL OUTER JOIN samp USING (category)
            ),
            t AS (
              SELECT category, n_pop, n_sample,
                     CAST(n_pop AS DOUBLE) / sum(n_pop) OVER ()
                       * sum(n_sample) OVER () AS expected
              FROM j
            )
            SELECT category, n_pop, n_sample,
                   round(expected, 6) AS expected_r,
                   round(CASE WHEN expected > 0
                              THEN (n_sample - expected) * (n_sample - expected)
                                   / expected
                              ELSE 0.0 END, 6) AS chi2_r
            FROM t""",
        "interval_overlaps_events": """
            WITH iv AS (
              SELECT user_id, ts AS s,
                     ts + to_seconds(CAST(coalesce(value, 0.0) * 100 AS BIGINT)) AS e
              FROM events
            ),
            w AS (
              SELECT user_id, s, e,
                     max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_max
              FROM iv
            )
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_overlaps
            FROM w
            WHERE prev_max IS NOT NULL AND s < prev_max
            GROUP BY 1""",
        "mojibake_documents": """
            WITH d AS (
              SELECT coalesce(text, '')
                     || CASE WHEN doc_id % 11 = 0 THEN ' cafÃ©' ELSE '' END
                     || CASE WHEN doc_id % 13 = 0 THEN ' �' ELSE '' END
                     || CASE WHEN doc_id % 17 = 0 THEN ' â€™' ELSE '' END
                     || CASE WHEN doc_id % 19 = 0 THEN ' Â ' ELSE '' END AS t
              FROM documents
            ),
            h AS (
              SELECT (length(t) - length(replace(t, 'Ã', ''))) AS h1,
                     (length(t) - length(replace(t, 'â€', ''))) / 2 AS h2,
                     (length(t) - length(replace(t, '�', ''))) AS h3,
                     (length(t) - length(replace(t, 'Â', ''))) AS h4
              FROM d
            ),
            w AS (
              SELECT CAST(coalesce(sum(CASE WHEN h1 > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d1,
                     CAST(coalesce(sum(h1), 0) AS BIGINT) AS n1,
                     CAST(coalesce(sum(CASE WHEN h2 > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d2,
                     CAST(coalesce(sum(h2), 0) AS BIGINT) AS n2,
                     CAST(coalesce(sum(CASE WHEN h3 > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d3,
                     CAST(coalesce(sum(h3), 0) AS BIGINT) AS n3,
                     CAST(coalesce(sum(CASE WHEN h4 > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d4,
                     CAST(coalesce(sum(h4), 0) AS BIGINT) AS n4
              FROM h
            )
            SELECT artifact, n_docs, n_hits FROM (
              SELECT 'latin1_utf8' AS artifact, d1 AS n_docs, n1 AS n_hits FROM w
              UNION ALL SELECT 'win1252_utf8', d2, n2 FROM w
              UNION ALL SELECT 'replacement_char', d3, n3 FROM w
              UNION ALL SELECT 'nbsp_artifact', d4, n4 FROM w
            )""",
        "new_entity_rate_events": """
            WITH pairs AS (
              SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS p, user_id
              FROM events
            ),
            fs AS (SELECT user_id, min(p) AS first_p FROM pairs GROUP BY 1)
            SELECT pairs.p AS day,
                   CAST(count(*) AS BIGINT) AS n_active,
                   CAST(coalesce(sum(CASE WHEN pairs.p = fs.first_p THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_new,
                   round(CAST(sum(CASE WHEN pairs.p = fs.first_p THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*), 6) AS new_frac_r
            FROM pairs JOIN fs USING (user_id)
            GROUP BY 1""",
        "crest_check_clips": """
            SELECT CASE WHEN doc_id % 4 = 0 THEN 'over_compressed'
                        WHEN doc_id % 4 = 1 THEN 'ok'
                        WHEN doc_id % 4 = 2 THEN 'silent'
                        ELSE 'undecodable' END AS crest_status,
                   CAST(count(*) AS BIGINT) AS n_clips
            FROM documents GROUP BY 1""",
        "fd_strength_lineitem": """
            WITH s AS (
              SELECT l_partkey,
                     CASE WHEN l_orderkey % 101 = 0 THEN -1
                          ELSE l_partkey % 10 END AS supp_bucket
              FROM lineitem
            ),
            pc AS (
              SELECT l_partkey, supp_bucket, CAST(count(*) AS BIGINT) AS n
              FROM s GROUP BY 1, 2
            ),
            pl AS (
              SELECT l_partkey, sum(n) AS tot, max(n) AS maj
              FROM pc GROUP BY 1
            )
            SELECT CAST(coalesce(sum(tot), 0) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_lhs_groups,
                   CAST(coalesce(sum(tot - maj), 0) AS BIGINT) AS n_violating_rows,
                   round(1.0 - CAST(sum(tot - maj) AS DOUBLE) / sum(tot), 6)
                     AS strength_r
            FROM pl""",
        "prefix_dup_documents": """
            WITH all_docs AS (
              SELECT doc_id, text FROM documents WHERE text IS NOT NULL
              UNION ALL
              SELECT doc_id + 3000000, substring(text, 1, 80)
              FROM documents WHERE text IS NOT NULL AND doc_id % 31 = 0
            ),
            n AS (
              SELECT doc_id, text,
                     trim(regexp_replace(regexp_replace(lower(text),
                          '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
              FROM all_docs
            ),
            g AS (
              SELECT md5(substring(norm, 1, 64)) AS prefix_fp,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(min(length(text)) AS BIGINT) AS min_len,
                     CAST(max(length(text)) AS BIGINT) AS max_len,
                     min(doc_id) AS first_id,
                     max(doc_id) AS last_id
              FROM n GROUP BY 1 HAVING count(*) > 1
            )
            SELECT * FROM g""",
        "flac_invariant_clips": """
            WITH c AS (
              SELECT doc_id % 6 AS kind,
                     250 + (doc_id % 4) * 125 AS dur_ms
              FROM documents
            ),
            m AS (
              SELECT CASE WHEN kind = 3 THEN 'pcm_s16le'
                          WHEN kind = 4 THEN 'opus'
                          ELSE 'flac' END AS codec,
                     CASE WHEN kind IN (0, 2, 3) THEN 'decoded'
                          WHEN kind IN (1, 5) THEN 'malformed'
                          ELSE 'unsupported_codec' END AS status,
                     CASE WHEN kind IN (0, 3) THEN 1 ELSE 0 END AS pass,
                     CASE WHEN kind IN (0, 2, 3) THEN 16 * dur_ms
                          ELSE 0 END AS n_samples
              FROM c
            )
            SELECT codec, status,
                   CAST(count(*) AS BIGINT) AS n_clips,
                   CAST(sum(pass) AS BIGINT) AS n_pass,
                   CAST(sum(n_samples) AS BIGINT) AS sum_samples
            FROM m GROUP BY codec, status""",
        "codec_metadata_clips": """
            WITH c AS (
              SELECT doc_id % 6 AS kind,
                     250 + (doc_id % 4) * 125 AS dur_ms
              FROM documents
            ),
            m AS (
              SELECT CASE WHEN kind IN (0, 1) THEN 'consistent'
                          WHEN kind = 2 THEN 'sr_mismatch'
                          WHEN kind = 3 THEN 'duration_mismatch'
                          WHEN kind = 4 THEN 'opaque_codec'
                          ELSE 'header_unreadable' END AS meta_status,
                     CASE WHEN kind IN (0, 1, 2, 3) THEN 16 * dur_ms
                          ELSE 0 END AS hs
              FROM c
            )
            SELECT meta_status,
                   CAST(count(*) AS BIGINT) AS n_clips,
                   CAST(sum(hs) AS BIGINT) AS sum_header_samples
            FROM m GROUP BY meta_status""",
        "resample_invariant_clips": """
            WITH c AS (
              SELECT doc_id % 5 AS kind,
                     250 + (doc_id % 4) * 125 AS dur_ms
              FROM documents
            ),
            p AS (
              SELECT kind,
                     CASE kind WHEN 1 THEN 44100 WHEN 2 THEN 16000
                          ELSE 8000 END AS sr_in,
                     dur_ms
              FROM c
            ),
            n AS (SELECT kind, sr_in, (sr_in * dur_ms) // 1000 AS n_in FROM p),
            o AS (
              SELECT CASE WHEN kind IN (0, 1) THEN 'resampled_pass'
                          WHEN kind = 2 THEN 'passthrough'
                          WHEN kind = 3 THEN 'resampled_fail'
                          ELSE 'silent' END AS status,
                     CASE WHEN sr_in = 8000 THEN n_in * 2
                          WHEN sr_in = 44100 THEN (n_in * 160) // 441
                          ELSE n_in END AS n_out
              FROM n
            )
            SELECT status,
                   CAST(count(*) AS BIGINT) AS n_clips,
                   CAST(sum(n_out) AS BIGINT) AS sum_out_samples
            FROM o GROUP BY status""",
        "flac_transcode_clips": """
            WITH c AS (
              SELECT doc_id % 4 AS kind,
                     250 + (doc_id % 4) * 125 AS dur_ms
              FROM documents
            ),
            m AS (
              SELECT kind,
                     CASE kind WHEN 0 THEN 8000 WHEN 2 THEN 44100
                          ELSE 16000 END AS sr,
                     dur_ms
              FROM c
            ),
            o AS (
              SELECT CASE WHEN kind = 3 THEN 'quarantined'
                          ELSE 'transcoded_exact' END AS status,
                     kind IN (0, 2) AS compressed,
                     CASE WHEN kind = 3 THEN 0
                          ELSE (sr * dur_ms) // 1000 END AS n_samples
              FROM m
            )
            SELECT status, compressed,
                   CAST(count(*) AS BIGINT) AS n_clips,
                   CAST(sum(n_samples) AS BIGINT) AS sum_samples
            FROM o GROUP BY status, compressed""",
        "opus_header_clips": """
            WITH c AS (SELECT doc_id % 4 AS kind FROM documents),
            m AS (
              SELECT CASE WHEN kind IN (0, 1) THEN 'header_ok_or_mismatch'
                          ELSE 'header_unreadable' END AS grp,
                     kind
              FROM c
            ),
            o AS (
              SELECT CASE WHEN kind = 0 THEN 'header_ok'
                          WHEN kind = 1 THEN 'input_sr_mismatch'
                          ELSE 'header_unreadable' END AS opus_status,
                     CASE WHEN kind = 0 THEN 16000
                          WHEN kind = 1 THEN 48000 ELSE 0 END AS input_sr,
                     CASE WHEN kind IN (0, 1) THEN 312 ELSE 0 END AS pre_skip
              FROM m
            )
            SELECT opus_status,
                   CAST(count(*) AS BIGINT) AS n_clips,
                   CAST(sum(input_sr) AS BIGINT) AS sum_input_sr,
                   CAST(sum(pre_skip) AS BIGINT) AS sum_pre_skip
            FROM o GROUP BY opus_status""",
        "l_diversity_customer": """
            WITH pairs AS (
              SELECT c_nationkey, c_mktsegment,
                     CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                     CAST(count(*) AS BIGINT) AS n
              FROM customer GROUP BY 1, 2, 3
            )
            SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
                   c_mktsegment,
                   CAST(sum(n) AS BIGINT) AS group_n,
                   CAST(count(CASE WHEN bal_band IS NOT NULL THEN 1 END)
                        AS BIGINT) AS n_sensitive,
                   round(CAST(max(CASE WHEN bal_band IS NOT NULL THEN n END)
                              AS DOUBLE) / sum(n), 6) AS top_share_r,
                   count(CASE WHEN bal_band IS NOT NULL THEN 1 END) < 3
                     AS at_risk
            FROM pairs GROUP BY 1, 2""",
        "t_closeness_customer": """
            WITH pairs AS (
              SELECT c_nationkey, c_mktsegment,
                     CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
                     CAST(count(*) AS BIGINT) AS n
              FROM customer GROUP BY 1, 2, 3
            ),
            grp AS (
              SELECT c_nationkey, c_mktsegment, sum(n) AS gn
              FROM pairs GROUP BY 1, 2
            ),
            gv AS (SELECT band, sum(n) AS vn FROM pairs GROUP BY 1),
            tot AS (SELECT sum(vn) AS nn, count(*) AS v FROM gv),
            grid AS (
              SELECT g.c_nationkey, g.c_mktsegment, g.gn, gl.band, gl.vn
              FROM grp g CROSS JOIN gv gl
            ),
            j AS (
              SELECT grid.c_nationkey, grid.c_mktsegment, grid.gn,
                     grid.band, grid.vn, coalesce(p.n, 0) AS pn
              FROM grid
              LEFT JOIN pairs p
                ON p.c_nationkey = grid.c_nationkey
               AND p.c_mktsegment = grid.c_mktsegment
               AND p.band = grid.band
            ),
            cum AS (
              SELECT c_nationkey, c_mktsegment, gn,
                     abs(sum(CAST(pn AS DOUBLE) / gn)
                           OVER (PARTITION BY c_nationkey, c_mktsegment
                                 ORDER BY band)
                         - sum(CAST(vn AS DOUBLE) / (SELECT nn FROM tot))
                           OVER (PARTITION BY c_nationkey, c_mktsegment
                                 ORDER BY band)) AS d
              FROM j
            )
            SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
                   c_mktsegment,
                   CAST(max(gn) AS BIGINT) AS group_n,
                   round(sum(d) / (SELECT v - 1 FROM tot), 6) AS distance_r,
                   sum(d) / (SELECT v - 1 FROM tot) > 0.15 AS at_risk
            FROM cum GROUP BY 1, 2""",
        "audio_normalize_sinc_clips": """
            SELECT CASE WHEN doc_id % 4 = 0 THEN 8000
                        WHEN doc_id % 4 = 1 THEN 44100
                        WHEN doc_id % 4 = 2 THEN 16000
                        ELSE 0 END AS orig_sr,
                   CASE WHEN doc_id % 4 = 3 THEN 'undecodable'
                        ELSE 'normalized' END AS status,
                   CAST(count(*) AS BIGINT) AS n_clips
            FROM documents GROUP BY 1, 2""",
    }
