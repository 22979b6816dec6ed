"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
and embedding-cosine near-dup.

Scale design (the whole point — 100 TB of documents):

* **Exact**: hash-groupBy on a 64-bit content fingerprint of normalized
  text. Map-side combine collapses duplicates per partition before the
  shuffle; shuffle width = #distinct fingerprints, not #rows.
* **MinHash + LSH**: shingle → one xxhash64 per shingle → K permutations
  from the arithmetic universal family (a·h+b mod 2^31−1) → per-doc minima
  via explode + codegen min-aggregates (map-side combine: one ~520B row per
  doc crosses the shuffle) → B bands of R hashes → explode bands →
  self-join on (band, band_hash). Candidate pairs only ever meet inside a
  band bucket; buckets above ``max_bucket_size`` switch to consecutive-pair
  chaining (O(n), ordered by a similarity-correlated key so genuine
  duplicate runs stay transitively linked after verification) so degenerate
  boilerplate buckets cannot go quadratic. Verification (true Jaccard) runs
  only on candidates, semi-joined before shingling.
* **Group formation**: pair outputs feed ``connected_components`` —
  iterative min-label propagation with pointer jumping (O(log n) rounds
  even on the chains the bucket cap emits) — then ``keep_canonical`` drops
  every group member except the minimum id.
* **SimHash**: bit-majority over token hashes via explode + codegen
  per-bit sum-aggregates. Near-dup candidates by the pigeonhole trick:
  split into C=4 16-bit chunks; hamming ≤ 3 ⇒ at least one chunk equal ⇒
  equi-join on (chunk_idx, chunk_value) with the same bucket-size cap,
  verify with bit_count(xor) ≤ 3. Again: equi-join, no cross product.
* **Embedding cosine**: random-hyperplane LSH (deterministic planes,
  seeded NumPy, shipped as literals) buckets vectors by sign pattern;
  exact cosine verifies within buckets (capped like the text buckets).
  Brute-force pairing is only for oracle tests.
* **One pairing core.** Every candidate path above keys its rows
  (band, chunk, sign pattern, text block) and pairs within each key under
  ``_bounded_self_pairs``' size cap. The incremental forms key the new
  batch and the stored index the same way and call ``_index_pairs``:
  new-vs-capped-corpus pairs plus the batch's own capped self-pairs.
* **Materialization is the caller's.** A keyed stream that feeds several
  consumers (the size count, both join sides, the chain window) is
  ``localCheckpoint(eager=True)``-ed once by the function that built it:
  minhash bands, hamming chunks, the embedding skinny stream, the
  ``jaccard_pairs`` shingles and ``containment_pairs``' two streams.
  Measured 3-5× faster than lazy or eager persist for these pair
  pipelines (minhash_near_dups first execution: 3.0s checkpointed vs
  14.5-19.6s under DISK_ONLY or MEMORY_AND_DISK persist at
  sf0.1/local[32]). Like ``connected_components``, a local checkpoint
  gives up lineage recovery on executor loss; at cluster scale with
  executor churn, use ``checkpoint()`` with ``spark.checkpoint.dir`` on
  reliable storage instead.

The text paths are Python-free: Column/DataFrame compositions only
(whole-stage codegen + standard shuffles Catalyst can plan); the shingle
builder intentionally stays a higher-order-function fold — the measured
alternative (dim-term unrolled expressions) was 3-4× slower (see
BENCH/BASELINE.md). The embedding paths compute hyperplane sign patterns
as ONE Arrow-batched numpy matmul per batch (``functions/linalg.py``) —
the per-row HOF dot folds they replace were the round-3 cost center —
and verify candidates with the exact cosine expression.
"""

from __future__ import annotations

from typing import Callable, Optional

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsschema_spark.functions.text import content_fingerprint, normalized_text, word_shingles


def portable_hash64(col: Column) -> Column:
    """Deterministic 60-bit hash reproducible in ANSI SQL engines
    (``('0x' || substring(md5(x),1,15))::BIGINT`` in DuckDB) — the oracle-
    parity alternative to xxhash64. Slower (md5 + string conv); use xxhash64
    on the 100 TB path."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# --------------------------------------------------------------------------
# exact dedup

def exact_duplicate_groups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    fingerprint_fn: Callable[[Column], Column] = content_fingerprint,
) -> DataFrame:
    """Groups of exact duplicates (normalized-text fingerprint collisions):
    ``fingerprint, n_docs, doc_ids`` (ids sorted; only groups with n>1).

    ``fingerprint_fn`` swaps the 64-bit xxhash64 default for e.g. an
    md5-based fingerprint when an external SQL oracle must reproduce it."""
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint_fn(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .where(F.col("n_docs") > 1)
    )


def dup_group_size_histogram(
    df: DataFrame,
    text_col: str,
    fingerprint_fn: Callable[[Column], Column] = content_fingerprint,
) -> DataFrame:
    """Count-of-counts profile of exact duplication: one row per observed
    group size with ``(group_size, n_groups, n_docs)`` — the dedup
    REPORTING operator. A curation run reads this before deduping to size
    the job (``sum((size−1)·n_groups)`` = rows removal will drop) and to
    spot pathology: a heavy tail of huge groups means template/boilerplate
    content, near-uniform size-1 means dedup isn't worth a pass.

    Scale shape: two map-side-combined hash aggregations — fingerprint
    counts (shuffle width = #distinct texts), then size counts (width =
    #distinct sizes, ≲ hundreds) — and nothing else: no window, no join,
    no doc ids collected. The same count-of-counts contraction that makes
    ``skew_report`` safe on hot keys makes the boilerplate fingerprint
    (the hottest key in the corpus) cost one row per task here."""
    sizes = (
        df.select(fingerprint_fn(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    return sizes.groupBy("group_size").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("group_size").alias("n_docs"),
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id doc per fingerprint (deterministic).

    ``min_by`` hash aggregation, not a row_number window: the aggregate
    gets map-side combine (each task pre-reduces its duplicates, so a
    fingerprint with a million copies ships one row per task), while a
    window must shuffle EVERY row to its fingerprint's reducer and sort
    there — the difference between shuffle width = #distinct docs and
    shuffle width = #rows at 100 TB."""
    fp = content_fingerprint(F.col(text_col)).alias("__fp")
    # min_by DROPS rows whose ordering expression is NULL — a group whose
    # every id is null would yield an all-NULL row. Order by (id IS NULL,
    # id) instead: non-null ids win, and all-null groups still keep a real
    # row (struct ordering treats the null field consistently).
    ord_key = F.struct(
        F.col(f"__row.{id_col}").isNull().alias("n"), F.col(f"__row.{id_col}").alias("v")
    )
    kept = (
        df.select(fp, F.struct(*df.columns).alias("__row"))
        .groupBy("__fp")
        .agg(F.min_by(F.col("__row"), ord_key).alias("__row"))
    )
    return kept.select("__row.*")


# --------------------------------------------------------------------------
# MinHash + LSH

_MAX_LONG = (1 << 63) - 1


_MERSENNE_31 = (1 << 31) - 1


def _hash_family(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal family
    ``(a·h + b) mod p``, p = 2^31−1 — same constants on every executor."""
    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, _MERSENNE_31)), int(rng.integers(0, _MERSENNE_31)))
        for _ in range(num_hashes)
    ]


def minhash_signature(text: Column, num_hashes: int = 64, shingle_k: int = 3) -> Column:
    """Array of ``num_hashes`` minhash values (null for empty-shingle docs).

    ONE ``aggregate`` pass over the shingle array, folding a vector of
    ``num_hashes`` running minima — not ``num_hashes`` separate
    ``array_min(transform(...))`` scans, which would re-evaluate the shingle
    expression per hash (no CSE inside HOF lambdas).

    Each shingle string is hashed ONCE (xxhash64), then the ``num_hashes``
    permutations come from the arithmetic universal family
    ``(a_i·h + b_i) mod (2^31−1)`` — 64 multiply-adds instead of 64 separate
    string hashes per shingle (the string re-hash was most of the signature
    cost; products stay < 2^62 so ANSI long arithmetic never overflows)."""
    fam = _hash_family(num_hashes)
    sh = word_shingles(text, shingle_k)
    # hash each shingle ONCE in its own transform pass — were the xxhash64
    # inside the fold lambda below, every one of the 64 references would
    # re-hash the string (no CSE inside HOF lambdas); here `h` is a bound
    # lambda variable, so referencing it 64 times is free
    hashes = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31)))
    init = F.array(*[F.lit(_MERSENNE_31 + 1).cast("long") for _ in range(num_hashes)])

    def perms(h: Column) -> Column:
        return F.array(
            *[F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE_31)) for a, b in fam]
        )

    sig = F.aggregate(
        hashes, init, lambda acc, h: F.zip_with(acc, perms(h), lambda a, b: F.least(a, b))
    )
    return F.when(F.element_at(sig, 1) == _MERSENNE_31 + 1, F.lit(None)).otherwise(sig)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """``(doc_id, sig)`` signatures, the batch formulation of
    ``minhash_signature`` (same values).

    Catalyst does not codegen higher-order functions, so the Column-level
    fold evaluates ~num_hashes interpreted expressions per shingle (~1 ms
    per document measured). Here shingles are exploded and hashed once each
    in the JVM (codegen ``xxhash64``); the ``num_hashes`` lanes and the
    per-document minimum then run as one NumPy matrix op per Arrow batch
    (``mapInPandas``), and a final ``groupBy(doc_id)`` least-fold merges the
    few per-batch partials of a document. Docs with no shingles produce no
    row (the Column version yields null)."""
    import numpy as np
    import pandas as pd

    fam = _hash_family(num_hashes)
    lane_a = np.array([a for a, _ in fam], dtype=np.int64)
    lane_b = np.array([b for _, b in fam], dtype=np.int64)
    m31 = _MERSENNE_31

    sh = df.select(
        F.col(id_col).alias("doc_id"), word_shingles(F.col(text_col), shingle_k).alias("sh")
    )
    # ONE codegen hash per shingle in the JVM (xxhash64 must match Spark's
    # implementation), then the num_hashes lanes + per-doc min run as a
    # vectorized NumPy matrix op per Arrow batch: materializing num_hashes
    # bigint COLUMNS per shingle row in codegen was the stage's real cost
    # (~512 B of unsafe-row writes per shingle; measured 3.1s wall / 88s
    # CPU at sf1.0 vs 0.9s for this shape — values bit-identical, h·a+b ≤
    # 2^62 so int64 never overflows). Shingle rows of a doc are contiguous
    # per partition, so each batch emits ~one partial row per doc; the
    # final least-fold merges the few batch-boundary partials.
    ex = sh.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", F.pmod(F.xxhash64(F.col("s")), F.lit(m31)).alias("h")
    )

    def lanes_min(batches):
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    {"doc_id": pd.Series(dtype="int64"), "sig": pd.Series(dtype="object")}
                )
                continue
            ids = pdf["doc_id"].to_numpy()
            h = pdf["h"].to_numpy()
            lanes = (h[:, None] * lane_a[None, :] + lane_b[None, :]) % m31
            order = np.argsort(ids, kind="stable")
            ids_s, lanes_s = ids[order], lanes[order]
            cut = np.flatnonzero(np.concatenate(([True], ids_s[1:] != ids_s[:-1])))
            mins = np.minimum.reduceat(lanes_s, cut, axis=0)
            yield pd.DataFrame({"doc_id": ids_s[cut], "sig": list(mins)})

    part = ex.mapInPandas(lanes_min, "doc_id long, sig array<long>")
    # lane values are < M31, so M31 is a safe fold identity; ≤ a few
    # partials per doc reach this agg (one per touching Arrow batch)
    return part.groupBy("doc_id").agg(
        F.aggregate(
            F.collect_list("sig"),
            F.array_repeat(F.lit(int(m31)).cast("long"), num_hashes),
            lambda acc, x: F.zip_with(acc, x, lambda p, q: F.least(p, q)),
        ).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int = 500,
) -> DataFrame:
    """Candidate near-dup pairs ``(id_a, id_b)`` (id_a < id_b) that share at
    least one LSH band. rows-per-band R = num_hashes/bands sets the
    sensitivity threshold ≈ (1/bands)^(1/R).

    Hot-bucket skew control: a degenerate band bucket (millions of
    boilerplate near-identical docs) would make the self-join quadratic
    *within that bucket* and melt one reducer. Buckets larger than
    ``max_bucket_size`` switch from all-pairs to **consecutive-pair
    chaining** ordered by the first minhash lane (similarity-correlated:
    docs with Jaccard j share that lane with probability j, so
    near-identical docs sort adjacent and their chain edges survive the
    downstream Jaccard verification). Chaining keeps O(size) pairs;
    transitive linking of a genuine duplicate group is preserved when the
    group is contiguous under that ordering — guaranteed for homogeneous
    buckets, probabilistic (per-lane collision) for mixed ones."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    # the bands feed the size count, both join sides and the chain window;
    # checkpoint them once or each re-runs the signature pipeline
    banded = _minhash_bands(sig, num_hashes, bands).localCheckpoint(eager=True)
    return _bounded_self_pairs(
        banded, ["band", "bh"], max_bucket_size, chain_order=["__ord0"]
    )


def _minhash_bands(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """``(doc_id, __ord0, band, bh)`` rows of a ``(doc_id, sig)`` stream:
    one multi-arg xxhash64 over each band's r = num_hashes/bands signature
    longs (no string concat per band), plus the first lane as the
    similarity-correlated chain order."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide into bands")
    r = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col("sig")[b * r + j] for j in range(r)]).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc_id", F.col("sig")[0].alias("__ord0"), F.explode(band_structs).alias("e")
    ).select(
        "doc_id", "__ord0", F.col("e.band").alias("band"), F.col("e.bh").alias("bh")
    )


def _split_by_size(
    keyed: DataFrame, key_cols: list[str], max_bucket_size: int
) -> "tuple[DataFrame, DataFrame]":
    """``(rows of buckets ≤ cap, rows of over-cap buckets)`` of a keyed
    stream.

    Two-phase size detection: ``groupBy(key).count()`` (map-side combine —
    each executor pre-reduces its rows, so even a degenerate bucket ships
    one partial count per task, never its rows), then a join of the
    over-cap keys back onto the stream. Unlike a COUNT window over the
    bucket key, no reducer ever receives all rows of a degenerate bucket
    just to count it."""
    sizes = keyed.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__bn"))
    # over-cap keys are usually tiny (≤ n/cap), but on a boilerplate-heavy
    # corpus n/cap itself can be huge — let Catalyst/AQE pick the join from
    # the runtime size estimate rather than force-broadcasting
    big_keys = (
        sizes.where(F.col("__bn") > max_bucket_size)
        .select(*key_cols, F.lit(True).alias("__big"))
    )
    tagged = keyed.join(big_keys, key_cols, "left")
    return (
        tagged.where(F.col("__big").isNull()).drop("__big"),
        tagged.where(F.col("__big")).drop("__big"),
    )


def _bounded_self_pairs(
    banded: DataFrame, key_cols: list[str], max_bucket_size: int,
    payload: Optional[str] = None,
    chain_order: Optional[list[str]] = None,
) -> DataFrame:
    """Within-bucket pairing with a size cap over a keyed
    ``(doc_id, *key_cols, ...)`` stream: full all-pairs equi-join for
    buckets ≤ cap (sizes from ``_split_by_size``), consecutive-pair
    chaining (one window pass) above it. ``payload``: optional extra
    column carried onto both sides (``<p>_a`` / ``<p>_b``). Output
    ``(id_a, id_b[, <p>_a, <p>_b])``, id_a < id_b, distinct.

    The stream is read by the size count, both join sides and the chain
    window. Nothing is materialized here: a caller whose stream is
    expensive to recompute checkpoints it first.

    ``chain_order``: columns that order the consecutive chain within an
    over-cap bucket. Pass a similarity-correlated key (a signature lane,
    the simhash value, the vector itself) so near-identical docs sort
    adjacent and their chain edge survives downstream verification.
    Chaining preserves connected-component structure only for runs of
    docs that verify pairwise — a homogeneous (boilerplate) bucket, or a
    mixed bucket whose genuine groups are contiguous under ``chain_order``.
    With doc_id ordering alone, a genuine group interleaved with
    hash-collision noise could lose its links; hence the ordering hook."""
    import functools
    import operator

    from pyspark.sql import Window

    small, big = _split_by_size(banded, key_cols, max_bucket_size)

    pay_a = [F.col(f"a.{payload}").alias(f"{payload}_a")] if payload else []
    pay_b = [F.col(f"b.{payload}").alias(f"{payload}_b")] if payload else []
    a, b = small.alias("a"), small.alias("b")
    cond = functools.reduce(
        operator.and_, [F.col(f"a.{c}") == F.col(f"b.{c}") for c in key_cols]
    ) & (F.col("a.doc_id") < F.col("b.doc_id"))
    full = a.join(b, cond).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"), *pay_a, *pay_b
    )

    order_cols = [F.col(c) for c in (chain_order or [])] + [F.col("doc_id")]
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    prev_cols = ["doc_id"] + ([payload] if payload else [])
    # chain_order need not follow doc_id order, so normalize each edge to
    # id_a < id_b (and swap the payloads with the ids)
    swap = F.col("__prev.doc_id") > F.col("doc_id")
    chained = (
        big.withColumn("__prev", F.lag(F.struct(*prev_cols)).over(w))
        .where(F.col("__prev").isNotNull())
        .select(
            F.when(swap, F.col("doc_id")).otherwise(F.col("__prev.doc_id")).alias("id_a"),
            F.when(swap, F.col("__prev.doc_id")).otherwise(F.col("doc_id")).alias("id_b"),
            *(
                [
                    F.when(swap, F.col(payload)).otherwise(F.col(f"__prev.{payload}")).alias(f"{payload}_a"),
                    F.when(swap, F.col(f"__prev.{payload}")).otherwise(F.col(payload)).alias(f"{payload}_b"),
                ]
                if payload
                else []
            ),
        )
    )
    return full.unionByName(chained).distinct()


# --------------------------------------------------------------------------
# incremental dedup against a persisted signature index
#
# A training pipeline does not re-signature 100 TB of corpus to admit a new
# batch: it writes the per-doc minhash signatures ONCE (they are pure
# functions of the text), then dedups each incoming batch against the
# stored signature table — one new-batch signature pass + an equi-join on
# band buckets, never a full recompute.

def _index_pairs(
    new: DataFrame, corpus: DataFrame, key_cols: list[str], max_bucket_size: int,
    payload: Optional[str] = None,
    chain_order: Optional[list[str]] = None,
) -> DataFrame:
    """Candidate pairs of a keyed new batch against a keyed stored index
    (both ``(doc_id, *key_cols, ...)``) plus the batch's own capped
    self-pairs (``_bounded_self_pairs``): ``(id_a, id_b[, <p>_a, <p>_b])``,
    id_a < id_b, distinct, the payload aligned to the ids. Pairs with both
    ids in the corpus are never produced.

    Corpus buckets larger than ``max_bucket_size`` are truncated to their
    ``max_bucket_size`` smallest doc_ids (sort-based, one window pass over
    over-cap rows only — O(size log size), never quadratic): a new doc
    only needs ONE surviving link into an existing group to be recognized
    as a duplicate, and degenerate buckets are boilerplate families where
    any representative verifies. The batch side is read by the cross join
    and the self-pairing; the caller checkpoints it."""
    from pyspark.sql import Window

    small, big = _split_by_size(corpus, key_cols, max_bucket_size)
    w = Window.partitionBy(*key_cols).orderBy("doc_id")
    capped = small.unionByName(
        big.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_bucket_size)
        .drop("__rn")
    )
    swap = F.col("n.doc_id") > F.col("c.doc_id")
    pay = (
        [
            F.when(swap, F.col(f"c.{payload}")).otherwise(F.col(f"n.{payload}")).alias(f"{payload}_a"),
            F.when(swap, F.col(f"n.{payload}")).otherwise(F.col(f"c.{payload}")).alias(f"{payload}_b"),
        ]
        if payload
        else []
    )
    cross = (
        new.alias("n")
        .join(capped.alias("c"), key_cols)
        .where(F.col("n.doc_id") != F.col("c.doc_id"))
        .select(
            F.least(F.col("n.doc_id"), F.col("c.doc_id")).alias("id_a"),
            F.greatest(F.col("n.doc_id"), F.col("c.doc_id")).alias("id_b"),
            *pay,
        )
    )
    within = _bounded_self_pairs(new, key_cols, max_bucket_size, payload, chain_order)
    return cross.unionByName(within).distinct()


def write_minhash_index(
    df: DataFrame, path: str, id_col: str, text_col: str,
    num_hashes: int = 64, shingle_k: int = 3, mode: str = "overwrite",
) -> None:
    """Persist ``(doc_id, sig)`` minhash signatures as the corpus dedup
    index (~520 B/doc at 64 hashes). ``mode="append"`` admits a verified
    batch into the index after ``incremental_minhash_pairs``."""
    minhash_signatures(df, id_col, text_col, num_hashes, shingle_k).write.mode(
        mode
    ).parquet(path)


def incremental_minhash_pairs(
    new_df: DataFrame, index: DataFrame,
    id_col: str, text_col: str,
    num_hashes: int = 64, bands: int = 16, shingle_k: int = 3,
    max_bucket_size: int = 500,
) -> DataFrame:
    """LSH candidate pairs of an incoming batch against a persisted
    signature index (``(doc_id, sig)``, see ``write_minhash_index``) plus
    within-batch pairs — WITHOUT recomputing corpus signatures.

    Shapes: banding the stored signatures is ``bands`` xxhash64 calls over
    array slices (codegen, no shingling, no text); the new batch is
    signatured and banded once (checkpointed for its two consumers); the
    candidates are ``_index_pairs`` on (band, band_hash). Returns
    ``(id_a, id_b)`` candidates, id_a < id_b; verify with ``jaccard_pairs``
    over the union table. An empty index gives exactly
    ``minhash_lsh_pairs`` of the batch."""
    new_banded = _minhash_bands(
        minhash_signatures(new_df, id_col, text_col, num_hashes, shingle_k),
        num_hashes, bands,
    ).localCheckpoint(eager=True)
    corpus_banded = _minhash_bands(index.select("doc_id", "sig"), num_hashes, bands)
    return _index_pairs(
        new_banded, corpus_banded, ["band", "bh"], max_bucket_size,
        chain_order=["__ord0"],
    )


def incremental_near_duplicates_minhash(
    new_df: DataFrame, corpus_df: DataFrame, index: DataFrame,
    id_col: str, text_col: str,
    num_hashes: int = 64, bands: int = 16, shingle_k: int = 3,
    threshold: float = 0.8, max_bucket_size: int = 500,
) -> DataFrame:
    """Full incremental pipeline: index-joined LSH candidates → true-Jaccard
    verification. ``corpus_df`` supplies text ONLY for the candidate ids
    (semi-joined before shingling — the corpus is never re-signatured)."""
    cand = incremental_minhash_pairs(
        new_df, index, id_col, text_col, num_hashes, bands, shingle_k, max_bucket_size
    )
    both = corpus_df.select(F.col(id_col), F.col(text_col)).unionByName(
        new_df.select(F.col(id_col), F.col(text_col))
    )
    return jaccard_pairs(both, cand, id_col, text_col, shingle_k, threshold)


def write_fingerprint_index(
    df: DataFrame, path: str, id_col: str, text_col: str,
    fingerprint_fn: Callable[[Column], Column] = content_fingerprint,
    mode: str = "overwrite",
) -> None:
    """Persist the exact-dedup index: one ``(fingerprint, doc_id)`` row per
    DISTINCT fingerprint (min doc id — map-side combined, so shuffle width
    is #distinct, not #rows)."""
    (
        df.select(
            fingerprint_fn(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .write.mode(mode)
        .parquet(path)
    )


def incremental_exact_dedup(
    new_df: DataFrame, index: DataFrame, id_col: str, text_col: str,
    fingerprint_fn: Callable[[Column], Column] = content_fingerprint,
) -> DataFrame:
    """New-batch rows that survive exact dedup against a persisted
    fingerprint index (``write_fingerprint_index``) AND within the batch:
    anti-join on fingerprint (AQE broadcast/shuffle by size), then the
    usual min_by keep-first inside the batch."""
    fp = fingerprint_fn(F.col(text_col)).alias("__fp")
    tagged = new_df.select(F.struct(*new_df.columns).alias("__row"), fp)
    fresh = tagged.join(
        index.select(F.col("fingerprint").alias("__fp")), "__fp", "left_anti"
    )
    ord_key = F.struct(
        F.col(f"__row.{id_col}").isNull().alias("n"), F.col(f"__row.{id_col}").alias("v")
    )
    kept = fresh.groupBy("__fp").agg(F.min_by(F.col("__row"), ord_key).alias("__row"))
    return kept.select("__row.*")


# --------------------------------------------------------------------------
# n-gram Jaccard (verification for candidates, or exact small-scale pairing)

def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,  # (id_a, id_b)
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """True n-gram Jaccard on candidate pairs: join shingle sets back to both
    sides (shuffle on doc id), compute |∩|/|∪|, filter ≥ threshold.

    The corpus is semi-joined to the candidate ids BEFORE the shingle
    projection — shingling runs on |candidates| docs, not the whole corpus
    (the candidate set is orders of magnitude smaller after LSH)."""
    cand_ids = (
        candidates.select(F.col("id_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    pruned = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")).join(
        cand_ids, "doc_id", "left_semi"
    )
    sh = pruned.select("doc_id", word_shingles(F.col("__t"), shingle_k).alias("sh"))
    # both join sides (id_a, id_b) consume the shingle table; materialize it
    # once or the semi-join + shingling subtree executes twice. Bounded by
    # the candidate set, which LSH already made orders of magnitude smaller
    # than the corpus.
    sh = sh.localCheckpoint(eager=True)
    out = (
        candidates.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(F.lit(0.0)),
        )
    )
    return out.where(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def near_duplicates_minhash(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 64, bands: int = 16, shingle_k: int = 3, threshold: float = 0.8,
    max_bucket_size: int = 500,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → Jaccard verification."""
    cand = minhash_lsh_pairs(df, id_col, text_col, num_hashes, bands, shingle_k, max_bucket_size)
    return jaccard_pairs(df, cand, id_col, text_col, shingle_k, threshold)


# --------------------------------------------------------------------------
# SimHash

def simhash(
    text: Column,
    shingle_k: int = 1,
    n_bits: int = 64,
    hash_fn: Optional[Callable[[Column], Column]] = None,
) -> Column:
    """SimHash of the token stream (k=1: unigrams), pure Catalyst:
    per-token hash → ±1 contribution per bit → sign of the per-bit sums.

    Tokens are hashed ONCE in a ``transform`` pass, then the bit-majority
    fold runs over the hash array (Catalyst does no CSE inside HOF lambdas —
    hashing inside the fold would re-evaluate the hash per bit reference).

    ``hash_fn``/``n_bits`` default to xxhash64/64 (the scale path); pass
    ``portable_hash64``/60 when an external SQL engine must reproduce the
    values (oracle parity)."""
    units = word_shingles(text, shingle_k) if shingle_k > 1 else F.split(normalized_text(text), " ")
    hf = hash_fn or (lambda c: F.xxhash64(c))
    hashes = F.transform(units, lambda u: hf(u))

    def bit_contribs(h: Column) -> Column:
        return F.array(
            *[
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
                for i in range(n_bits)
            ]
        )

    counts = F.aggregate(
        hashes,
        F.array(*[F.lit(0) for _ in range(n_bits)]),
        lambda acc, h: F.zip_with(acc, bit_contribs(h), lambda a, b: a + b),
    )
    out = F.lit(0).cast("long")
    for i in range(n_bits):
        out = out.bitwiseOR(
            F.when(
                F.element_at(counts, i + 1) > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return out


def simhash_values(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 1,
    n_bits: int = 64,
    hash_fn: Optional[Callable[[Column], Column]] = None,
) -> DataFrame:
    """``(doc_id, sh)`` SimHash values (same values as the ``simhash``
    Column — pinned by test). One hash per token in the JVM (the hash
    function must match Spark's), then the ``n_bits`` ±1 bit
    contributions and the per-doc sums run as one NumPy pass per Arrow
    batch: like ``minhash_signatures``, materializing n_bits bigint
    columns per token row in codegen was the stage's dominant cost.
    Batch-boundary partial sums merge with a zip_with fold; the sign-pack
    happens on the merged row. Docs whose token array is null (null text)
    produce no row."""
    import numpy as np
    import pandas as pd

    units = (
        word_shingles(F.col(text_col), shingle_k)
        if shingle_k > 1
        else F.split(normalized_text(F.col(text_col)), " ")
    )
    ex = df.select(F.col(id_col).alias("doc_id"), F.explode(units).alias("u"))
    h = (hash_fn or (lambda c: F.xxhash64(c)))(F.col("u"))
    hx = ex.select("doc_id", h.alias("h"))

    def bit_sums(batches):
        shifts = np.arange(n_bits, dtype=np.uint64)
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    {"doc_id": pd.Series(dtype="int64"), "bs": pd.Series(dtype="object")}
                )
                continue
            ids = pdf["doc_id"].to_numpy()
            hv = pdf["h"].to_numpy().astype(np.int64).view(np.uint64)
            # (n, n_bits) in {-1, +1}: bit set -> +1
            contrib = (
                ((hv[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1
            )
            order = np.argsort(ids, kind="stable")
            ids_s, contrib_s = ids[order], contrib[order]
            cut = np.flatnonzero(np.concatenate(([True], ids_s[1:] != ids_s[:-1])))
            sums = np.add.reduceat(contrib_s, cut, axis=0)
            yield pd.DataFrame({"doc_id": ids_s[cut], "bs": list(sums)})

    part = hx.mapInPandas(bit_sums, "doc_id long, bs array<long>")
    agg = part.groupBy("doc_id").agg(
        F.aggregate(
            F.collect_list("bs"),
            F.array_repeat(F.lit(0).cast("long"), n_bits),
            lambda acc, x: F.zip_with(acc, x, lambda p, q: p + q),
        ).alias("__bs")
    )
    out = F.lit(0).cast("long")
    for i in range(n_bits):
        out = out.bitwiseOR(
            F.when(
                F.element_at(F.col("__bs"), i + 1) > 0,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        )
    return agg.select("doc_id", out.alias("sh"))


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    max_bucket_size: int = 500,
    n_bits: int = 64,
    hash_fn: Optional[Callable[[Column], Column]] = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, using the
    pigeonhole chunk join (C = max_hamming + 1 chunks ⇒ one chunk must match
    exactly — the candidate set provably CONTAINS every qualifying pair,
    so below the bucket cap this equals brute force). Output: id_a, id_b,
    hamming.

    ``n_bits``/``hash_fn`` mirror ``simhash_values`` (pass 60 +
    ``portable_hash64`` for external-SQL oracle parity); ``n_bits`` must
    split evenly into the C chunks or the top bits would escape the
    pigeonhole argument.

    Chunk buckets above ``max_bucket_size`` (boilerplate-heavy corpora)
    switch to consecutive-pair chaining ordered by the full simhash value,
    so docs at small hamming distance sort adjacent and their chain edges
    survive the hamming filter — see ``_bounded_self_pairs``."""
    sh = simhash_values(df, id_col, text_col, n_bits=n_bits, hash_fn=hash_fn)
    return hamming_near_dups(
        sh, "doc_id", "sh", max_hamming=max_hamming,
        max_bucket_size=max_bucket_size, n_bits=n_bits,
    )


def _hamming_chunked(
    df: DataFrame, id_col: str, sig_col: str, max_hamming: int, n_bits: int
) -> DataFrame:
    """Explode a signature stream into pigeonhole chunk rows
    ``(doc_id, sh, chunk, cv)``: C = max_hamming + 1 equal-width chunks of
    the ``n_bits`` signature — pure codegen bit ops, C rows/doc."""
    n_chunks = max_hamming + 1
    if n_bits % n_chunks:
        raise ValueError("n_bits must divide into max_hamming + 1 chunks")
    width = n_bits // n_chunks
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("sh"), c * width).bitwiseAND(F.lit((1 << width) - 1)).alias("cv"),
            )
            for c in range(n_chunks)
        ]
    )
    sh_df = df.select(F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sh"))
    return sh_df.select("doc_id", "sh", F.explode(chunks).alias("e")).select(
        "doc_id", "sh", F.col("e.chunk").alias("chunk"), F.col("e.cv").alias("cv")
    )


def _hamming_verified(pairs: DataFrame, id_col: str, max_hamming: int) -> DataFrame:
    """``(id_a, id_b, sh_a, sh_b)`` candidates → ``({id}_a, {id}_b,
    hamming)`` pairs within ``max_hamming``: one codegen
    ``bit_count(xor)`` filter (ids keep the ``id_a``/``id_b`` names when
    ``id_col`` is ``doc_id``)."""
    return (
        pairs.select(
            F.col("id_a").alias(f"{id_col}_a") if id_col != "doc_id" else F.col("id_a"),
            F.col("id_b").alias(f"{id_col}_b") if id_col != "doc_id" else F.col("id_b"),
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hamming_near_dups(
    df: DataFrame, id_col: str, sig_col: str, max_hamming: int = 3,
    max_bucket_size: int = 500,
    n_bits: int = 64,
) -> DataFrame:
    """Near-dup pairs among PRECOMPUTED bit signatures (a long column) by
    hamming distance ≤ max_hamming — the signature-agnostic core of
    ``simhash_near_dups``, reused by audio fingerprints
    (``audio.fingerprint_near_dups``) or any other 64-bit sketch.

    Pigeonhole chunk join: C = max_hamming + 1 equal-width chunks ⇒ any
    pair within distance max_hamming agrees exactly on ≥1 chunk, so the
    candidate set provably CONTAINS every qualifying pair — below the
    bucket cap this equals brute force. Over-cap chunk buckets chain
    consecutive pairs ordered by the full signature (near signatures sort
    adjacent). Verification is one codegen
    ``bit_count(xor) <= max_hamming``. Output: id_a, id_b, hamming."""
    # the chunk rows feed the size count, both join sides and the chain
    # window; checkpoint them once or each re-runs the signature upstream
    chunked = _hamming_chunked(df, id_col, sig_col, max_hamming, n_bits).localCheckpoint(
        eager=True
    )
    pairs = _bounded_self_pairs(
        chunked, ["chunk", "cv"], max_bucket_size, payload="sh", chain_order=["sh"]
    )
    return _hamming_verified(pairs, id_col, max_hamming)


def incremental_hamming_pairs(
    new_df: DataFrame, index: DataFrame,
    id_col: str, sig_col: str,
    max_hamming: int = 7,
    max_bucket_size: int = 500,
    n_bits: int = 64,
) -> DataFrame:
    """Hamming near-dup pairs of an incoming batch against a PERSISTED
    signature index (``(id, sig)`` longs — audio fingerprints, simhash,
    any 64-bit sketch) plus within-batch pairs, WITHOUT re-sketching the
    corpus: stored signatures are chunk-exploded with codegen bit ops
    (never re-derived from payload), the batch side is chunked and
    checkpointed once, ``_index_pairs`` pairs them on (chunk, cv) under
    its corpus-bucket cap, and verification is one
    ``bit_count(xor) <= max_hamming``. Output: ``({id}_a, {id}_b,
    hamming)``, id_a < id_b; both-in-corpus pairs are never produced. An
    empty index gives exactly ``hamming_near_dups`` of the batch."""
    new_chunked = _hamming_chunked(
        new_df, id_col, sig_col, max_hamming, n_bits
    ).localCheckpoint(eager=True)
    corpus_chunked = _hamming_chunked(index, id_col, sig_col, max_hamming, n_bits)
    pairs = _index_pairs(
        new_chunked, corpus_chunked, ["chunk", "cv"], max_bucket_size,
        payload="sh", chain_order=["sh"],
    )
    return _hamming_verified(pairs, id_col, max_hamming)


# --------------------------------------------------------------------------
# embedding-cosine near-dup

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    den = _norm(a) * _norm(b)
    return F.when(den > 0, _dot(a, b) / den).otherwise(F.lit(0.0))


def embedding_near_dups(
    df: DataFrame, id_col: str, vec_col: str, dim: int,
    threshold: float = 0.95, n_planes: int = 12, seed: int = 42,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold: ``embedding_near_dups_multiseed``
    with the one seed. Only vectors with an identical sign pattern over
    ``n_planes`` hyperplanes are compared (recall grows with fewer planes,
    or with more seeds). Output: id_a, id_b, cos."""
    return embedding_near_dups_multiseed(
        df, id_col, vec_col, dim, threshold, n_planes, (seed,), max_bucket_size
    )


def embedding_near_dups_multiseed(
    df: DataFrame, id_col: str, vec_col: str, dim: int,
    threshold: float = 0.95, n_planes: int = 12,
    seeds: "tuple[int, ...]" = (42, 1042, 2042),
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Multi-seed LSH union for recall control on *near*- (not exact-)
    duplicates: a single hyperplane set misses a pair whenever any plane
    separates the two vectors, so single-seed recall at cosine≈threshold
    is well below 1. K independent seeds each give an independent chance
    (miss probability multiplies: 1-r → (1-r)^K), and the union of the
    per-seed candidates is verified once — cosine is seed-independent.

    Plan shape: ONE Arrow-batched matmul per vector computes all K seeds'
    sign patterns plus 24 fine chain-order bits (K·n_planes + 24 ≤ 63,
    packed into one long), so the corpus is scanned once. The skinny
    ``(doc_id, __ord, seed, bucket)`` stream — a few bytes/row, no vector
    payload — is checkpointed once for the pair-generation consumers.
    Buckets above ``max_bucket_size`` (mass-duplicated embeddings) fall
    back to consecutive-pair chaining ordered by the fine sign pattern, so
    identical / near-identical embeddings sort adjacent and their chain
    edges survive the cosine filter. The embedding column is only joined
    back onto the distinct candidate pairs for cosine scoring (|pairs| ≪
    |corpus| after LSH). Output: id_a, id_b, cos."""
    from jsschema_spark.functions.linalg import hyperplane_bucket_v, hyperplanes

    k = len(seeds)
    n_fine = 24
    if k * n_planes + n_fine > 63:
        raise ValueError(
            f"{k} seeds x {n_planes} planes + {n_fine} order bits exceed one "
            "long; reduce seeds or planes"
        )
    planes = np.vstack(
        [hyperplanes(dim, n_planes, s) for s in seeds]
        + [hyperplanes(dim, n_fine, seeds[0] + 1)]
    )
    mask = (1 << n_planes) - 1
    # UDF in its own select so the matmul provably runs once per row; the
    # bit-split into (seed, bucket, order) is plain codegen on its output
    skinny = df.select(
        F.col(id_col).alias("doc_id"),
        hyperplane_bucket_v(F.col(vec_col), planes).alias("__sig"),
    )
    seed_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seed"),
                F.shiftright(F.col("__sig"), i * n_planes).bitwiseAND(F.lit(mask)).alias("bucket"),
            )
            for i in range(k)
        ]
    )
    banded = skinny.select(
        "doc_id",
        F.shiftright(F.col("__sig"), k * n_planes).alias("__ord"),
        F.explode(seed_structs).alias("e"),
    ).select("doc_id", "__ord", F.col("e.seed").alias("seed"), F.col("e.bucket").alias("bucket"))
    pairs = _bounded_self_pairs(
        banded.localCheckpoint(eager=True), ["seed", "bucket"], max_bucket_size,
        chain_order=["__ord"],
    )
    vt = df.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v"))
    return (
        pairs.join(vt.select(F.col("doc_id").alias("id_a"), F.col("v").alias("v_a")), "id_a")
        .join(vt.select(F.col("doc_id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
        .select("id_a", "id_b", cosine(F.col("v_a"), F.col("v_b")).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def embedding_brute_force_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95,
    block_size: int = 4096,
) -> DataFrame:
    """O(n²) exact pairing — oracle/testing only (the LSH path is the scale
    path; the flop count is quadratic by definition).

    Execution shape (guide §4.2 / §8): the naive formulation — a
    nested-loop cross join evaluating the interpreted ``cosine`` fold per
    pair — costs ~40s per million pairs per core. Instead, CANDIDATE pairs
    come from a blocked BLAS pass: vectors hash into ⌈n/block_size⌉
    blocks, each of the B(B+1)/2 block pairs is one ``applyInPandas`` task
    computing the full normalized-matmul tile in float64 and emitting
    pairs scoring ≥ threshold−1e-6. Survivors (a provable superset: the
    1e-6 slack dwarfs any f64 summation-order difference) are re-scored
    with the SAME Catalyst ``cosine`` expression and filter as the naive
    plan, so the output is bit-identical. Null vectors never qualify
    (cosine → null) and are dropped up front; length-mismatched pairs are
    zero-padded in the tile (a superset — the exact rescore nulls them
    out just like the naive plan). Measured: 4k vectors / 8M pairs went
    319.7s → seconds at sf1.0/local[32]."""
    import math

    import numpy as np
    import pandas as pd

    emb = df.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v"))
    if threshold <= 0:
        # every finite pair qualifies — the tile prefilter cannot prune, so
        # keep the straightforward formulation
        a, b = emb.alias("a"), emb.alias("b")
        return (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
                cosine(F.col("a.v"), F.col("b.v")).alias("cos"),
            )
            .where(F.col("cos") >= threshold)
        )

    spark = df.sparkSession
    nz = emb.where(F.col("v").isNotNull())
    n = nz.count()
    n_blocks = max(1, math.ceil(n / block_size))
    rows = nz.select(
        "doc_id", "v",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    from jsschema_spark.localdf import local_df

    tiles = local_df(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    left = rows.join(tiles, rows["blk"] == tiles["bi"]).select(
        "bi", "bj", "doc_id", "v", F.lit(0).alias("side")
    )
    right = rows.join(tiles, rows["blk"] == tiles["bj"]).select(
        "bi", "bj", "doc_id", "v", F.lit(1).alias("side")
    )
    thr = threshold - 1e-6

    def tile_candidates(pdf: pd.DataFrame) -> pd.DataFrame:
        same = bool(pdf["bi"].iat[0] == pdf["bj"].iat[0])
        l = pdf[pdf["side"] == 0]
        r = l if same else pdf[pdf["side"] == 1]

        def mat(part: pd.DataFrame) -> np.ndarray:
            vs = part["v"].tolist()
            d = max((len(x) for x in vs), default=0)
            m = np.zeros((len(vs), d), dtype=np.float64)
            for k, x in enumerate(vs):
                m[k, : len(x)] = x
            nr = np.sqrt((m * m).sum(axis=1))
            np.divide(m, nr[:, None], out=m, where=nr[:, None] > 0)
            return m

        a_m, b_m = mat(l), mat(r)
        d = max(a_m.shape[1], b_m.shape[1])
        if a_m.shape[1] < d:
            a_m = np.pad(a_m, ((0, 0), (0, d - a_m.shape[1])))
        if b_m.shape[1] < d:
            b_m = np.pad(b_m, ((0, 0), (0, d - b_m.shape[1])))
        sim = a_m @ b_m.T
        ii, jj = np.nonzero(sim >= thr)
        ia = l["doc_id"].to_numpy()[ii]
        ib = r["doc_id"].to_numpy()[jj]
        if same:
            keep = ia < ib
            ia, ib = ia[keep], ib[keep]
        else:
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": ia, "id_b": ib})

    cand = (
        left.unionByName(right)
        .groupBy("bi", "bj")
        .applyInPandas(tile_candidates, "id_a long, id_b long")
    )
    ra = emb.select(F.col("doc_id").alias("id_a"), F.col("v").alias("__va"))
    rb = emb.select(F.col("doc_id").alias("id_b"), F.col("v").alias("__vb"))
    return (
        cand.join(ra, "id_a")
        .join(rb, "id_b")
        .select("id_a", "id_b", cosine(F.col("__va"), F.col("__vb")).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


# --------------------------------------------------------------------------
# near-duplicate group formation (connected components over pair outputs)

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Transitive grouping of near-dup pairs: ``(doc_id, group_id)`` where
    ``group_id`` is the minimum doc id in the connected component. Only
    nodes that appear in at least one pair are returned (singletons are
    their own trivial group — join back with a left join + coalesce).

    Algorithm: iterative **min-label propagation with pointer jumping**.
    Each round (a) every node takes the minimum label among itself and its
    neighbors (one equi-join + hash aggregate, map-side combined), then
    (b) every node jumps to its label's label (one more equi-join). The
    jump step halves path lengths, so convergence is O(log n) rounds even
    on the long chains the hot-bucket cap emits — plain propagation alone
    would need O(diameter) rounds. Each round's label table is
    ``localCheckpoint``-ed: lineage stays flat (no exponential plan
    growth) and the convergence check re-reads materialized partitions.
    At 10^12 rows use a reliable checkpoint dir instead; the label table
    is one (id, label) row per *paired* doc — orders of magnitude smaller
    than the corpus after LSH.
    """
    sym = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = (
        sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    # materialize the edge list ONCE — it is consumed in every iteration
    # (neighbor join + convergence check), and the upstream pair pipeline
    # (LSH + verification) must not be re-executed per round. Checkpoint
    # (not persist) is load-bearing here: the iterative loop needs lineage
    # TRUNCATION or the per-round plan grows without bound. At real scale
    # point spark.checkpoint.dir at reliable storage and use checkpoint();
    # localCheckpoint trades executor-loss recovery for no-HDFS local runs.
    edges = edges.localCheckpoint(eager=True)
    # init: label(u) = min(u, min neighbor) — one aggregation pass
    labels = edges.groupBy("u").agg(F.min("v").alias("__mn")).select(
        "u", F.least(F.col("u"), F.col("__mn")).alias("label")
    )
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iterations):
        # (a) propagate: min label over the neighborhood
        nbr = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("label").alias("__vl")), "v"
            )
            .groupBy("u")
            .agg(F.min("__vl").alias("__nl"))
        )
        prop = labels.join(nbr, "u", "left").select(
            "u", F.least(F.col("label"), F.coalesce(F.col("__nl"), F.col("label"))).alias("label")
        )
        # (b) pointer jump: label(u) := label(label(u))
        parents = prop.select(F.col("u").alias("label"), F.col("label").alias("__pl"))
        jumped = prop.join(parents, "label", "left").select(
            "u", F.least(F.col("label"), F.coalesce(F.col("__pl"), F.col("label"))).alias("label")
        )
        jumped = jumped.localCheckpoint(eager=True)
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "u")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    else:
        # loop exhausted max_iterations without the convergence check ever
        # passing — the labels below may split a genuine component; never
        # let that be consumed silently
        import warnings

        warnings.warn(
            f"connected_components: not converged after {max_iterations} "
            "iterations; group labels may be incomplete (raise max_iterations)",
            RuntimeWarning,
            stacklevel=2,
        )

    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("group_id"))


def keep_canonical(
    df: DataFrame,
    groups: DataFrame,
    id_col: str,
) -> DataFrame:
    """Drop every near-dup group member except the canonical (minimum-id)
    doc: LEFT ANTI join of the corpus against the non-canonical ids from
    ``connected_components`` output. One broadcast- or shuffle-anti-join
    on the id; the non-canonical side is |paired docs| − |groups| rows,
    far smaller than the corpus."""
    losers = groups.where(F.col("doc_id") != F.col("group_id")).select("doc_id")
    return df.join(losers, df[id_col] == losers["doc_id"], "left_anti")


# --------------------------------------------------------------------------
# benchmark decontamination — n-gram containment against a held-out set

def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Training docs that CONTAIN benchmark n-grams — the standard
    eval-decontamination screen (drop any training document sharing an
    ``n``-word shingle with the held-out set). Returns
    ``(doc_id, n_hits)`` for docs with ≥ ``min_hits`` distinct matching
    shingles; anti-join the corpus against it to decontaminate.

    Scale shape: the benchmark shingle set is tiny relative to the corpus
    (evals are thousands of docs, the corpus is billions), so the corpus
    side never shuffles — explode corpus shingles, hash-join against the
    benchmark set (AQE broadcasts the small side), map-side-combined
    count per doc. Both sides shingle with the SAME normalization as the
    minhash path (``word_shingles``), so contamination and near-dup
    passes see one tokenization."""
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("sh")
        ).distinct()
    )
    corpus_sh = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
    )
    hits = (
        corpus_sh.join(bench_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .where(F.col("n_hits") >= min_hits)
    )
    return hits.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """The corpus minus contaminated docs (left anti-join on the
    ``ngram_contamination`` hit list — the hit list is violations-sized,
    so AQE broadcasts it)."""
    hits = ngram_contamination(corpus, benchmark, id_col, text_col, n, min_hits)
    return corpus.join(
        hits.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )


def mask_duplicate_spans(
    df: "DataFrame",
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "masked_text",
) -> "DataFrame":
    """Cross-document SPAN dedup: drop every token covered by an n-token
    span that appears in ≥ ``min_docs`` distinct documents — the
    boilerplate/repeated-span removal step of training-data pipelines
    (headers, footers, license blocks, templated passages), finer-grained
    than whole-document near-dup removal. Output: input rows +
    ``out_col`` (the text with covered tokens removed) and
    ``n_masked_tokens``. Comparison is on raw whitespace tokens
    (case-sensitive — masking rewrites the user's actual text, so the
    match must be literal).

    Scale shape: positions ride a posexplode of the CSE-safe n-gram
    array; span document-frequency is a (gram, doc) distinct + count —
    the same map-side-combined shuffle shape as ``ngram_doc_freq``
    (width = distinct grams); covered starts join back on the gram and
    collect per doc (bounded by the doc's own length, never corpus
    size). The rebuild is one higher-order projection over a
    MATERIALIZED token column — ``element_at`` over a column reference,
    not an inline re-tokenization (the word_shingles CSE trap)."""
    from jsschema_spark.functions.text import _word_ngrams, tokens

    base = df.withColumn("__toks", tokens(F.col(text_col)))
    grams_pos = base.select(
        F.col(id_col).alias("__gid"),
        F.posexplode(_word_ngrams(F.col("__toks"), n)).alias("__pos", "__gram"),
    )
    frequent = (
        grams_pos.select("__gram", "__gid")
        .distinct()
        .groupBy("__gram")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= int(min_docs))
        .select("__gram")
    )
    starts = (
        grams_pos.join(frequent, "__gram")
        .groupBy("__gid")
        .agg(F.collect_set("__pos").alias("__starts"))
    )
    joined = base.join(
        starts, base[id_col] == starts["__gid"], "left"
    ).drop("__gid")
    st = F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    # Empty/whitespace-only text: sequence(0, -1) auto-steps to [0, -1],
    # two bogus indices that survive the keep-filter (n_masked = -2) and
    # crash element_at under ANSI — guard the index spine explicitly.
    idx = F.when(
        F.size("__toks") > 0, F.sequence(F.lit(0), F.size("__toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    keep_idx = F.filter(
        idx,
        lambda i: ~F.exists(st, lambda s: (s <= i) & (i < s + F.lit(n))),
    )
    rebuilt = F.array_join(
        F.transform(keep_idx, lambda i: F.element_at(F.col("__toks"), i + 1)), " "
    )
    return (
        joined.withColumn(
            "n_masked_tokens",
            (F.size("__toks") - F.size(keep_idx)).cast("long"),
        )
        .withColumn(out_col, rebuilt)
        .drop("__toks", "__starts")
    )


def edit_distance_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 2,
    prefix_len: int = 12,
    max_block_size: int = 200,
) -> DataFrame:
    """Typo-level near-duplicate pairs by bounded edit distance: candidate
    pairs share the first ``prefix_len`` characters of the normalized text
    (prefix blocking) and differ in length by at most ``max_dist``; each
    candidate is verified with Levenshtein ≤ ``max_dist``. Output:
    ``(id_a, id_b, dist)``, ``id_a < id_b``. Complements MinHash (token
    rewrites) with character-level edits MinHash's shingle sets barely
    move. Prefix blocking is recall-incomplete BY DESIGN (an edit inside
    the prefix escapes the block) — the deterministic, oracle-checkable
    trade LSH banding also makes.

    Scale shape: the block key is COMPOSITE — (normalized prefix,
    length-band) with each row entering its own band and the next one up,
    so two rows share a key iff their bands differ by ≤ 1, which
    ``|Δlen| ≤ max_dist`` implies (band width = max(1, max_dist)). A hot
    prefix (closed-vocabulary corpora: many docs share the same first two
    words) therefore splits across length bands instead of forming one
    degenerate block — blocking completeness w.r.t. the length band is
    exact, so results are identical to prefix-only blocking while the
    worst block shrinks by the corpus' length spread. One map-side
    shuffle on the composite key; within-block pairing reuses
    ``_bounded_self_pairs`` (all-pairs under ``max_block_size``,
    similarity-ordered chaining above it). Same-band pairs meet in two
    shared keys, so pairs dedup before the Levenshtein kernel. The
    length band prunes before the O(len·maxdist) banded Levenshtein
    (threshold form: gives up at ``max_dist`` instead of filling the
    full DP matrix). All JVM codegen, zero Python."""
    from jsschema_spark.functions.text import normalized_text

    if max_dist < 0 or prefix_len <= 0:
        raise ValueError("max_dist must be >= 0 and prefix_len positive")
    band_w = max(1, int(max_dist))
    band = F.floor(F.length("__norm") / band_w)
    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            normalized_text(F.col(text_col)).alias("__norm"),
        )
        .withColumn("__block", F.substring(F.col("__norm"), 1, prefix_len))
        .withColumn("__band", F.explode(F.array(band, band + F.lit(1))))
    )
    pairs = _bounded_self_pairs(
        base, ["__block", "__band"], max_block_size,
        payload="__norm", chain_order=["__norm"],
    )
    dist = F.levenshtein(F.col("__norm_a"), F.col("__norm_b"), int(max_dist))
    return (
        pairs.where(
            F.abs(F.length("__norm_a") - F.length("__norm_b")) <= max_dist
        )
        # same-band pairs meet under both their band keys — one survivor
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("dist", dist)
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "dist")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    min_containment: float = 0.8,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """ASYMMETRIC near-duplicate pairs by shingle containment
    ``|A∩B| / |A|`` — catches a document EMBEDDED in another (quotes,
    concatenated crawls, header-wrapped reposts), which symmetric Jaccard
    misses: a short doc inside a long one has tiny Jaccard but containment
    ≈ 1. Output per unordered pair: shared-shingle count, both set sizes
    and both direction containments, filtered on
    ``greatest(cont_a, cont_b) >= min_containment``.

    Scale shape — PREFIX-FILTERED candidate generation (the exact
    prefix-filter of the set-similarity-join literature, e.g. Xiao et
    al., "Efficient Similarity Joins for Near Duplicate Detection"), NOT
    an all-shingles self-join: ``greatest(cont_a, cont_b) ≥ t`` means
    ``shared ≥ t·min(|A|,|B|)``, so at most ``(1−t)·|X|`` of the smaller
    side's shingles miss the other doc — its ``⌊(1−t)·|X|⌋+1``
    globally-RAREST shingles (df-ascending order) must collide with the
    other doc's full set. Only those prefix rows (~(1−t) of the instance
    table, carrying the corpus' lowest-df shingles) join the full index,
    so candidate fan-out is Σ_prefix df, linear-ish in corpus size, where
    the naive self-join's Σ df² goes quadratic once the shingle space
    saturates (measured: α 1.47 on the 10× scale-step before this
    rewrite). On top of the prefix + evidence-count filters, the
    POSITIONAL half of PPJoin prunes surviving pairs whose first shared
    shingle sits too deep in either doc's (df, g)-ascending order to
    reach ``t·min(|A|,|B|)`` overlap (bound derivation inline below) —
    on a saturated-vocabulary corpus this kills most birthday-collision
    candidates before the verify join ever sees their shingle arrays.
    Candidates dedup to distinct pairs, then ONE verify join
    computes ``shared`` EXACTLY as ``array_intersect`` of the two full
    shingle sets — hot shingles count toward containment (they only never
    propose), matching the brute-force oracle bit-for-bit. Shingles with
    df > ``max_shingle_df`` are dropped from the candidate INDEX side
    (recall-incomplete BY DESIGN for docs whose entire prefix is
    boilerplate, like LSH banding); per-doc rarest-prefix selection is a
    size-bounded sort_array over each doc's own shingle structs — no
    window, no data-row sort."""
    from jsschema_spark.functions.text import word_shingles

    if not (0.0 < min_containment <= 1.0):
        raise ValueError("min_containment must be in (0, 1]")
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    )
    # materialize BEFORE the size filter: filtering first lets
    # PushDownPredicates drag `size(<shingle HOF tree>) > 0` through the
    # exchange into the scan stage, where it re-evaluates the whole
    # shingle expression interpreted at scan parallelism (event-log
    # measured: 5.2s CPU on a 2-task stage at sf1.0). The checkpoint rows
    # for empty docs cost a few bytes each instead.
    sh = sh.localCheckpoint(eager=True)  # shingled once; prefix, index and verify all consume it
    sh = sh.where(F.size("sh") > 0)
    # Candidate generation runs entirely on 64-bit shingle ids
    # (xxhash64(g)) instead of ~30-char shingle strings: the Σ_prefix-df
    # join fan-out, document-frequency agg and per-doc (df, id) ranking
    # sort all get long keys/comparators instead of UTF8 ones. SOUND as a
    # superset: string-level hits are a subset of id-level hits (equal
    # strings ⇒ equal ids), so the evidence quota and the positional
    # bound — both lower-bound arguments about how many/where shared
    # shingles must appear — only ever over-admit under id collisions,
    # and the verify join still computes `shared` exactly on the full
    # string shingle sets. Per-doc rank ties from colliding ids are
    # resolved once (ranked is computed once and reused by both sides),
    # so positions stay consistent.
    ex = sh.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("__g0")
    ).select("doc_id", "n", F.xxhash64("__g0").alias("g"))
    dfreq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc GLOBAL (df, g)-ascending ranking, computed once and shared
    # by the prefix and index sides: positions in this total order drive
    # the PPJoin-style positional filter below. Rarest-prefix selection
    # and the positional index are size-bounded sorts over each doc's own
    # shingle structs — no window, no cross-doc sort.
    c_ev = 2
    ranked = (
        ex.join(dfreq, "g")
        .groupBy("doc_id", "n")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__df"), F.col("g")))
            ).alias("__ranked")
        )
        .withColumn(
            # shingles this doc carries that the candidate index drops
            # (df > cap): the positional bound must stay sound for them
            "__capped",
            F.size(
                F.filter(
                    F.col("__ranked"), lambda s: s["__df"] > max_shingle_df
                )
            ),
        )
    )
    ranked = ranked.localCheckpoint(eager=True)  # prefix + index both consume it
    # prefix side, EXTENDED by the evidence count c=2: with
    # L = min(n, ⌊(1−t)·n⌋ + c) rarest shingles and at most f = ⌊(1−t)·n⌋
    # of the smaller side's shingles absent from a qualifying partner,
    # a true pair must score m ≥ L − f prefix hits (= c for docs with
    # n ≥ f + c). A random birthday collision scores 1 — the count filter
    # kills the quadratic single-collision noise a saturated shingle
    # space produces, before any pair reaches the array verify.
    f_len = F.floor(F.lit(1.0 - min_containment) * F.col("n")).cast("int")
    pref_len = F.least(F.col("n"), f_len + c_ev)
    prefix = (
        ranked.select(
            "doc_id",
            F.col("n").alias("n_p"),
            F.col("__capped").alias("cap_p"),
            (pref_len - f_len).alias("need"),
            F.posexplode(F.slice(F.col("__ranked"), 1, pref_len)).alias(
                "__i0", "__s"
            ),
        )
        # a capped prefix shingle matches nothing in the index — drop the
        # join input row, its TRUE position is already burned into __i0
        .where(F.col("__s.__df") <= max_shingle_df)
        .select(
            "doc_id", "n_p", "cap_p", "need",
            (F.col("__i0") + 1).alias("i"),
            F.col("__s.g").alias("g"),
        )
    )
    # candidate INDEX side: full positional order, df-capped
    # (recall-incomplete BY DESIGN for docs whose entire prefix is
    # boilerplate, like LSH banding) — positions are in the UNCAPPED
    # order so the positional bound is exact
    idx = (
        ranked.select(
            F.col("doc_id").alias("doc_f"),
            F.col("n").alias("n_f"),
            F.col("__capped").alias("cap_f"),
            F.posexplode(F.col("__ranked")).alias("__j0", "__s"),
        )
        .where(F.col("__s.__df") <= max_shingle_df)
        .select(
            "doc_f", "n_f", "cap_f",
            (F.col("__j0") + 1).alias("j"),
            F.col("__s.g").alias("g_f"),
        )
    )
    # prefix side must be the ≤-sized doc (the bound only holds for the
    # smaller side; ties keep both directions), then per (pair, direction):
    # (1) EVIDENCE quota — count prefix hits, demand m ≥ need; and
    # (2) POSITIONAL filter (the positional half of PPJoin, Xiao et al.):
    #     the minimum-(i,j) prefix hit is provably the pair's FIRST shared
    #     uncapped shingle in the global (df, g) order (anything earlier
    #     in the order sits at a smaller position in A's prefix and would
    #     itself be a hit), so
    #       shared ≤ min(cap_p, cap_f) + 1 + min(n_p − i_min, n_f − j_min)
    #     — shared-capped shingles at most min of the capped counts,
    #     shared-uncapped all at order-positions ≥ the first one. Pairs
    #     whose bound can't reach t·n_p die here, before the array verify
    #     (on a saturated corpus most birthday pairs' rarest shared
    #     shingle sits deep in the partner's order — this is the filter
    #     that kills them).
    # the min-(i,j) hit is tracked as min of ONE packed long (i·2³² + j —
    # identical lexicographic order for positive ints): min over a struct
    # is not a codegen-able aggregate, so the struct form pushed BOTH agg
    # passes over the ~Σ_prefix-df join fan-out (26.6M rows at sf1.0)
    # into interpreted object aggregation (event-log: 49s + 21.6s CPU);
    # min(long) keeps them in whole-stage-codegen HashAggregate.
    hit_min = F.min(
        F.shiftleft(F.col("i").cast("long"), 32) + F.col("j")
    ).alias("__hp")
    cand = (
        prefix.alias("p")
        .join(
            idx,
            (F.col("p.g") == F.col("g_f"))
            & (F.col("p.doc_id") != F.col("doc_f"))
            & (F.col("p.n_p") <= F.col("n_f")),
        )
        .groupBy(
            F.least("p.doc_id", "doc_f").alias("id_a"),
            F.greatest("p.doc_id", "doc_f").alias("id_b"),
            F.col("p.doc_id").alias("__dir"),
            F.col("need"), F.col("n_p"), F.col("n_f"),
            F.col("cap_p"), F.col("cap_f"),
        )
        .agg(F.count(F.lit(1)).alias("__m"), hit_min)
        .where(F.col("__m") >= F.col("need"))
        .where(
            # −1e−9: the verify's exact division decides the pair; the
            # candidate bound only needs to never under-admit under FP
            F.least(F.col("cap_p"), F.col("cap_f"))
            + F.lit(1)
            + F.least(
                F.col("n_p") - F.shiftright(F.col("__hp"), 32),
                F.col("n_f") - F.col("__hp").bitwiseAND(F.lit(4294967295)),
            )
            >= F.lit(min_containment) * F.col("n_p") - F.lit(1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verification on the candidate pairs only: shared = |A∩B| over
    # the FULL shingle sets (hot shingles included)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("__sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("__sh_b"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("__sh_a", "__sh_b")).cast("long").alias("shared"),
            F.size("__sh_a").alias("n_a"),
            F.size("__sh_b").alias("n_b"),
        )
    )
    cont_a = F.col("shared") / F.col("n_a")
    cont_b = F.col("shared") / F.col("n_b")
    return (
        verified.where(
            (F.col("shared") > 0) & (F.greatest(cont_a, cont_b) >= min_containment)
        )
        .select(
            "id_a", "id_b", "shared", "n_a", "n_b",
            cont_a.alias("cont_a"), cont_b.alias("cont_b"),
        )
    )


def corpus_overlap(
    base: DataFrame,
    cur: DataFrame,
    text_col: str = "text",
    fingerprint_fn: "Optional[Callable[[Column], Column]]" = None,
) -> DataFrame:
    """Snapshot-to-snapshot provenance summary: how much of the current
    corpus is verbatim (by normalized-content fingerprint) carry-over
    from the baseline snapshot — the number a re-crawl or vendor
    re-delivery must report before anyone retrains on "new" data. One
    row: ``n_base_docs, n_cur_docs, n_base_fps, n_cur_fps,
    n_shared_fps, cur_docs_from_base, carryover_frac``.

    Scale shape: one fingerprint hash-agg per side (map-side combined,
    shuffle width = #distinct fingerprints), then ONE join of the two
    fingerprint-count tables — document text never crosses a shuffle,
    and the row-scale sides are scanned once each (the join-profile
    trick applied to content identity)."""
    fp = fingerprint_fn or content_fingerprint

    def fps(df: DataFrame, side: str) -> DataFrame:
        return df.groupBy(fp(F.col(text_col)).alias("__fp")).agg(
            F.count(F.lit(1)).cast("long").alias(f"__n_{side}")
        )

    fb = fps(base, "base")
    fc = fps(cur, "cur")
    j = fb.join(fc, "__fp", "full_outer")
    return j.agg(
        F.coalesce(F.sum("__n_base"), F.lit(0)).cast("long").alias("n_base_docs"),
        F.coalesce(F.sum("__n_cur"), F.lit(0)).cast("long").alias("n_cur_docs"),
        F.count(F.when(F.col("__n_base").isNotNull(), 1)).cast("long").alias("n_base_fps"),
        F.count(F.when(F.col("__n_cur").isNotNull(), 1)).cast("long").alias("n_cur_fps"),
        F.count(
            F.when(F.col("__n_base").isNotNull() & F.col("__n_cur").isNotNull(), 1)
        ).cast("long").alias("n_shared_fps"),
        F.coalesce(
            F.sum(F.when(F.col("__n_base").isNotNull(), F.col("__n_cur"))), F.lit(0)
        ).cast("long").alias("cur_docs_from_base"),
    ).withColumn(
        "carryover_frac",
        F.try_divide(F.col("cur_docs_from_base"), F.col("n_cur_docs")),
    )


def prefix_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_chars: int = 64,
    fingerprint_fn: "Optional[Callable[[Column], Column]]" = None,
) -> DataFrame:
    """Truncated-variant detection: group documents whose NORMALIZED
    PREFIX collides — the same article cut at different lengths (feed
    truncation, pagination, "read more" scrapes), which exact dedup
    misses (different tails ⇒ different fingerprints) and MinHash pays
    full shingling cost to find. The prefix fingerprint is the
    one-hash-agg middle rung between them.

    Output: ``prefix_fp, n_docs, min_len, max_len, doc_ids`` (sorted;
    groups with n > 1). ``max_len > min_len`` inside a group is the
    truncation signature; equal lengths are plain duplicates that the
    exact pass already owns.

    Scale shape: normalize → substring → ONE hash agg keyed by the
    prefix fingerprint (map-side combine); default fingerprint is the
    portable md5 (oracle-reproducible), pass xxhash64 at 100 TB."""
    fp = fingerprint_fn or (
        lambda c: F.md5(F.substring(normalized_text(c), 1, prefix_chars))
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .groupBy(fp(F.col(text_col)).alias("prefix_fp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(F.length(F.col(text_col))).cast("long").alias("min_len"),
            F.max(F.length(F.col(text_col))).cast("long").alias("max_len"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )
