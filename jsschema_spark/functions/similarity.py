"""Nearest-neighbor similarity search over an embedding column.

``brute_force_topk`` is the exact cosine top-k and the oracle for the
approximate paths, which share ONE index core. An index row is
``(vec_id, embedding, key)``; the key is a hyperplane-LSH bucket
(``_lsh_key``) or the nearest IVF centroid (``_ivf_key``), one
Arrow-batched matmul per batch (see linalg), coalesced to ``-1``. A query
batch expands to its probe keys (``_probes``: the base bucket and its
bit flips — n_planes+1 probes at ``probe_bits=1`` — or the ``nprobe``
nearest cells), is broadcast, equi-joined to the index on the key, scored
by cosine and ranked (``_probe_topk``). Its users:

* in memory — ``lsh_topk`` / ``ivf_topk`` key the corpus per call;
* persisted — ``lsh_build`` / ``ivf_build`` write the key-partitioned
  index once (``_write_index``), ``*_append`` key a new batch against the
  stored planes or centroids, ``*_search`` read only the probed key
  directories (``_probed``) and never touch the raw corpus;
* streaming — ``streaming._admit_embedding_batch`` probes the LSH index of
  the earlier micro-batches and appends the admitted rows to it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsschema_spark.functions.dedup import cosine
from jsschema_spark.functions.linalg import (
    hyperplane_bucket_v,
    hyperplanes,
    nearest_cell,
    nearest_cells,
)
from jsschema_spark.localdf import local_df

# brute_force_topk collects its query batch to the driver; a batch larger
# than this is an ANN workload (ivf_search / lsh_search), not a batch
_MAX_QUERY_ROWS = 10_000


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of ``(query_id, vec_id, cos)`` rows: ``rank`` by
    cosine descending, ties broken by the smaller ``vec_id``."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    corpus_id: str = "vec_id", query_id: str = "query_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, cos, rank). Queries are
    collected driver-side (a query BATCH is small by contract — same
    size class as the probe sets ivf/lsh_search collect) and scored
    against each corpus Arrow batch with one NumPy matmul; rows at or
    above the batch's k-th NumPy score minus 1e-9 are candidates — a
    provable superset of the exact batch top-k, since the exact Catalyst
    cosine differs from the float64 matmul by summation-order ulps only.
    Null/ragged rows are unioned in wholesale (they re-score to null and
    rank after every scored row, exactly as in the naive plan).
    Candidates are then re-scored with the SAME Catalyst ``cosine``
    expression and window as the naive cross join, so the output is
    bit-identical. The naive plan evaluated the interpreted cosine fold
    |corpus|·|queries| times (~2.3s at 20k×5, sf1.0 — vs ~0.5s).
    Raises ``ValueError`` for a batch over ``_MAX_QUERY_ROWS`` queries."""
    import numpy as np
    import pandas as pd

    qdf = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("qv"))
    qrows = qdf.limit(_MAX_QUERY_ROWS + 1).collect()
    if len(qrows) > _MAX_QUERY_ROWS:
        raise ValueError(
            f"brute_force_topk: more than {_MAX_QUERY_ROWS} queries; "
            "use ivf_search or lsh_search for large query sets"
        )
    if not qrows:
        c0 = corpus.select(F.col(corpus_id).alias("vec_id"))
        return (
            c0.limit(0)
            .withColumn("query_id", F.lit(None).cast("long"))
            .withColumn("cos", F.lit(None).cast("double"))
            .withColumn("rank", F.lit(None).cast("int"))
            .select("query_id", "vec_id", "cos", "rank")
        )
    dims = {len(r["qv"]) for r in qrows if r["qv"] is not None}
    c = corpus.select(F.col(corpus_id).alias("vec_id"), F.col(vec_col).alias("cv"))
    if len(dims) != 1 or any(r["qv"] is None for r in qrows):
        # degenerate query batch (null/ragged queries): keep the naive plan
        q = F.broadcast(qdf)
        scored = c.crossJoin(q).select(
            "query_id", "vec_id", cosine(F.col("cv"), F.col("qv")).alias("cos")
        )
        return _ranked(scored, k)

    d = dims.pop()
    qm = np.array([list(r["qv"]) for r in qrows], dtype=np.float64)
    qn = np.sqrt((qm * qm).sum(axis=1))
    np.divide(qm, qn[:, None], out=qm, where=qn[:, None] > 0)
    qids = [r["query_id"] for r in qrows]
    kk = int(k)

    def tops(batches):
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame({"vec_id": pd.Series(dtype="int64")})
                continue
            vs = pdf["cv"].tolist()
            good = np.array([v is not None and len(v) == d for v in vs])
            ids = pdf["vec_id"].to_numpy()
            out_ids = [ids[~good]]  # null/ragged: always candidates
            gi = ids[good]
            if len(gi):
                m = np.array([vs[i] for i in np.flatnonzero(good)], dtype=np.float64)
                nr = np.sqrt((m * m).sum(axis=1))
                np.divide(m, nr[:, None], out=m, where=nr[:, None] > 0)
                sim = m @ qm.T  # (n_good, n_queries)
                keep = np.zeros(len(gi), dtype=bool)
                for j in range(sim.shape[1]):
                    col = sim[:, j]
                    kth = (
                        np.partition(col, len(col) - kk)[len(col) - kk]
                        if len(col) > kk
                        else -np.inf
                    )
                    keep |= col >= kth - 1e-9
                out_ids.append(gi[keep])
            yield pd.DataFrame({"vec_id": np.concatenate(out_ids)})

    id_ddl = f"vec_id {c.schema['vec_id'].dataType.simpleString()}"
    cand = c.mapInPandas(tops, id_ddl).distinct()
    pruned = c.join(cand, "vec_id", "left_semi")
    q = F.broadcast(qdf)
    scored = pruned.crossJoin(q).select(
        "query_id", "vec_id", cosine(F.col("cv"), F.col("qv")).alias("cos")
    )
    return _ranked(scored, k)


# --------------------------------------------------------------------------
# the index core: keys, index rows, probes, the probe join, the index write

def _lsh_key(vec: Column, planes) -> Column:
    """Hyperplane-LSH bucket of ``vec``, ``-1`` for a null vector.

    coalesce(-1): a provably non-null join key, so the join's inferred
    isnotnull filter constant-folds away instead of being pushed below the
    projection — which would make the matmul UDF evaluate TWICE (once for
    the filter, once for the project). -1 is unreachable from any real
    bucket or its bit-flip probes, so null vectors match nothing; as a
    partition value it keeps the directory layout clean."""
    return F.coalesce(hyperplane_bucket_v(vec, planes), F.lit(-1).cast("long"))


def _ivf_key(vec: Column, cents: list[list[float]]) -> Column:
    """Nearest IVF cell of ``vec``, ``-1`` (never probed: real cells are
    >= 0) for a null vector — non-null for the reason given in
    ``_lsh_key``."""
    return F.coalesce(nearest_cell(vec, cents), F.lit(-1))


def _index_rows(df: DataFrame, id_col: str, vec_col: str, key: Column, key_col: str) -> DataFrame:
    """The index rows of ``df``: ``(vec_id, embedding, <key_col>)`` with
    ``key`` (an ``_lsh_key`` / ``_ivf_key`` column) as the key."""
    return df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"), key.alias(key_col)
    )


def _probes(queries: DataFrame, query_id: str, vec_col: str, key: str, probe_keys: Column) -> DataFrame:
    """One ``(query_id, qv, <key>)`` row per query and probed key, from
    the ``probe_keys`` array column."""
    return queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(probe_keys).alias(key),
    )


def _probed(index: DataFrame, probes: DataFrame, key: str) -> DataFrame:
    """A persisted ``index`` cut to the keys ``probes`` holds. The probed
    key set is tiny (≤ |queries|·probes ints): it is collected and pushed
    into the index scan as a STATIC partition filter, so only the probed
    key directories are read (provable in-plan as PartitionFilters;
    runtime DPP does not fire through the Generate+UDF build side)."""
    keys = sorted({r[key] for r in probes.select(key).distinct().collect()})
    return index.where(F.col(key).isin(keys))


def _probe_topk(index: DataFrame, probes: DataFrame, key: str, k: int) -> DataFrame:
    """Top-k of each query over the index rows sharing one of its probe
    keys: broadcast equi-join on the key, cosine, one row per (query,
    vector) however many probes hit it, then ``_ranked``."""
    cands = index.select("vec_id", F.col("embedding").alias("cv"), key)
    scored = cands.join(F.broadcast(probes), key).select(
        "query_id", "vec_id", cosine(F.col("cv"), F.col("qv")).alias("cos")
    )
    return _ranked(scored.dropDuplicates(["query_id", "vec_id"]), k)


def _write_index(rows: DataFrame, path: str, key: str, mode: str) -> None:
    """Write index rows partitioned by ``key`` with ``mode``.

    Hash-repartition on the partition column BEFORE the dynamic-partition
    write: without it every write task emits a file per key it sees
    (#tasks × #keys small files — at 10^12 rows, millions); with it each
    key lands in exactly one task, so one write adds one file per key (an
    oversized key splits via spark.sql.files.maxRecordsPerFile, not task
    fan-out). The explicit numPartitions matters: a bare repartition(key)
    is AQE-coalescible, and at bench scale the byte-tiny shuffle collapsed
    to ONE task writing every key file sequentially (~4s of pure file ops,
    zero CPU); REPARTITION_BY_NUM keeps the write parallel while
    preserving the one-task-per-key file bound."""
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism, key).write.mode(
        mode
    ).partitionBy(key).parquet(path)


def _lsh_meta(spark: SparkSession, path: str) -> tuple[int, int, int]:
    """``(dim, n_planes, seed)`` from the ``_meta`` sidecar of the LSH
    index at ``path``; raises ``AnalysisException`` when there is none."""
    m = spark.read.parquet(f"{path}/_meta").collect()[0]
    return m["dim"], m["n_planes"], m["seed"]


def _write_lsh_meta(spark: SparkSession, path: str, dim: int, n_planes: int, seed: int) -> None:
    """Write the ``_meta`` sidecar: the planes are deterministic from the
    seed, so three ints are the whole LSH index parameter set."""
    local_df(
        spark, [(dim, n_planes, seed)], "dim int, n_planes int, seed int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_meta")


def _multi_probe(base, n_planes: int, probe_bits: int = 1):
    """Bucket id + all ≤``probe_bits``-bit-flip probes (``Σ C(n_planes,b)``
    + 1 bucket candidates; probe_bits=1 → the classic n_planes+1 single-flip
    set). Bitwise expansion of an already-computed base bucket — the float
    work (one matmul per Arrow batch) happens exactly once per vector."""
    from itertools import combinations

    masks: list[int] = []
    for b in range(1, int(probe_bits) + 1):
        for combo in combinations(range(n_planes), b):
            m = 0
            for p in combo:
                m |= 1 << p
            masks.append(m)
    return F.array(
        base, *[base.bitwiseXOR(F.lit(m).cast("long")) for m in masks]
    )


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, dim: int = 64,
    n_planes: int = 8, seed: int = 42,
    corpus_id: str = "vec_id", query_id: str = "query_id", vec_col: str = "embedding",
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose hyperplane bucket
    matches the query's bucket or any ≤``probe_bits``-bit probe of it.
    Buckets on both sides come from the same Arrow-batched matmul (see
    linalg), so an identical vector provably lands in its query's own
    bucket.

    CONTRACT (measured, COVERAGE.md recall table): at the default
    ``probe_bits=1`` this is a HIGH-COSINE CANDIDATE PROBE, not a top-k
    retriever — recall@10 on a clustered corpus is 0.344 at n_planes=6
    because moderate-cosine true neighbors routinely differ in >1
    hyperplane bit. ``probe_bits=2`` probes all 2-bit flips too
    (1+n+C(n,2) buckets) and lifts recall@10 to 0.652 at n_planes=6 for
    ~3× the candidate fan-out (measured, test_ann_recall_graded). For
    actual retrieval use ``ivf_search``
    over a trained index (recall@10 0.99 at nprobe=4) — LSH's job in this
    engine is near-dup candidate generation at cosine ≥ ~0.99."""
    planes = hyperplanes(dim, n_planes, seed)
    index = _index_rows(corpus, corpus_id, vec_col, _lsh_key(F.col(vec_col), planes), "bucket")
    probes = _probes(
        queries, query_id, vec_col, "bucket",
        _multi_probe(hyperplane_bucket_v(F.col(vec_col), planes), n_planes, probe_bits),
    )
    return _probe_topk(index, probes, "bucket", k)


def ivf_train(
    corpus: DataFrame, n_centroids: int = 16, iters: int = 2, seed: int = 42,
    corpus_id: str = "vec_id", vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means centroids for the IVF index: deterministic
    hash-ordered corpus sample as init, then ``iters`` Lloyd rounds —
    assign each vector to its max-dot centroid (one scan, codegen), new
    centroid = per-dimension mean of the cell (posexplode → groupBy(cell,
    dim).avg — map-side combined, n_centroids×dim tiny rows cross the
    shuffle), L2-normalized so max-dot ordering == cosine ordering.

    Driver holds only the centroid matrix (n_centroids × dim floats);
    every heavy step is a distributed scan/aggregate. Refined cells cut
    the probe fan-out a query needs for a given recall versus sampled
    centroids."""
    import math

    sample = _ivf_centroids(corpus, n_centroids, seed, corpus_id, vec_col, None)
    if not sample:
        raise ValueError("ivf_train: empty corpus")
    # a corpus smaller than n_centroids can only seed len(sample) clusters
    n_centroids = len(sample)

    def normalize(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    cents = [normalize(c) for c in sample]
    v = F.col(vec_col)
    for _ in range(max(0, iters)):
        # assignment: one Arrow-batched matmul per batch (see linalg) —
        # replaces the n_centroids interpreted HOF dot folds per row
        assigned = corpus.select(
            nearest_cell(v, cents).alias("cell"), v.alias("__v")
        ).select("cell", F.posexplode("__v").alias("dim", "val"))
        means = (
            assigned.groupBy("cell", "dim")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["dim"]] = float(r["m"])
        dim = len(cents[0])
        cents = [
            normalize([by_cell[i].get(d, 0.0) for d in range(dim)]) if i in by_cell else cents[i]
            for i in range(n_centroids)
        ]
    return cents


def _ivf_centroids(
    corpus: DataFrame, n_centroids: int, seed: int,
    corpus_id: str, vec_col: str,
    centroids: "list[list[float]] | None",
) -> list[list[float]]:
    """Trained centroids if given, else a deterministic hash-ordered corpus
    sample (driver holds only n_centroids × dim floats)."""
    if centroids is not None:
        return [[float(x) for x in c] for c in centroids]
    return [
        [float(x) for x in r[0]]
        for r in corpus.select(vec_col)
        .orderBy(F.xxhash64(F.col(corpus_id), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    ]


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, n_centroids: int = 16,
    nprobe: int = 4, seed: int = 42,
    corpus_id: str = "vec_id", query_id: str = "query_id", vec_col: str = "embedding",
    centroids: "list[list[float]] | None" = None,
) -> DataFrame:
    """IVF: deterministic sample of the corpus as centroids (or pass the
    ``ivf_train`` spherical-k-means refinement via ``centroids``); corpus
    rows assigned to the nearest centroid (one scan, one Arrow-batched
    matmul per batch); queries probe the nprobe nearest centroid cells.
    For repeated querying persist the assignment once with ``ivf_build``
    and search it with ``ivf_search`` (no re-assignment scan)."""
    cents = _ivf_centroids(corpus, n_centroids, seed, corpus_id, vec_col, centroids)
    index = _index_rows(corpus, corpus_id, vec_col, _ivf_key(F.col(vec_col), cents), "cell")
    probes = _probes(queries, query_id, vec_col, "cell", nearest_cells(F.col(vec_col), cents, nprobe))
    return _probe_topk(index, probes, "cell", k)


# --------------------------------------------------------------------------
# persisted ANN indexes — build once, search many times
#
# The expensive half of both approximate paths is the corpus-side
# assignment (cell / bucket of every vector). A real user queries an index
# repeatedly; recomputing the assignment per query batch wastes a full
# corpus scan + matmul each time. ``*_build`` writes the assignment ONCE as
# a cell/bucket-partitioned parquet table (``_write_index``: a search that
# probes p keys reads exactly p directories — partition pruning, no full
# scan), with the index parameters in an underscore-prefixed sidecar
# (`_centroids` / `_meta`) that Spark's file index ignores when reading the
# main table. ``*_search`` never touches the raw corpus: its only
# vectorized work is on the (tiny, broadcast) query batch.

def ivf_build(
    corpus: DataFrame, path: str, n_centroids: int = 16, iters: int = 2,
    seed: int = 42, corpus_id: str = "vec_id", vec_col: str = "embedding",
    train: bool = True,
) -> list[list[float]]:
    """Build and persist an IVF index at ``path``: spherical-k-means
    centroids (``train=False`` skips Lloyd refinement and uses the seeded
    sample), then one corpus scan writing ``(vec_id, embedding, cell)``
    partitioned by cell. Returns the centroid matrix."""
    spark = corpus.sparkSession
    cents = (
        ivf_train(corpus, n_centroids, iters, seed, corpus_id, vec_col)
        if train
        else _ivf_centroids(corpus, n_centroids, seed, corpus_id, vec_col, None)
    )
    rows = _index_rows(corpus, corpus_id, vec_col, _ivf_key(F.col(vec_col), cents), "cell")
    _write_index(rows, path, "cell", "overwrite")
    local_df(
        spark, [(i, list(c)) for i, c in enumerate(cents)],
        "cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")
    return cents


def ivf_append(new_vectors: DataFrame, path: str,
               corpus_id: str = "vec_id", vec_col: str = "embedding") -> None:
    """Admit a new vector batch into an existing IVF index: assign against
    the STORED centroids (one matmul per Arrow batch over the new rows
    only) and append into the cell partitions — the existing corpus is
    never rescanned. Centroids are frozen at build time; retrain with
    ``ivf_build`` when drift degrades cell balance."""
    cents = ivf_load_centroids(new_vectors.sparkSession, path)
    rows = _index_rows(new_vectors, corpus_id, vec_col, _ivf_key(F.col(vec_col), cents), "cell")
    _write_index(rows, path, "cell", "append")


def ivf_load_centroids(spark: SparkSession, path: str) -> list[list[float]]:
    rows = spark.read.parquet(f"{path}/_centroids").orderBy("cid").collect()
    return [[float(x) for x in r["centroid"]] for r in rows]


def ivf_search(
    queries: DataFrame, path: str, k: int = 10, nprobe: int = 4,
    query_id: str = "query_id", vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a persisted IVF index: probe the ``nprobe`` nearest
    cells per query (query-batch matmul only — the corpus assignment is
    read back, never recomputed) and score within the probed partitions."""
    spark = queries.sparkSession
    cents = ivf_load_centroids(spark, path)
    probes = _probes(queries, query_id, vec_col, "cell", nearest_cells(F.col(vec_col), cents, nprobe))
    return _probe_topk(_probed(spark.read.parquet(path), probes, "cell"), probes, "cell", k)


def lsh_build(
    corpus: DataFrame, path: str, dim: int = 64, n_planes: int = 8,
    seed: int = 42, corpus_id: str = "vec_id", vec_col: str = "embedding",
) -> None:
    """Persist a hyperplane-LSH index: ``(vec_id, embedding, bucket)``
    partitioned by bucket, plus a ``_meta`` sidecar carrying (dim,
    n_planes, seed)."""
    planes = hyperplanes(dim, n_planes, seed)
    rows = _index_rows(corpus, corpus_id, vec_col, _lsh_key(F.col(vec_col), planes), "bucket")
    _write_index(rows, path, "bucket", "overwrite")
    _write_lsh_meta(corpus.sparkSession, path, dim, n_planes, seed)


def lsh_append(new_vectors: DataFrame, path: str,
               corpus_id: str = "vec_id", vec_col: str = "embedding") -> None:
    """Admit a new vector batch into a persisted LSH index: bucket against
    the stored plane parameters (new rows only) and append into the bucket
    partitions — mirror of ``ivf_append``."""
    planes = hyperplanes(*_lsh_meta(new_vectors.sparkSession, path))
    rows = _index_rows(new_vectors, corpus_id, vec_col, _lsh_key(F.col(vec_col), planes), "bucket")
    _write_index(rows, path, "bucket", "append")


def lsh_search(
    queries: DataFrame, path: str, k: int = 10,
    query_id: str = "query_id", vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a persisted LSH index (multi-probe: base bucket + all
    1-bit flips). Only the query batch is projected; probed buckets map to
    index partitions."""
    spark = queries.sparkSession
    dim, n_planes, seed = _lsh_meta(spark, path)
    planes = hyperplanes(dim, n_planes, seed)
    probes = _probes(
        queries, query_id, vec_col, "bucket",
        _multi_probe(hyperplane_bucket_v(F.col(vec_col), planes), n_planes),
    )
    return _probe_topk(_probed(spark.read.parquet(path), probes, "bucket"), probes, "bucket", k)


def mean_pool(
    df: DataFrame, group_col: str, vec_col: str = "embedding",
    out_col: str = "embedding",
) -> DataFrame:
    """Per-group mean vector — the pooling primitive (document embedding
    from chunk embeddings, label/cluster centroids). Null vectors are
    skipped; a group of only nulls disappears.

    Scale shape: posexplode → ONE map-side-combined average keyed by
    (group, dim) — shuffle width = #groups × dim, never #vectors — then a
    per-group rebuild of the array by sorting the dim-tagged structs
    (``array_sort`` on (dim, mean): dims are unique per group, so the
    rebuild is deterministic). No windows, no driver collect, no Python."""
    exploded = df.where(F.col(vec_col).isNotNull()).select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("__dim", "__val")
    )
    means = exploded.groupBy(group_col, "__dim").agg(
        F.avg(F.col("__val").cast("double")).alias("__m")
    )
    return means.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__dim", "__m"))),
            lambda s: s["__m"],
        ).alias(out_col)
    )


def centroid_drift(
    df_ref: DataFrame,
    df_cur: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label, per-dimension centroid shift between two embedding
    populations — the EMBEDDING-space sibling of the numeric drift
    family: a re-embedded corpus, a model swap, or a poisoned feed moves
    class centroids long before individual-vector checks fire. Output is
    LONG FORM, one row per ``(label, dim)``: both means and the delta;
    ``sqrt(sum(delta²)) GROUP BY label`` is the per-label L2 shift a
    monitor thresholds, and the per-dim rows localize WHICH components
    moved.

    Scale shape: posexplode → ONE map-side-combined (label, dim) average
    per side — shuffle width = #labels × dim, never #vectors — then a
    (#labels × dim)-row join. Labels present on only one side drop (no
    drift is computable); null vectors are skipped."""
    def side(df: DataFrame, out: str) -> DataFrame:
        return (
            df.where(F.col(vec_col).isNotNull())
            .select(F.col(label_col).alias("label"),
                    F.posexplode(F.col(vec_col)).alias("dim", "__v"))
            .groupBy("label", "dim")
            .agg(F.avg(F.col("__v").cast("double")).alias(out))
        )

    r = side(df_ref, "mean_ref")
    c = side(df_cur, "mean_cur")
    return r.join(c, ["label", "dim"]).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        "mean_ref",
        "mean_cur",
        (F.col("mean_cur") - F.col("mean_ref")).alias("delta"),
    )
