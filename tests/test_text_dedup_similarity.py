"""Training-data operators over the driver's documents/embeddings tables."""

import pytest
from pyspark.sql import functions as F

from jsschema_spark.functions import dedup as D
from jsschema_spark.functions import similarity as S
from jsschema_spark.functions import text as X
from jsschema_spark.functions.multimodal import extract_media_features, frame_sample_plan

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    df.count()
    yield df
    df.unpersist()


# ---------------------------------------------------------------- text ops

def test_token_count_matches_python(spark, docs):
    rows = docs.select("doc_id", "text", X.token_count(F.col("text")).alias("n")).collect()
    for r in rows[:100]:
        expected = len(r.text.split()) if r.text and r.text.strip() else 0
        assert r.n == expected, (r.doc_id, r.n, expected)


def test_token_count_edge_cases(spark):
    df = spark.createDataFrame([("",), ("   ",), ("one",), ("a  b\t c",)], "t string")
    out = [r.n for r in df.select(X.token_count(F.col("t")).alias("n")).collect()]
    assert out == [0, 0, 1, 3]


def test_quality_and_ratios(spark, docs):
    out = docs.select(
        X.quality_score(F.col("text")).alias("q"),
        X.punct_ratio(F.col("text")).alias("p"),
        X.alpha_ratio(F.col("text")).alias("a"),
        X.stopword_ratio(F.col("text")).alias("s"),
    ).agg(
        F.min("q"), F.max("q"), F.max("p"), F.min("a"), F.avg("s")
    ).collect()[0]
    assert 0.0 <= out[0] <= out[1] <= 1.0
    assert 0.0 <= out[2] <= 1.0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and the dog", "en"),
            ("der Hund und die Katze ist nicht da", "de"),
            ("le chat est sur la table et les chiens", "fr"),
            ("el perro es una mascota para los gatos", "es"),
            ("xyzzy qwerty 12345", "und"),
        ],
        "t string, expect string",
    )
    out = df.select("expect", X.lang_id(F.col("t")).alias("got")).collect()
    for r in out:
        assert r.got == r.expect, r


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello,   World!",), ("hello world",), ("different text",)], "t string"
    )
    fps = [r.f for r in df.select(X.content_fingerprint(F.col("t")).alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_subword_estimate(spark):
    df = spark.createDataFrame([("short text here",), ("internationalization",)], "t string")
    out = [r.n for r in df.select(X.subword_token_estimate(F.col("t")).alias("n")).collect()]
    assert out[0] == 4  # ceil(5/4)+ceil(4/4)+ceil(4/4)
    assert out[1] == 5  # ceil(20/4)


# ---------------------------------------------------------------- dedup

@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    # inject exact + near duplicates deterministically
    base = docs.select("doc_id", "text")
    exact = base.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    near = base.where(F.col("doc_id") % 71 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing token")).alias("text"),
    )
    df = base.unionByName(exact).unionByName(near).cache()
    df.count()
    yield df
    df.unpersist()


def test_exact_duplicates(spark, docs_with_dups):
    groups = D.exact_duplicate_groups(docs_with_dups, "text", "doc_id").collect()
    injected = {r.doc_ids[0] for r in groups if len(r.doc_ids) == 2 and r.doc_ids[1] >= 1_000_000}
    assert len(injected) >= 8  # ~500/50 injected exact dups
    deduped = D.exact_dedup(docs_with_dups, "text", "doc_id")
    n_groups_extra = sum(len(r.doc_ids) - 1 for r in groups)
    assert deduped.count() == docs_with_dups.count() - n_groups_extra


def test_minhash_lsh_near_dups(spark, docs_with_dups):
    found = D.near_duplicates_minhash(
        docs_with_dups, "doc_id", "text", num_hashes=64, bands=16, threshold=0.7
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in found}
    # every injected near-dup (append 1 token ⇒ Jaccard ~ (n-2)/(n+1) for
    # 3-shingles of long docs) should be caught
    injected = {
        (r.doc_id, r.doc_id + 2_000_000)
        for r in docs_with_dups.where(
            (F.col("doc_id") % 71 == 0) & (F.col("doc_id") < 1_000_000)
            & (X.token_count(F.col("text")) > 30)
        ).collect()
    }
    missed = injected - pairs
    assert len(missed) <= max(1, len(injected) // 10), f"LSH missed {missed}"
    # verification step keeps jaccard ≥ threshold only
    assert all(r.jaccard >= 0.7 for r in found)


def test_simhash_near_dups(spark, docs_with_dups):
    sh_pairs = D.simhash_near_dups(docs_with_dups, "doc_id", "text", max_hamming=3).collect()
    pairs = {(r.id_a, r.id_b) for r in sh_pairs}
    # exact dups have identical simhash (hamming 0) — all must be found
    exact_injected = {
        (r.doc_id, r.doc_id + 1_000_000)
        for r in docs_with_dups.where((F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 1_000_000)).collect()
    }
    assert exact_injected <= pairs
    assert all(r.hamming <= 3 for r in sh_pairs)


def test_simhash_is_deterministic_and_64bit(spark):
    df = spark.createDataFrame([("the quick brown fox",), ("the quick brown fox",)], "t string")
    vals = [r.s for r in df.select(D.simhash(F.col("t")).alias("s")).collect()]
    assert vals[0] == vals[1]
    assert isinstance(vals[0], int)


def test_embedding_near_dups_lsh_vs_brute(spark, emb):
    dim = len(emb.select("embedding").first()[0])
    brute = {
        (r.id_a, r.id_b)
        for r in D.embedding_brute_force_pairs(emb, "vec_id", "embedding", threshold=0.99).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in D.embedding_near_dups(
            emb, "vec_id", "embedding", dim, threshold=0.99, n_planes=8
        ).collect()
    }
    assert lsh <= brute  # no false positives (cosine verified)
    if brute:
        assert len(lsh) >= len(brute) * 0.5  # LSH recall at 0.99 cosine


# ---------------------------------------------------------------- similarity

def test_brute_force_topk(spark, emb):
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.brute_force_topk(emb, queries, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        # rank 1 is the query itself (cosine 1.0)
        assert rs[0].vec_id == qid and rs[0].cos > 0.9999
        assert all(rs[i].cos >= rs[i + 1].cos - 1e-12 for i in range(len(rs) - 1))


def test_brute_force_topk_caps_query_batch(spark, emb, monkeypatch):
    """The query batch is collected to the driver: one row over the cap is
    refused with a pointer to the ANN paths; a batch at the cap runs."""
    monkeypatch.setattr(S, "_MAX_QUERY_ROWS", 3)
    at_cap = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    assert S.brute_force_topk(emb, at_cap, k=2).count() == 6
    over = emb.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="ivf_search or lsh_search"):
        S.brute_force_topk(emb, over, k=2)


def test_lsh_topk_recall(spark, emb):
    dim = len(emb.select("embedding").first()[0])
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = S.brute_force_topk(emb, queries, k=3).collect()
    approx = S.lsh_topk(emb, queries, k=3, dim=dim, n_planes=6).collect()
    exact_top1 = {r.query_id: r.vec_id for r in exact if r.rank == 1}
    approx_top1 = {r.query_id: r.vec_id for r in approx if r.rank == 1}
    # self-match must always be found (identical bucket)
    assert approx_top1 == exact_top1


def test_ivf_topk(spark, emb):
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=4).collect()
    top1 = {r.query_id: (r.vec_id, r.cos) for r in out if r.rank == 1}
    for qid, (vid, cos) in top1.items():
        assert vid == qid and cos > 0.9999  # self always in its own cell


# ---------------------------------------------------------------- multimodal

def test_media_features_and_frame_plan(spark):
    df = spark.createDataFrame(
        [(1, b"\x00" * 100), (2, bytes(range(256)) * 4), (3, None)],
        "id long, payload binary",
    )
    feats = {r.id: r for r in extract_media_features(df, "id", "payload").collect()}
    assert feats[1].byte_entropy == 0.0  # constant bytes
    assert feats[2].byte_entropy == 4.0  # uniform over 16 bins
    assert feats[3].byte_entropy == 0.0
    assert len(feats[2].byte_histogram) == 16

    vids = spark.createDataFrame([(1, 100), (2, 10)], "id long, n_frames int")
    plan = frame_sample_plan(vids, "id", "n_frames", every_n=30).collect()
    assert {(r.id, r.frame_idx) for r in plan} == {(1, 0), (1, 30), (1, 60), (1, 90), (2, 0)}

    from jsschema_spark.functions.multimodal import real_image_decode
    with pytest.raises(NotImplementedError):
        real_image_decode(b"\xff\xd8\xff")


# ------------------------------------------------- hot-bucket skew control

def test_hot_bucket_cap_bounds_pair_count(spark):
    """Adversarial corpus: 4k identical docs would make every LSH band
    bucket quadratic (4k² ≈ 16M pairs per band). With the cap, oversize
    buckets chain consecutively: pair count stays O(n), and the duplicate
    group remains a single connected component."""
    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate legal disclaimer text repeated verbatim "
              "across every crawled page of the site").alias("text"),
    )
    pairs = D.minhash_lsh_pairs(df, "doc_id", "text", max_bucket_size=500)
    n_pairs = pairs.count()
    # chained: ≤ n-1 distinct consecutive pairs (same pair from all 16 bands
    # collapses in the distinct), never the ~8M of all-pairs
    assert 0 < n_pairs <= n - 1
    # connectivity: consecutive chaining links every doc transitively
    ids = pairs.select(F.col("id_a").alias("i")).unionByName(
        pairs.select(F.col("id_b").alias("i"))
    ).distinct().count()
    assert ids == n


def test_hot_bucket_small_buckets_still_all_pairs(spark, docs_with_dups):
    """Capped and uncapped runs agree when no bucket exceeds the cap."""
    capped = D.minhash_lsh_pairs(docs_with_dups, "doc_id", "text", max_bucket_size=500)
    uncapped = D.minhash_lsh_pairs(docs_with_dups, "doc_id", "text", max_bucket_size=10**9)
    assert capped.exceptAll(uncapped).count() == 0
    assert uncapped.exceptAll(capped).count() == 0


def test_simhash_hot_bucket_cap(spark):
    n = 3000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("identical doc body for simhash").alias("text")
    )
    pairs = D.simhash_near_dups(df, "doc_id", "text", max_hamming=3, max_bucket_size=300)
    n_pairs = pairs.count()
    assert 0 < n_pairs <= n - 1  # identical docs: hamming 0, chained pairs only


def test_portable_simhash_matches_duckdb(spark):
    """The md5-based portable simhash (oracle mode) reproduces bit-for-bit
    in DuckDB SQL — the parity the driver's oracle gate relies on."""
    import duckdb

    rows = [(0, "alpha beta gamma"), (1, "Alpha, beta; GAMMA!"), (2, "one two three four")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id",
            D.simhash(F.col("text"), n_bits=60, hash_fn=D.portable_hash64).alias("sh"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    oracle = dict(
        con.execute(
            """
            WITH n AS (
              SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
              FROM docs
            ), u AS (
              SELECT doc_id, unnest(regexp_split_to_array(norm, ' ')) AS tok FROM n
            ), h AS (
              SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hv FROM u
            ), b AS (
              SELECT doc_id, bit,
                     sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM h, (SELECT unnest(range(60)) AS bit) GROUP BY doc_id, bit
            )
            SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT
            FROM b GROUP BY doc_id
            """
        ).fetchall()
    )
    assert got == oracle
    # normalization folds case/punct: rows 0 and 1 hash identically
    assert got[0] == got[1] != got[2]


def test_simhash_values_matches_column_formulation(spark, docs):
    col = docs.where(F.col("text").isNotNull()).select(
        "doc_id", D.simhash(F.col("text")).alias("sh")
    )
    dfv = D.simhash_values(docs, "doc_id", "text")
    assert col.exceptAll(dfv).count() == 0
    assert dfv.exceptAll(col).count() == 0


def test_minhash_signatures_matches_column_formulation(spark, docs):
    col = docs.select(
        "doc_id", D.minhash_signature(F.col("text")).alias("sig")
    ).where(F.col("sig").isNotNull())
    dfv = D.minhash_signatures(docs, "doc_id", "text")
    assert col.exceptAll(dfv).count() == 0
    assert dfv.exceptAll(col).count() == 0


# -------------------------------------------- near-dup group formation

def _union_find_groups(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_chain_and_islands(spark):
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.group_id for r in D.connected_components(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_path_pointer_jumping(spark):
    """A 400-node path (what consecutive-pair chaining emits for a
    degenerate bucket): plain min-propagation needs 400 rounds; pointer
    jumping must converge within the default 30."""
    n = 400
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    out = D.connected_components(pairs).collect()
    assert len(out) == n
    assert all(r.group_id == 0 for r in out)


def test_connected_components_random_graph_matches_union_find(spark):
    import numpy as np

    rng = np.random.default_rng(123)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 300, size=(250, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.group_id for r in D.connected_components(pairs).collect()}
    assert got == _union_find_groups(edges)


def test_keep_canonical(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    groups = D.connected_components(pairs)
    df = spark.range(10).select(F.col("id").alias("doc_id"), F.lit("t").alias("text"))
    kept = sorted(r.doc_id for r in D.keep_canonical(df, groups, "doc_id").collect())
    # 2, 3 (group of 1) and 8 (group of 7) dropped; singletons kept
    assert kept == [0, 1, 4, 5, 6, 7, 9]


def test_minhash_pairs_to_groups_end_to_end(spark, docs):
    """Dedup pipeline story: LSH pairs -> verified pairs -> transitive
    groups -> canonical survivors. Two injected variant families of the
    same base doc must collapse into one group with the base id."""
    base = docs.select("doc_id", "text").where(F.col("doc_id") < 200)
    v1 = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail one")).alias("text"),
    )
    v2 = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail one two")).alias("text"),
    )
    df = base.unionByName(v1).unionByName(v2)
    pairs = D.near_duplicates_minhash(df, "doc_id", "text", threshold=0.7)
    groups = D.connected_components(pairs)
    label = {r.doc_id: r.group_id for r in groups.collect()}
    for d in range(0, 200, 10):
        # base + both variants transitively in ONE group (organic near-dups
        # of the base may merge in too — the group id is ≤ the base id)
        assert label.get(d) is not None and label[d] == label[d + 1000] == label[d + 2000], d
        assert label[d] <= d
    survivors = D.keep_canonical(df, groups, "doc_id")
    ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    # variants are never canonical (their base always has a smaller id)
    assert all(d + 1000 not in ids and d + 2000 not in ids for d in range(0, 200, 10))
    # exactly one survivor per group
    assert all((g in ids) == (g == label[g]) for g in set(label.values()))


def test_bpe_token_count_reference_merges(spark):
    """Classic BPE example: merges learned over {low, lower, newest, widest}
    — verify counts against hand-applied merges on fixed strings."""
    merges = [
        ("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"),
        ("n", "e"), ("ne", "w"), ("new", "est"), ("w", "i"),
        ("wi", "d"), ("wid", "est"), ("low", "e"), ("lowe", "r"),
    ]
    df = spark.createDataFrame(
        [
            (1, "low"),          # low -> 1
            (2, "lower"),        # lowe+r -> lower? merges: low,e->lowe; lowe,r->lower -> 1
            (3, "newest"),       # new+est -> newest? (new,est) rank 6 -> 1
            (4, "widest"),       # wid+est -> (wid,est) -> 1
            (5, "lowest"),       # low + est -> no (low,est) merge -> 2
            (6, "xyz"),          # no merges apply -> 3
            (7, "low lower xyz"),  # 1 + 1 + 3 = 5
            (8, ""),             # 0
            (9, None),           # null text -> 0
        ],
        "id long, text string",
    )
    from jsschema_spark.functions.text import bpe_token_count

    out = {r.id: r.n_bpe_tokens for r in bpe_token_count(df, "text", merges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 6: 3, 7: 5, 8: 0, 9: 0}


def test_hot_bucket_two_phase_plan_shape(spark, docs):
    """Bucket-size detection must be groupBy+broadcast (map-side combined
    counts, over-cap keys broadcast back), NOT a COUNT window over the full
    banded stream — a window would funnel every row of a degenerate bucket
    through one reducer just to count it."""
    pairs = D.minhash_lsh_pairs(docs.limit(300), "doc_id", "text", max_bucket_size=50)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the over-cap key tag arrives via a broadcast join
    assert "BroadcastHashJoin" in plan
    # exactly one Window remains: the consecutive-pair chain over the
    # (filtered) over-cap rows — counting itself must not window
    assert plan.count("Window") <= 1


def test_connected_components_property_random_graphs(spark):
    """Property: Spark CC == union-find on arbitrary graphs (hypothesis)."""
    from hypothesis import given, settings, strategies as st

    edge = st.tuples(st.integers(0, 60), st.integers(0, 60))

    @settings(max_examples=5, deadline=None)
    @given(st.lists(edge, min_size=1, max_size=80))
    def check(edges):
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.doc_id: r.group_id for r in D.connected_components(pairs).collect()}
        assert got == _union_find_groups(edges)

    check()


def test_ivf_train_refines_centroids(spark, emb):
    cents = S.ivf_train(emb, n_centroids=8, iters=2)
    assert len(cents) == 8 and len(cents[0]) == len(emb.select("embedding").first()[0])
    import math
    for c in cents:
        assert math.isclose(math.sqrt(sum(x * x for x in c)), 1.0, rel_tol=1e-9)
    # trained centroids plug into ivf_topk and self-match still holds
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=4, centroids=cents).collect()
    top1 = {r.query_id: r.vec_id for r in out if r.rank == 1}
    assert top1 == {q: q for q in top1}


# ------------------------------------------------------- persisted ANN index

def test_ivf_build_search_matches_inline_and_prunes(spark, emb, tmp_path):
    """ivf_search over a persisted index returns the same self-match result
    as inline ivf_topk, its plan reads ONLY the probed cell partitions
    (static PartitionFilters), and the index scan has no Python stage —
    the corpus assignment is reused, never recomputed."""
    path = str(tmp_path / "ivf")
    cents = S.ivf_build(emb, path, n_centroids=8, iters=1)
    assert len(cents) == 8

    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.ivf_search(queries, path, k=3, nprobe=4)
    rows = out.collect()
    top1 = {r.query_id: r.vec_id for r in rows if r.rank == 1}
    assert top1 == {q: q for q in top1}

    inline = S.ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=4, centroids=cents)
    assert sorted((r.query_id, r.vec_id, r.rank) for r in rows) == sorted(
        (r.query_id, r.vec_id, r.rank) for r in inline.collect()
    )

    # AQE prints "== Final Plan ==" followed by "== Initial Plan ==" — assert
    # on the final section only
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    # index scan: partition-pruned on cell, and fed by no Python eval
    scan_lines = [l for l in plan.splitlines() if path.split("/")[-1] in l and "FileScan" in l]
    assert scan_lines and all("cell#" in l and "PartitionFilters: [" in l for l in scan_lines), plan
    assert all("cell IN" in l or "cell#" in l.split("PartitionFilters:")[1] for l in scan_lines)
    # exactly one Arrow stage: the query-batch probe
    assert plan.count("ArrowEvalPython") == 1, plan


def test_lsh_build_search_self_match_and_prunes(spark, emb, tmp_path):
    path = str(tmp_path / "lsh")
    S.lsh_build(emb, path, dim=64, n_planes=8)
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.lsh_search(queries, path, k=3)
    rows = out.collect()
    top1 = {r.query_id: r.vec_id for r in rows if r.rank == 1}
    assert top1 == {q: q for q in top1}
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("ArrowEvalPython") == 1, plan
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l and path.split("/")[-1] in l]
    assert scan_lines and all("PartitionFilters: [" in l for l in scan_lines), plan


# ----------------------------------------------------- multi-seed LSH recall

def _near_identical_corpus(spark, emb, n_base=150, seed=9):
    """Pairs of NEAR- (not exact-) identical vectors: each base vector v is
    paired with a copy rotated by an exact angle θ (cos θ drawn in
    [0.9955, 0.9995]) in a random plane through v. cosine(v, w) == cos θ
    by construction — comfortably above a 0.995 threshold — but each
    hyperplane flips sign with probability ≈ θ/π, so single-seed LSH
    recall is < 1 by construction."""
    import numpy as np

    rows = emb.limit(n_base).collect()
    rng = np.random.default_rng(seed)
    data = []
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        nv = np.linalg.norm(v)
        vn = v / nv
        u = rng.standard_normal(len(v))
        u -= (u @ vn) * vn
        u /= np.linalg.norm(u)
        ct = rng.uniform(0.9955, 0.9995)
        w = nv * (ct * vn + np.sqrt(1 - ct * ct) * u)
        data.append((int(r.vec_id), [float(x) for x in v]))
        data.append((int(r.vec_id) + 1_000_000, [float(x) for x in w]))
    return spark.createDataFrame(data, "vec_id long, embedding array<double>")


def test_multiseed_lsh_union_improves_recall(spark, emb):
    df = _near_identical_corpus(spark, emb)
    thr = 0.995
    brute = {
        (r.id_a, r.id_b)
        for r in D.embedding_brute_force_pairs(df, "vec_id", "embedding", threshold=thr).collect()
    }
    assert len(brute) >= 100  # the construction produced verifiable near-dups
    single = {
        (r.id_a, r.id_b)
        for r in D.embedding_near_dups(
            df, "vec_id", "embedding", 64, threshold=thr, n_planes=12, seed=42
        ).collect()
    }
    multi = {
        (r.id_a, r.id_b)
        for r in D.embedding_near_dups_multiseed(
            df, "vec_id", "embedding", 64, threshold=thr, n_planes=12,
            seeds=(42, 1042, 2042),
        ).collect()
    }
    assert single <= brute and multi <= brute
    r_single = len(single) / len(brute)
    r_multi = len(multi) / len(brute)
    assert r_single < 1.0  # near-dups DO fall out of single-seed buckets here
    assert r_multi >= r_single
    assert r_multi >= 0.8  # three seeds recover the bulk of the pairs


def test_embedding_one_seed_is_multiseed(spark, emb):
    """``embedding_near_dups`` is the one-seed multiseed run: same pairs and
    cosines, also when over-cap buckets chain (few planes, small cap)."""
    df = _near_identical_corpus(spark, emb)
    kw = dict(threshold=0.995, n_planes=4, max_bucket_size=10)
    one = D.embedding_near_dups(df, "vec_id", "embedding", 64, seed=7, **kw)
    multi = D.embedding_near_dups_multiseed(
        df, "vec_id", "embedding", 64, seeds=(7,), **kw
    )
    assert one.count() > 0
    assert one.exceptAll(multi).count() == 0 and multi.exceptAll(one).count() == 0


def test_embedding_sign_bits_must_fit_one_long(spark, emb):
    # n_planes + 24 chain-order bits are packed into one signed long
    D.embedding_near_dups(emb, "vec_id", "embedding", 64, n_planes=39)
    with pytest.raises(ValueError, match="exceed one long"):
        D.embedding_near_dups(emb, "vec_id", "embedding", 64, n_planes=41)


# ------------------------------------------------- incremental (index) dedup

def test_incremental_minhash_matches_full_recompute(spark, docs, tmp_path):
    """Batch 2 deduped against batch 1's persisted signature index yields
    exactly the pairs a full recompute finds that touch batch-2 ids."""
    base = docs.select("doc_id", "text")
    new = base.where(F.col("doc_id") % 71 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing token")).alias("text"),
    )
    idx_path = str(tmp_path / "sig_index")
    D.write_minhash_index(base, idx_path, "doc_id", "text")
    index = spark.read.parquet(idx_path)

    inc = {
        (r.id_a, r.id_b)
        for r in D.incremental_near_duplicates_minhash(
            new, base, index, "doc_id", "text", threshold=0.7
        ).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in D.near_duplicates_minhash(
            base.unionByName(new), "doc_id", "text", threshold=0.7
        ).collect()
    }
    new_ids = {r.doc_id for r in new.collect()}
    full_touching_new = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert inc == full_touching_new
    assert len(inc) > 0  # the injected variants were found via the index


def test_incremental_minhash_index_append_round(spark, docs, tmp_path):
    """After appending batch 2's signatures, a batch-3 exact copy of a
    batch-2 doc is caught against the grown index."""
    base = docs.select("doc_id", "text").where(F.col("doc_id") < 100)
    idx_path = str(tmp_path / "sig_index2")
    D.write_minhash_index(base, idx_path, "doc_id", "text")
    batch2 = docs.select("doc_id", "text").where(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 120)
    ).select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
    D.write_minhash_index(batch2, idx_path, "doc_id", "text", mode="append")
    index = spark.read.parquet(idx_path)
    # batch 3 = exact copy of one batch-2 doc
    batch3 = batch2.limit(1).select((F.col("doc_id") + 900_000).alias("doc_id"), "text")
    corpus = base.unionByName(batch2)
    pairs = D.incremental_near_duplicates_minhash(
        batch3, corpus, index, "doc_id", "text", threshold=0.9
    ).collect()
    b3 = batch3.collect()[0]
    assert any(
        {r.id_a, r.id_b} == {b3.doc_id, b3.doc_id - 900_000} for r in pairs
    ), pairs


def _fingerprint_families(spark, n_families=8, size=20, seed=5):
    """``(clip_id, fp)`` rows in families of near-identical 64-bit
    signatures: a family shares a base, and two of three members flip one
    random bit of it. Every chunk bucket of a family holds most of its
    members, so a small bucket cap takes the chain path."""
    import numpy as np

    rng = np.random.default_rng(seed)
    bases = rng.integers(-(2**62), 2**62, size=n_families)
    rows = []
    for i in range(n_families * size):
        fp = int(bases[i % n_families])
        if i % 3:
            fp ^= 1 << int(rng.integers(0, 63))
        rows.append((f"c{i:04d}", fp))
    return spark.createDataFrame(rows, "clip_id string, fp long")


def test_incremental_pairs_with_empty_index_equal_batch_only(spark, docs_with_dups):
    """Against an empty index the incremental forms give exactly the
    batch-only pairs, chained over-cap buckets included."""
    fps = _fingerprint_families(spark)
    inc = D.incremental_hamming_pairs(
        fps, fps.limit(0), "clip_id", "fp", max_hamming=7, max_bucket_size=5
    )
    batch = D.hamming_near_dups(fps, "clip_id", "fp", max_hamming=7, max_bucket_size=5)
    n = batch.count()
    assert 0 < n < 8 * 190  # chained: fewer than all in-family pairs
    assert inc.exceptAll(batch).count() == 0 and batch.exceptAll(inc).count() == 0

    boiler = spark.range(12).select(
        (F.col("id") + 3_000_000).alias("doc_id"),
        F.lit("one boilerplate footer repeated on every page of the site").alias("text"),
    )
    df = docs_with_dups.select("doc_id", "text").unionByName(boiler)
    empty = spark.createDataFrame([], "doc_id long, sig array<long>")
    inc = D.incremental_minhash_pairs(df, empty, "doc_id", "text", max_bucket_size=5)
    batch = D.minhash_lsh_pairs(df, "doc_id", "text", max_bucket_size=5)
    # the 12 identical docs chain (at most 11 pairs) instead of all 66
    n_boiler = batch.where(F.col("id_a") >= 3_000_000).count()
    assert 0 < n_boiler <= 11
    assert inc.exceptAll(batch).count() == 0 and batch.exceptAll(inc).count() == 0


def _jobs_while_building(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_incremental_pairs_checkpoint_the_batch_once(spark, docs, tmp_path):
    """Building the incremental pair DataFrame runs only the batch's one
    eager checkpoint: a narrow chunk stream for hamming (one job), and the
    bands over the shuffled signature merge for minhash (two jobs)."""
    fps = _fingerprint_families(spark)
    index = _fingerprint_families(spark, seed=6).select(
        F.concat(F.lit("i"), "clip_id").alias("clip_id"), "fp"
    )
    n = _jobs_while_building(
        spark, "incremental-hamming-build",
        lambda: D.incremental_hamming_pairs(fps, index, "clip_id", "fp", max_hamming=7),
    )
    assert n == 1

    base = docs.select("doc_id", "text")
    idx_path = str(tmp_path / "sig_index")
    D.write_minhash_index(base.where(F.col("doc_id") % 2 == 0), idx_path, "doc_id", "text")
    sig_index = spark.read.parquet(idx_path)
    new = base.where(F.col("doc_id") % 2 == 1)
    n = _jobs_while_building(
        spark, "incremental-minhash-build",
        lambda: D.incremental_minhash_pairs(new, sig_index, "doc_id", "text"),
    )
    assert n == 2


def test_incremental_exact_dedup(spark, docs, tmp_path):
    base = docs.select("doc_id", "text")
    idx_path = str(tmp_path / "fp_index")
    D.write_fingerprint_index(base, idx_path, "doc_id", "text")
    index = spark.read.parquet(idx_path)
    # new batch: one exact copy of an old doc, one self-duplicated fresh doc,
    # one genuinely fresh doc
    old = base.limit(1).collect()[0]
    new = spark.createDataFrame(
        [
            (10_000_001, old.text),          # dup of the corpus → dropped
            (10_000_002, "a brand new doc"), # fresh, kept
            (10_000_003, "a brand new doc"), # within-batch dup → dropped
            (10_000_004, "another fresh doc"),
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in D.incremental_exact_dedup(new, index, "doc_id", "text").collect()}
    assert kept == {10_000_002, 10_000_004}


def test_load_merges_standard_format(spark, tmp_path):
    """load_merges parses the public merges.txt format (version header,
    blank lines, one pair per line) and the result drives bpe_token_count
    to the same counts as the in-memory merge list."""
    content = (
        "#version: 0.2\n"
        "e s\n"
        "es t\n"
        "l o\n"
        "lo w\n"
        "\n"
        "n e\n"
        "ne w\n"
        "new est\n"
        "w i\n"
        "wi d\n"
        "wid est\n"
        "low e\n"
        "lowe r\n"
    )
    mf = tmp_path / "merges.txt"
    mf.write_text(content, encoding="utf-8")

    from jsschema_spark.functions.text import bpe_token_count, load_merges

    for merges in (load_merges(str(mf)), load_merges(content)):
        assert merges[0] == ("e", "s") and merges[-1] == ("lowe", "r")
        assert len(merges) == 12
        df = spark.createDataFrame(
            [(1, "low"), (2, "lowest"), (3, "low lower xyz")], "id long, text string"
        )
        out = {r.id: r.n_bpe_tokens for r in bpe_token_count(df, "text", merges).collect()}
        assert out == {1: 1, 2: 2, 3: 5}

    with pytest.raises(ValueError):
        load_merges("a b c\n")


def test_lsh_append_searchable(spark, emb, tmp_path):
    path = str(tmp_path / "lsh_app")
    S.lsh_build(emb.where(F.col("vec_id") >= 10), path, dim=64, n_planes=8)
    held = emb.where(F.col("vec_id") < 10)
    S.lsh_append(held, path)
    queries = held.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    rows = S.lsh_search(queries, path, k=3).collect()
    top1 = {r.query_id: r.vec_id for r in rows if r.rank == 1}
    assert top1 == {q: q for q in top1}


def test_ivf_append_searchable_without_corpus_rescan(spark, emb, tmp_path):
    """Vectors appended to a persisted IVF index are found by ivf_search;
    the append assigns ONLY the new batch (stored centroids, no corpus
    rescan) and lands in the right cell partitions."""
    path = str(tmp_path / "ivf_app")
    base = emb.where(F.col("vec_id") >= 10)
    S.ivf_build(base, path, n_centroids=8, iters=1)
    # append the held-out vectors
    held = emb.where(F.col("vec_id") < 10)
    S.ivf_append(held, path)
    # a held-out vector must now self-match at rank 1
    queries = held.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    rows = S.ivf_search(queries, path, k=3, nprobe=4).collect()
    top1 = {r.query_id: r.vec_id for r in rows if r.rank == 1}
    assert top1 == {q: q for q in top1}
    # index row count = base + appended, and every row carries a cell
    idx = spark.read.parquet(path)
    assert idx.count() == emb.count()
    assert idx.where(F.col("cell").isNull()).count() == 0


def test_top_tokens_and_ngram_doc_freq(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "  "), (4, None), (5, "b B a")],
        "doc_id long, text string",
    )
    top = [(r.token, r.n) for r in X.top_tokens(df, "text", k=3).collect()]
    # counts: a=4, b=2, B=1 (tokens are raw whitespace splits; case kept),
    # c=1 — tie between 'B' and 'c' broken by token asc
    assert top == [("a", 4), ("b", 2), ("B", 1)]
    assert X.top_tokens(df, "text", k=10, min_count=2).count() == 2

    df2 = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z"), (3, "x y")], "doc_id long, text string"
    )
    freq = [(r.ngram, r.n_docs) for r in X.ngram_doc_freq(df2, "text", n=3, k=2).collect()]
    assert freq == [("x y z", 2), ("y z w", 1)]


def test_ivf_recall_increases_with_nprobe(spark, emb):
    """The vectorized IVF path behaves like an IVF index should: top-1
    recall vs brute force is imperfect at nprobe=1 on organic data and
    non-decreasing in nprobe."""
    queries = emb.limit(20).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {r.query_id: r.vec_id for r in S.brute_force_topk(emb, queries, k=1).collect()}

    def recall(nprobe):
        got = {
            r.query_id: r.vec_id
            for r in S.ivf_topk(emb, queries, k=1, n_centroids=8, nprobe=nprobe).collect()
        }
        return sum(got.get(q) == v for q, v in exact.items()) / len(exact)

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 <= r8
    assert r8 == 1.0  # nprobe == n_centroids probes every cell == brute force


# --------------------------------------------------------- plan-shape guards

def _final_plan(df):
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_ivf_topk_plan_is_vectorized_equijoin(spark, emb):
    """Regression guard for the round-3 perf defect: IVF assignment must be
    the Arrow-batched matmul (one ArrowEvalPython per side — corpus assign
    + query probe), never per-row interpreted HOF centroid folds, and the
    probe must be a broadcast equi-join on the cell id."""
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=4)
    out.count()
    plan = _final_plan(out)
    assert plan.count("ArrowEvalPython") == 2, plan
    assert "BroadcastHashJoin" in plan and "cell" in plan
    # the old shape folded a zip_with dot per centroid BEFORE the join
    # (assignment side); cosine after the join legitimately uses zip_with,
    # so assert the join build side (query probes) carries no fold chain of
    # n_centroids dots: 8 centroids would mean >= 8 'zip_with(embedding'
    assert plan.count("zip_with(embedding") == 0, plan


def test_top_tokens_plan_has_partial_agg_and_topk(spark, docs):
    out = X.top_tokens(docs, "text", k=10)
    out.collect()
    plan = _final_plan(out)
    # map-side combine before the shuffle, and a TakeOrdered-style top-k
    # (never a global sort of the whole vocab)
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_top_tokens_matches_python_counter(spark, docs):
    """top_tokens == collections.Counter over raw whitespace splits (the
    oracle-in-miniature for the vocab primitive, incl. tie ordering)."""
    import collections

    sub = docs.where(F.col("doc_id") < 300).select("doc_id", "text")
    cnt = collections.Counter()
    for r in sub.collect():
        if r.text and r.text.strip():
            cnt.update(r.text.split())
    expected = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r.token, r.n) for r in X.top_tokens(sub, "text", k=20).collect()]
    assert got == expected


def test_curate_documents_pipeline(spark, docs_with_dups):
    """The composed curation pipeline drops nulls, exact dups, and near-dup
    group members (keeping each group's minimum id) with a consistent
    stage report."""
    from jsschema_spark.functions.curate import curate_documents

    extra = spark.createDataFrame([(9_999_999, None)], "doc_id long, text string")
    df = docs_with_dups.unionByName(extra)
    kept, report = curate_documents(df, "doc_id", "text", near_dup_threshold=0.7)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}

    assert report["n_input"] == df.count()
    assert report["n_input"] >= report["n_valid"] >= report["n_after_exact"] >= report["n_kept"]
    assert report["n_kept"] == len(ids)
    assert 9_999_999 not in ids  # null text dropped
    # injected exact copies (+1M) and near variants (+2M) never survive —
    # their base doc has the smaller id
    assert not any(i >= 1_000_000 for i in ids)
    # a large majority of the organic corpus survives
    n_base = docs_with_dups.where(F.col("doc_id") < 1_000_000).count()
    assert len(ids) > n_base * 0.9

    # near-dup stage off: only exact dedup applies
    kept2, rep2 = curate_documents(df, "doc_id", "text", near_dup_threshold=None)
    assert rep2["n_kept"] == rep2["n_after_exact"] >= report["n_kept"]


def test_stratified_sample_exact_and_deterministic(spark):
    """stratified_sample keeps exactly min(n, |stratum|) rows per stratum,
    the SAME rows with and without the scale prefilter, and the md5-order
    rule is reproducible in plain Python."""
    import hashlib

    from jsschema_spark.functions.curate import stratified_sample

    rows = []
    for i in range(5):
        rows.append((i, "a"))
    for i in range(100, 150):
        rows.append((i, "b"))
    for i in range(1000, 1300):
        rows.append((i, "c"))
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    full = stratified_sample(df, ["lang"], 10, prefilter=False)
    fast = stratified_sample(df, ["lang"], 10, prefilter=True)
    f_ids = sorted((r.lang, r.doc_id) for r in full.collect())
    s_ids = sorted((r.lang, r.doc_id) for r in fast.collect())
    assert f_ids == s_ids
    from collections import Counter

    per = Counter(l for l, _ in f_ids)
    assert per == {"a": 5, "b": 10, "c": 10}

    # the rule itself: first-10 by md5(str(id)) within each stratum
    expected = []
    for lang, ids in [("a", range(5)), ("b", range(100, 150)), ("c", range(1000, 1300))]:
        ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        expected += [(lang, i) for i in ranked[:10]]
    assert sorted(expected) == f_ids

    # pathological over_factor forces the shortfall fallback path — result
    # must STILL be exact, in BOTH fallback modes
    for mode in ("lazy", "driver"):
        tight = stratified_sample(
            df, ["lang"], 10, prefilter=True, over_factor=0.01, fallback=mode
        )
        assert sorted((r.lang, r.doc_id) for r in tight.collect()) == f_ids, mode
    # and the driver mode agrees on the happy path too
    happy = stratified_sample(df, ["lang"], 10, fallback="driver")
    assert sorted((r.lang, r.doc_id) for r in happy.collect()) == f_ids


def test_token_budget_sample(spark):
    """token_budget_sample keeps docs in md5(id) order while the running
    token total stays within the budget — verified against a Python
    reimplementation."""
    import hashlib

    from jsschema_spark.functions.curate import token_budget_sample

    rows = [(i, "x " * (i % 7 + 1), "g" + str(i % 2)) for i in range(40)]
    df = spark.createDataFrame(
        [(i, t.strip(), g) for i, t, g in rows], "doc_id long, text string, grp string"
    )
    out = token_budget_sample(df, ["grp"], 30, id_col="doc_id")
    got = sorted((r.grp, r.doc_id) for r in out.collect())

    expected = []
    for g in ("g0", "g1"):
        members = [(i, i % 7 + 1) for i in range(40) if "g" + str(i % 2) == g]
        members.sort(key=lambda p: (hashlib.md5(str(p[0]).encode()).hexdigest(), p[0]))
        cum = 0
        for i, ntok in members:
            cum += ntok
            if cum <= 30:
                expected.append((g, i))
    assert got == sorted(expected)

    # budget smaller than the first doc ⇒ empty, never negative/overshoot
    assert token_budget_sample(df, ["grp"], 0).count() == 0


def test_curate_documents_metadata_schema_gate(spark, docs_with_dups):
    """curate_documents' metadata_schema compiles into the validity stage:
    rows violating the schema are dropped exactly like blanks."""
    from jsschema_spark.functions.curate import curate_documents

    df = docs_with_dups.withColumn("source", F.when(F.col("doc_id") % 3 == 0, "web")
                                   .otherwise("bad source"))
    schema = {"type": "object", "properties": {"source": {"pattern": "^[a-z]+$"}}}
    kept, report = curate_documents(
        df, "doc_id", "text", near_dup_threshold=None, metadata_schema=schema
    )
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert ids and all(i % 3 == 0 for i in ids)
    base = curate_documents(df.where(F.col("doc_id") % 3 == 0), "doc_id", "text",
                            near_dup_threshold=None)[0]
    assert ids == {r.doc_id for r in base.select("doc_id").collect()}


def _png_bytes(w, h):
    import struct as st
    return (b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR"
            + st.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 8)


def _gif_bytes(w, h):
    import struct as st
    return b"GIF89a" + st.pack("<HH", w, h) + b"\x00" * 10


def _bmp_bytes(w, h):
    import struct as st
    return (b"BM" + st.pack("<IHHI", 70, 0, 0, 54) + st.pack("<I", 40)
            + st.pack("<ii", w, h) + b"\x00" * 28)


def _jpeg_bytes(w, h):
    import struct as st
    app0 = b"\xff\xe0" + st.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    sof0 = b"\xff\xc0" + st.pack(">H", 17) + b"\x08" + st.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_image_header_probe(spark):
    """Format + pixel dimensions from container headers — real parsing, no
    codec library: PNG/GIF/BMP in pure Catalyst, JPEG via the marker-scan
    UDF; garbage and truncated payloads yield nulls, not errors."""
    from jsschema_spark.functions.multimodal import image_metadata, jpeg_dims

    rows = [
        (1, _png_bytes(640, 480)),
        (2, _gif_bytes(320, 200)),
        (3, _bmp_bytes(800, 600)),
        (4, _jpeg_bytes(1024, 768)),
        (5, b"not an image at all"),
        (6, b"\x89PN"),  # truncated magic
        (7, None),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r.id: r.media_meta for r in image_metadata(df, "payload").collect()}
    assert (out[1].format, out[1].width, out[1].height) == ("png", 640, 480)
    assert (out[2].format, out[2].width, out[2].height) == ("gif", 320, 200)
    assert (out[3].format, out[3].width, out[3].height) == ("bmp", 800, 600)
    assert (out[4].format, out[4].width, out[4].height) == ("jpeg", 1024, 768)
    assert out[5].format is None and out[5].width is None
    assert out[6].format is None
    assert out[7].format is None and out[7].size_bytes is None

    # the pure-Python JPEG scanner agrees and rejects truncation
    assert jpeg_dims(_jpeg_bytes(12, 34)) == (12, 34)
    assert jpeg_dims(_jpeg_bytes(12, 34)[:10]) is None
    assert jpeg_dims(b"") is None


def test_top_per_stratum_exact_vs_window(spark):
    """Two-phase per-group top-k equals the brute-force window result —
    including cross-partition strata, ties (id-asc break), ascending mode,
    and null scores dropped."""
    import random

    from pyspark.sql import Window

    from jsschema_spark.functions.curate import top_per_stratum

    rng = random.Random(11)
    rows = [
        (i, "g" + str(i % 4), float(rng.randrange(20)) if i % 17 else None)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score double").repartition(8)

    got = sorted(
        (r.grp, r.doc_id) for r in top_per_stratum(df, ["grp"], "score", 5).collect()
    )
    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("doc_id"))
    expect = sorted(
        (r.grp, r.doc_id)
        for r in df.where(F.col("score").isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .collect()
    )
    assert got == expect and len(got) == 20

    # ascending mode: the k LOWEST scores
    got_asc = sorted(
        (r.grp, r.doc_id)
        for r in top_per_stratum(df, ["grp"], "score", 3, ascending=True).collect()
    )
    w2 = Window.partitionBy("grp").orderBy(F.asc("score"), F.asc("doc_id"))
    expect_asc = sorted(
        (r.grp, r.doc_id)
        for r in df.where(F.col("score").isNotNull())
        .withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= 3)
        .collect()
    )
    assert got_asc == expect_asc

    # stratum smaller than n: every (non-null-score) member survives
    tiny = spark.createDataFrame([(1, "z", 1.0), (2, "z", None)], "doc_id long, grp string, score double")
    assert [r.doc_id for r in top_per_stratum(tiny, ["grp"], "score", 10).collect()] == [1]


def test_ngram_contamination_and_decontaminate(spark):
    """Docs sharing an 8-word shingle with the benchmark are flagged;
    decontaminate drops exactly those and keeps everything else."""
    from jsschema_spark.functions.dedup import decontaminate, ngram_contamination

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "completely unrelated text about spark partitions and shuffles here"),
        (2, "prefix words then " + bench_text + " and a suffix"),   # contains it
        (3, bench_text),                                            # is it
        (4, "the quick brown fox jumps over seven lazy dogs today entirely"),  # no 8-gram overlap
        (5, None),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")

    hits = {r.doc_id: r.n_hits for r in ngram_contamination(corpus, bench, n=8).collect()}
    assert set(hits) == {2, 3}
    assert hits[3] == 3  # a 10-token doc has 3 distinct 8-gram shingles
    assert hits[2] >= 3

    kept = {r.doc_id for r in decontaminate(corpus, bench, n=8).collect()}
    assert kept == {1, 4, 5}

    # min_hits raises the bar
    assert ngram_contamination(corpus, bench, n=8, min_hits=4).count() <= 1


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    """Efraimidis-Spirakis sampling: matches a plain-Python
    reimplementation of the same keys, repeats identically, favors heavy
    rows, and drops null/non-positive weights."""
    import hashlib
    import math

    from jsschema_spark.functions.curate import weighted_sample

    rows = []
    for i in range(100):
        w = 50.0 if i < 10 else 1.0
        rows.append((i, "g", w))
    rows += [(200, "g", None), (201, "g", 0.0), (202, "g", -3.0)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, w double")

    got = sorted(r.doc_id for r in weighted_sample(df, ["grp"], 10, "w").collect())
    again = sorted(r.doc_id for r in weighted_sample(df, ["grp"], 10, "w").collect())
    assert got == again and len(got) == 10
    assert not {200, 201, 202} & set(got)

    def key(i, w):
        frac = (int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) + 1.0) / (
            (1 << 60) + 2
        )
        return math.log(frac) / w
    expect = sorted(
        sorted(((i, w) for i, _, w in rows[:100]), key=lambda p: (-key(*p), p[0]))[:10]
    )
    assert got == sorted(i for i, _ in expect)
    # heavy rows dominate the sample
    assert sum(1 for i in got if i < 10) >= 7


def test_leakage_free_split(spark, docs_with_dups):
    """No near-dup group spans the train/eval boundary; ungrouped docs
    split by their own id hash; the split reproduces exactly."""
    import hashlib

    from jsschema_spark.functions.curate import leakage_free_split
    from jsschema_spark.functions.dedup import (
        connected_components,
        near_duplicates_minhash,
    )

    df = docs_with_dups.where(F.col("text").isNotNull())
    pairs = near_duplicates_minhash(df, "doc_id", "text", 64, 16, threshold=0.7)
    groups = connected_components(pairs)

    out = leakage_free_split(df, groups, train_frac=0.8)
    rows = out.select("doc_id", "split").collect()
    split = {r.doc_id: r.split for r in rows}
    assert set(split.values()) == {"train", "eval"}

    # every group is entirely on one side
    gmap = {r.doc_id: r.group_id for r in groups.collect()}
    by_group = {}
    for d, g in gmap.items():
        by_group.setdefault(g, set()).add(split[d])
    assert all(len(sides) == 1 for sides in by_group.values())

    # the rule is the md5 fraction of the group (or own) id
    for d in list(split)[:50]:
        key = str(gmap.get(d, d))
        frac = int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / (1 << 32)
        assert split[d] == ("train" if frac < 0.8 else "eval"), d

    # deterministic on re-run
    again = {r.doc_id: r.split for r in
             leakage_free_split(df, groups, 0.8).select("doc_id", "split").collect()}
    assert again == split

    # rough proportion sanity (group-level hashing, so wide tolerance)
    n_train = sum(1 for s in split.values() if s == "train")
    assert 0.6 < n_train / len(split) < 0.95


def test_pack_sequences(spark):
    """Greedy FFD packing: every doc assigned once, no pack over capacity,
    over-long docs dropped, utilization sane, and re-runs identical."""
    from jsschema_spark.functions.curate import pack_sequences

    rows = [(i, "tok " * (i % 900 + 50)) for i in range(300)]
    rows.append((9999, "tok " * 3000))  # longer than seq_len -> dropped
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows],
                               "doc_id long, text string")
    out = pack_sequences(df, seq_len=1024).cache()
    rows_out = out.collect()
    assert {r.doc_id for r in rows_out} == {i for i, _ in rows} - {9999}

    per_pack = {}
    for r in rows_out:
        per_pack.setdefault(r.pack_id, 0)
        per_pack[r.pack_id] += r.n_tokens
    assert all(v <= 1024 for v in per_pack.values())
    # FFD on this size mix should fill packs reasonably well
    total = sum(r.n_tokens for r in rows_out)
    assert total / (len(per_pack) * 1024) > 0.8

    again = {(r.doc_id, r.pack_id) for r in pack_sequences(df, 1024).collect()}
    assert again == {(r.doc_id, r.pack_id) for r in rows_out}
    out.unpersist()


def test_chunk_documents(spark):
    """Token-window chunking: coverage, overlap stitching, bounds, and a
    Python reimplementation agree."""
    from jsschema_spark.functions.curate import chunk_documents

    text = " ".join(f"t{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, text), (2, "short doc"), (3, None), (4, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, max_tokens=10, overlap=2)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens) for r in out.collect())
    )
    # doc 3 (null) and 4 (blank) vanish; doc 2 is one whole chunk
    assert {d for d, *_ in rows} == {1, 2}
    assert [(c, t) for d, c, t, n in rows if d == 2] == [(0, "short doc")]

    # python model: starts 0, 8, 16, 24 (stride 8) over 25 tokens
    words = text.split()
    expect = []
    starts = list(range(0, 25 - 2, 8))
    for ci, s in enumerate(starts):
        piece = words[s : s + 10]
        expect.append((1, ci, " ".join(piece), len(piece)))
    assert [r for r in rows if r[0] == 1] == expect
    # every chunk respects the cap; consecutive chunks share `overlap` tokens
    assert all(n <= 10 for _, _, _, n in rows)
    c0 = rows[0][2].split(); c1 = rows[1][2].split()
    assert c0[-2:] == c1[:2]
    # full coverage: stitching chunks (dropping overlap) rebuilds the doc
    stitched = rows[0][2].split() + [
        w for _, ci, t, _ in rows[1:4] for w in t.split()[2:] if ci > 0
    ]
    assert stitched == words


def test_chunk_then_pack_composes(spark):
    """The chunk -> pack pipeline: over-long docs chunked to <= seq_len
    then packed — every chunk lands in a pack, no pack over capacity."""
    from jsschema_spark.functions.curate import chunk_documents, pack_sequences

    docs = spark.createDataFrame(
        [(i, "w " * (400 + i * 150)) for i in range(8)], "doc_id long, text string"
    ).select("doc_id", F.trim(F.col("text")).alias("text"))
    chunks = chunk_documents(docs, max_tokens=256, overlap=0).select(
        F.concat_ws("-", "doc_id", "chunk_idx").alias("doc_id"),
        F.col("chunk_text").alias("text"),
    )
    n_chunks = chunks.count()
    packed = pack_sequences(chunks, seq_len=256, id_col="doc_id")
    rows = packed.collect()
    assert len(rows) == n_chunks  # nothing dropped: chunking bounded sizes
    fills = {}
    for r in rows:
        fills[r.pack_id] = fills.get(r.pack_id, 0) + r.n_tokens
    assert all(v <= 256 for v in fills.values())


def test_index_write_file_count_bounded(spark, emb, tmp_path):
    """The partitioned index write must land each cell in ONE task: data
    file count stays ~#cells, not #tasks x #cells (the dynamic-partition
    small-files trap)."""
    import glob
    import os

    from jsschema_spark.functions.similarity import ivf_build

    corpus = emb.repartition(8)  # many write tasks to provoke the trap
    path = str(tmp_path / "fc_idx")
    ivf_build(corpus, path, n_centroids=8, seed=42, train=False)
    data_files = [
        f for f in glob.glob(os.path.join(path, "cell=*", "*.parquet"))
    ]
    cells = {os.path.basename(os.path.dirname(f)) for f in data_files}
    # exactly one data file per non-empty cell
    assert len(data_files) == len(cells)
    assert len(cells) <= 9  # 8 cells + the -1 null cell

# ------------------------------------------------- round-5 regression guards

def test_hyperplane_bucket_wide_signature_exact(spark):
    """Signatures wider than 53 bits must survive bit-exact (the round-4
    defect routed the int64 pack through a float64 buffer, silently
    zeroing low-order bits above 2^53)."""
    import numpy as np

    from jsschema_spark.functions.linalg import hyperplane_bucket_v, hyperplanes

    dim, n_planes, seed = 16, 60, 7
    P = hyperplanes(dim, n_planes, seed)
    rng = np.random.default_rng(123)
    vecs = rng.standard_normal((64, dim))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(64)]
    rows.append((999, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: r.sig
        for r in df.select(
            "vec_id", hyperplane_bucket_v(F.col("embedding"), P).alias("sig")
        ).collect()
    }
    weights = np.int64(1) << np.arange(n_planes, dtype=np.int64)
    hit_high = 0
    for i in range(64):
        bits = ((vecs[i] @ P.T) > 0).astype(np.int64)
        expect = int(bits @ weights)
        assert got[i] == expect, (i, got[i], expect)
        if expect >= (1 << 53):
            hit_high += 1
    # the corpus must actually exercise the >53-bit range or the guard is vacuous
    assert hit_high > 0
    assert got[999] is None


def test_pack_sequences_state_survives_arrow_batches(spark):
    """A partition larger than arrow.maxRecordsPerBatch arrives as several
    pandas batches; bin state + pack numbering must persist across them
    (the round-4 defect reset FFD state per batch, colliding pack_ids and
    silently overfilling packs)."""
    from jsschema_spark.functions.curate import pack_sequences

    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "32")
    try:
        # one partition (docs_per_partition >> n), many small docs so the
        # old per-batch '0-0' collision would overfill pack 0 immediately
        rows = [(i, "tok " * (i % 9 + 1)) for i in range(400)]
        df = spark.createDataFrame(
            [(i, t.strip()) for i, t in rows], "doc_id long, text string"
        )
        out = pack_sequences(df, seq_len=64).cache()
        got = out.collect()
        assert {r.doc_id for r in got} == {i for i, _ in rows}
        fills = {}
        for r in got:
            fills[r.pack_id] = fills.get(r.pack_id, 0) + r.n_tokens
        assert all(v <= 64 for v in fills.values()), sorted(fills.items())[:5]
        # utilization must still be FFD-grade even with per-batch sorting
        total = sum(r.n_tokens for r in got)
        assert total / (len(fills) * 64) > 0.8
        # deterministic across re-runs
        again = {(r.doc_id, r.pack_id) for r in pack_sequences(df, 64).collect()}
        assert again == {(r.doc_id, r.pack_id) for r in got}
        out.unpersist()
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)


def test_token_budget_sample_two_phase_skew(spark):
    """The two-phase prefix scan must (a) reproduce the single-window
    semantics exactly on a skewed stratum mix and (b) never sort a whole
    stratum on one reducer: every window over the raw row stream is
    sub-partitioned by the physical partition id."""
    import hashlib

    from jsschema_spark.functions.curate import token_budget_sample

    # hot stratum: 2000 rows; cold: 25 — mirrors one-language-dominant mixes
    rows = [(i, "w " * (i % 13 + 1), "hot") for i in range(2000)]
    rows += [(10_000 + i, "w " * (i % 5 + 1), "cold") for i in range(25)]
    df = spark.createDataFrame(
        [(i, t.strip(), g) for i, t, g in rows], "doc_id long, text string, grp string"
    )
    out = token_budget_sample(df, ["grp"], 700, id_col="doc_id")
    got = sorted((r.grp, r.doc_id) for r in out.collect())

    expected = []
    for g in ("hot", "cold"):
        members = [
            (i, n)
            for i, t, gg in rows
            if gg == g
            for n in [len(t.strip().split())]
        ]
        members.sort(key=lambda p: (hashlib.md5(str(p[0]).encode()).hexdigest(), p[0]))
        cum = 0
        for i, ntok in members:
            cum += ntok
            if cum <= 700:
                expected.append((g, i))
    assert got == sorted(expected)

    # plan shape: the cumulative-sum window over raw rows must include the
    # md5-prefix segment in its partitioning spec (bounded-size window
    # groups); only the tiny per-segment totals table may window on the
    # stratum alone
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    raw_specs = [s for s in specs if "__seg" in s]
    assert raw_specs, plan  # the big window is segment-bounded
    # schema unchanged: helper columns dropped
    assert set(out.columns) == {"doc_id", "text", "grp"}


def test_curate_documents_precomputed_groups_parity(spark, docs_with_dups):
    """curate_documents(groups=...) must produce exactly the inline
    pipeline's output while skipping the MinHash pass (production runs
    reuse a persisted signature index instead of re-signaturing)."""
    from jsschema_spark.functions.curate import curate_documents
    from jsschema_spark.functions.dedup import (
        connected_components,
        exact_dedup,
        near_duplicates_minhash,
    )

    df = docs_with_dups
    inline, _ = curate_documents(df, "doc_id", "text", near_dup_threshold=0.7)
    inline_ids = {r.doc_id for r in inline.select("doc_id").collect()}

    # precompute groups the way a production index pipeline would
    exact = exact_dedup(
        df.where(F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0)),
        "text",
        "doc_id",
    ).localCheckpoint(eager=False)
    pairs = near_duplicates_minhash(exact, "doc_id", "text", 64, 16, threshold=0.7)
    groups = connected_components(pairs).localCheckpoint(eager=False)

    reused, rep = curate_documents(df, "doc_id", "text", groups=groups)
    assert {r.doc_id for r in reused.select("doc_id").collect()} == inline_ids
    assert rep["n_kept"] == len(inline_ids)


def test_bmp_topdown_negative_height(spark):
    """biHeight is SIGNED: top-down BMPs store a negative height and must
    report abs(height), not a wrapped negative int."""
    from jsschema_spark.functions.multimodal import image_metadata

    df = spark.createDataFrame(
        [(1, _bmp_bytes(800, -600)), (2, _bmp_bytes(320, 240))],
        "id long, payload binary",
    )
    out = {r.id: r.media_meta for r in image_metadata(df, "payload").collect()}
    assert (out[1].format, out[1].width, out[1].height) == ("bmp", 800, 600)
    assert (out[2].format, out[2].width, out[2].height) == ("bmp", 320, 240)


def test_ann_recall_graded(spark):
    """Graded recall@10 of every ANN path vs brute force on a CLUSTERED
    corpus (20 unit centers x 40 members, sigma=0.15 — the geometry real
    embedding corpora have; injected-copy oracles prove correctness but
    are silent on recall). Prints the sweep table and asserts floors.

    Expected regime (all seeds fixed, so the numbers are deterministic up
    to BLAS near-ties): IVF recall grows with nprobe and clears 0.9 at
    nprobe=4 with TRAINED centroids (ivf_build runs spherical k-means);
    sampled-centroid ivf_topk trails trained; hyperplane-LSH top-k is the
    high-cosine candidate probe, not a top-10 retriever — its pair recall
    at cosine >= 0.995 is quantified separately in
    test_multiseed_lsh_union_improves_recall."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim, C, per = 64, 20, 40
    centers = rng.standard_normal((C, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    data = []
    vid = 0
    for c in range(C):
        for _ in range(per):
            v = centers[c] + 0.15 * rng.standard_normal(dim)
            v /= np.linalg.norm(v)
            data.append((vid, [float(x) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(data, "vec_id long, embedding array<double>").cache()
    corpus.count()
    qdata = []
    for qi in range(25):
        v = centers[qi % C] + 0.15 * rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        qdata.append((qi, [float(x) for x in v]))
    queries = spark.createDataFrame(
        qdata, "query_id long, embedding array<double>"
    ).cache()
    queries.count()

    k = 10
    exact = {}
    for r in S.brute_force_topk(corpus, queries, k=k).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(len(got.get(q, set()) & s) / len(s) for q, s in exact.items()) / len(
            exact
        )

    table = {}
    for npl in (6, 8):
        table[f"lsh_topk n_planes={npl}"] = recall(
            S.lsh_topk(corpus, queries, k=k, dim=dim, n_planes=npl, seed=42)
        )
    for npl in (6, 8):
        table[f"lsh_topk n_planes={npl} probe_bits=2"] = recall(
            S.lsh_topk(
                corpus, queries, k=k, dim=dim, n_planes=npl, seed=42,
                probe_bits=2,
            )
        )
    for nprobe in (1, 2, 4, 8):
        table[f"ivf_topk nprobe={nprobe}"] = recall(
            S.ivf_topk(corpus, queries, k=k, n_centroids=C, nprobe=nprobe, seed=42)
        )
    import tempfile
    import shutil

    tmp = tempfile.mkdtemp(prefix="ann-recall-")
    try:
        S.ivf_build(corpus, f"{tmp}/idx", n_centroids=C, seed=42)  # trained
        for nprobe in (1, 4):
            table[f"ivf_search(trained) nprobe={nprobe}"] = recall(
                S.ivf_search(queries, f"{tmp}/idx", k=k, nprobe=nprobe)
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print("\nANN recall@10 vs brute force (clustered corpus, 800 vecs, 25 queries):")
    for name, r in table.items():
        print(f"  {name}: {r:.3f}")

    # floors (measured 0.344/0.224 lsh; 0.668/0.820/0.852/0.944 ivf;
    # 0.916/0.992 trained — asserted with margin for BLAS near-ties)
    assert table["ivf_topk nprobe=8"] >= table["ivf_topk nprobe=4"] - 0.05
    assert table["ivf_topk nprobe=4"] >= table["ivf_topk nprobe=1"] - 0.05
    assert table["ivf_topk nprobe=4"] >= 0.75
    assert table["ivf_topk nprobe=8"] >= 0.85
    # trained centroids beat the seeded sample at equal nprobe
    assert (
        table["ivf_search(trained) nprobe=1"] >= table["ivf_topk nprobe=1"]
    )
    assert table["ivf_search(trained) nprobe=4"] >= 0.9
    # LSH top-k at default probe_bits=1 is the high-cosine probe; at
    # top-10 on clustered data it recalls some neighbors but is NOT the
    # retrieval path — floor only
    assert table["lsh_topk n_planes=6"] >= 0.2
    # 2-bit multi-probe must materially lift recall over 1-bit at equal
    # n_planes (it probes a strict superset of buckets, so per-query
    # recall can only grow; the margin asserts the lift is real)
    assert (
        table["lsh_topk n_planes=6 probe_bits=2"]
        >= table["lsh_topk n_planes=6"] + 0.1
    )
    assert table["lsh_topk n_planes=6 probe_bits=2"] >= 0.5


# ------------------------------------------- repetition / corpus-stat quality

def test_ngram_repetition_matches_python(spark):
    """dup-n-gram fraction == 1 - distinct/total over normalized tokens,
    verified against a Python model; short/empty/null docs score 0."""
    rows = [
        (1, "a b a b a b"),           # 2-grams: ab ba ab ba ab -> 1 - 2/5
        (2, "all words here differ"),  # no repeats
        (3, "spam spam spam spam"),
        (4, "one"),                    # < n tokens
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3):
        got = {
            r.doc_id: r.rep
            for r in df.select(
                "doc_id", X.ngram_repetition(F.col("text"), n).alias("rep")
            ).collect()
        }
        for i, t in rows:
            toks = (t or "").lower().split()
            grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
            expect = 1 - len(set(grams)) / len(grams) if grams else 0.0
            if t is None:
                assert got[i] == 0.0 or got[i] is None
            else:
                assert abs(got[i] - expect) < 1e-12, (i, n, got[i], expect)


def test_top_ngram_share_matches_python(spark):
    import collections

    rows = [
        (1, "x y z x y z x y q"),
        (2, "totally distinct words only here now"),
        (3, "ha ha ha ha ha"),
        (4, "a b"),   # < 3 tokens -> share 0
        (5, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.top_ngram_share
        for r in X.top_ngram_share(df, "text", n=3).collect()
    }
    for i, t in rows:
        toks = t.lower().split()
        grams = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        if grams:
            c = collections.Counter(grams)
            expect = max(c.values()) / sum(c.values())
        else:
            expect = 0.0
        assert abs(out[i] - expect) < 1e-12, (i, out[i], expect)


def test_unigram_logprob_matches_python(spark):
    import math

    rows = [(1, "the cat sat"), (2, "the the dog"), (3, "cat"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.logprob for r in X.unigram_logprob(df, "text").collect()}

    counts: dict = {}
    for _, t in rows:
        for w in (t or "").split():
            counts[w] = counts.get(w, 0) + 1
    total = sum(counts.values())
    for i, t in rows:
        ws = (t or "").split()
        if not ws:
            assert out[i] is None
            continue
        expect = sum(math.log(counts[w] / total) for w in ws) / len(ws)
        assert abs(out[i] - expect) < 1e-9, (i, out[i], expect)

    # reference-vocab mode: OOV gets add-one smoothing mass
    vocab = spark.createDataFrame(
        [("the", 3), ("cat", 2)], "token string, n long"
    )
    out2 = {
        r.doc_id: r.logprob
        for r in X.unigram_logprob(df, "text", vocab=vocab).collect()
    }
    tot, v = 5, 2
    exp1 = (
        math.log((3 + 1) / (tot + v)) + math.log((2 + 1) / (tot + v))
        + math.log((0 + 1) / (tot + v))
    ) / 3
    assert abs(out2[1] - exp1) < 1e-9


def test_pii_counts_and_redaction(spark):
    """PII detection + scrubbing: per-type counts and full redaction,
    verified against Python re with the same patterns (the patterns are
    restricted to Java-regex/RE2-common syntax for oracle parity)."""
    import re as _re

    from jsschema_spark.functions.text import PII_PATTERNS, pii_counts, redact_pii

    rows = [
        (1, "contact me at jane.doe+spam@example.co.uk or bob@x.io thanks"),
        (2, "call 555-867-5309 or +1 555.123.4567 x22"),
        (3, "server at 192.168.0.1 and 10.0.0.255 responded"),
        (4, "no sensitive content in this one"),
        (5, "mixed: a@b.org from 8.8.8.8 dial 123-456-7890"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.pii, r.red)
        for r in df.select(
            "doc_id",
            pii_counts(F.col("text")).alias("pii"),
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    for i, t in rows:
        if t is None:
            assert got[i][0].email is None and got[i][1] is None
            continue
        pii, red = got[i]
        expect_red = t
        for k in ("email", "phone", "ipv4"):
            assert getattr(pii, k) == len(_re.findall(PII_PATTERNS[k], expect_red)), (i, k)
            expect_red = _re.sub(PII_PATTERNS[k], "[PII]", expect_red)
        assert red == expect_red, (i, red, expect_red)
    # the scrubbed text has no remaining matches
    from jsschema_spark.functions.text import pii_counts as pc
    post = df.where(F.col("text").isNotNull()).select(
        pc(redact_pii(F.col("text"))).alias("p")
    ).collect()
    assert all(r.p.email == 0 and r.p.phone == 0 and r.p.ipv4 == 0 for r in post)


def test_mean_pool_matches_numpy(spark, emb):
    """Group mean pooling == numpy mean per label; null vectors skipped;
    output arrays ordered by dimension."""
    import numpy as np

    from jsschema_spark.functions.similarity import mean_pool

    with_null = emb.unionByName(
        spark.createDataFrame(
            [(999999, None, 3)], "vec_id long, embedding array<float>, label int"
        )
    )
    pooled = {r.label: np.array(r.embedding) for r in mean_pool(with_null, "label").collect()}
    rows = emb.collect()
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(np.array(r.embedding, dtype=np.float64))
    assert pooled.keys() == by_label.keys()
    for lbl, vs in by_label.items():
        assert np.allclose(pooled[lbl], np.mean(vs, axis=0), atol=1e-9), lbl


def test_curate_documents_round5_gates(spark):
    """The repetition, logprob and redaction gates compose into the
    pipeline: spammy docs die at the repetition gate, gibberish at the
    logprob floor, and surviving text is scrubbed when redact=True —
    while dedup still runs on the ORIGINAL text."""
    from jsschema_spark.functions.curate import curate_documents

    prose = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    rows = [
        (1, prose + " contact me at a@b.org please"),
        (2, prose + " contact me at z@y.net please"),   # exact-dup AFTER redaction only
        (3, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        (4, "zxqv wkjh pqrs mnbv zxqv2 wkjh2 pqrs2 mnbv2 qqq www eee rrr"),
        (5, prose),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    kept, rep = curate_documents(
        df, near_dup_threshold=None, max_rep_ngram=0.5, min_logprob=-4.0,
        redact=True,
    )
    out = {r.doc_id: r.text for r in kept.collect()}
    assert 3 not in out          # repetition gate (rep3 ~ 0.8)
    assert 4 not in out          # gibberish: every token hapax -> very low logprob
    # docs 1 and 2 differ pre-redaction, so BOTH survive exact dedup,
    # then redaction makes their text equal
    assert 1 in out and 2 in out and 5 in out
    assert out[1] == out[2] and "[PII]" in out[1]
    assert "@" not in out[1]
    assert out[5] == prose


def test_mask_duplicate_spans_matches_python(spark):
    """Cross-doc span dedup vs a Python model: tokens covered by any
    n-gram appearing in >= min_docs docs are removed; unique prose
    survives; empty/short docs untouched."""
    import collections

    boiler = "this footer text is identical across many documents exactly"
    rows = [
        (1, "alpha unique words " + boiler + " tail one"),
        (2, "totally different opening " + boiler + " closing remark"),
        (3, "no shared content whatsoever in this document at all today"),
        (4, "tiny doc"),
        (5, None),
        (6, ""),
        (7, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n, min_docs = 5, 2
    out = {
        r.doc_id: (r.masked_text, r.n_masked_tokens)
        for r in D.mask_duplicate_spans(df, n=n, min_docs=min_docs).collect()
    }

    # python model
    doc_toks = {i: (t.split() if t else []) for i, t in rows}
    gram_docs = collections.defaultdict(set)
    for i, toks in doc_toks.items():
        for p in range(len(toks) - n + 1):
            gram_docs[tuple(toks[p : p + n])].add(i)
    frequent = {g for g, ds in gram_docs.items() if len(ds) >= min_docs}
    for i, toks in doc_toks.items():
        covered = set()
        for p in range(len(toks) - n + 1):
            if tuple(toks[p : p + n]) in frequent:
                covered.update(range(p, p + n))
        expect = " ".join(t for j, t in enumerate(toks) if j not in covered)
        if rows[i - 1][1] is None:
            continue
        got_text, got_n = out[i]
        assert got_text == expect, (i, got_text, expect)
        assert got_n == len(covered), i

    # the boilerplate really was masked, the unique doc untouched
    assert boiler not in out[1][0] and boiler not in out[2][0]
    assert out[3][0] == rows[2][1] and out[3][1] == 0
    assert out[4] == ("tiny doc", 0)
    # empty / whitespace-only docs: zero tokens, zero masked (never -2
    # from the sequence(0,-1)=[0,-1] auto-step trap), and no ANSI
    # element_at(toks, 0) crash
    assert out[6] == ("", 0)
    assert out[7] == ("", 0)


def test_edit_distance_near_dups(spark):
    """Within-threshold pairs survive the banded verify; beyond-threshold
    and prefix-escaping edits don't; normalization folds case/punct."""
    from jsschema_spark.functions.dedup import edit_distance_near_dups

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick brown fox jumps over the lazy dog!"),   # dist 0 after norm
        (3, "the quick brown fox jumps over the lazy cat"),    # dist 3
        (4, "the quick brown fox leaps over the sleepy tiger"),# dist > 3
        (5, "xhe quick brown fox jumps over the lazy dog"),    # edit in prefix → other block
        (6, "completely different text with nothing shared"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_near_dups(df, "doc_id", "text", max_dist=3).collect()
    }
    assert out == {(1, 2): 0, (1, 3): 3, (2, 3): 3}


def test_containment_pairs_asymmetric(spark):
    """A doc embedded in a longer one has containment ~1 despite low
    Jaccard; unrelated docs never pair; the stop-shingle cap drops
    boilerplate grams from the join."""
    from jsschema_spark.functions.dedup import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    long_doc = (
        "in the beginning of the crawl we observed that " + quote +
        " which was widely reposted across many unrelated mirror sites"
    )
    rows = [
        (1, long_doc),
        (2, quote),
        (3, "completely unrelated text about distributed query planning engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = containment_pairs(df, min_containment=0.8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.cont_b == 1.0          # every quote shingle is in the long doc
    assert r.cont_a < 0.5           # but the long doc is NOT in the quote
    # stop-shingle cap: with every shingle over-cap, nothing can pair
    assert containment_pairs(df, min_containment=0.01, max_shingle_df=0).count() == 0


def test_unigram_kl_names_the_moved_tokens(spark):
    ref = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog sat")], "doc_id long, text string"
    )
    cur = spark.createDataFrame(
        [(3, "le chat assis"), (4, "le chien assis")], "doc_id long, text string"
    )
    rows = X.unigram_kl(ref, cur, "text", k=3).collect()
    # 'the'/'sat' (ref-only, 2/6) and 'le'/'assis' (cur-only, 2/6) tie at
    # gap 1/3; the deterministic tiebreak is token ASC
    top = [r["token"] for r in rows]
    assert top == ["assis", "le", "sat"]
    by_tok = {r["token"]: r for r in rows}
    # 'le' appears only in cur: positive KL contribution
    assert by_tok["le"]["n_ref"] == 0 and by_tok["le"]["n_cur"] == 2
    assert by_tok["le"]["kl_term"] > 0

    # identical corpora: every gap and kl term is exactly zero
    same = X.unigram_kl(ref, ref, "text", k=10).collect()
    assert all(r["freq_gap"] == 0.0 for r in same)
    assert all(abs(r["kl_term"]) < 1e-15 for r in same)


def test_dup_group_size_histogram_counts(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "aaa"), (4, "bbb"), (5, "bbb"), (6, "ccc")],
        "doc_id long, text string",
    )
    out = {r["group_size"]: r for r in D.dup_group_size_histogram(df, "text").collect()}
    assert out[3]["n_groups"] == 1 and out[3]["n_docs"] == 3
    assert out[2]["n_groups"] == 1 and out[2]["n_docs"] == 2
    assert out[1]["n_groups"] == 1 and out[1]["n_docs"] == 1
    # invariant: sum(n_docs) = corpus size
    assert sum(r["n_docs"] for r in out.values()) == 6


def test_bigram_pmi_collocation(spark):
    import math

    # 'new york' always adjacent; 'the' everywhere -> PMI(new york) high
    rows = [(i, "the new york office of the company") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["bigram"]: r for r in X.bigram_pmi(df, "text", k=10, min_count=5).collect()}
    assert out["new york"]["n_bigram"] == 6
    assert out["the new"]["n_bigram"] == 6
    # every doc: 7 tokens, 6 bigrams; totals 42 words / 36 bigrams
    # PMI(new york) = ln((6/36)/((6/42)*(6/42)))
    exp = math.log((6 / 36) / ((6 / 42) * (6 / 42)))
    assert out["new york"]["pmi"] == pytest.approx(exp)
    # 'of the': 'the' occurs 12 times -> lower PMI than 'new york'
    assert out["of the"]["pmi"] < out["new york"]["pmi"]


def test_cooccurrence_counts_entities(spark):
    from jsschema_spark.functions.events import cooccurrence_counts

    df = spark.createDataFrame(
        [
            (1, "click"), (1, "view"), (1, "click"),   # u1: {click, view}
            (2, "click"), (2, "purchase"),              # u2: {click, purchase}
            (3, "view"),                                 # u3: single type -> no pair
            (4, "click"), (4, "view"), (4, "purchase"), # u4: all three
        ],
        "user_id long, event_type string",
    )
    out = {
        (r["item_a"], r["item_b"]): r["n_entities"]
        for r in cooccurrence_counts(df, ["user_id"], "event_type").collect()
    }
    assert out[("click", "view")] == 2          # u1, u4
    assert out[("click", "purchase")] == 2      # u2, u4
    assert out[("purchase", "view")] == 1       # u4 only (sorted pair)
    assert len(out) == 3
    # min_support prunes
    pruned = cooccurrence_counts(df, ["user_id"], "event_type", min_support=2).collect()
    assert len(pruned) == 2


def test_centroid_drift_long_form(spark):
    ref = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [3.0, 0.0]), (1, [0.0, 1.0])],
        "label long, embedding array<float>",
    )
    cur = spark.createDataFrame(
        [(0, [4.0, 2.0]), (1, [0.0, 1.0]), (2, [9.0, 9.0])],  # label 2 only in cur
        "label long, embedding array<float>",
    )
    rows = {(r["label"], r["dim"]): r for r in S.centroid_drift(ref, cur).collect()}
    # label 0 dim 0: ref mean 2.0, cur mean 4.0 -> delta 2.0
    assert rows[(0, 0)]["delta"] == pytest.approx(2.0)
    assert rows[(0, 1)]["delta"] == pytest.approx(2.0)
    # identical label 1: zero drift
    assert rows[(1, 0)]["delta"] == 0.0 and rows[(1, 1)]["delta"] == 0.0
    # label present on only one side drops
    assert not any(lbl == 2 for (lbl, _) in rows)


def test_zipf_fit_recovers_exponent(spark):
    """A corpus built with exact Zipf counts (freq = 1000/rank) must fit
    slope -1 with r² ≈ 1."""
    import pytest

    from jsschema_spark.functions.text import zipf_fit

    words = [f"w{i:03d}" for i in range(1, 21)]
    docs = []
    for r, w in enumerate(words, start=1):
        docs.extend([w] * (1000 // r))
    df = spark.createDataFrame([(" ".join(docs),)], "text string")
    out = zipf_fit(df, "text", top_n=20).collect()[0]
    # counts are floor(1000/r) -> tiny deviation from the pure law
    assert out["zipf_slope"] == pytest.approx(-1.0, abs=0.02)
    assert out["zipf_r2"] > 0.999
    assert out["n_tokens_used"] == 20


def test_anisotropy_report_extremes(spark):
    import pytest

    from jsschema_spark.functions.linalg import anisotropy_report

    # collapsed: every vector identical -> anisotropy 1
    col = spark.createDataFrame([([1.0, 2.0, 2.0],)] * 8, "embedding array<double>")
    r = anisotropy_report(col).collect()[0]
    assert r["anisotropy"] == pytest.approx(1.0)
    assert r["dim"] == 3 and r["n_vecs"] == 8
    assert r["mean_norm"] == pytest.approx(3.0) and r["rms_norm"] == pytest.approx(3.0)

    # centered pairs: +v and -v -> mean vector 0 -> anisotropy 0
    cen = spark.createDataFrame(
        [([1.0, -2.0],), ([-1.0, 2.0],)] * 4, "embedding array<double>"
    )
    r2 = anisotropy_report(cen).collect()[0]
    assert r2["anisotropy"] == pytest.approx(0.0, abs=1e-12)


def test_distinctive_terms_finds_source_boilerplate(spark):
    import math

    import pytest

    from jsschema_spark.functions.text import distinctive_terms

    rows = (
        [("crawlA", "the cat sat ADVERT ADVERT ADVERT")] * 2
        + [("crawlB", "the dog ran")] * 2
        + [("crawlC", "the bird flew")] * 2
    )
    df = spark.createDataFrame(rows, "source string, text string")
    out = distinctive_terms(df, "source", "text", k=1).collect()
    top = {r["source"]: r for r in out}
    assert top["crawlA"]["token"] == "ADVERT"
    assert top["crawlA"]["n"] == 6
    assert top["crawlA"]["score"] == pytest.approx(6 * math.log(3))
    # 'the' appears in all 3 sources -> idf 0, never distinctive
    assert all(r["token"] != "the" for r in out)


def test_corpus_overlap_carryover(spark):
    import pytest

    from jsschema_spark.functions.dedup import corpus_overlap

    base = spark.createDataFrame(
        [("doc one",), ("doc two",), ("doc three",)], "text string"
    )
    # cur: two carried over (one of them twice), two genuinely new
    cur = spark.createDataFrame(
        [("doc one",), ("DOC   one",), ("doc two",), ("fresh a",), ("fresh b",)],
        "text string",
    )
    r = corpus_overlap(base, cur).collect()[0]
    assert r["n_base_docs"] == 3 and r["n_cur_docs"] == 5
    assert r["n_shared_fps"] == 2  # 'doc one' (normalized) and 'doc two'
    assert r["cur_docs_from_base"] == 3  # both spellings of doc one + doc two
    assert r["carryover_frac"] == pytest.approx(0.6)


def test_vocabulary_richness(spark):
    import pytest

    from jsschema_spark.functions.text import vocabulary_richness

    df = spark.createDataFrame(
        [("the the the cat",), ("the dog unique1 unique2",)], "text string"
    )
    r = vocabulary_richness(df, "text").collect()[0]
    # vocab: the(4) cat dog unique1 unique2 -> 5 types, 8 tokens, 4 hapax
    assert r["vocab_size"] == 5 and r["n_tokens"] == 8 and r["n_hapax"] == 4
    assert r["hapax_ratio"] == pytest.approx(0.8)
    assert r["type_token_ratio"] == pytest.approx(5 / 8)


def test_encoding_artifacts_census(spark):
    rows = [
        ("clean café text",),
        ("broken cafÃ© twice cafÃ©",),   # Ã© ×2
        ("smart quote wreck â€™s",),
        ("gave up �� here",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "text string")
    from jsschema_spark.functions.text import encoding_artifacts

    out = {r["artifact"]: r for r in encoding_artifacts(df, "text").collect()}
    assert out["latin1_utf8"]["n_docs"] == 1 and out["latin1_utf8"]["n_hits"] == 2
    assert out["win1252_utf8"]["n_docs"] == 1
    assert out["replacement_char"]["n_hits"] == 2
    assert out["nbsp_artifact"]["n_docs"] == 0


def test_prefix_duplicates_truncated_variants(spark):
    from jsschema_spark.functions.dedup import prefix_duplicates

    long = "The quick brown fox jumps over the lazy dog " * 5
    rows = [
        (1, long),
        (2, long[:100]),            # truncated variant of 1
        (3, "совершенно другой текст " * 6),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = prefix_duplicates(df, "doc_id", "text", prefix_chars=64).collect()
    assert len(out) == 1
    g = out[0]
    assert g["doc_ids"] == [1, 2]
    assert g["max_len"] > g["min_len"]  # the truncation signature


# ------------------------------------------- blocked brute-force equivalence

def _naive_brute_pairs(emb_df, threshold):
    """The pre-optimization formulation: nested-loop cross join + Catalyst
    cosine — the reference the blocked BLAS candidate path must equal."""
    e = emb_df.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
            D.cosine(F.col("a.v"), F.col("b.v")).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def test_blocked_brute_force_equals_naive_multi_block(spark, emb):
    df = _near_identical_corpus(spark, emb)  # >=100 qualifying pairs
    thr = 0.995
    naive = {(r.id_a, r.id_b, round(r.cos, 12)) for r in _naive_brute_pairs(df, thr).collect()}
    # block_size small enough to force many tiles (same + cross-block)
    blocked = {
        (r.id_a, r.id_b, round(r.cos, 12))
        for r in D.embedding_brute_force_pairs(
            df, "vec_id", "embedding", threshold=thr, block_size=37
        ).collect()
    }
    assert len(blocked) >= 100
    assert blocked == naive


def test_blocked_brute_force_edge_vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 1e-9, 0.0]),       # near-identical to 1
        (3, [0.0, 0.0, 0.0]),        # zero vector: cosine defined as 0
        (4, None),                   # null vector: cosine null -> excluded
        (5, [1.0, 0.0]),             # ragged length: zip_with null -> excluded
        (6, [-1.0, 0.0, 0.0]),       # opposite: cos = -1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for thr in (0.95, 0.5):
        naive = {(r.id_a, r.id_b, round(r.cos, 12)) for r in _naive_brute_pairs(df, thr).collect()}
        blocked = {
            (r.id_a, r.id_b, round(r.cos, 12))
            for r in D.embedding_brute_force_pairs(
                df, "vec_id", "embedding", threshold=thr, block_size=2
            ).collect()
        }
        assert blocked == naive, (thr, blocked, naive)
    assert {(p[0], p[1]) for p in naive} == {(1, 2)}
