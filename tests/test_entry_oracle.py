"""Driver-contract parity: every queries() entry with an oracle must match
DuckDB on row count, column names, and order-insensitive values at sf0.01 —
a local mirror of the driver's CORRECTNESS gate."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


def _norm_cell(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (int,)):
        return float(v) if False else v
    return v


def _normalize(rows, colnames):
    out = []
    for row in rows:
        out.append(tuple(_norm_cell(v) for v in row))
    return sorted(out, key=repr), list(colnames)


ORACLED = sorted(entry_mod.oracle_sql().keys())

# the golden-corpus query reads entry_mod.CORPUS; where it is absent only
# that query is skipped
NEEDS_CORPUS = pytest.mark.skipif(
    not os.path.isdir(entry_mod.CORPUS),
    reason=f"reference corpus {entry_mod.CORPUS} is absent",
)


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=NEEDS_CORPUS) if n == "conformance_corpus" else n
        for n in ORACLED
    ],
)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert [c.lower() for c in spark_cols] == [c.lower() for c in duck_cols], (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    s_norm, _ = _normalize(spark_rows, spark_cols)
    d_norm, _ = _normalize(duck_rows, duck_cols)
    assert len(s_norm) == len(d_norm), f"{name}: rowcount {len(s_norm)} vs {len(d_norm)}"
    mismatches = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:5]
    assert not mismatches, f"{name}: value mismatch (first 5): {mismatches}"


def test_every_query_is_oracled():
    """Round-2 goal: no queries() entry without an oracle_sql() entry."""
    assert sorted(entry_mod.queries().keys()) == ORACLED


@NEEDS_CORPUS
def test_conformance_and_clips_sanity(spark):
    qs = entry_mod.queries()
    rows = qs["conformance_corpus"](spark, SF).collect()
    assert len(rows) == 75
    assert all(r.agree for r in rows), [r.case_id for r in rows if not r.agree]

    clips = qs["clips_validation"](spark, SF).collect()
    assert sum(r.n_violations for r in clips) > 0  # injected negatives visible
    assert qs["minhash_near_dups"](spark, SF).count() > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert {"path", "keyword", "n_violations", "n_rows"} <= set(df.columns)


def test_stopword_literal_matches_engine():
    """The oracle's stopword literal must track text.STOPWORDS_EN — the
    quality-score parity silently weakens if the lists drift apart."""
    import re

    from jsschema_spark.functions.text import STOPWORDS_EN

    words = re.findall(r"'([^']+)'", entry_mod._STOPWORDS_SQL)
    assert words == STOPWORDS_EN
