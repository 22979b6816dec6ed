"""Generic-JSON path on Spark: the full golden corpus re-encoded as DataFrame
rows (FIXTURES.md §2) must agree 100% with the reference's pass/fail — in ONE
Arrow-batched stage."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from jsschema_spark.generic import validate_json_column, validate_json_pairs, json_predicate_column

CORPUS = "/root/reference/test"
NEEDS_CORPUS = pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason=f"reference corpus {CORPUS} is absent"
)

SUITES = [
    "allof", "anyof", "array", "arraylength", "arraytuple",
    "arraytuple_disallow_additional", "arrayunique", "boolean", "business",
    "integer", "not", "null", "numrange", "numrange_exclmax",
    "objectpatterns", "objectpropdepend", "objectpropsize",
    "objectproprequired", "oneof", "strlen", "strpattern",
]


def corpus_rows():
    rows = []
    for suite in SUITES:
        schema_text = open(os.path.join(CORPUS, f"{suite}.json"), encoding="utf-8").read()
        for kind, expect in (("pass", True), ("fail", False)):
            for p in sorted(glob.glob(os.path.join(CORPUS, f"{suite}_{kind}*.json"))):
                case_id = os.path.basename(p)[:-5]
                rows.append(
                    (suite, case_id, schema_text, open(p, encoding="utf-8").read(), expect)
                )
    return rows


@NEEDS_CORPUS
def test_corpus_on_spark(spark):
    rows = corpus_rows()
    assert len(rows) == 75
    df = spark.createDataFrame(
        rows, "suite string, case_id string, schema_json string, instance_json string, expect_pass boolean"
    ).repartition(4)
    out = validate_json_pairs(df, "schema_json", "instance_json")
    mismatches = (
        out.where(F.col("validation.valid") != F.col("expect_pass"))
        .select("case_id", "expect_pass", "validation.violations")
        .collect()
    )
    assert mismatches == [], f"corpus disagreement: {mismatches}"
    # invalid rows carry non-empty violation detail, valid rows carry empty
    bad_detail = out.where(
        (~F.col("validation.valid") & (F.size("validation.violations") == 0))
        | (F.col("validation.valid") & (F.size("validation.violations") > 0))
    ).count()
    assert bad_detail == 0


def test_validate_json_column_single_schema(spark):
    schema = {
        "type": "object",
        "required": ["name"],
        "properties": {"name": {"type": "string", "minLength": 2}},
    }
    df = spark.createDataFrame(
        [('{"name": "ok"}',), ('{"name": "x"}',), ('{"nope": 1}',), ("not json",), (None,)],
        "payload string",
    )
    out = validate_json_column(df, "payload", schema).select("validation.*").collect()
    assert [r.valid for r in out] == [True, False, False, False, None]
    assert out[3].violations[0].keyword == "$parse"


def test_json_predicate_column_jvm_side(spark):
    df = spark.createDataFrame(
        [('{"a": {"b": 5}}',), ('{"a": {"b": 50}}',)], "payload string"
    )
    out = df.select(
        json_predicate_column(F.col("payload"), "$.a.b", lambda c: c.cast("int") <= 10).alias("ok")
    ).collect()
    assert [r.ok for r in out] == [True, False]


def test_validate_json_pairs_null_schema_rows(spark):
    """Null schema_json rows yield valid=NULL instead of killing the task
    (pandas groupby silently drops NaN keys — regression pin)."""
    from jsschema_spark.generic import validate_json_pairs

    df = spark.createDataFrame(
        [
            ('{"minimum": 0}', "5", True),
            (None, "5", None),
            ('{"minimum": 0}', "-1", False),
            (None, None, None),
        ],
        "schema_json string, instance_json string, expect boolean",
    )
    out = validate_json_pairs(df, "schema_json", "instance_json")
    rows = out.select("expect", "validation.valid").collect()
    for r in rows:
        assert r.valid == r.expect, (r.expect, r.valid)
