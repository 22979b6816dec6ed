"""JVM Variant generic path: corpus subset agreement with the pandas path,
type-dynamics edge cases, and fallback selection."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from jsschema_spark.variant import JsonColumnValidator, validate_json_auto

CORPUS = "/root/reference/test"
NEEDS_CORPUS = pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason=f"reference corpus {CORPUS} is absent"
)

# suites whose keywords the Variant tier expresses — ALL 21 validation
# suites: the map<string,variant> cast covers patternProperties /
# additionalX / tuple items / property counts, and non-recursive $ref
# (business) inlines at compile time; only recursive $ref and non-scalar
# enum fall back
VARIANT_SUITES = [
    "allof", "anyof", "array", "arraylength", "arraytuple",
    "arraytuple_disallow_additional", "arrayunique", "boolean", "business",
    "integer", "not", "null", "numrange", "numrange_exclmax",
    "objectpatterns", "objectpropdepend", "objectpropsize",
    "objectproprequired", "oneof", "strlen", "strpattern",
]


def suite_cases(suite):
    out = []
    for kind, expect in (("pass", True), ("fail", False)):
        for p in sorted(glob.glob(os.path.join(CORPUS, f"{suite}_{kind}*.json"))):
            out.append((os.path.basename(p)[:-5], open(p, encoding="utf-8").read(), expect))
    return out


@NEEDS_CORPUS
@pytest.mark.parametrize("suite", VARIANT_SUITES)
def test_variant_corpus_agreement(spark, suite):
    schema = json.load(open(os.path.join(CORPUS, f"{suite}.json"), encoding="utf-8"))
    v = JsonColumnValidator.try_compile(schema)
    assert v is not None, f"{suite} should compile on the Variant tier"
    cases = suite_cases(suite)
    if not cases:
        pytest.skip("parse-only suite")
    df = spark.createDataFrame(cases, "case_id string, payload string, expect boolean")
    out = v.apply(df, "payload").select("case_id", "expect", "validation.*").collect()
    for r in out:
        assert r.valid == r.expect, (suite, r.case_id, r.violations)


def test_unsupported_schemas_fall_back(spark):
    # only RECURSIVE $ref and non-scalar enum still need the pandas fallback
    assert JsonColumnValidator.try_compile({"$ref": "#"}) is None  # self-recursive
    assert JsonColumnValidator.try_compile(
        {"properties": {"child": {"$ref": "#"}}}  # meta-schema-style recursion
    ) is None
    assert JsonColumnValidator.try_compile({"enum": [[1, 2]]}) is None
    # formerly-fallback keywords now compile via the map/array variant casts
    # and compile-time $ref inlining
    for s in (
        {"patternProperties": {"^S_": {}}},
        {"additionalProperties": False},
        {"items": [{"type": "string"}]},
        {"minProperties": 1},
        {"type": "object", "required": ["a"]},
        {"$ref": "#/definitions/x", "definitions": {"x": {"type": "integer"}}},
    ):
        assert JsonColumnValidator.try_compile(s) is not None, s


def test_variant_dotted_property_names(spark):
    # a property name containing '.' must NOT be read as a nested path
    schema = {"type": "object", "required": ["a.b"], "properties": {"a.b": {"minimum": 0}}}
    v = JsonColumnValidator.try_compile(schema)
    assert v is not None
    df = spark.createDataFrame(
        [
            ('{"a.b": 1}', True),        # flat key present and valid
            ('{"a.b": -5}', False),      # flat key violates minimum
            ('{"a": {"b": 1}}', False),  # nested a.b is NOT the flat key
        ],
        "payload string, expect boolean",
    )
    out = v.apply(df, "payload").select("payload", "expect", "validation.*").collect()
    for r in out:
        assert r.valid == r.expect, (r.payload, r.violations)


def test_variant_schema_dependencies_and_counts(spark):
    schema = {
        "type": "object",
        "maxProperties": 3,
        "dependencies": {"credit": {"required": ["billing"]}},
    }
    v = JsonColumnValidator.try_compile(schema)
    assert v is not None
    df = spark.createDataFrame(
        [
            ('{"credit": 1, "billing": "x"}', True),
            ('{"credit": 1}', False),                      # schema-form dependency
            ('{"a":1,"b":2,"c":3,"d":4}', False),          # maxProperties
            ('{"a":1}', True),
        ],
        "payload string, expect boolean",
    )
    out = v.apply(df, "payload").select("payload", "expect", "validation.*").collect()
    for r in out:
        assert r.valid == r.expect, (r.payload, r.violations)


def test_variant_type_dynamics(spark):
    schema = {"properties": {"k": {"type": "integer", "minimum": 0, "maximum": 80}}, "required": ["k"]}
    v = JsonColumnValidator.try_compile(schema)
    df = spark.createDataFrame(
        [
            ('{"k": 42}', True),
            ('{"k": 3.0}', True),       # integral float is draft-04 integer
            ('{"k": 3.14}', False),     # fraction
            ('{"k": "42"}', False),     # string is not integer
            ('{"k": true}', False),     # bool is not integer
            ('{"k": null}', False),     # null present fails type
            ('{"x": 1}', False),        # k missing → required
            ('{"k": 90}', False),       # above maximum
            ("oops", False),            # malformed JSON
        ],
        "payload string, expect boolean",
    )
    out = v.apply(df, "payload").select("payload", "expect", "validation.*").collect()
    for r in out:
        assert r.valid == r.expect, (r.payload, r.violations)
    # malformed JSON carries the $parse violation
    bad = [r for r in out if r.payload == "oops"][0]
    assert bad.violations[0].keyword == "$parse"


def test_variant_plan_has_no_python(spark):
    schema = {"properties": {"k": {"type": "integer", "minimum": 0}}, "required": ["k"]}
    v = JsonColumnValidator.try_compile(schema)
    df = spark.createDataFrame([('{"k": 1}',)], "payload string")
    plan = v.apply(df, "payload")._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_validate_json_auto_selects_tier(spark):
    df = spark.createDataFrame([('{"k": 5}',), ('{"k": -1}',)], "payload string")
    flat = {"required": ["k"], "properties": {"k": {"minimum": 0}}}
    out = validate_json_auto(df, "payload", flat)
    assert "Python" not in out._jdf.queryExecution().executedPlan().toString()
    assert [r.valid for r in out.select("validation.valid").collect()] == [True, False]

    # recursive $ref still routes to the pandas fallback tier
    deep = {
        "properties": {"k": {"minimum": 0}},
        "patternProperties": {"^nested": {"$ref": "#"}},
    }
    out2 = validate_json_auto(df, "payload", deep)
    assert "Python" in out2._jdf.queryExecution().executedPlan().toString()
    assert [r.valid for r in out2.select("validation.valid").collect()] == [True, False]


def test_events_props_on_variant_tier(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    schema = {"type": "object", "required": ["k"], "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 80}}}
    jvm = validate_json_auto(events, "props", schema)
    from jsschema_spark.generic import validate_json_column

    udf = validate_json_column(events, "props", schema)
    a = jvm.agg(F.sum(F.col("validation.valid").cast("long"))).collect()[0][0]
    b = udf.agg(F.sum(F.col("validation.valid").cast("long"))).collect()[0][0]
    assert a == b  # both tiers agree on real data
