"""Randomized three-way agreement: the same schemas over the same rows through
the typed tier (``TableValidator`` on a struct table), the Variant tier
(``JsonColumnValidator`` on the rows serialized to JSON) and the pure-Python
core must give the same ``valid`` per row (fixed seed). Covers
``additionalProperties`` schemas on struct and map columns, mixed-type
``enum``s, and nesting 9-16 levels deep."""

import json
import random

from pyspark.sql import types as T

from jsschema_spark import parse_schema
from jsschema_spark.compiler import MAX_COMPILE_REF_DEPTH, TableValidator
from jsschema_spark.pyvalidate import Validator
from jsschema_spark.variant import JsonColumnValidator

SEED = 20261017


def _as_json(value, dt):
    """A typed value as its JSON instance: NULL struct fields are absent."""
    if isinstance(dt, T.StructType):
        return {
            f.name: _as_json(value[f.name], f.dataType)
            for f in dt.fields if value[f.name] is not None
        }
    return value


def _as_row(value, dt):
    if value is None or not isinstance(dt, T.StructType):
        return value
    return tuple(_as_row(value[f.name], f.dataType) for f in dt.fields)


def assert_three_way(spark, schema, st, values):
    """``values``: dicts keyed by every field of ``st`` (None ⇒ NULL)."""
    node = parse_schema(schema)
    df = spark.createDataFrame([_as_row(v, st) for v in values], st)
    typed = [r.valid for r in TableValidator(node, st).apply(df, with_violations=False).collect()]

    docs = [_as_json(v, st) for v in values]
    jv = JsonColumnValidator.try_compile(schema)
    assert jv is not None, f"must compile on the Variant tier: {schema}"
    jdf = spark.createDataFrame([(i, json.dumps(d)) for i, d in enumerate(docs)], "i int, doc string")
    variant = [r.valid for r in jv.apply(jdf, "doc").orderBy("i").select("validation.valid").collect()]

    core = Validator(node)
    for doc, t, v in zip(docs, typed, variant):
        expect = core.is_valid(doc)
        assert t == v == expect, f"schema={schema} doc={doc} typed={t} variant={v} core={expect}"


FLAT = T.StructType([
    T.StructField("s", T.StringType()),
    T.StructField("i", T.LongType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("xs", T.ArrayType(T.LongType(), containsNull=False)),
    T.StructField("m", T.MapType(T.StringType(), T.LongType(), valueContainsNull=False)),
])


def random_flat_value(rng: random.Random) -> dict:
    return {
        "s": rng.choice([None, "", "1", "abc", "true", "clip-42"]),
        "i": rng.choice([None, 0, 1, 2, 7, -3, 100]),
        "d": rng.choice([None, 0.0, 1.0, 2.5, 3.0, -1.25]),
        "b": rng.choice([None, True, False]),
        "xs": rng.choice([None, [], [1], [1, 2, 3], [2, 2], [7, 9]]),
        "m": rng.choice([None, {}, {"a": 1}, {"a": 1, "b": 9}, {"z": 9}, {"ab": 3, "c": -1}]),
    }


def random_flat_schema(rng: random.Random) -> dict:
    options = {
        "s": [
            {"enum": [1, "1", True, None, "abc"]},
            {"enum": [1]},
            {"type": "string", "minLength": rng.randint(0, 3)},
            {"pattern": rng.choice(["^c", "[0-9]", "e$"])},
        ],
        "i": [
            {"enum": [True, 1, "7", 7.0]},
            {"enum": [True]},
            {"multipleOf": rng.randint(1, 3)},
            {"type": "integer", "maximum": rng.randint(0, 10)},
        ],
        "d": [
            {"enum": [2.5, 3, "x"]},
            {"type": "integer"},
            {"minimum": 0, "exclusiveMinimum": rng.random() < 0.5},
        ],
        "b": [{"enum": [True, 1]}, {"type": "boolean"}, {"enum": [False, None]}],
        "xs": [
            {"items": {"maximum": 5}},
            {"uniqueItems": True, "maxItems": 2},
            {"items": [{"type": "integer"}], "additionalItems": {"minimum": 2}},
        ],
        "m": [
            {"additionalProperties": {"maximum": 5}},
            {"properties": {"a": {"minimum": 0}}, "additionalProperties": False},
            {"patternProperties": {"^a": {"maximum": 2}}, "additionalProperties": {"minimum": 0}},
            {"maxProperties": 1, "required": ["a"]},
            {"dependencies": {"a": ["b"]}},
        ],
    }
    names = rng.sample(list(options), k=rng.randint(2, 5))
    s = {"type": "object", "properties": {n: rng.choice(options[n]) for n in names}}
    if rng.random() < 0.5:
        # fields no property names get the schema (or are forbidden)
        s["additionalProperties"] = rng.choice([
            False, {"type": ["integer", "string"]}, {"not": {"type": "string"}}, {"minimum": 1},
        ])
    if rng.random() < 0.3:
        s["patternProperties"] = {"^[xs]": {"minLength": 1}}
    if rng.random() < 0.4:
        s["required"] = rng.sample(list(options), k=rng.randint(1, 2))
    return s


def test_cross_tier_random_agreement(spark):
    rng = random.Random(SEED)
    for _trial in range(16):
        values = [random_flat_value(rng) for _ in range(20)]
        assert_three_way(spark, random_flat_schema(rng), FLAT, values)


def nested(levels: int):
    """(schema, struct type, value generator) for objects ``levels`` deep:
    every level holds ``x`` (checked through ``additionalProperties``) and,
    above the leaf, the next level ``n``."""
    def schema(k):
        s = {"type": "object", "additionalProperties": {"type": "integer", "minimum": k}}
        if k < levels - 1:
            s["properties"] = {"n": schema(k + 1)}
        return s

    def struct(k):
        fields = [T.StructField("x", T.LongType())]
        if k < levels - 1:
            fields.append(T.StructField("n", struct(k + 1)))
        return T.StructType(fields)

    def value(rng, k=0):
        v = {"x": rng.choice([None, k, k + 1, k - 1])}
        if k < levels - 1:
            v["n"] = None if rng.random() < 0.05 else value(rng, k + 1)
        return v

    return schema(0), struct(0), value


def test_cross_tier_deep_nesting(spark):
    """The leaf keyword sits ``levels`` deep: up to the one nesting cap, both
    tiers compile it; one level more falls back."""
    rng = random.Random(SEED + 1)
    for levels in (9, 12, MAX_COMPILE_REF_DEPTH):
        schema, st, value = nested(levels)
        assert_three_way(spark, schema, st, [value(rng) for _ in range(12)])
    too_deep, _, _ = nested(MAX_COMPILE_REF_DEPTH + 1)
    assert JsonColumnValidator.try_compile(too_deep) is None
