"""Typed-column compiler tests: the clips-table schema (FIXTURES.md §1) and
keyword coverage over typed DataFrames, agreeing with the pure-Python core."""

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsschema_spark import parse_schema, read_string
from jsschema_spark.compiler import TableValidator
from jsschema_spark.pyvalidate import Validator

CLIPS_SCHEMA = {
    "type": "object",
    "required": ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
    "properties": {
        "clip_id": {"type": "string", "pattern": "^clip-[0-9]{12}$"},
        "sr_hz": {"type": "integer", "minimum": 8000, "maximum": 48000},
        "dur_ms": {"type": "integer", "minimum": 1, "maximum": 60000},
        "codec": {"type": "string", "enum": ["pcm_s16le", "flac", "opus"]},
        "transcript": {"type": "string", "minLength": 1, "maxLength": 4096},
    },
}


def clips_df(spark):
    rows = [
        ("clip-000000000001", b"x", 16000, 1200, "flac", "hello world"),  # valid
        ("bad-id", b"x", 16000, 1200, "flac", "hello"),  # pattern
        ("clip-000000000002", b"x", 96001, 1200, "flac", "hi"),  # maximum
        ("clip-000000000003", b"x", 16000, 0, "opus", "hi"),  # minimum
        ("clip-000000000004", b"x", 16000, 1200, "unknown", "hi"),  # enum
        ("clip-000000000005", b"x", 16000, 1200, "flac", ""),  # minLength
        ("clip-000000000006", None, 16000, 1200, "flac", "hi"),  # required bytes
        ("clip-000000000007", b"x", None, 1200, "pcm_s16le", "hi"),  # required sr_hz
    ]
    return spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )


def test_clips_flagship_validation(spark):
    df = clips_df(spark)
    tv = TableValidator(parse_schema(CLIPS_SCHEMA), df.schema)
    out = tv.apply(df).orderBy("clip_id").collect()
    by_id = {r.clip_id: r for r in out}
    assert by_id["clip-000000000001"].valid
    assert not by_id["bad-id"].valid
    kw = {r.clip_id: [v.keyword for v in r.violations] for r in out}
    assert kw["bad-id"] == ["pattern"]
    assert kw["clip-000000000002"] == ["maximum"]
    assert kw["clip-000000000003"] == ["minimum"]
    assert kw["clip-000000000004"] == ["enum"]
    assert kw["clip-000000000005"] == ["minLength"]
    assert kw["clip-000000000006"] == ["required"]
    # null sr_hz: required fires, but range keywords are vacuous (absent)
    assert kw["clip-000000000007"] == ["required"]


def test_validator_columns_built_once(spark):
    df = clips_df(spark)
    tv = TableValidator(parse_schema(CLIPS_SCHEMA), df.schema)
    tv.summary(df).collect()
    assert "_valid" not in vars(tv) and "_violations" not in vars(tv)  # lazy
    assert tv.valid_column() is tv.valid_column()
    assert tv.violations_column() is tv.violations_column()

    out = tv.apply(df)
    assert out.columns == df.columns + ["valid", "violations"]
    assert tv.apply(df, with_violations=False).columns == df.columns + ["valid"]
    rows = out.orderBy("clip_id").collect()
    assert [r.clip_id for r in rows if r.valid] == ["clip-000000000001"]
    assert all(r.valid == (not r.violations) for r in rows)
    # the shared Columns resolve against any DataFrame with the same schema
    other = df.where(F.col("codec") == "flac").select(*df.columns)
    again = {r.clip_id: r for r in tv.apply(other).collect()}
    assert again == {r.clip_id: r for r in rows if r.codec == "flac"}


def test_violation_details_and_summary(spark):
    df = clips_df(spark)
    tv = TableValidator(parse_schema(CLIPS_SCHEMA), df.schema)
    details = tv.violation_details(df, id_cols=["clip_id"]).collect()
    assert {(r.clip_id, r.keyword) for r in details} >= {
        ("bad-id", "pattern"),
        ("clip-000000000002", "maximum"),
        ("clip-000000000006", "required"),
    }
    summary = {(r.path, r.keyword): r.n_violations for r in tv.summary(df).collect()}
    assert summary[("$.clip_id", "pattern")] == 1
    assert summary[("$.sr_hz", "maximum")] == 1
    assert summary[("$.bytes", "required")] == 1
    assert summary[("$.codec", "enum")] == 1


def test_type_constant_folding(spark):
    """Static type matches emit no predicate at all (SURVEY §2.2 row 1)."""
    df = spark.createDataFrame([("a", 1)], "s string, i long")
    tv = TableValidator(
        read_string('{"properties": {"s": {"type": "string"}, "i": {"type": "integer"}}}'),
        df.schema,
    )
    assert tv.predicates == []  # all folded away
    tv2 = TableValidator(
        read_string('{"properties": {"s": {"type": "integer"}}}'), df.schema
    )
    assert len(tv2.predicates) == 1
    assert not tv2.apply(df).collect()[0].valid


def test_integer_keyword_on_double_column(spark):
    df = spark.createDataFrame([(3.0,), (3.14,), (None,)], "x double")
    tv = TableValidator(read_string('{"properties": {"x": {"type": "integer"}}}'), df.schema)
    out = [r.valid for r in tv.apply(df).collect()]
    assert out == [True, False, True]  # null = absent = vacuous


def test_array_keywords_typed(spark):
    df = spark.createDataFrame(
        [([1, 2, 3],), ([1, 1],), ([],), ([1, 2, 3, 4, 5, 6],)],
        T.StructType([T.StructField("xs", T.ArrayType(T.LongType()))]),
    )
    schema = read_string(
        '{"properties": {"xs": {"type": "array", "uniqueItems": true, '
        '"minItems": 0, "maxItems": 5, "items": {"type": "integer", "maximum": 10}}}}'
    )
    tv = TableValidator(schema, df.schema)
    out = tv.apply(df).collect()
    assert [r.valid for r in out] == [True, False, True, False]
    assert [v.keyword for v in out[1].violations] == ["uniqueItems"]
    assert [v.keyword for v in out[3].violations] == ["maxItems"]


def test_tuple_items_and_additional(spark):
    df = spark.createDataFrame(
        [(["10", "Downing", "Street"],), (["10", "Downing", "Street", "NW", "X"],)],
        T.StructType([T.StructField("addr", T.ArrayType(T.StringType()))]),
    )
    schema = read_string(
        json.dumps(
            {
                "properties": {
                    "addr": {
                        "type": "array",
                        "items": [
                            {"type": "string"},
                            {"type": "string"},
                            {"type": "string", "enum": ["Street", "Avenue"]},
                            {"type": "string", "enum": ["NW", "NE"]},
                        ],
                        "additionalItems": False,
                    }
                }
            }
        )
    )
    tv = TableValidator(schema, df.schema)
    out = tv.apply(df).collect()
    assert out[0].valid  # shorter than tuple arity is fine
    assert not out[1].valid
    assert [v.keyword for v in out[1].violations] == ["additionalItems"]


def test_combinators_typed(spark):
    df = spark.createDataFrame([(10.0,), (15.0,), (7.0,)], "payload double")
    one = read_string(
        '{"properties": {"payload": {"oneOf": [{"multipleOf": 5}, {"multipleOf": 3}]}}}'
    )
    out = TableValidator(one, df.schema).apply(df).collect()
    assert [r.valid for r in out] == [True, False, False]  # 15 matches both, 7 none

    anyof = read_string(
        '{"properties": {"payload": {"anyOf": [{"multipleOf": 5}, {"multipleOf": 3}]}}}'
    )
    out = TableValidator(anyof, df.schema).apply(df).collect()
    assert [r.valid for r in out] == [True, True, False]

    nots = read_string('{"properties": {"payload": {"not": {"multipleOf": 5}}}}')
    out = TableValidator(nots, df.schema).apply(df).collect()
    assert [r.valid for r in out] == [False, False, True]


def test_nested_struct_and_dependencies(spark):
    dt = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("credit_card", T.LongType()),
            T.StructField("billing_address", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [("a", 5555, "addr"), ("b", 5555, None), ("c", None, None)], dt
    )
    schema = read_string(
        '{"type": "object", "required": ["name"], '
        '"dependencies": {"credit_card": ["billing_address"]}}'
    )
    tv = TableValidator(schema, df.schema)
    assert [r.valid for r in tv.apply(df).collect()] == [True, False, True]


def test_ref_inlining_typed(spark):
    dt = T.StructType(
        [
            T.StructField(
                "billing",
                T.StructType(
                    [T.StructField("city", T.StringType()), T.StructField("zip", T.StringType())]
                ),
            )
        ]
    )
    df = spark.createDataFrame([(("K", "1"),), ((None, "2"),), (None,)], dt)
    schema = read_string(
        '{"definitions": {"addr": {"type": "object", "required": ["city"]}}, '
        '"properties": {"billing": {"$ref": "#/definitions/addr"}}}'
    )
    tv = TableValidator(schema, df.schema)
    assert [r.valid for r in tv.apply(df).collect()] == [True, False, True]


def test_format_keywords(spark):
    df = spark.createDataFrame(
        [("a@b.co", "1.2.3.4", "2020-01-01T10:00:00Z"), ("nope", "999.0.0.1", "junk")],
        "email string, ip string, ts string",
    )
    schema = read_string(
        '{"properties": {"email": {"format": "email"}, "ip": {"format": "ipv4"}, '
        '"ts": {"format": "date-time"}}}'
    )
    tv = TableValidator(schema, df.schema)
    out = tv.apply(df).collect()
    assert out[0].valid
    assert {v.keyword for v in out[1].violations} == {"format"}
    assert len(out[1].violations) == 3


def test_whole_stage_codegen_plan(spark):
    """The typed path must stay inside WholeStageCodegen — no Python, no
    shuffle, for the per-row pass."""
    df = clips_df(spark)
    tv = TableValidator(parse_schema(CLIPS_SCHEMA), df.schema)
    plan = tv.apply(df, with_violations=False)._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("*(1)")  # '*' = inside WholeStageCodegen
    for bad in ("Exchange", "PythonUDF", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, f"unexpected {bad} in plan:\n{plan}"


def test_violation_samples_order_by_without_id_cols(spark):
    """order_by columns must resolve even when absent from id_cols — the
    window input projects the union of both column sets."""
    df = clips_df(spark)
    tv = TableValidator(parse_schema(CLIPS_SCHEMA), df.schema)

    # order_by only: no AnalysisException, ordering column in the output
    out = tv.violation_samples(df, k=2, order_by=["clip_id"])
    rows = out.collect()
    assert rows and "clip_id" in out.columns

    # id_cols + disjoint order_by: both projected, ordering honored
    out2 = tv.violation_samples(df, k=5, id_cols=["clip_id"], order_by=["dur_ms"])
    assert {"clip_id", "dur_ms"} <= set(out2.columns)
    per_key = {}
    for r in out2.collect():
        per_key.setdefault((r.path, r.keyword), []).append(r)
    for rs in per_key.values():
        ordered = sorted(rs, key=lambda r: r.rn)
        assert [r.dur_ms for r in ordered] == sorted(
            r.dur_ms for r in rs
        )

    with pytest.raises(ValueError):
        tv.violation_samples(df, k=2)


def test_clips_predicate_sequence_pinned(spark):
    """The flagship schema's predicates, in order: required, then each
    property's keywords (type folds away on the static column types)."""
    from jsschema_spark.synth import CLIPS_DRAFT04_SCHEMA

    tv = TableValidator(parse_schema(CLIPS_DRAFT04_SCHEMA), clips_df(spark).schema)
    assert [(p.path, p.keyword) for p in tv.predicates] == [
        ("$.clip_id", "required"), ("$.bytes", "required"), ("$.sr_hz", "required"),
        ("$.dur_ms", "required"), ("$.codec", "required"), ("$.transcript", "required"),
        ("$.clip_id", "pattern"),
        ("$.sr_hz", "minimum"), ("$.sr_hz", "maximum"),
        ("$.dur_ms", "minimum"), ("$.dur_ms", "maximum"),
        ("$.codec", "enum"),
        ("$.transcript", "minLength"), ("$.transcript", "maxLength"),
    ]


def test_additional_properties_schema_typed(spark):
    """An ``additionalProperties`` schema applies to every struct field and
    map key that ``properties`` does not name and no pattern matches."""
    schema = {"properties": {"a": {"type": "integer"}}, "additionalProperties": {"type": "integer"}}
    node = parse_schema(schema)
    df = spark.createDataFrame([(1, "x"), (2, None)], "a long, extra string")
    out = TableValidator(node, df.schema).apply(df).collect()
    assert [r.valid for r in out] == [False, True]  # a null field is absent
    assert [(v.path, v.keyword) for v in out[0].violations] == [("$.extra", "type")]
    assert [(v.path, v.keyword) for v in Validator(node).validate({"a": 1, "extra": "x"})] == [
        ("$.extra", "type")
    ]

    schema = {"properties": {"m": {
        "properties": {"a": {}}, "patternProperties": {"^p": {}},
        "additionalProperties": {"maximum": 5},
    }}}
    node = parse_schema(schema)
    rows = [({"a": 9, "p1": 9, "z": 1},), ({"z": 9},), ({},)]
    df = spark.createDataFrame(rows, T.StructType([T.StructField("m", T.MapType(T.StringType(), T.LongType()))]))
    got = [r.valid for r in TableValidator(node, df.schema).apply(df).collect()]
    assert got == [Validator(node).is_valid({"m": r[0]}) for r in rows] == [True, False, True]


def test_enum_keeps_members_of_the_column_type(spark):
    """Typed ``enum`` never compares across JSON types: a string column does
    not match the number 1, and a boolean member on an integer column is
    dropped instead of failing analysis."""
    df = spark.createDataFrame([("1", 1), ("abc", 2)], "s string, i long")

    def valid(schema):
        node = parse_schema(schema)
        got = [r.valid for r in TableValidator(node, df.schema).apply(df).collect()]
        core = [Validator(node).is_valid({"s": s, "i": i}) for s, i in df.collect()]
        assert got == core, (schema, got, core)
        return got

    assert valid({"properties": {"s": {"enum": [1]}}}) == [False, False]
    assert valid({"properties": {"i": {"enum": [True]}}}) == [False, False]
    assert valid({"properties": {"i": {"enum": [True, 1, "2", None]}}}) == [True, False]
    assert valid({"properties": {"s": {"enum": [1, "abc", False]}}}) == [False, True]
