"""Golden-corpus conformance: the pure-Python semantic core must agree with
every pass/fail fixture of the reference (schema_test.go:35-105; suite list
schema_test.go:36-58). This is the BASELINE correctness component (100%)."""

import glob
import json
import os

import pytest

from jsschema_spark import read_file, read_string
from jsschema_spark.pyvalidate import Validator
from jsschema_spark.resolver import RefResolver

CORPUS = "/root/reference/test"
NEEDS_CORPUS = pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason=f"reference corpus {CORPUS} is absent"
)

# the reference's suite list (schema_test.go:36-58)
SUITES = [
    "allof", "anyof", "array", "arraylength", "arraytuple",
    "arraytuple_disallow_additional", "arrayunique", "boolean", "business",
    "integer", "not", "null", "numrange", "numrange_exclmax",
    "objectpatterns", "objectpropdepend", "objectpropsize",
    "objectproprequired", "oneof", "strlen", "strpattern",
]


def corpus_cases():
    cases = []
    for suite in SUITES:
        for p in sorted(glob.glob(os.path.join(CORPUS, f"{suite}_pass*.json"))):
            cases.append((suite, p, True))
        for p in sorted(glob.glob(os.path.join(CORPUS, f"{suite}_fail*.json"))):
            cases.append((suite, p, False))
    return cases


@NEEDS_CORPUS
def test_corpus_is_complete():
    cases = corpus_cases()
    n_pass = sum(1 for _, _, ok in cases if ok)
    n_fail = sum(1 for _, _, ok in cases if not ok)
    assert (n_pass, n_fail) == (40, 35)


@pytest.mark.parametrize(
    "suite,path,expect_pass",
    corpus_cases(),
    ids=[os.path.basename(p)[:-5] for _, p, _ in corpus_cases()],
)
def test_golden_corpus(suite, path, expect_pass):
    schema = read_file(os.path.join(CORPUS, f"{suite}.json"))
    v = Validator(schema)
    instance = json.load(open(path, encoding="utf-8"))
    violations = v.validate(instance)
    if expect_pass:
        assert violations == [], f"{path} should pass, got {violations}"
    else:
        assert violations, f"{path} should fail but validated clean"


@NEEDS_CORPUS
def test_business_ref_resolution():
    """#/definitions/address inside allOf (business.json)."""
    schema = read_file(os.path.join(CORPUS, "business.json"))
    res = RefResolver.with_default_providers(schema)
    addr = res.resolve("#/definitions/address")
    assert addr.required == ["street_address", "city", "state"]
    # memo cache returns the same object
    assert res.resolve("#/definitions/address") is addr


def test_negative_cache():
    schema = read_string('{"definitions": {"address": {"type": "object"}}}')
    res = RefResolver.with_default_providers(schema)
    import pytest as _pt
    from jsschema_spark.errors import ResolutionError

    with _pt.raises(ResolutionError):
        res.resolve("#/definitions/nope")
    # second hit comes from the negative cache (same error instance)
    try:
        res.resolve("#/definitions/nope")
    except ResolutionError as e:
        assert res._cache["#/definitions/nope"] is e
    else:
        _pt.fail("second resolve did not raise")


def test_metaschema_validates_itself():
    """The draft-04 meta-schema self-validates (recursive $ref '#')."""
    from jsschema_spark.schema import draft04_metaschema, draft04_metaschema_dict

    meta = draft04_metaschema()
    v = Validator(meta)
    assert v.is_valid(draft04_metaschema_dict())


def test_metaschema_rejects_bad_schema_doc():
    from jsschema_spark.schema import draft04_metaschema

    v = Validator(draft04_metaschema())
    assert not v.is_valid({"type": 3})
    assert not v.is_valid({"exclusiveMaximum": "yes"})


def test_semantics_spot_checks():
    from jsschema_spark import read_string
    from jsschema_spark.pyvalidate import validate_value

    integer = read_string('{"type": "integer"}')
    assert validate_value(integer, 42) == []
    assert validate_value(integer, 3.1415926) != []
    assert validate_value(integer, "42") != []
    assert validate_value(integer, True) != []  # bool is not integer
    assert validate_value(integer, 3.0) == []  # integral float passes

    null = read_string('{"type": "null"}')
    assert validate_value(null, None) == []
    assert validate_value(null, 0) != []
    assert validate_value(null, False) != []

    uniq = read_string('{"type": "array", "uniqueItems": true}')
    assert validate_value(uniq, []) == []
    assert validate_value(uniq, [1, 2, 3, 3, 4]) != []
    assert validate_value(uniq, [1, True]) == []  # 1 != true
    assert validate_value(uniq, [1, 1.0]) != []  # 1 == 1.0
    assert validate_value(uniq, [{"a": 1, "b": 2}, {"b": 2, "a": 1}]) != []  # deep eq

    oneof = read_string(
        '{"oneOf": [{"type": "number", "multipleOf": 5}, {"type": "number", "multipleOf": 3}]}'
    )
    assert validate_value(oneof, 10) == []
    assert validate_value(oneof, 15) != []  # matches both

    dep = read_string('{"dependencies": {"credit_card": ["billing_address"]}}')
    assert validate_value(dep, {"credit_card": 5555}) != []
    assert validate_value(dep, {"credit_card": 5555, "billing_address": "x"}) == []
    assert validate_value(dep, {"name": "x"}) == []
