"""Parser + round-trip tests, mirroring the reference's TestReadSchema
(schema_test.go:16-25), TestMarshal (marshal_test.go:13-65) and TestExtras
(schema_test.go:107-123)."""

import glob
import json
import os

import pytest

from jsschema_spark import FORBIDDEN, SchemaParseError, parse_schema, read_file, read_string
from jsschema_spark.schema import draft04_metaschema

CORPUS = "/root/reference/test"
NEEDS_CORPUS = pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason=f"reference corpus {CORPUS} is absent"
)


def corpus_schemas():
    return sorted(
        p
        for p in glob.glob(os.path.join(CORPUS, "*.json"))
        if "_pass" not in p and "_fail" not in p
    )


@pytest.mark.parametrize(
    "path", corpus_schemas(), ids=[os.path.basename(p) for p in corpus_schemas()]
)
def test_parse_all_corpus_schemas(path):
    node = read_file(path)
    # serialized form re-parses to an equivalent tree
    again = read_string(node.to_json())
    assert again.to_dict() == node.to_dict()


@NEEDS_CORPUS
def test_parse_qiita_real_world():
    """40KB real-world hyper-schema: parse robustness + extras preservation."""
    node = read_file(os.path.join(CORPUS, "qiita.json"))
    raw = json.load(open(os.path.join(CORPUS, "qiita.json"), encoding="utf-8"))
    assert set(node.properties) == set(raw["properties"])
    # 'links' is not a draft-04 keyword → must land in extras verbatim
    assert "links" in node.properties["authenticated_user"].extras


def test_metaschema_parses_and_selfrefs():
    meta = draft04_metaschema()
    assert meta.id == "http://json-schema.org/draft-04/schema#"
    assert meta.properties["additionalItems"].any_of[1].ref == "#"


ROUND_TRIP = [
    # the reference's byte-equality trio (marshal_test.go:17-45)
    '{\n  "type": "integer"\n}',
    '{\n  "type": "string"\n}',
    '{\n  "additionalProperties": false,\n  "properties": {\n    "attr": {\n'
    '      "type": "integer"\n    }\n  },\n  "type": "object"\n}',
]


@pytest.mark.parametrize("text", ROUND_TRIP, ids=["integer", "string", "object"])
def test_roundtrip_byte_equality(text):
    node = read_string(text)
    assert node.to_json(indent=2) == text


def test_tristate_and_forbidden_encoding():
    n = read_string('{"type": "object", "additionalProperties": false}')
    assert n.additional_properties is FORBIDDEN
    n2 = read_string('{"type": "object", "additionalProperties": true}')
    assert n2.additional_properties is None
    n3 = read_string('{"minimum": 0, "exclusiveMaximum": false}')
    assert n3.minimum == 0 and n3.exclusive_maximum is False and n3.exclusive_minimum is None
    # injected additionalProperties:false only for object-capable nodes
    assert "additionalProperties" not in read_string('{"type": "integer"}').to_dict()
    assert read_string('{"type": "object", "additionalProperties": false}').to_dict()[
        "additionalProperties"
    ] is False


def test_items_tuple_vs_list_mode():
    tup = read_string('{"items": [{"type": "number"}, {"type": "string"}]}')
    assert tup.items.tuple_mode and len(tup.items.schemas) == 2
    lst = read_string('{"items": {"type": "number"}}')
    assert not lst.items.tuple_mode and len(lst.items.schemas) == 1
    # round-trip preserves shape
    assert isinstance(tup.to_dict()["items"], list)
    assert isinstance(lst.to_dict()["items"], dict)


def test_dependencies_split():
    n = read_string(
        '{"dependencies": {"credit_card": ["billing_address"], "extra": {"type": "object"}}}'
    )
    assert n.dep_names == {"credit_card": ["billing_address"]}
    assert "extra" in n.dep_schemas


def test_scalar_or_list_acceptance():
    assert read_string('{"type": ["string", "null"]}').types == ["string", "null"]
    assert read_string('{"required": "name"}').required == ["name"]
    assert len(read_string('{"allOf": {"type": "string"}}').all_of) == 1


MALFORMED = [
    '{"minLength": "ten"}',  # reference silently drops this (quirk) — we raise
    '{"maxItems": 1.5}',
    '{"pattern": "["}',
    '{"type": "integerz"}',
    '{"dependencies": {"a": 3}}',
    '{"multipleOf": true}',
    '{"patternProperties": {"[": {}}}',
]


@pytest.mark.parametrize("text", MALFORMED)
def test_malformed_keywords_raise(text):
    with pytest.raises(SchemaParseError):
        read_string(text)


def test_extras_roundtrip():
    n = read_string('{"type": "object", "myCustomKeyword": {"x": [1, 2]}}')
    assert n.extras == {"myCustomKeyword": {"x": [1, 2]}}
    assert n.to_dict()["myCustomKeyword"] == {"x": [1, 2]}


def test_parent_wiring():
    n = read_string('{"properties": {"a": {"properties": {"b": {"type": "string"}}}}}')
    b = n.properties["a"].properties["b"]
    assert b.parent is n.properties["a"] and b.root() is n


def test_hyperschema_provider_registered():
    """Reference parity (schema.go:34-44): the embedded hyper-schema is
    served under the draft-03 URL the reference registers it with; $refs to
    it resolve without network access."""
    from jsschema_spark import parse_schema
    from jsschema_spark.pyvalidate import Validator
    from jsschema_spark.resolver import RefResolver
    from jsschema_spark.schema import draft04_hyperschema

    hyper = draft04_hyperschema()
    assert hyper.id == "http://json-schema.org/draft-04/hyper-schema#"
    assert "linkDescription" in hyper.definitions

    root = parse_schema(
        {"$ref": "http://json-schema.org/draft-03/hyper-schema#/definitions/linkDescription"}
    )
    r = RefResolver.with_default_providers(root)
    link = r.resolve_node(root)
    assert set(link.required) == {"href", "rel"}

    # validate an instance against the resolved link-description schema
    v = Validator(root, resolver=r)
    assert v.is_valid({"href": "/x/{id}", "rel": "self"})
    assert not v.is_valid({"href": "/x"})  # rel missing
