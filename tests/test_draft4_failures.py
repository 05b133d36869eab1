"""Failure-structure goldens — the analogue of the reference's exact
ValidatorFailure pins (test/Local/Failure.hs:20-105): failures carry
the right keyword, JSON-pointer paths, and offending value."""

from __future__ import annotations

from hjsonschema_spark.draft4 import Draft4Validator


def _fails(schema, data):
    return Draft4Validator(schema).validate(data)


def test_items_object_form_failure_paths():
    # every element validated; failing indices appear in instance_path
    fs = _fails({"items": {"type": "integer"}}, [1, "a", 2, "b"])
    assert [(f.keyword, f.instance_path) for f in fs] == [("type", "/1"), ("type", "/3")]
    assert fs[0].schema_path == "/items/type"


def test_items_array_form_positional():
    schema = {"items": [{"type": "integer"}, {"type": "string"}]}
    fs = _fails(schema, ["x", 1])
    assert [(f.keyword, f.instance_path, f.schema_path) for f in fs] == [
        ("type", "/0", "/items/0/type"),
        ("type", "/1", "/items/1/type"),
    ]
    # extra elements fall through to additionalItems
    fs2 = _fails({**schema, "additionalItems": False}, [1, "a", 99])
    assert [(f.keyword, f.instance_path) for f in fs2] == [("additionalItems", "")]
    fs3 = _fails({**schema, "additionalItems": {"type": "boolean"}}, [1, "a", 99])
    assert [(f.keyword, f.instance_path) for f in fs3] == [("type", "/2")]


def test_nested_object_property_paths():
    schema = {"properties": {"a": {"properties": {"b": {"minimum": 10}}}}}
    fs = _fails(schema, {"a": {"b": 3}})
    assert len(fs) == 1
    assert fs[0].keyword == "minimum"
    assert fs[0].instance_path == "/a/b"
    assert fs[0].schema_path == "/properties/a/properties/b/minimum"
    assert fs[0].value == "3"


def test_all_failures_collected_no_short_circuit():
    # all validators run, failures concatenated (Types.hs:20-26)
    schema = {"type": "string", "enum": ["x"], "minimum": 5}
    fs = _fails(schema, 2)
    assert {f.keyword for f in fs} == {"type", "enum", "minimum"}


def test_oneof_failure_detail():
    fs = _fails({"oneOf": [{"type": "integer"}, {"minimum": 0}]}, 3)
    assert fs[0].keyword == "oneOf" and "2 branches" in fs[0].message
    fs2 = _fails({"oneOf": [{"type": "string"}, {"type": "array"}]}, 3)
    assert fs2[0].keyword == "oneOf" and "no branch" in fs2[0].message


def test_dependency_schema_form_lateral():
    # schema-form dependency validates the WHOLE object (Object.hs:173)
    schema = {"dependencies": {"a": {"required": ["b"]}}}
    fs = _fails(schema, {"a": 1})
    assert fs[0].keyword == "required" and fs[0].schema_path == "/dependencies/a/required"
    assert _fails(schema, {"a": 1, "b": 2}) == []


def test_ref_sibling_keywords_ignored():
    # "$ref" overrides any sibling keywords (Spec.hs:129-133)
    schema = {
        "definitions": {"any": {}},
        "$ref": "#/definitions/any",
        "type": "string",  # must be IGNORED
    }
    assert Draft4Validator(schema).is_valid(123)


def test_enum_non_unique_is_vacuous():
    # a non-unique enum validates nothing (validator module docstring),
    # also on a second instance through the same validator
    v = Draft4Validator({"enum": [1, 1.0, "x"]})
    assert v.validate(2) == [] and v.validate("y") == []


def test_enum_numbers_by_mathematical_equality():
    v = Draft4Validator({"enum": [1]})
    assert v.validate(1) == [] and v.validate(1.0) == []
    fs = v.validate(1.5)
    assert [(f.keyword, f.instance_path, f.schema_path) for f in fs] == [("enum", "", "/enum")]


def test_enum_nested_array_and_object_members():
    v = Draft4Validator(
        {"properties": {"a": {"enum": [[1, {"b": [2.0]}], {"c": None}]}}}
    )
    assert v.validate({"a": [1.0, {"b": [2]}]}) == []
    assert v.validate({"a": {"c": None}}) == []
    for bad in ([1, {"b": [3]}], [{"b": [2]}, 1], {"c": False}, {"c": None, "d": 1}):
        fs = v.validate({"a": bad})
        assert [(f.keyword, f.instance_path, f.schema_path) for f in fs] == [
            ("enum", "/a", "/properties/a/enum")
        ], bad
