"""Known-answer tests for the exact Draft-4 validator.

``data/draft4_failures_kat.json`` holds 427 seeded (schema, instance)
pairs with the full ``Failure`` rows (keyword, instance_path,
schema_path, message, value, in order) that the per-document
interpreting validator of commit 604808d returned for them. The
compiled validator must return the same rows. The pairs cover every
keyword, ``$ref`` loops and unresolvable ``$ref``s, ``id`` re-basing
across registry documents, both forms of ``dependencies``,
``patternProperties``, ``additionalItems``, ``oneOf`` with several
matches, exclusive bounds, decimal ``multipleOf`` and a non-unique
enum. Each pair is parsed in one of two modes: ``f`` reads schema and
instance with ``json.loads`` (floats), ``d`` with ``loads_json``
(decimals, as the exact Spark path reads documents).

The second test pins the compile step: once a validator is built and
has seen one document, validating reads no schema dict at all.
"""

from __future__ import annotations

import json
import os

import pytest

from hjsonschema_spark.draft4 import Draft4Validator, SchemaInvalid, loads_json

_KAT = os.path.join(os.path.dirname(__file__), "data", "draft4_failures_kat.json")
_LOADS = {"f": json.loads, "d": loads_json}


def test_failures_match_recorded_rows():
    with open(_KAT) as f:
        groups = json.load(f)
    n = 0
    for g in groups:
        validators = {}
        for mode, text, want in g["cases"]:
            load = _LOADS[mode]
            if mode not in validators:
                reg = load(g["registry"]) if g["registry"] else None
                validators[mode] = Draft4Validator(load(g["schema"]), registry=reg, base_uri=g["base_uri"])
            got = [list(f.as_row()) for f in validators[mode].validate(load(text))]
            assert got == want, (g["schema"], mode, text)
            n += 1
    assert n >= 400


class _Counting(dict):
    """A schema object that counts every read of its members."""

    reads = 0

    def _hit(self):
        type(self).reads += 1

    def __getitem__(self, k):
        self._hit()
        return super().__getitem__(k)

    def get(self, k, default=None):
        self._hit()
        return super().get(k, default)

    def __contains__(self, k):
        self._hit()
        return super().__contains__(k)

    def __iter__(self):
        self._hit()
        return super().__iter__()

    def keys(self):
        self._hit()
        return super().keys()

    def values(self):
        self._hit()
        return super().values()

    def items(self):
        self._hit()
        return super().items()


def _counting(v):
    if isinstance(v, dict):
        return _Counting({k: _counting(x) for k, x in v.items()})
    if isinstance(v, list):
        return [_counting(x) for x in v]
    return v


_SCHEMA = {
    "id": "http://kat.test/root.json",
    "definitions": {
        "tag": {"type": "string", "pattern": "^[a-z]+$", "maxLength": 8},
        "node": {
            "type": "object",
            "properties": {"v": {"type": "integer"}, "kids": {"items": {"$ref": "#/definitions/node"}}},
        },
    },
    "type": "object",
    "required": ["tool", "n"],
    "properties": {
        "tool": {"enum": ["search", "fetch", 1.5, [1, {"a": None}]]},
        "n": {"type": "integer", "minimum": 0, "maximum": 100, "exclusiveMaximum": True, "multipleOf": 2},
        "x": {"type": "number", "multipleOf": 0.25, "minimum": -1.5},
        "tags": {"type": "array", "items": {"$ref": "#/definitions/tag"}, "maxItems": 3, "uniqueItems": True},
        "pair": {"items": [{"type": "string"}, {"type": "boolean"}], "additionalItems": False},
        "tree": {"$ref": "#/definitions/node"},
        "ext": {"$ref": "other.json#/definitions/s"},
        "alt": {"anyOf": [{"type": "null"}, {"minLength": 2}], "oneOf": [{"type": "string"}, {"type": "null"}]},
        "neg": {"not": {"type": "boolean"}, "allOf": [{"maxProperties": 2}, {"minProperties": 1}]},
    },
    "patternProperties": {"^m_": {"type": "integer"}},
    "additionalProperties": {"type": ["string", "null"]},
    "dependencies": {"x": ["n"], "pair": {"required": ["tags"]}},
}
_OTHER = {"http://kat.test/other.json": {"definitions": {"s": {"type": "string", "minLength": 1}}}}


def _docs(n):
    for i in range(n):
        yield {
            "tool": ["search", "fetch", 1.5, "nope"][i % 4],
            "n": i % 120,
            "x": [0.25, 0.3, -2, 1][i % 4],
            "tags": ["a", "bb", "c1", "a"][: 1 + i % 4],
            "pair": ["p", i % 3 == 0, 7][: 2 + i % 2],
            "tree": {"v": i, "kids": [{"v": 1, "kids": [{"v": "x"}]}, {"v": 2.5}]},
            "ext": "" if i % 5 else "e",
            "alt": [None, "ab", "a", 3][i % 4],
            "neg": [{"a": 1}, {}, True, {"a": 1, "b": 2, "c": 3}][i % 4],
            "m_1": i if i % 7 else "s",
            "other": [None, "s", 3][i % 3],
        }


def test_validate_reads_no_schema_dict():
    """Warm-up resolves and compiles every $ref; after it, 1,000 more
    documents make zero reads of any schema object (the interpreting
    validator read every node's dict for every document)."""
    schema, other = _counting(_SCHEMA), _counting(_OTHER)
    v = Draft4Validator(schema, registry=other)
    want = Draft4Validator(_SCHEMA, registry=_OTHER)
    docs = list(_docs(1001))
    assert v.validate(docs[0]) == want.validate(docs[0])
    _Counting.reads = 0
    for d in docs[1:]:
        assert v.validate(d) == want.validate(d)
    assert _Counting.reads == 0


def test_unusable_keyword_value_raises_at_construction():
    """A keyword value the compile step cannot use raises SchemaInvalid
    naming its node when the validator is built, not when the first
    document reaches it; a $ref target when the $ref is first taken."""
    with pytest.raises(SchemaInvalid, match="at #/properties/a: TypeError"):
        Draft4Validator({"properties": {"a": {"type": 12}}})
    with pytest.raises(SchemaInvalid, match="at #/items/1: OverflowError"):
        Draft4Validator({"items": [{}, {"maximum": float("inf")}]})
    with pytest.raises(SchemaInvalid):
        Draft4Validator({"properties": {"a": {"type": 12}}}, check_schema=True)
    v = Draft4Validator({"properties": {"b": {"$ref": "other.json#/d~1e"}}},
                        registry={"other.json": {"d/e": {"multipleOf": float("nan")}}})
    assert v.validate({"a": 1}) == []
    with pytest.raises(SchemaInvalid, match="at other.json#/d~1e: ValueError"):
        v.validate({"b": 1})
