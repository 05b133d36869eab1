"""Differential test of ``Draft4Validator`` against an independent
implementation: the installed ``jsonschema.Draft4Validator``.

Hypothesis generates meta-schema-valid draft-4 schemas, typed to the
keywords (the generator is modelled on ``jsonschema/tests/
fuzz_validate.py``, which draws untyped dicts), and JSON instances
drawn from the same small vocabulary of keys, strings and numbers, so
most keywords see instances they apply to. For every (schema,
instance) pair the two validators must agree on accept/reject, and
both must accept the schema under the draft-4 meta-schema.

Where the reference (hjsonschema) and jsonschema differ by design, the
oracle is adjusted to the reference's rule. ``DIVERGENCES`` is the one
table of those rules, each with the reference source that states it and
an example that the plain oracle and the adjusted one decide
differently. ``$ref`` cycles taken without descending into the
instance are not generated: the reference reports them as a failure,
jsonschema recurses without end.
"""

from __future__ import annotations

import json
from decimal import Decimal
from fractions import Fraction

import jsonschema
from hypothesis import given, settings
from hypothesis import strategies as st
from jsonschema.exceptions import ValidationError

from hjsonschema_spark.draft4 import Draft4Validator, loads_json


def _frac(x):
    # a JSON number is the decimal its text spells (aeson Scientific)
    return Fraction(Decimal(repr(x))) if isinstance(x, float) else Fraction(x)


def _decimal_multiple_of(validator, n, instance, schema):
    if validator.is_type(instance, "number") and (_frac(instance) / _frac(n)).denominator != 1:
        yield ValidationError(f"{instance!r} is not a multiple of {n!r}")


def _integral_number(checker, v):
    if isinstance(v, bool):
        return False
    return isinstance(v, int) or (isinstance(v, float) and v.is_integer())


# name -> (reference rule and where it is stated, how the oracle
# follows it, an example (schema, instance) it changes)
DIVERGENCES = {
    "integral float is an integer": (
        "integer = a Number with SCI.isInteger, so 1.0 is an integer: "
        "src/JSONSchema/Validator/Draft4/Any.hs:338-341",
        {"type_checker": ("integer", _integral_number)},
        ({"type": "integer"}, 1.0),
    ),
    "multipleOf is exact decimal arithmetic": (
        "x mod' n over Scientific, the decimal the JSON text spells: "
        "src/JSONSchema/Validator/Draft4/Number.hs:25-29, "
        "src/JSONSchema/Validator/Utils.hs:94-119",
        {"validators": {"multipleOf": _decimal_multiple_of}},
        ({"multipleOf": 0.1}, 0.3),
    ),
}


def _oracle_class():
    base = jsonschema.Draft4Validator
    checker, validators = base.TYPE_CHECKER, {}
    for _, adjust, _ in DIVERGENCES.values():
        if "type_checker" in adjust:
            checker = checker.redefine(*adjust["type_checker"])
        validators.update(adjust.get("validators", {}))
    return jsonschema.validators.extend(base, validators=validators, type_checker=checker)


_Oracle = _oracle_class()

# --- generators -------------------------------------------------------

_KEYS = ["a", "b", "c", "x1", "xy"]
_STRS = ["", "a", "ab", "abc", "b", "x1", "9", "é"]
_PATTERNS = ["^a", "b$", "[0-9]+", "x|y", "^$", "a.c", "^[a-z]*$"]
_TYPES = ["null", "boolean", "integer", "number", "string", "array", "object"]
_NUMS = st.one_of(
    st.integers(-4, 4),  # small pools, so instances hit bounds exactly
    st.integers(-20, 20),
    st.sampled_from([0.5, 1.5, 2.25, -0.5, 0.1, 0.3, 2.0, 3.0, -4.0]),
    st.floats(-1e6, 1e6, allow_nan=False),
)
_POS = st.one_of(st.integers(1, 6), st.sampled_from([0.5, 0.1, 0.25, 1.5, 0.3]))
_SIZE = st.integers(0, 4)
_SCALAR = st.one_of(
    st.none(), st.booleans(), _NUMS, st.sampled_from(_STRS), st.text(max_size=3)
)


def _twin(v):
    return float(v) if isinstance(v, int) and not isinstance(v, bool) else v


def _containers(inner):
    return st.one_of(
        st.lists(inner, max_size=4),
        # a repeated element (an int also as a float), for uniqueItems
        st.lists(inner, min_size=1, max_size=3).map(lambda xs: xs + [_twin(xs[0])]),
        st.dictionaries(st.sampled_from(_KEYS), inner, max_size=4),
    )


_JSON = st.recursive(_SCALAR, _containers, max_leaves=8)
_INSTANCE = _SCALAR | _containers(_JSON)
_NAMES = st.lists(st.sampled_from(_KEYS), min_size=1, max_size=3, unique=True)

_LEAF_KWS = ["type", "enum", "bounds", "multipleOf", "length", "pattern", "sizes", "uniqueItems", "required"]
_NODE_KWS = _LEAF_KWS + ["items", "object", "dependencies", "allOf", "anyOf", "oneOf", "not", "$ref"]


@st.composite
def _schema(draw, depth=0, descended=False):
    """One schema node. ``descended``: the path from the root passes
    through items/properties, so a ``$ref`` back to the root takes a
    step into the instance each time round."""
    kws = draw(st.sets(st.sampled_from(_NODE_KWS if depth < 3 else _LEAF_KWS), min_size=1, max_size=3))
    sub = _schema(depth + 1, descended)
    below = _schema(depth + 1, True)
    s: dict = {}
    if "$ref" in kws:
        return {"$ref": draw(st.sampled_from(["#/definitions/d0", "#/definitions/d1"] + ["#"] * descended))}
    if "type" in kws:
        t = draw(st.lists(st.sampled_from(_TYPES), min_size=1, max_size=2, unique=True))
        s["type"] = t[0] if len(t) == 1 and draw(st.booleans()) else t
    if "enum" in kws:
        s["enum"] = draw(st.lists(_JSON, min_size=1, max_size=4, unique_by=lambda v: json.dumps(_canon(v))))
    if "bounds" in kws:
        for kw in draw(st.sets(st.sampled_from(["minimum", "maximum"]), min_size=1)):
            s[kw] = draw(_NUMS)
            if draw(st.booleans()):
                s["exclusive" + kw[0].upper() + kw[1:]] = draw(st.booleans())
    if "multipleOf" in kws:
        s["multipleOf"] = draw(_POS)
    if "length" in kws:
        for kw in draw(st.sets(st.sampled_from(["minLength", "maxLength"]), min_size=1)):
            s[kw] = draw(_SIZE)
    if "pattern" in kws:
        s["pattern"] = draw(st.sampled_from(_PATTERNS))
    if "sizes" in kws:
        for kw in draw(st.sets(st.sampled_from(["minItems", "maxItems", "minProperties", "maxProperties"]), min_size=1)):
            s[kw] = draw(_SIZE)
    if "uniqueItems" in kws:
        s["uniqueItems"] = draw(st.booleans())
    if "required" in kws:
        s["required"] = draw(_NAMES)
    if "items" in kws:
        if draw(st.booleans()):
            s["items"] = draw(below)
        else:
            s["items"] = draw(st.lists(below, min_size=1, max_size=3))
            if draw(st.booleans()):
                s["additionalItems"] = draw(st.booleans() | below)
    if "object" in kws:
        if draw(st.booleans()):
            s["properties"] = draw(st.dictionaries(st.sampled_from(_KEYS), below, max_size=3))
        if draw(st.booleans()):
            s["patternProperties"] = draw(st.dictionaries(st.sampled_from(_PATTERNS), below, max_size=2))
        if draw(st.booleans()):
            s["additionalProperties"] = draw(st.booleans() | below)
    if "dependencies" in kws:
        s["dependencies"] = draw(st.dictionaries(st.sampled_from(_KEYS), _NAMES | sub, min_size=1, max_size=2))
    for kw in ("allOf", "anyOf", "oneOf"):
        if kw in kws:
            s[kw] = draw(st.lists(sub, min_size=1, max_size=3))
    if "not" in kws:
        s["not"] = draw(sub)
    return s


def _canon(v):
    """Equality classes of JSON values under mathematical number
    equality (1 == 1.0, True != 1), for drawing unique enums."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return [type(v).__name__, v]
    if isinstance(v, (int, float)):
        return ["n", str(_frac(v))]
    if isinstance(v, list):
        return ["a", [_canon(x) for x in v]]
    return ["o", sorted((k, _canon(x)) for k, x in v.items())]


@st.composite
def _root(draw):
    s = draw(_schema())
    # definitions are leaves: a $ref to them can never loop
    s["definitions"] = {f"d{i}": draw(_schema(depth=3)) for i in range(2)}
    return s


_N_INSTANCES = 6
_EXAMPLES = 950


def test_accept_reject_matches_jsonschema():
    """≥ 5k generated (schema, instance) cases."""
    seen = {"cases": 0, "rejected": 0}

    @given(schema=_root(), instances=st.lists(_INSTANCE, min_size=_N_INSTANCES, max_size=_N_INSTANCES))
    @settings(max_examples=_EXAMPLES, deadline=None, derandomize=True, database=None)
    def check(schema, instances):
        jsonschema.Draft4Validator.check_schema(schema)
        ours, oracle = Draft4Validator(schema), _Oracle(schema)
        ours_dec = Draft4Validator(loads_json(json.dumps(schema)))
        for inst in instances:
            ok = ours.is_valid(inst)
            assert ok == oracle.is_valid(inst), (schema, inst, ours.validate(inst))
            # the exact Spark path reads documents with decimals
            assert ours_dec.is_valid(loads_json(json.dumps(inst))) == ok, (schema, inst)
            seen["cases"] += 1
            seen["rejected"] += not ok

    check()
    assert seen["cases"] >= 5000
    # both outcomes are well represented
    assert 0.2 < seen["rejected"] / seen["cases"] < 0.8, seen


def test_divergence_table_examples():
    """Each divergence is real: the plain oracle decides its example one
    way, the adjusted oracle and ``Draft4Validator`` the other."""
    for name, (_, _, (schema, inst)) in DIVERGENCES.items():
        ours = Draft4Validator(schema).is_valid(inst)
        assert _Oracle(schema).is_valid(inst) == ours, name
        assert jsonschema.Draft4Validator(schema).is_valid(inst) != ours, name


def test_meta_schema_check_matches_jsonschema():
    """``check_schema`` (our meta-schema validation) agrees with
    jsonschema's on valid and broken schemas."""
    cases = [
        {"type": "string"}, {"type": 12}, {"type": ["string", "string"]}, {"enum": []},
        {"enum": [1, 1]}, {"minLength": -1}, {"maximum": 3, "exclusiveMaximum": True},
        {"exclusiveMaximum": True}, {"required": []}, {"multipleOf": 0}, {"items": [1]},
        {"properties": {"a": {"$ref": "#"}}, "additionalProperties": False}, {"pattern": 5},
        {"dependencies": {"a": ["b"], "c": {"not": {}}}}, {"allOf": []}, {"minItems": 1.5},
    ]
    for schema in cases:
        try:
            jsonschema.Draft4Validator.check_schema(schema)
            want = True
        except jsonschema.SchemaError:
            want = False
        try:
            Draft4Validator(schema, check_schema=True)
            got = True
        except Exception:
            got = False
        assert got == want, schema
