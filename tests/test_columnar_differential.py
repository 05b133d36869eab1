"""Differential test of the columnar draft-4 path (SQL text over VARIANT)
against the exact mapInPandas path, on seeded random liftable schemas
and documents.

The columnar path writes every schema literal (enum members, patterns,
bounds, paths) into SQL text, so the generator leans on the literals
that SQL text could get wrong: quotes, backslashes, the six characters
``\\u0041``, newlines, non-ASCII text and ``${x}`` in enum members and
patterns; decimal and float bounds; nested ``required``; array
``items``. Both paths must give the same ``_valid`` and the same
(keyword, instance_path, schema_path) triples, row for row, with
``spark.sql.parser.escapedStringLiterals`` off and on.

Left out on purpose (documented deviations of the columnar path,
draft4/columnar.py module docstring): numbers beyond decimal(38,18),
a ``$`` before a final ``\\r``, and characters other than ``\\n`` that
Java's ``.`` treats as line terminators.
"""

from __future__ import annotations

import json
import random

import pytest

from hjsonschema_spark.draft4.columnar import liftable, validate_json_column_columnar
from hjsonschema_spark.draft4.udf import validate_json_column

SEED = 20261019
N_OBJECT_SCHEMAS = 14
N_ARRAY_SCHEMAS = 4
DOCS_PER_SCHEMA = 40

WEIRD = [
    "it's", "back\\slash", "\\u0041", "A", "two\nlines", "naïve 日本", "${x}",
    "${env:HOME}", "a'b\\c", "\\'", "--", "/* x */", "plain", "", "x%sy", "tab\there",
]
PATTERNS = [
    "^[a-z]+$", "^a\\.b", "\\(x\\)", "^k[0-9]{1,3}$", "\\$\\{x\\}", "it's",
    "back\\\\slash", "[\\-_]x", "\\^|\\|", "^(?:ab|cd)*?e", "\\[\\]", "\\\\u0041",
    "^.+$", "\\n", "日本", "[^a-z ]",
]
INTS = [0, 1, -1, 7, 100000, 12345678901234567890]
# json.dumps writes 1e-05 and 1e+16 with exponents
FLOATS = [0.1, 2.5, -0.25, 3.75, 0.5, 1.0, 7.0, 1.5, 99999.5, 1e-05, 1e16]
BOUNDS = [-1, 0, 0.1, 2.5, 7, -0.25, 1, 100000, 1.5]
KEYS = ["a", "b_1", "tool", "x9", "Zed", "q"]
# Every literal above, in one schema, next to the random ones.
COVERAGE = {
    "type": "object",
    "required": ["e"],
    "properties": {
        "e": {"enum": [*WEIRD, 1, 2.5, True, None]},
        "s": {"type": "string", "enum": WEIRD, "maxLength": 6},
        **{f"p{i}": {"type": "string", "pattern": p} for i, p in enumerate(PATTERNS)},
        "n": {"type": "number", "minimum": 0.1, "maximum": 99999.5, "exclusiveMaximum": True},
        "i": {"type": "integer", "minimum": -0.25, "maximum": 2.5},
        "t": {"type": "array", "items": {"enum": WEIRD, "pattern": "\\$\\{x\\}|it's"}, "maxItems": 3},
        "o": {"type": "object", "required": ["a", "q"]},
    },
}


def _scalar_sub(rng: random.Random) -> dict:
    kind = rng.choice(["string", "number", "integer", "boolean", "null", None])
    sub: dict = {} if kind is None else {"type": kind}
    if kind in ("string", None) and rng.random() < 0.6:
        members: list = rng.sample(WEIRD, rng.randint(1, 12))
        if kind is None:
            members += rng.sample([1, 2.5, True, False, None, 0.1], 2)
        sub["enum"] = members
    if kind in ("number", "integer", None):
        for kw in ("minimum", "maximum"):
            if rng.random() < 0.5:
                sub[kw] = rng.choice(BOUNDS)
                if rng.random() < 0.4:
                    sub[f"exclusive{kw[0].upper()}{kw[1:]}"] = rng.random() < 0.5
    if kind in ("string", None):
        if rng.random() < 0.3:
            sub["minLength"] = rng.randint(0, 4)
        if rng.random() < 0.3:
            sub["maxLength"] = rng.randint(1, 8)
        if rng.random() < 0.5:
            sub["pattern"] = rng.choice(PATTERNS)
    return sub


def _array_sub(rng: random.Random) -> dict:
    sub: dict = {"items": _scalar_sub(rng)}
    if rng.random() < 0.7:
        sub["type"] = "array"
    if rng.random() < 0.5:
        sub["minItems"] = rng.randint(0, 2)
    if rng.random() < 0.5:
        sub["maxItems"] = rng.randint(1, 4)
    return sub


def _object_schema(rng: random.Random) -> dict:
    keys = rng.sample(KEYS, rng.randint(1, len(KEYS)))
    props = {}
    for k in keys:
        r = rng.random()
        if r < 0.6:
            props[k] = _scalar_sub(rng)
        elif r < 0.85:
            props[k] = _array_sub(rng)
        else:
            props[k] = {"type": "object", "required": rng.sample(KEYS, rng.randint(1, 3))}
    schema: dict = {"properties": props}
    if rng.random() < 0.8:
        schema["type"] = "object"
    if rng.random() < 0.7:
        schema["required"] = rng.sample(KEYS, rng.randint(1, 3))
    return schema


def _scalar(rng: random.Random):
    return rng.choice(
        [
            lambda: rng.choice(WEIRD),
            lambda: rng.choice(["ab", "k12", "a.b", "(x)", "abe", "cdabe", "[]", "Z", "x-x"]),
            lambda: rng.choice(INTS),
            lambda: rng.choice(FLOATS),
            lambda: rng.random() < 0.5,
            lambda: None,
        ]
    )()


def _value(rng: random.Random, sub: dict):
    r = rng.random()
    if r < 0.15:
        return [_scalar(rng) for _ in range(rng.randint(0, 5))]
    if r < 0.25:
        return {k: _scalar(rng) for k in rng.sample(KEYS, rng.randint(0, 3))}
    if "enum" in sub and r < 0.55:
        return rng.choice(sub["enum"])
    return _scalar(rng)


def _doc(rng: random.Random, schema: dict) -> str | None:
    r = rng.random()
    if r < 0.03:
        return None
    if r < 0.06:
        return '{"a": '
    if r < 0.1:
        return json.dumps(_scalar(rng))
    if schema.get("type") == "array" or "items" in schema:
        items = schema.get("items", {})
        return json.dumps([_value(rng, items) for _ in range(rng.randint(0, 6))])
    doc = {}
    for k, sub in schema["properties"].items():
        if rng.random() < 0.85:
            if "items" in sub and rng.random() < 0.8:
                doc[k] = [_value(rng, sub["items"]) for _ in range(rng.randint(0, 5))]
            elif sub.get("type") == "object" and rng.random() < 0.8:
                doc[k] = {q: _scalar(rng) for q in rng.sample(KEYS, rng.randint(0, 4))}
            else:
                doc[k] = _value(rng, sub)
    return json.dumps(doc, ensure_ascii=rng.random() < 0.5)


def _cases() -> list[tuple[dict, list]]:
    rng = random.Random(SEED)
    schemas = [COVERAGE, *(_object_schema(rng) for _ in range(N_OBJECT_SCHEMAS))]
    schemas += [
        {"type": "array", **{k: v for k, v in _array_sub(rng).items() if k != "type"}}
        for _ in range(N_ARRAY_SCHEMAS)
    ]
    out = []
    for s in schemas:
        assert liftable(s), s
        out.append((s, [_doc(rng, s) for _ in range(DOCS_PER_SCHEMA)]))
    return out


def _outcomes(df) -> dict:
    return {
        r.i: (
            r._valid,
            None
            if r._failures_json is None
            else sorted((f.keyword, f.instance_path, f.schema_path) for f in r._failures_json),
        )
        for r in df.collect()
    }


@pytest.mark.parametrize("escaped", [False, True], ids=["default", "escapedStringLiterals"])
def test_columnar_matches_exact_on_generated_schemas(spark, escaped):
    cases = _cases()
    exact = []
    for schema, docs in cases:
        df = spark.createDataFrame(list(enumerate(docs)), "i int, j string")
        exact.append((df, _outcomes(validate_json_column(df, "j", schema))))
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, str(escaped).lower())
    try:
        for (schema, docs), (df, want) in zip(cases, exact):
            got = _outcomes(validate_json_column_columnar(df, "j", schema))
            for i, doc in enumerate(docs):
                assert got[i] == want[i], (schema, doc, got[i], want[i])
    finally:
        spark.conf.set(key, before)
    # not vacuous: both verdicts, and failures of every keyword family
    seen = [o for _, want in exact for o in want.values()]
    assert {v for v, _ in seen} == {True, False, None}
    kws = {t[0] for _, ts in seen for t in ts or []}
    assert {"type", "enum", "pattern", "minimum", "maximum", "required", "parse"} <= kws, kws
    assert {"minItems", "maxItems", "minLength", "maxLength"} & kws, kws
