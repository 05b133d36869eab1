"""Draft-4 schema → CheckSuite compiler: keyword lifts, $ref/pointer
resolution, documented non-liftable shapes, and an end-to-end run_suite
pass over a table with one violation of each lifted kind."""

from __future__ import annotations

import pytest

from hjsonschema_spark.checks.ir import ConfigInvalid
from hjsonschema_spark.checks.from_schema import suite_from_schema

SCHEMA = {
    "definitions": {"pos": {"type": "integer", "minimum": 1}},
    "type": "object",
    "required": ["id"],
    "additionalProperties": False,
    "minProperties": 2,
    "properties": {
        "id": {"$ref": "#/definitions/pos"},
        "role": {"enum": ["user", "assistant"]},
        "text": {"type": "string", "minLength": 2, "pattern": "^[a-z ]+$"},
        "score": {"type": "number", "minimum": 0, "maximum": 1, "exclusiveMaximum": True},
        "tags": {
            "type": "array", "minItems": 1, "uniqueItems": True,
            "items": {"minLength": 2},
        },
        "pair": {"items": [{"minimum": 0}, {"maximum": 10}], "additionalItems": False},
        "tool": {"type": "string"},
    },
    "patternProperties": {"^m_": {"minimum": 0}},
    "dependencies": {"tool": ["role"]},
}

DDL = (
    "id long, role string, text string, score double, tags array<string>, "
    "pair array<long>, tool string, m_a double"
)

ROWS = [
    (1, "user", "hello", 0.5, ["ab", "cd"], [0, 5], None, 1.0),   # clean
    (0, "user", "hello", 0.5, ["ab"], [0, 5], None, 1.0),         # bounds:id ($ref)
    (3, "admin", "hello", 0.5, ["ab"], [0, 5], None, 1.0),        # enum:role
    (4, "user", "Xy", 0.5, ["ab"], [0, 5], None, 1.0),            # pattern:text
    (5, "user", "hi", 1.0, ["ab"], [0, 5], None, 1.0),            # bounds:score (excl max)
    (6, "user", "hi", 0.5, [], [0, 5], None, 1.0),                # array_size:tags
    (7, "user", "hi", 0.5, ["a", "ab"], [0, 5], None, 1.0),       # array_forall:tags
    (8, "user", "hi", 0.5, ["ab", "ab"], [0, 5], None, 1.0),      # array_unique:tags
    (9, "user", "hi", 0.5, ["ab"], [-1, 5], None, 1.0),           # array_positional:pair
    (10, "user", "hi", 0.5, ["ab"], [0, 5, 9], None, 1.0),        # additionalItems: false
    (11, None, "hi", 0.5, ["ab"], [0, 5], "calc", 1.0),           # dependency tool=>role
    (12, "user", "hi", 0.5, ["ab"], [0, 5], None, -1.0),          # patternProperties m_*
    (13, None, None, None, None, None, None, None),               # minProperties
]

EXPECT = {
    0: {"bounds:id"},
    3: {"enum:role"},
    4: {"pattern:text"},
    5: {"bounds:score"},
    6: {"array_size:tags"},
    7: {"array_forall:tags"},
    8: {"array_unique:tags"},
    9: {"array_positional:pair"},
    10: {"array_positional:pair"},
    11: {"dependent_schema:tool(required:role)"},
    12: {"bounds:m_a"},
    13: {"non_null_count:id,role,text,score,tags,pair,tool"},
}


def test_end_to_end_one_violation_per_kind(spark):
    from hjsonschema_spark.checks import run_suite

    suite = suite_from_schema(SCHEMA, name="t", key_columns=("id",), unique_key=True)
    df = spark.createDataFrame(ROWS, DDL)
    res = run_suite(df, suite, persist=True)
    viol = res.violations.collect()
    got: dict[int, set] = {}
    for r in viol:
        got.setdefault(r["id"], set()).add(r["check"])
    # schema-scope checks all pass on this table (declared columns,
    # matching json types), so no schema verdict is False
    bad_schema = (
        res.verdicts.filter("scope = 'schema' AND NOT passed").collect()
    )
    res.unpersist()
    assert got == EXPECT
    assert bad_schema == []


def test_type_family_verdicts(spark):
    from hjsonschema_spark.checks import run_suite

    suite = suite_from_schema(
        {
            "type": "object",
            "properties": {
                "a": {"type": "integer"},
                "b": {"type": "string"},  # actually long => must FAIL
            },
        },
        name="ty", key_columns=("a",),
    )
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    res = run_suite(df, suite)
    verd = {r["check"]: r["passed"] for r in res.verdicts.filter("scope='schema'").collect()}
    assert verd["type_is:a"] is True
    assert verd["type_is:b"] is False


def test_undeclared_column_fails_columns_allowed(spark):
    from hjsonschema_spark.checks import run_suite

    suite = suite_from_schema(
        {"type": "object", "properties": {"a": {"type": "integer"}},
         "additionalProperties": False},
        name="extra", key_columns=("a",),
    )
    df = spark.createDataFrame([(1, "x")], "a long, surprise string")
    res = run_suite(df, suite)
    row = res.verdicts.filter("check LIKE 'columns_allowed%'").collect()[0]
    assert row["passed"] is False and res.passed() is False


def test_ref_loop_and_unresolvable():
    with pytest.raises(ConfigInvalid, match="ref loop"):
        suite_from_schema(
            {"type": "object",
             "definitions": {"a": {"$ref": "#/definitions/b"},
                             "b": {"$ref": "#/definitions/a"}},
             "properties": {"x": {"$ref": "#/definitions/a"}}},
            name="loop", key_columns=("x",),
        )
    with pytest.raises(ConfigInvalid, match="unresolvable"):
        suite_from_schema(
            {"type": "object", "properties": {"x": {"$ref": "#/definitions/nope"}}},
            name="miss", key_columns=("x",),
        )


def test_non_liftable_shapes_raise():
    with pytest.raises(ConfigInvalid, match="string or a"):
        suite_from_schema(
            {"type": "object", "properties": {"x": {"type": 42}}},
            name="tl", key_columns=("x",),
        )
    with pytest.raises(ConfigInvalid, match="dependencies under nested"):
        suite_from_schema(
            {"type": "object",
             "properties": {"x": {"properties": {"y": {"type": "string"}},
                                  "dependencies": {"y": ["z"]}}}},
            name="no", key_columns=("x",),
        )
    # additionalProperties as a schema now LIFTS (RemainderColumns);
    # a purely-annotational subschema lifts nothing, like ap=true
    s = suite_from_schema(
        {"type": "object", "properties": {"x": {"type": "string"}},
         "additionalProperties": {"title": "vacuous"}},
        name="ap", key_columns=("x",),
    )
    assert not any(type(c).__name__ == "RemainderColumns" for c in s.checks)
    with pytest.raises(ConfigInvalid, match="top-level"):
        suite_from_schema({"type": "array"}, name="arr", key_columns=("x",))


def test_ref_siblings_ignored():
    """Draft-4: $ref siblings are disabled (Spec.hs:129-133) — a
    sibling maximum next to $ref must NOT produce a Bounds check."""
    suite = suite_from_schema(
        {"type": "object",
         "definitions": {"pos": {"minimum": 1}},
         "properties": {"x": {"$ref": "#/definitions/pos", "maximum": 5}}},
        name="sib", key_columns=("x",),
    )
    from hjsonschema_spark.checks.ir import Bounds

    bounds = [c for c in suite.checks if isinstance(c, Bounds)]
    assert len(bounds) == 1 and bounds[0].min == 1 and bounds[0].max is None


def test_combinators_lift(spark):
    from hjsonschema_spark.checks import run_suite

    suite = suite_from_schema(
        {"type": "object",
         "properties": {
             "x": {"oneOf": [{"minimum": 10}, {"maximum": 0}]},
             "y": {"not": {"enum": ["bad"]}},
             "z": {"anyOf": [{"minimum": 5}, {"enum": [1]}]},
         }},
        name="comb", key_columns=("x",),
    )
    df = spark.createDataFrame(
        [(20, "ok", 1), (-5, "bad", 7), (5, "ok", 2)],
        "x long, y string, z long",
    )
    res = run_suite(df, suite)
    got = {(r["x"], r["check"]) for r in res.violations.collect()}
    # x=5 passes NEITHER oneOf branch; x=20/-5 pass exactly one
    # z=2 passes neither anyOf branch; y='bad' violates not
    assert got == {
        (5, "one_of(bounds:x,bounds:x)"),
        (-5, "not(enum:y)"),
        (5, "any_of(bounds:z,enum:z)"),
    }


def test_pointer_escapes_and_array_indexing():
    """JSON Pointer ~0/~1 unescaping and numeric indexing into schema
    arrays (Pointers.hs semantics) work in $ref resolution."""
    from hjsonschema_spark.checks.ir import Bounds

    suite = suite_from_schema(
        {"type": "object",
         "definitions": {
             "a/b": {"minimum": 1},
             "t~d": {"maximum": 9},
             "branches": {"allOf": [{"minimum": 5}]},
         },
         "properties": {
             "p": {"$ref": "#/definitions/a~1b"},
             "q": {"$ref": "#/definitions/t~0d"},
             "r": {"$ref": "#/definitions/branches/allOf/0"},
         }},
        name="ptr", key_columns=("p",),
    )
    by_col = {c.column: c for c in suite.checks if isinstance(c, Bounds)}
    assert by_col["p"].min == 1 and by_col["q"].max == 9 and by_col["r"].min == 5


def test_sql_quote_escaping(spark):
    """Enum values and patterns with single quotes keep their meaning in
    the element predicate: run on Spark, not compared as SQL text."""
    from hjsonschema_spark.checks import run_suite

    suite = suite_from_schema(
        {"type": "object",
         "properties": {
             "k": {"type": "integer"},
             "a": {"items": {"enum": ["o'brien", "plain"], "pattern": "^[a-z']+$"}},
         }},
        name="quotes", key_columns=("k",),
    )
    rows = [(1, ["o'brien", "plain"]), (2, ["o''brien"]), (3, ["obrien"]), (4, ["O'brien"])]
    df = spark.createDataFrame(rows, "k long, a array<string>")
    failed = {r["k"] for r in run_suite(df, suite).violations.collect()}
    assert failed == {2, 3, 4}


def test_items_unsupported_keyword_raises():
    with pytest.raises(ConfigInvalid, match="not liftable to an element predicate"):
        suite_from_schema(
            {"type": "object",
             "properties": {"a": {"items": {"uniqueItems": True}}}},
            name="bad", key_columns=("a",),
        )
