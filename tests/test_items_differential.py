"""Differential test of draft-4 ``items`` lifted into the Check IR:
``suite_from_schema`` + ``run_suite`` must reject exactly the (row,
column) cells that ``Draft4Validator`` rejects.

Each column of one seeded table holds its own ``items`` subschema, in
the object form (every element) or the positional form (with
``additionalItems``), over ``array<string>`` and ``array<double>``.
Subschemas draw every element keyword the lift supports: string
keywords on string elements, numeric ones on doubles, ``enum`` on both.
Patterns hold ``\\``, ``'`` and ``{``; enums hold quotes and
duplicates; elements and whole arrays may be NULL (a NULL array is an
absent property, a NULL element the JSON value null). The suite runs
under both ``spark.sql.parser.escapedStringLiterals`` settings.
"""

from __future__ import annotations

import random

import pytest

from hjsonschema_spark.checks import run_suite
from hjsonschema_spark.checks.from_schema import suite_from_schema
from hjsonschema_spark.draft4 import Draft4Validator

SEED = 1414
N_ROWS = 150

STRINGS = [
    "123", "ddd", "d", "o'brien", "O'Brien", "a{b", "{x}", "a\\b", "\\", "aa",
    "aaa", "", "x", "y", "plain", "'", "12", "a b", "w_1",
]
DOUBLES = [-2.5, -1.0, 0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 10.0, 12.5]

# Java and Python read these alike on ASCII text
PATTERNS = [r"^\d+$", r"^[a-z']+$", "o'b", r"^a{2,}", r"\{", r"\\", r"^\w+$", "^'?$", r"a\{b"]
STRING_ENUMS = [["o'brien", "plain"], ["x", "x"], ["a{b", "a\\b", "'"], ["123", "d"], ["y"]]
NUMBER_ENUMS = [[1, 2.5], [0, 0], [1, 1.0], [0.5, 3, 10], [-2.5]]

# the cases the hand-written element SQL decided wrongly
FIXED = {
    "s_digits": ("string", {"items": {"pattern": r"^\d+$"}}),
    "d_nonneg": ("double", {"items": {"minimum": 0}}),
    "s_dup_enum": ("string", {"items": {"enum": ["x", "x"]}}),
}


def _string_sub(rng: random.Random) -> dict:
    sub: dict = {}
    if rng.random() < 0.4:
        sub["minLength"] = rng.choice([1, 2, 3])
    if rng.random() < 0.4:
        sub["maxLength"] = rng.choice([1, 3, 5])
    if rng.random() < 0.5:
        sub["pattern"] = rng.choice(PATTERNS)
    if rng.random() < 0.4:
        sub["enum"] = rng.choice(STRING_ENUMS)
    return sub


def _number_sub(rng: random.Random) -> dict:
    sub: dict = {}
    if rng.random() < 0.5:
        sub["minimum"] = rng.choice([-1, 0, 0.5, 2])
        sub["exclusiveMinimum"] = rng.random() < 0.5
    if rng.random() < 0.5:
        sub["maximum"] = rng.choice([1, 2.5, 10])
        sub["exclusiveMaximum"] = rng.random() < 0.5
    if rng.random() < 0.4:
        sub["multipleOf"] = rng.choice([0.5, 1, 2.5])
    if rng.random() < 0.3:
        sub["enum"] = rng.choice(NUMBER_ENUMS)
    return sub


def _columns(rng: random.Random) -> dict:
    """{column: (element type, property schema)}: every pattern and enum
    at least once, the other keywords drawn around them."""
    cols = dict(FIXED)
    for i, p in enumerate(PATTERNS):
        cols[f"s_pat{i}"] = ("string", {"items": {**_string_sub(rng), "pattern": p}})
    for i, e in enumerate(STRING_ENUMS):
        cols[f"s_enum{i}"] = ("string", {"items": {**_string_sub(rng), "enum": e}})
    for i, e in enumerate(NUMBER_ENUMS):
        cols[f"d_enum{i}"] = ("double", {"items": {**_number_sub(rng), "enum": e}})
    for i in range(4):
        cols[f"d_all{i}"] = ("double", {"items": _number_sub(rng)})
    for kind, draw in (("string", _string_sub), ("double", _number_sub)):
        for i in range(3):
            prop: dict = {"items": [draw(rng) for _ in range(rng.choice([1, 2]))]}
            prop["additionalItems"] = rng.choice([True, False, draw(rng)])
            cols[f"{kind[0]}_pos{i}"] = (kind, prop)
    return cols


def _array(rng: random.Random, pool: list) -> list | None:
    if rng.random() < 0.05:
        return None
    return [None if rng.random() < 0.15 else rng.choice(pool) for _ in range(rng.randint(0, 3))]


def _table(rng: random.Random, cols: dict) -> list[tuple]:
    rows = []
    for k in range(N_ROWS):
        cells = [_array(rng, STRINGS if kind == "string" else DOUBLES) for kind, _ in cols.values()]
        rows.append((k, *cells))
    # every fixed case's deciding cells, in one row each
    for cells in ({"s_digits": ["123"]}, {"s_digits": ["ddd"]}, {"d_nonneg": [1.0, None]},
                  {"s_dup_enum": ["y"]}):
        rows.append((len(rows), *[cells.get(c, []) for c in cols]))
    return rows


def _expected(cols: dict, rows: list[tuple]) -> set:
    validators = {c: Draft4Validator(prop) for c, (_, prop) in cols.items()}
    return {
        (row[0], c)
        for row in rows
        for c, cell in zip(cols, row[1:])
        if cell is not None and not validators[c].is_valid(cell)
    }


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_items_verdicts_match_draft4_validator(spark, escaped):
    rng = random.Random(SEED)
    cols = _columns(rng)
    rows = _table(rng, cols)
    ddl = ", ".join(["k long"] + [f"{c} array<{kind}>" for c, (kind, _) in cols.items()])
    schema = {"type": "object", "properties": {c: prop for c, (_, prop) in cols.items()}}
    suite = suite_from_schema(schema, name="items", key_columns=("k",))
    df = spark.createDataFrame(rows, ddl)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
    try:
        got = {(r["k"], r["column"]) for r in run_suite(df, suite).violations.collect()}
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    assert got == _expected(cols, rows)
