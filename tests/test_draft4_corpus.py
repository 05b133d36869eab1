"""Pass/fail parity against the vendored JSON-Schema-Test-Suite draft4
corpus — the correctness gate from BASELINE.md.

The corpus is read (read-only) from the reference checkout when
present; these are public test fixtures (json-schema-org/
JSON-Schema-Test-Suite), not reference source code. Skip rules mirror
the reference's (test/Shared.hs:16-24): HTTP-dependent files are run
here too, but against a filesystem registry standing in for the
reference's localhost:1234 static server (test/Remote.hs:53-57).
"""

from __future__ import annotations

import pathlib

import pytest

from hjsonschema_spark.draft4 import Draft4Validator, loads_json
from hjsonschema_spark.draft4.metaschema import META_SCHEMA

SUITE = pathlib.Path("/root/reference/JSON-Schema-Test-Suite/tests/draft4")
REMOTES = pathlib.Path("/root/reference/JSON-Schema-Test-Suite/remotes")

SKIP_FILES = {
    "optional/format.json",
    "optional/zeroTerminatedFloats.json",
    "optional/ecmascript-regex.json",
}
REMOTE_BASE = "http://localhost:1234/"
META_URI = "http://json-schema.org/draft-04/schema"


def _registry() -> dict:
    reg = {META_URI: META_SCHEMA, META_URI + "#": META_SCHEMA}
    if REMOTES.is_dir():
        for p in REMOTES.rglob("*.json"):
            uri = REMOTE_BASE + str(p.relative_to(REMOTES))
            reg[uri] = loads_json(p.read_text())
    return reg


def _cases():
    if not SUITE.is_dir():
        return
    for path in sorted(SUITE.rglob("*.json")):
        rel = str(path.relative_to(SUITE))
        if rel in SKIP_FILES:
            continue
        groups = loads_json(path.read_text())
        for gi, group in enumerate(groups):
            for ti, test in enumerate(group["tests"]):
                yield pytest.param(
                    group["schema"],
                    test["data"],
                    test["valid"],
                    id=f"{rel}:{gi}:{ti}:{group['description'][:40]}|{test['description'][:40]}",
                )


ALL_CASES = list(_cases())


@pytest.mark.skipif(not ALL_CASES, reason="reference test suite not available")
@pytest.mark.parametrize("schema,data,valid", ALL_CASES)
def test_corpus_case(schema, data, valid):
    v = Draft4Validator(schema, registry=_registry())
    assert v.is_valid(data) == valid


def test_corpus_size():
    if not SUITE.is_dir():
        pytest.fail(f"draft-4 test corpus not found: {SUITE} is not a directory", pytrace=False)
    # BASELINE.md: 96 groups / 322 cases across 32 files before skips
    assert len(ALL_CASES) >= 250


def test_ref_loop_detected():
    # golden analogue of test/Local/Failure.hs:80-105 ("$ref": "#")
    v = Draft4Validator({"$ref": "#"})
    fails = v.validate({"any": "value"})
    assert fails and fails[0].keyword == "$ref" and "loop" in fails[0].message


def test_schema_self_validation():
    from hjsonschema_spark.draft4 import SchemaInvalid

    with pytest.raises(SchemaInvalid):
        Draft4Validator({"type": 12}, check_schema=True)
    Draft4Validator({"type": "string"}, check_schema=True)


def test_mathematical_uniqueness():
    from decimal import Decimal

    v = Draft4Validator({"uniqueItems": True})
    assert not v.is_valid([1, Decimal("1.0"), Decimal("1.00")])
    assert v.is_valid([1, True])  # 1 and true are distinct
