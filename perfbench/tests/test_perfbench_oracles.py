"""Generators, oracles and correctness checks of the benchmark, on tiny
inputs and without Spark:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import oracle  # noqa: E402


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    d = tmp_path_factory.mktemp("tiny")
    t = gen.transcripts(str(d / "t"), 12_000, seed=7, rate=0.01, n_files=3)
    tools = gen.write_tools_vocab(str(d / "tools.parquet"))
    ref = gen.role_reference(str(d / "ref.parquet"), t.n_rows)
    return t, oracle.transcript_oracle(t.files, tools, ref)


def test_generator_is_deterministic(tmp_path):
    a = gen.transcripts(str(tmp_path / "a"), 3000, seed=5, rate=0.01, n_files=2)
    b = gen.transcripts(str(tmp_path / "b"), 3000, seed=5, rate=0.01, n_files=2)
    c = gen.transcripts(str(tmp_path / "c"), 3000, seed=6, rate=0.01, n_files=2)
    read = lambda t: [pq.read_table(f) for f in t.files]  # noqa: E731
    assert all(x.equals(y) for x, y in zip(read(a), read(b)))
    assert a.planted == b.planted
    assert not all(x.equals(y) for x, y in zip(read(a), read(c)))


def test_files_hold_whole_conversations(tiny):
    t, _ = tiny
    convs = [set(pq.read_table(f).column("conv_id").to_pylist()) for f in t.files]
    assert sum(len(c) for c in convs) == len(set().union(*convs)) == t.n_convs


def test_duckdb_oracle_finds_exactly_the_planted_keys(tiny):
    t, o = tiny
    assert all(t.planted[k] for k in gen.ROW_KINDS + gen.CONV_KINDS)
    assert o["violations"] == oracle.expected_from_planted(t.planted)
    assert o["n_rows"] == t.n_rows
    assert o["drift_passed"] is False  # planted 'robot' roles are absent from the reference


def _engine_like(o):
    """Violation rows and verdicts shaped like the engine's output, made
    from the oracle itself."""
    viols = [{"check": c, "conv_id": k, "turn_idx": i} for (c, k, i) in o["violations"].elements()]
    per_check = Counter(c for c, _, _ in o["violations"].elements())
    verdicts = [{"scope": "partition", "check": None, "n_rows": o["n_rows"], "n_violations": 0, "passed": True}]
    verdicts += [{"scope": "check", "check": c, "n_rows": None, "n_violations": n, "passed": n == 0}
                 for c, n in per_check.items()]
    verdicts.append({"scope": "table", "check": oracle.DRIFT_CHECK, "n_rows": o["n_rows"],
                     "n_violations": None, "passed": o["drift_passed"]})
    return viols, verdicts


def test_checker_accepts_the_right_answer(tiny):
    t, o = tiny
    viols, verdicts = _engine_like(o)
    got = oracle.violation_rows(viols)
    assert oracle.diff_violations(got, o["violations"]) == []
    assert oracle.missing_planted(got, t.planted) == []
    assert oracle.check_verdicts(verdicts, o) == []


def test_checker_rejects_a_dropped_violation_row(tiny):
    t, o = tiny
    viols, _ = _engine_like(o)
    dropped = next(i for i, v in enumerate(viols) if v["check"] == "monotonic:ts")
    got = oracle.violation_rows(viols[:dropped] + viols[dropped + 1:])
    assert oracle.diff_violations(got, o["violations"])
    assert oracle.missing_planted(got, t.planted)


def test_checker_rejects_an_added_violation_row(tiny):
    _, o = tiny
    viols, _ = _engine_like(o)
    extra = {"check": "enum:role", "conv_id": "c99999999", "turn_idx": 1}
    assert oracle.diff_violations(oracle.violation_rows(viols + [extra]), o["violations"])


def test_checker_rejects_wrong_verdicts(tiny):
    _, o = tiny
    _, verdicts = _engine_like(o)
    short = [dict(v, n_rows=v["n_rows"] - 1) if v["scope"] == "partition" else v for v in verdicts]
    assert oracle.check_verdicts(short, o)
    flipped = [dict(v, passed=not v["passed"]) if v["scope"] == "table" else v for v in verdicts]
    assert oracle.check_verdicts(flipped, o)


def test_chi2_pvalue_matches_known_quantiles():
    assert oracle._gammaq(0.5, 3.841459 / 2) == pytest.approx(0.05, abs=1e-6)
    assert oracle._gammaq(2.0, 18.46683 / 2) == pytest.approx(0.001, abs=1e-7)
    assert oracle.chi2_pvalue({"a": 10, "b": 10}, {"a": 1, "b": 1}) == pytest.approx(1.0)
    assert oracle.chi2_pvalue({"a": 10, "z": 1}, {"a": 1}) == 0.0


def test_documents_have_no_integer_valued_floats():
    docs, planted = gen.json_documents(3000, seed=3)

    def floats(x):
        if isinstance(x, float):
            yield x
        elif isinstance(x, dict):
            for v in x.values():
                yield from floats(v)
        elif isinstance(x, list):
            for v in x:
                yield from floats(v)

    parsed = []
    for d in docs:
        try:
            parsed.append(json.loads(d))
        except ValueError:
            pass
    assert len(parsed) == len(docs) - planted["malformed"]
    assert all(f != int(f) for d in parsed for f in floats(d))
    assert 30 <= sum(planted.values()) <= 100  # about 2% of 3000


def test_document_oracle_and_checker(tmp_path):
    docs, planted = gen.json_documents(3000, seed=3)
    for schema in (gen.SCHEMA_COLUMNAR, gen.SCHEMA_EXACT):
        want = oracle.document_validity(docs, schema)
        assert 0 < want.count(False) <= sum(planted.values())
        got = dict(enumerate(want))
        assert oracle.diff_validity(got, want) == []
        flipped = dict(got)
        flipped[want.index(False)] = True
        assert oracle.diff_validity(flipped, want)
    # every defect kind fails the schema that constrains it
    invalid_exact = oracle.document_validity(docs, gen.SCHEMA_EXACT).count(False)
    assert invalid_exact >= sum(planted[k] for k in ("missing_call_id", "unknown_tool", "bad_call_id",
                                                     "limit_too_big", "empty_query", "too_many_tags",
                                                     "malformed"))


def test_near_dup_families_and_checker():
    texts, families = gen.near_dup_corpus(400, seed=2, n_families=10, family_size=4)
    for fam in families:
        for a in fam:
            for b in fam:
                if a < b:
                    assert oracle.jaccard(texts[a], texts[b]) >= 0.8
    clusters = {d: fam[0] for fam in families for d in fam}
    pairs = [(fam[0], fam[1]) for fam in families]
    assert oracle.check_near_dups(texts, pairs, clusters, families, 0.7, 0.25) == []
    loner = next(i for i in range(len(texts)) if i not in clusters)
    assert oracle.check_near_dups(texts, pairs + [(families[0][0], loner)], clusters, families, 0.7, 0.25)
    split = dict(clusters)
    split[families[0][1]] = -1
    assert oracle.check_near_dups(texts, pairs, split, families, 0.7, 0.25)
    merged = dict(clusters)
    merged.update({d: families[0][0] for d in families[1]})
    assert oracle.check_near_dups(texts, pairs, merged, families, 0.7, 0.25)
